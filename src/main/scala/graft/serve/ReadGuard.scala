package graft.serve

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The reads in flight against one store, and the merge inputs they may
  * still open.
  *
  * A read scans through a cached relation whose file list was taken
  * when it was built, so a merge that deleted its inputs at once would
  * fail every read still holding a list with them in it. Instead a merge
  * RETIRES its inputs ([[retire]]): they stay on disk, hidden from every
  * listing taken after the merge ([[retired]],
  * [[graft.engine.Admin.readExcluding]]), and are deleted once no read
  * that could have listed them is in flight. Generations tell which
  * those are: [[Server]] calls [[advance]] each time it drops its cached
  * relation, so a read that began in generation g holds a relation
  * listed in generation g or earlier; an input retired in generation r
  * can be deleted once every read in flight began after r and r has
  * ended. The last such read deletes it before its answer is sent, so
  * once every client is answered the directory holds no retired file.
  *
  * A read that lost a file some other way (`clean_tombstones`, a
  * retention sweep) is re-planned against a fresh listing ([[apply]]).
  *
  * `replan` drops the cached relation (and so calls [[advance]]). All
  * state is under this object's monitor, taken innermost: never while
  * waiting for another lock.
  */
private[graft] final class ReadGuard(fs: FileSystem, replan: () => Unit)
    extends ApiEdge.Reads {

  /** Bumped by [[advance]]. */
  private var generation = 0L

  /** Reads in flight, by the generation they began in. */
  private val inFlight = scala.collection.mutable.TreeMap[Long, Int]()

  /** Retired inputs still on disk, with the generation of their merge. */
  private val retiredAt = scala.collection.mutable.LinkedHashMap[HPath, Long]()

  /** Reads re-planned because a file their plan listed had vanished
    * (`graft_read_retries_total`). */
  val retries = new java.util.concurrent.atomic.AtomicLong(0)

  /** Attempts [[apply]] makes: a read can lose a file to each of the
    * admin rewrites or sweeps that land while it runs. */
  private val Attempts = 4

  /** Evaluate `read` as one read of the store; re-plan it against a fresh
    * listing when a file its cached relation listed was deleted under it
    * ([[graft.engine.Admin.vanishedFile]]). Missing files are never
    * ignored (`spark.sql.files.ignoreMissingFiles` would drop their rows
    * silently); after [[Attempts]] the failure stands.
    */
  def apply[A](read: => A): A = {
    var attempt = 1
    var out: Option[A] = None
    while (out.isEmpty)
      try out = Some(lease(read))
      catch { case e: Exception if attempt < Attempts &&
                graft.engine.Admin.vanishedFile(e) =>
        attempt += 1
        retries.incrementAndGet()
        replan()
      }
    out.get
  }

  private def lease[A](read: => A): A = {
    val g = synchronized {
      inFlight(generation) = inFlight.getOrElse(generation, 0) + 1
      generation
    }
    try read
    finally synchronized {
      inFlight(g) -= 1
      if (inFlight(g) == 0) inFlight -= g
      sweep()
    }
  }

  /** Queue a merge's inputs for deletion; the caller has just renamed the
    * merged file into place, under the lock the cached relation is
    * listed under. */
  def retire(inputs: Seq[HPath]): Unit = synchronized {
    inputs.foreach(retiredAt(_) = generation)
  }

  /** Whether `p` is a retired input still on disk. */
  def retired(p: HPath): Boolean = synchronized(retiredAt.contains(p))

  /** The retired inputs still on disk, which a new listing must skip. */
  def retiredFiles: Seq[HPath] = synchronized(retiredAt.keys.toVector)

  /** The cached relation was dropped: reads that begin from now on list
    * afresh. */
  def advance(): Unit = synchronized { generation += 1; sweep() }

  /** Wait until every retired input is deleted, for a rewrite that reads
    * the store's directories directly. The reads holding them need no
    * lock the caller may hold, so this ends when they do. */
  def awaitDrained(): Unit = synchronized {
    while (retiredAt.nonEmpty) wait()
  }

  /** Delete the retired inputs no read in flight can open. A failed
    * delete is logged and dropped: its rows are then duplicated in the
    * store, which only the log shows. */
  private def sweep(): Unit = {
    val oldest = inFlight.headOption.map(_._1).getOrElse(generation)
    val free = retiredAt.collect { case (p, r) if r < oldest => p }.toVector
    free.foreach { p =>
      try graft.engine.Admin.deleteInput(fs, p)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] $e") }
      retiredAt -= p
    }
    if (free.nonEmpty && retiredAt.isEmpty) notifyAll()
  }
}
