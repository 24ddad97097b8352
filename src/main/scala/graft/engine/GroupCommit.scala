package graft.engine

/** Group commit: concurrent callers share one commit.
  *
  * Each [[submit]] enqueues its member and then takes `lock`. Whichever
  * caller holds the lock drains EVERY queued member — its own and those
  * of callers still waiting for the lock — writes them, in arrival
  * order, and runs `settle` once. The members it drained are then
  * complete, so their callers find their work done when they get the
  * lock and return without committing again. A group is whatever is
  * queued when the lock frees: there is no size or age bound, and a lone
  * caller commits alone without waiting for company (the micro-batch
  * amortization of Structured Streaming, with the batch boundary set by
  * contention instead of a trigger).
  *
  * A group lands table by table, in the order of `tables`. Each
  * table's write must be atomic over its argument: it returns once every
  * member landed and throws when none did. A table's members go to ONE
  * write, except those `alone` names, which get one each. When a shared
  * write throws, each of its members is written again alone, so a member
  * whose own input makes the write fail (a timestamp out of range, say)
  * fails only itself; a store failure fails them all. A member that
  * failed a table is written to no later table.
  *
  * `settle` runs once per group, after its writes, whatever their
  * outcome (the server's retention sweep and plan-cache invalidation).
  *
  * [[submit]] returns only after its member landed in every table and
  * the group settled, so a caller that returns normally knows its member
  * is durable (at-least-once). It rethrows its member's write failure,
  * or else a `settle` failure. The next group commits independently.
  *
  * `lock` is shared with every other writer that must serialize with
  * these commits (the server's `appendLock`); writes and `settle` run
  * under it.
  */
final class GroupCommit[M](lock: AnyRef, tables: Seq[Seq[M] => Unit],
                           alone: M => Boolean = (_: M) => false,
                           settle: () => Unit = () => ()) {

  /** A queued member and its outcome. `done` and `error` are written by
    * the committing caller while it holds `lock` and read by the member's
    * own caller after it took `lock`, so the monitor orders them. */
  private final class Pending(val member: M) {
    var done = false
    var error: Throwable = null
  }

  private val queue = new java.util.concurrent.ConcurrentLinkedQueue[Pending]()

  /** Members enqueued and not yet drained into a group. */
  def queued: Int = queue.size

  def submit(member: M): Unit = {
    val p = new Pending(member)
    queue.add(p)
    lock.synchronized {
      // not done ⇒ nobody drained `p` yet (a drainer completes its whole
      // group before releasing the lock), so this group includes it
      if (!p.done) {
        val group = Iterator.continually(queue.poll())
          .takeWhile(_ != null).toVector
        tables.foreach { write =>
          val (solos, shared) = group.filter(_.error == null)
            .partition(q => alone(q.member))
          if (shared.nonEmpty) land(write, shared)
          solos.foreach(q => land(write, Seq(q)))
        }
        attempt(settle()).foreach(e => group.foreach(q =>
          if (q.error == null) q.error = e))
        group.foreach(_.done = true)
      }
    }
    if (p.error != null) throw p.error
  }

  /** Write `ps` in one `write`; if that fails for several, each alone. */
  private def land(write: Seq[M] => Unit, ps: Seq[Pending]): Unit =
    attempt(write(ps.map(_.member))) match {
      case None => ()
      case Some(e) if ps.size == 1 => ps.head.error = e
      case Some(_) => ps.foreach(q => land(write, Seq(q)))
    }

  // a fatal error too must reach its member: a member left drained but
  // not done would never be committed by anyone
  private def attempt(f: => Unit): Option[Throwable] =
    try { f; None } catch { case e: Throwable => Some(e) }
}
