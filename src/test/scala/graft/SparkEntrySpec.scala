package graft

import org.scalatest.funsuite.AnyFunSuite

/** The entry registry: `SparkEntry.queries` and `SparkEntry.oracleSql`
  * are two Maps joined only by key, so a renamed or missing entry would
  * otherwise show only in a full `graft.Verify` run.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every entry has an oracle and every oracle an entry: 358 each") {
    val entries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((entries -- oracles).isEmpty, "entries without an oracle")
    assert((oracles -- entries).isEmpty, "oracles without an entry")
    // a Map literal keeps one of two equal keys, so the count also
    // catches an entry written twice under one name
    assert(entries.size == 358 && oracles.size == 358)
  }
}
