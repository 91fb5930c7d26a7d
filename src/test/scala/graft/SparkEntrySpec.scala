package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SparkEntry contract invariants, enforced by `sbt test` so a drift
  * fails CI.
  * No SparkSession needed — these are pure map-shape checks over the
  * module registry, so the suite costs milliseconds. */
class SparkEntrySpec extends AnyFunSuite {

  test("no query-key collisions between operator modules") {
    val perModule = SparkEntry.modules.map(_._2._1.keySet.size).sum
    assert(perModule == SparkEntry.queries.size,
      "a later module's map entry shadows an earlier one in the merge")
  }

  test("every oracle belongs to a query") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("every query has an oracle or a standing no-oracle note") {
    val unaccounted = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- SparkEntry.noOracleNotes.keySet
    assert(unaccounted.isEmpty,
      s"queries with neither oracle nor noOracleNotes entry: $unaccounted")
  }

  test("no-oracle notes do not shadow real oracles and name real queries") {
    val overlap = SparkEntry.noOracleNotes.keySet & SparkEntry.oracleSql.keySet
    assert(overlap.isEmpty, s"noted queries that DO have oracles: $overlap")
    val phantom = SparkEntry.noOracleNotes.keySet -- SparkEntry.queries.keySet
    assert(phantom.isEmpty, s"notes for nonexistent queries: $phantom")
  }

  test("StreamingQueries keys all follow the _stream_ convention") {
    // the Bench/BenchStream split rides this naming convention for drains
    // living outside the StreamingQueries module (pp02, dd14, ss09)
    assert(operators.StreamingQueries.queries.keySet
      .forall(_.contains("_stream_")))
  }

  test("bench short ids stay unique") {
    // Bench and BenchStream report each query under its id prefix to fit
    // the driver's stdout tail budget — a colliding prefix would silently
    // merge two queries' numbers
    val names = SparkEntry.queries.keySet
    assert(names.map(BenchRunner.short).size == names.size)
  }
}
