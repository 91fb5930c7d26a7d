package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import operators.StreamingQueries
import operators.StreamingQueries.{SessEvent, TwsSessionProcessorWithInit}

/** State bootstrap for transformWithState — the migration path a
  * production pipeline takes when cutting sessionization over to
  * streaming with years of history behind it: batch-fold the history
  * into (final sessions, per-key open-session buffers), seed the
  * streaming job's state with the buffers via
  * StatefulProcessorWithInitialState, and stream only the tail.
  *
  * The invariant proved here: bootstrap(history) + stream(tail) must be
  * row-identical to stream(history ++ tail) — i.e. the cutover is
  * invisible in the output. The cut lands mid-stream at the event-time
  * median, so open sessions genuinely straddle it (asserted, or the test
  * would prove nothing): sessions that start in the batch half and end
  * in the streamed half only come out right if handleInitialState seeds
  * state AND registers the finality timer exactly as a live batch
  * would have. */
class TwsBootstrapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private val gapUs = 30L * 60 * 1000000
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("tws-bootstrap-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config(SQLConf.STATE_STORE_PROVIDER_CLASS.key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("backfill plan is declarative: one Window, no typed MapGroups") {
    val s = spark
    import s.implicits._
    val events = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("value")).as[SessEvent]
    val qe = StreamingQueries.backfillSessions(events, gapUs).queryExecution
    // the two windows (lag, then the running sum over lag's output) share
    // one partition+order, so the physical plan must carry exactly ONE
    // shuffle exchange and ONE sort — the second window rides the first's
    // ordering, and the session aggregate's (user_id, sid) clustering is
    // satisfied by hashpartitioning(user_id), so no re-shuffle. A typed
    // MapGroups/AppendColumns node would mean the fold regressed to
    // materializing a key's events in memory — the hot-key OOM this
    // backfill shape exists to avoid. Typed node collects, not substring
    // counts (ADVICE r9): "Exchange" also matched BroadcastExchange /
    // ShuffleQueryStage node names, so an AQE replan or a version string
    // change could flip the guard without a real regression.
    def flat(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flat(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        flat(q.plan)
      case other => other.children.flatMap(flat)
    })
    val nodes = flat(qe.executedPlan)
    def names = nodes.map(_.nodeName).mkString(", ")
    assert(nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) == 1,
      s"expected exactly one shuffle in the backfill: $names")
    assert(nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) == 1,
      s"expected exactly one sort in the backfill: $names")
    assert(!nodes.exists(n => n.isInstanceOf[org.apache.spark.sql.execution.MapGroupsExec]
        || n.isInstanceOf[org.apache.spark.sql.execution.AppendColumnsExec]),
      s"typed per-key materialization crept into the backfill: $names")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      s"missing partial/final session aggregate: $names")
  }

  test("batch-seeded state + streamed tail == one full streaming run") {
    val s = spark
    import s.implicits._
    val events = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("value")).as[SessEvent]

    // cut at the event-time median so sessions straddle the boundary
    val cutUs = events.select(unix_micros(col("ts")).as("us"))
      .stat.approxQuantile("us", Array(0.5), 0.0).head.toLong
    val history = events.filter(unix_micros(col("ts")) < cutUs)
    val tail = events.filter(unix_micros(col("ts")) >= cutUs)

    // the cutover watermark the history fold runs at: what the stream's
    // watermark would have been right before the first tail batch
    // (max history ts - 10 min delay, floored to ms like the engine does)
    val wmMs = history.select(max(unix_micros(col("ts")))).as[Long].head() / 1000L -
      10L * 60 * 1000
    val (finHist, seed) = StreamingQueries.bootstrapSessions(history, gapUs, wmMs)
    assert(seed.count() > 0, "no open sessions straddle the cut — test is vacuous")

    // stream ONLY the tail, with the batch-computed buffers as initial
    // state, through the same sentinel close-out harness st09 uses
    val tailDir = Files.createTempDirectory("graft-tws-boot")
    try {
      val raw = Tables.load(spark, sf, "events")
        .filter(unix_micros(col("ts")) >= cutUs)
      StreamingQueries.stageAsFile(raw, tailDir.resolve("events.parquet"),
        System.currentTimeMillis())
      val streamed = StreamingQueries.drainWithSentinels(spark, tailDir.toString) { src =>
        src.select(col("user_id"), col("ts"), col("value")).as[SessEvent]
          .withWatermark("ts", "10 minutes")
          .groupByKey(_.user_id)
          .transformWithState(new TwsSessionProcessorWithInit(gapUs),
            TimeMode.EventTime(), OutputMode.Append(),
            seed.groupByKey(_._1).mapValues(_._2))
          .toDF()
      }.filter(col("user_id") >= 0)

      // reference: one uncut streaming run (st09 on the full fixture)
      val full = SparkEntry.queries("st09_stream_tws_sessions")(spark, sf)

      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("user_id"), unix_micros(col("session_start")),
          unix_micros(col("session_end")), col("n_events"), col("session_value"))
        .collect().map(_.toSeq).toVector
        .sortBy(_.map(_.toString).mkString("|"))

      val boot = canon(finHist.toDF().unionByName(streamed))
      val ref = canon(full)
      assert(boot.size == ref.size,
        s"row count: bootstrapped ${boot.size} vs full ${ref.size}")
      assert(boot == ref, "bootstrapped output diverges from the uncut run")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tailDir.toFile)
    }
  }
}
