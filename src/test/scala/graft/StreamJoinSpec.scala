package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps.Event

/** Stream-static and stream-stream joins (SURVEY.md §2.2 streaming rows). */
class StreamJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]").appName("stream-join-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  private def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    Event(id, ts(minute), user, typ, v, "{}")

  test("stream-static join enriches events with a dimension table") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val src = MemoryStream[Event]
    val q = src.toDF().join(dim, Seq("user_id"), "left_outer")
      .select(col("event_id"), col("user_id"), coalesce(col("tier"), lit("none")).as("tier"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(ev(1, 1, 1, "click", 1.0), ev(2, 2, 2, "view", 2.0),
        ev(3, 3, 9, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(rows == Set((1L, "gold"), (2L, "silver"), (3L, "none")))
    } finally q.stop()
  }

  test("stream-stream interval join matches events within the time bound") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val c = clicks.toDF().select(col("user_id").as("c_user"),
      col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "10 minutes")
    val v = views.toDF().select(col("user_id").as("v_user"),
      col("ts").as("v_ts"), col("event_id").as("v_id"))
      .withWatermark("v_ts", "10 minutes")
    val joined = c.join(v,
      col("c_user") === col("v_user") &&
        col("v_ts").between(col("c_ts"), col("c_ts") + expr("INTERVAL 5 MINUTES")))
    val q = joined.select(col("c_id"), col("v_id"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(ev(1, 1, 7, "click", 1.0))
      views.addData(
        ev(10, 3, 7, "view", 1.0),  // within 5m of click → match
        ev(11, 9, 7, "view", 1.0),  // outside the interval → no match
        ev(12, 3, 8, "view", 1.0))  // other user → no match
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 10L)))
    } finally q.stop()
  }
}
