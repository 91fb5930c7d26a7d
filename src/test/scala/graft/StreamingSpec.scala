package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Structured Streaming specs: feed micro-batches through MemoryStream,
  * drain with processAllAvailable, assert on the memory sink. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private def makeSession(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4.1's checksum checkpoint manager wedges under rapid
      // micro-batches in local testing; plain checkpoint files suffice
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def beforeAll(): Unit = spark = makeSession()

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    Event(id, ts(minute), user, typ, v, "{}")

  test("checkpoint restart resumes exactly-once (no reprocessing, no loss)") {
    // two sequential AvailableNow drains over a GROWING source directory
    // with one checkpoint: the restarted query must process only the file
    // that arrived between runs. Complete-mode counts expose both failure
    // modes — reprocessing file 1 doubles its counts, losing the offset
    // log drops file 2's.
    val ss = spark
    import ss.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-restart-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart-ckpt")
    val name = "restart_sink"
    def writeFile(n: String, events: Seq[Event]): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft-restart-stage")
      events.toDS().coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val listing = java.nio.file.Files.list(stage)
      val part = try listing
        .filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
      finally listing.close()
      java.nio.file.Files.move(part, srcDir.resolve(n))
      org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
    }
    def drainOnce(): Unit = {
      val src = ss.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(srcDir.toString)
      val q = src.groupBy($"event_type").count()
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    try {
      writeFile("batch1.parquet", Seq(
        ev(1, 5, 1, "click", 1.0), ev(2, 6, 1, "click", 1.0),
        ev(3, 7, 2, "view", 1.0)))
      drainOnce()
      val first = ss.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(first == Map("click" -> 2L, "view" -> 1L))
      writeFile("batch2.parquet", Seq(
        ev(4, 8, 1, "click", 1.0), ev(5, 9, 3, "buy", 1.0)))
      drainOnce()
      val second = ss.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      // click=3 proves batch1 was NOT reprocessed (else 5) and batch2 was
      // not dropped (else 2); state carried across the restart
      assert(second == Map("click" -> 3L, "view" -> 1L, "buy" -> 1L))
    } finally {
      ss.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
  }

  test("tumbling window counts with watermark") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.tumblingCounts(src.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Update).start()
    try {
      src.addData(
        ev(1, 5, 1, "click", 1.0), ev(2, 20, 1, "click", 2.0),
        ev(3, 70, 2, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(rows == Set(
        (ts(0), "click", 2L, 3.0),
        (ts(60), "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("session windows merge events within the gap") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.userSessions(src.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start() // session windows emit on close
    try {
      // user 1: events at 0 and 20 (one session), and at 120 (a new one)
      src.addData(
        ev(1, 0, 1, "click", 1.0), ev(2, 20, 1, "click", 1.0),
        ev(3, 120, 1, "click", 1.0))
      q.processAllAvailable()
      // push the watermark past both sessions so Append emits them
      src.addData(ev(4, 600, 99, "noise", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getLong(2), r.getLong(3))).toList.sorted
      assert(rows == List((1L, 1L), (1L, 2L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes repeated event ids") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.dedupedEvents(src.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(ev(1, 0, 1, "click", 1.0), ev(1, 1, 1, "click", 1.0),
        ev(2, 2, 1, "view", 2.0))
      q.processAllAvailable()
      src.addData(ev(1, 3, 1, "click", 1.0), ev(3, 4, 2, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState tracks running per-user stats") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.userRunningStats(src.toDS())
      .writeStream.format("memory").queryName("userstats")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(ev(1, 0, 7, "click", 1.5), ev(2, 5, 7, "click", 2.5))
      q.processAllAvailable()
      src.addData(ev(3, 10, 7, "view", 4.0), ev(4, 10, 8, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("userstats").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch 1: user 7 → (2, 4.0); batch 2: user 7 → (3, 8.0), user 8 → (1, 1.0)
      assert(rows == Set((7L, 2L, 4.0), (7L, 3L, 8.0), (8L, 1L, 1.0)))
    } finally q.stop()
  }

  test("stateful streaming shuffles ride the cloud shuffle plugin") {
    // separate session: shuffle manager is fixed at context creation
    spark.stop()
    val root = java.nio.file.Files.createTempDirectory("stream-shuffle").toUri.toString
    val ss = SparkSession.builder()
      .master("local[4]").appName("streaming-plugin-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.shuffle.manager",
        "org.apache.spark.shuffle.cloud.CloudShuffleManager")
      .config("spark.shuffle.cloud.rootDir", root)
      .config("spark.shuffle.reduceLocality.enabled", "false")
      .getOrCreate()
    ss.sparkContext.setLogLevel("WARN")
    try {
      import ss.implicits._
      implicit val sqlCtx = ss.sqlContext
      val src = MemoryStream[Event]
      val q = StreamingOps.tumblingCounts(src.toDF(), "10 minutes", "1 hour")
        .writeStream.format("memory").queryName("tumbling_plugin")
        .outputMode(OutputMode.Update).start()
      try {
        src.addData(ev(1, 5, 1, "click", 1.0), ev(2, 20, 1, "click", 2.0))
        q.processAllAvailable()
        val rows = ss.table("tumbling_plugin").collect()
        assert(rows.map(r => (r.getString(2), r.getLong(3))).toSet ==
          Set(("click", 2L)))
        // the micro-batch's stateful shuffle landed on the store
        val rootPath = java.nio.file.Paths.get(new java.net.URI(root))
        val sawShuffle = java.nio.file.Files.walk(rootPath).iterator()
        var found = false
        sawShuffle.forEachRemaining(p =>
          if (p.toString.contains("shuffle_")) found = true)
        assert(found, "expected shuffle objects under the cloud root")
      } finally q.stop()
    } finally {
      ss.stop()
      spark = makeSession() // restore the shared session for later tests
    }
  }

  test("sliding windows produce overlapping buckets") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.slidingAverages(src.toDF())
      .writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Update).start()
    try {
      src.addData(ev(1, 50, 1, "click", 10.0))
      q.processAllAvailable()
      // a 1h window sliding by 15m covers minute 50 four times
      val n = spark.table("sliding").collect().length
      assert(n == 4, s"expected 4 overlapping windows, got $n")
    } finally q.stop()
  }

  test("st08 sessionize is watermark-final and merges out-of-order cross-batch events") {
    // two regressions in one: (a) an older-but-in-gap event arriving in
    // a LATER micro-batch must extend the session backwards (min start)
    // or BRIDGE two undecided sessions — never rewind an end; (b) a
    // session may be emitted only once the watermark proves no
    // admissible event can still touch it (watermark > end + gap) — an
    // inline emission would finalize sessions a late event could merge.
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.operators.StreamingQueries.{sessionize, SessBuf, SessEvent, SessState}
    val gapUs = 30L * 60 * 1000000
    val f = sessionize(gapUs) _
    def ev(min: Long) = SessEvent(7L, ts(min.toInt), 1.0)
    def us(min: Long) = ts(min.toInt).getTime * 1000L
    def st(prev: Option[SessBuf], wmMin: Long = 0L, timedOut: Boolean = false) =
      TestGroupState.create[SessBuf](
        prev.map(Optional.of[SessBuf]).getOrElse(Optional.empty[SessBuf]()),
        GroupStateTimeout.EventTimeTimeout, 0L,
        Optional.of(Long.box(if (wmMin == 0) 0L else ts(wmMin.toInt).getTime)),
        timedOut)
    // batch 1 (wm 0): one undecided session [600, 620] — nothing emits
    val s1 = st(None)
    assert(f(7L, Iterator(ev(600), ev(620)), s1).isEmpty)
    assert(s1.get == SessBuf(Seq(SessState(us(600), us(620), 2L, 200L))))
    // batch 2: an OLDER in-gap event extends it backwards
    val s2 = st(Some(s1.get))
    assert(f(7L, Iterator(ev(595)), s2).isEmpty)
    assert(s2.get == SessBuf(Seq(SessState(us(595), us(620), 3L, 300L))))
    // batch 3: 645 is within gap of the TRUE end 620 — still one session
    val s3 = st(Some(s2.get))
    assert(f(7L, Iterator(ev(645)), s3).isEmpty)
    assert(s3.get == SessBuf(Seq(SessState(us(595), us(645), 4L, 400L))))
    // batch 4 (wm still 0): a far event opens a SECOND undecided session
    // — the first must NOT emit yet (a late event could still extend it)
    val s4 = st(Some(s3.get))
    assert(f(7L, Iterator(ev(800)), s4).isEmpty,
      "no emission before the watermark finalizes a session")
    assert(s4.get == SessBuf(Seq(
      SessState(us(595), us(645), 4L, 400L), SessState(us(800), us(800), 1L, 100L))))
    // BRIDGE: a late event between two undecided sessions merges them
    val sb = st(Some(SessBuf(Seq(
      SessState(us(600), us(605), 2L, 200L), SessState(us(640), us(640), 1L, 100L)))))
    assert(f(7L, Iterator(ev(622)), sb).isEmpty)
    assert(sb.get == SessBuf(Seq(SessState(us(600), us(640), 4L, 400L))),
      s"late event must bridge the two sessions: ${sb.get}")
    // watermark at 700 finalizes [595,645] (645+30 < 700), keeps [800]
    val s5 = st(Some(s4.get), wmMin = 700, timedOut = true)
    val fin1 = f(7L, Iterator.empty, s5).toList
    assert(fin1.map(o => (o.session_start.getTime, o.session_end.getTime,
      o.n_events, o.session_value)) ==
      List((ts(595).getTime, ts(645).getTime, 4L, 4.0)))
    assert(s5.get == SessBuf(Seq(SessState(us(800), us(800), 1L, 100L))))
    // watermark at 900 finalizes the rest and clears the state
    val s6 = st(Some(s5.get), wmMin = 900, timedOut = true)
    val fin2 = f(7L, Iterator.empty, s6).toList
    assert(fin2.map(o => (o.n_events, o.session_value)) == List((1L, 1.0)))
    assert(s6.isRemoved, "final emission must clear the state")
  }
}
