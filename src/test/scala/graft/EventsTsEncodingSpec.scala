package graft

import java.nio.file.Files
import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Regression for the r8 fixture-regen break (VERDICT r8 item 1): the
  * events fixture's `ts` column has shipped under three different physical
  * encodings across test-data generations — TIMESTAMP(NANOS) (read as a
  * nanos long under `spark.sql.legacy.parquet.nanosAsLong=true`),
  * timestamp[us] without tz (read as TIMESTAMP_NTZ), and plain TIMESTAMP.
  * Every read site must route through `Tables.normalizeEventsTs`, and that
  * normalizer must map all three encodings of the same instant to the SAME
  * TimestampType value — for the batch loader AND for a watermarked
  * streaming read (the path that crashed with
  * EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE when streamEvents kept its own
  * single-arm copy of the conversion). The third test drives the sentinel
  * close-out harness (st06's outer join) under each encoding — the
  * sentinel writer must stage its watermark-advancing rows in the
  * fixture's own physical type (ADVICE r8 medium: the non-nanos branch
  * built java.sql.Timestamp values for an NTZ field, which createDataFrame
  * rejects). */
class EventsTsEncodingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("events-ts-encoding-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // micro-precision tails to catch truncation; the purchase sits 30min
  // after user 7's click (inside st06's 1h attribution window), user 8's
  // click at i2 has no purchase (the outer join's unmatched row)
  private val i1 = Instant.parse("2024-03-01T10:15:30.123456Z")
  private val iP = Instant.parse("2024-03-01T10:45:30.123456Z")
  private val i2 = Instant.parse("2024-03-01T11:15:30.654321Z")
  private def us(i: Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  /** Write a 3-row events-shaped fixture with `ts` under the given
    * encoding; returns the fixture dir (file named events.parquet so the
    * streaming glob matches). Full events schema including props so the
    * sentinel writer's field walk is exercised. */
  private def writeFixture(enc: String): String = {
    val dir = Files.createTempDirectory(s"graft-tsenc-$enc")
    def tsVal(i: Instant): Any = enc match {
      case "nanos-long" => us(i) * 1000L
      case "ntz" => LocalDateTime.ofInstant(i, ZoneOffset.UTC)
      case "ltz" => java.sql.Timestamp.from(i)
    }
    val tsType: DataType = enc match {
      case "nanos-long" => LongType
      case "ntz" => TimestampNTZType
      case "ltz" => TimestampType
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = java.util.Arrays.asList(
      Row(1L, tsVal(i1), 7L, "click", 1.5, "{}"),
      Row(2L, tsVal(iP), 7L, "purchase", 2.5, "{}"),
      Row(3L, tsVal(i2), 8L, "click", 0.5, "{}"))
    val df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("overwrite").parquet(dir.resolve("out").toString)
    val listing = Files.list(dir.resolve("out"))
    val part = try listing.filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    finally listing.close()
    Files.move(part, dir.resolve("events.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir.resolve("out").toFile)
    dir.toString
  }

  private val encodings = Seq("nanos-long", "ntz", "ltz")

  test("batch load normalizes all three ts encodings to the same instants") {
    for (enc <- encodings) {
      val dir = writeFixture(enc)
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType,
        s"$enc: expected TIMESTAMP after normalize, got ${df.schema("ts").dataType}")
      val got = df.orderBy("event_id")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(got == Seq(us(i1), us(iP), us(i2)), s"$enc: micros mismatch: $got")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("watermarked streaming read drains under all three ts encodings") {
    for (enc <- encodings) {
      val dir = writeFixture(enc)
      val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
      val src = Tables.normalizeEventsTs(spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val agg = src.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val name = "tsenc_" + enc.replace("-", "_")
      val ckpt = Files.createTempDirectory(s"graft-tsenc-ckpt-$enc")
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table(name)
        .select(unix_micros(col("window.start")), col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val hourUs = 3600L * 1000000L
      assert(rows == Set(
        (us(i1) / hourUs * hourUs, "click", 1L),
        (us(iP) / hourUs * hourUs, "purchase", 1L),
        (us(i2) / hourUs * hourUs, "click", 1L)),
        s"$enc: drained windows mismatch: $rows")
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("sentinel close-out harness stages its rows under all three encodings") {
    // st06Drained = fixture + two far-future sentinel files (written in the
    // fixture's OWN physical ts type) → stream-stream left-outer interval
    // join → append drain. Expected under every encoding: user 7's click
    // matched to the purchase 30min later, user 8's click emitted
    // unmatched only because the sentinels advanced the watermark.
    for (enc <- encodings) {
      val dir = writeFixture(enc)
      val got = operators.StreamingQueries.st06Drained(spark, dir)
        .select(col("a_id"), col("b_id"),
          unix_micros(col("a_ts")).as("aus"), unix_micros(col("b_ts")).as("bus"))
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -999L else r.getLong(1),
          r.getLong(2),
          if (r.isNullAt(3)) -999L else r.getLong(3))).toSet
      assert(got == Set(
        (1L, 2L, us(i1), us(iP)),
        (3L, -999L, us(i2), -999L)),
        s"$enc: outer-join close-out mismatch: $got")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
