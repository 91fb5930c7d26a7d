package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BenchListener
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The bench lanes' one listener: a harvest after a query holds that
  * query's shuffle bytes and, for a streaming drain, its micro-batches and
  * state, and leaves every counter at zero. */
class BenchListenerSpec extends AnyFunSuite {

  test("one harvest holds a shuffle's bytes and a drain's batches, and resets them") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("bench-listener-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    val tap = new BenchListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(tap)
    try {
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count()
        .write.format("noop").mode("overwrite").save()

      val src = Files.createTempDirectory("bench-listener-src")
      (0 until 2).foreach { f =>
        Files.write(src.resolve(s"f$f.json"), (0 until 50).map(i => s"""{"k":${i % 5 + f}}""")
          .mkString("", "\n", "\n").getBytes(UTF_8))
      }
      val drain = spark.readStream.schema("k long").option("maxFilesPerTrigger", "1")
        .json(src.toString).groupBy("k").count()
        .writeStream.format("noop").outputMode("complete")
        .option("checkpointLocation", Files.createTempDirectory("bench-listener-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      drain.awaitTermination()

      val h = tap.harvest()
      assert(h.shuffleWritten > 0 && h.shuffleRead > 0, h)
      assert(h.batches >= 1 && h.stateRowsMax > 0, h)
      assert(tap.harvest() == BenchListener.Harvest(0, 0, 0, 0, 0))
    } finally {
      spark.sparkContext.removeSparkListener(tap)
      spark.stop()
    }
  }
}
