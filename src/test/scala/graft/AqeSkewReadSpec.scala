package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join splitting THROUGH the cloud shuffle plugin: a skew-split
  * partition is a partial map range (startMapIndex/endMapIndex), so this
  * exercises CloudShuffleReader's ranged enumeration through the
  * MapOutputTracker — the path a plain full-range shuffle never touches.
  */
class AqeSkewReadSpec extends AnyFunSuite {

  private def withSession[A](extra: (String, String)*)(f: SparkSession => A): A = {
    val root = Files.createTempDirectory("cloud-shuffle-skew").toUri.toString
    val b = SparkSession.builder()
      .master("local[4]").appName("aqe-skew-read-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.manager",
        classOf[org.apache.spark.shuffle.cloud.CloudShuffleManager].getName)
      .config("spark.shuffle.cloud.rootDir", root)
      .config("spark.shuffle.reduceLocality.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // make the hot partition register as skewed at test scale
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try f(spark)
    finally {
      spark.stop()
    }
  }

  /** The skewed join, executed and checked against local ground truth;
    * returns the final AQE plan string so callers can assert the split
    * actually fired. */
  private def runSkewedJoin(ss: SparkSession): String = {
    // 300k fact rows, ~90% on one hot key; dim big enough to stay SMJ
    val fact = ss.range(300000)
      .select(when(col("id") % 10 < 9, 7L).otherwise(col("id") % 5000).as("k"),
        col("id").as("v"))
    val dim = ss.range(5000)
      .select(col("id").as("k"), (col("id") * 3).as("w"))
    val joined = fact.join(dim, "k")
      .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
    // execute joined's OWN queryExecution so AQE finalizes this plan
    val row = joined.collect().head
    val (n, s) = (row.getLong(0), row.getLong(1))

    // ground truth in local scala
    val hot = (0L until 300000L).filter(_ % 10 < 9)
    val cold = (0L until 300000L).filter(_ % 10 >= 9)
    val expS = hot.map(_ + 7 * 3).sum + cold.map(id => id + (id % 5000) * 3).sum
    assert(n == 300000L)
    assert(s == expS)
    joined.queryExecution.executedPlan.toString
  }

  test("skew-split partial map ranges read correctly through the plugin") {
    withSession() { ss =>
      // the skew split must actually have fired (otherwise this test
      // guards nothing): AQE marks the shuffle read "skewed" in the plan
      val plan = runSkewedJoin(ss)
      assert(plan.contains("skewed"), s"expected an AQE skew-split read:\n$plan")
    }
  }
}
