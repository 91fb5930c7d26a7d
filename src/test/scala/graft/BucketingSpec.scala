package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = pre-shuffling once at write time so repeated joins/aggs on
  * the bucket key run with NO exchange — the 100 TB co-located-join story
  * (SCALE.md §2). Asserts the exchange really disappears from the plan. */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]").appName("bucketing-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("bucketed tables join without a shuffle exchange") {
    Tables.load(spark, sf, "orders")
      .write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    Tables.load(spark, sf, "lineitem")
      .write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")

    // the JOIN itself must run exchange-free on the bucketed layout
    // (the later groupBy on a different key legitimately shuffles)
    val joinOnly = spark.table("orders_b")
      .join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"))
    val plan = joinOnly.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")

    // and it computes the same thing as the unbucketed join
    val joined = joinOnly.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val expected = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .collect().map(_.toString()).sorted.toSeq
    assert(joined.collect().map(_.toString()).sorted.toSeq == expected)
  }

  test("aggregation on the bucket key avoids the exchange too") {
    val agg = spark.table("lineitem_b")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("q"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed aggregation should not shuffle:\n$plan")
    assert(agg.count() == Tables.load(spark, sf, "lineitem")
      .select("l_orderkey").distinct().count())
  }
}
