package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage (SURVEY.md §2.2 scans/sinks): parquet → csv/json
  * round trips preserve content; writes partition correctly. */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]").appName("sources-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString()).sorted.toSeq

  test("csv sink + source round trip") {
    val dir = Files.createTempDirectory("graft-csv").toString
    val src = Tables.load(spark, sf, "nation")
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(src.schema).csv(dir)
    assert(canon(back) == canon(src))
  }

  test("json sink + source round trip") {
    val dir = Files.createTempDirectory("graft-json").toString
    val src = Tables.load(spark, sf, "customer")
    src.write.mode("overwrite").json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assert(canon(back) == canon(src))
  }

  test("orc sink + source round trip with predicate pushdown") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val src = Tables.load(spark, sf, "supplier")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(canon(back) == canon(src))
    // ORC scans support filter pushdown like parquet
    val filtered = back.filter(col("s_suppkey") <= 5)
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("s_suppkey"),
      s"expected pushed filter in ORC scan:\n$scan")
    assert(filtered.count() ==
      src.filter(col("s_suppkey") <= 5).count())
  }

  test("partitioned parquet sink prunes on read") {
    val dir = Files.createTempDirectory("graft-part").toString
    Tables.load(spark, sf, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("yr") === 1995)
    // partition pruning: only the yr=1995 directory is scanned
    val scanned = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(one.count() ==
      Tables.load(spark, sf, "orders").filter(year(col("o_orderdate")) === 1995).count())
    assert(!scanned.contains("yr=1994"), "expected partition pruning")
  }

  test("createDataset / parallelize source") {
    val ss = spark
    import ss.implicits._
    val ds = ss.createDataset(Seq((1, "a"), (2, "b"), (3, "c")))
    assert(ds.toDF("k", "v").groupBy().agg(sum($"k")).as[Long].head() == 6L)
  }
}
