package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Early-warning net for fixture regeneration drift (the r8 incident
  * class): the driver regenerates /root/testdata between rounds, and a
  * physical-type flip surfaces as deep operator errors
  * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE three calls under a watermark)
  * unless something names the drifted column directly. This spec pins the
  * SPARK-SIDE schema of every fixture AFTER Tables.load normalization —
  * the contract the operator layer is written against. If a regen flips a
  * type this fails with the table and column in the message, which is the
  * diagnostic the streaming break should have produced in r8.
  *
  * events.ts is asserted as TimestampType REGARDLESS of physical encoding
  * — that is Tables.normalizeEventsTs's postcondition (the three
  * encodings themselves are covered by EventsTsEncodingSpec). */
class FixtureSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("fixture-schema-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** (column, expected type) pairs the operator layer depends on — the
    * CURRENT fixture generation's contract, pinned so the next regen's
    * drift fails here by name. Dimension keys are INT while fact keys are
    * BIGINT (joins rely on Spark's implicit up-cast), and the date
    * columns are physically timestamps read as TIMESTAMP_NTZ. */
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType,
      "n_regionkey" -> IntegerType, "n_name" -> StringType),
    "customer" -> Seq("c_custkey" -> LongType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
      "o_orderstatus" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  for ((table, cols) <- expected.toSeq.sortBy(_._1)) {
    test(s"$table fixture schema matches the operator layer's contract") {
      val schema = Tables.load(spark, sf, table).schema
      for ((name, tpe) <- cols) {
        assert(schema.fieldNames.contains(name),
          s"$table.$name missing — fixture regen dropped/renamed it; " +
            s"present: ${schema.fieldNames.mkString(", ")}")
        val actual = schema(name).dataType
        // containsNull/nullable flags may differ by writer; catalogString
        // erases them and compares just the type shape
        assert(actual.catalogString == tpe.catalogString,
          s"$table.$name drifted: expected $tpe, fixture now reads as " +
            s"$actual — audit every operator reading this column " +
            "(the r8 ts lesson: normalize in Tables, never per-site)")
      }
    }
  }
}
