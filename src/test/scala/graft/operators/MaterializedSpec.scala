package graft.operators

import java.nio.file.{Files, Path}

import graft.Tables
import graft.functions.VectorOps.asDouble
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The memo registry serves a built artifact while its input is
  * unchanged, rebuilds it once the input is rewritten, runs nested builds,
  * forgets failed builds and keeps session-bound values in their session.
  * Every case works on a private copy of the fixture tables, so keys are
  * fresh and the fixtures are never written.
  */
class MaterializedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("materialized-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A temp fixture dir holding copies of `tables`. */
  private def copyOf(tables: String*): String = {
    val dir = Files.createTempDirectory("materialized-spec")
    tables.foreach { t =>
      Files.copy(Path.of(Tables.path(sf, t)), Path.of(Tables.path(dir.toString, t)))
    }
    dir.toString
  }

  test("a build that needs another artifact builds both on a fresh key") {
    import Clustering.{Iters, K}
    val d = copyOf("embeddings")
    val hot = Clustering.hotCellsFor(spark, d, K, Iters, 5L)
    val emb = Tables.load(spark, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    assert(hot == Clustering.sizeHotCells(
      Clustering.assign(emb, Clustering.codebookFor(spark, d, K, Iters)), 5L))
    assert(Clustering.hotCellsFor(spark, d, K, Iters, 5L) eq hot)
  }

  test("an unchanged input is served the artifact built before") {
    val d = copyOf("documents")
    val first = Multimodal.mediaDir(spark, d)
    assert(Multimodal.mediaDir(spark, d) == first)
    assert(spark.read.parquet(first).count() == Tables.load(spark, d, "documents").count())
  }

  test("a rewritten input gets a rebuilt artifact") {
    val d = copyOf("documents")
    val before = Multimodal.mediaDir(spark, d)
    val all = Tables.load(spark, sf, "documents")
    val kept = all.count() / 2
    all.orderBy("doc_id").limit(kept.toInt)
      .write.mode("overwrite").parquet(Tables.path(d, "documents"))
    val after = Multimodal.mediaDir(spark, d)
    assert(after != before, "a rewritten documents table must not be served the old media table")
    assert(spark.read.parquet(after).count() == kept)
    assert(Multimodal.mediaDir(spark, d) == after)
  }

  test("a failed build leaves nothing behind") {
    val input = Tables.path(copyOf("documents"), "documents")
    intercept[IllegalStateException] {
      Materialized.value(spark, "spec-failing", input)(throw new IllegalStateException("build failed"))
    }
    assert(Materialized.value(spark, "spec-failing", input)("built") == "built")
  }

  test("a session-bound value is not shared with another session") {
    val input = Tables.path(copyOf("documents"), "documents")
    def bound(s: SparkSession): AnyRef = Materialized.sessionValue(s, "spec-session", input)(new Object)
    val mine = bound(spark)
    assert(bound(spark) eq mine)
    val other = spark.newSession()
    assert(!(bound(other) eq mine))
    assert(bound(other) eq bound(other))
  }
}
