package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** State-store provider matrix (VERDICT r5 item 5): production streaming
  * state at 100 TB lives in RocksDB (bounded executor heap, incremental
  * checkpoint), not the default in-memory HDFS-backed store. Every
  * streaming drain in the engine (st01–st08, pp02's streamed corpus prep,
  * dd14's ingest gate, ss09's serving loop) must produce bit-identical
  * results under both providers — the provider is an execution detail, and
  * any divergence would mean state semantics leaked into results.
  *
  * Method: run each streaming query once under the default provider and
  * once under `RocksDBStateStoreProvider` (a session-level SQLConf read at
  * stream start — no new session needed), and compare the drained results
  * as multisets. The conf key is compile-checked
  * (`SQLConf.STATE_STORE_PROVIDER_CLASS`) and the provider name is
  * `Class.forName`-verified, so a typo cannot silently run the matrix on
  * the default store twice.
  */
class RocksDbStateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("rocksdb-state-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // the provider class is private[sql]; name it by string but verify it
  // resolves so a typo cannot silently run the matrix on the default store
  private val rocksClass = {
    val n = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    Class.forName(n)
    n
  }

  private def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toString).sorted.toSeq

  for (name <- SparkEntry.streamingQueries.toSeq.sorted) {
    test(s"$name is provider-invariant: RocksDB state store matches default") {
      val fn = SparkEntry.queries(name)
      val default = canon(fn(spark, sf).collect())
      spark.conf.set(SQLConf.STATE_STORE_PROVIDER_CLASS.key, rocksClass)
      val rocks = try canon(fn(spark, sf).collect())
      finally spark.conf.unset(SQLConf.STATE_STORE_PROVIDER_CLASS.key)
      assert(default.nonEmpty, s"$name drained no rows — vacuous matrix")
      assert(rocks == default,
        s"$name diverged across state-store providers: " +
          s"${rocks.diff(default).take(3)} vs ${default.diff(rocks).take(3)}")
    }
  }
}
