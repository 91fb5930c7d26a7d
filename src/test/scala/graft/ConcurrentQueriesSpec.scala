package graft

import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent queries sharing one plugin-backed session: shuffle
  * registration, the prefetch pools, index caches and cleanup all run
  * interleaved across threads — the regime where the reduce-locality
  * starvation hid, and where cache/lock bugs in the plugin would surface
  * as hangs or cross-talk.
  */
class ConcurrentQueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    val root = Files.createTempDirectory("cloud-shuffle-conc").toUri.toString
    spark = SparkSession.builder()
      .master("local[8]").appName("concurrent-queries-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.manager",
        classOf[org.apache.spark.shuffle.cloud.CloudShuffleManager].getName)
      .config("spark.shuffle.cloud.rootDir", root)
      .config("spark.shuffle.reduceLocality.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  test("a dozen shuffling queries run concurrently and each matches its serial result") {
    val sf = "/root/testdata/sf0.001"
    val names = Seq(
      "q01_pricing_summary", "q05_regional_revenue", "q09_order_size_histogram",
      "q13_grouping_sets", "q17_topk_per_group", "q30_event_daily",
      "dd01_exact_dedup", "tx02_quality_scores",
      // the r3 shapes with driver-side coordination: dd09's iterative
      // label-propagation loop (localCheckpoint per round) and ss04's
      // quantizer-training collect inside the query builder
      "dd09_dup_components", "ss04_ann_ivf_topk",
      // r7: the memoized-model consumer (codebook + hot-cell registry
      // reads interleaved across threads) and the broadcast-heavy
      // decontamination join
      "dd10_semantic_dedup", "pp05_decontaminate")

    def run(name: String): Set[String] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(_.toSeq.map(String.valueOf).sorted.mkString("|")).toSet

    // serial ground truth first
    val serial = names.map(n => n -> run(n)).toMap

    val pool = Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // three concurrent waves so shuffle register/cleanup interleave
      (1 to 3).foreach { wave =>
        val futs = names.map(n => Future(n -> run(n)))
        val got = Await.result(Future.sequence(futs), 5.minutes).toMap
        names.foreach { n =>
          assert(got(n) == serial(n), s"wave $wave: $n diverged under concurrency")
        }
      }
    } finally pool.shutdown()
  }
}
