package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.shuffle.cloud.{CloudShuffleEnv, CloudShuffleManager}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzzing of shuffle round trips: random sizes, key
  * cardinalities, skews and partition counts through the cloud plugin,
  * compared against ground truth computed in local Scala collections.
  * `bypassMergeThreshold=4` makes reduce-side width pick between the
  * bypass-merge and sort writers across trials; checksums stay on so the
  * validation path runs throughout.
  */
class ShuffleFuzzSpec extends AnyFunSuite with BeforeAndAfterEach {

  override def afterEach(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def conf(): SparkConf = {
    val root = Files.createTempDirectory("cloud-shuffle-fuzz").toUri.toString
    new SparkConf()
      .setMaster("local[4]")
      .setAppName("shuffle-fuzz")
      .set("spark.ui.enabled", "false")
      .set("spark.shuffle.manager", classOf[CloudShuffleManager].getName)
      .set("spark.shuffle.cloud.rootDir", root)
      .set("spark.shuffle.cloud.checksum.validate", "true")
      // a 3-thread fetch pool in every trial
      .set("spark.shuffle.cloud.maxConcurrencyExecutor", "3")
      // as the manager asks: relocated outputs have no reduce locality
      .set("spark.shuffle.reduceLocality.enabled", "false")
      .set("spark.shuffle.sort.bypassMergeThreshold", "4")
      .set("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
  }

  test("random shuffles match locally computed ground truth (12 seeded trials)") {
    val sc = new SparkContext(conf())
    try {
      for (trial <- 1 to 12) {
        val rng = new Random(trial * 7919)
        val n = 1000 + rng.nextInt(20000)
        val keyspace = 1 + rng.nextInt(300)
        val skewed = rng.nextBoolean()
        val mapParts = 1 + rng.nextInt(8)
        val redParts = 1 + rng.nextInt(8)
        def key(): Int =
          if (skewed && rng.nextInt(10) < 7) 0 else rng.nextInt(keyspace)
        val data = IndexedSeq.fill(n)((key(), rng.nextInt(100000).toLong))
        val rdd = sc.parallelize(data, mapParts)

        trial % 4 match {
          case 0 => // map-side-combined aggregation
            val got = rdd.reduceByKey(_ + _, redParts).collect().toMap
            val exp = data.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
            assert(got == exp, s"trial $trial reduceByKey")
          case 1 => // range-partitioned global sort
            val got = rdd.sortByKey(ascending = true, redParts).collect().toSeq
            val exp = data.sortBy(t => (t._1, t._2))
            // sortByKey only orders keys; compare keys exactly and the
            // multiset of values overall
            assert(got.map(_._1) == exp.map(_._1), s"trial $trial sort keys")
            assert(got.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap ==
              data.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap,
              s"trial $trial sort values")
          case 2 => // distinct
            val got = rdd.distinct(redParts).collect().toSet
            assert(got == data.toSet, s"trial $trial distinct")
          case 3 => // shuffle join
            val rightData = IndexedSeq.fill(n / 2)((rng.nextInt(keyspace), rng.nextInt(9).toLong))
            val right = sc.parallelize(rightData, 1 + rng.nextInt(6))
            val got = rdd.join(right, redParts)
              .map { case (k, (a, b)) => (k, a * 31 + b) }
              .aggregate((0L, 0L))(
                (acc, kv) => (acc._1 + 1, acc._2 + kv._2),
                (x, y) => (x._1 + y._1, x._2 + y._2))
            val rightByKey = rightData.groupBy(_._1)
            var cnt = 0L
            var sum = 0L
            data.foreach { case (k, a) =>
              rightByKey.getOrElse(k, Nil).foreach { case (_, b) =>
                cnt += 1; sum += a * 31 + b
              }
            }
            assert(got == ((cnt, sum)), s"trial $trial join")
        }
      }
    } finally sc.stop()
  }
}
