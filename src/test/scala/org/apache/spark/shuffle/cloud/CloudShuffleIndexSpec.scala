package org.apache.spark.shuffle.cloud

import java.io.{DataOutputStream, FileNotFoundException}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite

/** A cold index read resolves outside the cache map: concurrent readers of
  * one map share one GET, and a failed read is not remembered. A cold read
  * takes an object at the length its partition count fixes, and refuses a
  * shorter one. */
class CloudShuffleIndexSpec extends AnyFunSuite {

  private val shuffleId = 9003

  private def withEnv[T](store: (String, String)*)(body: CloudShuffleEnv => T): T = {
    val env = new CloudShuffleEnv(GatedStore.sparkConf(store: _*), "cloud-shuffle-index-spec")
    try body(env) finally env.close()
  }

  private def store(env: CloudShuffleEnv) = env.fs.asInstanceOf[GatedStore]

  /** Puts an object of big-endian longs in the store without touching the
    * JVM's cache. */
  private def putLongs(env: CloudShuffleEnv, mapId: Long, kind: String, longs: Seq[Long]): Unit = {
    val out = new DataOutputStream(env.create(MapOutputId(shuffleId, mapId), kind))
    try longs.foreach(out.writeLong) finally out.close()
  }

  test("two concurrent cold reads of one map's index open the object once") {
    // each open takes 300 ms, so the second reader arrives mid-GET
    withEnv(GatedStore.OpenDelayKey -> "300") { env =>
      putLongs(env, 1L, CloudShuffleEnv.Index, Seq(0L, 4L, 9L))
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val start = new CountDownLatch(1)
        val reads = Seq.fill(2)(Future {
          start.await(10, TimeUnit.SECONDS)
          env.readIndex(MapOutputId(shuffleId, 1L), 2).toSeq
        })
        start.countDown()
        assert(reads.map(Await.result(_, 30.seconds)) == Seq.fill(2)(Seq(0L, 4L, 9L)))
        assert(store(env).opens.get == 1)
      } finally pool.shutdownNow()
    }
  }

  test("a failed index read is retried once the index exists") {
    withEnv() { env =>
      intercept[FileNotFoundException](env.readIndex(MapOutputId(shuffleId, 2L), 1))
      putLongs(env, 2L, CloudShuffleEnv.Index, Seq(0L, 7L))
      assert(env.readIndex(MapOutputId(shuffleId, 2L), 1).toSeq == Seq(0L, 7L))
      assert(store(env).opens.get == 2)
    }
  }

  test("an index or checksum object shorter than its partition count fixes is refused, " +
      "naming it and its expected length") {
    withEnv() { env =>
      // P = 3: an index is 4 longs (32 bytes), a checksum object 3 (24 bytes)
      val cases = Seq[(String, MapOutputId => Array[Long], Int)](
        (CloudShuffleEnv.Index, env.readIndex(_, 3), 32),
        (CloudShuffleEnv.Checksum, env.readChecksums(_, 3), 24))
      for (((kind, read, bytes), mapId) <- cases.zip(Seq(3L, 4L))) {
        putLongs(env, mapId, kind, Seq(0L, 4L))
        val e = intercept[SparkException](read(MapOutputId(shuffleId, mapId)))
        assert(e.getMessage.contains(env.path(MapOutputId(shuffleId, mapId), kind).toString) &&
          e.getMessage.contains(s"$bytes bytes"), e.getMessage)
      }
    }
  }
}
