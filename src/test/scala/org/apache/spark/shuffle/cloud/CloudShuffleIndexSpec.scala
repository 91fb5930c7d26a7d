package org.apache.spark.shuffle.cloud

import java.io.{DataOutputStream, FileNotFoundException}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** A cold index read resolves outside the cache map: concurrent readers of
  * one map share one GET, and a failed read is not remembered. */
class CloudShuffleIndexSpec extends AnyFunSuite {

  private val shuffleId = 9003

  private def withEnv[T](store: (String, String)*)(body: CloudShuffleEnv => T): T = {
    val env = new CloudShuffleEnv(GatedStore.sparkConf(store: _*), "cloud-shuffle-index-spec")
    try body(env) finally env.close()
  }

  private def store(env: CloudShuffleEnv) = env.fs.asInstanceOf[GatedStore]

  /** Puts an index object in the store without touching the JVM's cache. */
  private def putIndex(env: CloudShuffleEnv, mapId: Long, offsets: Seq[Long]): Unit = {
    val out = new DataOutputStream(env.create(MapOutputId(shuffleId, mapId), CloudShuffleEnv.Index))
    try offsets.foreach(out.writeLong) finally out.close()
  }

  test("two concurrent cold reads of one map's index open the object once") {
    // each open takes 300 ms, so the second reader arrives mid-GET
    withEnv(GatedStore.OpenDelayKey -> "300") { env =>
      putIndex(env, 1L, Seq(0L, 4L, 9L))
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val start = new CountDownLatch(1)
        val reads = Seq.fill(2)(Future {
          start.await(10, TimeUnit.SECONDS)
          env.readIndex(MapOutputId(shuffleId, 1L)).toSeq
        })
        start.countDown()
        assert(reads.map(Await.result(_, 30.seconds)) == Seq.fill(2)(Seq(0L, 4L, 9L)))
        assert(store(env).opens.get == 1)
      } finally pool.shutdownNow()
    }
  }

  test("a failed index read is retried once the index exists") {
    withEnv() { env =>
      intercept[FileNotFoundException](env.readIndex(MapOutputId(shuffleId, 2L)))
      putIndex(env, 2L, Seq(0L, 7L))
      assert(env.readIndex(MapOutputId(shuffleId, 2L)).toSeq == Seq(0L, 7L))
      assert(store(env).opens.get == 2)
    }
  }
}
