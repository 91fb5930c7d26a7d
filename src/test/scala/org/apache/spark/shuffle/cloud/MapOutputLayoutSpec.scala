package org.apache.spark.shuffle.cloud

import org.scalatest.funsuite.AnyFunSuite

/** A committed map output is three objects, data, index and checksum, at
  * `<rootDir>/<mapId mod folderPrefixes>/<appId>/<shuffleId>/`, named after
  * Spark's shuffle blocks with reduce id 0; removing a shuffle deletes its
  * objects and no other shuffle's. */
class MapOutputLayoutSpec extends AnyFunSuite {

  private val appId = "map-output-layout-spec"

  private def withEnv[T](body: CloudShuffleEnv => T): T = {
    val conf = GatedStore.sparkConf().set(CloudShuffleEnv.PREFIXES_KEY, "4")
    val env = new CloudShuffleEnv(conf, appId)
    try body(env) finally env.close()
  }

  /** Commits one map output of two partitions, the second non-empty. */
  private def commit(env: CloudShuffleEnv, shuffleId: Int, mapId: Long): Unit = {
    val writer = new CloudMapOutputWriter(env, shuffleId, mapId, 2)
    val out = writer.getPartitionWriter(1).openStream()
    out.write(Array[Byte](1, 2, 3))
    out.close()
    writer.commitAllPartitions(Array(5L, 6L))
  }

  private def objectsOf(shard: Int, shuffleId: Int, mapId: Long): Seq[String] =
    Seq("checksum", "data", "index").map(kind => s"$shard/$appId/$shuffleId/shuffle_${shuffleId}_${mapId}_0.$kind")

  test("a committed map output is three objects under its shard, app and shuffle") {
    withEnv { env =>
      commit(env, 21, 7L)
      assert(GatedStore.paths(env).sorted == objectsOf(3, 21, 7L))
    }
  }

  test("removing a shuffle leaves another live shuffle's objects in place") {
    withEnv { env =>
      Seq(21, 22).foreach { shuffleId =>
        env.registerShuffle(shuffleId)
        Seq(7L, 10L).foreach(commit(env, shuffleId, _))
      }
      env.removeShuffle(21)
      assert(GatedStore.paths(env).sorted == (objectsOf(2, 22, 10L) ++ objectsOf(3, 22, 7L)))
    }
  }
}
