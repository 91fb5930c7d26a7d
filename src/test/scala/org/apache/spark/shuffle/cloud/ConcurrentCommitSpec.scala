package org.apache.spark.shuffle.cloud

import java.io.{FileNotFoundException, IOException}

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** A map output's commit issues its data, index and checksum PUTs together
  * and is all-or-nothing: a commit that fails, or an aborted map output,
  * leaves no object and no cached index behind. A committed map's checksums
  * are cached only when reads validate them. */
class ConcurrentCommitSpec extends AnyFunSuite {

  private val shuffleId = 9002
  private val lengths = Array(3L, 0L, 5L)
  private val checksums = Array(11L, 22L, 33L)

  private def withEnv[T](store: (String, String)*)(body: CloudShuffleEnv => T): T =
    withConf(GatedStore.sparkConf(store: _*))(body)

  private def withConf[T](conf: SparkConf)(body: CloudShuffleEnv => T): T = {
    val env = new CloudShuffleEnv(conf, "concurrent-commit-spec")
    try body(env) finally env.close()
  }

  private def closesTogether = GatedStore.ClosePartiesKey -> "3"

  private def store(env: CloudShuffleEnv) = env.fs.asInstanceOf[GatedStore]

  /** Writes `lengths` bytes per partition through a map output writer. */
  private def written(env: CloudShuffleEnv, mapId: Long): CloudMapOutputWriter = {
    val writer = new CloudMapOutputWriter(env, shuffleId, mapId, lengths.length)
    lengths.zipWithIndex.filter(_._1 > 0).foreach { case (n, p) =>
      val out = writer.getPartitionWriter(p).openStream()
      out.write(Array.fill[Byte](n.toInt)(p.toByte))
      out.close()
    }
    writer
  }

  private def objectsOf(env: CloudShuffleEnv, mapId: Long): Seq[String] =
    GatedStore.objects(env).filter(_.startsWith(s"shuffle_${shuffleId}_${mapId}_"))

  /** Neither the store nor the JVM's cache can serve the map's index or
    * checksums. */
  private def assertGone(env: CloudShuffleEnv, mapId: Long): Unit = {
    assert(objectsOf(env, mapId).isEmpty)
    intercept[FileNotFoundException](env.readIndex(MapOutputId(shuffleId, mapId), lengths.length))
    intercept[FileNotFoundException](env.readChecksums(MapOutputId(shuffleId, mapId), lengths.length))
  }

  for (validate <- Seq(false, true)) {
    test("the data, index and checksum PUTs of one map are in flight together" +
        (if (validate) " (checksum validation on)" else "")) {
      // every PUT's close waits until three are closing at once
      val conf = GatedStore.sparkConf(closesTogether)
        .set(CloudShuffleEnv.VALIDATE_KEY, validate.toString)
      withConf(conf) { env =>
        val msg = written(env, 1L).commitAllPartitions(checksums)
        assert(msg.getPartitionLengths.toSeq == lengths.toSeq)
        assert(store(env).closesPeak.get == 3)
        assert(objectsOf(env, 1L).sorted ==
          Seq("shuffle_9002_1_0.checksum", "shuffle_9002_1_0.data", "shuffle_9002_1_0.index"))
        assert(env.readIndex(MapOutputId(shuffleId, 1L), lengths.length).toSeq == Seq(0L, 3L, 3L, 8L))
        // the commit caches the checksums only for validating reads
        val opens = store(env).opens.get
        assert(env.readChecksums(MapOutputId(shuffleId, 1L), lengths.length).toSeq == checksums.toSeq)
        assert(store(env).opens.get - opens == (if (validate) 0 else 1))
      }
    }
  }

  test("a failed data PUT fails the commit and leaves no index or checksum") {
    // the index and checksum PUTs land while the data PUT fails: a leftover
    // index would make a listing count the aborted attempt
    withEnv(closesTogether, GatedStore.FailDataCloseKey -> "true") { env =>
      val e = intercept[IOException](written(env, 3L).commitAllPartitions(checksums))
      assert(e.getMessage.contains("injected upload failure"))
      assert(store(env).closesPeak.get == 3)
      assertGone(env, 3L)
    }
  }

  test("abort deletes the data, index and checksum objects") {
    withEnv() { env =>
      val writer = written(env, 4L)
      writer.commitAllPartitions(checksums)
      assert(objectsOf(env, 4L).size == 3)
      writer.abort(new RuntimeException("task failed after commit"))
      assertGone(env, 4L)
    }
  }
}
