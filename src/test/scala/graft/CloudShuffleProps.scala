package org.apache.spark.shuffle.cloud

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.SparkConf
import org.apache.spark.storage.{BlockId, ShuffleBlockBatchId, ShuffleBlockId}
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests (seeded, 100 trials each — SURVEY.md §5) for the
  * wire-format core: prefix-sum index codec round trip, ranged block-stream
  * slicing, and streamed checksum validation under arbitrary chunking. */
class CloudShuffleProps extends AnyFunSuite {

  private def withFreshEnv[T](body: CloudShuffleEnv => T): T = {
    val root = Files.createTempDirectory("cloud-props").toUri.toString
    val env = new CloudShuffleEnv(
      new SparkConf().set(CloudShuffleEnv.ROOT_DIR_KEY, root), "prop-app")
    try body(env) finally env.close()
  }

  test("prefix sums are cumulative and anchored at zero") {
    val rng = new Random(1)
    (1 to 100).foreach { _ =>
      val lengths = Array.fill(rng.nextInt(40))(rng.nextLong(1L << 40))
      val acc = CloudShuffleEnv.prefixSums(lengths)
      assert(acc.length == lengths.length + 1)
      assert(acc.head == 0L)
      lengths.indices.foreach(i => assert(acc(i + 1) - acc(i) == lengths(i)))
      assert(acc.last == lengths.sum)
    }
  }

  test("index write/read round trip preserves the exact offsets")(withFreshEnv { env =>
    val rng = new Random(2)
    (1 to 100).foreach { trial =>
      val lengths = Array.fill(rng.nextInt(40))(rng.nextLong(1L << 16))
      env.writeIndex(MapOutputId(trial, rng.nextLong(1000)), lengths)
      // (cache hit path)
      val mapId = 7000L + trial
      env.writeIndex(MapOutputId(trial, mapId), lengths)
      // a fresh env on the same store has an empty cache: re-read from the store
      val cold = new CloudShuffleEnv(env.conf, env.appId)
      val back = try cold.readIndex(MapOutputId(trial, mapId), lengths.length) finally cold.close()
      assert(back.toSeq == CloudShuffleEnv.prefixSums(lengths).toSeq)
    }
  })

  test("ranged block stream returns exactly the sliced bytes")(withFreshEnv { env =>
    val rng = new Random(3)
    (1 to 100).foreach { trial =>
      val size = 1 + rng.nextInt(1 << 14)
      val bytes = Array.tabulate[Byte](size)(i => (i * 31 + trial).toByte)
      val mapOutput = MapOutputId(1, trial.toLong)
      val out = env.create(mapOutput, CloudShuffleEnv.Data)
      out.write(bytes)
      out.close()
      val (a, b) = (rng.nextInt(size + 1), rng.nextInt(size + 1))
      val (start, end) = (math.min(a, b), math.max(a, b))
      val in = new CloudBlockStream(env, mapOutput, start, end)
      val got = in.readAllBytes()
      assert(got.toSeq == bytes.slice(start, end).toSeq,
        s"slice [$start,$end) of $size")
    }
  })

  test("checksum stream validates clean data under arbitrary chunking, rejects corruption") {
    val rng = new Random(4)
    (1 to 100).foreach { _ =>
      val parts = Array.fill(1 + rng.nextInt(8))(
        Array.fill[Byte](rng.nextInt(512))(rng.nextInt().toByte))
      val offsets = CloudShuffleEnv.prefixSums(parts.map(_.length.toLong))
      val checksums = parts.map { p =>
        val c = new java.util.zip.Adler32()
        c.update(p, 0, p.length)
        c.getValue
      }
      val blob = parts.flatten
      def readAll(data: Array[Byte]): Unit = {
        val validated = new ChecksumValidatingStream(
          new java.io.ByteArrayInputStream(data), "prop-block", "ADLER32",
          offsets, checksums, 0, parts.length)
        val buf = new Array[Byte](1 + rng.nextInt(257))
        var n = validated.read(buf, 0, buf.length)
        var read = 0
        while (n > 0) {
          read += n
          n = validated.read(buf, 0, buf.length)
        }
        assert(read == data.length)
      }
      readAll(blob)
      if (blob.nonEmpty) {
        val corrupted = blob.clone()
        val at = rng.nextInt(corrupted.length)
        corrupted(at) = (corrupted(at) ^ 0x41).toByte
        intercept[org.apache.spark.SparkException](readAll(corrupted))
      }
    }
  }

  test("mergeContiguous covers exactly the input reduce set, batches only runs") {
    val rng = new Random(11)
    (1 to 100).foreach { trial =>
      // a reducer's fetch list: per map output, a sorted set of reduce ids
      // (usually contiguous after AQE coalescing, with random gaps here)
      val blocks = (0 until 1 + rng.nextInt(5)).flatMap { m =>
        val rs = (0 until 1 + rng.nextInt(12)).filter(_ => rng.nextBoolean())
        rs.map(r => (ShuffleBlockId(7, m.toLong, r): BlockId, 1L + rng.nextInt(100)))
      }
      val merged = CloudShuffleReader.mergeContiguous(blocks)
      // expansion returns exactly the original (map, reduce) cells
      val expanded = merged.flatMap {
        case (b: ShuffleBlockBatchId, _) =>
          // batches are only emitted for runs of length >= 2
          assert(b.endReduceId - b.startReduceId >= 2, s"trial $trial: $b")
          (b.startReduceId until b.endReduceId).map(r => (b.mapId, r))
        case (b: ShuffleBlockId, _) => Seq((b.mapId, b.reduceId))
        case (other, _) => fail(s"unexpected id $other")
      }
      assert(expanded == blocks.map { case (b: ShuffleBlockId, _) => (b.mapId, b.reduceId) },
        s"trial $trial: merge must preserve order and coverage")
      // sizes are preserved in total and per contiguous run
      assert(merged.map(_._2).sum == blocks.map(_._2).sum, s"trial $trial sizes")
    }
  }
}
