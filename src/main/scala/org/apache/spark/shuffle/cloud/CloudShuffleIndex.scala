package org.apache.spark.shuffle.cloud

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.util.zip.{Adler32, CRC32, CRC32C, Checksum}

import org.apache.spark.internal.Logging
import org.apache.spark.storage.{BlockId, ShuffleChecksumBlockId, ShuffleIndexBlockId}

/** Index + checksum codec for cloud shuffle blocks.
  *
  * Wire format (kept bit-identical to the reference for drop-in parity,
  * `helper/S3ShuffleHelper.scala:44-59,94-121`):
  *  - index blob  = big-endian longs `[0, l0, l0+l1, …, Σl]` — the prefix
  *    sums of the reduce-partition lengths, so `acc(r)..acc(r+1)` is the
  *    byte range of reduce partition `r` inside the map task's data blob;
  *  - checksum blob = one big-endian long per reduce partition
  *    (ADLER32 / CRC32 / CRC32C value).
  *
  * Both are tiny and read often (every reducer touches every map's index,
  * and every validating read its map's checksums), so they are cached in
  * the env, for its context's life; a commit caches its checksums only when
  * reads validate them.
  * A cold read resolves through a per-key lazy cell OUTSIDE the map: its
  * store round trip holds no bin lock, which would block unrelated readers
  * and `writeIndex`'s `put`. Concurrent readers of one map still share one
  * GET, and a failed read leaves no cell behind.
  */
private[cloud] object CloudShuffleIndex extends Logging {

  final class Cell(read: () => Array[Long]) {
    lazy val longs: Array[Long] = read()
  }

  /** `[0, l0, l0+l1, …]` — length n+1, exact cumulative byte offsets. */
  def prefixSums(lengths: Array[Long]): Array[Long] = {
    val acc = new Array[Long](lengths.length + 1)
    var i = 0
    var s = 0L
    while (i < lengths.length) {
      s += lengths(i)
      acc(i + 1) = s
      i += 1
    }
    acc
  }

  def writeIndex(env: CloudShuffleEnv, shuffleId: Int, mapId: Long,
      partitionLengths: Array[Long]): Unit = {
    val blockId = ShuffleIndexBlockId(shuffleId, mapId, CloudShuffleManager.NOOP_REDUCE_ID)
    val acc = prefixSums(partitionLengths)
    writeLongs(env, blockId, acc)
    env.indexCache.put(blockId, new Cell(() => acc))
  }

  def writeChecksums(env: CloudShuffleEnv, shuffleId: Int, mapId: Long,
      checksums: Array[Long]): Unit = {
    if (checksums.isEmpty) return
    val blockId = ShuffleChecksumBlockId(shuffleId, mapId, 0)
    writeLongs(env, blockId, checksums)
    if (env.validateChecksums) env.checksumCache.put(blockId, new Cell(() => checksums))
  }

  /** Cumulative offsets for one map task's data blob, cached. */
  def readIndex(env: CloudShuffleEnv, shuffleId: Int, mapId: Long): Array[Long] = {
    val blockId = ShuffleIndexBlockId(shuffleId, mapId, CloudShuffleManager.NOOP_REDUCE_ID)
    cached(env.indexCache, env, blockId)
  }

  def readChecksums(env: CloudShuffleEnv, shuffleId: Int, mapId: Long): Array[Long] = {
    val blockId = ShuffleChecksumBlockId(shuffleId, mapId, 0)
    cached(env.checksumCache, env, blockId)
  }

  private def cached(cache: java.util.Map[BlockId, Cell], env: CloudShuffleEnv,
      blockId: BlockId): Array[Long] = {
    val cell = cache.computeIfAbsent(blockId, _ => new Cell(() => readLongs(env, blockId)))
    try cell.longs
    catch {
      case t: Throwable =>
        cache.remove(blockId, cell)
        throw t
    }
  }

  def purgeShuffle(env: CloudShuffleEnv, shuffleId: Int): Unit =
    Seq(env.indexCache, env.checksumCache).foreach(_.keySet.removeIf {
      case ShuffleIndexBlockId(s, _, _)    => s == shuffleId
      case ShuffleChecksumBlockId(s, _, _) => s == shuffleId
      case _                               => false
    })

  def forget(env: CloudShuffleEnv, shuffleId: Int, mapId: Long): Unit = {
    env.indexCache.remove(ShuffleIndexBlockId(shuffleId, mapId, CloudShuffleManager.NOOP_REDUCE_ID))
    env.checksumCache.remove(ShuffleChecksumBlockId(shuffleId, mapId, 0))
  }

  private def writeLongs(env: CloudShuffleEnv, blockId: BlockId, values: Array[Long]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(env.createBlock(blockId)))
    try values.foreach(out.writeLong)
    finally out.close()
  }

  private def readLongs(env: CloudShuffleEnv, blockId: BlockId): Array[Long] = {
    val in = new DataInputStream(new BufferedInputStream(env.openBlock(blockId)))
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      try {
        while (true) buf += in.readLong()
      } catch { case _: EOFException => }
      buf.toArray
    } finally in.close()
  }

  /** Checksum factory for read-side validation (same algorithms Spark's
    * writers use via `spark.shuffle.checksum.algorithm`). */
  def newChecksum(algorithm: String): Checksum = algorithm.toUpperCase match {
    case "ADLER32" => new Adler32()
    case "CRC32"   => new CRC32()
    case "CRC32C"  => new CRC32C()
    case other =>
      throw new UnsupportedOperationException(s"checksum algorithm $other")
  }
}
