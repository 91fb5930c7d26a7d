package org.apache.spark.shuffle.cloud

import java.io.{EOFException, InputStream}

import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.SparkException
import org.apache.spark.internal.Logging
import org.apache.spark.network.shuffle.checksum.ShuffleChecksumHelper

/** InputStream over the byte range `[start, end)` of one map output's data
  * object — i.e. one reduce partition or a contiguous batch of them.
  *
  * Lazily opens the underlying FS stream on first read (reference:
  * `S3ShuffleBlockStream.scala:16-111`), uses positioned reads (ranged GETs
  * on object stores), and self-closes at EOF so iterators that abandon
  * streams early don't leak connections.
  */
private[cloud] class CloudBlockStream(env: CloudShuffleEnv,
    mapOutput: MapOutputId, start: Long, end: Long)
    extends InputStream with Logging {

  private var in: FSDataInputStream = _
  private var pos: Long = start
  private var closed = false

  def size: Long = end - start

  private def remaining: Long = end - pos

  override def read(): Int = {
    if (closed || remaining <= 0) return -1
    val one = new Array[Byte](1)
    val n = read(one, 0, 1)
    if (n <= 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (closed || remaining <= 0) return -1
    if (in == null) in = env.open(mapOutput, CloudShuffleEnv.Data)
    val n = math.min(len.toLong, remaining).toInt
    try in.readFully(pos, b, off, n) // positioned read = ranged GET
    catch {
      case e: EOFException =>
        throw new SparkException(
          s"cloud shuffle: ${env.path(mapOutput, CloudShuffleEnv.Data)} shorter than its index claims " +
            s"(wanted $n bytes at $pos)", e)
    }
    pos += n
    if (remaining <= 0) close()
    n
  }

  override def skip(n: Long): Long = {
    val s = math.max(0L, math.min(n, remaining))
    pos += s
    if (remaining <= 0) close()
    s
  }

  override def available(): Int = math.min(remaining, Int.MaxValue.toLong).toInt

  override def close(): Unit = {
    if (closed) return
    closed = true
    if (in != null) {
      try in.close()
      catch { case e: Exception => logDebug(s"close $mapOutput: $e") }
      in = null
    }
  }
}

/** Validates per-reduce-partition checksums while the reduce side streams a
  * block (or a contiguous batch), using the same prefix-sum index that
  * sliced the blob; throws on mismatch (reference:
  * `S3ChecksumValidationStream.scala:17-92`).
  *
  * @param offsets   cumulative byte offsets for the whole map output
  * @param checksums one expected value per reduce partition
  * @param startReduce first reduce partition covered by `under`
  * @param endReduce   exclusive end of the covered range
  */
private[cloud] class ChecksumValidatingStream(under: InputStream,
    blockName: String, algorithm: String, offsets: Array[Long],
    checksums: Array[Long], startReduce: Int, endReduce: Int)
    extends InputStream {

  private val digest = ShuffleChecksumHelper.getChecksumByAlgorithm(algorithm)
  private var part = startReduce
  private var leftInPart = partLen(part)

  private def partLen(p: Int): Long =
    if (p < endReduce) offsets(p + 1) - offsets(p) else 0L

  /** Checks the partition just read, then starts the next. */
  private def nextPart(): Unit = {
    if (part < endReduce && digest.getValue != checksums(part)) {
      throw new SparkException(
        s"cloud shuffle: checksum mismatch in $blockName reduce partition " +
          s"$part: got ${digest.getValue}, expected ${checksums(part)}")
    }
    part += 1
    leftInPart = partLen(part)
    digest.reset()
  }

  override def read(): Int = {
    val one = new Array[Byte](1)
    val n = read(one, 0, 1)
    if (n <= 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    while (part < endReduce && leftInPart == 0) nextPart() // zero-length partitions
    val n = under.read(b, off, len)
    if (n <= 0) return n
    var o = off
    var todo = n
    while (todo > 0) {
      val chunk = math.min(todo.toLong, leftInPart).toInt
      digest.update(b, o, chunk)
      leftInPart -= chunk
      o += chunk
      todo -= chunk
      if (leftInPart == 0) {
        nextPart()
        if (todo > 0 && part >= endReduce) {
          throw new SparkException(
            s"cloud shuffle: $blockName returned bytes past reduce range " +
              s"[$startReduce, $endReduce)")
        }
      }
    }
    n
  }

  override def available(): Int = under.available()

  override def close(): Unit = under.close()
}
