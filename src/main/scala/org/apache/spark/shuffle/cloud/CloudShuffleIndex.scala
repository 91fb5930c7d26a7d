package org.apache.spark.shuffle.cloud

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException,
  InputStream, OutputStream}
import java.util.zip.{Adler32, CRC32, CRC32C, Checksum}

/** Index + checksum codec for cloud shuffle objects.
  *
  * Wire format (kept bit-identical to the reference for drop-in parity,
  * `helper/S3ShuffleHelper.scala:44-59,94-121`):
  *  - index blob  = big-endian longs `[0, l0, l0+l1, …, Σl]` — the prefix
  *    sums of the reduce-partition lengths, so `acc(r)..acc(r+1)` is the
  *    byte range of reduce partition `r` inside the map task's data blob;
  *  - checksum blob = one big-endian long per reduce partition
  *    (ADLER32 / CRC32 / CRC32C value).
  *
  * [[CloudShuffleEnv]] names, caches and deletes the objects.
  */
private[cloud] object CloudShuffleIndex {

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

  /** Writes `values` as big-endian longs, then closes `out`. */
  def writeLongs(out: OutputStream, values: Array[Long]): Unit = {
    val data = new DataOutputStream(new BufferedOutputStream(out))
    try values.foreach(data.writeLong)
    finally data.close()
  }

  /** Reads big-endian longs to the end of `in`, then closes it. */
  def readLongs(in: InputStream): Array[Long] = {
    val data = new DataInputStream(new BufferedInputStream(in))
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      try {
        while (true) buf += data.readLong()
      } catch { case _: EOFException => }
      buf.toArray
    } finally data.close()
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
