package org.apache.spark.shuffle.cloud

import java.nio.ByteBuffer

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
  * With P reduce partitions the two blobs are exactly (P+1)·8 and P·8 bytes.
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

  /** `values` as big-endian longs. */
  def encode(values: Array[Long]): Array[Byte] = {
    val bytes = ByteBuffer.allocate(values.length * 8)
    bytes.asLongBuffer().put(values)
    bytes.array()
  }

  /** The big-endian longs of `bytes`, whose length is a multiple of 8. */
  def decode(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(buf.getLong())
  }
}
