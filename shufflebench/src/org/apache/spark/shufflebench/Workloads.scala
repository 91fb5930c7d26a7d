package org.apache.spark.shufflebench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.OrderedRDDFunctions
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** What one pass produced: how many output checks it made, which failed, and
  * any per-layer timings the workload takes itself (seconds, by metric name). */
final case class PassOutcome(checks: Int, failures: Seq[String],
    timings: Map[String, Double] = Map.empty)

object PassOutcome {
  /** One check per (name, passed) pair; the failed ones by name. */
  def of(checks: (String, Boolean)*): PassOutcome =
    PassOutcome(checks.size, checks.collect { case (what, false) => what })
}

/** A named benchmark workload. Inputs derive from the seed only. */
trait Workload {
  def name: String

  /** Fixed delay the store adds to every request. */
  def latencyMs: Int

  /** Per-stream cap the store puts on GETs and PUTs, in MiB/s; 0 for none. */
  def bandwidthMiBs: Int = 0

  /** Reduce partitions of every shuffle a pass makes. */
  def reducers(spark: SparkSession): Int

  /** Whether a reducer opens every non-empty block with a GET of its own.
    * False where reducers read coalesced partition ranges, whose contiguous
    * blocks of one map output share one GET. */
  def oneGetPerBlock: Boolean = true

  /** Input generation: whatever the passes read and the output checks need
    * to know up front. `dir` is the run's scratch directory. */
  def prepare(spark: SparkSession, dir: Path): Unit

  /** One checked pass. */
  def pass(spark: SparkSession): PassOutcome
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "sort-capped"       => new SortCapped(seed)
    case "small-blocks-20ms" => new SmallBlocks(seed)
    case other               => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** 64-bit fingerprint of a byte string; summed, it gives order-independent checksums. */
  def hash64(b: Array[Byte]): Long =
    (MurmurHash3.bytesHash(b, 0x3c074a61).toLong << 32) |
      (MurmurHash3.bytesHash(b, 0x1b873593) & 0xffffffffL)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
}

/** Key-range partitioner for uniformly random keys: the first two key bytes
  * pick the partition, so partition order is global key order (TeraSort's
  * total-order partitioner with its split points known up front). */
final class PrefixPartitioner(n: Int) extends Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = {
    val k = key.asInstanceOf[Array[Byte]]
    (((k(0) & 0xff) << 8 | (k(1) & 0xff)) * n) >>> 16
  }
}

object UnsignedBytes extends Ordering[Array[Byte]] {
  override def compare(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)
}

/** TeraSort-shaped: 100-byte records (10-byte random key, 90-byte payload
  * whose first 8 bytes are the record id), range-partitioned and sorted
  * within partitions, through a store that adds 5 ms to every request and
  * caps every GET and PUT stream at 4 MiB/s. The per-stream cap, not the
  * host's CPU, bounds the pass, so how many streams the writers and the
  * prefetcher keep open decides its time. */
final class SortCapped(seed: Long, maps: Int = 16, reduce: Int = 16, perMap: Int = 10000)
    extends Workload {
  import SortCapped._

  val name = "sort-capped"
  val latencyMs = 5
  override val bandwidthMiBs = 4

  override def reducers(spark: SparkSession): Int = reduce

  private var expectedKeySum = 0L
  private val expectedIdSum: Long =
    (0 until maps).map(m => perMap.toLong * (m.toLong << 32) + perMap.toLong * (perMap - 1) / 2).sum

  override def prepare(spark: SparkSession, dir: Path): Unit =
    expectedKeySum = (0 until maps).iterator.map { m =>
      val r = Workload.rng(seed, m)
      var s = 0L
      var i = 0
      while (i < perMap) {
        s += Workload.hash64(key(r))
        i += 1
      }
      s
    }.sum

  override def pass(spark: SparkSession): PassOutcome = {
    val (s, n) = (seed, perMap)
    val input = spark.sparkContext.parallelize(0 until maps, maps)
      .mapPartitionsWithIndex((m, _) => records(s, m, n))
    val sorted = new OrderedRDDFunctions[Array[Byte], Array[Byte], (Array[Byte], Array[Byte])](
      input)(UnsignedBytes, implicitly, implicitly, implicitly)
      .repartitionAndSortWithinPartitions(new PrefixPartitioner(reduce))
    val parts = sorted.mapPartitionsWithIndex { (p, it) =>
      var count = 0L
      var keySum = 0L
      var idSum = 0L
      var ordered = true
      var badPayload = 0L
      var first: Array[Byte] = null
      var last: Array[Byte] = null
      it.foreach { case (k, v) =>
        if (last != null && UnsignedBytes.compare(last, k) > 0) ordered = false
        if (first == null) first = k
        last = k
        count += 1
        keySum += Workload.hash64(k)
        if (v.length != 90) badPayload += 1
        else idSum += java.nio.ByteBuffer.wrap(v).getLong
      }
      Iterator.single(PartStat(p, count, keySum, idSum, ordered, badPayload, first, last))
    }.collect().sortBy(_.partition)

    val count = parts.map(_.count).sum
    val bounds = parts.filter(_.count > 0)
    PassOutcome.of(
      s"record count $count" -> (count == maps.toLong * perMap),
      "key checksum" -> (parts.map(_.keySum).sum == expectedKeySum),
      "payload id checksum" -> (parts.map(_.idSum).sum == expectedIdSum),
      "payload length" -> parts.forall(_.badPayload == 0),
      "order within a partition" -> parts.forall(_.ordered),
      "order across partitions" -> bounds.zip(bounds.drop(1)).forall { case (a, b) =>
        UnsignedBytes.compare(a.last, b.first) <= 0
      })
  }
}

object SortCapped {
  final case class PartStat(partition: Int, count: Long, keySum: Long, idSum: Long,
      ordered: Boolean, badPayload: Long, first: Array[Byte], last: Array[Byte])

  private def fill(b: Array[Byte], r: SplittableRandom, from: Int): Unit = {
    var i = from
    while (i < b.length) {
      var x = r.nextLong()
      var j = 0
      while (j < 8 && i < b.length) {
        b(i) = x.toByte
        x >>>= 8
        i += 1
        j += 1
      }
    }
  }

  def key(r: SplittableRandom): Array[Byte] = {
    val k = new Array[Byte](10)
    fill(k, r, 0)
    k
  }

  /** Map `m`'s records: keys from one stream, payloads from another, so the
    * driver can regenerate the keys alone. */
  def records(seed: Long, m: Int, n: Int): Iterator[(Array[Byte], Array[Byte])] = {
    val keys = Workload.rng(seed, m)
    val payloads = Workload.rng(seed, 1L << 40 | m)
    Iterator.tabulate(n) { i =>
      val v = new Array[Byte](90)
      java.nio.ByteBuffer.wrap(v).putLong(m.toLong << 32 | i)
      fill(v, payloads, 8)
      (key(keys), v)
    }
  }
}

/** Many small blocks behind a slow store: every map emits every key once
  * and `reduceByKey` sums them, so each (map, reducer) block is non-empty
  * and small. Values follow a closed form, so each key's sum is known. */
final class SmallBlocks(seed: Long, maps: Int = 32, reduce: Int = 16, keys: Int = 16384)
    extends Workload {
  val name = "small-blocks-20ms"
  val latencyMs = 20

  override def reducers(spark: SparkSession): Int = reduce

  override def prepare(spark: SparkSession, dir: Path): Unit = ()

  override def pass(spark: SparkSession): PassOutcome = {
    val (s, nKeys, nMaps) = (seed, keys, maps)
    val input = spark.sparkContext.parallelize(0 until maps, maps)
      .mapPartitionsWithIndex { (m, _) =>
        Iterator.tabulate(nKeys)(k => (k.toLong, SmallBlocks.base(s, k) + m))
      }
    val sums = input.reduceByKey(new HashPartitioner(reduce), _ + _)
    val (count, bad) = sums.mapPartitions { it =>
      var n = 0L
      var wrong = 0L
      it.foreach { case (k, v) =>
        n += 1
        if (v != nMaps * SmallBlocks.base(s, k.toInt) + nMaps.toLong * (nMaps - 1) / 2) wrong += 1
      }
      Iterator.single((n, wrong))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    PassOutcome.of(s"key count $count" -> (count == keys), s"$bad wrong per-key sums" -> (bad == 0))
  }
}

object SmallBlocks {
  /** Per-key base value in [0, 1000): map `m` adds `m` to it. */
  def base(seed: Long, k: Int): Long = java.lang.Math.floorMod(k * 2654435761L + seed * 7919L, 1000L)
}

/** The operators lane of a traced run: two `graft.operators` query entries,
  * each timed on its own, over TPC-H-shaped `orders` and `lineitem` tables
  * generated from the seed and written as Parquet in its set-up. Planning,
  * multi-stage scheduling and operator compute take most of the time; the
  * store adds 20 ms to every request of the queries' three small shuffles.
  * Every order's line count, priority and line discounts are closed-form
  * functions of (seed, order key), so each query's exact result is known
  * without running a query. */
final class SeededQueries(seed: Long, orders: Int = 50000, parts: Int = 8) extends Workload {
  import SeededQueries._

  val name = "operators"
  val latencyMs = 20
  override val oneGetPerBlock = false

  /** Both queries shuffle only through hash exchanges. */
  override def reducers(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  private var dir = ""
  private var expectedPriority = Map.empty[String, Long]
  private var expectedHistogram = Map.empty[Long, Long]

  override def prepare(spark: SparkSession, scratch: Path): Unit = {
    dir = scratch.resolve("tables").toString
    val (s, n, p) = (seed, orders, parts)
    val ord = spark.sparkContext.parallelize(0 until p, p).flatMap { part =>
      (part until n by p).iterator.map(o => Row(o.toLong, priority(s, o)))
    }
    val li = spark.sparkContext.parallelize(0 until p, p).flatMap { part =>
      (part until n by p).iterator.flatMap { o =>
        (0 until lines(s, o)).iterator.map(l => Row(o.toLong, l + 1, discount(s, o, l)))
      }
    }
    spark.createDataFrame(ord, OrdersSchema).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.createDataFrame(li, LineitemSchema).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val keys = 0 until orders
    expectedHistogram = keys.groupBy(o => lines(seed, o).toLong).map { case (k, v) =>
      k -> v.size.toLong
    }
    expectedPriority = keys.filter(o => (0 until lines(seed, o)).exists(discount(seed, o, _) > 0.05))
      .groupBy(priority(seed, _)).map { case (k, v) => k -> v.size.toLong }
  }

  override def pass(spark: SparkSession): PassOutcome = {
    def timed(query: String): (Array[Row], (String, Double)) = {
      val t0 = System.nanoTime()
      val rows = graft.operators.Relational.queries(query)(spark, dir).collect()
      (rows, s"operators.${query}_s" -> (System.nanoTime() - t0) / 1e9)
    }
    val (byPriority, t04) = timed(Q04)
    val (histogram, t09) = timed(Q09)
    PassOutcome.of(
      s"$Q04 result" ->
        (byPriority.map(r => r.getString(0) -> r.getLong(1)).toMap == expectedPriority &&
          byPriority.length == expectedPriority.size),
      s"$Q09 result" ->
        (histogram.map(r => r.getLong(0) -> r.getLong(1)).toMap == expectedHistogram &&
          histogram.length == expectedHistogram.size)
    ).copy(timings = Map(t04, t09))
  }
}

object SeededQueries {
  val Q04 = "q04_order_priority"
  val Q09 = "q09_order_size_histogram"
  val Queries: Seq[String] = Seq(Q04, Q09)

  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false)))

  private def mix(seed: Long, a: Long, b: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Lines of order `o`: 0 to 7, so some orders have none. */
  def lines(seed: Long, o: Int): Int = java.lang.Math.floorMod(mix(seed, o, -1), 8L).toInt

  def priority(seed: Long, o: Int): String =
    Priorities(java.lang.Math.floorMod(mix(seed, o, -2), Priorities.size.toLong).toInt)

  /** Discount of line `l` of order `o`: 0.00 to 0.10 in steps of 0.01. */
  def discount(seed: Long, o: Int, l: Int): Double =
    java.lang.Math.floorMod(mix(seed, o, l), 11L) / 100.0
}
