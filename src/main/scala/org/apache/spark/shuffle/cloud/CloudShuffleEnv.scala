package org.apache.spark.shuffle.cloud

import java.io.EOFException
import java.net.URI
import java.nio.ByteBuffer
import java.util.concurrent.{ConcurrentHashMap, Executors, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.{FileSystem, Path, FSDataInputStream, FSDataOutputStream}
import org.apache.spark.{SparkConf, SparkException}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.internal.{config, Logging}

/** One map output, the unit the store keeps: a map task attempt's data,
  * index and checksum objects. */
final case class MapOutputId(shuffleId: Int, mapId: Long)

/** One SparkContext's state of the cloud shuffle plugin: configuration,
  * Hadoop FileSystem handle, fetch and I/O pools, index and checksum caches
  * and the live-shuffle set. It alone names, caches and deletes a map
  * output's objects. [[CloudShuffleManager]] opens the JVM's one env and
  * closes it at `stop()`.
  *
  * Behavioral spec from the reference's dispatcher
  * (`helper/S3ShuffleDispatcher.scala:25-255`): the FS client, the
  * deterministic object-store path scheme
  * `${rootDir}/${mapId % folderPrefixes}/${appId}/${shuffleId}/${blockId}`
  * (`:142-143`) — the prefix shard dodges per-prefix object-store rate
  * limits — plus parallel bulk deletes (`:104-118,174-183`) and
  * readahead suppression for ranged reads (`:194-196`). The reference keeps
  * its dispatcher as a process-wide singleton; this env lives exactly as
  * long as one manager. Re-expressed from scratch for Spark 4.1.2.
  */
final class CloudShuffleEnv(val conf: SparkConf, val appId: String) extends Logging {

  import CloudShuffleEnv._

  val rootDir: String = conf.get(ROOT_DIR_KEY, "file:///tmp/cloud-shuffle").stripSuffix("/")
  val folderPrefixes: Int = math.max(1, conf.getInt(PREFIXES_KEY, 10))
  /** Per-task cap on prefetched bytes: Spark's own
    * `spark.reducer.maxSizeInFlight`, read through its config entry and
    * scaled as `BlockStoreShuffleReader` scales it, so a bare number means
    * MiB. The reference keeps a separate 128 MiB option
    * (`S3ShuffleDispatcher.scala:55-61`). */
  val maxBytesInFlight: Long = conf.get(config.REDUCER_MAX_SIZE_IN_FLIGHT) * 1024 * 1024
  /** Executor-wide cap on reduce-side GETs in flight, across all tasks:
    * the size of [[fetchPool]]. An object store meters a client's
    * connections, not its tasks, so the bound is per JVM. Beyond the
    * reference, which keeps only per-task limits
    * (`S3ShuffleDispatcher.scala:55-58`). */
  val maxConcurrencyExecutor: Int = math.max(1, conf.getInt(MAX_EXEC_CONCURRENCY_KEY, 64))

  /** Bounded daemon pool that runs every prefetch GET of this executor.
    * Commit PUTs and deletes stay on [[ioPool]], so a commit never waits in
    * a queue behind reducers' GETs. Idle threads exit. */
  private[cloud] val fetchPool: ThreadPoolExecutor = {
    val pool = new ThreadPoolExecutor(maxConcurrencyExecutor, maxConcurrencyExecutor,
      60L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, "cloud-shuffle-fetch")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Daemon pool for the per-prefix deletes and a commit's index and
    * checksum PUTs. It grows with demand, so a commit never waits for
    * another task's requests. */
  private[cloud] val ioPool: ExecutionContextExecutorService =
    ExecutionContext.fromExecutorService(Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "cloud-shuffle-io")
      t.setDaemon(true)
      t
    })

  /** Index and checksum blobs read or written in this context, by map
    * output. A cold read resolves through a per-key lazy cell outside the
    * map: its store round trip holds no bin lock, which would block
    * unrelated readers and a commit's `put`. Concurrent readers of one map
    * output still share one GET, and a failed read leaves no cell behind. */
  private val indexCache = new ConcurrentHashMap[MapOutputId, Cell]()
  private val checksumCache = new ConcurrentHashMap[MapOutputId, Cell]()

  /** Spark's own `spark.shuffle.checksum.*`, read through its config
    * entries, so the values are exactly those Spark's writers see. */
  val checksumEnabled: Boolean = conf.get(config.SHUFFLE_CHECKSUM_ENABLED)
  val checksumAlgorithm: String = conf.get(config.SHUFFLE_CHECKSUM_ALGORITHM)
  val validateChecksums: Boolean =
    conf.getBoolean(VALIDATE_KEY, defaultValue = false) && checksumEnabled

  private val hadoopConf = SparkHadoopUtil.get.newConfiguration(conf)
  // Hadoop streams default to io.file.buffer.size = 4 KB — every store
  // read/write becomes 8× the syscalls of Spark's own 32 KB shuffle
  // buffers. Respect an explicit setting; otherwise raise to 128 KB
  // (object-store sweet spot, and measured ~2× shuffle-write time on
  // throughput-bound local writes at 4 KB).
  if (hadoopConf.get("io.file.buffer.size") == null ||
      hadoopConf.getInt("io.file.buffer.size", 4096) == 4096)
    hadoopConf.setInt("io.file.buffer.size", 131072)
  val fs: FileSystem = {
    // newInstance, not get: the cached instance is shared with every other
    // user of the scheme in this JVM (the cache key ignores the conf), and
    // the checksum/buffer settings below must not leak into their writes.
    val f = FileSystem.newInstance(URI.create(rootDir), hadoopConf)
    // `file://` is a ChecksumFileSystem: every create also writes a .crc
    // sidecar and every open stats it. The plugin carries its own checksums
    // (Spark's format, validated while streaming), so that layer is pure
    // duplication; object-store FSs implement both calls as no-ops.
    f.setWriteChecksum(false)
    f.setVerifyChecksum(false)
    f
  }

  /** Shuts both pools down and closes the FS. */
  def close(): Unit = {
    fetchPool.shutdown()
    ioPool.shutdown()
    try fs.close() catch { case _: Exception => }
  }

  /** Where one of a map output's objects lives: `kind` is [[Data]],
    * [[Index]] or [[Checksum]], and the name is Spark's shuffle block name
    * with reduce id 0, because the whole map output is one object. */
  def path(id: MapOutputId, kind: String): Path =
    new Path(s"${shuffleDir(Math.floorMod(id.mapId, folderPrefixes), id.shuffleId)}/" +
      s"shuffle_${id.shuffleId}_${id.mapId}_0.$kind")

  /** One folder prefix's share of this application's objects. */
  private def appDir(prefix: Int): String = s"$rootDir/$prefix/$appId"

  private def shuffleDir(prefix: Int, shuffleId: Int): String = s"${appDir(prefix)}/$shuffleId"

  /** Opens an object for ranged reads; FS readahead is disabled because
    * readers issue positioned reads of exactly the byte ranges they need. */
  def open(id: MapOutputId, kind: String): FSDataInputStream = {
    val in = fs.open(path(id, kind))
    try in.setReadahead(0L)
    catch { case _: UnsupportedOperationException => }
    in
  }

  def create(id: MapOutputId, kind: String): FSDataOutputStream = fs.create(path(id, kind), true)

  /** Writes a map output's index, the prefix sums of its partition
    * lengths, and caches it. */
  def writeIndex(id: MapOutputId, partitionLengths: Array[Long]): Unit = {
    val acc = prefixSums(partitionLengths)
    writeLongs(id, Index, acc)
    indexCache.put(id, new Cell(() => acc))
  }

  /** Writes a map output's checksums, caching them only when reads
    * validate them. */
  def writeChecksums(id: MapOutputId, checksums: Array[Long]): Unit = {
    writeLongs(id, Checksum, checksums)
    if (validateChecksums) checksumCache.put(id, new Cell(() => checksums))
  }

  private def writeLongs(id: MapOutputId, kind: String, values: Array[Long]): Unit = {
    val out = create(id, kind)
    try out.write(encode(values)) finally out.close()
  }

  /** Cumulative byte offsets of a map output's partitions in its data object. */
  def readIndex(id: MapOutputId, partitions: Int): Array[Long] = cached(indexCache, id, Index, partitions + 1)

  def readChecksums(id: MapOutputId, partitions: Int): Array[Long] = cached(checksumCache, id, Checksum, partitions)

  private def cached(cache: ConcurrentHashMap[MapOutputId, Cell], id: MapOutputId,
      kind: String, longs: Int): Array[Long] = {
    val cell = cache.computeIfAbsent(id, _ => new Cell(() => readLongs(id, kind, longs)))
    try cell.longs
    catch {
      case t: Throwable =>
        cache.remove(id, cell)
        throw t
    }
  }

  /** The first `n` longs of an object in one positioned read: a longer
    * object starts with the same longs, and a shorter one is refused. */
  private def readLongs(id: MapOutputId, kind: String, n: Int): Array[Long] = {
    val bytes = new Array[Byte](n * 8)
    val in = open(id, kind)
    try in.readFully(0L, bytes)
    catch {
      case e: EOFException =>
        throw new SparkException(s"cloud shuffle: ${path(id, kind)} is shorter than the " +
          s"${bytes.length} bytes of its $n longs", e)
    } finally in.close()
    decode(bytes)
  }

  /** Deletes the given objects of one map output and forgets its cached
    * index and checksums. */
  def deleteMapOutput(id: MapOutputId, kinds: Iterable[String]): Unit = {
    kinds.map(path(id, _)).foreach { p =>
      try fs.delete(p, false)
      catch { case e: Exception => logDebug(s"delete $p: $e") }
    }
    indexCache.remove(id)
    checksumCache.remove(id)
  }

  /** Shuffles registered in this JVM whose objects may still be stored.
    * Only the driver registers shuffles. */
  private val liveShuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def registerShuffle(shuffleId: Int): Unit = liveShuffles.add(shuffleId)

  /** Forget one shuffle: delete every object of it — one future per folder
    * prefix so object-store deletes proceed in parallel — then drop its
    * cached index and checksum blobs. Spark reaches the plugin through
    * several cleanup calls, on the driver and on executors; only the first
    * call in the JVM that registered the shuffle deletes, and every call
    * drops the caches. */
  def removeShuffle(shuffleId: Int): Unit = {
    if (liveShuffles.remove(shuffleId))
      parallelDelete(shuffleDir(_, shuffleId))
    Seq(indexCache, checksumCache).foreach(_.keySet.removeIf(_.shuffleId == shuffleId))
  }

  /** Delete every object this application wrote. */
  def deleteAppFolders(): Unit = parallelDelete(appDir)

  private def parallelDelete(dir: Int => String): Unit = {
    implicit val ec: ExecutionContext = ioPool
    val fut = Future.sequence((0 until folderPrefixes).map { p =>
      Future {
        try fs.delete(new Path(dir(p)), true)
        catch { case e: Exception => logDebug(s"delete ${dir(p)}: $e") }
      }
    })
    try Await.result(fut, Duration.Inf)
    catch { case e: Exception => logWarning(s"parallel delete failed: $e") }
  }
}

object CloudShuffleEnv extends Logging {
  val ROOT_DIR_KEY = "spark.shuffle.cloud.rootDir"
  val PREFIXES_KEY = "spark.shuffle.cloud.folderPrefixes"
  val VALIDATE_KEY = "spark.shuffle.cloud.checksum.validate"
  val MAX_EXEC_CONCURRENCY_KEY = "spark.shuffle.cloud.maxConcurrencyExecutor"

  /** Every `spark.shuffle.cloud.*` option; the manager refuses any other. */
  val KEYS: Seq[String] = Seq(ROOT_DIR_KEY, PREFIXES_KEY, VALIDATE_KEY, MAX_EXEC_CONCURRENCY_KEY)

  /** Buffer in front of every data PUT. It only coalesces small write()
    * calls ahead of the FS client's own buffering, which sets the PUT
    * granularity. */
  val WRITE_BUFFER_SIZE: Int = 1 << 20

  /** The three object kinds of a map output, named by their suffix. */
  val Data = "data"
  val Index = "index"
  val Checksum = "checksum"

  // Index and checksum codec. The wire format is bit-identical to the
  // reference's (`helper/S3ShuffleHelper.scala:44-59,94-121`): an index
  // object holds the big-endian longs `[0, l0, l0+l1, …, Σl]`, the prefix
  // sums of the partition lengths, so `acc(r)..acc(r+1)` is partition r's
  // byte range in the data object; a checksum object holds one big-endian
  // long per partition. With P partitions they are (P+1)·8 and P·8 bytes.

  /** `[0, l0, l0+l1, …]`: length n+1, exact cumulative byte offsets. */
  private[cloud] def prefixSums(lengths: Array[Long]): Array[Long] = {
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
  private[cloud] def encode(values: Array[Long]): Array[Byte] = {
    val bytes = ByteBuffer.allocate(values.length * 8)
    bytes.asLongBuffer().put(values)
    bytes.array()
  }

  /** The big-endian longs of `bytes`, whose length is a multiple of 8. */
  private[cloud] def decode(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(buf.getLong())
  }

  private final class Cell(read: () => Array[Long]) {
    lazy val longs: Array[Long] = read()
  }

  /** The running manager's conf, and its env once first used. */
  @volatile private var openConf: SparkConf = _
  @volatile private var instance: CloudShuffleEnv = _

  /** The running manager's env. It is built on first use: the driver
    * constructs the manager before it sets `spark.app.id` in the same conf. */
  def get(): CloudShuffleEnv = {
    val cur = instance
    if (cur != null) cur
    else synchronized {
      if (instance == null) {
        if (openConf == null) throw new IllegalStateException("no cloud shuffle manager is " +
          s"running; set spark.shuffle.manager=${classOf[CloudShuffleManager].getName}")
        instance = new CloudShuffleEnv(openConf, openConf.getAppId)
        logInfo(s"cloud shuffle env for app ${instance.appId} rooted at ${instance.rootDir}")
      }
      instance
    }
  }

  /** Called by the manager's constructor: its conf backs the JVM's env. */
  private[cloud] def open(conf: SparkConf): Unit = synchronized {
    if (openConf != null) close(openConf)
    openConf = conf
  }

  /** Called by the manager's `stop()`: closes the env it opened, if built. */
  private[cloud] def close(conf: SparkConf): Unit = synchronized {
    if (openConf eq conf) {
      if (instance != null) instance.close()
      instance = null
      openConf = null
    }
  }
}
