package org.apache.spark.shuffle.cloud

import java.net.URI
import java.util.concurrent.{Executors, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.{FileSystem, Path, FSDataInputStream, FSDataOutputStream}
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.internal.Logging
import org.apache.spark.storage._

/** Process-wide configuration + Hadoop FileSystem handle for the cloud
  * shuffle plugin.
  *
  * Behavioral spec from the reference's dispatcher
  * (`helper/S3ShuffleDispatcher.scala:25-255`): a lazily-created singleton
  * holding the FS client, the deterministic object-store path scheme
  * `${rootDir}/${mapId % folderPrefixes}/${appId}/${shuffleId}/${blockId}`
  * (`:142-143`) — the prefix shard dodges per-prefix object-store rate
  * limits — plus parallel bulk deletes (`:104-118,174-183`) and
  * readahead suppression for ranged reads (`:194-196`). Re-expressed
  * from scratch for Spark 4.1.2.
  */
final class CloudShuffleEnv(val conf: SparkConf, val appId: String) extends Logging {

  import CloudShuffleEnv._

  val rootDir: String = conf.get(ROOT_DIR_KEY, "file:///tmp/cloud-shuffle").stripSuffix("/")
  val folderPrefixes: Int = math.max(1, conf.getInt(PREFIXES_KEY, 10))
  val maxBufferSizeTask: Long = conf.getSizeAsBytes(MAX_BUFFER_TASK_KEY, "128m")
  /** Executor-wide cap on reduce-side GETs in flight, across all tasks:
    * the size of [[fetchPool]]. An object store meters a client's
    * connections, not its tasks, so the bound is per JVM. Beyond the
    * reference, which keeps only per-task limits
    * (`S3ShuffleDispatcher.scala:55-58`). */
  val maxConcurrencyExecutor: Int = math.max(1, conf.getInt(MAX_EXEC_CONCURRENCY_KEY, 64))

  /** Bounded daemon pool that runs every prefetch GET of this executor.
    * Commit PUTs and deletes stay on [[CloudShuffleEnv.ioEc]], so a commit
    * never waits in a queue behind reducers' GETs. Idle threads exit. */
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

  /** Write-side checksums ride on Spark's own `spark.shuffle.checksum.*`. */
  val checksumEnabled: Boolean = conf.getBoolean("spark.shuffle.checksum.enabled", defaultValue = true)
  val checksumAlgorithm: String = conf.get("spark.shuffle.checksum.algorithm", "ADLER32")
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

  /** Shuts the fetch pool down and closes the FS. */
  private[cloud] def close(): Unit = {
    fetchPool.shutdown()
    try fs.close() catch { case _: Exception => }
  }

  /** (shuffleId, mapId) coordinates of any supported shuffle block. */
  private def coords(blockId: BlockId): (Int, Long) = blockId match {
    case ShuffleBlockId(s, m, _)         => (s, m)
    case ShuffleBlockBatchId(s, m, _, _) => (s, m)
    case ShuffleDataBlockId(s, m, _)     => (s, m)
    case ShuffleIndexBlockId(s, m, _)    => (s, m)
    case ShuffleChecksumBlockId(s, m, _) => (s, m)
    case other =>
      throw new IllegalArgumentException(s"Unsupported shuffle block: $other")
  }

  def blockPath(blockId: BlockId): Path = {
    val (shuffleId, mapId) = coords(blockId)
    val prefix = (mapId % folderPrefixes + folderPrefixes) % folderPrefixes
    new Path(s"$rootDir/$prefix/$appId/$shuffleId/${blockId.name}")
  }

  /** Open a block for ranged reads; FS readahead is disabled because the
    * reader issues positioned reads of exactly the byte ranges it needs. */
  def openBlock(blockId: BlockId): FSDataInputStream = {
    val in = fs.open(blockPath(blockId))
    try in.setReadahead(0L)
    catch { case _: UnsupportedOperationException => }
    in
  }

  def createBlock(blockId: BlockId): FSDataOutputStream =
    fs.create(blockPath(blockId), true)

  def deleteBlock(blockId: BlockId): Unit =
    try fs.delete(blockPath(blockId), false)
    catch { case e: Exception => logDebug(s"delete ${blockId.name}: $e") }

  /** Shuffles registered in this JVM whose objects may still be stored.
    * Only the driver registers shuffles. */
  private val liveShuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def registerShuffle(shuffleId: Int): Unit = liveShuffles.add(shuffleId)

  /** Delete every object of one shuffle — one future per folder prefix so
    * object-store deletes proceed in parallel. Spark reaches the plugin
    * through several cleanup calls, on the driver and on executors; only
    * the first call in the JVM that registered the shuffle deletes. */
  def deleteShuffle(shuffleId: Int): Unit =
    if (liveShuffles.remove(shuffleId))
      parallelDelete(p => new Path(s"$rootDir/$p/$appId/$shuffleId"))

  /** Delete every object this application wrote. */
  def deleteAppFolders(): Unit = parallelDelete(p => new Path(s"$rootDir/$p/$appId"))

  private def parallelDelete(path: Int => Path): Unit = {
    implicit val ec: ExecutionContext = CloudShuffleEnv.ioEc
    val fut = Future.sequence((0 until folderPrefixes).map { p =>
      Future {
        try fs.delete(path(p), true)
        catch { case e: Exception => logDebug(s"delete ${path(p)}: $e") }
      }
    })
    try Await.result(fut, Duration.Inf)
    catch { case e: Exception => logWarning(s"parallel delete failed: $e") }
  }
}

object CloudShuffleEnv extends Logging {
  val ROOT_DIR_KEY = "spark.shuffle.cloud.rootDir"
  val PREFIXES_KEY = "spark.shuffle.cloud.folderPrefixes"
  val MAX_BUFFER_TASK_KEY = "spark.shuffle.cloud.maxBufferSizeTask"
  val VALIDATE_KEY = "spark.shuffle.cloud.checksum.validate"
  val MAX_EXEC_CONCURRENCY_KEY = "spark.shuffle.cloud.maxConcurrencyExecutor"

  /** Every `spark.shuffle.cloud.*` option; the manager refuses any other. */
  val KEYS: Seq[String] = Seq(ROOT_DIR_KEY, PREFIXES_KEY, MAX_BUFFER_TASK_KEY,
    VALIDATE_KEY, MAX_EXEC_CONCURRENCY_KEY)

  /** Buffer in front of every data PUT. It only coalesces small write()
    * calls ahead of the FS client's own buffering, which sets the PUT
    * granularity. */
  val WRITE_BUFFER_SIZE: Int = 1 << 20

  /** Daemon pool for the per-prefix deletes and a commit's index and
    * checksum PUTs. It grows with demand, so a commit never waits for
    * another task's requests. */
  private[cloud] val ioEc: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "cloud-shuffle-io")
      t.setDaemon(true)
      t
    })

  @volatile private var instance: CloudShuffleEnv = _

  /** Get (or lazily create) the process-wide env. `appIdHint` comes from
    * `ShuffleExecutorComponents.initializeExecutor`; on the driver the app
    * id is read from the SparkConf once the context has set it. */
  def get(appIdHint: Option[String] = None): CloudShuffleEnv = {
    val cur = instance
    val wantApp = appIdHint.orElse(currentAppId)
    if (cur != null && wantApp.forall(_ == cur.appId)) return cur
    synchronized {
      val cur2 = instance
      val wantApp2 = appIdHint.orElse(currentAppId)
      if (cur2 != null && wantApp2.forall(_ == cur2.appId)) return cur2
      val conf = Option(SparkEnv.get).map(_.conf).getOrElse(new SparkConf())
      val appId = wantApp2.getOrElse(
        throw new IllegalStateException("cloud shuffle: no app id available yet"))
      // the FS is a private newInstance (not the JVM-cached one) — close
      // the replaced env's handle and pool instead of leaking them per context
      if (cur2 != null) cur2.close()
      instance = new CloudShuffleEnv(conf, appId)
      CloudShuffleIndex.purgeAll()
      logInfo(s"cloud shuffle env for app $appId rooted at ${instance.rootDir}")
      instance
    }
  }

  private def currentAppId: Option[String] =
    Option(SparkEnv.get).flatMap(e => e.conf.getOption("spark.app.id"))

  /** Test hook: drop the singleton so a new SparkContext re-creates it. */
  def reset(): Unit = synchronized {
    if (instance != null) instance.close()
    instance = null
    CloudShuffleIndex.purgeAll()
  }
}
