package org.apache.spark.shuffle.cloud

import java.io.{IOException, OutputStream}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Abortable, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem,
  StreamCapabilities}
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkConf

/** Test store: the raw local file system under the `gatefs` scheme, with
  * optional barriers that make concurrency observable.
  *
  *  - `fs.gatefs.open.parties` = n: every `open` (a GET) waits until n opens
  *    are in progress together;
  *  - `fs.gatefs.open.delay.ms` = d: every `open` then sleeps d ms;
  *  - `fs.gatefs.close.parties` = n: every output stream's `close` (the
  *    moment a PUT lands) waits until n closes are in progress together;
  *  - `fs.gatefs.close.delay.ms` = d: every output stream's `close` then
  *    sleeps d ms;
  *  - `fs.gatefs.fail.data.close` = true: closing a `.data` object throws
  *    after its bytes are on disk, as a failed upload would;
  *  - `fs.gatefs.abortable` = true: output streams report
  *    `StreamCapabilities.ABORTABLE_STREAM`, and `abort()` drops the upload:
  *    the object never lands, as on an object store.
  *
  * A barrier that is not met within 10 s breaks, failing the request. The
  * store records the peak number of opens and closes in progress at once,
  * the number of input and output streams open now, the number of `.data`
  * uploads completed, the number of `delete` calls, and whether the store
  * has been closed.
  */
class GatedStore extends RawLocalFileSystem {
  import GatedStore._

  private var openGate: Option[CyclicBarrier] = None
  private var closeGate: Option[CyclicBarrier] = None
  private var openDelayMs = 0L
  private var closeDelayMs = 0L
  private var failDataClose = false
  private var abortable = false

  val opens = new AtomicInteger(0)
  val openInputs = new AtomicInteger(0)
  val openOutputs = new AtomicInteger(0)
  val dataPuts = new AtomicInteger(0)
  val deletes = new AtomicInteger(0)
  val opensPeak = new Peak
  val closesPeak = new Peak
  @volatile var closed = false

  override def getUri: URI = Uri

  override def getScheme: String = Scheme

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    def gate(key: String) = Option(conf.getInt(key, 0)).filter(_ > 0).map(new CyclicBarrier(_))
    openGate = gate(OpenPartiesKey)
    closeGate = gate(ClosePartiesKey)
    openDelayMs = conf.getLong(OpenDelayKey, 0L)
    closeDelayMs = conf.getLong(CloseDelayKey, 0L)
    failDataClose = conf.getBoolean(FailDataCloseKey, false)
    abortable = conf.getBoolean(AbortableKey, false)
  }

  override def close(): Unit = {
    closed = true
    super.close()
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  /** An aborted upload never lands; dropping it is not a delete request. */
  private def discard(f: Path): Unit = super.delete(f, false)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    val in = opensPeak.during(openGate) {
      if (openDelayMs > 0) Thread.sleep(openDelayMs)
      super.open(f, bufferSize)
    }
    openInputs.incrementAndGet()
    new FSDataInputStream(in) {
      private var closed = false
      override def close(): Unit = {
        if (!closed) openInputs.decrementAndGet()
        closed = true
        super.close()
      }
    }
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    gated(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  private def gated(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    openOutputs.incrementAndGet()
    new FSDataOutputStream(new OutputStream with Abortable with StreamCapabilities {
      private var closed = false
      override def write(b: Int): Unit = out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def flush(): Unit = out.flush()
      override def close(): Unit = closesPeak.during(closeGate) {
        if (!closed) openOutputs.decrementAndGet()
        closed = true
        if (closeDelayMs > 0) Thread.sleep(closeDelayMs)
        out.close()
        if (failDataClose && f.getName.endsWith(".data")) {
          throw new IOException(s"injected upload failure for ${f.getName}")
        }
        if (f.getName.endsWith(".data")) dataPuts.incrementAndGet()
      }
      override def hasCapability(capability: String): Boolean =
        abortable && capability == StreamCapabilities.ABORTABLE_STREAM
      override def abort(): Abortable.AbortableResult = {
        val wasClosed = closed
        if (!closed) {
          openOutputs.decrementAndGet()
          closed = true
          out.close()
          discard(f)
        }
        new Abortable.AbortableResult {
          override def alreadyClosed(): Boolean = wasClosed
          override def anyCleanupException(): IOException = null
        }
      }
    }, null)
  }
}

object GatedStore {
  val Scheme = "gatefs"
  val Uri: URI = URI.create(s"$Scheme:///")
  val OpenPartiesKey = "fs.gatefs.open.parties"
  val ClosePartiesKey = "fs.gatefs.close.parties"
  val OpenDelayKey = "fs.gatefs.open.delay.ms"
  val CloseDelayKey = "fs.gatefs.close.delay.ms"
  val FailDataCloseKey = "fs.gatefs.fail.data.close"
  val AbortableKey = "fs.gatefs.abortable"

  /** Plugin settings rooted at a fresh `gatefs` directory; `store` keys are
    * the store's own (e.g. [[OpenPartiesKey]]). */
  def sparkConf(store: (String, String)*): SparkConf = {
    val root = Files.createTempDirectory("gated-store").toUri.getPath
    val conf = new SparkConf()
      .set(CloudShuffleEnv.ROOT_DIR_KEY, s"$Scheme://$root")
      .set(s"spark.hadoop.fs.$Scheme.impl", classOf[GatedStore].getName)
    store.foreach { case (k, v) => conf.set(s"spark.hadoop.$k", v) }
    conf
  }

  /** [[sparkConf]] plus what a `local[4]` SparkContext needs to shuffle
    * through the plugin. */
  def localSparkConf(appName: String, store: (String, String)*): SparkConf =
    sparkConf(store: _*)
      .setMaster("local[4]")
      .setAppName(appName)
      .set("spark.ui.enabled", "false")
      .set("spark.shuffle.manager", classOf[CloudShuffleManager].getName)
      .set("spark.shuffle.reduceLocality.enabled", "false")

  /** Names of every object under an env's store root. */
  def objects(env: CloudShuffleEnv): Seq[String] = objects(env.rootDir)

  /** Names of every object under a store root. */
  def objects(rootDir: String): Seq[String] = paths(rootDir).map(_.split('/').last)

  /** Paths of every object under an env's store root, relative to it. */
  def paths(env: CloudShuffleEnv): Seq[String] = paths(env.rootDir)

  private def paths(rootDir: String): Seq[String] = {
    val root = Paths.get(URI.create(rootDir).getPath)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(root.relativize(_).toString).toSeq
    finally walk.close()
  }

  /** Counts calls in progress and keeps the highest count seen. */
  final class Peak {
    private val now = new AtomicInteger(0)
    private val peak = new AtomicInteger(0)

    def get: Int = peak.get()

    def during[T](gate: Option[CyclicBarrier])(body: => T): T = {
      peak.accumulateAndGet(now.incrementAndGet(), math.max)
      try {
        gate.foreach(_.await(10, TimeUnit.SECONDS))
        body
      } finally now.decrementAndGet()
    }
  }
}
