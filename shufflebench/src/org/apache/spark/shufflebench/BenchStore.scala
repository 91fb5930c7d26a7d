package org.apache.spark.shufflebench

import java.io.OutputStream
import java.net.URI
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, FSInputStream, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The benchmark's object store: the raw local file system (no `.crc`
  * sidecars) under its own scheme, registered through
  * `spark.hadoop.fs.benchstore.impl` and used as the plugin's rootDir.
  *
  * Every request the plugin makes is counted by kind (GET = open,
  * PUT = create, LIST, DELETE, EXISTS = exists/getFileStatus) together with
  * the bytes moved. `fs.benchstore.latency.ms` adds a fixed delay to every
  * request: before an open/list/delete/exists returns, and when a PUT's
  * stream closes (the upload). `fs.benchstore.bandwidth.mib_s` caps each
  * GET and PUT stream at that many MiB per second: a read or write that
  * gets ahead of the cap sleeps until the stream is back on it. Calls the
  * local FS makes into itself while serving a request (the parent
  * `exists`/`mkdirs` inside `create`) are neither counted nor delayed.
  *
  * With [[BenchStore.tracing]] on, each GET and PUT also records a span
  * whose self time is the time spent inside store calls on its behalf, and
  * each GET samples how many GETs are in flight.
  */
class BenchStore extends RawLocalFileSystem {
  import BenchStore._

  private var latencyMs = 0L
  private var bytesPerSec = 0.0

  override def getUri: URI = Uri

  override def getScheme: String = Scheme

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    latencyMs = conf.getLong(LatencyKey, 0L)
    bytesPerSec = conf.getDouble(BandwidthKey, 0.0) * 1048576.0
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    request(Get, super.open(f, bufferSize)) { (in, t0) =>
      new FSDataInputStream(new CountingInput(in, t0))
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    request(Put, super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress))(countingOutput)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    request(Put, super.create(f, overwrite, bufferSize, replication, blockSize, progress))(
      countingOutput)

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    request(Put, super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))(countingOutput)

  override def listStatus(f: Path): Array[FileStatus] =
    request(ListDir, super.listStatus(f))((r, _) => r)

  override def delete(f: Path, recursive: Boolean): Boolean =
    request(Delete, super.delete(f, recursive))((r, _) => r)

  override def exists(f: Path): Boolean =
    request(Exists, super.exists(f))((r, _) => r)

  override def getFileStatus(f: Path): FileStatus =
    request(Exists, super.getFileStatus(f))((r, _) => r)

  /** Count and delay one top-level request; nested calls pass straight
    * through. `wrap` gets the result and the request's start time. GET
    * latency lands before the stream is handed out, PUT latency at close. */
  private def request[T](op: Int, body: => T)(wrap: (T, Long) => T): T = {
    if (depth.get() > 0) return body
    val t0 = if (tracing) System.nanoTime() else 0L
    counts(op).increment()
    if (op == Get) startGet()
    depth.set(1)
    try {
      if (op != Put) pause()
      wrap(body, t0)
    } catch {
      case e: Throwable =>
        if (op == Get) inflight.decrementAndGet()
        throw e
    } finally depth.set(0)
  }

  /** A GET is in flight from its request until its stream closes. */
  private def startGet(): Unit = {
    val n = inflight.incrementAndGet()
    if (tracing) {
      inflightSum.add(n)
      inflightSamples.increment()
      inflightMax.accumulateAndGet(n, math.max)
    }
  }

  private def pause(): Unit = if (latencyMs > 0) Thread.sleep(latencyMs)

  /** Holds one stream to `bytesPerSec`, counted from its first transfer. */
  private final class Pacer {
    private var start = 0L
    private var moved = 0L

    def apply(n: Long): Unit = if (bytesPerSec > 0 && n > 0) {
      if (moved == 0) start = System.nanoTime()
      moved += n
      val ahead = start + (moved * 1e9 / bytesPerSec).toLong - System.nanoTime()
      if (ahead > 0) Thread.sleep(ahead / 1000000, (ahead % 1000000).toInt)
    }
  }

  private def countingOutput(out: FSDataOutputStream, t0: Long): FSDataOutputStream =
    new FSDataOutputStream(new CountingOutput(out, t0), null)

  /** Read side of one GET: byte counting, store-time accounting, in-flight
    * bookkeeping. Positioned reads go straight to the local stream. */
  private final class CountingInput(in: FSDataInputStream, t0: Long) extends FSInputStream {
    private var storeNanos = if (tracing) System.nanoTime() - t0 else 0L
    private var closed = false
    private val pace = new Pacer

    private def timed[A](f: => A): A =
      if (!tracing) f
      else {
        val s = System.nanoTime()
        try f finally storeNanos += System.nanoTime() - s
      }

    private def got(n: Int): Int = {
      if (n > 0) {
        getBytes.add(n)
        pace(n)
      }
      n
    }

    override def read(): Int = timed {
      val b = in.read()
      if (b >= 0) got(1)
      b
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = timed(got(in.read(b, off, len)))

    override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
      timed(got(in.read(position, b, off, len)))

    override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = timed {
      in.readFully(position, b, off, len)
      got(len)
    }

    override def readFully(position: Long, b: Array[Byte]): Unit =
      readFully(position, b, 0, b.length)

    override def seek(pos: Long): Unit = in.seek(pos)

    override def getPos: Long = in.getPos

    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)

    override def available(): Int = in.available()

    override def close(): Unit = if (!closed) {
      closed = true
      timed(in.close())
      inflight.decrementAndGet()
      if (tracing) Spans.add("store.get", t0, System.nanoTime(), storeNanos)
    }
  }

  /** Write side of one PUT: the object becomes visible when the stream
    * closes, which is where the request latency is paid. */
  private final class CountingOutput(out: FSDataOutputStream, t0: Long) extends OutputStream {
    private var storeNanos = if (tracing) System.nanoTime() - t0 else 0L
    private var closed = false
    private val pace = new Pacer

    private def timed[A](f: => A): A =
      if (!tracing) f
      else {
        val s = System.nanoTime()
        try f finally storeNanos += System.nanoTime() - s
      }

    override def write(b: Int): Unit = timed {
      out.write(b)
      putBytes.increment()
      pace(1)
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = timed {
      out.write(b, off, len)
      putBytes.add(len)
      pace(len)
    }

    override def flush(): Unit = timed(out.flush())

    override def close(): Unit = if (!closed) {
      closed = true
      timed {
        pause()
        out.close()
      }
      if (tracing) Spans.add("store.put", t0, System.nanoTime(), storeNanos)
    }
  }
}

object BenchStore {
  val Scheme = "benchstore"
  val Uri: URI = URI.create(s"$Scheme:///")
  val LatencyKey = "fs.benchstore.latency.ms"
  val BandwidthKey = "fs.benchstore.bandwidth.mib_s"

  val Get = 0
  val Put = 1
  val ListDir = 2
  val Delete = 3
  val Exists = 4
  val OpNames: Seq[String] = Seq("get", "put", "list", "delete", "exists")

  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private val counts = Array.fill(OpNames.size)(new LongAdder)
  private val getBytes = new LongAdder
  private val putBytes = new LongAdder
  private val inflight = new AtomicInteger(0)
  private val inflightSum = new LongAdder
  private val inflightSamples = new LongAdder
  private val inflightMax = new AtomicInteger(0)

  /** Per-request timings and in-flight sampling; off in untraced lanes. */
  @volatile var tracing: Boolean = false

  /** Everything the store saw since the last [[reset]]. */
  final case class Snapshot(counts: Seq[Long], getBytes: Long, putBytes: Long,
      inflightSum: Long, inflightSamples: Long, inflightMax: Int) {
    def count(op: Int): Long = counts(op)
    def requests: Long = counts.sum
  }

  def reset(): Unit = {
    counts.foreach(_.reset())
    Seq(getBytes, putBytes, inflightSum, inflightSamples).foreach(_.reset())
    inflightMax.set(0)
  }

  def snapshot(): Snapshot =
    Snapshot(counts.map(_.sum()).toSeq, getBytes.sum(), putBytes.sum(), inflightSum.sum(),
      inflightSamples.sum(), inflightMax.get())
}
