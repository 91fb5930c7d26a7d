package org.apache.spark.shuffle.cloud

import java.io.{BufferedOutputStream, IOException, OutputStream}
import java.util.Collections

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.{FSDataOutputStream, StreamCapabilities}
import org.apache.spark.{SparkConf, TaskContext}
import org.apache.spark.internal.Logging
import org.apache.spark.shuffle.api._
import org.apache.spark.shuffle.api.metadata.MapOutputCommitMessage

/** `ShuffleDataIO` plugin: Spark's writers stream their output through these
  * components, which is where the redirection to the Hadoop-FS object store
  * happens (reference: `S3ShuffleDataIO.scala:22-69`).
  */
class CloudShuffleDataIO(conf: SparkConf) extends ShuffleDataIO {
  override def executor(): ShuffleExecutorComponents = new CloudExecutorComponents
  override def driver(): ShuffleDriverComponents = new CloudDriverComponents
}

/** The env is the running manager's, so the executor needs no setup. */
private[cloud] class CloudExecutorComponents extends ShuffleExecutorComponents {

  override def initializeExecutor(appId: String, execId: String,
      extraConfigs: java.util.Map[String, String]): Unit = ()

  override def createMapOutputWriter(shuffleId: Int, mapTaskId: Long,
      numPartitions: Int): ShuffleMapOutputWriter =
    new CloudMapOutputWriter(CloudShuffleEnv.get(), shuffleId, mapTaskId, numPartitions)
}

private[cloud] class CloudDriverComponents extends ShuffleDriverComponents with Logging {

  override def initializeApplication(): java.util.Map[String, String] = Collections.emptyMap()

  override def cleanupApplication(): Unit = {
    val env = CloudShuffleEnv.get()
    logInfo(s"cleaning up cloud shuffle folders under ${env.rootDir}")
    env.deleteAppFolders()
  }

  override def removeShuffle(shuffleId: Int, blocking: Boolean): Unit =
    CloudShuffleEnv.get().removeShuffle(shuffleId)

  /** Shuffle data lives on the object store, not on executors — executor
    * loss does not invalidate map outputs. */
  override def supportsReliableStorage(): Boolean = true
}

/** Streams every reduce partition of one map task into its map output's
  * data object and records per-partition lengths; on commit, writes the
  * prefix-sum index and checksum objects. Every Spark writer commits
  * through this class: the serialized writer merges even a single spill
  * through its partition streams.
  *
  * One object per map task (reference: `S3ShuffleMapOutputWriter.scala:22`)
  * keeps object-store request counts O(maps), not O(maps × reducers) —
  * the property that makes the layout survive 100 TB shuffles.
  *
  * A map output still neither committed nor aborted when its task ends is
  * aborted then: Spark's sort writer does not abort on a failed write, and
  * its open data stream and partial object would otherwise outlive the
  * task.
  */
private[cloud] class CloudMapOutputWriter(env: CloudShuffleEnv, shuffleId: Int,
    mapId: Long, numPartitions: Int) extends ShuffleMapOutputWriter with Logging {

  import CloudShuffleEnv.{Checksum, Data, Index}

  private val id = MapOutputId(shuffleId, mapId)
  private val partitionLengths = new Array[Long](numPartitions)
  private var lastPartitionId = -1
  private var bytesWritten = 0L
  private var raw: FSDataOutputStream = _ // the store's stream, for abort
  private var stream: OutputStream = _ // raw behind the write buffer
  private var finished = false // committed or aborted
  private var created = List.empty[String] // kinds of the objects created, for abort

  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
    if (!finished) abort(new IOException(s"map task ended before committing map $mapId"))
  })

  private def ensureStream(): OutputStream = {
    if (stream == null) {
      created ::= Data
      raw = env.create(id, Data)
      stream = new BufferedOutputStream(raw, CloudShuffleEnv.WRITE_BUFFER_SIZE)
    }
    stream
  }

  override def getPartitionWriter(reducePartitionId: Int): ShufflePartitionWriter = {
    if (reducePartitionId <= lastPartitionId) {
      throw new IllegalArgumentException(
        s"partition writers must be requested in monotonic order: " +
          s"$reducePartitionId after $lastPartitionId")
    }
    lastPartitionId = reducePartitionId
    new PartitionWriter(reducePartitionId)
  }

  private final class PartitionWriter(partitionId: Int) extends ShufflePartitionWriter {
    private var count = 0L

    private def recordBytes(n: Long): Unit = {
      count += n
      partitionLengths(partitionId) = count
      bytesWritten += n
    }

    override def openStream(): OutputStream = new OutputStream {
      private val under = ensureStream()
      override def write(b: Int): Unit = {
        under.write(b)
        recordBytes(1)
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        under.write(b, off, len)
        recordBytes(len)
      }
      override def flush(): Unit = {} // object-store writes are commit-once
      override def close(): Unit = {} // shared stream closes at commit
    }

    override def getNumBytesWritten: Long = count
  }

  /** An all-empty map output stores no object: the tracker reports its
    * blocks as 0 bytes, so no reader asks for them. Otherwise the index and
    * checksum (when Spark computes one) PUTs start on the env's I/O pool
    * while the data PUT finishes on the calling thread, so the task waits
    * out one store latency instead of three. Returns or throws only once
    * every PUT has finished; if any failed, the map output is aborted, so a
    * failed commit leaves nothing a reader could see. Spark's writers time
    * their record writes but not the commit, so its wall time is added to
    * the task's shuffle write time here. */
  override def commitAllPartitions(checksums: Array[Long]): MapOutputCommitMessage = {
    implicit val ec: ExecutionContext = env.ioPool
    val t0 = System.nanoTime()
    val total = partitionLengths.sum
    def put(kind: String)(write: => Unit): Future[Unit] = { created ::= kind; Future(write) }
    val puts =
      if (total == 0) Nil
      else Seq(put(Index)(env.writeIndex(id, partitionLengths))) ++
        Option.when(env.checksumEnabled && checksums.nonEmpty)(put(Checksum)(env.writeChecksums(id, checksums)))
    val dataError =
      try {
        if (stream != null) stream.close()
        if (total != bytesWritten) {
          throw new IOException(
            s"cloud shuffle corruption: partition lengths sum to $total " +
              s"but $bytesWritten bytes were written")
        }
        None
      } catch { case t: Throwable => Some(t) }
    val error = (dataError +: puts.map(settle)).flatten.headOption
    Option(TaskContext.get()).foreach(
      _.taskMetrics().shuffleWriteMetrics.incWriteTime(System.nanoTime() - t0))
    error.foreach { e =>
      abort(e)
      throw e
    }
    finished = true
    MapOutputCommitMessage.of(partitionLengths)
  }

  /** Waits for `f` even across an interrupt; the interrupt then fails the
    * commit. */
  private def settle(f: Future[Unit]): Option[Throwable] =
    try Await.ready(f, Duration.Inf).value.get.failed.toOption
    catch { case e: InterruptedException => settle(f).orElse(Some(e)) }

  /** Discards the data stream, then deletes the objects this writer
    * created and forgets the map output's cached index. Idempotent. A store
    * stream that can abort drops the upload; closing it would first complete
    * the PUT of the partial object, only to delete it. Other streams close,
    * and the delete removes what they stored. */
  override def abort(error: Throwable): Unit = {
    finished = true
    try {
      if (raw != null && raw.hasCapability(StreamCapabilities.ABORTABLE_STREAM)) raw.abort()
      else if (stream != null) stream.close()
    } catch { case e: Exception => logDebug(s"abort close: $e") }
    env.deleteMapOutput(id, created)
    created = Nil
  }
}
