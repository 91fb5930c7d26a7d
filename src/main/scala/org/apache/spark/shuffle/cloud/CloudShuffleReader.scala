package org.apache.spark.shuffle.cloud

import java.io.InputStream

import org.apache.spark.{InterruptibleIterator, SparkEnv, TaskContext}
import org.apache.spark.internal.{config => SparkConfig}
import org.apache.spark.io.CompressionCodec
import org.apache.spark.serializer.SerializerManager
import org.apache.spark.shuffle.{BaseShuffleHandle, ShuffleReader, ShuffleReadMetricsReporter}
import org.apache.spark.storage.{BlockId, ShuffleBlockBatchId, ShuffleBlockId}
import org.apache.spark.util.CompletionIterator
import org.apache.spark.util.collection.ExternalSorter

/** Reduce-side read pipeline (reference: `S3ShuffleReader.scala:37-198`):
  *
  *  1. enumerate this reducer's blocks from the driver's MapOutputTracker;
  *  2. merge contiguous reduce ranges of the same map output into batch
  *     reads when the serializer/codec make concatenation safe — fewer,
  *     larger ranged GETs;
  *  3. slice each map's data blob via its prefix-sum index;
  *  4. prefetch concurrently, admitted by bytes under Spark's per-task
  *     `spark.reducer.maxSizeInFlight`, on the executor's bounded fetch
  *     pool;
  *  5. (optional) validate per-partition checksums while streaming;
  *  6. decrypt/decompress, deserialize, then apply the dependency's
  *     aggregation and key ordering exactly as Spark's own reader would.
  */
private[cloud] class CloudShuffleReader[K, C](
    handle: BaseShuffleHandle[K, _, C],
    startMapIndex: Int,
    endMapIndex: Int,
    startPartition: Int,
    endPartition: Int,
    context: TaskContext,
    readMetrics: ShuffleReadMetricsReporter,
    shouldBatchFetch: Boolean)
    extends ShuffleReader[K, C] {

  private val env = CloudShuffleEnv.get()
  private val dep = handle.dependency
  private val serializerManager: SerializerManager = SparkEnv.get.serializerManager

  /** Batch fetch is only sound when concatenated serialized streams are
    * still decodable: relocatable serializer, and either no compression or
    * a codec whose frames concatenate (reference predicate,
    * `S3ShuffleReader.scala:55-75`). */
  private def batchFetchAllowed: Boolean = {
    val conf = SparkEnv.get.conf
    val serializerRelocatable = dep.serializer.supportsRelocationOfSerializedObjects
    val compressed = conf.get(SparkConfig.SHUFFLE_COMPRESS)
    val codecConcat = !compressed ||
      CompressionCodec.supportsConcatenationOfSerializedStreams(
        CompressionCodec.createCodec(conf, conf.get(SparkConfig.IO_COMPRESSION_CODEC)))
    val encrypted = conf.get(SparkConfig.IO_ENCRYPTION_ENABLED)
    shouldBatchFetch && serializerRelocatable && codecConcat && !encrypted
  }

  private def reduceRange(blockId: BlockId): (MapOutputId, Int, Int) = blockId match {
    case ShuffleBlockId(s, m, r)           => (MapOutputId(s, m), r, r + 1)
    case ShuffleBlockBatchId(s, m, rs, re) => (MapOutputId(s, m), rs, re)
    case other =>
      throw new IllegalArgumentException(s"unexpected shuffle block $other")
  }

  override def read(): Iterator[Product2[K, C]] = {
    // the tracker holds one committed attempt per map, so a duplicate
    // attempt left on the store is never read
    val rawBlocks = SparkEnv.get.mapOutputTracker.getMapSizesByExecutorId(
      handle.shuffleId, startMapIndex, endMapIndex, startPartition, endPartition)
      .flatMap(_._2.map(t => (t._1, t._2))).filter(_._2 > 0).toSeq
    val blocks = if (batchFetchAllowed) CloudShuffleReader.mergeContiguous(rawBlocks) else rawBlocks

    readMetrics.incRemoteBlocksFetched(blocks.size)

    // resolve each block to a byte range of its map's data blob; the
    // partition count fixes the index's and checksums' lengths
    val partitions = dep.partitioner.numPartitions
    val ranged: IndexedSeq[(BlockId, Long, InputStream)] =
      blocks.iterator.flatMap { case (blockId, _) =>
        val (mapOutput, rs, re) = reduceRange(blockId)
        val offsets = env.readIndex(mapOutput, partitions)
        val (from, to) = (offsets(rs), offsets(re))
        if (to <= from) None
        else {
          readMetrics.incRemoteBytesRead(to - from)
          val base = new CloudBlockStream(env, mapOutput, from, to)
          val validated: InputStream =
            if (env.validateChecksums)
              new ChecksumValidatingStream(base, blockId.name, env.checksumAlgorithm,
                offsets, env.readChecksums(mapOutput, partitions), rs, re)
            else base
          Some((blockId, to - from, validated))
        }
      }.toIndexedSeq

    val fetched = new CloudPrefetchIterator(env, ranged, readMetrics)
    // a consumer that stops early (take/limit, task kill) leaves fetched
    // blocks queued, their tail streams open, until this stops them
    context.addTaskCompletionListener[Unit](_ => fetched.close())

    val serializerInstance = dep.serializer.newInstance()
    val recordIter = fetched.flatMap { case (blockId, in) =>
      // decrypt + decompress exactly as the write side encoded it
      val wrapped = serializerManager.wrapStream(blockId, in)
      serializerInstance.deserializeStream(wrapped).asKeyValueIterator
    }

    // The reporter Spark hands getReader is a per-dependency
    // TempShuffleReadMetrics (possibly wrapped by the SQL reporter): its
    // values reach the TASK's ShuffleReadMetrics accumulators only when
    // TaskMetrics.mergeShuffleReadMetrics() folds the temps in. Spark's
    // own reader triggers that merge when its fetch iterator completes;
    // without it, per-task read metrics survive only if an executor
    // HEARTBEAT (10 s default) happens to fire mid-task — short reduce
    // tasks silently report 0 shuffle bytes read (observed: bench read
    // volumes flapping between full and zero run-to-run). setMergeValues
    // overwrites from the temp list, so merging here AND at task
    // completion (for early-terminated limit/take consumers that never
    // exhaust the iterator) cannot double-count.
    context.addTaskCompletionListener[Unit] { _ =>
      context.taskMetrics().mergeShuffleReadMetrics()
    }
    val metricIter = CompletionIterator[(Any, Any), Iterator[(Any, Any)]](
      recordIter.map { record =>
        readMetrics.incRecordsRead(1)
        record
      }, context.taskMetrics().mergeShuffleReadMetrics())

    val interruptibleIter = new InterruptibleIterator[(Any, Any)](context, metricIter)

    val aggregatedIter: Iterator[Product2[K, C]] = if (dep.aggregator.isDefined) {
      if (dep.mapSideCombine) {
        val combinedKeyValuesIterator =
          interruptibleIter.asInstanceOf[Iterator[(K, C)]]
        dep.aggregator.get.combineCombinersByKey(combinedKeyValuesIterator, context)
      } else {
        val keyValuesIterator =
          interruptibleIter.asInstanceOf[Iterator[(K, Nothing)]]
        dep.aggregator.get.combineValuesByKey(keyValuesIterator, context)
      }
    } else {
      interruptibleIter.asInstanceOf[Iterator[Product2[K, C]]]
    }

    dep.keyOrdering match {
      case Some(keyOrd: Ordering[K]) =>
        // spillable sort, same as Spark's BlockStoreShuffleReader
        val sorter = new ExternalSorter[K, C, C](
          context, ordering = Some(keyOrd), serializer = dep.serializer)
        sorter.insertAllAndUpdateMetrics(aggregatedIter)
      case None =>
        aggregatedIter
    }
  }
}

object CloudShuffleReader {

  /** Merge runs of contiguous reduce partitions of the same map output into
    * single ShuffleBlockBatchId ranges. */
  private[cloud] def mergeContiguous(blocks: Seq[(BlockId, Long)]): Seq[(BlockId, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(BlockId, Long)]
    var run: ShuffleBlockBatchId = null
    var runSize = 0L
    def flush(): Unit = if (run != null) {
      val id = if (run.endReduceId - run.startReduceId == 1)
        ShuffleBlockId(run.shuffleId, run.mapId, run.startReduceId)
      else run
      out += ((id, runSize))
      run = null
    }
    blocks.foreach {
      case (b: ShuffleBlockId, size) =>
        if (run != null && run.shuffleId == b.shuffleId && run.mapId == b.mapId &&
            run.endReduceId == b.reduceId) {
          run = ShuffleBlockBatchId(run.shuffleId, run.mapId, run.startReduceId, b.reduceId + 1)
          runSize += size
        } else {
          flush()
          run = ShuffleBlockBatchId(b.shuffleId, b.mapId, b.reduceId, b.reduceId + 1)
          runSize = size
        }
      case (other, size) =>
        flush()
        out += ((other, size))
    }
    flush()
    out.toSeq
  }
}
