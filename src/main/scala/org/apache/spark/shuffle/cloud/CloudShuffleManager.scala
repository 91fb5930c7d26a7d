package org.apache.spark.shuffle.cloud

import org.apache.spark.{ShuffleDependency, SparkConf, TaskContext}
import org.apache.spark.scheduler.MapStatus
import org.apache.spark.shuffle._
import org.apache.spark.shuffle.sort.SortShuffleManager
import org.apache.spark.storage.FallbackStorage

/** Cloud-backed `ShuffleManager`: shuffle data lives on a Hadoop-FS object
  * store instead of executor local disk, enabling elastic scaling and
  * executor decommissioning without shuffle recomputation.
  *
  * Re-expression of the reference's manager
  * (`sort/S3ShuffleManager.scala:38-187`) for Spark 4.1.2. Handle selection
  * and the three writers are Spark's `SortShuffleManager`'s own; the
  * redirection happens entirely inside [[CloudShuffleDataIO]]'s components,
  * which every writer streams through. This manager opens the JVM's
  * [[CloudShuffleEnv]] and closes it at `stop()`, adds the store's
  * registration and deletion around the superclass's, relocates each
  * committed map status, and reads through [[CloudShuffleReader]]. It sets
  * [[CloudShuffleDataIO]] in its conf before Spark loads the `ShuffleDataIO`
  * from that conf.
  *
  * Usage:
  * {{{
  *   spark.shuffle.manager=org.apache.spark.shuffle.cloud.CloudShuffleManager
  *   spark.shuffle.cloud.rootDir=s3a://bucket/shuffle   (or any Hadoop FS)
  *   spark.shuffle.reduceLocality.enabled=false         (required: relocated
  *     map outputs name a synthetic host delay scheduling can wait on forever)
  * }}}
  */
class CloudShuffleManager(conf: SparkConf) extends SortShuffleManager(conf) {

  // fail fast on any other ShuffleDataIO: the writers would scatter shuffle
  // files onto executor-local disk while the reader looks at the store
  // (reference keeps the same gate, `S3ShuffleManager.scala:190-195`)
  {
    val pluginKey = "spark.shuffle.sort.io.plugin.class"
    conf.setIfMissing(pluginKey, classOf[CloudShuffleDataIO].getName)
    val plugin = conf.get(pluginKey)
    require(plugin == classOf[CloudShuffleDataIO].getName,
      s"CloudShuffleManager requires $pluginKey=" +
        s"${classOf[CloudShuffleDataIO].getName} (found '$plugin')")
    // Push-based shuffle writes ShufflePushBlockId/ShuffleMergedBlockId
    // blocks through external merger services that never exist on an
    // object-store layout, which keeps only whole map outputs. Refuse at
    // init with the fix spelled out (push-based merging is moot when every
    // reducer already reads merged ranges straight from the store).
    require(!conf.getBoolean("spark.shuffle.push.enabled", defaultValue = false),
      "cloud shuffle does not support push-based shuffle; set " +
        "spark.shuffle.push.enabled=false (merged-block IDs have no " +
        "object-store path, and server-side merge adds nothing when " +
        "reducers already read contiguous ranges from the store)")
    // a misspelt or removed option would otherwise be silently ignored
    val unknown = conf.getAll.map(_._1)
      .filter(k => k.startsWith("spark.shuffle.cloud.") && !CloudShuffleEnv.KEYS.contains(k)).sorted
    require(unknown.isEmpty,
      s"unknown cloud shuffle option(s) ${unknown.mkString(", ")}; the known options are " +
        CloudShuffleEnv.KEYS.mkString(", "))
    // MapStatus relocation makes every map output advertise the fallback
    // block manager's fake host, which reduce locality then turns into a
    // preferred location no executor can ever satisfy. Under delay
    // scheduling (spark.locality.wait > 0) such a task can starve
    // INDEFINITELY once no other task-finish event re-offers resources.
    // Object-store shuffle has no reduce locality to exploit anyway.
    if (conf.getBoolean("spark.shuffle.reduceLocality.enabled", defaultValue = true)) {
      logWarning("cloud shuffle: spark.shuffle.reduceLocality.enabled=true with " +
        "MapStatus relocation makes the fallback host every reducer's preferred " +
        "location and can DEADLOCK delay scheduling on an idle cluster; set " +
        "spark.shuffle.reduceLocality.enabled=false")
    }
  }

  CloudShuffleEnv.open(conf)

  override def registerShuffle[K, V, C](shuffleId: Int,
      dependency: ShuffleDependency[K, V, C]): ShuffleHandle = {
    CloudShuffleEnv.get().registerShuffle(shuffleId)
    super.registerShuffle(shuffleId, dependency)
  }

  override def getWriter[K, V](handle: ShuffleHandle, mapId: Long,
      context: TaskContext,
      metrics: ShuffleWriteMetricsReporter): ShuffleWriter[K, V] =
    new RelocatingShuffleWriter(super.getWriter[K, V](handle, mapId, context, metrics))

  override def getReader[K, C](handle: ShuffleHandle, startMapIndex: Int,
      endMapIndex: Int, startPartition: Int, endPartition: Int,
      context: TaskContext,
      metrics: ShuffleReadMetricsReporter): ShuffleReader[K, C] = {
    val batch = SortShuffleManager.canUseBatchFetch(startPartition, endPartition, context)
    new CloudShuffleReader(
      handle.asInstanceOf[BaseShuffleHandle[K, _, C]],
      startMapIndex, endMapIndex, startPartition, endPartition,
      context, metrics, shouldBatchFetch = batch)
  }

  override def unregisterShuffle(shuffleId: Int): Boolean = {
    CloudShuffleEnv.get().removeShuffle(shuffleId)
    super.unregisterShuffle(shuffleId)
  }

  /** Spark stops the manager after `cleanupApplication` has deleted the
    * application's objects; the env's pools and FS end here. */
  override def stop(): Unit = {
    CloudShuffleEnv.close(conf)
    super.stop()
  }
}

/** Decorator rewriting the committed MapStatus location to the fallback
  * block-manager id: reducers resolve blocks from the object store, so the
  * map output must not be tied to the (possibly decommissioned) mapper
  * executor (reference: `S3ShuffleWriter.scala:7-21`). */
private[cloud] class RelocatingShuffleWriter[K, V](under: ShuffleWriter[K, V])
    extends ShuffleWriter[K, V] {

  override def write(records: Iterator[Product2[K, V]]): Unit = under.write(records)

  override def stop(success: Boolean): Option[MapStatus] = {
    val status = under.stop(success)
    status.foreach(_.updateLocation(FallbackStorage.FALLBACK_BLOCK_MANAGER_ID))
    status
  }

  override def getPartitionLengths(): Array[Long] = under.getPartitionLengths()
}
