package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-microbatch shuffle cleanup through the cloud plugin (VERDICT r9
  * item 6). `CloudShuffleSpec` proves a BATCH unregisterShuffle empties
  * the store; nothing asserted the same across a MULTI-BATCH streaming
  * drain, where every microbatch plans fresh shuffles and SCALE.md §4
  * flagged unbounded store growth as the open risk: at one shuffle per
  * microbatch per stateful operator, a week-long streaming job that never
  * frees a map output fills any store.
  *
  * The cleanup path under test is ContextCleaner → ShuffleDriverComponents
  * .removeShuffle (CloudDriverComponents) → CloudShuffleEnv.removeShuffle:
  * a microbatch's ShuffleDependency becomes unreachable as soon as the
  * next batch replaces the incremental plan, so a GC lets the cleaner
  * delete its store objects while the query is still running. The test
  * GCs on every query-progress event (standing in for the allocation
  * pressure / periodic GC of a long-lived driver) and asserts the store
  * never retains more than a constant number of batches' objects — growth
  * must be O(1) in batch count, not O(batches). */
class StreamShuffleCleanupSpec extends AnyFunSuite {

  test("store objects stay bounded across a multi-batch streaming drain") {
    val root = s"/tmp/cloud-shuffle-cleanup-${java.util.UUID.randomUUID()}"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("stream-cleanup-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.shuffle.manager",
        "org.apache.spark.shuffle.cloud.CloudShuffleManager")
      .config("spark.shuffle.cloud.rootDir", s"file://$root")
      .config("spark.shuffle.reduceLocality.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val rootPath = java.nio.file.Paths.get(root)
      def shuffleFiles(): Long =
        if (Files.exists(rootPath)) {
          val walk = Files.walk(rootPath)
          try walk.filter(p => p.getFileName.toString.contains("shuffle_")).count()
          finally walk.close()
        } else 0L

      // six single-file microbatches (maxFilesPerTrigger=1), each forcing
      // a stateful-agg shuffle through the plugin
      val srcDir = Files.createTempDirectory("graft-cleanup-src")
      val ckpt = Files.createTempDirectory("graft-cleanup-ckpt")
      val nBatches = 6
      (0 until nBatches).foreach { i =>
        val stage = Files.createTempDirectory("graft-cleanup-stage")
        (0 until 200).map(j => (j % 7L, i * 1000L + j))
          .toDF("user_id", "x")
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val listing = Files.list(stage)
        val part = try listing.filter(_.getFileName.toString.startsWith("part-"))
          .findFirst().get() finally listing.close()
        val dst = srcDir.resolve(f"b$i%02d.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }

      // per-batch store census, after a GC nudge so the ContextCleaner can
      // see the previous batch's dropped ShuffleDependency
      val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          System.gc()
          Thread.sleep(100) // let the cleaner thread drain its queue
          observed.add(shuffleFiles())
        }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val q = spark.readStream
        .schema("user_id LONG, x LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        .writeStream.format("memory").queryName("cleanup_sink")
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.streams.removeListener(listener)

      val counts = {
        import scala.jdk.CollectionConverters._
        observed.asScala.toSeq
      }
      assert(counts.nonEmpty && counts.max > 0,
        s"the drain never wrote through the plugin store: $counts")
      // the bound: after the drain, with the query's last incremental plan
      // the only thing still holding a ShuffleDependency, the store must
      // settle to no more than the objects observed after batch 1 — i.e.
      // the cleaner reclaimed every replaced batch's shuffles. Poll with
      // GC nudges: cleanup is async by design.
      val perBatchBound = counts.head
      val deadline = System.nanoTime() + 30L * 1000000000L
      var last = shuffleFiles()
      while (last > perBatchBound && System.nanoTime() < deadline) {
        System.gc(); Thread.sleep(200); last = shuffleFiles()
      }
      assert(last <= perBatchBound,
        s"store retained $last shuffle objects after $nBatches microbatches " +
          s"(per-batch bound $perBatchBound, per-batch census $counts) — " +
          "ContextCleaner is not reclaiming streaming shuffles through the plugin")
      // and the census itself must not be monotone-linear in batch count:
      // the max across the drain stays within a small constant number of
      // batches' worth of objects
      assert(counts.max <= perBatchBound * 3,
        s"store grew superlinearly across the drain: $counts")
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    } finally spark.stop()
  }
}
