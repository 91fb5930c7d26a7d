package graft

import org.apache.spark.sql.SparkSession

/** Standard session builder: local[N] tuned for the fixture scale factors,
  * with the settings every entry point (Verify, Bench, tests) shares.
  *
  * Scale note: `spark.sql.shuffle.partitions` is sized to the local core
  * count here; on a real cluster AQE coalescing
  * (`spark.sql.adaptive.enabled`) makes the initial number a ceiling, not a
  * tuning knob — we set a high initial and let AQE shrink per-stage.
  */
object GraftSession {

  /** Local cores for every entry point: `SPARK_GRAFT_CPUS`, else the JVM's
    * available processors. */
  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def builder(cpus: String = Cpus, plugin: Boolean = true): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // REQUIRED with the cloud shuffle plugin's MapStatus relocation:
      // every map output reports the fallback block-manager id, whose fake
      // host ("remote") would otherwise become every reduce task's
      // preferred location. Under delay scheduling a task preferring a
      // never-alive host can starve FOREVER once the cluster goes idle
      // (observed: 33-task stage, 32 launch PROCESS_LOCAL off a cached
      // plan, the 33rd waits for an offer that no task-finish event will
      // ever trigger again). Object-store shuffle has no meaningful reduce
      // locality anyway — disabling it is correct at every scale.
      .config("spark.shuffle.reduceLocality.enabled", "false")
      // events fixture stores TIMESTAMP(NANOS); read as long, truncated to
      // micros in Tables.load (matches DuckDB's read behavior).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // 4.1's checksummed checkpoint manager can wedge between rapid
      // micro-batches (observed in the streaming specs); the streaming
      // queries here run AvailableNow drains where it buys nothing
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // Run every shuffle through the cloud shuffle plugin (the engine's
    // core): file:// stands in for the object store locally, exactly as
    // the reference's own tests do. plugin=false (the default-manager A/B
    // lanes) opts out; the manager installs its own ShuffleDataIO.
    if (plugin) {
      b.config("spark.shuffle.manager",
          "org.apache.spark.shuffle.cloud.CloudShuffleManager")
        .config("spark.shuffle.cloud.rootDir",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_DIR",
            s"file:///tmp/cloud-shuffle-${java.util.UUID.randomUUID()}"))
    }
    b
  }

  def get(cpus: String = Cpus, plugin: Boolean = true): SparkSession = {
    val spark = builder(cpus, plugin).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench/Verify re-invoke queries that persist() their intermediates
    // (dd04's group table et al.); the second pass re-registers the same
    // plan and CacheManager warns "Asked to cache already cached data" —
    // ~10 repeats of pure noise in the bench tail the driver captures
    // (VERDICT r9 docs-hygiene item). The warning never indicates a
    // defect here (re-caching an identical plan is a no-op), so demote
    // that ONE logger; everything else stays at WARN.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
