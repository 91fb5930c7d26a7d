package org.apache.spark.shufflebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.MapOutputTrackerMaster
import org.apache.spark.sql.SparkSession

/** Entry point: `BenchMain --workload W --seed N --seconds S --trace 0|1
  * --cpus C --work DIR --out FILE`. Writes the one-line result object to
  * FILE, and next to it the full detail (raw pass times, failures) and the
  * traced lane's spans, one CSV row each. */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(need("work")).toAbsolutePath
    val seed = need("seed").toLong
    val runner = new Runner(Workload(need("workload"), seed), new SeededQueries(seed), work,
      cpus = need("cpus").toInt,
      seconds = need("seconds").toDouble, trace = need("trace") == "1")
    val (result, detail, spans) = runner.run()
    val out = Paths.get(need("out"))
    Files.writeString(Paths.get(out.toString + ".detail.json"), Json(detail) + "\n")
    Files.write(Paths.get(out.toString + ".spans.csv"),
      ("pass,kind,task,start_ns,end_ns,self_ns" +: spans.zipWithIndex.flatMap { case (pass, i) =>
        pass.map(s => s"$i,${s.kind},${s.task},${s.start},${s.end},${s.self}")
      }).asJava)
    Files.writeString(out, Json(result) + "\n")
  }
}

/** Timing, checks and store accounting of one pass. */
final case class PassStats(wallNanos: Long, store: BenchStore.Snapshot,
    layer: Map[String, Double], spans: Seq[Span]) {
  def wallS: Double = wallNanos / 1e9
}

/** Runs one workload end to end in this JVM:
  *
  *  1. set-up, three times: session start, input generation and a checked
  *     warm-up pass (the last set-up's session stays open);
  *  2. the plugin lane: checked passes for `seconds`;
  *  3. with `trace`, the default lane: the same passes under Spark's sort
  *     shuffle manager, the denominator of `plugin_overhead`;
  *  4. with `trace`, the traced lane: the plugin behind
  *     [[TracingShuffleManager]], a [[SparkTrace]] listener and per-request
  *     store timings;
  *  5. with `trace`, the operators lane: the `queries` workload's passes,
  *     timed per query.
  *
  * After every pass its shuffle is unregistered the way Spark's
  * ContextCleaner does it, so the store's deletes land inside the pass's
  * request accounting; automatic cleanup is off so none lands in a later
  * pass. */
final class Runner(w: Workload, queries: Workload, work: Path, cpus: Int, seconds: Double,
    trace: Boolean) {
  private sealed trait Lane
  private case object Plugin extends Lane
  private case object Default extends Lane
  private case object Traced extends Lane
  private case object Operators extends Lane

  private def workload(lane: Lane): Workload = if (lane == Operators) queries else w

  private val setupReps = 3
  private val minPasses = 5
  private var checks = 0
  private val failures = ArrayBuffer.empty[String]

  private def fail(lane: Lane, what: String): Unit = failures += s"$lane: $what"

  private def storeRoot(lane: Lane): Path = work.resolve(s"store-$lane")

  private def session(lane: Lane): SparkSession = {
    val wl = workload(lane)
    val b = graft.GraftSession.builder(cpus.toString, plugin = lane != Default)
      .appName(s"shufflebench ${wl.name} $lane")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.cleaner.referenceTracking", "false")
    if (lane != Default) {
      b.config("spark.shuffle.cloud.rootDir", s"${BenchStore.Scheme}://${storeRoot(lane)}")
        .config(s"spark.hadoop.fs.${BenchStore.Scheme}.impl", classOf[BenchStore].getName)
        .config(s"spark.hadoop.${BenchStore.LatencyKey}", wl.latencyMs.toString)
        .config(s"spark.hadoop.${BenchStore.BandwidthKey}", wl.bandwidthMiBs.toString)
    }
    if (lane == Traced) b.config("spark.shuffle.manager", classOf[TracingShuffleManager].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Unregister every shuffle the way ContextCleaner.doCleanupShuffle does;
    * returns (map outputs, non-empty blocks) of what was removed. */
  private def cleanupShuffles(spark: SparkSession, wl: Workload): (Long, Long) = {
    val sc = spark.sparkContext
    val tracker = sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    val reducers = wl.reducers(spark)
    var maps = 0L
    var blocks = 0L
    tracker.shuffleStatuses.keys.toSeq.foreach { id =>
      val statuses = tracker.shuffleStatuses(id).mapStatuses.filter(_ != null)
      maps += statuses.length
      blocks += statuses.iterator.map(s => (0 until reducers).count(s.getSizeForBlock(_) > 0)).sum
      tracker.unregisterShuffle(id)
      sc.shuffleDriverComponents.removeShuffle(id, true)
      sc.env.blockManager.master.removeShuffle(id, true)
    }
    (maps, blocks)
  }

  private def storeFiles(lane: Lane): Long = {
    val root = storeRoot(lane)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(Files.isRegularFile(_)).toLong finally s.close()
    }
  }

  private def runPass(spark: SparkSession, lane: Lane, listener: Option[SparkTrace]): PassStats = {
    val sc = spark.sparkContext
    BenchStore.reset()
    Spans.drain()
    listener.foreach(_.reset())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome = workload(lane).pass(spark)
    val wall = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    checks += outcome.checks
    outcome.failures.foreach(fail(lane, _))
    System.err.println(f"shufflebench: $lane pass ${wall / 1e9}%.3f s")
    listener.foreach(_ => sc.listenerBus.waitUntilEmpty())
    val spans = Spans.drain()
    val layer = listener.map(layerOf(_, spans, startMs, endMs)).getOrElse(Map.empty) ++
      outcome.timings
    val (maps, blocks) = cleanupShuffles(spark, workload(lane))
    val store = BenchStore.snapshot()
    if (lane != Default) checkStore(lane, store, maps, blocks)
    PassStats(wall, store, layer, spans)
  }

  /** Every committed map output is a data, an index and a checksum object;
    * a reducer opens each non-empty block exactly once (index reads hit the
    * writer's in-JVM cache), or, reading coalesced ranges, at most once;
    * unregistering leaves no object behind. */
  private def checkStore(lane: Lane, s: BenchStore.Snapshot, maps: Long, blocks: Long): Unit = {
    val puts = s.count(BenchStore.Put)
    val gets = s.count(BenchStore.Get)
    val left = storeFiles(lane)
    val getsOk =
      if (workload(lane).oneGetPerBlock) gets == blocks
      else gets <= blocks && (gets > 0) == (blocks > 0)
    checks += 3
    if (puts != 3 * maps) fail(lane, s"store PUTs $puts for $maps map outputs")
    if (!getsOk) fail(lane, s"store GETs $gets for $blocks non-empty blocks")
    if (left != 0) fail(lane, s"$left store objects left after unregister")
  }

  private def layerOf(l: SparkTrace, spans: Seq[Span], startMs: Long,
      endMs: Long): Map[String, Double] = {
    def of(kind: String) = spans.filter(_.kind == kind)
    Map(
      "writer.tasks" -> of("writer.write").size.toDouble,
      "writer.self_s" -> of("writer.write").map(_.self).sum / 1e9,
      "writer.commit_s" -> of("writer.stop").map(_.duration).sum / 1e9,
      "reader.tasks" -> of("reader.read").size.toDouble,
      "reader.open_s" -> of("reader.read").map(_.duration).sum / 1e9,
      "reader.self_s" -> of("reader.iterate").map(_.self).sum / 1e9,
      "spark.jobs" -> l.jobs.toDouble,
      "spark.stages" -> l.stages.sum().toDouble,
      "spark.tasks" -> l.tasks.sum().toDouble,
      "spark.driver_gap_s" -> math.max(0L, endMs - startMs - l.jobCoverMs(startMs, endMs)) / 1e3,
      "spark.executor_run_s" -> l.runMs.sum() / 1e3,
      "spark.executor_cpu_s" -> l.cpuNanos.sum() / 1e9,
      "spark.gc_s" -> l.gcMs.sum() / 1e3,
      "spark.fetch_wait_s" -> l.fetchWaitMs.sum() / 1e3,
      "spark.shuffle_write_time_s" -> l.writeTimeNanos.sum() / 1e9,
      "spark.shuffle_write_bytes" -> l.writeBytes.sum().toDouble,
      "spark.shuffle_read_bytes" -> l.readBytes.sum().toDouble)
  }

  /** Checked passes for `budget` seconds, and at least `minPasses` of them,
    * after unreported warm-up passes for `warmUp` seconds (at least one when
    * positive). */
  private def measure(spark: SparkSession, lane: Lane, budget: Double, warmUp: Double,
      listener: Option[SparkTrace] = None): Seq[PassStats] = {
    def passesFor(seconds: Double, atLeast: Int): Seq[PassStats] = {
      val out = ArrayBuffer.empty[PassStats]
      val t0 = System.nanoTime()
      while (out.size < atLeast || (System.nanoTime() - t0) / 1e9 < seconds)
        out += runPass(spark, lane, listener)
      out.toSeq
    }
    if (warmUp > 0) passesFor(warmUp, 1)
    passesFor(budget, minPasses)
  }

  def run(): (Map[String, Any], Seq[(String, Any)], Seq[Seq[Span]]) = {
    var spark: SparkSession = null
    val setup = (1 to setupReps).map { rep =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(Plugin)
      w.prepare(spark, work)
      runPass(spark, Plugin, None)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"shufflebench: set-ups ${setup.mkString(" ")} s")
    val plugin = try measure(spark, Plugin, seconds, warmUp = 0) finally stop(spark)

    val default = if (!trace) Nil else {
      spark = session(Default)
      try measure(spark, Default, seconds / 2, warmUp = seconds / 4) finally stop(spark)
    }

    val traced = if (!trace) Nil else {
      spark = session(Traced)
      val listener = new SparkTrace
      spark.sparkContext.addSparkListener(listener)
      BenchStore.tracing = true
      try measure(spark, Traced, seconds / 2, warmUp = seconds / 4, Some(listener))
      finally {
        BenchStore.tracing = false
        stop(spark)
      }
    }

    // The planner and the generated code warm up for longer than the
    // shuffle paths, hence the longer warm-up.
    val operators = if (!trace) Nil else {
      spark = session(Operators)
      try {
        queries.prepare(spark, work)
        measure(spark, Operators, seconds / 2, warmUp = seconds / 2)
      } finally stop(spark)
    }

    val wall = Stats.median(plugin.map(_.wallS))
    val defaultWall = Stats.median(default.map(_.wallS))
    val endToEnd = Map[String, Double](
      "setup_s" -> Stats.median(setup),
      "wall_s" -> wall,
      "shuffle_mib_s" -> Stats.median(plugin.map(p =>
        (p.store.getBytes + p.store.putBytes) / 1048576.0 / p.wallS)),
      "store_requests" -> Stats.median(plugin.map(_.store.requests.toDouble)))
    val perLayer =
      if (!trace) Map.empty[String, Double]
      else layerMetrics(traced) ++ Map(
        "wall_s_tail" -> plugin.map(_.wallS).max,
        "default.wall_s" -> defaultWall,
        "plugin_overhead" -> wall / defaultWall,
        "trace_overhead" -> Stats.median(traced.map(_.wallS)) / wall) ++
        Metrics.queryTimings.map(k => k -> Stats.median(operators.map(_.layer(k))))

    val result = Map[String, Any](
      "correct" -> failures.isEmpty,
      "attempted" -> checks,
      "failed" -> failures.size,
      "metrics" -> (if (trace) perLayer else endToEnd).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Metrics.unit(k))
      })
    val detail = Seq[(String, Any)](
      "workload" -> w.name,
      "cpus" -> cpus,
      "seconds" -> seconds,
      "end_to_end" -> endToEnd.toSeq.sortBy(_._1),
      "per_layer" -> perLayer.toSeq.sortBy(_._1),
      "wall_s_tail_samples" -> plugin.size,
      "setup_s_raw" -> setup,
      "plugin_pass_s" -> plugin.map(_.wallS)) ++
      (if (!trace) Nil
       else Seq("default_pass_s" -> default.map(_.wallS), "traced_pass_s" -> traced.map(_.wallS),
         "operators_pass_s" -> operators.map(_.wallS))) ++
      Seq("failures" -> failures.toSeq)
    (result, detail, traced.map(_.spans))
  }

  private def layerMetrics(traced: Seq[PassStats]): Map[String, Double] = {
    def med(f: PassStats => Double) = Stats.median(traced.map(f))
    def ms(kind: String, f: Span => Long) =
      traced.flatMap(_.spans).filter(_.kind == kind).map(f(_) / 1e6)
    val getMs = ms("store.get", _.self)
    val putMs = ms("store.put", _.self)
    val first = ms("reader.first_record", _.duration)
    val samples = traced.map(_.store.inflightSamples).sum
    traced.head.layer.keys.map(k => k -> med(_.layer(k))).toMap ++ Map(
      "store.get_count" -> med(_.store.count(BenchStore.Get).toDouble),
      "store.put_count" -> med(_.store.count(BenchStore.Put).toDouble),
      "store.list_count" -> med(_.store.count(BenchStore.ListDir).toDouble),
      "store.delete_count" -> med(_.store.count(BenchStore.Delete).toDouble),
      "store.get_bytes" -> med(_.store.getBytes.toDouble),
      "store.put_bytes" -> med(_.store.putBytes.toDouble),
      "store.write_amp" -> med(p => p.store.putBytes / p.layer("spark.shuffle_write_bytes")),
      "store.get_ms_p50" -> Stats.percentile(getMs, 50),
      "store.get_ms_p99" -> Stats.percentile(getMs, 99),
      "store.put_ms_p50" -> Stats.percentile(putMs, 50),
      "store.put_ms_p99" -> Stats.percentile(putMs, 99),
      "store.get_inflight_mean" -> traced.map(_.store.inflightSum).sum.toDouble / samples,
      "store.get_inflight_max" -> traced.map(_.store.inflightMax).max.toDouble,
      "reader.first_record_ms_p50" -> Stats.percentile(first, 50),
      "reader.first_record_ms_p99" -> Stats.percentile(first, 99))
  }
}

object Metrics {
  /** The per-query timings of the operators layer. */
  val queryTimings: Seq[String] = SeededQueries.Queries.map(q => s"operators.${q}_s")

  /** Unit of a reported metric, by name. */
  def unit(name: String): String = name match {
    case "plugin_overhead" | "trace_overhead" | "store.write_amp" => "ratio"
    case "shuffle_mib_s"                                       => "MiB/s"
    case "wall_s_tail"                                         => "s"
    case n if n.endsWith("_bytes")                             => "bytes"
    case n if n.endsWith("_ms_p50") || n.endsWith("_ms_p99")   => "ms"
    case n if n.endsWith("_s")                                 => "s"
    case _                                                     => "count"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for the result objects. */
object Json {
  def apply(v: Any): String = v match {
    case b: Boolean               => b.toString
    case i: Int                   => i.toString
    case l: Long                  => l.toString
    case d: Double                =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case s: String                => quote(s)
    case m: Map[_, _]             => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.map { case (k, x) => (k.toString, x) })
    case xs: Seq[_]               => xs.map(apply).mkString("[", ", ", "]")
  }

  private def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => s"${quote(k)}: ${apply(x)}" }.mkString("{", ", ", "}")

  private def quote(s: String): String =
    s.flatMap {
      case '"'            => "\\\""
      case '\\'           => "\\\\"
      case c if c < ' '   => f"\\u${c.toInt}%04x"
      case c              => c.toString
    }.mkString("\"", "", "\"")
}
