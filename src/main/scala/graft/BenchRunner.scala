package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BenchListener

/** The timing driver behind `graft.Bench` and `graft.BenchStream`: one lane
  * runner, one plugin/default A/B sequencer, one report writer and one tier
  * builder.
  *
  * The comparison is the reference's own protocol
  * (`examples/run_benchmarks.sh` benches S3 shuffle against local-disk
  * shuffle): the same queries under the same protocol, once with every
  * shuffle through the cloud plugin and once through Spark's default sort
  * manager. On a local `file://` store the expected ratio is about 1×, so a
  * sustained divergence exposes a plugin cost no correctness test can see.
  */
object BenchRunner {
  type Query = (SparkSession, String) => DataFrame

  /** One query over a lane's three passes: `secs` holds each pass's
    * seconds in run order. Median, min (the noise floor), spread (max −
    * min, the noise band) and pass 1's time derive from them; a regression
    * is real only when medians move by more than the spread. Pass 1 carries
    * the one-time memoized builds (k-means training, indexes, the BPE
    * tokenizer), so first − med is the build cost the median excludes.
    * Shuffle bytes are per-pass medians; `rows` and `census` come from
    * pass 1 and stay -1 / empty unless the lane records them. A failed query
    * has no `secs` and reads -1 everywhere: broken must not read as fast. */
  final case class Stat(secs: Seq[Double], shufW: Long, shufR: Long, rows: Long = -1L,
      census: Seq[(String, Long)] = Nil) {
    private def sorted = secs.sorted
    def med: Double = if (secs.isEmpty) -1.0 else sorted(secs.size / 2)
    def min: Double = if (secs.isEmpty) -1.0 else sorted.head
    def spread: Double = if (secs.isEmpty) 0.0 else sorted.last - sorted.head
    def first: Double = secs.headOption.getOrElse(-1.0)
  }
  val Failed: Stat = Stat(Nil, -1L, -1L)

  /** A sweep's plugin lane and, when A/B ran, its default-manager lane,
    * each measured once in `order`. */
  final case class Sweep(plugin: Map[String, Stat], default: Map[String, Stat] = Map.empty,
      order: String = "plugin-first")

  final case class Settings(tier: String, cpus: String, ab: Boolean, order: String)

  private val Removed = Seq("SPARK_GRAFT_STREAM_TIER", "SPARK_GRAFT_STREAM_AB",
    "SPARK_GRAFT_STREAM_AB_ORDER", "SPARK_GRAFT_STREAM_SF1")

  /** The tier argument (`base` or `scale`) and the A/B settings. Each guard
    * refuses to start rather than run something other than what the
    * artifact would then claim: a typo'd order would stamp `ab_order` on a
    * plugin-first run, and a removed variable would be silently ignored. */
  def settings(args: Array[String]): Settings = {
    Removed.foreach(v => require(!sys.env.contains(v),
      s"$v is removed: pass the tier argument (base or scale) and use SPARK_GRAFT_AB / SPARK_GRAFT_AB_ORDER"))
    val tier = args.headOption.getOrElse("base")
    require(args.length <= 1 && (tier == "base" || tier == "scale"),
      s"the one argument is the tier, base or scale: ${args.mkString(" ")}")
    val order = sys.env.getOrElse("SPARK_GRAFT_AB_ORDER", "plugin-first")
    require(order == "plugin-first" || order == "default-first",
      s"SPARK_GRAFT_AB_ORDER must be plugin-first or default-first: $order")
    Settings(tier, GraftSession.Cpus,
      sys.env.getOrElse("SPARK_GRAFT_AB", "1") != "0", order)
  }

  /** Each query reports under its id prefix (q01_pricing_summary → q01):
    * full names overflow the driver's 2,000-byte tail of the run's output. */
  def short(name: String): String = name.takeWhile(_ != '_')

  def requireUniqueShortIds(names: Seq[String]): Unit =
    require(names.map(short).toSet.size == names.size, "shortened bench keys must stay unique")

  /** A fresh session for one lane, warmed (JIT, codegen, FS metadata) by
    * one aggregation over `warm` (table, key) so the first query does not
    * pay session startup. */
  def withSession[T](cpus: String, plugin: Boolean, dir: String, warm: (String, String))
      (body: SparkSession => T): T = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.get(cpus, plugin = plugin)
    try {
      Tables.load(spark, dir, warm._1).groupBy(warm._2).count().count()
      body(spark)
    } finally spark.stop()
  }

  private final case class Obs(sec: Double, shufW: Long, shufR: Long, rows: Long, census: Seq[(String, Long)])

  /** One lane: three full passes over `ordered` on this session.
    *
    *  - Passes interleave rather than repeat a query back to back: host load
    *    comes in bursts, and repeats inside one burst all read slow.
    *  - `System.gc()` before each query keeps a neighbour's garbage from
    *    billing its collection pause to this query.
    *  - Each query runs its own plan through the noop sink, which
    *    materializes every output row and column inside a proper
    *    SQLExecution. A `count()` stacked on top re-optimizes the plan:
    *    it prunes columns and can delete the operator under test (dd16's
    *    final left join against a unique-keyed aggregate collapsed to a
    *    bare parquet count). `queryExecution.toRdd.count()` skips the
    *    execution-id wrapper AQE's final-plan handoff waits on and can
    *    deadlock.
    *  - With `rows`, pass 1 counts output rows through `observe`, a
    *    pass-through node, so the timed plan stays the query's own.
    *  - With `census`, each streaming drain records its micro-batch count
    *    and peak state rows and memory.
    *  - One listener folds each query's shuffle bytes from task metrics
    *    and, for a drain, its streaming progress.
    */
  def runLane(spark: SparkSession, dir: String, ordered: Seq[(String, Query)],
      rows: Boolean = false, census: Boolean = false): Map[String, Stat] = {
    val tap = new BenchListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(tap)
    try {
      val passes = (1 to 3).map { pass =>
        ordered.map { case (name, fn) =>
          System.gc()
          tap.harvest()
          val t0 = System.nanoTime()
          name -> (try {
            val df = fn(spark, dir)
            val seen = Option.when(rows && pass == 1)(Observation())
            seen.fold(df)(o => df.observe(o, count(lit(1)).as("n")))
              .write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            val h = tap.harvest()
            Obs(sec, h.shuffleWritten, h.shuffleRead, seen.fold(-1L)(_.get("n").asInstanceOf[Long]),
              if (census) h.census else Nil)
          } catch {
            case t: Throwable =>
              System.err.println(s"BENCH FAIL $name: ${t.getClass.getName}: ${t.getMessage}")
              Obs(-1.0, -1L, -1L, -1L, Nil)
          })
        }.toMap
      }
      ordered.map { case (name, _) =>
        val obs = passes.map(_(name))
        def med(xs: Seq[Long]) = xs.sorted.apply(xs.size / 2)
        name -> (if (obs.exists(_.sec < 0)) Failed
          else Stat(obs.map(_.sec), med(obs.map(_.shufW)), med(obs.map(_.shufR)), obs.head.rows, obs.head.census))
      }.toMap
    } finally spark.sparkContext.removeSparkListener(tap)
  }

  /** Runs `lane` with the plugin and, unless A/B is off, with the default
    * manager. Both lanes share one JVM, so the second gets fully JIT-compiled
    * code; plugin-first is the conservative default (any JIT bias inflates
    * the plugin's overhead, never hides it) and `default-first` bounds the
    * bias. */
  def sweep(set: Settings)(lane: Boolean => Map[String, Stat]): Sweep =
    if (!set.ab) Sweep(lane(true), order = set.order)
    else if (set.order == "default-first") { val d = lane(false); Sweep(lane(true), d, set.order) }
    else { val p = lane(true); Sweep(p, lane(false), set.order) }

  // ---- report writer: pure functions of the stats ----

  /** Fixed-point in the root locale (a comma decimal would break the JSON);
    * -1 marks a failure. Three decimals keep the line inside the tail. */
  def ms(v: Double): String = num(v, 3)

  private def num(v: Double, digits: Int): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  private def str(s: String) = "\"" + s + "\""

  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def byId(m: Map[String, Stat]) = m.toSeq.sortBy(_._1)

  private def medians(m: Map[String, Stat]) = obj(byId(m).map { case (k, v) => short(k) -> ms(v.med) })

  // failures are named and left out of the total, so fewer queries cannot
  // read as a faster total
  private def total(m: Map[String, Stat]) = m.values.map(_.med).filter(_ >= 0).sum

  private def failed(m: Map[String, Stat]) =
    byId(m).collect { case (k, v) if v.med < 0 => str(short(k)) }.mkString("[", ",", "]")

  /** Whenever the default lane ran: its total, failures and order, plus the
    * plugin/default ratio's median and p90 over queries whose default
    * median is over 0.1 s (below that the ratio is scheduling noise). */
  private def abFields(sw: Sweep): Seq[(String, String)] = if (sw.default.isEmpty) Nil else {
    val rs = byId(sw.plugin).flatMap { case (n, p) =>
      sw.default.get(n).filter(d => p.med > 0 && d.med > 0.1).map(p.med / _.med) }.sorted
    Seq("default_total" -> ms(total(sw.default)), "default_failed" -> failed(sw.default),
      "ab_order" -> str(sw.order)) ++ (if (rs.isEmpty) Nil else Seq("plugin_overhead_med" -> ms(rs(rs.size / 2)),
      "plugin_overhead_p90" -> ms(rs(math.min(rs.size - 1, rs.size * 9 / 10)))))
  }

  private def detail(sw: Sweep): String = obj(byId(sw.plugin).map { case (k, v) =>
    short(k) -> obj(Seq("med_s" -> ms(v.med), "min_s" -> ms(v.min), "spread_s" -> ms(v.spread),
      "first_pass_s" -> ms(v.first), "pass_s" -> v.secs.map(ms).mkString("[", ",", "]"),
      "shuffle_write_bytes" -> v.shufW.toString, "shuffle_read_bytes" -> v.shufR.toString) ++
      sw.default.get(k).toSeq.flatMap(d => Seq("default_med_s" -> ms(d.med),
        "plugin_overhead" -> (if (v.med > 0 && d.med > 0) ms(v.med / d.med) else "-1"))) ++
      v.census.map { case (c, n) => c -> n.toString })
  })

  /** `graft.Bench`'s stdout line and its `target/bench.json` copy.
    *
    * The line is what the driver parses from the last 2,000 bytes of the
    * run's output, so it carries medians only, plus what makes a contended
    * run read as contended: `noise` (median spread/med over queries of at
    * least 0.1 s) and `slow` (the slowest queries' [min, spread]). Slow
    * entries are shed before the line passes 1,900 bytes. `method` marks
    * the median-of-3, which has been mistaken for one contended pass. The
    * file copy cannot truncate: per-query detail with every pass's seconds,
    * A/B columns and shuffle totals. */
  def benchReport(sw: Sweep, sf: String): (String, String) = {
    val p = sw.plugin
    val head = Seq("metric" -> str("total"), "value" -> ms(total(p)), "unit" -> str("sec"))
    val noise = p.values.filter(_.med >= 0.1).map(v => v.spread / v.med).toSeq.sorted
    def slow(n: Int) = obj(byId(p).filter(_._2.med > 0).sortBy(-_._2.med).take(n).sortBy(_._1)
      .map { case (k, v) => short(k) -> s"[${ms(v.min)},${ms(v.spread)}]" })
    def line(slowN: Int) = obj(head ++ Seq("method" -> str("median3"), "failed" -> failed(p)) ++ abFields(sw) ++
      noise.headOption.map(_ => "noise" -> ms(noise(noise.size / 2))) ++
      Seq("slow" -> slow(slowN), "queries" -> medians(p), "sf" -> str(sf)))
    val compact = Seq(8, 6, 4, 2, 0).map(line).find(_.length <= 1900).getOrElse(line(0))
    val bytes = (f: Stat => Long) => p.values.map(f).filter(_ >= 0).sum.toString
    val rich = obj(head ++ Seq("queries" -> medians(p), "sf" -> str(sf), "method" -> str("median-of-3-interleaved"),
      "failed" -> failed(p)) ++ abFields(sw) ++ Seq("shuffle_write_bytes" -> bytes(_.shufW),
      "shuffle_read_bytes" -> bytes(_.shufR), "detail" -> detail(sw)))
    (compact, rich)
  }

  /** `graft.BenchStream`'s line, also its `target/bench_stream.json`.
    * `harness` is the one-time staging of the sentineled source dir, billed
    * apart so drain medians measure the drain. */
  def streamReport(sw: Sweep, sf: String, harness: Double): String =
    obj(Seq("metric" -> str("stream_total"), "value" -> ms(total(sw.plugin)), "unit" -> str("sec"),
      "method" -> str("median3"), "failed" -> failed(sw.plugin), "harness_prestage_s" -> ms(harness)) ++
      abFields(sw) ++ Seq("queries" -> medians(sw.plugin), "sf" -> str(sf), "detail" -> detail(sw)))

  /** One row of `target/scaleprobe.json`, the file `scripts/scale_table.py`
    * renders. */
  def scaleRow(tier: String, query: String, st: Stat): String =
    obj(Seq("tier" -> str(tier), "query" -> str(query), "rows" -> st.rows.toString, "wall_s" -> num(st.med, 2),
      "shuffle_w_mb" -> num(st.shufW / 1e6, 1), "shuffle_r_mb" -> num(st.shufR / 1e6, 1)))

  def scaleReport(tiers: Seq[String], notes: Seq[(String, String)], rows: Seq[String]): String =
    obj(Seq("metric" -> str("scaleprobe"), "method" -> str("median3-interleaved-noop-action"),
      "tiers" -> obj(tiers.map(t => t -> str(Tiers(t)))), "notes" -> obj(notes.map { case (k, v) => k -> str(v) }),
      "rows" -> rows.mkString("[", ",", "]")))

  def write(path: String, json: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), (json + "\n").getBytes(UTF_8))
  }

  // ---- tier builder ----

  /** Tier names are the artifacts' stable keys; the dirs ride along so a
    * reader can reproduce any row. The sf1 tiers derive from sf0.1 by
    * replicating fact tables 10× with shifted keys; `Tables.load` only sees
    * a path, so the query code is what the bench runs. */
  val Tiers: Map[String, String] = Map("sf0.01" -> "/root/testdata/sf0.01", "sf0.1" -> "/root/testdata/sf0.1",
    "sf1_exact" -> "/tmp/graft-sf1", "sf1_perturbed" -> "/tmp/graft-sf1p", "sf1_stream" -> "/tmp/graft-sf1-stream")

  /** The tier's dir, building a derived tier once. */
  def tier(s: SparkSession, name: String): String = {
    val dir = Tiers(name)
    val done = new java.io.File(s"$dir/_built")
    if (name.startsWith("sf1") && !done.exists()) {
      Files.createDirectories(Paths.get(dir))
      val t0 = System.currentTimeMillis()
      derived(s, name).foreach { case (table, df) =>
        val out = s"$dir/$table.parquet"
        // the file streaming source lists plain files only, not parquet dirs
        if (name == "sf1_stream") operators.StreamingQueries.stageAsFile(df, Paths.get(out), t0)
        else df.write.mode("overwrite").parquet(out)
      }
      done.createNewFile()
    }
    dir
  }

  /** The tables of a derived tier.
    *
    *  - `sf1_exact`: every fact table ×10; the orderkey shift is shared by
    *    lineitem and orders, so their join keeps its 1:n shape. Dimensions
    *    stay fixed, so dimension fan-in grows, the conservative direction
    *    for join cost. Documents copy their text exactly: every page has 10
    *    copies, the regime the dedup front end exists for and the text
    *    operators' saturation worst case. Embeddings grow the candidate
    *    corpus 10× for the serving searches.
    *  - `sf1_perturbed`: documents only. Copies 1-9 rewrite every 16th token
    *    (offset rotating with the copy), so each copy is a ~94 % similar
    *    near-duplicate twin: the novel-corpus regime, with new fingerprints
    *    and chunk hashes and a grown vocabulary.
    *  - `sf1_stream`: events with both event_id and user_id shifted, so 10×
    *    traffic over 10× users, the linear regime of a larger stream
    *    (shifting event_id alone would drive the stream-stream joins into
    *    their quadratic output regime). Embeddings stay verbatim: ss09's
    *    serve cost tracks its request batches, not the stream. */
  private def derived(s: SparkSession, name: String): Seq[(String, DataFrame)] = {
    def t(table: String) = Tables.load(s, Tiers("sf0.1"), table)
    def rep10(table: String, keys: String*)(copy: (DataFrame, Int) => DataFrame = (d, _) => d) =
      table -> (0 until 10).map { i =>
        copy(keys.foldLeft(t(table))((d, k) => d.withColumn(k, col(k) + lit(i * 100000000L))), i)
      }.reduce(_ unionAll _)
    name match {
      case "sf1_exact" =>
        Seq(rep10("lineitem", "l_orderkey")(), rep10("orders", "o_orderkey")(), rep10("events", "event_id")(),
          rep10("documents", "doc_id")(), rep10("embeddings", "vec_id")()) ++
          Seq("region", "nation", "customer", "supplier", "part").map(d => d -> t(d))
      case "sf1_perturbed" =>
        Seq(rep10("documents", "doc_id") { (d, i) =>
          if (i == 0) d
          else d.withColumn("text", array_join(transform(split(col("text"), " "), (w, j) =>
            when(pmod(j + lit(i * 7), lit(16)) === 0, concat(w, lit("x"), lit(i))).otherwise(w)), " "))
        })
      case "sf1_stream" =>
        Seq(rep10("events", "event_id", "user_id")(), rep10("documents", "doc_id")(), "embeddings" -> t("embeddings"))
    }
  }
}
