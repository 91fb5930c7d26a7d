package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Approximate-sketch error bounds + plan-quality regression checks (the
  * ".explain and iterate" discipline, codified so it can't rot). */
class SketchAndPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]").appName("sketch-plan-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("approx_count_distinct stays within 5% of exact per group") {
    // direct raw-value check, independent of q37's verdict plumbing
    val approx = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val exact = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"),
        countDistinct(col("l_orderkey")).as("o"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    exact.foreach { case (flag, (p, o)) =>
      val (ap, ao) = approx(flag)
      assert(math.abs(ap - p).toDouble / p < 0.05, s"$flag parts: $ap vs $p")
      assert(math.abs(ao - o).toDouble / o < 0.05, s"$flag orders: $ao vs $o")
    }
    // and the oracle-gated verdict row reports every sketch in-bounds
    val verdicts = SparkEntry.queries("q37_approx_sketches")(spark, sf)
      .select(min(col("parts_ok")), min(col("orders_ok")), min(col("median_ok")))
      .collect().head
    assert((0 to 2).forall(verdicts.getInt(_) == 1), verdicts.toString)
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Flatten a physical plan through AQE wrappers and cached-relation
    * nodes (both hide their subtrees from children/collect), so plan
    * assertions see the whole tree. One copy — four tests use it. */
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flattenPlan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      flattenPlan(q.plan)
    case sc: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      flattenPlan(sc.relation.cachedPlan)
    case other => other.children.flatMap(flattenPlan)
  })

  /** [[flattenPlan]] plus descent through ReusedExchangeExec into the
    * exchange it references (ADVICE r11: a reused exchange is a LEAF —
    * children Nil — so a subtree hidden behind one is invisible to plan
    * assertions and an absence check passes vacuously). Only for
    * reachability assertions: a node under a reused exchange also appears
    * under the original, so node COUNTS over this flatten double-count. */
  private def flattenPlanThroughReuse(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flattenPlanThroughReuse(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      flattenPlanThroughReuse(q.plan)
    case sc: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      flattenPlanThroughReuse(sc.relation.cachedPlan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      flattenPlanThroughReuse(r.child)
    case other => other.children.flatMap(flattenPlanThroughReuse)
  })

  test("q01: filter + projection are pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "column pruning should drop unused columns")
    assert(p.contains("HashAggregate"), p)
  }

  test("q38: one Expand, partial→final rollup agg, rank-limit pushed, part broadcast") {
    // the q67-shaped heaviest relational row (VERDICT r9 item 5): rollup +
    // rank + limit. The plan this guards: ONE Expand feeding a partial→
    // final hash aggregate (one shuffle), the rank-5 filter pushed down as
    // Partial+Final WindowGroupLimit around the window's single exchange
    // (top-5 per group survives the shuffle, not every group row), and the
    // part dimension broadcast — two shuffles total for a rollup + ranked
    // window. Typed node collects, so a Spark version string change can't
    // flip it silently.
    import org.apache.spark.sql.execution
    val flatNodes = flattenPlan(SparkEntry.queries("q38_rollup_rank")(spark, sf)
      .queryExecution.executedPlan)
    def names = flatNodes.map(_.nodeName).mkString(", ")
    assert(flatNodes.count(_.isInstanceOf[execution.ExpandExec]) == 1,
      s"rollup must plan exactly one Expand: $names")
    assert(flatNodes.count(
      _.isInstanceOf[execution.aggregate.HashAggregateExec]) == 2,
      s"expected partial+final rollup aggregate: $names")
    assert(flatNodes.count(
      _.isInstanceOf[execution.window.WindowGroupLimitExec]) == 2,
      s"rank<=5 must push down as Partial+Final WindowGroupLimit: $names")
    assert(flatNodes.count(
      _.isInstanceOf[execution.joins.BroadcastHashJoinExec]) == 1,
      s"part dimension must broadcast: $names")
    assert(flatNodes.count(
      _.isInstanceOf[execution.exchange.ShuffleExchangeExec]) == 2,
      s"exactly two shuffles (rollup agg, window partition): $names")
    // r13 (VERDICT r12 item 7): positive reachability, the q35 guard
    // pattern — the rank window must have an Aggregate DESCENDANT (it
    // ranks the ~|brands×types| aggregate, never |lineitem×3| raw rows)
    val windows = flatNodes.collect { case w: execution.window.WindowExec => w }
    assert(windows.nonEmpty, s"expected the rank window: $names")
    windows.foreach { w =>
      assert(flattenPlanThroughReuse(w).drop(1)
          .exists(_.nodeName.contains("Aggregate")),
        s"rank window with no Aggregate below it (ranks raw rows):\n$w")
    }
  }

  test("q03: dimension joins broadcast, top-k is TakeOrdered") {
    val p = plan("q03_top_orders")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), s"small-dim joins must broadcast:\n$p")
  }

  test("q05: all dimension sides of the star join broadcast") {
    val p = plan("q05_regional_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters"), p)
  }

  test("q16: global sort + limit becomes TakeOrderedAndProject") {
    val p = plan("q16_global_sort")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"limit should avoid a full range-partitioned sort:\n$p")
  }

  test("q40: interval join extracts the equi key (never a nested loop)") {
    val p = plan("q40_user_event_range_join")
    assert(!p.contains("NestedLoop"),
      s"range predicate must be a residual on an equi join, not a cross product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q44: correlated EXISTS / NOT EXISTS decorrelate into semi and anti joins") {
    val p = plan("q44_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS must become a left-semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become a left-anti join:\n$p")
    assert(!p.contains("NestedLoop"),
      s"decorrelation must yield equi joins, not per-row subqueries:\n$p")
  }

  test("q45: RANGE-frame window is one shuffle + one window pass") {
    val p = plan("q45_range_window")
    assert(p.contains("Window"), p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected a single hash exchange on user_id, got $exchanges:\n$p")
  }

  test("tx09: repetition metrics run with ZERO exchanges (pure map)") {
    val p = plan("tx09_repetition")
    assert(!p.contains("Exchange"),
      s"per-doc run-length folds must not shuffle:\n$p")
  }

  test("pp07: the chunk manifest plans with ZERO exchanges (pure map-side explode)") {
    val p = plan("pp07_chunk_overlap")
    assert(!p.contains("Exchange"),
      s"chunking must be a scan + generate with no shuffle:\n$p")
    assert(p.contains("Generate"), s"expected the explode of chunk starts:\n$p")
  }

  test("pp10: the denylist scrub plans with ZERO exchanges (pure map)") {
    // the mask/count/fingerprint projection itself sits outside
    // whole-stage codegen (Spark's higher-order array functions don't
    // participate) — still map-side and embarrassingly parallel, which
    // is the claim that matters at scale
    val p = plan("pp10_denylist_scrub")
    assert(!p.contains("Exchange"),
      s"mask + count + fingerprint must all stay map-side:\n$p")
  }

  test("dd16: per-occurrence gram traffic — two exchanges, no pair-shaped join") {
    // the span-dedup scale claims: window fingerprints meet through ONE
    // partial→final hash aggregation + a semi-join back on the gram key
    // (per OCCURRENCE — never a pair product), and the coverage fold adds
    // one per-doc aggregation; nothing else may shuffle. Executed plan:
    // AQE broadcasts the dup-key dictionary and the per-doc audit at
    // fixture scale, so the two shuffles are the gram count and the fold.
    import org.apache.spark.sql.execution
    val df = SparkEntry.queries("dd16_substr_dedup")(spark, sf)
    df.collect()
    val flat = flattenPlanThroughReuse(df.queryExecution.executedPlan)
    def names = flat.map(_.nodeName).mkString(", ")
    assert(flat.count(_.isInstanceOf[execution.exchange.ShuffleExchangeExec]) == 2,
      s"expected exactly the gram-count and per-doc-fold exchanges: $names")
    assert(!flat.exists(_.isInstanceOf[execution.joins.CartesianProductExec]),
      s"no pair product anywhere in the span pipeline: $names")
    assert(!flat.exists(
      _.isInstanceOf[execution.joins.BroadcastNestedLoopJoinExec]),
      s"no nested-loop join in the span pipeline: $names")
  }

  test("ss10: one exchange — the window partitioning is REUSED by the shortlist grouping") {
    // MMR's scale shape: the per-query window (rank <= 16) hash-partitions
    // on q_id and the collect_list grouping must ride the SAME
    // partitioning (no second exchange); the greedy fold itself is a
    // Generate over the grouped row — map-side, no shuffle of its own
    import org.apache.spark.sql.execution
    val flat = flattenPlan(SparkEntry.queries("ss10_mmr_diversify")(spark, sf)
      .queryExecution.executedPlan)
    def names = flat.map(_.nodeName).mkString(", ")
    assert(flat.count(_.isInstanceOf[execution.exchange.ShuffleExchangeExec]) == 1,
      s"window + grouping must share one q_id exchange: $names")
    assert(flat.exists(_.isInstanceOf[execution.GenerateExec]),
      s"expected the explode of the MMR selection: $names")
  }

  test("dd10: hot-cell sizing is partial-agg — no Window over the skew key") {
    // VERDICT r6 item 1: Window.partitionBy(cell) would hash-partition an
    // entire hot cell into ONE window task just to measure it (and AQE
    // cannot skew-split a window the way it can the pair join). Sizing
    // now partial-aggregates to ≤ k rows in a separate tiny job, so the
    // pair plan must contain no Window node at all.
    val p = plan("dd10_semantic_dedup")
    assert(!p.contains("Window"),
      s"dd10 must size cells via partial aggregation, not a window over cell:\n$p")
    // and with no hot cell in the fixtures, the LSH guard branch must not
    // be planned (no union of a second candidate source)
    assert(!p.contains("Union"),
      s"fixture corpus has no hot cell — the guard branch should be absent:\n$p")
  }

  test("dd11: canonical dedup is a single hash shuffle with map-side partial agg") {
    val p = plan("dd11_tokenset_dedup")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one exchange on the canonical key, got $exchanges:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial+final aggregation expected:\n$p")
  }

  test("ss07: the corpus streams into ADC scoring unshuffled; later shuffles are shortlist-sized") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val exec = SparkEntry.queries("ss07_pq_topk")(spark, sf).queryExecution.executedPlan
    val nodes = flattenPlan(exec)
    def hasShuffle(p: SparkPlan): Boolean = flattenPlan(p).exists(_.isInstanceOf[ShuffleExchangeLike])
    def hasScan(p: SparkPlan): Boolean = flattenPlan(p).exists(_.nodeName.contains("Scan"))
    // the ADC join = queries broadcast × corpus streaming: some join node
    // must have a broadcast child and a scan-rooted, shuffle-free other
    // child — the 100 TB property (codes scored where the corpus lives)
    val adcJoinOk = nodes.exists { n =>
      n.nodeName.contains("Join") && n.children.exists(c =>
        flattenPlan(c).exists(_.isInstanceOf[BroadcastExchangeLike])) &&
        n.children.exists(c => hasScan(c) && !hasShuffle(c) &&
          !flattenPlan(c).exists(_.isInstanceOf[BroadcastExchangeLike]))
    }
    assert(adcJoinOk, s"corpus must reach the ADC join without an exchange:\n$exec")
    // everything after the ADC scoring ranks |queries|·shortlist rows:
    // a handful of tiny exchanges, never a second corpus-sized one
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 3, s"unexpected shuffle count $shuffles:\n$exec")
    assert(nodes.count(_.nodeName.contains("Window")) >= 2,
      s"ADC shortlist + exact re-rank windows expected:\n$exec")
  }

  test("ss08: the index scan prunes to the probe buckets' partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val exec = SparkEntry.queries("ss08_ann_index_serve")(spark, sf)
      .queryExecution.executedPlan
    val indexScans = flattenPlan(exec).collect {
      case sc: FileSourceScanExec if sc.relation.partitionSchema.fieldNames.contains("tbk") => sc
    }
    assert(indexScans.nonEmpty, s"expected a scan of the partitioned index:\n$exec")
    indexScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"probe-key filter must prune partitions, not scan the index:\n$sc")
      val selected = sc.selectedPartitions.totalNumberOfFiles
      val total = sc.relation.location.inputFiles.length.toLong
      assert(selected < total,
        s"pruning selected $selected of $total index files — nothing pruned")
    }
  }

  test("ss14: lexical lane serves from the pruned postings index (no corpus-text scan)") {
    // VERDICT r12 item 1: the serve plan must contain NO scan of the
    // corpus text and read <= |query-term buckets| partitions of the
    // materialized postings index — per-request work proportional to the
    // request, never the corpus.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val qDocs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"), col("text"))
      .localCheckpoint(true)
    val served = graft.operators.Similarity.lexLaneServed(spark, sf, qDocs)
    val scans = flattenPlan(served.queryExecution.executedPlan).collect {
      case sc: FileSourceScanExec => sc }
    assert(scans.forall(!_.relation.location.inputFiles
        .exists(_.contains("documents"))),
      "serve plan re-scans the corpus text — the r12 scale-killer")
    val indexScans = scans.filter(
      _.relation.partitionSchema.fieldNames.contains("tb"))
    assert(indexScans.nonEmpty, "expected a scan of the postings index")
    val nBuckets = qDocs
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
      .select(pmod(hash(col("term")),
        lit(graft.operators.Similarity.LexBuckets)).as("tb"))
      .distinct().count()
    indexScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"term-bucket filter must prune partitions:\n$sc")
      val selected = sc.selectedPartitions.partitionCount.toLong
      val total = sc.relation.location.inputFiles.length.toLong
      assert(selected <= nBuckets && selected < total,
        s"pruning selected $selected partitions of $total files " +
          s"for $nBuckets query-term buckets")
    }
    // and the full gated query carries the property: its executed plan
    // never scans the documents parquet at all (the request text is a
    // pinned point-lookup taken at serve-construction; postings and the
    // rarity gate live in the index)
    val fullScans = flattenPlanThroughReuse(
      SparkEntry.queries("ss14_hybrid_index_serve")(spark, sf)
        .queryExecution.executedPlan).collect {
      case sc: FileSourceScanExec => sc }
    assert(fullScans.forall(!_.relation.location.inputFiles
        .exists(_.contains("documents"))),
      "ss14's serve plan must not contain a corpus-text scan")
  }

  test("dd04/dd07: verification runs inside the candidate join stage (no pair shuffle)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    for (name <- Seq("dd04_minhash_lsh_pairs", "dd07_prefix_join")) {
      val exec = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val nodes = flattenPlan(exec)
      // the jaccard kernel must evaluate where candidate pairs are
      // produced — in the join's own condition or a filter/project that
      // reaches the join without crossing a shuffle; pairs must never
      // materialize through an exchange unverified
      val verifyNodes = nodes.filter(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.graft.SortedLongArrayJaccard])))
      assert(verifyNodes.nonEmpty, s"$name: jaccard verification kernel missing")
      def joinBelowWithoutExchange(p: SparkPlan): Boolean = p match {
        case _: ShuffleExchangeLike => false
        case j if j.nodeName.contains("Join") => true
        case other => other.children.exists(joinBelowWithoutExchange)
      }
      verifyNodes.foreach { n =>
        assert(n.nodeName.contains("Join") || joinBelowWithoutExchange(n),
          s"$name: candidate pairs shuffled before verification:\n$n")
      }
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"$name: group table should be persisted")
    }
  }

  test("q35: no window ranks raw rows — every WindowExec sits above an aggregate") {
    // r11 guard for the bucketed rank-locate percentile (VERDICT r10's one
    // `weak` item): the retired shape ran row_number over a per-GROUP sort
    // of the raw scan — WindowExec directly above Sort+Scan, each group's
    // entire sort through one task. The rank-locate plan only ever windows
    // AGGREGATED data (the ~10³-row bucket histogram's prefix sum and the
    // straddler buckets' distinct-value running counts), so every
    // WindowExec subtree must contain an Aggregate between it and any
    // parquet scan. If this trips, a full-data window crept back in.
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q35_percentiles")(spark, sf)
    df.collect() // finalize AQE so reused stages are visible
    val nodes = flattenPlanThroughReuse(df.queryExecution.executedPlan)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the rank-locate windows in the plan")
    windows.foreach { w =>
      // positive reachability (ADVICE r11): every window must have an
      // Aggregate DESCENDANT, seen through reused exchanges — the old
      // absence check (scan-without-aggregate) passed vacuously for a
      // window whose whole subtree hid behind a ReusedExchangeExec leaf
      val sub = flattenPlanThroughReuse(w).drop(1)
      assert(sub.exists(_.nodeName.contains("Aggregate")),
        s"WindowExec with no Aggregate below it (ranks raw rows — the " +
          s"serialized-sort shape):\n$w")
    }
  }

  test("q35 routing: a located bucket with null bounds reads as not compressed") {
    // group N holds only null values, so its one histogram bucket has null
    // bmin/bmax and every N target locates a frontier row with null
    // bounds. Group O is compressed by an outlier, so the plan-time routing
    // reads both kinds of row in one collect and must pick the deep plan.
    val ss = spark
    import ss.implicits._
    val R = graft.operators.Relational
    val o = ss.range(10000).select(lit("O").as("g"),
      when(col("id") === 0, lit(1e12)).otherwise(col("id").cast("double") / 7.0).as("x"))
    val rows = o.unionByName(
      ss.range(5).select(lit("N").as("g"), lit(null).cast("double").as("x")))
    val cnts = rows.groupBy("g").agg(count(lit(1)).as("n_rows"))
    val ps = Seq(0.5 -> "p50", 0.9 -> "p90")
    val f0 = R.pctFrontier0(R.pctLocate(rows, cnts, col("x"), ps, "g").located, "g")
    assert(f0.filter(col("g") === "N" && col("lo").isNull && col("hi").isNull).count() == 4)
    assert(f0.filter(col("g") === "O" && col("lo") < col("hi") &&
      col("cnt") > R.PctSmallBucket).count() > 0, "group O must be compressed")
    val got = R.exactPcts(rows, cnts, col("x"), ps, "g").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.get("N").forall(r => r.isNullAt(1) && r.isNullAt(2)),
      s"an all-null group has no percentile value: ${got.get("N")}")
    val xs = o.select(col("x")).as[Double].collect().sorted
    ps.zipWithIndex.foreach { case ((p, name), i) =>
      val pos = (xs.length - 1) * p
      val frac = pos - math.floor(pos)
      val want = if (frac == 0) xs(pos.toInt)
        else xs(math.floor(pos).toInt) * (1.0 - frac) + xs(math.ceil(pos).toInt) * frac
      assert(got("O").getDouble(i + 1) == want, s"$name: got ${got("O")}, want $want")
    }
  }

  test("ss04: IVF cell assignment is map-side (no corpus×k shuffle, single window)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = flattenPlan(SparkEntry.queries("ss04_ann_ivf_topk")(spark, sf)
      .queryExecution.executedPlan)
    // one window total: the final per-query re-rank. The round-2 plan had
    // two more (crossJoin×cells + row_number argmin per side) that
    // shuffled corpus×k rows — the native NearestCells assignment must
    // keep them out for good.
    assert(nodes.count(_.isInstanceOf[WindowExec]) == 1,
      s"expected exactly the final re-rank window:\n${nodes.map(_.nodeName)}")
    // cell assignment reaches the cell join with no exchange anywhere
    // below it: the corpus streams map-side into the join
    val join = nodes.find(_.nodeName.contains("Join")).get
    assert(join.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"corpus shuffled before the cell join:\n$join")
  }

  test("dd07/tx08/tx10: dictionary joins carry no forced broadcast hint (AQE decides)") {
    // VERDICT r4 items 1-2: broadcast() is a HARD hint — Spark attempts it
    // regardless of measured size (up to the 8 GB cap, then fails), and a
    // 100 TB corpus's token dictionary is billions of entries. The only
    // hints allowed in these plans are 1-row scalars (tx08's n_total).
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (name <- Seq("dd07_prefix_join", "tx08_common_token_density",
        "tx10_boilerplate",
        // r10: the span-gram dictionary and the LM reference vocab/bigram
        // dictionaries are corpus-sized too — AQE must stay in charge
        "dd16_substr_dedup", "tx11_lm_coverage")) {
      val analyzed = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
      val hinted = analyzed.collect { case h: ResolvedHint => h }
      hinted.foreach { h =>
        assert(h.child.maxRows.exists(_ <= 1),
          s"$name: only 1-row scalar broadcasts may be hinted; found a hint over:\n${h.child}")
      }
    }
  }

  test("dd14 ingest gate prunes the band index to the batch's probe partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = graft.operators.Dedup.minhashIndexDir(spark, sf)
    // a 3-doc arriving batch: its probe set covers at most 3·20 of the
    // 320 packed band/bucket partitions — the scan must prune
    val batch = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 3).select(col("doc_id"), col("text"))
    val exec = graft.operators.Dedup.ingestGate(spark, dir, batch)
      .queryExecution.executedPlan
    val indexScans = flattenPlan(exec).collect {
      case sc: FileSourceScanExec if sc.relation.partitionSchema.fieldNames.contains("pb") => sc
    }
    assert(indexScans.nonEmpty, s"expected a scan of the partitioned band index:\n$exec")
    indexScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"probe-key filter must prune partitions:\n$sc")
      val selected = sc.selectedPartitions.totalNumberOfFiles
      val total = sc.relation.location.inputFiles.length.toLong
      assert(selected < total,
        s"pruning selected $selected of $total index files — nothing pruned")
    }
  }

  test("dd14 index lifecycle: append is once-per-batch, compaction preserves reads") {
    // VERDICT r5 item 3 + ADVICE: without the batch marker every dd14 run
    // in one JVM re-appends the same arrival band rows (mode append on the
    // memoized dir), growing the artifact linearly per run; and a
    // long-running ingest accretes one small file per (batch × partition)
    // with no fold-down. Two properties, both load-bearing at 100 TB:
    // (1) run-idempotence: a second full dd14 run leaves the index
    //     byte-identical in row count and file count;
    // (2) compaction read-equivalence: rewriting over-fragmented
    //     partitions changes the listing, never the rows.
    val dir = graft.operators.Dedup.minhashIndexDir(spark, sf)
    def dataFiles: Seq[java.io.File] =
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir),
        Array("parquet"), true).toArray(Array.empty[java.io.File]).toSeq
        .filter(_.getName.startsWith("part-"))
    SparkEntry.queries("dd14_stream_neardup_ingest")(spark, sf).count()
    val rows1 = spark.read.parquet(dir).count()
    val files1 = dataFiles.size
    SparkEntry.queries("dd14_stream_neardup_ingest")(spark, sf).count()
    assert(spark.read.parquet(dir).count() == rows1,
      "second dd14 run re-appended arrival rows — batch marker not honored")
    assert(dataFiles.size == files1,
      "second dd14 run grew the index file listing")
    // force compaction at threshold 1: every multi-file partition rewrites.
    // Pin the pre-compaction content driver-side FIRST — a lazy DataFrame
    // over the dir would re-scan files the swap deletes.
    val beforeDf = spark.read.parquet(dir)
    val beforeRows = beforeDf.collect()
    // drive the rewrite through an explicit URI: the lifecycle pass
    // resolves the Hadoop FileSystem from the path's scheme (VERDICT r6
    // item 3 — the former java.io implementation refused URIs outright),
    // so the same call commits via file://, hdfs://, or an object store
    val n = graft.operators.Dedup.compactIndex(spark, "file://" + dir, maxFiles = 1)
    assert(n > 0, "expected at least one over-threshold partition to rewrite")
    val after = spark.read.parquet(dir)
    val pinned = spark.createDataFrame(
      java.util.Arrays.asList(beforeRows: _*), beforeDf.schema)
    assert(after.count() == rows1, "compaction changed the row count")
    assert(after.exceptAll(pinned).isEmpty && pinned.exceptAll(after).isEmpty,
      "compaction changed the row multiset")
    assert(dataFiles.size < files1,
      s"compaction did not shrink the listing (${dataFiles.size} vs $files1)")
    dataFiles.groupBy(_.getParentFile.getName).foreach { case (part, fs) =>
      assert(fs.size <= 1, s"$part still holds ${fs.size} files after compaction")
    }
    // ADVICE r6: the swap must not strip local-FS checksum sidecars —
    // every surviving part- file keeps its .crc (ChecksumFileSystem
    // renames the sidecar with the file), and no orphaned sidecar points
    // at a deleted part- file
    dataFiles.foreach { f =>
      assert(new java.io.File(f.getParentFile, "." + f.getName + ".crc").isFile,
        s"compacted ${f.getName} lost its checksum sidecar")
    }
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir),
      Array("crc"), true).toArray(Array.empty[java.io.File]).toSeq
      .filter(_.getName.startsWith(".part-")).foreach { crc =>
        val dataName = crc.getName.stripPrefix(".").stripSuffix(".crc")
        assert(new java.io.File(crc.getParentFile, dataName).isFile,
          s"orphaned checksum sidecar ${crc.getName} survived the swap")
      }
    // the gate still prunes and still answers identically on the compacted
    // index (the serve path is the artifact's whole purpose)
    val batch = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 3).select(col("doc_id"), col("text"))
    assert(graft.operators.Dedup.ingestGate(spark, dir, batch).count() == 3)
  }

  test("pp03 consumes the materialized cluster artifact, not the propagation loop") {
    // the production shape: the prep pipeline joins the checkpointed
    // dd12 table (a parquet scan of the build-once artifact); if the
    // component loop leaked back into this job's plan, the scan of
    // graft-dd12-clusters would disappear
    val p = plan("pp03_neardup_clean_corpus")
    assert(p.contains("graft-dd12-clusters"),
      s"expected a scan of the materialized cluster table:\n$p")
  }

  test("q31: whole-stage codegen covers the aggregate (final AQE plan)") {
    val df = SparkEntry.queries("q31_embedding_stats")(spark, sf)
    df.collect() // AQE finalizes (and codegens) only on execution
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(p.contains("*(1)") && p.contains("*(2)"),
      s"expected both aggregate stages inside whole-stage codegen:\n$p")
  }

  test("pp04: corpus-wide prefix sum is bucket-partitioned, equals the naive scan") {
    import org.apache.spark.sql.expressions.{Window => W}
    val df = SparkEntry.queries("pp04_pack_sequences")(spark, sf)
    df.collect() // AQE finalizes only on execution
    val wins = flattenPlan(df.queryExecution.executedPlan)
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    // the window that scans every document must be subdivided by bucket;
    // only the bucket-TOTALS scan (rows = buckets, not docs) may
    // partition by source alone
    assert(wins.exists(_.partitionSpec.size == 2),
      s"full-data window must partition by (source, bkt): $wins")
    val sourceOnly = wins.filter(_.partitionSpec.size < 2)
    assert(sourceOnly.nonEmpty &&
      sourceOnly.forall(_.child.schema.fieldNames.contains("bkt_tokens")),
      s"only the bucket-totals scan may window by source alone: $sourceOnly")
    // hierarchical placement == the naive one-window-per-source scan
    val naive = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(
        W.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)) - col("n_tokens"))
      .select("doc_id", "start_off")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val packed = df.select("doc_id", "start_off")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(packed == naive, "hierarchical scan must equal the naive prefix sum")
  }

  test("pp05: benchmark gram set broadcasts; training side never shuffles its grams") {
    val df = SparkEntry.queries("pp05_decontaminate")(spark, sf)
    df.collect()
    val flat = flattenPlan(df.queryExecution.executedPlan)
    assert(flat.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "contamination check must be a broadcast join of the eval gram set")
    // no sort-merge join anywhere: the exploded training grams must meet
    // the benchmark set map-side, not through a gram-keyed exchange
    assert(!flat.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "training grams must not shuffle into a sort-merge join")
    // regression guard for the r12 shape: training grams reach an
    // exchange only AFTER the broadcast filter. Any exchange carrying
    // per-doc gram rows (doc_id AND h in its schema) must have the
    // broadcast join below it — the retired train.distinct() shape had
    // exactly such an exchange with no join underneath, i.e. it
    // shuffled every training gram key just to discard them
    flat.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.output.map(_.name).toSet.intersect(Set("doc_id", "h")).size == 2 => e
    }.foreach { e =>
      assert(flattenPlanThroughReuse(e).exists(_.isInstanceOf[
          org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        s"per-doc gram exchange without the broadcast filter below it:\n$e")
    }
    // sanity on the verdict itself: some but not all docs contaminated
    val n = df.count()
    val c = df.filter(col("contaminated") === 1).count()
    assert(n > 0 && c > 0 && c < n, s"contaminated $c of $n")
  }

  test("pp01: dedup + split exchanges carry hashes and scalars, never text") {
    val df = SparkEntry.queries("pp01_clean_corpus")(spark, sf)
    df.collect()
    val flat = flattenPlanThroughReuse(df.queryExecution.executedPlan)
    val shuffles = flat.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty, "pp01 has window + agg exchanges by design")
    // the 100 TB discipline: fp/md5/quality are computed map-side at the
    // scan, so no exchange (and no window input) ever carries the
    // document body or the token array
    shuffles.foreach { e =>
      val names = e.output.map(_.name).toSet
      assert(names.intersect(Set("text", "ws", "toks")).isEmpty,
        s"exchange shuffles document payload: $names")
    }
  }

  test("pp13: multiplicity broadcast, map-side expansion, scalar exchanges") {
    val df = SparkEntry.queries("pp13_source_upsample")(spark, sf)
    df.collect()
    val flat = flattenPlanThroughReuse(df.queryExecution.executedPlan)
    // the O(domains) multiplicity table joins broadcast, never shuffled
    assert(flat.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "multiplicity join must be a broadcast hash join")
    val shuffles = flat.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    shuffles.foreach { e =>
      // ids-only discipline: no exchange carries the document body
      val names = e.output.map(_.name).toSet
      assert(names.intersect(Set("text", "ws", "toks")).isEmpty,
        s"exchange shuffles document payload: $names")
      // the 1..n_copies expansion happens ABOVE every exchange — the
      // epoch-assignment rows are generated map-side, never shuffled
      assert(!flattenPlanThroughReuse(e).exists(_.isInstanceOf[
          org.apache.spark.sql.execution.GenerateExec]),
        "explode must not feed a shuffle: the expansion is map-side")
    }
  }

  test("tx14: exactly one exchange (the source rollup); rules evaluate map-side") {
    val df = SparkEntry.queries("tx14_rule_cascade")(spark, sf)
    df.collect()
    val flat = flattenPlanThroughReuse(df.queryExecution.executedPlan)
    val shuffles = flat.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(shuffles.length == 1,
      s"rule cascade must pay only the K-source rollup, got ${shuffles.length}")
    // the run-length kernel keeps per-doc stats out of any explode+agg:
    // the single exchange carries partial rollup counts, never text/tokens
    val names = shuffles.head.output.map(_.name).toSet
    assert(names.intersect(Set("text", "ws", "toks")).isEmpty, names.toString)
    assert(!flat.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.GenerateExec]),
      "per-doc rule stats must not explode the token array")
  }

  test("ss11/dd17: hybrid fusion and soft dedup never shuffle document payload") {
    for (name <- Seq("ss11_hybrid_rrf", "dd17_soft_dedup_sample")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val flat = flattenPlanThroughReuse(df.queryExecution.executedPlan)
      flat.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        val names = e.output.map(_.name).toSet
        // text dies at the scans (postings/terms/md5 map-side); vectors
        // never shuffle (the query batch broadcasts through both lanes)
        assert(names.intersect(Set("text", "ws", "toks", "v", "q_v", "c_v",
          "embedding")).isEmpty, s"$name exchange payload: $names")
      }
      // the query/dictionary sides broadcast somewhere in the plan
      assert(flat.exists(p =>
        p.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
        s"$name should broadcast its small sides")
    }
    // the skew property that keeps the per-query top-k windows safe at
    // 100 TB: Spark's rank-limit pushdown plants a PARTIAL
    // WindowGroupLimit below each rank exchange, so a query matching
    // 10^9 candidates ships <= k rows per map task into the q_id
    // partition, never the full candidate set
    val flat11 = flattenPlanThroughReuse(SparkEntry
      .queries("ss11_hybrid_rrf")(spark, sf).queryExecution.executedPlan)
    val partialLimits = flat11.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.mode == org.apache.spark.sql.execution.window.Partial => w }
    assert(partialLimits.nonEmpty,
      "rank-limit pushdown must pre-prune lane candidates map-side")
  }

  test("pp06: the sampling decision is a pushed map-side filter, no corpus window") {
    val df = SparkEntry.queries("pp06_mixture_sample")(spark, sf)
    df.collect()
    val flat = flattenPlan(df.queryExecution.executedPlan)
    val wins = flat.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    // the only window normalizes the K aggregated source rows — its child
    // carries kept_tokens, never raw document columns
    assert(wins.nonEmpty && wins.forall(
        _.child.schema.fieldNames.contains("kept_tokens")),
      s"mixture-share window must run over aggregated rows only: $wins")
    assert(!flat.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "hash-threshold sampling must not join or rank the corpus")
  }

  test("pp14: gram passes pinned behind checkpoints, ids-only shuffles") {
    val df = SparkEntry.queries("pp14_dsir_select")(spark, sf)
    df.collect()
    val flat = flattenPlanThroughReuse(df.queryExecution.executedPlan)
    // r15: the per-doc score table is pinned (localCheckpoint) because it
    // feeds BOTH the threshold histogram and the final audit projection —
    // so the scoring explode now runs once INSIDE the pinned subplan and
    // the main plan must contain NO GenerateExec at all (a Generate here
    // would mean a consumer re-embedded the gram pass — the
    // double-reference trap this guard exists for) and must read at
    // least one RDD-scan leaf (the pinned table)
    val gens = flat.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }.distinct
    assert(gens.isEmpty,
      s"gram explode leaked back into the main plan: ${gens.size}")
    assert(flat.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.RDDScanExec]),
      "expected the pinned score table as an RDD-scan leaf")
    val shuffles = flat.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    shuffles.foreach { e =>
      // corpus-sized exchanges carry (doc_id, three ints) — never the
      // document body, token arrays, or raw gram rows
      val names = e.output.map(_.name).toSet
      assert(names.intersect(Set("text", "toks", "b")).isEmpty,
        s"exchange shuffles gram/document payload: $names")
    }
  }

  test("cl05: verified eps-edges pinned — no embeddings re-scan in the edge plan") {
    // VERDICT r14 item 2: knnEpsEdges' directional self-union consumes
    // the LSH-candidate join + cosine verify twice; the r15 pin
    // (eager-false localCheckpoint) makes both directions read ONE
    // materialization. Guard: the edge plan's only leaves are RDD scans
    // of the checkpointed subtree — an embeddings parquet scan here
    // would mean the verify subtree was re-embedded into the plan.
    import graft.functions.VectorOps
    val e = Tables.load(spark, sf, "embeddings").filter(col("vec_id") < 1000)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
    val edges = graft.operators.Clustering.knnEpsEdges(spark, e,
      graft.operators.Clustering.Cl05Tables,
      graft.operators.Clustering.Cl05Bits, graft.operators.Clustering.Cl05K)
    edges.collect()
    val flat = flattenPlanThroughReuse(edges.queryExecution.executedPlan)
    val fileScans = flat.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc }
    assert(fileScans.isEmpty,
      s"edge plan re-scans parquet — the verified pin regressed: $fileScans")
    val rddScans = flat.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r }
    assert(rddScans.size >= 2,
      s"both union directions must read the pinned edge RDD: ${rddScans.size}")
  }

  test("dd05/tx12: pinned signature/type tables — no corpus re-scan in the main plan") {
    // r15: dd05's simhash table fed both chunk-join sides (and null-filter
    // inference re-evaluated the per-token-md5 kernel below each side's
    // projection); tx12's bigram-type table fed four aggregation/join
    // references, each re-running the corpus pair explode. Both are now
    // lazily pinned: the main plans must read RDD-scan leaves and contain
    // no documents parquet scan.
    for (q <- Seq("dd05_simhash_pairs", "tx12_kn_lm_stats")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val flat = flattenPlanThroughReuse(df.queryExecution.executedPlan)
      val docScans = flat.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.relation.location.inputFiles.exists(_.contains("documents")) => sc }
      assert(docScans.isEmpty,
        s"$q re-scans the corpus — its pin regressed (${docScans.size} scans)")
      assert(flat.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.RDDScanExec]),
        s"$q: expected the pinned table as an RDD-scan leaf")
    }
  }

  test("star contraction: one exchange pair per contraction, r15-identical edge set") {
    // r16 (VERDICT r15 item 5): a contraction is largeStar (adjacency
    // exchange on u) + smallStar (ONE repartition on the new u — the
    // dedup, the neighborhood min, and the equi-join all ride that
    // partitioning; the r15 terminal distinct's extra (u, v) exchange is
    // gone). Edge set with duplicates, a shared min, and a leaf/center
    // coincidence; asserts (a) exactly two shuffles per contraction and
    // (b) the emitted edge SET equals the r15 distinct'd shape.
    import org.apache.spark.sql.execution
    val sq = spark
    import sq.implicits._
    // nodes 20-24 each join 11-15, which join nothing else: after the
    // large star each of the five groups 20-24 holds 11-15, so all five
    // share the min 11 and each emits the same four leaves (12-15, 11)
    val shared = for (g <- 20L to 24L; m <- 11L to 15L) yield (g, m)
    val e = (Seq((5L, 1L), (4L, 1L), (5L, 4L), (3L, 2L), (6L, 2L), (9L, 8L),
        (5L, 1L), (7L, 2L), (7L, 3L)) ++ shared)
      .toDF("u", "v").localCheckpoint()
    val one = graft.operators.Dedup.smallStarRound(
      graft.operators.Dedup.largeStarRound(e))
    one.collect()
    val flat = flattenPlan(one.queryExecution.executedPlan)
    val shuffles = flat.collect {
      case s: execution.exchange.ShuffleExchangeExec => s }.distinct
    assert(shuffles.size == 2,
      s"expected the adjacency + repartition exchanges only, got " +
        s"${shuffles.size}:\n${flat.map(_.nodeName).mkString(", ")}")
    // reference: the r15 small-star (terminal distinct) over the same
    // large-star output — emitted SETS must match exactly
    val ls = graft.operators.Dedup.largeStarRound(e)
    val mins = ls.groupBy("u").agg(min(col("v")).as("m"))
    val ref = ls.join(mins, "u")
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("x"))
      .select(col("x.a").as("u"), col("x.b").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = one.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref, s"fused small-star emits a different edge set:\n" +
      s"got $got\nref $ref")
    // the residual-multiplicity bound the fusion's comment claims: at most
    // 2·|ed| rows in aggregate, ed being the distinct large-star output
    val rows = one.collect().length
    val ed = ls.distinct().count()
    assert(rows <= 2 * ed, s"multiplicity bound violated: $rows rows for $ed input edges")
  }

  test("dd16/tx10: one pinned gram pass — splittable count join, no gram window") {
    // r16 (VERDICT r15 item 6): the r15 count-windows put a corpus-wide
    // hot gram into ONE window task AQE cannot split. Both queries now
    // pin the exploded gram table (still a single corpus pass — the main
    // plan reads an RDD leaf and contains NO Generate of its own) and
    // count via a partial-aggregating groupBy joined back on the gram
    // key: map-side combine bounds the hot key's shuffle to ≤ one row
    // per map task, and the join-back is the shape AQE's skew handling
    // CAN split. A Generate in the main plan means a consumer
    // re-embedded the explode (the r15 double-reference trap); a
    // WindowExec means the unsplittable single-task shape came back.
    for (q <- Seq("dd16_substr_dedup", "tx10_boilerplate")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val flat = flattenPlanThroughReuse(df.queryExecution.executedPlan)
      val gens = flat.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g }.distinct
      assert(gens.isEmpty,
        s"$q: gram explode re-embedded in the main plan (${gens.size})")
      assert(flat.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.RDDScanExec]),
        s"$q: expected the pinned gram table as an RDD-scan leaf")
      assert(!flat.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.window.WindowExec]),
        s"$q: unsplittable gram-count window came back")
    }
  }
}
