package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Skew handling (SCALE.md): salting decomposes a hot join key so the
  * shuffle spreads across the cluster; AQE skew-join splits at runtime.
  * Correctness of the salted rewrite is what's asserted — identical result
  * to the naive join. */
class SkewSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]").appName("skew-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("salted join of a skewed fact against a dim equals the naive join") {
    val ss = spark
    import ss.implicits._
    val salts = 8
    // 100k rows, 90% on one hot key
    val fact = ss.range(100000)
      .select(when(col("id") % 10 < 9, 1L).otherwise(col("id") % 1000).as("k"),
        col("id").as("v"))
    val dim = ss.range(1000).select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))

    val naive = fact.join(dim, "k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .as[(Long, Long)].head()

    // salting: explode the dim `salts` ways, salt the fact randomly-but-
    // deterministically, join on (k, salt) — the hot key's rows now land
    // on `salts` reducers instead of one
    val saltedFact = fact.withColumn("salt", pmod(xxhash64(col("v")), lit(salts)))
    val saltedDim = dim.withColumn("salt",
      explode(sequence(lit(0), lit(salts - 1)))).withColumn("salt", col("salt").cast("long"))
    val salted = saltedFact.join(saltedDim, Seq("k", "salt"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .as[(Long, Long)].head()

    assert(salted == naive)
  }

  test("duplicate bomb: dd12's cluster table is O(n) where pair expansion is O(k²)") {
    // VERDICT r5 item 6: the cluster table's skew-safety was argued, not
    // measured. Plant a 10⁴-copy duplicate group (one boilerplate page
    // duplicated across the corpus — the real-world worst case) into the
    // sf0.001 fixture and push it through the SHIPPED pipeline both ways:
    //  - dd12 shape (clusterTableOf): one row per DOCUMENT regardless of
    //    group size — output n_docs rows total;
    //  - dd07 shape (docPairsOf): the k-copy group alone contributes
    //    k(k-1)/2 pair rows — 5·10⁷ for k=10⁴, quadratic death at skew.
    // The exact-dup collapse keeps the JOIN itself safe in both (the bomb
    // is ONE rep node); what differs is the terminal artifact's size —
    // which is the point of dd12.
    val ss = spark
    val sf = "/root/testdata/sf0.001"
    val k = 10000L
    val base = Tables.load(ss, sf, "documents").select(col("doc_id"), col("text"))
    val hotText = base.orderBy(col("doc_id")).limit(1)
      .select(col("text")).collect()(0).getString(0)
    val bomb = ss.range(k)
      .select((col("id") + 1000000L).as("doc_id"), lit(hotText).as("text"))
    val planted = base.unionAll(bomb)
    val nDocs = base.count() + k

    val t0 = System.nanoTime()
    val clusterRows = graft.operators.Dedup.clusterTableOf(planted).count()
    val clusterSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pairRows = graft.operators.Dedup.docPairsOf(planted).count()
    val pairSec = (System.nanoTime() - t1) / 1e9
    info(f"cluster table: $clusterRows rows in $clusterSec%.1f s; " +
      f"pair expansion: $pairRows rows in $pairSec%.1f s (${pairRows / clusterRows}× more rows)")

    // O(n): exactly one row per document, bomb included
    assert(clusterRows == nDocs,
      s"cluster table must be one row per doc: $clusterRows != $nDocs")
    // O(k²): the bomb alone contributes k(k-1)/2 pairs (plus the copies'
    // pairs with the original doc and the fixture's own near-dup pairs)
    assert(pairRows >= k * (k - 1) / 2,
      s"pair expansion lost the bomb's quadratic blowup: $pairRows")
    // the asymmetry the operator exists for: >4 orders of magnitude here
    assert(pairRows / clusterRows > 1000,
      s"expected a >1000× row-count gap, got ${pairRows / clusterRows}×")
    // and the bomb's cluster is labeled correctly: every copy carries the
    // original doc's id as rep/comp and the right member count
    val bombRows = graft.operators.Dedup.clusterTableOf(planted)
      .filter(col("doc_id") >= 1000000L)
    val heads = bombRows.select(col("rep_id"), col("comp_id"), col("n_members"))
      .distinct().collect()
    assert(heads.length == 1, s"bomb split across clusters: ${heads.toSeq}")
    assert(heads(0).getLong(2) >= k, s"bomb cluster undercounted: ${heads(0)}")
  }

  test("duplicate bomb ×100: window vs agg+join cluster sizing at 10⁶ copies") {
    // VERDICT r6 item 4: dd12's n_members window forces the whole hot
    // comp_id through ONE task, and AQE cannot split a window the way it
    // skew-splits a join — so grow the bomb two decades past the r5 tier
    // and MEASURE the window against the partial-agg+join variant (wall
    // clock and max single-task time) instead of claiming "any skew".
    // A 10⁶-copy duplicate group is one boilerplate page duplicated
    // across ~0.2% of a 5·10⁸-doc corpus — a plausible real-world hot
    // cluster, not a thought experiment.
    val ss = spark
    val sf = "/root/testdata/sf0.001"
    val k = 1000000L
    val base = Tables.load(ss, sf, "documents").select(col("doc_id"), col("text"))
    val hotText = base.orderBy(col("doc_id")).limit(1)
      .select(col("text")).collect()(0).getString(0)
    val bomb = ss.range(k)
      .select((col("id") + 1000000L).as("doc_id"), lit(hotText).as("text"))
    val planted = base.unionAll(bomb)
    val nDocs = base.count() + k

    val maxTask = new org.apache.spark.scheduler.SparkListener {
      val maxMs = new java.util.concurrent.atomic.AtomicLong(0)
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null)
          maxMs.getAndAccumulate(te.taskInfo.duration, math.max)
    }
    ss.sparkContext.addSparkListener(maxTask)
    def measure(viaWindow: Boolean): (Long, Double, Long) = {
      org.apache.spark.GraftSparkTestAccess.drainListenerBus(ss.sparkContext)
      maxTask.maxMs.set(0)
      val t0 = System.nanoTime()
      val rows = graft.operators.Dedup.clusterTableOf(planted, viaWindow).count()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftSparkTestAccess.drainListenerBus(ss.sparkContext)
      (rows, sec, maxTask.maxMs.get())
    }
    try {
      // warm pass of each plan first: the first execution pays codegen +
      // JIT + fixture-cache warmup, which would bias whichever variant
      // runs first (measured 1.3 s of order effect)
      measure(viaWindow = true); measure(viaWindow = false)
      val (winRows, winSec, winMaxTask) = measure(viaWindow = true)
      val (aggRows, aggSec, aggMaxTask) = measure(viaWindow = false)
      info(f"window:   $winRows rows in $winSec%.1f s, max task $winMaxTask ms")
      info(f"agg+join: $aggRows rows in $aggSec%.1f s, max task $aggMaxTask ms")
      // both variants are exact: one row per doc, identical bomb labeling
      assert(winRows == nDocs && aggRows == nDocs,
        s"cluster table must be one row per doc: $winRows/$aggRows != $nDocs")
      val heads = graft.operators.Dedup.clusterTableOf(planted)
        .filter(col("doc_id") >= 1000000L)
        .select(col("rep_id"), col("comp_id"), col("n_members"))
        .distinct().collect()
      assert(heads.length == 1 && heads(0).getLong(2) >= k,
        s"bomb mislabeled at 10⁶: ${heads.toSeq}")
      // the envelope claim SCALE.md records: the hot cluster's single
      // window task must clear in well under a scheduler-relevant bound —
      // a count-only window STREAMS its partition (no buffering), which
      // is why the one-shuffle plan survives this tier. If this trips,
      // the balance has shifted: flip clusterTableOf's default instead.
      assert(winMaxTask < 60000L,
        s"hot-cluster window task took $winMaxTask ms — adopt agg+join for dd12")
    } finally ss.sparkContext.removeSparkListener(maxTask)
  }

  test("hot-gram bomb: substrCoverage bounds a 10⁷-occurrence gram key") {
    // VERDICT r15 item 6: the r15 count-window funneled a corpus-wide
    // boilerplate gram through ONE window task AQE cannot split. The r16
    // shape (pinned gram table + partial-aggregating count + semi-join)
    // bounds the hot key: map-side combine ships ≤ one row per map task
    // into the h-partition, and the join-back broadcasts/skew-splits.
    // Plant ONE gram with 10⁷ occurrences (10⁴ docs × 10³ identical
    // 8-token windows each — a boilerplate page pasted corpus-wide) and
    // assert the pipeline both answers exactly and keeps every task under
    // the spec's scheduler-relevant ceiling.
    val ss = spark
    val nDocs = 10000L
    val toks = 1007
    val hotText = Seq.fill(toks)("boiler").mkString(" ")
    val docs = ss.range(nDocs)
      .select(col("id").as("doc_id"), lit(hotText).as("text"))
    val maxTask = new org.apache.spark.scheduler.SparkListener {
      val maxMs = new java.util.concurrent.atomic.AtomicLong(0)
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null)
          maxTask0(te.taskInfo.duration)
      private def maxTask0(d: Long): Unit = maxMs.getAndAccumulate(d, math.max)
    }
    ss.sparkContext.addSparkListener(maxTask)
    try {
      org.apache.spark.GraftSparkTestAccess.drainListenerBus(ss.sparkContext)
      maxTask.maxMs.set(0)
      val t0 = System.nanoTime()
      val rows = graft.operators.Dedup.substrCoverageOf(docs).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftSparkTestAccess.drainListenerBus(ss.sparkContext)
      info(f"hot-gram corpus: ${rows.length} docs in $sec%.1f s, " +
        f"max task ${maxTask.maxMs.get()} ms")
      // exact: every window of every doc is duplicated corpus-wide, so
      // each doc's coverage is total (n_dup_windows = toks − 7,
      // covered_tokens = n_tokens = toks)
      assert(rows.length == nDocs)
      assert(rows.forall(r => r.getLong(1) == toks &&
        r.getLong(2) == toks - 7 && r.getLong(3) == toks),
        s"hot-gram coverage wrong: ${rows.take(3).toSeq}")
      assert(maxTask.maxMs.get() < 60000L,
        s"hot-gram task took ${maxTask.maxMs.get()} ms — the count shape " +
          "no longer bounds the hot key")
    } finally ss.sparkContext.removeSparkListener(maxTask)
  }

  test("token-budget tie bomb: an all-equal-quality source scans in parallel cells") {
    // pp09's order key is (quality desc, doc_id) — DATA-dependent. A
    // quality-saturated corpus (every doc scoring the ceiling 1.0 — the
    // common case once least(1.0, ·) clips) is the regime that collapses
    // any fixed banding of the quality VALUE into one serial cell. The
    // shipped decomposition range-partitions on the FULL order key, so
    // the doc_id tiebreak splits the tie mass across cells. Assert both
    // halves: the (source, pid) cell histogram stays balanced under the
    // total tie, and the composed result equals the naive serial scan
    // (equal quality ⇒ the selection order is doc_id asc, so the
    // expected cumulative sums are closed-form).
    val ss = spark
    val n = 60000L
    val tokensPerDoc = 30L
    // 30 distinct non-stopword tokens ⇒ quality = least(1.0, 0·2 + 1.0) = 1.0
    val text = (1 to tokensPerDoc.toInt).map(i => s"w$i").mkString(" ")
    val docs = ss.range(n).select(col("id").as("doc_id"),
      lit("web").as("source"), lit(text).as("text"))

    // balance probe with AQE coalescing off: at test scale (2 MB of
    // scalars) AQE would rightly merge the range partitions into one —
    // the production regime this tier models is cells ≫ advisory size
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = ss.conf.get(coalesceKey)
    val cells = try {
      ss.conf.set(coalesceKey, "false")
      graft.operators.Pipelines.prefixScanCells(
        graft.operators.Pipelines.scoreDocs(docs), Seq("source"),
        Seq(col("quality").desc, col("doc_id")), col("n_tokens"))
        .groupBy(col("source"), col("pid")).count()
        .collect().map(_.getLong(2))
    } finally ss.conf.set(coalesceKey, prev)
    assert(cells.length >= 4,
      s"tie mass must split across cells, got ${cells.length}")
    assert(cells.max <= n / 4,
      s"no cell may hold the tie mass: max ${cells.max} of $n")

    // composed correctness (AQE coalescing back ON — the output is
    // invariant to the cell bucketing, which this re-proves)
    val audit = graft.operators.Pipelines.budgetSelect(docs, 640L)
      .select(col("doc_id"), col("cum_tokens"), col("kept")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(audit.length == n)
    audit.zipWithIndex.foreach { case ((id, cum, kept), i) =>
      assert(id == i && cum == tokensPerDoc * (i + 1) &&
        kept == (if (cum <= 640L) 1 else 0), s"row $i: ($id, $cum, $kept)")
    }
  }

  test("prefix-scan offsets at x10 groups: O(groups + cells) rows, contiguous spans") {
    // VERDICT r12 item 6: the one unmeasured groupPrefixScan primitive —
    // the level-2 offsets table and its per-group cellScan window. The
    // naive bound is O(groups · partitions) (every group in every cell);
    // the shipped decomposition range-partitions on (group ++ order), so
    // each group's rows land CONTIGUOUSLY and a group spans only the
    // cells its row range straddles — the offsets table is
    // O(groups + cells) (each cell boundary adds at most one extra
    // (group, pid) row), and every per-group window ranks a handful of
    // rows, never `partitions` of them. Measured here at a ×10 group
    // count over the pp09/pp12 consumers' fixture scale.
    val ss = spark
    val n = 120000L
    val nGroups = 5000
    val rows = ss.range(n).select(col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(nGroups))).as("source"),
      lit(1L).as("w"))
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = ss.conf.get(coalesceKey)
    val (offsetRows, nCells, maxSpan, maxCellRows, minCellRows) = try {
      ss.conf.set(coalesceKey, "false")
      val cells = graft.operators.Pipelines.prefixScanCells(
        rows, Seq("source"), Seq(col("doc_id")), col("w"))
      val offsets = cells.select(col("source"), col("pid")).distinct().cache()
      val o = offsets.count()
      val c = offsets.select(col("pid")).distinct().count()
      val span = offsets.groupBy(col("source")).count()
        .agg(max(col("count"))).collect().head.getLong(0)
      val perCell = cells.groupBy(col("pid")).count()
        .agg(max(col("count")), min(col("count"))).collect().head
      offsets.unpersist()
      (o, c, span, perCell.getLong(0), perCell.getLong(1))
    } finally ss.conf.set(coalesceKey, prev)
    info(s"offsets=$offsetRows cells=$nCells maxGroupSpan=$maxSpan " +
      s"cellRows=[$minCellRows,$maxCellRows] (n=$n groups=$nGroups)")
    assert(offsetRows <= nGroups + nCells,
      s"offsets table $offsetRows exceeds groups+cells ${nGroups + nCells} — " +
        "groups are no longer cell-contiguous")
    // a CONTIGUOUS run of `groupRows` rows can intersect at most
    // ceil(groupRows / minCellRows) + 1 range cells — the real
    // contiguity bound (ADVICE r13: the former `maxSpan <= 1 + nCells`
    // holds for ANY partitioning by definition and tested nothing);
    // here 24-row groups against thousands-row cells means each group
    // straddles at most one cell boundary
    val groupRows = n / nGroups
    val spanBound = 1 + (groupRows + minCellRows - 1) / math.max(minCellRows, 1L)
    assert(maxSpan <= spanBound,
      s"a group spans $maxSpan cells > contiguity bound $spanBound " +
        s"($groupRows-row groups, min cell $minCellRows rows) — group rows " +
        "are no longer contiguous across the range partitioning")
    assert(maxCellRows <= 4 * n / math.max(nCells, 1),
      s"cell imbalance: max $maxCellRows rows of $n across $nCells cells")
    // composed correctness at this group count: cum == rank within group
    val bad = graft.operators.Pipelines.groupPrefixScan(
        rows, Seq("source"), Seq(col("doc_id")), col("w"))
      .select(col("doc_id"), col("cum"))
      .filter(col("cum") =!= floor(col("doc_id") / nGroups).cast("long") + 1)
      .count()
    assert(bad == 0L, s"$bad rows with a wrong running total")
  }

  test("percentile rank-locate: a single giant group sorts only straddling buckets") {
    // VERDICT r10's one `weak` item: the sort-based exactPcts serialized
    // each group's ENTIRE sort through one task. The r11 bucket-histogram
    // rank-locate must (a) keep the exact interpolated result and (b)
    // bound the rows that reach any per-bucket sort to a sliver of the
    // group — asserted here on ONE group of 400k spread values, the shape
    // that used to be the serialization worst case.
    val ss = spark
    import ss.implicits._
    val n = 400000L
    val rows = ss.range(n).select(lit("G").as("g"),
      (pmod(xxhash64(col("id")), lit(1000000L))).cast("double").as("x"))
    val cnts = rows.groupBy("g").agg(count(lit(1)).as("n_rows"))
    val ps = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75")

    // footprint: rows inside buckets that need a value-level rank pass.
    // 2 straddling buckets per percentile max, ~n/1024 rows each → well
    // under n/50 for a spread distribution; the old shape's answer was n.
    val located = graft.operators.Relational
      .pctLocate(rows, cnts, col("x"), ps, "g").located
    val sortRows = located.filter(col("bmin") < col("bmax"))
      .agg(coalesce(sum(col("bc")), lit(0L))).as[Long].head()
    info(s"straddler-bucket sort footprint: $sortRows of $n rows")
    assert(sortRows > 0, "expected at least one non-degenerate straddler bucket")
    assert(sortRows < n / 50,
      s"sort footprint $sortRows is not a sliver of the $n-row group")

    // r12 adaptive gate: a spread distribution's straddlers are all under
    // PctSmallBucket rows, so ONE resolve level answers everything — the
    // next frontier is EMPTY and the deeper refine stages get elided by
    // AQE's empty-relation propagation (the sf0.1 claw-back)
    val parts = graft.operators.Relational.pctLocate(rows, cnts, col("x"), ps, "g")
    val f0 = graft.operators.Relational.pctFrontier0(parts.located, "g")
    val lvl1 = graft.operators.Relational
      .pctResolveLevel(parts.bucketed, f0, "g", last = false)
    assert(lvl1.frontier.isEmpty,
      "spread straddlers must resolve at level 1 — nothing should refine")

    // exactness: bit-identical to a locally computed interpolated
    // quantile using the same convex form on the same doubles
    val got = graft.operators.Relational
      .exactPcts(rows, cnts, col("x"), ps, "g").collect()(0)
    val xs = rows.select(col("x")).as[Double].collect().sorted
    def q(p: Double): Double = {
      val pos = (xs.length - 1) * p
      val lo = xs(math.floor(pos).toInt); val hi = xs(math.ceil(pos).toInt)
      val g = pos - math.floor(pos)
      lo * (1.0 - g) + hi * g
    }
    assert(got.getDouble(1) == q(0.25) && got.getDouble(2) == q(0.5) &&
      got.getDouble(3) == q(0.75),
      s"got $got, expected (${q(0.25)}, ${q(0.5)}, ${q(0.75)})")
  }

  test("percentile rank-locate: point-mass skew never row-sorts the mass") {
    // Heavy-hitter tiers the bucket histogram must absorb:
    //  - an ALL-EQUAL group: every located bucket is degenerate
    //    (bmin == bmax) → the answer comes from the histogram, zero rows
    //    reach a sort;
    //  - a MIXED bucket (90% point mass + spread neighbors sharing its
    //    bucket): the straddler pass aggregates by DISTINCT value before
    //    ranking, so the mass collapses map-side to one row — the window
    //    partition holds the bucket's distinct values, not its rows.
    val ss = spark
    import ss.implicits._
    val ps = Seq(0.5 -> "p50")

    val allEq = ss.range(500000).select(lit("H").as("g"), lit(42.0).as("x"))
    val cntsEq = allEq.groupBy("g").agg(count(lit(1)).as("n_rows"))
    val locEq = graft.operators.Relational
      .pctLocate(allEq, cntsEq, col("x"), ps, "g").located
    assert(locEq.filter(col("bmin") < col("bmax")).isEmpty,
      "all-equal group must resolve from the histogram alone")
    val gotEq = graft.operators.Relational
      .exactPcts(allEq, cntsEq, col("x"), ps, "g").collect()(0)
    assert(gotEq.getDouble(1) == 42.0)

    // mixed: 90% at x=500.0, 10% spread over [0, 1000) — the hot value's
    // bucket also holds spread neighbors, so it is NOT degenerate, but
    // the distinct-value pass must keep the ranked row count near the
    // bucket's DISTINCT count (~n/1024 values), not its row count (~0.9n)
    val n = 400000L
    val mixed = ss.range(n).select(lit("M").as("g"),
      when(col("id") % 10 < 9, lit(500.0))
        .otherwise(pmod(xxhash64(col("id")), lit(1000L)).cast("double")).as("x"))
    val cntsM = mixed.groupBy("g").agg(count(lit(1)).as("n_rows"))
    val gotM = graft.operators.Relational
      .exactPcts(mixed, cntsM, col("x"), ps, "g").collect()(0)
    assert(gotM.getDouble(1) == 500.0, s"median of the point mass: $gotM")
    // and the distinct-value collapse holds: the straddler buckets carry
    // ≤ ~1000 distinct values even though they hold ~360k rows
    val locM = graft.operators.Relational
      .pctLocate(mixed, cntsM, col("x"), ps, "g")
    val straddlers = locM.located.filter(col("bmin") < col("bmax"))
      .select(col("g"), col("b"))
    val distinctInStraddlers = locM.bucketed
      .join(straddlers, Seq("g", "b"), "left_semi")
      .select(col("v")).distinct().count()
    assert(distinctInStraddlers <= 1100,
      s"straddler buckets should collapse to ≤ ~1000 distinct values, " +
        s"got $distinctInStraddlers")
  }

  test("percentile rank-locate: an outlier-compressed range refines at level 2") {
    // The equi-width failure mode level 2 exists for: a heavy-tailed
    // column whose single outlier (1e12) stretches the group range so the
    // DENSE 99.99% of values (distinct doubles in [0, 1000)) all land in
    // level-1 bucket 0 — non-degenerate, holding ~the whole group. The
    // level-1 locate alone would funnel everything into one rank-pass
    // partition; the range-adaptive level-2 re-bucket over the dense
    // bucket's own [bmin, bmax] must cut the rank-pass footprint back to
    // a sliver, and the answer must stay exact.
    val ss = spark
    import ss.implicits._
    val n = 400000L
    val rows = ss.range(n).select(lit("O").as("g"),
      when(col("id") === 0, lit(1e12))
        .otherwise(pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 1000.0)
        .as("x"))
    val cnts = rows.groupBy("g").agg(count(lit(1)).as("n_rows"))
    val ps = Seq(0.5 -> "p50")

    val parts = graft.operators.Relational.pctLocate(rows, cnts, col("x"), ps, "g")
    // level 1 IS compressed: the straddler bucket holds ~the whole group,
    // which exceeds the PctSmallBucket gate, so the adaptive level MUST
    // route it to refinement (not the direct rank pass)
    val lvl1Rows = parts.located.filter(col("bmin") < col("bmax"))
      .agg(coalesce(sum(col("bc")), lit(0L))).as[Long].head()
    assert(lvl1Rows > n / 2,
      s"expected the outlier to compress level 1 (straddler ≈ group), got $lvl1Rows")
    // one resolve level refines: the forwarded frontier carries a sliver
    val f0 = graft.operators.Relational.pctFrontier0(parts.located, "g")
    val lvl1 = graft.operators.Relational
      .pctResolveLevel(parts.bucketed, f0, "g", last = false)
    val lvl2Rows = lvl1.frontier
      .agg(coalesce(sum(col("cnt")), lit(0L))).as[Long].head()
    info(s"rank-pass footprint: level-1 $lvl1Rows → level-2 $lvl2Rows of $n rows")
    assert(lvl2Rows > 0, "the compressed straddler must refine, not rank directly")
    assert(lvl2Rows < n / 100,
      s"level-2 footprint $lvl2Rows is not a sliver of the $n-row group")

    // exactness under the outlier, bit-identical to the local quantile
    val got = graft.operators.Relational
      .exactPcts(rows, cnts, col("x"), ps, "g").collect()(0)
    val xs = rows.select(col("x")).as[Double].collect().sorted
    val pos = (xs.length - 1) * 0.5
    val frac = pos - math.floor(pos)
    val want = xs(math.floor(pos).toInt) * (1.0 - frac) +
      xs(math.ceil(pos).toInt) * frac
    assert(got.getDouble(1) == want, s"got ${got.getDouble(1)}, want $want")
  }

  test("percentile rank-locate: a doubly-compressed range recurses to level 3") {
    // The composition claim SCALE.md §3 used to state as prose, now
    // executed: TWO nested outliers (1e12 stretching the group range,
    // 1e6 stretching the dense bucket's own range) compress BOTH the
    // level-1 histogram and the level-2 sub-histogram — the dense 99.99%
    // of values live in [0, 1), so one refine level still leaves the
    // located sub-bucket holding ~the whole group. The adaptive router
    // must forward it a second time (frontier after one level ≈ group,
    // after two levels a sliver), and the depth-3 rank pass must keep the
    // answer bit-exact.
    val ss = spark
    import ss.implicits._
    val n = 400000L
    val rows = ss.range(n).select(lit("D").as("g"),
      when(col("id") === 0, lit(1e12))
        .when(col("id") === 1, lit(1e6))
        .otherwise(pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 1e6)
        .as("x"))
    val cnts = rows.groupBy("g").agg(count(lit(1)).as("n_rows"))
    val ps = Seq(0.5 -> "p50")
    val R = graft.operators.Relational

    val parts = R.pctLocate(rows, cnts, col("x"), ps, "g")
    val f0 = R.pctFrontier0(parts.located, "g")
    val lvl1 = R.pctResolveLevel(parts.bucketed, f0, "g", last = false)
    val f1Rows = lvl1.frontier
      .agg(coalesce(sum(col("cnt")), lit(0L))).as[Long].head()
    assert(f1Rows > n / 2,
      s"expected the inner outlier to keep level 2 compressed, got $f1Rows")
    val lvl2 = R.pctResolveLevel(parts.bucketed, lvl1.frontier, "g", last = false)
    val f2Rows = lvl2.frontier
      .agg(coalesce(sum(col("cnt")), lit(0L))).as[Long].head()
    info(s"frontier footprint: level-1 $f1Rows → level-2 $f2Rows of $n rows")
    assert(f2Rows > 0, "the doubly-compressed bucket must refine twice")
    assert(f2Rows < n / 100,
      s"second refine left $f2Rows rows — not a sliver of the $n-row group")

    // exactness through the full pipeline at depth 3 (the recursion) AND
    // at the default depth 2 (the ceiling-forced final pass): depth bounds
    // the rank-pass partition size, never the answer
    val got = R.exactPcts(rows, cnts, col("x"), ps, "g", depth = 3).collect()(0)
    val got2 = R.exactPcts(rows, cnts, col("x"), ps, "g").collect()(0)
    assert(got.getDouble(1) == got2.getDouble(1),
      s"depth must not change the answer: d3=$got d2=$got2")
    val xs = rows.select(col("x")).as[Double].collect().sorted
    val pos = (xs.length - 1) * 0.5
    val frac = pos - math.floor(pos)
    val want =
      if (frac == 0) xs(pos.toInt)
      else xs(math.floor(pos).toInt) * (1.0 - frac) +
        xs(math.ceil(pos).toInt) * frac
    assert(got.getDouble(1) == want, s"got ${got.getDouble(1)}, want $want")
  }

  test("percentile rank-locate: non-finite values pin to the rank order's ends") {
    // ADVICE r11: a non-finite value's scaled bucket offset is NaN, which
    // casts to bucket 0 — without pinning, +Inf/NaN would counted below
    // every finite value and the located rank ranges go wrong. pctBucketId
    // pins −Inf → bucket 0 and +Inf/NaN → the top bucket (the NaN-last
    // total order both engines sort doubles by), and interpolation
    // short-circuits integral ranks so an exact-rank hit on ±Inf returns
    // ±Inf instead of Inf·0 = NaN. Checked against a locally computed
    // quantile over the same doubles under the same total order.
    val ss = spark
    import ss.implicits._
    val n = 20000L
    val rows = ss.range(n).select(lit("F").as("g"),
      when(col("id") === 0, lit(Double.NegativeInfinity))
        .when(col("id") === 1, lit(Double.PositiveInfinity))
        .when(col("id") === 2, lit(Double.NaN))
        .otherwise(pmod(xxhash64(col("id")), lit(1000L)).cast("double"))
        .as("x"))
    val cnts = rows.groupBy("g").agg(count(lit(1)).as("n_rows"))
    val ps = Seq(0.0 -> "pmin", 0.5 -> "p50", 1.0 -> "pmax")
    val got = graft.operators.Relational
      .exactPcts(rows, cnts, col("x"), ps, "g").collect()(0)
    // Ordering.Double.TotalOrdering sorts −Inf first and NaN last — the
    // same total order Spark's comparisons and DuckDB's sort use
    val xs = rows.select(col("x")).as[Double].collect()
      .sorted(Ordering.Double.TotalOrdering)
    def want(p: Double): Double = {
      val pos = (xs.length - 1) * p
      val frac = pos - math.floor(pos)
      if (frac == 0) xs(pos.toInt)
      else xs(math.floor(pos).toInt) * (1.0 - frac) +
        xs(math.ceil(pos).toInt) * frac
    }
    for ((i, p) <- Seq(1 -> 0.0, 2 -> 0.5, 3 -> 1.0)) {
      assert(java.lang.Double.compare(got.getDouble(i), want(p)) == 0,
        s"p=$p: got ${got.getDouble(i)}, want ${want(p)}")
    }
    assert(got.getDouble(1).isNegInfinity && got.getDouble(3).isNaN,
      s"expected pmin=−Inf and pmax=NaN, got $got")
  }

  test("hybrid-serve tie bomb: a 999-way lexical tie pre-prunes map-side") {
    // planted corpus: one query doc ("needle"), 10,000 corpus docs of
    // which 999 contain the rare term with IDENTICAL tf — the worst case
    // for the per-query rank window (every tied candidate is a
    // contender), and every vector identical so the cosine lane ties
    // too. The rank order must stay deterministic (c_id tiebreak), and
    // the rank-limit pushdown must keep the q_id exchange at O(tasks·k)
    // rows instead of shipping all 999 tied candidates to one partition.
    val dir = java.nio.file.Files.createTempDirectory("graft-skew-hybrid")
      .toString
    val ss = spark
    import ss.implicits._
    val query = Seq((0L, "needle")).toDF("doc_id", "text")
    val corpus = ss.range(10, 10010).select(col("id").as("doc_id"),
      when(col("id") < 1009, concat(lit("needle f"), col("id")))
        .otherwise(concat(lit("junk f"), col("id"))).as("text"))
    query.union(corpus).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val vec = Seq.fill(8)(1.0f)
    (Seq(0L) ++ (10L until 1010L)).toDF("vec_id")
      .select(col("vec_id"), typedLit(vec).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // q_id must stay non-foldable (range, not lit) — a literal id
    // constant-folds the per-query partitioning out of the rank windows
    // and the plan degenerates to the global-window shape no real serve
    // has (request ids are data, never plan constants)
    val df = operators.Similarity.hybridRrf(spark, dir,
      ss.range(0, 1).select(col("id").as("q_id")))
    val rows = df.collect()
    // deterministic tie closure: both lanes rank ids 10..29 first
    // (score ties resolve by c_id), so the fused top-10 is ids 10..19
    // with equal lane ranks
    assert(rows.length == 10)
    rows.sortBy(_.getInt(2)).zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(1) == 10L + i, s"fused rank ${i + 1}: $r")
      assert(r.getInt(3) == i + 1 && r.getInt(4) == i + 1,
        s"lane ranks must tie-break by c_id: $r")
    }
    // the skew bound, measured: the exchange feeding the lexical rank
    // window received partial-limit-pruned rows (<= tasks*20), never the
    // full 999-way tie set
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        flatten(s.plan)
      case o => o.children.flatMap(flatten)
    })
    val lexExchanges = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.output.exists(_.name == "lex_score") => e }
    assert(lexExchanges.nonEmpty, "expected the lexical rank exchange")
    lexExchanges.foreach { e =>
      val written = e.metrics.get("shuffleRecordsWritten").map(_.value)
      written.foreach(n =>
        assert(n > 0 && n < 999,
          s"rank exchange shipped $n rows — the 999-way tie was not pre-pruned"))
    }
  }
}
