package graft.operators

import graft.Tables
import graft.Tables.{davg, dsum, dsum6}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Relational operator surface (SURVEY.md §2.2): every shuffle-dependent
  * operator class the reference exercises (TPC-DS q5/q49/q67/q75 shapes,
  * RDD agg/sort tests), re-expressed as declarative DataFrame queries over
  * the TPC-H-ish fixtures so Catalyst picks the physical strategy.
  *
  * Each query has a DuckDB-oracle SQL twin in [[graft.SparkEntry.oracleSql]].
  * Numeric policy: see [[graft.Tables]] — exact decimal sums cast to double.
  *
  * Scale notes (100 TB): every aggregation here is partial→final
  * (map-side combine); dimension joins (region/nation/part/supplier) are
  * broadcast; fact-fact joins shuffle on their join keys and rely on AQE
  * for skew/coalesce. No collect-driven logic anywhere.
  */
object Relational {

  /** Number of equi-width buckets in the rank-locate percentile. ~10³ keeps
    * the per-group histogram a broadcast-sized table while bounding any
    * single straddling-bucket sort to ~n/1024 rows. */
  private[graft] val PctBuckets = 1024

  /** Located percentile targets — one row per (group, percentile, lo|hi
    * side): the bucket that holds the target rank plus that bucket's
    * histogram stats. `bucketed` is the full corpus tagged with its bucket
    * id; `located` is tiny (≤ 2·|ps|·groups rows). Shared by [[exactPcts]]
    * and the scale spec that asserts the sort footprint. */
  private[graft] final case class PctLocated(bucketed: DataFrame, located: DataFrame)

  /** Gate for the adaptive refine: a straddling bucket of at most
    * this many ROWS resolves directly via the distinct-value rank pass —
    * at most this many values sort in ONE streaming window partition,
    * microseconds for a task — so only a bigger bucket pays the two extra
    * sub-histogram stages a refine level costs. A spread distribution's
    * straddlers hold ~n/1024 rows, so every fixture scale up to n ≈ 4M
    * rows/group resolves entirely at level 1; the compressed-histogram
    * tiers (one outlier stretching the range) exceed the gate and refine. */
  private[graft] val PctSmallBucket = 4096L

  /** Default unroll depth of the adaptive resolve. Resolution multiplies
    * by [[PctBuckets]] per level, so depth d bounds the final rank-pass
    * partition by n/PctBuckets^d distinct values — at the default d = 2
    * (locate + one refine + forced final pass) a 10¹²-row group's worst
    * task ranks ~10⁶ values. Deeper
    * unrolls are caller-requested (`depth` on [[exactPctsCols]]): each
    * unrolled level is runtime-elided by AQE when its frontier is empty,
    * but still costs a fixed ~0.5 s of planning + sequential
    * stage-materialization latency at interactive scale (measured at
    * sf0.1; invisible at cluster scale), so the default stays at the
    * ceiling that covers every distribution short of NESTED outlier
    * compression — SkewSpec's doubly-compressed tier proves depth 3
    * composes when a corpus needs it. */
  private[graft] val PctDepth = 2

  /** One adaptive resolution level's output: `resolved` carries final
    * (grp, pname, side, pv) answers for the targets whose interval was
    * degenerate or small enough to rank directly; `frontier` carries the
    * still-compressed sub-buckets (same schema as the input frontier) for
    * the next level — empty once everything resolved. */
  private[graft] final case class PctLevel(resolved: DataFrame, frontier: DataFrame)

  private def pctPos(p: Double): Column = (col("n_rows") - 1) * lit(p)

  /** Order-preserving bucket id in [0, nb) over the interval [lo, hi]:
    * floor of the scaled offset — multiplication/division by a positive
    * constant and floor are monotone in IEEE doubles, so bucket ranges
    * partition the rank space. Non-finite values pin explicitly (−Inf → 0;
    * +Inf and NaN → nb−1, matching the NaN-last total order both engines
    * sort by): the scaled offset of a non-finite value is NaN, which casts
    * to bucket 0 and would break rank monotonicity. A −Inf
    * ENDPOINT degrades gracefully rather than breaking: finite offsets
    * against an infinite range scale to NaN → bucket 0, so that level
    * gains no resolution and the bucket rides the depth ceiling into a
    * single rank-pass partition — correct, merely not accelerated. */
  private[graft] def pctBucketId(v: Column, lo: Column, hi: Column, nb: Int): Column =
    when(isnan(v) || v === lit(Double.PositiveInfinity), lit(nb - 1))
      .when(v === lit(Double.NegativeInfinity), lit(0))
      .when(hi <= lo, lit(0))
      .otherwise(least(floor((v - lo) / (hi - lo) * nb).cast("int"), lit(nb - 1)))

  /** Rank-locate phase of the bucketed exact percentile (SCALE.md
    * §"exact percentiles"): equi-width bucket histogram →
    * prefix sum over the ~10³ bucket rows → for each target rank, the ONE
    * bucket whose cumulative range covers it. All ranks are exact integer
    * counts, so bucketing changes which rows are scanned, never the result.
    *
    * Multi-column (action economy): several value columns locate in
    * ONE pipeline — the rows explode to (grp, cid, v) so one scan buckets
    * every column, and every downstream key gains the column id. q35's two
    * value columns share one scan+histogram instead of running the whole
    * pipeline twice. */
  private[graft] def pctLocateCols(rows: DataFrame, cnts: DataFrame,
      colsPs: Seq[(Column, Seq[(Double, String)])], grp: String): PctLocated = {
    val nb = PctBuckets
    val vals = rows.select(col(grp), explode(array(colsPs.zipWithIndex.map {
      case ((c, _), i) =>
        struct(lit(i).as("cid"), c.cast("double").as("v"))
    }: _*)).as("t")).select(col(grp), col("t.cid").as("cid"), col("t.v").as("v"))
    // pass 1: per-(group, column) value range (tiny aggregate, broadcast)
    val ranges = vals.groupBy(col(grp), col("cid"))
      .agg(min("v").as("vmin"), max("v").as("vmax"))
    val bucketed = vals.join(broadcast(ranges), Seq(grp, "cid"))
      .select(col(grp), col("cid"), col("v"),
        pctBucketId(col("v"), col("vmin"), col("vmax"), nb).as("b"))
    // pass 2: per-(group, column, bucket) histogram — partial→final agg
    // whose shuffle volume is O(groups·cols·nb), never O(rows)
    val hist = bucketed.groupBy(col(grp), col("cid"), col("b"))
      .agg(count(lit(1)).as("bc"), min("v").as("bmin"), max("v").as("bmax"))
    val cum = hist.withColumn("cum_lo",
      sum("bc").over(Window.partitionBy(col(grp), col("cid"))
        .orderBy(col("b"))) - col("bc"))
    // target ranks, 1-based, two per percentile (floor/ceil of the
    // fractional position — the same expressions the interpolation uses).
    // n_rows is shared by every column: all values come from the same rows.
    val targets = cnts.select(col(grp),
      explode(array(colsPs.zipWithIndex.flatMap { case ((_, ps), i) =>
        ps.flatMap { case (p, out) => Seq(
          struct(lit(i).as("cid"), lit(out).as("pname"),
            lit("lo").as("side"), (floor(pctPos(p)) + 1).cast("long").as("r")),
          struct(lit(i).as("cid"), lit(out).as("pname"),
            lit("hi").as("side"), (ceil(pctPos(p)) + 1).cast("long").as("r")))
        }
      }: _*)).as("t"))
      .select(col(grp), col("t.cid").as("cid"), col("t.pname").as("pname"),
        col("t.side").as("side"), col("t.r").as("r"))
    // locate: both sides are tiny (2·Σ|ps|·groups × groups·cols·nb rows)
    val located = targets.join(cum, Seq(grp, "cid"))
      .filter(col("r") > col("cum_lo") && col("r") <= col("cum_lo") + col("bc"))
    PctLocated(bucketed, located)
  }

  /** Single-column convenience over [[pctLocateCols]] (the scale specs
    * exercise the pipeline through this). */
  private[graft] def pctLocate(rows: DataFrame, cnts: DataFrame, valCol: Column,
      ps: Seq[(Double, String)], grp: String): PctLocated =
    pctLocateCols(rows, cnts, Seq((valCol, ps)), grp)

  /** The frontier schema [[pctResolveLevel]] consumes and emits: one row
    * per still-unresolved target, carrying the target identity (pname,
    * side, r), the level-1 bucket id `b` (kept at every depth so interval
    * rows re-select with an equi HASH probe, not a per-row range scan of
    * the whole corpus), the interval [lo, hi] of ACTUAL values it
    * descends from, the interval's row count `cnt`, and the cumulative
    * rank `cum` of everything before it. */
  private[graft] def pctFrontier0(located: DataFrame, grp: String): DataFrame =
    located.select(col(grp), col("cid"), col("b"), col("pname"),
      col("side"), col("r"), col("bmin").as("lo"), col("bmax").as("hi"),
      col("bc").as("cnt"), col("cum_lo").as("cum"))

  /** One adaptive resolution level (no unconditional level-2 refine).
    * Each frontier interval takes exactly one of three
    * routes, decided declaratively so the whole multi-level pipeline stays
    * ONE lazy Catalyst plan:
    *
    *   - DEGENERATE (lo ≥ hi — a point mass or pinned non-finite class):
    *     the answer is the interval's own min; zero row traffic.
    *   - SMALL (cnt ≤ [[PctSmallBucket]], or the depth ceiling): rank
    *     directly — a running count over the interval's DISTINCT values
    *     locates the value whose cumulative rank range covers the target.
    *   - COMPRESSED (cnt > gate): re-bucket the interval's rows over its
    *     OWN [lo, hi] — range-ADAPTIVE refinement, ×[[PctBuckets]]
    *     resolution exactly where the rank lives — and emit the located
    *     sub-bucket into the next level's frontier.
    *
    * ONE broadcast join carries the full target identity into the scan
    * (per-level-1-bucket hash probe + [lo, hi] range filter — exact,
    * because bucket ids are monotone in v, so distinct intervals of one
    * bucket never share a value); interval rows then collapse to
    * per-(target, DISTINCT value) counts FIRST — partial→final, so a
    * point mass inside a mixed bucket combines map-side to one row and
    * the shuffle is O(distinct values inside live intervals), never
    * O(their rows). A value row duplicates per target sharing its bucket
    * (≤ 2·|ps| targets), nothing more. The rank pass and the
    * sub-histogram both read that one aggregate, deduped physically by
    * ReusedExchange, and need no further joins: the running count filters
    * against the target's own rank column in place.
    *
    * Plan-size discipline (measured, not theoretical): every reference to
    * the previous frontier re-embeds that level's whole subplan, so a
    * depth-d unroll costs ~refs^d plan copies — 4 references per level
    * planned ~350 AQE stages, +1.8 s/query of
    * pure planning overhead at sf0.1. This shape holds the frontier
    * reference count at 2 (`direct` + the vh join) and the vh count at 2.
    * A level whose frontier is empty is elided at runtime by AQE's
    * empty-relation propagation; what remains per unrolled level is a
    * fixed ~0.5 s of sequential stage-materialization latency at
    * interactive scale (invisible at cluster scale), which is why
    * [[PctDepth]] defaults to 2 and deeper unrolls are caller-requested. */
  private[graft] def pctResolveLevel(bucketed: DataFrame, frontier: DataFrame,
      grp: String, last: Boolean): PctLevel = {
    val nb = PctBuckets
    // degenerate intervals answer from the histogram stats alone
    val direct = frontier.filter(col("lo") >= col("hi"))
      .select(col(grp), col("pname"), col("side"), col("lo").as("pv"))
    val live = frontier.filter(col("lo") < col("hi"))
    val vh = bucketed.join(broadcast(live), Seq(grp, "cid", "b"))
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy(col(grp), col("cid"), col("b"), col("pname"), col("side"),
        col("v"))
      .agg(count(lit(1)).as("vc"), min("r").as("r"), min("lo").as("lo"),
        min("hi").as("hi"), min("cnt").as("cnt"), min("cum").as("cum"))
    // (grp, cid, pname, side) identifies the target AND its one interval,
    // so windows partition on it; lo/hi/cnt/cum/r ride as min-aggregates
    // (constant per target) to keep double columns out of the shuffle keys
    val wRank = Window.partitionBy(col(grp), col("cid"), col("pname"),
      col("side")).orderBy(col("v"))
    // rank pass: running count over the interval's distinct values (ties
    // impossible post-groupBy, so the frame is exact): value v covers
    // global ranks (cum + run − vc, cum + run]
    val passVh = if (last) vh else vh.filter(col("cnt") <= PctSmallBucket)
    val ranked = passVh
      .withColumn("hi_r", col("cum") + sum("vc").over(wRank))
      .filter(col("r") > col("hi_r") - col("vc") && col("r") <= col("hi_r"))
      .select(col(grp), col("pname"), col("side"), col("v").as("pv"))
    val resolved = direct.unionByName(ranked)
    if (last) PctLevel(resolved, frontier.limit(0))
    else {
      // refine: sub-bucket the compressed intervals' distinct-value rows
      // over their own range; the sub-bucket covering the target rank
      // becomes the next level's frontier row (b rides along unchanged —
      // an interval at any depth stays inside its level-1 bucket)
      val sub = vh.filter(col("cnt") > PctSmallBucket)
        .withColumn("sb", pctBucketId(col("v"), col("lo"), col("hi"), nb))
        .groupBy(col(grp), col("cid"), col("b"), col("pname"), col("side"),
          col("sb"))
        .agg(sum("vc").as("sc"), min("v").as("slo"), max("v").as("shi"),
          min("r").as("r"), min("cum").as("cum"))
      val wSub = Window.partitionBy(col(grp), col("cid"), col("pname"),
        col("side")).orderBy(col("sb"))
      val next = sub
        .withColumn("cum2", col("cum") + sum("sc").over(wSub) - col("sc"))
        .filter(col("r") > col("cum2") && col("r") <= col("cum2") + col("sc"))
        .select(col(grp), col("cid"), col("b"), col("pname"), col("side"),
          col("r"), col("slo").as("lo"), col("shi").as("hi"),
          col("sc").as("cnt"), col("cum2").as("cum"))
      PctLevel(resolved, next)
    }
  }

  /** Exact interpolated percentile (quantile_cont semantics) the scale-safe
    * way, shared by q35 and q37: bucket-histogram rank-locate. A
    * sort-based formulation (row_number over a per-group sort) has bounded
    * memory but serializes each group's ENTIRE sort through one task — with
    * 3 groups at 100 TB each task sorts ~33 TB. This formulation sorts
    * only the straddling BUCKETS:
    *
    *   1. per-group min/max (broadcast) → equi-width bucket id per row;
    *   2. per-(group, bucket) counts + bucket min/max — a partial→final
    *      aggregation, O(groups·1024) shuffle rows;
    *   3. prefix-sum over the bucket rows locates, for each target rank,
    *      the one bucket whose cumulative range covers it;
    *   4. a bucket whose bmin == bmax resolves from the histogram alone
    *      (a mega-bucket of one repeated value — the heavy-hitter skew
    *      case — never sorts or shuffles a row);
    *   5. only the remaining straddling buckets (~n/1024 rows each, ≤
    *      2·|ps| buckets per group) are scanned again — collapsed to
    *      (bucket, DISTINCT value) counts first (partial→final, so a
    *      heavy-hitter value inside a mixed bucket combines map-side to
    *      one row), then a running count over the bucket's distinct
    *      values locates the value whose cumulative rank range covers
    *      the target: global rank = bucket prefix + running count.
    *
    * Step 5 is ADAPTIVE (no unconditional level-2 refine): a straddling
    * bucket at most [[PctSmallBucket]] rows ranks
    * directly; a bigger one re-buckets over its OWN [bmin, bmax] —
    * range-ADAPTIVE refinement, so a single outlier that compresses the
    * group's global range into one dense bucket (the equi-width failure
    * mode: 99% of a heavy-tailed column in bucket 0) gains ×1024
    * resolution exactly where the rank lives — and the routing repeats
    * per unrolled level (`depth`, default [[PctDepth]] = 2), so a
    * DOUBLY-compressed distribution can refine again (depth 3+) rather
    * than funneling into one rank-pass partition. The per-task rank-pass
    * ceiling is one interval's distinct values ≤ n/PctBuckets^depth —
    * ~10⁶ rows at a 10¹²-row group for the default depth; a spread
    * distribution (straddlers ~n/1024 ≤ the gate) resolves entirely at
    * level 1 and AQE elides the deeper levels' stages via empty-relation
    * propagation — the common case pays for no refinement it does not
    * need.
    *
    * Ranks come from exact integer counts, so the oracle contract is
    * untouched; the located lo/hi values interpolate with the convex form
    * lo·(1−g) + hi·g (NOT lo + (hi−lo)·g — the forms differ in the last
    * ulp and both engines use the former). Spark's own percentile()
    * aggregate instead buffers every value of a group in memory — the
    * shape that OOMs at 100 TB. `grp` is the group column (small
    * cardinality); `cnts` must carry (grp, n_rows).
    *
    * The straddler subplans reference the histogram three times; the
    * identical exchanges dedupe physically (ReusedExchange — verified in
    * the q35 formatted plan), so the data is scanned, not re-aggregated,
    * per reference. */
  private[graft] def exactPctsCols(rows: DataFrame, cnts: DataFrame,
      colsPs: Seq[(Column, Seq[(Double, String)])],
      grp: String = "l_returnflag", depth: Int = PctDepth): DataFrame = {
    require(depth >= 1, s"percentile resolve depth must be >= 1: $depth")
    val allPs = colsPs.flatMap(_._2)
    require(allPs.map(_._2).distinct.size == allPs.size,
      "percentile output names must be globally unique across columns")
    // Route the adaptive resolve at
    // PLAN-CONSTRUCTION time instead of unrolling every level statically
    // and leaving AQE's empty-relation propagation to elide the unused
    // ones at runtime (~0.5 s of sequential stage-materialization latency
    // per unused level locally; a scheduling barrier per level at scale —
    // q35/q37's formatted plans ran to 95/304 KB, 100+ Exchange nodes of
    // planning surface). Both collected tables are DRIVER-SIZED BY
    // DESIGN, not data: `cnts` is one row per group (the contract — it
    // already broadcast), and the located frontier is ≤ 2·Σ|ps|·groups
    // rows of histogram metadata. Collecting them is the same
    // sync point the plan's own stage dependency (histogram → locate →
    // resolve) already imposes, so the action count at cluster scale is
    // unchanged; what changes is that the driver now KNOWS whether any
    // interval is compressed (cnt > PctSmallBucket) and builds only the
    // resolve depth the data needs. Every timed invocation re-runs both
    // collects from the parquet inputs — nothing survives across runs.
    val spark = rows.sparkSession
    import scala.jdk.CollectionConverters._
    // one row per group: literalizing it turns the targets derivation and
    // the final interpolation join into LocalRelations (an unliteralized
    // plan re-scans the cnts aggregation per reference)
    val cntsL = spark.createDataFrame(
      cnts.collect().toSeq.asJava, cnts.schema)
    val parts = pctLocateCols(rows, cntsL, colsPs, grp)
    val f0 = pctFrontier0(parts.located, grp)
    val f0Rows = f0.collect()
    // driver-side routing mirror of pctResolveLevel's COMPRESSED route
    // (plain Double compare: a NaN endpoint reads not-compressed here and
    // resolves via the level-1 rank pass — the same depth-ceiling
    // degradation [[pctBucketId]] documents for non-finite endpoints). A
    // null endpoint (a bucket of null values) reads like NaN.
    def bound(r: Row, f: String): Double =
      if (r.isNullAt(r.fieldIndex(f))) Double.NaN else r.getAs[Double](f)
    val anyCompressed = f0Rows.exists { r =>
      bound(r, "lo") < bound(r, "hi") && r.getAs[Long]("cnt") > PctSmallBucket
    }
    // common case (every straddler small — spread distributions at any
    // scale): a depth-1 plan, no refine machinery at all. Compressed
    // distributions keep the full static unroll exactly as before (deeper
    // frontiers stay lazy; AQE elides levels the data exhausts early).
    val effDepth = if (anyCompressed) depth else 1
    var frontier: DataFrame = spark.createDataFrame(
      f0Rows.toSeq.asJava, f0.schema)
    val levels = Seq.newBuilder[DataFrame]
    for (d <- 1 to effDepth) {
      val lvl = pctResolveLevel(parts.bucketed, frontier, grp,
        last = d == effDepth)
      levels += lvl.resolved
      frontier = lvl.frontier
    }
    val answers = levels.result().reduce(_ unionByName _)
    // pivot the ≤ 2·Σ|ps| rows per group into lo_/hi_ columns, then
    // interpolate with quantile_cont's expressions (same values as the
    // oracle's; pname is globally unique, so
    // the pivot needs no cid)
    val aggs = allPs.flatMap { case (_, out) => Seq(
      min(when(col("pname") === out && col("side") === "lo", col("pv"))).as(s"lo_$out"),
      min(when(col("pname") === out && col("side") === "hi", col("pv"))).as(s"hi_$out")) }
    val outs = allPs.map { case (p, out) =>
      val frac = pctPos(p) - floor(pctPos(p))
      // frac = 0 (target rank integral → lo and hi are the same located
      // value) short-circuits to that value: identical to the convex form
      // for finite inputs, and avoids Inf·0 = NaN when the value is ±Inf
      when(frac === 0, col(s"lo_$out"))
        .otherwise(col(s"lo_$out") * (lit(1.0) - frac) + col(s"hi_$out") * frac)
        .as(out)
    }
    answers
      .groupBy(col(grp)).agg(aggs.head, aggs.tail: _*)
      .join(broadcast(cntsL), grp)
      .select(col(grp) +: outs: _*)
  }

  /** Single-column convenience over [[exactPctsCols]] (q37's envelope and
    * the scale specs). */
  private[graft] def exactPcts(rows: DataFrame, cnts: DataFrame, valCol: Column,
      ps: Seq[(Double, String)], grp: String = "l_returnflag",
      depth: Int = PctDepth): DataFrame =
    exactPctsCols(rows, cnts, Seq((valCol, ps)), grp, depth)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** (spark, sfDir) => DataFrame query functions, keyed by query name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- aggregation -----------------------------------------------------
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1997-12-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_extendedprice")).as("max_price"),
          count(lit(1)).as("count_order"))
    }),

    "q06_revenue_forecast" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          dsum6(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // --- narrow ops: projection + filter (no shuffle) --------------------
    "q02_filter_project" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          upper(col("l_returnflag")).as("flag"))
    }),

    // --- joins -----------------------------------------------------------
    "q03_top_orders" -> ((s, d) => {
      val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q04_order_priority" -> ((s, d) => {
      val ord = t(s, d, "orders")
      val li = t(s, d, "lineitem").filter(col("l_discount") > 0.05)
      ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    "q05_regional_revenue" -> ((s, d) => {
      val region = broadcast(t(s, d, "region"))
      val nation = broadcast(t(s, d, "nation"))
      val cust = t(s, d, "customer")
      val ord = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier")
      region.join(nation, col("r_regionkey") === col("n_regionkey"))
        .join(cust, col("n_nationkey") === col("c_nationkey"))
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q07_part_brand_volume" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val part = broadcast(t(s, d, "part"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_items"))
    }),

    "q08_customers_without_urgent_orders" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val ord = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    "q09_order_size_histogram" -> ((s, d) => {
      // aggregate BEFORE the join (guide-§2.3 "aggregate before you
      // shuffle"): the former left-outer join carried every lineitem row
      // to the per-order count — at 100 TB that shuffles the fact table
      // to produce counts the partial agg already knows. Collapsing
      // lineitem to (l_orderkey, n) first moves only one row per order
      // key through the join; orders without lineitems read n = 0 via
      // the left join exactly as count(l_orderkey) did over the empty
      // match set.
      val ord = t(s, d, "orders")
      val cnts = t(s, d, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      ord.join(cnts, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .select(coalesce(col("n"), lit(0L)).as("n_items"))
        .groupBy(col("n_items"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    "q24_acctbal_theta_join" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val sup = broadcast(t(s, d, "supplier"))
      cust.join(sup,
          col("c_nationkey") === col("s_nationkey") && col("c_acctbal") > col("s_acctbal"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "q25_nonequi_nested_loop" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val region = broadcast(t(s, d, "region"))
      nation.join(region, col("n_regionkey") < col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_greater_regions"))
    }),

    "q26_avg_quantity_filter" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(perPart, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n_rows"))
    }),

    "q27_cross_join" -> ((s, d) => {
      val region = t(s, d, "region")
      val st = t(s, d, "orders").select(col("o_orderstatus")).distinct()
      region.crossJoin(st).select(col("r_name"), col("o_orderstatus"))
    }),

    // --- distinct / dedup ------------------------------------------------
    "q10_distinct_pairs" -> ((s, d) => {
      t(s, d, "customer").select(col("c_mktsegment"), col("c_nationkey")).distinct()
    }),

    // --- rollup / cube / grouping sets -----------------------------------
    "q11_rollup" -> ((s, d) => {
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
    }),

    "q12_cube" -> ((s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          dsum(col("o_totalprice")).as("sum_price"),
          count(lit(1)).as("n_orders"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"))
    }),

    "q13_grouping_sets" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      """)
    }),

    // --- window functions -------------------------------------------------
    "q14_rank_by_priority" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc)
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
        .filter(col("rnk") <= 5)
    }),

    "q15_running_totals" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wf).cast(DoubleType).as("running_total"),
        row_number().over(w).as("order_seq"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
    }),

    "q17_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    }),

    // --- global sort / top-k ---------------------------------------------
    "q16_global_sort" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),

    // --- set operations ---------------------------------------------------
    "q18_union_volumes" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        lit("lineitem").as("src"), col("l_extendedprice").as("amount"))
      val ord = t(s, d, "orders").select(
        lit("orders").as("src"), col("o_totalprice").as("amount"))
      li.unionAll(ord).groupBy(col("src"))
        .agg(dsum(col("amount")).as("sum_amount"), count(lit(1)).as("n_rows"))
    }),

    "q19_intersect" -> ((s, d) => {
      val rich = t(s, d, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      val ordering = t(s, d, "orders").select(col("o_custkey").as("custkey"))
      rich.intersect(ordering)
    }),

    "q20_except" -> ((s, d) => {
      val all = t(s, d, "customer").select(col("c_custkey").as("custkey"))
      val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      all.except(urgent)
    }),

    // --- scalar functions --------------------------------------------------
    "q21_scalar_functions" -> ((s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        upper(col("p_brand")).as("brand_uc"),
        length(col("p_type")).as("type_len"),
        round(col("p_retailprice") * 1.1, 2).as("adj_price"),
        abs(col("p_size") - 25).as("size_dev"),
        when(col("p_size") > 25, "large").otherwise("small").as("size_class"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))
    }),

    "q22_datetime_buckets" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
    }),

    "q23_json_extract" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_events"))
    }),

    // --- having / conditional agg -----------------------------------------
    "q28_frequent_customers" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") > 5)
    }),

    "q29_conditional_agg" -> ((s, d) => {
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(when(col("c_acctbal") < 0, 1).otherwise(0)).as("n_negative"),
          dsum(col("c_acctbal")).as("sum_bal"),
          max(col("c_acctbal")).as("max_bal"),
          min(col("c_acctbal")).as("min_bal"),
          count(lit(1)).as("n_customers"))
    }),

    // --- time-series / events ----------------------------------------------
    "q30_event_daily" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // --- UDF / UDAF / UDTF --------------------------------------------------
    "q32_udaf_variance" -> ((s, d) => {
      val varPop = udaf(graft.functions.Udfs.DecimalVarPop)
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(varPop(col("l_quantity")).as("var_qty"),
          count(lit(1)).as("n_rows"))
    }),

    "q33_generator_bigrams" -> ((s, d) => {
      // UDTF-style row generation: explode per-document bigram arrays
      val ws = split(col("text"), " ")
      t(s, d, "documents")
        // native kernel: the transform(sequence(...)) formulation runs an
        // interpreted lambda per element; Bigrams is one JVM loop and
        // yields [] for singleton docs (no sequence-reversal hazard)
        .select(explode(
          org.apache.spark.sql.graft.TextSignatures.bigrams(ws)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n_occurrences"))
        .filter(col("n_occurrences") >= 25)
    }),

    "q34_scalar_udf" -> ((s, d) => {
      val band = udf(graft.functions.Udfs.balanceBand)
      t(s, d, "customer")
        .groupBy(band(col("c_acctbal")).as("band"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // --- q67-shaped composite: rollup + window rank over aggregated sales
    // (the reference's heaviest TPC-DS benchmark, 66 GB shuffle at SF1000:
    // examples/run_benchmarks.sh:33) ---------------------------------------
    "q38_rollup_rank" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val part = broadcast(t(s, d, "part"))
      val sales = li.join(part, col("l_partkey") === col("p_partkey"))
        .rollup(col("p_brand"), col("p_type"))
        .agg(dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sumsales"),
          count(lit(1)).as("n_items"),
          grouping(col("p_brand")).cast("int").as("g_brand"),
          grouping(col("p_type")).cast("int").as("g_type"))
      // explicit null ordering: Spark's asc default is NULLS FIRST,
      // DuckDB's is NULLS LAST — pin it
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("sumsales").desc_nulls_last, col("p_type").asc_nulls_last)
      sales.select(col("p_brand"), col("p_type"), col("sumsales"),
          col("n_items"), col("g_brand"), col("g_type"),
          rank().over(w).as("rk"))
        .filter(col("rk") <= 5)
    }),

    // --- as-of join (operator Spark lacks natively; composed per the
    // extension ladder: union + forward-fill window = one shuffle on
    // (user_id), no point-in-time self-join blowup) ------------------------
    "q39_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      // latest click per (user, ts) so the as-of match is unambiguous
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      val tagged = clicks.select(col("user_id"), col("ts"),
          lit(0).as("kind"), col("click_id"), lit(null).cast("long").as("purchase_id"))
        .unionAll(purchases.select(col("user_id"), col("ts"),
          lit(1).as("kind"), lit(null).cast("long").as("click_id"), col("purchase_id")))
      // clicks sort before purchases at equal ts: c.ts <= p.ts matches
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("click_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .select(col("user_id"), col("ts"), col("kind"), col("purchase_id"),
          last(col("click_id"), ignoreNulls = true).over(w).as("asof_click_id"))
        .filter(col("kind") === 1)
        .select(col("purchase_id"), col("user_id"), col("asof_click_id"))
    }),

    // --- range join (equi prefix + interval residual) ----------------------
    // Event pairs by the same user within one hour: the equi key carries
    // the shuffle (SMJ on user_id), the range predicate evaluates as a
    // partition-local residual — the canonical interval-join shape that
    // holds at 100 TB (time-bucketing the range key would be the next
    // step if per-user volumes were unbounded). Gap math in integer µs so
    // both engines compare exactly.
    "q40_user_event_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val a = ev.select(col("user_id").as("a_user"), col("event_id").as("a_id"),
        col("event_type").as("a_type"), col("us").as("a_us"))
      val b = ev.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        col("event_type").as("b_type"), col("us").as("b_us"))
      a.join(b, col("a_user") === col("b_user") && col("a_id") < col("b_id") &&
          abs(col("a_us") - col("b_us")) <= 3600L * 1000000L)
        .groupBy(col("a_type"), col("b_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(col("a_us") - col("b_us"))).as("sum_gap_us"))
    }),

    // --- full outer join ---------------------------------------------------
    // both null sides aggregated: customers without orders and (by
    // construction none, but semantics exercised) orders without customers
    "q41_full_outer" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val ord = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"), col("o_totalprice"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy(coalesce(col("c_mktsegment"), lit("NO_CUSTOMER")).as("segment"))
        .agg(count(col("o_custkey")).as("n_urgent_orders"),
          sum(when(col("o_custkey").isNull, 1).otherwise(0)).as("n_custs_without"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("sum_price"))
    }),

    // --- unpivot (inverse of q36's pivot) ----------------------------------
    "q42_unpivot" -> ((s, d) => {
      val wide = t(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .agg(min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          davg(col("c_acctbal")).as("avg_bal"))
      wide.unpivot(Array(col("c_nationkey")),
          Array(col("min_bal"), col("max_bal"), col("avg_bal")),
          "stat", "bal")
    }),

    // --- scalar subquery through the SQL entry path ------------------------
    // spark.sql with an uncorrelated scalar subquery: Catalyst plans the
    // inner aggregate once and broadcasts the scalar into the filter
    "q43_scalar_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("graft_q43_customer")
      // decimal-exact average: the scalar threshold must be bit-identical
      // across engines or boundary rows could flip in/out of the filter
      s.sql("""
        SELECT c_mktsegment,
               COUNT(*) AS n_above_avg,
               CAST(MIN(c_acctbal) AS DOUBLE) AS min_above
        FROM graft_q43_customer
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                    / COUNT(*)
                           FROM graft_q43_customer)
        GROUP BY c_mktsegment""")
    }),

    // --- pivot -------------------------------------------------------------
    "q36_pivot" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        // empty combos: pivot yields null, the oracle's FILTER count yields 0
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }),

    // --- approximate sketches, oracle-gated via error-envelope verdicts ----
    // The sketch VALUES are engine-specific (HLL++ register layout, the
    // quantile summary's internals have no SQL mirror), so the driver-
    // visible row carries the exact aggregates plus verdict columns
    // asserting each sketch landed inside its published error envelope:
    // approx_count_distinct(rsd=0.01) within 5% (= 5·rsd) of exact, and
    // percentile_approx(accuracy=1000) — rank error ≤ n/1000 — between
    // the exact 45th and 55th percentiles. Both sketches hash with fixed
    // seeds, so on a fixed fixture the verdicts are deterministic and the
    // oracle pins the all-1 outcome (the ts01 pattern). At 100 TB you
    // ship ONLY the sketch columns — the exact countDistincts exist to
    // power the gate (they cost an Expand ×3 of the scan); the sketch
    // itself stays one partial+final hash agg with tiny state.
    // SketchAndPlanSpec keeps the direct 5% assertion on the raw values.
    // The sketches and the exact distinct counts run in SEPARATE
    // aggregations joined on the 3-row group key — never in one Aggregate.
    // Mixing them is a scale anti-pattern the noop-sink bench action
    // exposes: multiple countDistincts plan an Expand whose FIRST-stage
    // aggregation keys on the distinct columns, so every distinct value
    // (600k partkeys at sf0.1, billions at 100 TB) carries the full
    // TypedImperative buffers of the co-located sketches — two
    // rsd-0.01 HLLs ≈ 2,700 buffer words each, O(distinct × sketch
    // bytes) partial state (measured: a single map task burned 5+ min
    // projecting ~1.2M 2,700-field partial rows). Split, the sketch
    // aggregation keeps 3 buffers total and the distinct Expand carries
    // bytes-sized buffers.
    "q37_approx_sketches" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val sketches = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("am"),
          count(lit(1)).as("n_rows"))
      val exacts = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
      // the exact p45/p55 envelope comes from the shared bucketed
      // rank-locate percentile (q35's scale-safe shape), not the buffering
      // percentile() aggregate — every aggregation in this query is
      // bounded-memory (HLL registers, GK summary, bucket histogram +
      // two straddling-bucket sorts)
      val cnts = sketches.select(col("l_returnflag"), col("n_rows"))
      sketches.join(exacts, "l_returnflag")
        .join(exactPcts(li, cnts, col("l_extendedprice"),
          Seq(0.45 -> "p45", 0.55 -> "p55")), "l_returnflag")
        .select(col("l_returnflag"), col("n_rows"),
          col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")) <= col("exact_parts") * 0.05)
            .cast("int").as("parts_ok"),
          (abs(col("ao") - col("exact_orders")) <= col("exact_orders") * 0.05)
            .cast("int").as("orders_ok"),
          (col("am") >= col("p45") && col("am") <= col("p55"))
            .cast("int").as("median_ok"))
    }),

    // --- percentiles / median ----------------------------------------------
    // EXACT interpolated percentiles the SCALE-SAFE way: Spark's
    // percentile() aggregate is a TypedImperativeAggregate that buffers
    // every (value, count) of a group IN MEMORY — at 100 TB a 3-group
    // lineitem would hold ~rows/3 values per buffer and OOM (a pruned
    // count() action hides that cost; the noop-sink action shows it);
    // a per-group sort bounds memory but serializes each group's full
    // sort through one task. This is the bucket-histogram
    // rank-locate (see exactPcts): only the straddling buckets sort,
    // in parallel — quantile_cont semantics, same values (the oracle is
    // unchanged), bounded memory AND bounded per-task work at any scale.
    "q35_percentiles" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val cnts = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
      // both value columns ride ONE locate pipeline (explode to (grp, cid,
      // v) — one scan, one histogram, one refine: action economy)
      exactPctsCols(li, cnts, Seq(
        col("l_quantity") -> Seq(0.5 -> "median_qty"),
        col("l_extendedprice") -> Seq(0.25 -> "p25_price", 0.75 -> "p75_price")))
        .join(cnts, "l_returnflag")
    }),

    // --- terasort-style global sort (the reference's heaviest non-SQL
    // benchmark shape; no SQL oracle — self-validating like TeraValidate) --
    "ts01_terasort" -> ((s, d) => {
      import s.implicits._
      // 8M deterministic records: range-partition + sort-within on a
      // pseudo-random key = the TeraSort plan, through the active shuffle
      // manager. mapPartitions validates order in the same pass, so the
      // sort cannot be optimized away (TeraValidate's job, fused).
      // NOTE: the ts01 oracle in `oracles` pins this exact count (8000000)
      // in its expected verdict row — the two constants change together.
      val n = 8000000L
      val recs = s.range(n).select(xxhash64(col("id")).as("key"))
      val sorted = recs.repartitionByRange(32, col("key"))
        .sortWithinPartitions(col("key"))
      val partStats = sorted.as[Long].mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        if (!it.hasNext) Iterator.empty
        else {
          var prev = Long.MinValue
          var cnt = 0L
          var ok = true
          var first = Long.MaxValue
          while (it.hasNext) {
            val k = it.next()
            if (cnt == 0) first = k
            if (k < prev) ok = false
            prev = k
            cnt += 1
          }
          Iterator.single((pid, first, prev, cnt, ok))
        }
      }.toDF("pid", "pmin", "pmax", "cnt", "ok")
      // ≤32 rows (one per partition stat): a deliberate single-task global
      // window. Spark logs "WindowExec: No Partition Defined" for it in the
      // bench tail — bounded-by-design, see PLANS.md "global windows".
      val w = Window.orderBy(col("pid"))
      partStats
        .select(col("cnt"), col("ok"),
          (col("pmin") >= coalesce(lag(col("pmax"), 1).over(w), lit(Long.MinValue)))
            .as("boundary_ok"))
        .agg(sum(col("cnt")).as("n_rows"),
          min(col("ok").cast("int")).as("within_sorted"),
          min(col("boundary_ok").cast("int")).as("globally_sorted"))
    }),

    // --- correlated EXISTS / NOT EXISTS subqueries --------------------------
    // Catalyst decorrelates both predicates into a left-semi and a
    // left-anti hash join on o_custkey — no per-row subquery execution,
    // the plan is two shuffled joins that scale like any equi join.
    "q44_exists_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("graft_q44_customer")
      t(s, d, "orders").createOrReplaceTempView("graft_q44_orders")
      s.sql("""
        SELECT c_mktsegment,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM graft_q44_customer c
        WHERE EXISTS (SELECT 1 FROM graft_q44_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 150000)
          AND NOT EXISTS (SELECT 1 FROM graft_q44_orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F'
                            AND o2.o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment""")
    }),

    // --- RANGE-frame window (time-interval sliding aggregate) ---------------
    // RANGE over the event-time ORDER BY: each row's frame is the trailing
    // hour of ITS OWN timestamp — the per-key sliding aggregate every
    // sessionization/rate-limiting pipeline needs. One shuffle on user_id,
    // then a sort-based window; peers (equal ts) share a frame so the
    // result is deterministic. Decimal sum keeps the trailing total
    // order-independent and bit-identical across engines.
    "q45_range_window" -> ((s, d) => {
      Tables.load(s, d, "events").createOrReplaceTempView("graft_q45_events")
      s.sql("""
        SELECT user_id, event_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h,
               COUNT(*) OVER w AS n_1h
        FROM graft_q45_events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""")
    }),

    // --- distribution window functions --------------------------------------
    // ntile/percent_rank/cume_dist complete the window-function surface:
    // quantile bucketing and rank normalization per partition. Exact in
    // IEEE on both engines ((rank-1)/(n-1), rank/n from integer ranks), so
    // the oracle is hash-exact. Same single-shuffle window shape as q14.
    "q46_distribution_windows" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"))
    }),

    // --- recursive CTE -----------------------------------------------------
    // Spark 4.x executes WITH RECURSIVE natively (UnionLoop iterations),
    // so the classic calendar-spine pattern — generate every month from
    // min to max order date, left-join the monthly aggregate, flag gap
    // months — runs declaratively instead of as a driver loop. The upper
    // bound rides IN the recursive rows (anchor carries mx): Spark
    // INLINES non-recursive CTEs into the step, so a `JOIN bounds` there
    // would re-aggregate the whole orders table once per iteration —
    // measured 29 s at sf0.1 vs ~2 s with the bound carried (~80
    // iterations × a full scan, the recursive-CTE analogue of a loop
    // invariant hoist). Scale shape: the recursion produces O(months)
    // rows — bounded by the DATE RANGE, not the row count — each
    // iteration a 1-row projection; the spine broadcasts into the join
    // and the orders aggregate is the usual partial→final collapse.
    // Near-identical SQL text runs on DuckDB, so the oracle is
    // hash-exact.
    "q47_recursive_cte" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("graft_q47_orders")
      s.sql("""
        WITH RECURSIVE spine AS (
          SELECT CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS INT) AS mon,
                 CAST(MAX(year(o_orderdate) * 12 + month(o_orderdate)) AS INT) AS mx
          FROM graft_q47_orders
          UNION ALL
          SELECT mon + 1, mx FROM spine WHERE mon < mx
        ),
        monthly AS (
          SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS mon,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM graft_q47_orders
          GROUP BY year(o_orderdate) * 12 + month(o_orderdate)
        )
        SELECT s.mon AS mon,
               CAST(COALESCE(m.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(CASE WHEN m.mon IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
        FROM spine s LEFT JOIN monthly m ON s.mon = m.mon""")
    }),

    // --- array ops ---------------------------------------------------------
    "q31_embedding_stats" -> ((s, d) => {
      t(s, d, "embeddings")
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(element_at(col("embedding"), 1).cast(DoubleType).cast(DecimalType(28, 10)))
            .cast(DoubleType).as("sum_dim1"),
          avg(size(col("embedding"))).as("avg_dim"))
    })
  )

  /** DuckDB-oracle SQL twins. Bare table names resolve against the same
    * parquet fixtures the Spark side reads. */
  val oracles: Map[String, String] = Map(
    "q44_exists_subquery" -> """
      SELECT c_mktsegment,
             COUNT(*) AS n_cust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 150000)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey
                          AND o2.o_orderstatus = 'F'
                          AND o2.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment""",

    "q46_distribution_windows" -> """
      SELECT c_custkey, c_mktsegment, c_acctbal,
             NTILE(4) OVER w AS quartile,
             PERCENT_RANK() OVER w AS pct_rank,
             CUME_DIST() OVER w AS cum_dist
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey)""",

    "q45_range_window" -> """
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h,
             COUNT(*) OVER w AS n_1h
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""",

    "q47_recursive_cte" -> """
      WITH RECURSIVE spine AS (
        SELECT CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS INT) AS mon,
               CAST(MAX(year(o_orderdate) * 12 + month(o_orderdate)) AS INT) AS mx
        FROM orders
        UNION ALL
        SELECT mon + 1, mx FROM spine WHERE mon < mx
      ),
      monthly AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS mon,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY year(o_orderdate) * 12 + month(o_orderdate)
      )
      SELECT s.mon AS mon,
             CAST(COALESCE(m.n_orders, 0) AS BIGINT) AS n_orders,
             CAST(CASE WHEN m.mon IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
      FROM spine s LEFT JOIN monthly m ON s.mon = m.mon""",

    // ts01 is self-validating: the Spark side computes the TeraValidate
    // verdict distributed (per-partition order + boundary checks + count),
    // and this oracle pins the only correct outcome — any dropped /
    // duplicated / misordered record flips a column and fails the gate
    "ts01_terasort" -> """
      SELECT CAST(8000000 AS BIGINT) AS n_rows,
             CAST(1 AS INT) AS within_sorted,
             CAST(1 AS INT) AS globally_sorted""",

    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             MIN(l_quantity) AS min_qty,
             MAX(l_extendedprice) AS max_price,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1997-12-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus""",

    "q06_revenue_forecast" -> """
      SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "q02_filter_project" -> """
      SELECT l_orderkey, l_linenumber,
             l_extendedprice * (1 - l_discount) AS revenue,
             UPPER(l_returnflag) AS flag
      FROM lineitem
      WHERE l_quantity > 45 AND l_discount >= 0.05""",

    "q03_top_orders" -> """
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""",

    "q04_order_priority" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
      GROUP BY o_orderpriority""",

    "q05_regional_revenue" -> """
      SELECT r_name, n_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM region
      JOIN nation ON r_regionkey = n_regionkey
      JOIN customer ON n_nationkey = c_nationkey
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      GROUP BY r_name, n_name""",

    "q07_part_brand_volume" -> """
      SELECT p_brand,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             COUNT(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand""",

    "q08_customers_without_urgent_orders" -> """
      SELECT c_mktsegment, COUNT(*) AS n_customers,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment""",

    "q09_order_size_histogram" -> """
      SELECT n_items, COUNT(*) AS n_orders
      FROM (SELECT o_orderkey, COUNT(l_orderkey) AS n_items
            FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderkey)
      GROUP BY n_items""",

    "q24_acctbal_theta_join" -> """
      SELECT c_nationkey, COUNT(*) AS n_pairs
      FROM customer JOIN supplier
        ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal
      GROUP BY c_nationkey""",

    "q25_nonequi_nested_loop" -> """
      SELECT n_name, COUNT(*) AS n_greater_regions
      FROM nation JOIN region ON n_regionkey < r_regionkey
      GROUP BY n_name""",

    "q26_avg_quantity_filter" -> """
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             COUNT(*) AS n_rows
      FROM lineitem
      JOIN (SELECT l_partkey AS ap_partkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
            FROM lineitem GROUP BY l_partkey) a
        ON l_partkey = ap_partkey
      WHERE l_quantity < 0.5 * avg_qty""",

    "q27_cross_join" -> """
      SELECT r_name, o_orderstatus
      FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)""",

    "q10_distinct_pairs" -> """
      SELECT DISTINCT c_mktsegment, c_nationkey FROM customer""",

    "q11_rollup" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n_rows,
             CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
             CAST(GROUPING(l_linestatus) AS INT) AS g_status
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q12_cube" -> """
      SELECT o_orderstatus, o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             COUNT(*) AS n_orders,
             CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
             CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    "q13_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n_rows
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",

    "q14_rank_by_priority" -> """
      SELECT * FROM (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk,
               DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk
        FROM orders)
      WHERE rnk <= 5""",

    "q15_running_totals" -> """
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
             ROW_NUMBER() OVER w2 AS order_seq,
             LAG(o_orderkey, 1) OVER w2 AS prev_orderkey,
             LEAD(o_orderkey, 1) OVER w2 AS next_orderkey
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",

    "q17_topk_per_group" -> """
      SELECT * FROM (
        SELECT c_custkey, c_nationkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer)
      WHERE rn <= 3""",

    "q16_global_sort" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 100""",

    "q18_union_volumes" -> """
      SELECT src, CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount,
             COUNT(*) AS n_rows
      FROM (SELECT 'lineitem' AS src, l_extendedprice AS amount FROM lineitem
            UNION ALL
            SELECT 'orders' AS src, o_totalprice AS amount FROM orders)
      GROUP BY src""",

    "q19_intersect" -> """
      SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT o_custkey AS custkey FROM orders""",

    "q20_except" -> """
      SELECT c_custkey AS custkey FROM customer
      EXCEPT
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderpriority = '1-URGENT'""",

    "q21_scalar_functions" -> """
      SELECT p_partkey,
             SUBSTRING(p_name, 1, 8) AS name_prefix,
             UPPER(p_brand) AS brand_uc,
             LENGTH(p_type) AS type_len,
             ROUND(p_retailprice * 1.1, 2) AS adj_price,
             ABS(p_size - 25) AS size_dev,
             CASE WHEN p_size > 25 THEN 'large' ELSE 'small' END AS size_class,
             CONCAT_WS('-', p_brand, p_type) AS brand_type
      FROM part""",

    "q22_datetime_buckets" -> """
      SELECT CAST(YEAR(o_orderdate) AS INT) AS yr, CAST(MONTH(o_orderdate) AS INT) AS mo,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY 1, 2""",

    "q23_json_extract" -> """
      SELECT event_type,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             COUNT(json_extract_string(props, '$.k')) AS n_events
      FROM events
      GROUP BY event_type""",

    "q28_frequent_customers" -> """
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
      FROM orders
      GROUP BY o_custkey
      HAVING COUNT(*) > 5""",

    "q29_conditional_agg" -> """
      SELECT c_mktsegment,
             CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
             MAX(c_acctbal) AS max_bal,
             MIN(c_acctbal) AS min_bal,
             COUNT(*) AS n_customers
      FROM customer
      GROUP BY c_mktsegment""",

    "q30_event_daily" -> """
      SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             COUNT(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY 1, 2""",

    "q32_udaf_variance" -> """
      SELECT l_returnflag,
             (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE)
              - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
             / COUNT(*) AS var_qty,
             COUNT(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag""",

    "q33_generator_bigrams" -> """
      WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
           b AS (SELECT UNNEST(list_transform(range(2, LEN(ws) + 1),
                        i -> ws[i - 1] || ' ' || ws[i])) AS bigram FROM w)
      SELECT bigram, COUNT(*) AS n_occurrences
      FROM b GROUP BY bigram
      HAVING COUNT(*) >= 25""",

    "q34_scalar_udf" -> """
      SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                  WHEN c_acctbal < 5000 THEN 'low'
                  ELSE 'high' END AS band,
             COUNT(*) AS n_customers,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      GROUP BY 1""",

    "q38_rollup_rank" -> """
      WITH sales AS (
        SELECT p_brand, p_type,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sumsales,
               COUNT(*) AS n_items,
               CAST(GROUPING(p_brand) AS INT) AS g_brand,
               CAST(GROUPING(p_type) AS INT) AS g_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY ROLLUP (p_brand, p_type))
      SELECT * FROM (
        SELECT p_brand, p_type, sumsales, n_items, g_brand, g_type,
               RANK() OVER (PARTITION BY p_brand
                            ORDER BY sumsales DESC NULLS LAST,
                                     p_type ASC NULLS LAST) AS rk
        FROM sales)
      WHERE rk <= 5""",

    "q41_full_outer" -> """
      WITH ord AS (SELECT o_custkey, o_totalprice FROM orders
                   WHERE o_orderpriority = '1-URGENT')
      SELECT COALESCE(c.c_mktsegment, 'NO_CUSTOMER') AS segment,
             COUNT(o.o_custkey) AS n_urgent_orders,
             CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_custs_without,
             CAST(SUM(CAST(COALESCE(o.o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM customer c FULL OUTER JOIN ord o ON c.c_custkey = o.o_custkey
      GROUP BY 1""",

    "q42_unpivot" -> """
      WITH w AS (
        SELECT c_nationkey, MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal)
                 AS avg_bal
        FROM customer GROUP BY c_nationkey)
      SELECT c_nationkey, 'min_bal' AS stat, min_bal AS bal FROM w
      UNION ALL SELECT c_nationkey, 'max_bal', max_bal FROM w
      UNION ALL SELECT c_nationkey, 'avg_bal', avg_bal FROM w""",

    "q43_scalar_subquery" -> """
      SELECT c_mktsegment,
             COUNT(*) AS n_above_avg,
             CAST(MIN(c_acctbal) AS DOUBLE) AS min_above
      FROM customer
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                  / COUNT(*)
                         FROM customer)
      GROUP BY c_mktsegment""",

    "q40_user_event_range_join" -> """
      WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                 FROM events)
      SELECT a.event_type AS a_type, b.event_type AS b_type,
             COUNT(*) AS n_pairs,
             CAST(SUM(ABS(a.us - b.us)) AS BIGINT) AS sum_gap_us
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
       AND ABS(a.us - b.us) <= 3600000000
      GROUP BY 1, 2""",

    "q39_asof_join" -> """
      WITH clicks AS (
        SELECT user_id, ts, MAX(event_id) AS click_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts),
           purchases AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT p.purchase_id, p.user_id, c.click_id AS asof_click_id
      FROM purchases p
      ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts""",

    "q36_pivot" -> """
      SELECT o_orderpriority,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders
      GROUP BY o_orderpriority""",

    // the sketch internals have no SQL mirror; the oracle pins the exact
    // aggregates plus the deterministic all-in-bounds verdict (see the
    // query comment — the ts01 pinned-verdict pattern)
    "q37_approx_sketches" -> """
      SELECT l_returnflag,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT l_partkey) AS exact_parts,
             COUNT(DISTINCT l_orderkey) AS exact_orders,
             CAST(1 AS INT) AS parts_ok,
             CAST(1 AS INT) AS orders_ok,
             CAST(1 AS INT) AS median_ok
      FROM lineitem
      GROUP BY l_returnflag""",

    "q35_percentiles" -> """
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.5) AS median_qty,
             quantile_cont(l_extendedprice, 0.25) AS p25_price,
             quantile_cont(l_extendedprice, 0.75) AS p75_price,
             COUNT(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag""",

    "q31_embedding_stats" -> """
      SELECT label, COUNT(*) AS n_vecs,
             CAST(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sum_dim1,
             AVG(LEN(embedding)) AS avg_dim
      FROM embeddings
      GROUP BY label"""
  )
}
