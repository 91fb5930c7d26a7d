package graft

import graft.BenchRunner._

/** Per-query timings of the batch queries (`runMain graft.Bench [tier]`).
  *
  *  - `base` (the default): every batch query on `SPARK_GRAFT_SF_DIR`
  *    (sf0.1), plugin and default-manager lanes; one JSON line on stdout
  *    and `target/bench.json`.
  *    `SPARK_GRAFT_AB=0` runs the plugin lane only, `SPARK_GRAFT_AB_ORDER`
  *    sets the lane order and `SPARK_GRAFT_BENCH_ONLY=q05,ts01,...` restricts
  *    the sweep.
  *  - `scale`: the heavy queries one decade right of sf0.1, plugin only;
  *    `target/scaleprobe.json`, which `scripts/scale_table.py` renders.
  *
  * The streaming drains are left out: a checkpointed AvailableNow drain
  * measures state-store and checkpoint I/O, not engine throughput, and
  * would swamp the batch medians. `graft.BenchStream` times them.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val set = settings(args)
    if (set.tier == "scale") scale(set) else base(set)
  }

  private def base(set: Settings): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Tiers("sf0.1"))
    // BENCH_ONLY picks the shuffle-heavy subset for a derived tier, where
    // the replication makes some self-join queries superlinear by
    // construction (shifted join keys but not user_id/ts: q40's per-user
    // interval pairs grow ~100×, a fixture artifact)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val batch = SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => SparkEntry.streamingQueries(q._1))
    // checked against the batch set: a streaming id would otherwise drop
    // out silently, and a zero-query sweep reads as a total of 0
    only.foreach { o =>
      val unknown = o.diff(batch.map(q => short(q._1)).toSet)
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY ids not in the batch sweep: $unknown")
    }
    val ordered = batch.filter(q => only.forall(_.contains(short(q._1))))
    require(ordered.nonEmpty, "SPARK_GRAFT_BENCH_ONLY selected zero queries")
    requireUniqueShortIds(ordered.map(_._1))
    val sw = sweep(set) { plugin =>
      withSession(set.cpus, plugin, sfDir, ("lineitem", "l_returnflag"))(runLane(_, sfDir, ordered))
    }
    val (line, rich) = benchReport(sw, sfDir)
    if (line.length > 1930) System.err.println(s"BENCH WARN: compact line ${line.length} bytes may overflow the tail")
    write("target/bench.json", rich)
    // printed once and last, after every session has stopped, so no
    // shutdown log lands after the line the driver parses
    println(line)
  }

  /** Queries run on sf0.1 and the exact-copy ×10 tier. Beyond the relational
    * and dedup cores:
    *  - the text operators (dd16, pp07, pp08, tx11) saturate on exact copies
    *    (every window fingerprint occurs ≥ 10×, pp08's gate drops every
    *    doc): the maximal-duplication worst case for their join and
    *    aggregate volume;
    *  - pp09 and tx07 hit their tie regime (every replica scores alike, so
    *    order falls to the doc_id tiebreak the range-partitioned scan is
    *    for); pp14's bucket table stays O(4096) while grams grow 10×;
    *  - tx12/tx13's type tables stay identical while frequencies grow 10×,
    *    so BPE rounds and KN marginals should stay about flat;
    *  - serving (ss10-ss15) should stay about flat per request: index
    *    reads prune to the request's buckets and the builds ride pass 1;
    *  - cl03/cl04 are capped at vec_id < 1000, flat by construction (see
    *    the notes); their growth is the uncapped lanes' row;
    *  - mm03/mm06 decode the staged GIF corpus, so they measure decode. */
  private val exact = Seq("q01_pricing_summary", "q05_regional_revenue", "q38_rollup_rank", "dd01_exact_dedup",
    "dd04_minhash_lsh_pairs", "dd07_prefix_join", "dd09_dup_components", "dd12_dedup_clusters", "dd15_cc_star",
    "pp04_pack_sequences", "pp05_decontaminate", "pp06_mixture_sample", "dd16_substr_dedup", "pp07_chunk_overlap",
    "pp08_span_clean_chunks", "tx11_lm_coverage", "ss10_mmr_diversify", "q35_percentiles", "q37_approx_sketches",
    "pp09_token_budget_select", "pp12_shard_order", "tx07_hash_split", "pp14_dsir_select", "tx12_kn_lm_stats",
    "tx13_bpe_merges", "dd17_soft_dedup_sample", "ss11_hybrid_rrf", "tx14_rule_cascade", "tx15_bpe_encode",
    "pp10_denylist_scrub", "pp13_source_upsample", "pp15_dataset_card", "pp16_curriculum_order",
    "ss12_ann_recall_report", "ss14_hybrid_index_serve", "mm03_frame_sample", "mm06_scene_change", "cl03_dbscan",
    "cl04_dbscan_blocked", "ss13_stream_hybrid_serve", "ss15_stream_index_serve")

  /** Queries run on the perturbed tier, the novel-corpus regime: new
    * fingerprints and chunk hashes, spread quality scores (pp09, pp14,
    * tx14), minted word and bigram types (tx12, tx13, tx15), and the
    * multiplicity-1 pairs where dd07's prefix and dd04's banded blocking
    * actually prune. */
  private val perturbed = Seq("dd16_substr_dedup", "pp07_chunk_overlap", "pp08_span_clean_chunks",
    "tx11_lm_coverage", "pp09_token_budget_select", "pp14_dsir_select", "tx12_kn_lm_stats", "tx13_bpe_merges",
    "tx14_rule_cascade", "tx15_bpe_encode", "dd07_prefix_join", "dd04_minhash_lsh_pairs")

  /** The uncapped clustering machinery, the growth rows the capped gated
    * entries cannot give. cl04's Θ(n²) candidate volume skips sf1_exact;
    * cl05's O(n log n) affords it (500 → 2,000 → 20,000 vectors). */
  private val uncapped: Map[String, Query] = Map(
    "cl04_blocked_uncapped" -> operators.Clustering.dbscanBlockedUncapped,
    "cl05_knn_uncapped" -> operators.Clustering.dbscanKnnUncapped)

  private val plan = Seq("sf0.01" -> uncapped.keys.toSeq.sorted, "sf0.1" -> (exact ++ uncapped.keys.toSeq.sorted),
    "sf1_exact" -> (exact :+ "cl05_knn_uncapped"), "sf1_perturbed" -> perturbed)

  /** What a reader needs to judge a row's growth. */
  private val notes = Seq(
    "dd07_prefix_join@sf1_exact" -> ("output-bound quadratic BY CONSTRUCTION: exact pair enumeration's output " +
      "grows with duplicate multiplicity^2 (x10 exact copies => x100 verified pairs per original pair); dd04's " +
      "banded blocking is the scale path, and the perturbed-tier row (novel twins, multiplicity 1) is the " +
      "pruning regime"),
    "cl03_dbscan@sf1_exact" -> ("flat by construction: the gated ground-truth tier caps at vec_id < 1000, " +
      "selecting the same rows at every tier; growth lives in cl04_blocked_uncapped"),
    "cl04_dbscan_blocked@sf1_exact" -> ("flat by construction (same vec_id < 1000 cap as cl03); see " +
      "cl04_blocked_uncapped for the machinery's growth"),
    "cl04_blocked_uncapped@sf0.1" -> ("~quadratic candidate volume by design at eps=0.35 (the dd08 lesson: " +
      "low-threshold LSH buys join shape and a ~2.4x constant, not an asymptotic cut); the fixture pair is a x4 " +
      "vector count (500 -> 2000 = x16 pair volume) across the sf0.01 -> sf0.1 tier decade; cl05_knn_uncapped " +
      "is the subquadratic production shape"),
    "cl05_knn_uncapped@sf1_exact" -> ("the bounded-degree tier's growth claim as numbers: knnBitsFor sizes LSH " +
      "buckets to the corpus (bits = ceil(log2(n/24))), so candidate volume is O(n log n) and the decomposition " +
      "consumes <= k edges per point — compare wall growth against pair volume x100 from sf0.1 (2000 -> 20000 " +
      "vectors); recall at fixed tables decays as bits grow (SCALE.md section 3 states the tables-for-recall " +
      "trade this lane deliberately does not pay)"),
    "dd04_minhash_lsh_pairs@sf1_perturbed" -> ("the pruning regime for the op named as dd07's scale path: " +
      "multiplicity-1 near-dup twins (no x100 output explosion), so the row measures the banded blocking " +
      "itself — compare against the exact-copy tier's output-bound row"),
    "ss14_hybrid_index_serve@sf1_exact" -> ("serve-time work is request-proportional (both lanes read " +
      "partition-pruned indexes); residual growth is the one-time per-tier index builds riding the first rep " +
      "plus bigger pruned buckets"))

  /** One session; each tier is built once, then run as one lane. The
    * artifact is rewritten after every tier's lane, so a run that dies late
    * keeps the rows of the tiers it finished. */
  private def scale(set: Settings): Unit = {
    val json = withSession(set.cpus, plugin = true, Tiers("sf0.1"), ("lineitem", "l_returnflag")) { s =>
      val rows = Seq.newBuilder[String]
      plan.indices.map { i =>
        val (tier, names) = plan(i)
        val dir = BenchRunner.tier(s, tier)
        val stats = runLane(s, dir, names.map(n => n -> uncapped.getOrElse(n, SparkEntry.queries(n))), rows = true)
        rows ++= names.map(n => scaleRow(tier, n, stats(n)))
        val json = scaleReport(plan.take(i + 1).map(_._1), notes, rows.result())
        write("target/scaleprobe.json", json)
        json
      }.last
    }
    println(json)
  }
}
