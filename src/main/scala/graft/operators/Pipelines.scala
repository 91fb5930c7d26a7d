package graft.operators

import graft.Tables
import graft.functions.TextOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Composed training-data pipeline: the individual operators (exact dedup,
  * quality scoring, deterministic splitting) chained into ONE Catalyst DAG,
  * the way a production corpus-preparation job runs them. Everything stays
  * declarative — dedup is a fingerprint window, the quality gate a filter,
  * the split a second window — so Catalyst pipelines the whole thing with
  * three shuffles (fingerprint, source-rank, final rollup) at any scale.
  */
object Pipelines {

  /** The tx02-style quality score of a token-array column — ONE definition
    * shared by pp01 and pp02 (both DuckDB oracles mirror it; a tweak to
    * either Spark copy alone would break oracle-exactness invisibly). */
  private def qualityScore(ws: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val stopRatio = size(org.apache.spark.sql.functions.filter(ws,
      w => w.isInCollection(Seq("the", "a", "of", "and", "to", "in", "is"))))
      .cast("double") / size(ws)
    val distinctRatio = size(array_distinct(ws)).cast("double") / size(ws)
    round(least(lit(1.0), (stopRatio * 2 + distinctRatio) *
      when(size(ws) >= 20, 1.0).otherwise(0.5)), 6)
  }

  /** Stream the documents fixture the way StreamingQueries streams events
    * (glob pinned to the fixture file). */
  private def streamDocs(s: SparkSession, d: String): DataFrame = {
    val rawSchema = s.read.parquet(s"$d/documents.parquet").schema
    s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
  }

  /** pp09 scoring stage: (doc_id, source, text) → the four audit scalars.
    * Text and the token array die here — nothing downstream shuffles them. */
  private[graft] def scoreDocs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
    .select(col("doc_id"), col("source"),
      size(col("toks")).cast("long").as("n_tokens"),
      qualityScore(col("toks")).as("quality"))
    .where(col("source").isNotNull)

  /** Distributed groupwise PREFIX SCAN — the running total of `weight`
    * within each `group`, taken in `order` — without ever putting a
    * whole group through one task (the naive shape is one window per
    * group; a group holding most of a 100 TB corpus then serializes).
    *
    * Level 1 range-partitions the rows on the FULL order key
    * (group ++ order) and takes the running sum inside each
    * (group, pid) cell — `pid = spark_partition_id()` ascends in key
    * order, so it is a prefix-respecting bucket of each group's order,
    * under ANY distribution: ties split on the trailing order columns,
    * cells stay balanced by the range partitioner's sampling, and
    * parallelism tracks shuffle partitions. Level 2 runs the same scan
    * over the ONE-ROW-PER-CELL totals and broadcasts each cell's base
    * offset back. Integer-exact for any prefix-respecting bucketing —
    * which is also why the output is invariant to the sampled range
    * boundaries (and to AQE coalescing, which only merges ADJACENT
    * range partitions).
    *
    * `pid` is PARTITION IDENTITY, not data, so the one structural rule
    * is that it be computed exactly once: both level-2 consumers read
    * the level-1 rows, and if each re-executed the range exchange with
    * freshly sampled boundaries (RangePartitioner seeds per RDD id;
    * ReusedExchange dedup is an OPTIMIZATION, vulnerable to any subtree
    * asymmetry), they could assign DIFFERENT pids to the same row and
    * the (group, pid) join would silently misalign.
    * localCheckpoint(eager = false) pins the level-1 scalars to one
    * materialization (the dd09/dd15 lineage-truncation precedent):
    * correctness by construction, not plan-shape luck.
    *
    * Returns the input columns plus `cum` (the inclusive running
    * total). The order columns must make the key total (append a
    * unique id), or the scanned order — and thus cum — is undefined
    * between peers. */
  private[graft] def groupPrefixScan(rows: DataFrame, group: Seq[String],
      order: Seq[Column], weight: Column): DataFrame = {
    val groupCols = group.map(col)
    val withLocal = prefixScanCells(rows, group, order, weight)
    val cellTotals = withLocal.groupBy(groupCols :+ col("pid"): _*)
      .agg(max(col("local_cum")).as("cell_total"))
    val cellScan = Window.partitionBy(groupCols: _*).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cellTotals
      .withColumn("cell_off", coalesce(sum(col("cell_total")).over(cellScan), lit(0L)))
      .select(groupCols ++ Seq(col("pid"), col("cell_off")): _*)
    withLocal.join(offsets, group :+ "pid")
      .withColumn("cum", col("cell_off") + col("local_cum"))
      .drop("pid", "local_cum", "cell_off")
  }

  /** groupPrefixScan's level 1, exposed for the SkewSpec balance probe:
    * the checkpointed (group, pid, local_cum) cell rows. */
  private[graft] def prefixScanCells(rows: DataFrame, group: Seq[String],
      order: Seq[Column], weight: Column): DataFrame = {
    val groupCols = group.map(col)
    val ranged = rows
      .repartitionByRange(groupCols ++ order: _*)
      .withColumn("pid", spark_partition_id())
    val local = Window.partitionBy(groupCols :+ col("pid"): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn("local_cum", sum(weight).over(local))
      .localCheckpoint(false)
  }

  /** pp09 composed: score → groupwise prefix scan of the token counts
    * in per-source quality-desc order → budget cut. */
  private[graft] def budgetSelect(docs: DataFrame, budget: Long): DataFrame =
    groupPrefixScan(scoreDocs(docs), Seq("source"),
      Seq(col("quality").desc, col("doc_id")), col("n_tokens"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("n_tokens"), col("cum").as("cum_tokens"))
      .withColumn("kept", (col("cum_tokens") <= budget).cast("int"))

  /** pp10/pp11's scrub projection — ONE definition for the batch and
    * streaming entries (both oracle against the same SQL): token-level
    * [MASK] substitution over the denylist plus the per-doc compliance
    * audit. Pure map — composes with any source, batch or stream. */
  private def scrubAudit(docs: DataFrame): DataFrame = {
    val deny = Seq("customer", "spark", "key", "hash")
    val toks = tokens(col("text"))
    val masked = transform(toks,
      t => when(t.isInCollection(deny), lit("[MASK]")).otherwise(t))
    docs
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        size(org.apache.spark.sql.functions.filter(toks,
          t => t.isInCollection(deny))).cast("long").as("n_masked"),
        substring(md5(array_join(masked, " ").cast("binary")), 1, 16)
          .as("clean_fp"))
      .withColumn("masked_ratio",
        round(col("n_masked").cast("double") / col("n_tokens"), 6))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The corpus-prep pipeline AS A STREAMING JOB: continuous ingest →
    // streaming exact dedup (dropDuplicates state keyed on (source,
    // fingerprint) — within-source, because streaming keeps the FIRST
    // arrival and cross-source survivor choice would be racy across
    // shuffle partitions) → quality gate → per-source rollup of the
    // SURVIVING corpus. Every aggregated value is derived from the
    // canonical text (content length, quality), so the rollup is
    // identical no matter which byte-identical copy the state store kept
    // — what makes a streaming dedup pipeline verifiable at all. At
    // scale the dedup state is the fingerprint dictionary,
    // hash-partitioned across the cluster; production bounds it with
    // dropDuplicatesWithinWatermark (spec-covered in StreamingSpec).
    "pp02_stream_clean_corpus" -> ((s, d) => {
      val kept = streamDocs(s, d)
        // score the CANONICAL text: any byte-identical-after-normalization
        // copy then yields the same quality, so the rollup is deterministic
        // by construction, not by fixture luck
        .select(col("source"), trim(lower(col("text"))).as("ctext"),
          fingerprint(col("text")).as("fp"))
        // derive content_chars + quality BEFORE the dedup state: every
        // copy of a (source, fp) key carries identical derived values
        // (the determinism argument above), so keeping ONLY the scalars
        // leaves the state store rows hash-key-sized instead of
        // text-sized — at 100 TB the fingerprint dictionary holds ~40
        // bytes/doc, not the document body
        .select(col("source"), col("fp"),
          length(col("ctext")).as("content_chars"),
          qualityScore(tokens(col("ctext"))).as("quality"))
        .dropDuplicates("source", "fp")
        .filter(col("quality") >= 0.5)
      StreamingQueries.drainAppend(s, kept)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("content_chars")).as("sum_content_chars"),
          (sum(col("quality").cast(DecimalType(28, 6))).cast(DoubleType)
            / count(lit(1))).as("avg_quality"))
    }),
    // NEAR-DUP-aware corpus prep — what a real LLM data job runs (fuzzy
    // dedup, not just byte-exact): the dd12 cluster artifact picks ONE
    // keeper per near-dup cluster (doc_id == comp_id — comp_id is the
    // min doc id reachable, so the keeper is the cluster's canonical
    // doc), then the pp01 quality gate + per-source rollup run over the
    // surviving corpus. The "keep one per cluster" consumer the cluster
    // table exists for, composed end-to-end with an exact oracle
    // (recursive-CTE components + the same gate in SQL). The pipeline
    // CONSUMES the materialized cluster table (built once per fixture —
    // Dedup.clusterTableDir): a production prep job joins the
    // checkpointed dedup artifact rather than re-running connected
    // components, so at 100 TB the keeper filter is a parquet-scan
    // predicate — no pair list and no propagation loop in this job.
    "pp03_neardup_clean_corpus" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      val keepers = s.read.parquet(Dedup.clusterTableDir(s, d))
        .filter(col("doc_id") === col("comp_id"))
        .select(col("doc_id"))
      docs.join(keepers, "doc_id")
        .select(col("source"), col("n_chars"),
          qualityScore(tokens(col("text"))).as("quality"))
        .filter(col("quality") >= 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("quality").cast(DecimalType(28, 6))).cast(DoubleType)
            / count(lit(1))).as("avg_quality"))
    }),

    // SEQUENCE PACKING — the training-data step downstream of cleaning:
    // concatenate each source's documents in doc_id order and chop the
    // token stream into fixed-budget training sequences (B = 512
    // whitespace tokens here; a real pipeline swaps in the tokenizer's
    // counts and context length — the plumbing is identical). Emits the
    // per-doc placement table a packed-dataset writer consumes: doc_id,
    // token count, global start offset within its source's stream, the
    // sequence id the doc starts in, and whether it straddles a sequence
    // boundary (the attention-mask/boundary-loss bookkeeping signal).
    //
    // Scale design: the naive plan is ONE running-sum window per source
    // — a total sort with every row of a source through a single task
    // (the dd12 window asymmetry, here over the FULL corpus, not a
    // cluster table). Instead the prefix sum is HIERARCHICAL, the
    // classic two-level scan: (1) a running sum inside fixed doc_id
    // buckets — parallel across (source, bucket) partitions; (2) a
    // second running sum over the per-bucket TOTALS — one row per
    // bucket, thousands of rows where the corpus has billions — joined
    // back as each bucket's base offset. Identical arithmetic (integer-
    // exact), no serial full-source task; the oracle uses the naive
    // single window, which proves the decomposition. PackingSpec also
    // asserts the in-Spark equality and that the full-data window is
    // bucket-partitioned.
    "pp04_pack_sequences" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("bkt", expr("doc_id DIV 100"))
      val local = Window.partitionBy(col("source"), col("bkt"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withLocal = docs.withColumn("local_cum", sum(col("n_tokens")).over(local))
      val bktTotals = withLocal.groupBy(col("source"), col("bkt"))
        .agg(max(col("local_cum")).as("bkt_tokens"))
      val bktScan = Window.partitionBy(col("source")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bktTotals
        .withColumn("bkt_off", coalesce(sum(col("bkt_tokens")).over(bktScan), lit(0L)))
        .select(col("source"), col("bkt"), col("bkt_off"))
      withLocal.join(offsets, Seq("source", "bkt"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (col("bkt_off") + col("local_cum") - col("n_tokens")).as("start_off"))
        .selectExpr("doc_id", "source", "n_tokens", "start_off",
          "start_off DIV 512 AS seq_id",
          "CAST((start_off + n_tokens - 1) DIV 512 > start_off DIV 512 AS INT) AS straddles")
    }),

    // BENCHMARK DECONTAMINATION — the eval-set n-gram overlap gate every
    // production training corpus runs before packing (the GPT-3 paper's
    // 13-gram rule; k=4 here because the fixtures' synthetic docs are
    // 10-99 whitespace tokens — the plumbing is k-independent). The
    // "benchmark" is the deterministic doc_id % 50 == 0 slice standing in
    // for an external eval set; every other doc is training corpus, and a
    // doc is contaminated if it shares ANY distinct k-gram with any
    // benchmark doc. Emits the per-doc audit table (doc_id, source,
    // n_shared distinct grams, contaminated flag) a filter consumes.
    //
    // Scale design: grams travel as 64-bit md5-prefix keys, never as
    // strings — the join input is (doc_id, hash) pairs, the dd04
    // ids-only discipline. Real eval sets are tiny relative to the
    // corpus (~10⁵ docs), so the distinct benchmark gram set broadcasts
    // and the contamination check is a map-side broadcast join — zero
    // shuffle of the exploded training side; the only wide exchange is
    // the per-doc count of the (rare) hits. PipelinesSpec asserts the
    // broadcast. The md5-prefix key is engine-portable, so the DuckDB
    // oracle runs the IDENTICAL algorithm (collisions, if any, collide
    // identically — the dd05 argument).
    "pp05_decontaminate" -> ((s, d) => {
      val k = 4
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      // sequence(1, n) REVERSES when n < 1 (verify-skill gotcha): guard
      // docs shorter than k tokens to an empty gram list explicitly
      val grams = docs.select(col("doc_id"), explode(when(size(col("toks")) >= k,
          expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
            s"i -> substring(md5(cast(array_join(slice(toks, i, $k), ' ') as binary)), 1, 16))"))
        .otherwise(array().cast("array<string>"))).as("h"))
      val bench = grams.filter(col("doc_id") % 50 === 0).select(col("h")).distinct()
      // Order of operations IS the scale design: the broadcast join is a
      // map-side filter, so run it BEFORE any dedup — the only rows that
      // ever shuffle are the (rare) contaminated-gram hits, deduped by
      // countDistinct inside the per-doc agg. The previous shape ran
      // train.distinct() first, an exchange of EVERY training gram key
      // (the whole corpus ×k in 64-bit keys at 100 TB) just to feed a
      // filter that discards almost all of them.
      val train = grams.filter(col("doc_id") % 50 =!= 0)
      val hits = train.join(broadcast(bench), "h")
        .groupBy(col("doc_id")).agg(countDistinct(col("h")).as("hits"))
      docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("source"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("hits"), lit(0L)).as("n_shared"),
          (coalesce(col("hits"), lit(0L)) > 0).cast("int").as("contaminated"))
    }),

    // SOURCE-MIXTURE SAMPLING — deterministic hash-threshold downsampling
    // to a per-source mixture weight (the domain-reweighting step between
    // cleaning and packing: CommonCrawl at 0.4, code+books at 0.9, etc.).
    // A doc survives iff its md5 hex prefix sorts below the source's
    // threshold ('e666' ≈ 0.9 for even-numbered sources, '6666' ≈ 0.4
    // for odd — thresholds are 16-bit hex rungs, so rates are exact
    // rationals n/65536). Emits per-source kept docs, kept tokens, and
    // the realized mixture share of the sampled corpus.
    //
    // Scale design: the keep decision is a pure map-side filter on a
    // per-row hash — no window, no rank, no shuffle of the corpus; the
    // only exchange is the K-source partial agg, and the mixture-share
    // normalization is a window over the K aggregated rows (K = sources,
    // thousands at most — never data-sized). Contrast with pp01's
    // rank-based split, which pays a per-source sort: rank sampling
    // guarantees exact counts, hash thresholds guarantee per-row
    // determinism at zero shuffle — at 100 TB you want the latter.
    "pp06_mixture_sample" -> ((s, d) => {
      val kept = Tables.load(s, d, "documents")
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          substring(md5(col("text").cast("binary")), 1, 4).as("hk"),
          when(substring(col("source"), 4, 10).cast("int") % 2 === 0, "e666")
            .otherwise("6666").as("thr"))
        .filter(col("hk") < col("thr"))
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("kept_tokens"))
        .withColumn("mix_share",
          // K aggregated rows (one per source), never data-sized: a
          // deliberate global window — Spark's "WindowExec: No Partition
          // Defined" warning here is bounded-by-design (PLANS.md)
          round(col("kept_tokens").cast("double") /
            sum(col("kept_tokens")).over(Window.partitionBy()), 6))
    }),

    // RAG/RETRIEVAL CHUNKING — the step between a cleaned corpus and the
    // embedding table: chop each document's token stream into fixed-size
    // chunks (C = 64 tokens) with overlap (stride S = 48, so consecutive
    // chunks share 16 tokens — retrieval context continuity), the
    // standard chunker every retrieval pipeline runs before embedding.
    // Emits the chunk manifest an embedding job consumes: (doc_id,
    // chunk_id, start token, chunk length, 64-bit chunk fingerprint for
    // chunk-level dedup). Chunk count per doc is 1 + ceil(max(n-C,0)/S)
    // — full coverage, last chunk may run short, never empty.
    //
    // Scale design: ZERO shuffle — the whole operator is a map-side
    // explode of per-doc start offsets (integer arithmetic only; the
    // ceil is the exact integer form (n-C+S-1) DIV S, no float). Chunk
    // identity is the md5-prefix of the joined slice (engine-portable:
    // the DuckDB oracle runs the identical hash), so downstream
    // chunk-level dedup joins on 64-bit keys, never on chunk text. At
    // 100 TB this is a pure scan whose output is ~n/S rows per doc.
    "pp07_chunk_overlap" -> ((s, d) =>
      chunkManifest(Tables.load(s, d, "documents"))),

    // SPAN-CLEAN → CHUNK — the new tiers composed into the terminal
    // retrieval-prep artifact: dd16's duplicated-span audit gates out
    // documents that are mostly repeated passages (keep iff
    // 2·covered_tokens ≤ n_tokens — an INTEGER comparison, no float
    // threshold), the survivors chunk through pp07's manifest, and the
    // rollup reports per-source chunk counts plus DISTINCT chunk
    // fingerprints — the chunk-level dedup signal an embedding job uses
    // to skip redundant chunks. Same composition discipline as pp03
    // (consume the dedup artifact, don't re-derive it): the gate input
    // is dd16's shared core, one definition for audit and gate.
    //
    // Scale: the gate adds dd16's linear gram pipeline; chunking and the
    // rollup are map-side + one hash agg. The distinct-fingerprint count
    // is a 64-bit-key aggregation — chunk text never shuffles.
    "pp08_span_clean_chunks" -> ((s, d) => {
      val keep = Dedup.substrCoverage(s, d)
        .filter(col("covered_tokens") * 2 <= col("n_tokens"))
        .select(col("doc_id"))
      chunkManifest(Tables.load(s, d, "documents").join(keep, "doc_id"))
        .groupBy(col("source"))
        // n_docs counts chunk_id=0 rows — every doc emits exactly one
        // (chunkManifest's sequence always starts at j=0), so this is
        // countDistinct(doc_id) EXACTLY but keeps the agg at ONE
        // distinct column (chunk_fp): two distinct columns would plan
        // an Expand x3 of the whole chunk manifest through the partial
        // agg, tripling the widest stage of the pipeline
        .agg(count(when(col("chunk_id") === 0, true)).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).as("sum_chunk_tokens"),
          countDistinct(col("chunk_fp")).as("n_unique_chunks"))
    }),

    // TOKEN-BUDGET SELECTION — the data-selection step between scoring
    // and packing (the DataComp/DoReMi-style regime: each source gets a
    // token budget, and its highest-quality documents fill it): rank
    // every document within its source by quality (desc, doc_id
    // tie-break — a total order, so selection is deterministic), take
    // the per-source running token total in that order, keep a doc iff
    // its cumulative total fits the budget (B = 640 whitespace tokens
    // here; a real pipeline plugs in tokenizer counts and a
    // mixture-weighted budget — the plumbing is identical). Emits the
    // full per-doc selection audit (quality, tokens, cumulative
    // position, kept flag), not just the survivors: the audit row is
    // what a selection dashboard and a re-run with a different budget
    // both consume.
    //
    // Scale design: the naive plan is one running-sum window per source
    // ordered by quality — a per-source TOTAL SORT with every row of a
    // source through a single task (pp04's asymmetry, but here the
    // order key is DATA-DEPENDENT, so pp04's id-bucket trick does not
    // apply, and a fixed banding of the quality value caps parallelism
    // at bands·sources and collapses entirely on a quality-saturated
    // corpus where most docs tie at 1.0). The general fix is the
    // two-level scan over a RANGE partitioning of the full order key
    // (source, quality desc, doc_id): the range partitioner samples
    // boundaries — balanced under ANY distribution, ties split by the
    // doc_id tiebreak, parallelism = shuffle partitions, not a band
    // count — and partition ids ascend in key order, so pid is a
    // prefix-respecting bucket of each source's quality-desc order.
    // (1) a running sum inside each (source, pid) cell; (2) a running
    // sum over the per-cell TOTALS in pid order — one row per cell —
    // joined back as each cell's base offset. Integer-exact for ANY
    // prefix-respecting bucketing, which is also why the output is
    // invariant to the sampled boundaries (and to AQE coalescing,
    // which only merges ADJACENT range partitions); the oracle runs
    // the naive single window, proving the decomposition. Only scalars
    // enter the shuffles (pp01's payload discipline): text and the
    // token array die at the scan.
    //
    // `pid` is PARTITION IDENTITY, not data — so the one structural
    // rule is that it be computed exactly once: the cell-totals branch
    // and the final join both consume `withLocal`, and if each
    // re-executed the range exchange with freshly sampled boundaries
    // (RangePartitioner seeds per RDD id; ReusedExchange dedup is an
    // OPTIMIZATION, vulnerable to any subtree asymmetry such as
    // one-sided null-filter inference), the two branches could assign
    // DIFFERENT pids to the same row and the (source, pid) join would
    // silently misalign. localCheckpoint(eager = false) pins the
    // post-window scalars to one materialization (the dd09/dd15
    // lineage-truncation precedent): both consumers read the same RDD,
    // correctness by construction instead of by plan-shape luck — and
    // it doubles as the reuse device (text is scanned and tokenized
    // once; the checkpoint holds only the five audit scalars).
    "pp09_token_budget_select" -> ((s, d) =>
      budgetSelect(Tables.load(s, d, "documents"), 640L)),

    // DENYLIST SCRUB — the masking step of a filter/mask cleaning
    // pipeline (the PII / toxicity denylist pass of Dolma/RefinedWeb-
    // style corpus prep; the fixture's stand-in denylist is four
    // vocabulary words). Token-level: every denylisted token becomes
    // the [MASK] sentinel; emits the per-doc compliance audit —
    // n_tokens, n_masked, masked_ratio, and the md5-prefix fingerprint
    // of the SCRUBBED text (what downstream exact-dedup keys on, so
    // docs differing only in masked content collapse after the scrub).
    //
    // Scale design: pure map — ZERO shuffle at any scale. The scrub is
    // a transform() over the token array and the count a filter(),
    // both inside whole-stage codegen; the fingerprint is an md5 of
    // the re-joined text. The 100 TB plan is a bare scan → project,
    // embarrassingly parallel; the denylist is a literal in the plan
    // (a production list of ~10⁵ terms would broadcast a lookup
    // expression instead — same plan shape).
    "pp10_denylist_scrub" -> ((s, d) =>
      scrubAudit(Tables.load(s, d, "documents"))),

    // the SAME scrub as a STREAMING stage — the compliance pass of a
    // continuous ingest pipeline. Stateless (no watermark, no state
    // store): each micro-batch maps scan → project exactly like the
    // batch plan, so throughput scales with executors and the oracle
    // is pp10's own SQL verbatim (one definition of the scrub,
    // `scrubAudit`, shared by both entries — a drift in either would
    // break the other's oracle-exactness visibly).
    "pp11_stream_scrub" -> ((s, d) =>
      StreamingQueries.drainAppend(s, scrubAudit(streamDocs(s, d)))),

    // TRAINING-ORDER SHARDING — the last prep step before the data
    // loader: give every document a deterministic pseudo-random epoch
    // position, materialized as (shard, shard_pos) so S loader workers
    // can each read one shard sequentially and the concatenation is a
    // uniform global shuffle. The epoch key is md5 of the doc id (an
    // epoch-salted key — md5(doc_id || ':' || epoch) — re-shuffles
    // between epochs with zero code change); shard = first hex nibble
    // of the key mod S (engine-portable via ascii()); shard_pos = rank
    // within the shard in (key, doc_id) order.
    //
    // Scale design: the rank is the same groupwise prefix scan as pp09
    // with weight 1 (`groupPrefixScan` — range-partition on the full
    // order key, per-cell running counts, one-row-per-cell offsets), so
    // no shard ever serializes through one task; contrast tx07, whose
    // per-source row_number window is the naive shape kept deliberately
    // for its K-row rollup output. The oracle runs the naive
    // ROW_NUMBER, proving the decomposition ordinal-for-ordinal.
    "pp12_shard_order" -> ((s, d) => {
      val S = 8
      val keyed = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .withColumn("shard",
          pmod(ascii(substring(col("h"), 1, 1)), lit(S)).cast("int"))
      groupPrefixScan(keyed, Seq("shard"),
        Seq(col("h"), col("doc_id")), lit(1L))
        .select(col("doc_id"), col("shard"), col("cum").as("shard_pos"))
    }),

    // DOMAIN-WEIGHTED EPOCH UPSAMPLING — the data-constrained-scaling
    // stage (Muennighoff et al.): when the corpus is smaller than the
    // token budget, repeat under-represented domains more epochs than
    // dominant ones. Sources roll up into domains (here d⌊√srcnum⌋ —
    // a deliberately SKEWED regrouping of the uniform fixture, sizes
    // 1:7, so the clamp/base/fraction paths are all exercised by the
    // oracle); multiplicity is inverse-sqrt share clamped to [1, 4]
    // (sqrt(max_share/share): a 16×-smaller domain repeats 4×, the
    // largest exactly 1×). Fractional multiplicities repeat
    // DETERMINISTICALLY: every doc gets floor(mult) copies, and the
    // extra copy goes to the first floor(frac·n) docs of the domain in
    // md5-rank order — content-independent, reproducible, no RNG.
    //
    // Scale design: the output is an ids-only epoch-ASSIGNMENT table
    // (the trainer joins text at read time — you never materialize
    // copies of 100 TB of text); the multiplicity table is O(domains)
    // and broadcast; the md5 rank is `groupPrefixScan` with weight 1,
    // so a domain holding most of the corpus never serializes through
    // one window task; the explode is a map-side row generator. The
    // only shuffles are the domain-count agg (O(domains) rows) and the
    // scan's scalar range exchange — never text.
    "pp13_source_upsample" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("domain", concat(lit("d"),
          floor(sqrt(substring(col("source"), 4, 10).cast("int")))
            .cast("string")))
      val cnt = docs.groupBy(col("domain"))
        .agg(count(lit(1)).cast("double").as("n"))
      val mx = cnt.agg(max(col("n")).as("mn"))
      val mult = cnt.crossJoin(broadcast(mx))
        .withColumn("mult",
          least(lit(4.0), greatest(lit(1.0), sqrt(col("mn") / col("n")))))
        .select(col("domain"), floor(col("mult")).as("base"),
          floor((col("mult") - floor(col("mult"))) * col("n")).as("extra_k"))
      val keyed = docs.withColumn("h",
        md5(col("doc_id").cast("string").cast("binary")))
      groupPrefixScan(keyed, Seq("domain"), Seq(col("h"), col("doc_id")), lit(1L))
        .join(broadcast(mult), Seq("domain"))
        .withColumn("n_copies",
          col("base") + when(col("cum") <= col("extra_k"), 1L).otherwise(0L))
        .select(col("doc_id"), col("source"), col("domain"), col("n_copies"),
          explode(sequence(lit(1L), col("n_copies"))).as("epoch_copy"))
    }),

    // DSIR-STYLE IMPORTANCE SELECTION — hashed n-gram importance
    // weighting (Xie et al., "Data Selection for Language Models via
    // Importance Resampling", NeurIPS 2023): score every doc by how much
    // more TARGET-like than RAW-like its hashed-bigram mass is, keep the
    // top quarter. The target slice is sources src0-src3 standing in for
    // a curated domain (wiki/books); raw is the whole corpus. Features
    // are word bigrams hashed into B = 4096 buckets — the bucket KEY is
    // the 3-hex-char md5 prefix itself (a string), so both engines bucket
    // identically with zero hex-to-int conversion (the pp05/dd05
    // portability argument, extended to bucketing: collisions collide
    // identically). Published DSIR scores log p_target/p_raw; logs are
    // the one op whose last-ulp differs across libm implementations, so
    // the score here is the LINEARIZED importance — the same
    // add-1-smoothed bucket masses combined as a difference of
    // probabilities rather than a log ratio:
    //   score = S_t/(T+B) − S_r/(R+B),
    //   S_t = Σ_g (tc[b(g)]+1),  S_r = Σ_g (rc[b(g)]+1)
    // (tx11's log-free lesson): every accumulation is exact-integer
    // (commutative — safe to aggregate distributed), and the only float
    // ops are two correctly-rounded IEEE divisions and one subtraction
    // computed ONCE per doc — bit-identical in any IEEE-754 engine, no
    // rounding helper needed. Smoothing denominators use the FULL bucket
    // space B (not observed buckets) so unseen buckets are well-defined.
    //
    // Selection is by exact rank, not sampling: K = ceil(n/4); the
    // threshold θ is located on the (score, count) HISTOGRAM via the
    // shared `groupPrefixScan` (cum − cnt < K ⇒ the score's run starts
    // inside the top-K), and selected = score ≥ θ — the quota rounds UP
    // at the θ tie (all tied docs kept, the deterministic closure of
    // top-K under score ties).
    //
    // Scale design: the weight table is O(B) rows → broadcast; per-doc
    // scoring is a map-side explode + broadcast lookup + partial agg, so
    // the only corpus-sized shuffles carry (doc_id, three ints) — never
    // text or grams (grams die map-side; the bucket-count aggs shuffle
    // O(B) rows). The threshold scan is the pp09/pp12 range-partitioned
    // prefix scan over the score histogram — no global one-task window —
    // and θ, T, R, n are scalar broadcasts.
    // CURRICULUM ORDERING — the easy-to-hard training order (Bengio et
    // al. ICML'09 applied to corpus prep): docs sort into quality DECILE
    // bands (floor(quality·10), clamp 9 — integer-exact off the rounded
    // tx02 score both engines already agree on) and the curriculum
    // position is band-desc first (cleanest data earliest), then the
    // deterministic md5 order WITHIN a band (pp12's shuffle — curriculum
    // orders the macro-schedule, not the micro-order, or the model sees
    // all of one source in a row). Complements pp12 (uniform random
    // order) and pp13 (repetition counts): schedule, not selection.
    //
    // Scale shape: the within-band rank is `groupPrefixScan` (range
    // exchange on (band, md5, doc_id) scalars — never text); the global
    // position adds the offsets of better bands, a ≤10-row aggregate
    // whose prefix sum is a global window BOUNDED BY DESIGN (the pp06
    // precedent, PLANS.md) and broadcast back. No band ever serializes
    // through one task; output is the ids-only (doc_id, band, pos)
    // schedule the loader joins at read time.
    "pp16_curriculum_order" -> ((s, d) => {
      val t = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("h"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          qualityScore(tokens(col("text"))).as("quality"))
        .withColumn("band",
          least(lit(9L), floor(col("quality") * 10).cast("long")))
      val ranked = groupPrefixScan(t, Seq("band"),
        Seq(col("h"), col("doc_id")), lit(1L))
      val wb = Window.orderBy(col("band").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = ranked.groupBy(col("band")).agg(max(col("cum")).as("n"))
        .withColumn("off", coalesce(sum(col("n")).over(wb), lit(0L)))
        .select(col("band"), col("off"))
      ranked.join(broadcast(offs), "band")
        .select(col("doc_id"), col("band"),
          (col("off") + col("cum")).as("pos"), col("n_tokens"))
    }),

    // DATASET CARD — the terminal per-source report a corpus release
    // ships (the "datasheet/dataset card" stats block): volume (docs,
    // tokens, chars, length bounds), exact-duplication rate, language
    // spread, and lexical-diversity signal, one row per source. Composes
    // the signals the pipeline already computes — the op exists so the
    // ledger is ONE artifact with one gate, not a reader's join of five.
    //
    // Numerics: counts and sums are exact integers; the two ratios are
    // single final divisions (dup_ratio additionally one subtraction —
    // fixed per-row IEEE ops, no accumulation). Shape: one scan computes
    // every per-doc field map-side (md5, token counts — no explode: the
    // distinct-token count reads size(array_distinct)); the rollup is
    // one hash agg keyed by source whose distinct-fingerprint count
    // rides the same Expand pass as the distinct-lang count; linear at
    // any scale, exchanges carry (source, md5-hash, lang, four ints).
    "pp15_dataset_card" -> ((s, d) => {
      val t = Tables.load(s, d, "documents")
        .select(col("source"), col("lang"),
          md5(col("text").cast("binary")).as("fp"),
          size(tokens(col("text"))).cast("long").as("n_tok"),
          size(array_distinct(tokens(col("text")))).cast("long").as("n_dtok"),
          length(col("text")).cast("long").as("n_chars"))
      t.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_tok")).as("min_tokens"),
          max(col("n_tok")).as("max_tokens"),
          countDistinct(col("fp")).as("n_unique"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_dtok")).as("sum_dtok"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("sum_chars"), col("min_tokens"), col("max_tokens"),
          col("n_unique"), col("n_langs"),
          round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 6)
            .as("dup_ratio"),
          round(col("sum_dtok").cast("double") / col("n_tokens"), 6)
            .as("diversity"))
    }),

    "pp14_dsir_select" -> ((s, d) => {
      val B = 4096L
      val target = Seq("src0", "src1", "src2", "src3")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      // pin the gram table (a per-job profile showed the
      // explode + per-bigram md5 kernel as pp14's two single-task ~0.6 s
      // jobs, and `grams` is referenced twice: the weights aggregation
      // AND the per-doc scoring probe each re-ran the corpus gram pass).
      // One materialization, one kernel pass — at 100 TB one full corpus
      // explode saved per run; (doc_id, source, 3-char b) rows, the same
      // pin class as dd16's gram table.
      val grams = docs
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(expr("transform(sequence(1, size(toks) - 1), i -> " +
            "substring(md5(cast(concat(element_at(toks, i), ' ', " +
            "element_at(toks, i + 1)) as binary)), 1, 3))")).as("b"))
        .localCheckpoint(false)
      // one gram pass builds BOTH count columns (conditional agg) — a
      // separate target-filtered groupBy would re-explode the corpus text
      // a second time and pay an O(B) join to stitch rc/tc back together.
      // localCheckpoint(eager=false) pins the O(B)-row table to ONE
      // materialization: w is referenced twice (broadcast into per-doc
      // scoring, summed into tot), and each plan reference would
      // otherwise re-embed — and re-run — the whole corpus gram pass
      val w = grams.groupBy(col("b")).agg(
        count(when(col("source").isInCollection(target), 1)).as("tc"),
        count(lit(1)).as("rc"))
        .localCheckpoint(false)
      val tot = w.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rr"))
      val perDoc = grams.join(broadcast(w), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          (sum(col("tc")) + count(lit(1))).as("s_t"),
          (sum(col("rc")) + count(lit(1))).as("s_r"))
      val scored = docs.select(col("doc_id"), col("source"))
        .join(perDoc, Seq("doc_id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("source"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("s_t"), lit(0L)).as("s_t"),
          coalesce(col("s_r"), lit(0L)).as("s_r"),
          (coalesce(col("s_t"), lit(0L)).cast("double")
              / (col("tt") + lit(B)).cast("double")
            - coalesce(col("s_r"), lit(0L)).cast("double")
              / (col("rr") + lit(B)).cast("double")).as("score"))
        // pin to ONE materialization (the `w` discipline one line
        // up): `scored` is referenced twice — the threshold's histogram
        // and the final audit projection — and each plan reference would
        // otherwise re-run the corpus gram explode + weights join +
        // per-doc aggregation end to end (measured: ~1.1 s of pp14's
        // 3.2 s at sf0.1). Six scalar columns per doc, the table a DSIR
        // run would checkpoint anyway; lazy, so no extra action.
        .localCheckpoint(false)
      val hist = scored.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
        .withColumn("g", lit(0))
      // n counts the BASE table, not `scored` — scored's plan carries the
      // crossJoin(tot) subtree, and counting through it re-executes the
      // whole gram/weights pipeline just to produce a row count the
      // parquet footer already knows (left join on the doc_id key and a
      // one-row cross join both preserve cardinality exactly)
      val nDocs = Tables.load(s, d, "documents").agg(count(lit(1)).as("n"))
      val thr = groupPrefixScan(hist, Seq("g"), Seq(col("score").desc), col("cnt"))
        .crossJoin(broadcast(nDocs))
        .filter(col("cum") - col("cnt") < expr("(n + 3) DIV 4"))
        .agg(min(col("score")).as("thr"))
      scored.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("source"), col("n_grams"), col("s_t"),
          col("s_r"), col("score"),
          (col("score") >= col("thr")).cast("int").as("selected"))
    }),

    // corpus prep: exact-dedup (keep lowest doc_id per content
    // fingerprint) → quality gate → 80/10/10 md5-rank split → per-split
    // stats over the SURVIVING corpus
    "pp01_clean_corpus" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      // Map-side payload reduction: the fp-dedup window and the split
      // window only consume HASHES of the text (fp, md5) and SCALAR
      // scores (n_chars, quality), all functions of each row's own text
      // — so compute them at the scan and never shuffle the text or the
      // token array. Both window exchanges then carry ~50 bytes/row
      // instead of the document body (~10x fewer shuffle bytes at
      // sf0.1; at 100 TB it is the difference between shuffling the
      // corpus twice and shuffling a key table twice). Scoring a dupe
      // row is wasted map-side arithmetic, but dupes are rare and the
      // kept row's score is identical either way — oracle-exact.
      val byFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val deduped = docs
        .select(col("doc_id"), col("source"), col("n_chars"),
          fingerprint(col("text")).as("fp"),
          md5(col("text").cast("binary")).as("h"),
          qualityScore(tokens(col("text"))).as("quality"))
        .withColumn("keep_rk", row_number().over(byFp))
        .filter(col("keep_rk") === 1)
      val scored = deduped.filter(col("quality") >= 0.5)
      val bySrcHash = Window.partitionBy(col("source")).orderBy(col("h"))
      val whole = Window.partitionBy(col("source"))
      scored
        .select(col("source"), col("n_chars"), col("quality"),
          row_number().over(bySrcHash).as("rk"),
          count(lit(1)).over(whole).as("cnt"))
        .select(col("n_chars"), col("quality"),
          when((col("rk") - 1).cast("double") / col("cnt") < 0.8, "train")
            .when((col("rk") - 1).cast("double") / col("cnt") < 0.9, "val")
            .otherwise("test").as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("quality").cast(DecimalType(28, 6))).cast(DoubleType)
            / count(lit(1))).as("avg_quality"))
    })
  )

  /** pp07's chunk manifest over a documents-shaped frame (doc_id, source,
    * text → one row per chunk) — ONE definition shared by pp07 and pp08's
    * composition, C = 64-token chunks at stride S = 48. Boundaries are
    * exact integer arithmetic; identity is the md5-prefix of the joined
    * slice. */
  private def chunkManifest(docsDf: DataFrame): DataFrame = {
    val C = 64; val S = 48
    docsDf
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), col("toks"),
        size(col("toks")).as("n"),
        explode(expr(s"sequence(0, CASE WHEN size(toks) > $C " +
          s"THEN (size(toks) - $C + ${S - 1}) DIV $S ELSE 0 END)")).as("j"))
      .select(col("doc_id"), col("source"),
        col("j").cast("long").as("chunk_id"),
        (col("j") * S + 1).cast("long").as("start_tok"),
        least(lit(C), col("n") - col("j") * S).cast("long").as("chunk_tokens"),
        expr(s"substring(md5(cast(array_join(slice(toks, j * $S + 1, $C), ' ') " +
          "AS binary)), 1, 16)").as("chunk_fp"))
  }

  /** The qualityScore column as DuckDB SQL over a text expression — the
    * SQL twin of [[qualityScore]], shared by the pp01/pp02/pp03 oracles
    * so the three gates cannot drift apart. */
  private def qualitySql(t: String): String = s"""
               ROUND(LEAST(1.0,
                 (CAST(LEN(list_filter(string_split($t, ' '),
                    w -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'], w)))
                    AS DOUBLE) / LEN(string_split($t, ' ')) * 2
                  + CAST(LEN(list_distinct(string_split($t, ' '))) AS DOUBLE)
                    / LEN(string_split($t, ' ')))
                 * (CASE WHEN LEN(string_split($t, ' ')) >= 20
                         THEN 1.0 ELSE 0.5 END)), 6)"""

  private val scrubSql: String = """
      WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents),
           m AS (
        SELECT doc_id, source,
               CAST(LEN(ws) AS BIGINT) AS n_tokens,
               CAST(LEN(list_filter(ws, x -> x IN
                 ('customer','spark','key','hash'))) AS BIGINT) AS n_masked,
               array_to_string(list_transform(ws, x -> CASE WHEN x IN
                 ('customer','spark','key','hash') THEN '[MASK]' ELSE x END),
                 ' ') AS clean
        FROM t)
      SELECT doc_id, source, n_tokens, n_masked,
             substring(md5(clean), 1, 16) AS clean_fp,
             round(n_masked / CAST(n_tokens AS DOUBLE), 6) AS masked_ratio
      FROM m"""

  val oracles: Map[String, String] = Map(
    // the NAIVE one-window global order — proving the banded two-level
    // decomposition position-for-position (the pp09/pp12 pattern)
    "pp16_curriculum_order" -> s"""
      WITH t AS (
        SELECT doc_id, md5(text) AS h,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ${qualitySql("text")} AS quality
        FROM documents),
      b AS (SELECT doc_id, h, n_tokens,
                   LEAST(9, CAST(FLOOR(quality * 10) AS BIGINT)) AS band
            FROM t)
      SELECT doc_id, band,
             ROW_NUMBER() OVER (ORDER BY band DESC, h, doc_id) AS pos,
             n_tokens
      FROM b""",

    // same per-doc fields, same single-division ratios
    "pp15_dataset_card" -> """
      WITH t AS (
        SELECT source, lang, md5(text) AS fp,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(LEN(list_distinct(string_split(text, ' '))) AS BIGINT)
                 AS n_dtok,
               CAST(LEN(text) AS BIGINT) AS n_chars
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens,
             COUNT(DISTINCT fp) AS n_unique,
             COUNT(DISTINCT lang) AS n_langs,
             ROUND(CAST(1 AS DOUBLE)
                   - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
               AS dup_ratio,
             ROUND(CAST(SUM(n_dtok) AS BIGINT)
                   / CAST(SUM(n_tok) AS BIGINT), 6) AS diversity
      FROM t GROUP BY source""",

    // the NAIVE single-window prefix sum — proving the Spark side's
    // hierarchical two-level scan computes the same placement exactly
    "pp04_pack_sequences" -> """
      WITH t AS (
        SELECT doc_id, source,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
           c AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
        FROM t)
      SELECT doc_id, source, n_tokens, start_off,
             start_off // 512 AS seq_id,
             CAST((start_off + n_tokens - 1) // 512 > start_off // 512 AS INT)
               AS straddles
      FROM c""",

    // the IDENTICAL algorithm, gram hashing included — md5 prefixes are
    // engine-portable, so even hash collisions collide identically
    "pp05_decontaminate" -> """
      WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
           g AS (
        SELECT doc_id,
               substring(md5(array_to_string(toks[i:i+3], ' ')), 1, 16) AS h
        FROM t, UNNEST(range(1, len(toks) - 2)) AS u(i)),
           bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 50 = 0),
           train AS (SELECT DISTINCT doc_id, h FROM g WHERE doc_id % 50 <> 0),
           hits AS (
        SELECT doc_id, COUNT(*) AS hits FROM train JOIN bench USING (h)
        GROUP BY doc_id)
      SELECT d.doc_id, d.source,
             CAST(COALESCE(hits, 0) AS BIGINT) AS n_shared,
             CAST(COALESCE(hits, 0) > 0 AS INT) AS contaminated
      FROM (SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0) d
      LEFT JOIN hits USING (doc_id)""",

    // dd16's coverage CTE (independent position-explode algorithm) →
    // integer gate → pp07's chunk arithmetic → rollup
    "pp08_span_clean_chunks" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           w AS (SELECT doc_id, i AS p,
                        substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 16) AS h
                 FROM t, UNNEST(range(1, LEN(toks) - 6)) AS u(i)),
           c AS (SELECT h, COUNT(*) AS cnt FROM w GROUP BY h),
           dup AS (SELECT w.doc_id, w.p FROM w JOIN c USING (h) WHERE c.cnt >= 2),
           cov AS (SELECT doc_id, COUNT(DISTINCT pos) AS covered
                   FROM dup, UNNEST(range(p, p + 8)) AS v(pos)
                   GROUP BY doc_id),
           keep AS (SELECT t.doc_id FROM t LEFT JOIN cov USING (doc_id)
                    WHERE COALESCE(cov.covered, 0) * 2 <= LEN(t.toks)),
           k AS (SELECT d.doc_id, d.source, string_split(d.text, ' ') AS toks
                 FROM documents d JOIN keep USING (doc_id)),
           ch AS (SELECT doc_id, source, toks, LEN(toks) AS n,
                         UNNEST(range(0, 1 + CASE WHEN LEN(toks) > 64
                                                  THEN (LEN(toks) - 64 + 47) // 48
                                                  ELSE 0 END)) AS j
                  FROM k),
           m AS (SELECT doc_id, source,
                        LEAST(64, n - j * 48) AS chunk_tokens,
                        substring(md5(array_to_string(toks[j*48 + 1 : j*48 + 64], ' ')),
                                  1, 16) AS chunk_fp
                 FROM ch)
      SELECT source,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             COUNT(*) AS n_chunks,
             CAST(SUM(chunk_tokens) AS BIGINT) AS sum_chunk_tokens,
             CAST(COUNT(DISTINCT chunk_fp) AS BIGINT) AS n_unique_chunks
      FROM m GROUP BY source""",

    // identical integer arithmetic and identical md5-prefix chunk hash —
    // the chunk boundaries and fingerprints must agree byte-for-byte
    "pp07_chunk_overlap" -> """
      WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
           c AS (
        SELECT doc_id, source, toks, LEN(toks) AS n,
               UNNEST(range(0, 1 + CASE WHEN LEN(toks) > 64
                                        THEN (LEN(toks) - 64 + 47) // 48
                                        ELSE 0 END)) AS j
        FROM t)
      SELECT doc_id, source,
             CAST(j AS BIGINT) AS chunk_id,
             CAST(j * 48 + 1 AS BIGINT) AS start_tok,
             CAST(LEAST(64, n - j * 48) AS BIGINT) AS chunk_tokens,
             substring(md5(array_to_string(toks[j*48 + 1 : j*48 + 64], ' ')), 1, 16)
               AS chunk_fp
      FROM c""",

    // the NAIVE per-source quality-ordered running sum — proving the
    // Spark side's range-bucketed two-level scan selects identically
    // (ROWS frame is explicit, but doc_id makes the order key unique,
    // so RANGE peers are single rows anyway)
    "pp09_token_budget_select" -> s"""
      WITH t AS (
        SELECT doc_id, source,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ${qualitySql("text")} AS quality
        FROM documents),
           c AS (
        SELECT doc_id, source, quality, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source
                      ORDER BY quality DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT doc_id, source, quality, n_tokens, cum_tokens,
             CAST(cum_tokens <= 640 AS INT) AS kept
      FROM c""",

    // identical-algorithm oracle: DuckDB's list lambdas mirror the
    // transform()/filter() scrub, md5 over the same re-joined bytes
    "pp10_denylist_scrub" -> scrubSql,

    // the streaming scrub is stateless, so its converged output is the
    // batch scrub's rows exactly — SAME oracle, shared string
    "pp11_stream_scrub" -> scrubSql,

    // the NAIVE per-shard ROW_NUMBER — proving the prefix-scan rank
    // decomposition ordinal-for-ordinal (md5 hex strings compare
    // identically in both engines; ascii() of the first nibble too)
    "pp12_shard_order" -> """
      WITH t AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
           s AS (
        SELECT doc_id, h,
               CAST(ascii(substring(h, 1, 1)) % 8 AS INT) AS shard
        FROM t)
      SELECT doc_id, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY shard
                    ORDER BY h, doc_id) AS BIGINT) AS shard_pos
      FROM s""",

    // the NAIVE per-domain ROW_NUMBER + lateral series expansion.
    // Float determinism across engines: COUNT cast to DOUBLE, one IEEE
    // division, one correctly-rounded sqrt, LEAST/GREATEST/FLOOR — no
    // rounding-mode-sensitive ops (the ss10 ROUND lesson)
    "pp13_source_upsample" -> """
      WITH d AS (
        SELECT doc_id, source,
               'd' || CAST(CAST(FLOOR(sqrt(CAST(substring(source, 4)
                 AS INT))) AS BIGINT) AS VARCHAR) AS domain
        FROM documents),
           cnt AS (
        SELECT domain, CAST(COUNT(*) AS DOUBLE) AS n
        FROM d GROUP BY domain),
           mx AS (SELECT MAX(n) AS mn FROM cnt),
           m AS (
        SELECT domain,
               CAST(FLOOR(LEAST(4.0, GREATEST(1.0, sqrt(mn / n)))) AS BIGINT)
                 AS base,
               CAST(FLOOR((LEAST(4.0, GREATEST(1.0, sqrt(mn / n)))
                 - FLOOR(LEAST(4.0, GREATEST(1.0, sqrt(mn / n))))) * n)
                 AS BIGINT) AS extra_k
        FROM cnt, mx),
           r AS (
        SELECT doc_id, source, domain,
               ROW_NUMBER() OVER (PARTITION BY domain
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM d),
           c AS (
        SELECT r.doc_id, r.source, r.domain,
               m.base + CASE WHEN r.rk <= m.extra_k THEN 1 ELSE 0 END
                 AS n_copies
        FROM r JOIN m USING (domain))
      SELECT doc_id, source, domain, CAST(n_copies AS BIGINT) AS n_copies,
             CAST(unnest(generate_series(1, n_copies)) AS BIGINT)
               AS epoch_copy
      FROM c""",

    // the IDENTICAL feature hashing (3-hex-char md5-prefix buckets — the
    // engine-portable bucket KEY), exact-integer smoothed masses, and the
    // same two-IEEE-division score; threshold via the naive descending
    // window the Spark side's groupPrefixScan decomposes
    "pp14_dsir_select" -> """
      WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks
        FROM documents),
           g AS (
        SELECT doc_id, source,
               substring(md5(toks[i] || ' ' || toks[i + 1]), 1, 3) AS b
        FROM t, UNNEST(range(1, LEN(toks))) AS u(i)),
           rc AS (SELECT b, COUNT(*) AS rc FROM g GROUP BY b),
           tc0 AS (
        SELECT b, COUNT(*) AS tc FROM g
        WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY b),
           w AS (
        SELECT rc.b, COALESCE(tc, 0) AS tc, rc
        FROM rc LEFT JOIN tc0 USING (b)),
           tot AS (
        SELECT CAST(SUM(tc) AS BIGINT) AS tt, CAST(SUM(rc) AS BIGINT) AS rr
        FROM w),
           pd AS (
        SELECT doc_id, COUNT(*) AS n_grams,
               SUM(tc) + COUNT(*) AS s_t, SUM(rc) + COUNT(*) AS s_r
        FROM g JOIN w USING (b) GROUP BY doc_id),
           sc AS (
        SELECT d.doc_id, d.source,
               CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(s_t, 0) AS BIGINT) AS s_t,
               CAST(COALESCE(s_r, 0) AS BIGINT) AS s_r,
               CAST(COALESCE(s_t, 0) AS DOUBLE) / CAST(tt + 4096 AS DOUBLE)
                 - CAST(COALESCE(s_r, 0) AS DOUBLE) / CAST(rr + 4096 AS DOUBLE)
                 AS score
        FROM (SELECT doc_id, source FROM documents) d
        LEFT JOIN pd USING (doc_id), tot),
           h AS (SELECT score, COUNT(*) AS cnt FROM sc GROUP BY score),
           c AS (
        SELECT score, cnt,
               SUM(cnt) OVER (ORDER BY score DESC
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM h),
           thr AS (
        SELECT MIN(score) AS thr
        FROM c, (SELECT COUNT(*) AS n FROM sc) nn
        WHERE cum - cnt < (n + 3) // 4)
      SELECT doc_id, source, n_grams, s_t, s_r, score,
             CAST(score >= thr AS INT) AS selected
      FROM sc, thr""",

    "pp06_mixture_sample" -> """
      WITH t AS (
        SELECT source, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               substring(md5(text), 1, 4) AS hk,
               CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
                    THEN 'e666' ELSE '6666' END AS thr
        FROM documents),
           k AS (SELECT * FROM t WHERE hk < thr)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
             ROUND(CAST(SUM(n_tokens) AS DOUBLE)
                   / SUM(SUM(n_tokens)) OVER (), 6) AS mix_share
      FROM k GROUP BY source""",

    "pp02_stream_clean_corpus" -> s"""
      WITH dd AS (
        SELECT source, text,
               ROW_NUMBER() OVER (PARTITION BY source, md5(TRIM(LOWER(text)))
                                  ORDER BY doc_id) AS keep_rk
        FROM documents),
           q AS (
        SELECT source, LENGTH(TRIM(LOWER(text))) AS content_chars,
               ${qualitySql("TRIM(LOWER(text))")} AS quality
        FROM dd WHERE keep_rk = 1)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(content_chars) AS BIGINT) AS sum_content_chars,
             CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS avg_quality
      FROM q WHERE quality >= 0.5
      GROUP BY source""",

    // dd09's component CTE (ONE shared definition — Dedup) → keeper
    // filter (doc = component min) → pp01's quality gate + rollup
    "pp03_neardup_clean_corpus" -> s"""${Dedup.ComponentOracleCte},
      keep AS (
        SELECT m.doc_id FROM m JOIN comp USING (rep_id)
        WHERE m.doc_id = comp.comp_id),
      q AS (
        SELECT d.source, d.n_chars,
               ${qualitySql("text")} AS quality
        FROM documents d JOIN keep USING (doc_id))
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS avg_quality
      FROM q WHERE quality >= 0.5
      GROUP BY source""",

    "pp01_clean_corpus" -> s"""
      WITH dd AS (
        SELECT doc_id, source, text, n_chars,
               ROW_NUMBER() OVER (PARTITION BY md5(TRIM(LOWER(text)))
                                  ORDER BY doc_id) AS keep_rk
        FROM documents),
           q AS (
        SELECT doc_id, source, text, n_chars,
               ${qualitySql("text")} AS quality
        FROM dd WHERE keep_rk = 1),
           g AS (SELECT * FROM q WHERE quality >= 0.5),
           r AS (
        SELECT n_chars, quality,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text)) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM g),
           sp AS (
        SELECT n_chars, quality,
               CASE WHEN CAST(rk - 1 AS DOUBLE) / cnt < 0.8 THEN 'train'
                    WHEN CAST(rk - 1 AS DOUBLE) / cnt < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM r)
      SELECT split, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS avg_quality
      FROM sp
      GROUP BY split"""
  )
}
