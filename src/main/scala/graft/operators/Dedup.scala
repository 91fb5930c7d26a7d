package graft.operators

import graft.Tables
import graft.functions.TextOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` fixture — the LLM-pipeline
  * north-star ops (SURVEY.md §2.3).
  *
  * Scale design: exact dedup and the LSH family are pure hash-partition /
  * equi-join pipelines that scale linearly; the exact pairwise-Jaccard op
  * is intentionally bounded (`doc_id < 500`) and exists as the verifiable
  * ground truth that the LSH candidates are spec-checked against.
  */
object Dedup {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** Expand verified rep-level pairs back to doc-level pairs: docs sharing
    * a token-set group are exact dups of each other (jac = 1) and of
    * everything their representative matched (pure integer joins — the
    * wide set arrays never ride through the expansion). */
  private def expandRepPairs(groups: DataFrame, repPairs: DataFrame): DataFrame = {
    val membership = groups.select(col("rep_id"), explode(col("members")).as("doc_id"))
    val withinGroup = membership.select(col("rep_id"), col("doc_id").as("a_id"))
      .join(membership.select(col("rep_id"), col("doc_id").as("b_id")), "rep_id")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("jac"))
    val crossGroup = repPairs
      .join(membership.select(col("rep_id").as("ra"), col("doc_id").as("x")), "ra")
      .join(membership.select(col("rep_id").as("rb"), col("doc_id").as("y")), "rb")
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col("jac"))
    withinGroup.unionAll(crossGroup)
  }

  /** dd07's blocking+verify pipeline up to the REP level: returns the
    * persisted exact-dup group table and the verified rep-level pair set
    * (dd07 expands them to doc pairs; dd09 runs connected components on
    * the rep graph — identical components, ~100× fewer nodes). */
  private[graft] def prefixRepPairs(s: SparkSession, d: String): (DataFrame, DataFrame) =
    prefixRepPairsOf(docs(s, d))

  /** [[prefixRepPairs]] on an arbitrary (doc_id, text) corpus — factored
    * so the skew stress spec can push a planted duplicate bomb through
    * the SHIPPED pipeline rather than a reimplementation. */
  private[graft] def prefixRepPairsOf(docsDf: DataFrame): (DataFrame, DataFrame) = {
    val w = docsDf.select(col("doc_id"), tokenSetHashes(tokens(col("text"))).as("th"))
    val groups = w.groupBy(col("th"))
      .agg(min(col("doc_id")).as("rep_id"), collect_list(col("doc_id")).as("members"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = groups.select(col("rep_id"), col("th"), size(col("th")).as("n"))
    // document frequency over the distinct-set space (each set counts
    // once — duplicate docs must not inflate their tokens' frequency)
    val tokDf = reps.select(explode(col("th")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // prefix length n - ceil(0.9n) + 1; 9n/10 exact in IEEE when integral
    val pref = reps
      .select(col("rep_id"), col("th"), col("n"), explode(col("th")).as("tok"))
      // deliberately UNHINTED (tx10's discipline): the df dictionary is
      // vocabulary-sized — AQE broadcasts it when it measures small, and
      // falls back to a token-keyed shuffle join when a 100 TB corpus's
      // billion-token vocabulary doesn't fit. A hard broadcast() hint
      // would attempt the broadcast regardless of measured size and fail
      // at the 8 GB cap (VERDICT r4 item 1).
      .join(tokDf, "tok")
      .groupBy(col("rep_id"), col("th"), col("n"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("tok")))),
        st => st.getField("tok")).as("otoks"))
      .withColumn("plen",
        (col("n") - ceil(col("n") * lit(9.0) / lit(10.0)) + lit(1)).cast("int"))
      .select(col("rep_id"), col("th"), col("n"),
        explode(slice(col("otoks"), lit(1), col("plen"))).as("ptok"))
    val repPairs = pref
      .select(col("ptok"), col("rep_id").as("ra"), col("th").as("a_th"), col("n").as("na"))
      .join(pref.select(col("ptok"), col("rep_id").as("rb"),
        col("th").as("b_th"), col("n").as("nb")), Seq("ptok"))
      .filter(col("ra") < col("rb") &&
        col("na") * lit(9) <= col("nb") * lit(10) &&
        col("nb") * lit(9) <= col("na") * lit(10))
      .select(col("ra"), col("rb"),
        jaccardLong(col("a_th"), col("b_th")).as("jac"))
      .filter(col("jac") >= 0.9)
      .distinct() // a pair can share several prefix tokens
      // the VERIFIED pair set feeds both dd07's doc-pair expansion and
      // dd09's components:
      // persist it like the group table — the CacheManager's plan matching
      // then shares one materialization across the ops in a session, and a
      // production dedup pipeline would checkpoint this table regardless
      // (it is the expensive join's output and is ~|near-dup pairs| small)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (groups, repPairs)
  }

  private def prefixJoinPairs(s: SparkSession, d: String): DataFrame = {
    val (groups, repPairs) = prefixRepPairs(s, d)
    expandRepPairs(groups, repPairs)
  }

  /** dd08/dd13 shared kernel: multi-probe random-hyperplane LSH near-dup
    * pairs over a (vec_id, v) corpus. Candidate pairs meet through an
    * equi-join of a radius-1 probe side (each table's bucket plus every
    * 1-bit flip) against a radius-0 index side — ids only — and exact
    * cosine verifies INSIDE the join's output pipeline before anything
    * shuffles (dd04's verify-early discipline). */
  /** Pre-verify LSH candidate pair stream (ids only, NOT deduped) on a
    * (vec_id, v) corpus — the blocking stage, factored so NorthStarSpec's
    * volume/recall measurements run the SHIPPED blocking rather than a
    * re-implementation that could silently diverge from it. */
  private[graft] def lshCandidatePairs(e: DataFrame,
      tables: Int, bits: Int): DataFrame = {
    import graft.functions.VectorOps
    val index = e.select(col("vec_id").as("b_id"),
      explode(VectorOps.rpLshTables(col("v"), tables, bits)).as("tbk"))
    val probe = e.select(col("vec_id").as("a_id"),
      explode(VectorOps.rpLshProbes(col("v"), tables, bits)).as("tbk"))
    probe.join(index, Seq("tbk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
  }

  private def embeddingLshPairs(s: SparkSession, e0: DataFrame,
      tables: Int, bits: Int, thr: Double): DataFrame = {
    import graft.functions.VectorOps
    // signatures cost tables·bits·dim mults per row — spread rows across
    // the cluster BEFORE the kernel (a small fixture arrives as one
    // parquet split = one task otherwise; explicit numPartitions keeps
    // AQE from coalescing the tiny exchange back to a single partition)
    val e = e0.repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    // verify BEFORE the distinct: vectors join on ids (broadcast-size
    // here, hash joins at scale), exact cosine decimates the candidate
    // stream inside codegen, and only verified pairs (×collision
    // multiplicity — bounded by `tables`) reach the distinct
    lshCandidatePairs(e, tables, bits)
      .join(e.select(col("vec_id").as("a_id"), col("v").as("a_v")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("v").as("b_v")), "b_id")
      .select(col("a_id"), col("b_id"),
        VectorOps.cosineD(col("a_v"), col("b_v")).as("cos"))
      .filter(col("cos") >= thr)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_r"))
      .distinct()
  }

  private[graft] val IngestSplitId = 50L  // doc_id < 50 = arriving stream
  // dd04's tuned MinHash blocking (band sweep below) — shared with dd14
  private val MhPerms = 160; private val MhBands = 20
  private val MhRows = MhPerms / MhBands
  private val PbMod = 16
  // dd13's planting shape — shared between plantedCorpus, its oracle
  // SQL, and the NorthStarSpec assertions
  private[graft] val PlantOffset = 1000000L
  private[graft] val PlantAmplitude = 80.0

  /** dd14's per-batch gate: band-probe everything SEEN so far — the
    * materialized index (corpus + earlier batches' appended rows,
    * partition-pruned to the batch's packed band/bucket keys) plus the
    * batch's own earlier-id rows — verify with exact Jaccard, and emit
    * one ingest decision per arriving doc. FIRST OCCURRENCE WINS: a doc
    * is a dup iff it matches the corpus or ANY earlier-id arrival
    * (`c_id >= IngestSplitId || c_id < a_id` — corpus ids sit above the
    * split, so the predicate reads "corpus, or an arrival seen before
    * me"), which keeps decisions deterministic and run-idempotent even
    * though the index accretes appended rows across runs. Factored from
    * the foreachBatch body so the pruning claim is plan-spec testable. */
  private[graft] def ingestGate(s: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame = {
    // eager localCheckpoint: the 160-permutation signatures are the
    // dominant per-batch compute and feed the probe-key collect, the
    // index join, AND the intra-batch side — without it the pipeline
    // runs three times per batch (blocks reclaimed by the ContextCleaner)
    val probes = bandRows(batch)
      .select(col("c_id").as("a_id"), col("th").as("a_th"),
        col("band"), col("bucket"))
      .localCheckpoint()
    val pbKeys = probes
      .select((col("band") * PbMod + pmod(col("bucket"), lit(PbMod))).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).sorted
    val index = s.read.parquet(indexDir)
      .filter(col("pb").isin(pbKeys.toIndexedSeq.map(Int.box): _*))
      .select(col("band"), col("bucket"), col("c_id"), col("th"))
    // the batch's own rows ARE the freshest slice of "seen": an arrival
    // must also dedup against earlier ids of its own micro-batch
    val seen = index.unionAll(probes.select(col("band"), col("bucket"),
      col("a_id").as("c_id"), col("a_th").as("th")))
    val matches = probes.join(seen, Seq("band", "bucket"))
      .filter(col("c_id") >= lit(IngestSplitId) || col("c_id") < col("a_id"))
      .select(col("a_id"), col("c_id"),
        jaccardLong(col("a_th"), col("th")).as("jac"))
      .filter(col("jac") >= 0.9)
      .distinct()
    batch.select(col("doc_id"))
      .join(matches.withColumnRenamed("a_id", "doc_id"), Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("c_id")).as("n_dups"),
        when(count(col("c_id")) > 0, 1L).otherwise(0L).as("is_dup"),
        round(coalesce(max(col("jac")), lit(0.0)), 6).as("best_jac"))
  }

  /** (doc_id, text) → the MinHash band rows the dd14 index stores:
    * (c_id, th, band, bucket, pb). One definition for the corpus build,
    * the per-batch append, and (renamed) the probe side. */
  private def bandRows(src: DataFrame): DataFrame =
    src.select(col("doc_id").as("c_id"), tokenSetHashes(tokens(col("text"))).as("th"))
      .withColumn("sig", minhashFromHashes(col("th"), MhPerms))
      .select(col("c_id"), col("th"),
        explode(minhashBands(col("sig"), MhBands, MhRows)).as("bk"))
      .select(col("c_id"), col("th"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      .withColumn("pb", (col("band") * PbMod + pmod(col("bucket"), lit(PbMod))).cast("int"))

  /** dd14's index: the corpus MinHash band table materialized ONCE per
    * documents content, partitioned by a packed (band, bucket mod 16) key
    * — 320 directories, so an arriving batch's probe reads touch only its
    * bands' buckets (ss08's index discipline, applied to dedup). The key
    * covers `documents`, not the index's own files, so the arrivals
    * [[appendArrivalsOnce]] adds never trigger a rebuild. */
  private[graft] def minhashIndexDir(s: SparkSession, d: String): String =
    Materialized.dir(s, "dd14-index", Tables.path(d, "documents")) { dir =>
      bandRows(docs(s, d).filter(col("doc_id") >= IngestSplitId))
        .write.partitionBy("pb").mode("overwrite").parquet(dir)
    }

  /** Append `batch`'s band rows to the dd14 index EXACTLY ONCE per
    * micro-batch identity: foreachBatch is at-least-once (a replayed
    * batch re-invokes the body with the same id), and repeated dd14 runs
    * in one JVM re-stream the same arrivals against the same memoized
    * index dir — without the marker both would re-append the rows,
    * growing the artifact and its small-file count linearly per run
    * (ADVICE r5). The underscore-prefixed marker is invisible to the
    * parquet reader's file index. Marker-after-append ordering means a
    * crash between the two can still leave one duplicate append (the
    * standard non-transactional commit window); decisions stay correct
    * either way because the gate's first-occurrence predicate tolerates
    * duplicate index rows — the marker bounds growth, the predicate
    * guards correctness. */
  private def appendArrivalsOnce(s: SparkSession, dir: String,
      batch: DataFrame, batchId: Long): Unit = {
    // batchId < 0 is the drain harness's schema-derivation sentinel
    // (all-empty source): planning only — never write or mark
    if (batchId < 0) return
    // marker I/O speaks the Hadoop FileSystem of the index dir (local
    // path, file://, or an object store all resolve the same way), like
    // compactIndex below
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, s"_arrivals_$batchId")
    if (!fs.exists(marker)) {
      bandRows(batch).write.mode("append").partitionBy("pb").parquet(dir)
      fs.createNewFile(marker)
    }
  }

  /** Index COMPACTION — the lifecycle pass a long-running ingest stream
    * needs (VERDICT r5 item 3): every appended micro-batch adds one small
    * parquet file per touched `pb=` partition, so an unbounded stream
    * grows the file listing (and the probe-side scan's open-file count)
    * linearly with batch count. Rewrites any partition whose data-file
    * count exceeds `maxFiles` down to a single file; read-equivalence is
    * exact (same rows, same schema — spec-proven in SketchAndPlanSpec).
    * Swap order is MOVE-IN-THEN-DELETE: a crash between the two leaves
    * the partition with old + fresh files — duplicate rows, which the
    * gate's first-occurrence predicate and `distinct` already tolerate —
    * whereas delete-first would lose the partition's rows for good (the
    * `_arrivals_` markers suppress the re-append that once made reruns
    * self-healing, so deletion must never precede the replacement).
    * Compaction runs inside the ingest loop between batches, so the only
    * reader of the index is the gate of a later batch. The listing/swap
    * speaks the Hadoop `FileSystem` of the index path (VERDICT r6 item
    * 3): a local dir, a `file://` URI, and an object store all resolve
    * through the same API, so the identical code commits via the store's
    * protocol. The partition granularity is what makes it cheap: one
    * partition's worth of I/O per rewrite, never a full-index pass.
    * Returns the number of partitions rewritten. */
  private[graft] def compactIndex(s: SparkSession, dir: String,
      maxFiles: Int = 8): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("pb="))
    var rewritten = 0
    for (p <- parts) {
      val dataFiles = fs.listStatus(p.getPath).filter(st =>
        st.isFile && st.getPath.getName.startsWith("part-"))
      if (dataFiles.length > maxFiles) {
        // stage INSIDE the index dir (ADVICE r6): the staged files are on
        // the same filesystem as their destination, so the per-file move
        // below is an atomic rename — a java.io.tmpdir staging dir could
        // sit on a different FS, degrading the move to copy+delete and
        // widening the documented crash window. The dot prefix hides the
        // staging dir from the parquet reader's file index.
        val staged = new Path(root,
          s".compact-${p.getPath.getName}-${java.util.UUID.randomUUID}")
        try {
          // the partition dir read yields the schema sans the pb column —
          // exactly what partitionBy wrote, so the swapped files are
          // layout-identical to the originals
          s.read.parquet(p.getPath.toString).coalesce(1)
            .write.mode("overwrite").parquet(staged.toString)
          val fresh = fs.listStatus(staged).filter(st =>
            st.isFile && st.getPath.getName.startsWith("part-"))
          // fresh part- names are write-unique UUIDs: no collision with
          // the files being replaced. FileSystem.rename moves a checksum
          // sidecar with its file (ChecksumFileSystem), so compacted
          // files keep their local-FS CRCs (ADVICE r6); a failed rename
          // must abort BEFORE any original is deleted — losing the fresh
          // file after the deletes would lose the partition's rows.
          fresh.foreach { f =>
            val dest = new Path(p.getPath, f.getPath.getName)
            require(fs.rename(f.getPath, dest), s"rename ${f.getPath} -> $dest failed")
          }
          dataFiles.foreach(f => fs.delete(f.getPath, false))
          rewritten += 1
        } finally {
          fs.delete(staged, true)
        }
      }
    }
    rewritten
  }

  /** Path of the materialized (doc_id, rep_id, comp_id, n_members)
    * cluster table for fixture `d`, built once per documents content
    * (build once, consume many — ss08's index discipline): pp03 and a
    * production prep pipeline join the checkpointed dedup artifact; they
    * do not re-run connected components per consuming job. */
  private[operators] def clusterTableDir(s: SparkSession, d: String): String =
    Materialized.dir(s, "dd12-clusters", Tables.path(d, "documents")) { dir =>
      clusterTableOf(docs(s, d))
        .write.mode("overwrite").parquet(dir)
    }

  /** dd13's derived corpus: the fixture embeddings plus one deterministic
    * near-duplicate twin per vector (id + 1e6). The fixtures contain NO
    * high-cosine pairs (measured max 0.60 at every sf), so the
    * production-threshold tier is exercised on planted ground truth the
    * oracle can reproduce: v'ᵢ = vᵢ + ‖v‖/amplitude · tᵢ with the
    * integer pattern tᵢ = ((vec_id·37 + i·101) mod 5) − 2 (i 1-based) —
    * pure IEEE ops, identical in DuckDB's list_transform. The default
    * amplitude 80 (the dd13 query's) lands twins at cos ≈ 0.990 while
    * every cross pair stays below 0.52; NorthStarSpec plants a harder
    * amplitude-32 (cos ≈ 0.94) set for its recall bound. */
  private[graft] def plantedCorpus(s: SparkSession, d: String,
      amplitude: Double = PlantAmplitude): DataFrame = {
    import graft.functions.VectorOps
    val e = Tables.load(s, d, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
    val nrm = VectorOps.norm(col("v"))
    val planted = e.select((col("vec_id") + lit(PlantOffset)).as("vec_id"),
      transform(col("v"), (x, i) => x + nrm / lit(amplitude) *
        (((col("vec_id") * 37 + (i + lit(1)) * 101) % 5) - lit(2)).cast("double"))
        .as("v"))
    e.unionAll(planted)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by content fingerprint, keep the smallest doc_id.
    // At 100 TB this is a single hash shuffle on the fingerprint.
    "dd01_exact_dedup" -> ((s, d) => {
      docs(s, d)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("n_copies"),
          max(col("n_chars")).as("max_chars"))
    }),

    // Canonicalization dedup: documents collapse when their SORTED DISTINCT
    // token set matches — the normalization tier between byte-exact dd01
    // and probabilistic MinHash (catches reorderings / repetition-only
    // edits that byte hashing misses, with none of LSH's false negatives).
    // The canonical form is hashed to a fixed-width key map-side, so at
    // 100 TB this is exactly dd01's shape: one narrow projection + one
    // hash shuffle on a 16-byte key. 500 docs → 446 classes on the
    // fixtures (54 reordered near-copies collapse).
    "dd11_tokenset_dedup" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          canonFingerprint(col("text")).as("canon_fp"),
          size(tokenSet(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("canon_fp"), col("n_tokens"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("n_docs"))
    }),

    // Dedup summary per source: how much would exact dedup remove?
    "dd02_dedup_stats" -> ((s, d) => {
      docs(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(fingerprint(col("text"))).as("n_unique"),
          (count(lit(1)) - countDistinct(fingerprint(col("text")))).as("n_dup_docs"))
    }),

    // Ground-truth near-dup pairs: exact word-set Jaccard >= 0.9 on a
    // bounded subset (self-join stays O(500²) at every scale factor).
    "dd03_jaccard_pairs" -> ((s, d) => {
      val w = docs(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), tokenSet(col("text")).as("ws"))
      val a = w.select(col("doc_id").as("a_id"), col("ws").as("a_ws"))
      val b = w.select(col("doc_id").as("b_id"), col("ws").as("b_ws"))
      a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          jaccard(col("a_ws"), col("b_ws")).as("jac"))
        .filter(col("jac") >= 0.9)
    }),

    // MinHash + LSH near-dup detection — the scale path. Signatures and
    // band keys are per-row narrow work; candidates meet via equi-join on
    // (band, bucket); verification re-checks exact Jaccard so false
    // positives drop out. Runs on the FULL table.
    //
    // Tuning (measured on the fixtures by a since-deleted band sweep;
    // source at commit 6eeefdb): the corpus has ~100× more pairs at jac
    // 0.5-0.9 than above the 0.9 threshold, so
    // 4-row bands (collision P=jac⁴) drown verification in candidates;
    // 8-row bands cut jac=0.5 collisions 16× while 20 bands keep per-pair
    // recall ≥ 1-1.3e-5 at jac=0.9 (<1 expected miss on the fixtures' 17k
    // threshold-edge pairs) at ~half the candidate volume. All set
    // arithmetic runs on hashed token sets (sorted array<long>) — strings
    // are hashed exactly once per doc.
    "dd04_minhash_lsh_pairs" -> ((s, d) => {
      // ONE config with dd14's ingest gate: its oracle validity rests on
      // THIS blocking's measured recall 1, so the two sites must never
      // drift apart (the LshTables/LshBits discipline)
      val perms = MhPerms
      val bands = MhBands
      val rows = MhRows
      // 1. collapse docs with IDENTICAL token sets to one representative —
      //    near-dup corpora are dominated by exact-set duplicate groups,
      //    and Jaccard only depends on the set. LSH then runs on the
      //    (much smaller) distinct-set space; duplicate-group pairs are
      //    recovered at the end by pure integer joins. The rep-level table
      //    is the pipeline's working set (used 4×: both band-join sides +
      //    both verify joins) — persist it, as a production dedup job
      //    would (MEMORY_AND_DISK: spills, never recomputes, at any sf).
      //    Lifecycle: the cache entry lives until session stop (dedup'd
      //    across calls by the CacheManager's plan matching, so repeated
      //    runs reuse rather than accumulate); a library consumer running
      //    this inside a long-lived session should unpersist the returned
      //    plan's InMemoryRelation after its terminal action — same as
      //    dd07 below.
      val w = docs(s, d).select(col("doc_id"), tokenSetHashes(tokens(col("text"))).as("th"))
      val groups = w.groupBy(col("th"))
        .agg(min(col("doc_id")).as("rep_id"), collect_list(col("doc_id")).as("members"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val reps = groups.select(col("rep_id"), col("th"))
        .withColumn("sig", minhashFromHashes(col("th"), perms))
      // 2. hashed sets ride through the band join and are verified INLINE,
      //    inside the join's output pipeline (whole-stage codegen, no
      //    materialization): candidate pairs never hit a shuffle. The k²
      //    bucket blowup flows through one codegen stage and is immediately
      //    decimated by the jaccard filter; only verified pairs (×band
      //    multiplicity) reach the final distinct — a ~100× smaller shuffle
      //    than distinct-ing raw candidates first. Arrays in the join are
      //    `bands`× the corpus set bytes; at cluster scale that's the
      //    shuffle-volume trade against re-joining the rep table twice —
      //    the k² candidate term dominates both, so the same shape holds.
      val banded = reps.select(col("rep_id"), col("th"),
          explode(minhashBands(col("sig"), bands, rows)).as("bk"))
        .select(col("rep_id"), col("th"),
          col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      val repPairs = banded
        .select(col("band"), col("bucket"), col("rep_id").as("ra"), col("th").as("a_th"))
        .join(banded.select(col("band"), col("bucket"),
          col("rep_id").as("rb"), col("th").as("b_th")), Seq("band", "bucket"))
        .filter(col("ra") < col("rb"))
        .select(col("ra"), col("rb"),
          jaccardLong(col("a_th"), col("b_th")).as("jac"))
        .filter(col("jac") >= 0.9)
        .distinct() // same pair collides in several bands; tiny post-verify
      expandRepPairs(groups, repPairs)
    }),

    // Exact similarity self-join via PREFIX FILTERING (AllPairs/PPJoin
    // family): for any global token order, two sets with jac >= t must
    // share a token within each one's first |X| - ceil(t*|X|) + 1 tokens —
    // so blocking on prefix tokens is LOSSLESS (recall exactly 1, unlike
    // LSH) and still prunes the pair space to candidates sharing a rare
    // prefix element. Tokens are ordered by ASCENDING GLOBAL FREQUENCY
    // (the canonical AllPairs order): prefixes then hold each set's
    // rarest tokens, so blocking buckets are as small as the corpus
    // allows. Measured (since-deleted probe, source at commit 6eeefdb):
    // 29.2k candidates at sf0.01 vs 29.4k under hash order (2.074M vs
    // 2.087M at sf0.1) — a ~1% gain
    // here because the fixtures' vocabulary is near-uniform; on Zipfian
    // real-corpus vocabularies this ordering is the difference between
    // stop-word buckets of O(corpus) and rare-word buckets of O(1), which
    // is why it's the canonical order at 100 TB. The df dictionary join
    // is unhinted — AQE broadcasts it while it measures small and
    // shuffles on the token key once it doesn't. A size-ratio filter
    // prunes before verification. Same expansion as dd04; deterministic
    // output => full DuckDB oracle.
    "dd07_prefix_join" -> ((s, d) => prefixJoinPairs(s, d)),

    // SimHash near-dup: 64-bit signature, blocking on 16-bit chunks (a
    // pair within hamming distance 3 shares at least one of 4 chunks),
    // verified by exact hamming distance. The chunk blocking is LOSSLESS
    // (pigeonhole; NorthStarSpec asserts set-equality vs brute force), and
    // since r7 the signature's per-token bit source is md5 — shared bit-
    // for-bit with ANSI SQL engines — so the FULL algorithm (tokenize,
    // vote, pack, pair, hamming) mirrors into a hash-exact DuckDB oracle.
    "dd05_simhash_pairs" -> ((s, d) => {
      // pin the signature table (r15): the chunk self-join consumes it on
      // both sides, and the join keys derive from `sh`, so Catalyst's
      // null-filter inference pushed an isnotnull(simhash64(...)) BELOW
      // each side's projection — the per-token-md5 signature kernel ran
      // 2× per row per side, 4× per doc in the executed plan
      // (plans/r15/dd05_simhash_pairs_before.txt). The checkpoint is a
      // 16-byte/doc signature table — exactly what a production SimHash
      // pass materializes — and lazy, so the query still runs as one
      // action; both sides read the one materialization.
      val w = docs(s, d)
        .select(col("doc_id"), simhash(tokenSet(col("text"))).as("sh"))
        .localCheckpoint(false)
      val chunked = w.select(col("doc_id"), col("sh"),
          explode(sequence(lit(0), lit(3))).as("chunk"))
        .withColumn("chunk_val",
          call_function("shiftright", col("sh"), col("chunk") * 16)
            .bitwiseAND(lit(0xffffL)))
      val a = chunked.select(col("chunk"), col("chunk_val"),
        col("doc_id").as("a_id"), col("sh").as("a_sh"))
      val b = chunked.select(col("chunk"), col("chunk_val"),
        col("doc_id").as("b_id"), col("sh").as("b_sh"))
      a.join(b, Seq("chunk", "chunk_val"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh")).distinct()
        .select(col("a_id"), col("b_id"),
          hamming64(col("a_sh"), col("b_sh")).as("hamming"))
        .filter(col("hamming") <= 3)
    }),

    // Embedding near-dup at SCALE: multi-probe random-hyperplane LSH.
    // Candidate pairs meet through an equi-join of a radius-1 probe side
    // (each table's bucket plus every 1-bit flip) against a radius-0 index
    // side — ids only — so a pair is a candidate iff some table's sign
    // signatures differ in ≤ 1 bit; exact cosine then verifies. The vector
    // analogue of dd04: the full cross product never materializes; recall
    // AND candidate volume vs the exact ground truth are asserted in
    // NorthStarSpec. No SQL oracle (hyperplane hashes aren't expressible
    // in DuckDB); driver records a rows-only check.
    //
    // Tuning (measured at sf0.1 by a since-deleted sweep; source at commit
    // 6eeefdb): true pairs hug the 0.4 threshold (906/920 in cos
    // [0.4, 0.5)), where per-hyperplane sign
    // agreement is p ≈ 0.63 vs 0.5 for random pairs — each added bit cuts
    // candidates by only (0.5/0.63) ≈ 0.79× at fixed recall, so sub-1%
    // candidate volume is out of reach at this threshold (it IS reachable
    // at real near-dup thresholds ≥ 0.8, same machinery — see SCALE.md).
    // 160 tables × 15 bits, radius 1 measures recall 0.841 with 10.8% of
    // pairs as candidates, vs the round-2 config's 0.790 at 41.1%.
    "dd08_embedding_lsh_pairs" -> ((s, d) => {
      import graft.functions.VectorOps
      embeddingLshPairs(s,
        Tables.load(s, d, "embeddings")
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v")),
        tables = 160, bits = 15, thr = 0.4)
    }),

    // The PRODUCTION-threshold tier of dd08 (VERDICT r4 item 2): real
    // near-dup detection runs at cos ≥ 0.8, where per-hyperplane sign
    // agreement is high enough that 6 tables × 16 bits with radius-1
    // probing holds recall while the random-pair candidate volume
    // collapses below 1% of all pairs (NorthStarSpec measures both) —
    // the config whose candidate set stays LINEAR-ish at 100 TB, unlike
    // dd08's cos-0.4 stress demo where ~11% of pairs survive blocking.
    // Runs on the planted twin corpus (see plantedCorpus: the fixtures
    // have no pairs above cos 0.60) and is deterministic for the fixed
    // seed with measured recall 1 on every fixture — so the exact
    // all-pairs SQL is a valid oracle (dd04's justification).
    "dd13_embedding_prod_neardup" -> ((s, d) =>
      embeddingLshPairs(s, plantedCorpus(s, d), tables = 6, bits = 16,
        thr = 0.8)),

    // STREAMING NEAR-DUP INGEST — the continuous-ingestion half of the
    // dedup family (what ss08/ss09 are to ANN): arriving documents come
    // in as file-source micro-batches and each batch is gated against
    // the MATERIALIZED corpus MinHash band index inside foreachBatch —
    // probe keys derive from the batch's own band signatures, the index
    // read prunes to those partitions, exact Jaccard verifies, and the
    // emitted artifact is the per-document ingest DECISION (dup or not,
    // how many corpus matches, best similarity). dd04's blocking params
    // (160 perms, 20×8 bands — measured recall 1 on the fixtures, same
    // justification since signatures depend only on the token set), so
    // the exact stream-vs-corpus SQL is a valid oracle. At 100 TB the
    // index is the standing dedup state of the corpus; per-batch work is
    // |batch|·bands probe rows against pruned buckets — never a corpus
    // scan, never a pair list.
    "dd14_stream_neardup_ingest" -> ((s, d) => {
      val dir = minhashIndexDir(s, d)
      val arriving = docs(s, d).filter(col("doc_id") < IngestSplitId)
        .select(col("doc_id"), col("text"))
      val out = StreamingQueries.drainForeachBatchWithId(s, Seq(
        arriving.filter(col("doc_id") < 25),
        arriving.filter(col("doc_id") >= 25))) { (batch, batchId) =>
        // gate first (ingestGate's read.parquet froze this scan's file
        // list), then APPEND the batch's band rows so later batches
        // dedup against everything seen — the index accretes the stream;
        // the batchId marker makes the append exactly-once per batch
        // identity (replays and repeated runs skip it)
        val decided = ingestGate(s, dir, batch)
        appendArrivalsOnce(s, dir, batch, batchId)
        decided
      }
      // lifecycle: fold accreted per-batch files back down once a
      // partition's listing crosses the threshold — the ingest loop owns
      // the index, so between-batch compaction races no reader
      compactIndex(s, dir)
      out
    }),

    // Duplicate-cluster CONNECTED COMPONENTS: collapse the verified
    // near-dup pair set (dd07's lossless edges) into clusters and assign
    // every document its cluster id (min doc_id reachable; singletons map
    // to themselves) — the step an actual corpus dedup needs after pair
    // generation (keep one doc per cluster, not one per pair). Components
    // come from [[starComponents]] on the rep graph: the label table never
    // leaves the cluster, and the round count is O(log n) whatever the
    // component diameter. Exact oracle: DuckDB recursive-CTE reachability.
    "dd09_dup_components" -> ((s, d) => repComponents(s, d)),

    // dd09's components under the name of the algorithm that computes
    // them (alternating large-star / small-star contraction, see
    // [[starComponents]]): the same body, so the same rows — the oracle
    // is dd09's recursive-CTE reachability, verbatim.
    "dd15_cc_star" -> ((s, d) => repComponents(s, d)),

    // The TERMINAL dedup artifact (VERDICT r4 item 3, closing SCALE.md's
    // "Known limits" caveat): the cluster/group TABLE, not the pair list.
    // dd04/dd07 emit all verified pairs, so a k-duplicate group costs
    // k²/2 output rows — quadratic in the worst skew (a boilerplate page
    // duplicated 10⁸ times). This query emits what a production dedup
    // job actually writes: one row per DOCUMENT carrying its exact-dup
    // representative (rep_id), its near-dup cluster id (comp_id), and the
    // cluster size — O(n) output at every scale, and exactly the table a
    // "keep one per cluster" filter or a dedup-ratio report consumes.
    // Shape on top of dd09's components: membership join + one window
    // count (see [[clusterTableOf]]). Exact DuckDB oracle (recursive-CTE
    // reachability + counts).
    //
    // SERVED from the materialized table ([[clusterTableDir]]): the
    // component loop is deterministic per documents content, and a
    // production consumer joins the CHECKPOINTED dedup artifact — it does
    // not re-run connected components per reading job. First use builds
    // (clusterTableOf, the full loop); every later read — pp03's input,
    // repeat bench passes — is a parquet scan. The select pins the
    // column order the oracle compare hashes.
    "dd12_dedup_clusters" -> ((s, d) =>
      s.read.parquet(clusterTableDir(s, d))
        .select(col("doc_id"), col("rep_id"), col("comp_id"), col("n_members"))),

    // SOFT DEDUP — duplicate-aware Bernoulli sampling: instead of dd12's
    // hard "keep the representative", keep each doc independently with
    // P = 1/cluster_size (one expected survivor per near-dup cluster,
    // any member equally likely), plus the 1/size weight column for the
    // reweight-don't-drop consumers (the SemDeDup/D4 line: duplicates
    // bias training mass, and either dropping OR down-weighting corrects
    // it). The coin is the doc's own content hash — u48 = first 48 md5
    // bits — so the sample is deterministic, reproducible, and
    // coordination-free: no per-cluster argmin, no extra shuffle beyond
    // the size join; embarrassingly parallel at 100 TB.
    //
    // The keep predicate is u48 <= (2^48-1) div n — INTEGER division,
    // never u48·n (which overflows long for clusters past 2^15 members —
    // duplicate bombs at corpus scale are exactly when this op matters).
    // Bias vs true 1/n is < n/2^48. Both engines compute the identical
    // integer threshold; the hex prefix parses exactly (conv /
    // '0x'::BIGINT — 12 hex chars < 2^53, the pp05 portability
    // argument). Singleton clusters keep everything: threshold = 2^48-1.
    "dd17_soft_dedup_sample" -> ((s, d) => {
      val ct = s.read.parquet(clusterTableDir(s, d))
      docs(s, d)
        .select(col("doc_id"), col("source"),
          conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
            .cast("long").as("u48"))
        .join(ct, "doc_id")
        .filter(col("u48") <= expr("281474976710655L div n_members"))
        .select(col("doc_id"), col("source"), col("comp_id"), col("n_members"),
          round(lit(1.0) / col("n_members"), 9).as("weight_r"))
    }),

    // Embedding near-dup: cosine similarity above threshold on a bounded
    // subset (ground truth for the ANN path in Similarity).
    "dd06_embedding_neardup" -> ((s, d) => {
      import graft.functions.VectorOps
      val e = Tables.load(s, d, "embeddings").filter(col("vec_id") < 500)
        .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
      a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          VectorOps.cosineD(col("a_v"), col("b_v")).as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_r"))
    }),

    // EXACT-SUBSTRING dedup coverage — the SPAN-level tier of the dedup
    // family (Lee et al. 2022's ExactSubstr: a training corpus is cleaned
    // of repeated *passages*, not just repeated documents — dd01/dd04
    // catch whole-doc copies, this catches the quoted paragraph inside an
    // otherwise novel doc). A k-token window (k=8 on the 10-99-token
    // fixtures; production uses ~50) is "duplicated" when its fingerprint
    // occurs >= 2 times across the whole corpus, within-doc repeats
    // included; a token position is duplicated when ANY window covering
    // it is. Emits the per-doc audit row a span-removal pass consumes:
    // window count, covered-token count, coverage ratio.
    //
    // Scale design: window fingerprints travel as 64-bit md5-prefix keys
    // (pp05's ids-only discipline) — one row per window occurrence, so
    // the wide work is one hash agg + one join on the gram key, both
    // linear in corpus tokens. The join is UNHINTED (tx10's discipline:
    // the gram dictionary is corpus-sized — AQE broadcasts it only while
    // small). Covered positions are NOT exploded k× per window: the
    // interval union [p, p+k-1] is a per-doc sort + linear fold
    // (sorted-starts merge: each window adds min(k, gap) tokens), a
    // per-doc-bounded collect_list — the doc fits in memory by
    // definition. The DuckDB oracle explodes positions and counts
    // DISTINCT — an independent algorithm proving the fold.
    "dd16_substr_dedup" -> ((s, d) =>
      substrCoverage(s, d)
        .withColumn("dup_coverage",
          round(col("covered_tokens").cast("double") / col("n_tokens"), 6)))
  )

  /** dd16's core: per-doc duplicated-span audit (doc_id, n_tokens,
    * n_dup_windows, covered_tokens) — integer columns only, shared with
    * pp08's span-coverage gate (one definition, or the gate and the audit
    * would drift apart). See the dd16 entry for the algorithm. */
  private[operators] def substrCoverage(s: SparkSession, d: String): DataFrame =
    substrCoverageOf(docs(s, d))

  /** [[substrCoverage]] over an arbitrary (doc_id, text) corpus — factored
    * (r16) so SkewSpec can plant a ≥10⁷-occurrence hot gram and measure
    * the count shape's task bound. */
  private[graft] def substrCoverageOf(docsDf: DataFrame): DataFrame = {
    val k = 8
    val t = docsDf.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"))
    val wins = t.filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> named_struct(" +
          s"'p', i, " +
          // 8-byte BINARY key (r16, guide "narrower types"): unhex of the
          // md5 prefix is a bijection, so counts/joins are unchanged while
          // the pinned gram table and the h-keyed exchange halve the key
          // bytes vs the 16-hex-char string
          s"'h', unhex(substring(md5(cast(array_join(slice(toks, i, $k), ' ') AS binary)), 1, 16))))"))
        .as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.h").as("h"))
    // occurrence count per window fingerprint: PIN the gram table (one
    // corpus window-explode + md5 pass — the r15 lesson: an unpinned
    // double reference re-ran the dominant compute per reference), then a
    // partial→final groupBy count and a semi-join back on the gram key.
    // r16 (VERDICT r15 item 6, replacing the r15 count-window): the
    // window forced a globally-duplicated gram (boilerplate at 100 TB:
    // 10⁸–10⁹ occurrences of ONE h) through a single window task that
    // AQE cannot split. The groupBy's map-side combine bounds the hot
    // key's shuffle to ≤ one row per map task, and the join-back is the
    // one shape AQE's skew handling CAN split — SkewSpec measures the
    // planted-hot-gram bound. Same single gram pass (the pin), identical
    // counts, identical rows.
    val winsP = wins.localCheckpoint(false)
    val dupKeys = winsP.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("h"))
    val dup = winsP.join(dupKeys, Seq("h"), "left_semi")
    val perDoc = dup.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"),
        sort_array(collect_list(col("p"))).as("ps"))
      .select(col("doc_id"), col("n_dup_windows"),
        aggregate(col("ps"),
          struct(lit(-1000000).as("prev"), lit(0L).as("cov")),
          (st, p) => struct(p.as("prev"),
            (st.getField("cov") + least(lit(k.toLong),
              (p - st.getField("prev")).cast("long"))).as("cov")),
          st => st.getField("cov")).as("covered_tokens"))
    t.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
  }

  /** dd09/dd15's connected components over the verified rep-level
    * near-dup graph, as (doc_id, comp_id) with comp_id the min doc_id
    * reachable. Components are computed on the REP graph (exact-dup
    * groups collapsed — identical components, ~100× fewer nodes/edges)
    * and expanded to docs through the membership table. */
  private[operators] def repComponents(s: SparkSession, d: String): DataFrame = {
    val (groups, repPairs) = prefixRepPairs(s, d)
    val labels = starComponents(groups.select(col("rep_id")), repPairs)
    groups.select(col("rep_id"), explode(col("members")).as("doc_id"))
      .join(labels, "rep_id")
      .select(col("doc_id"), col("comp_id"))
  }

  /** dd12's terminal cluster table on an arbitrary (doc_id, text) corpus
    * (the query comment above explains the shape): membership join + one
    * comp_id-partitioned window count — O(n) output rows at ANY skew,
    * where dd07's pair expansion pays k²/2 per k-copy duplicate group.
    * Factored for the skew stress spec, which measures exactly that gap
    * on a planted duplicate bomb. */
  private[graft] def clusterTableOf(docsDf: DataFrame,
      sizesViaWindow: Boolean = true): DataFrame = {
    val (groups, repPairs) = prefixRepPairsOf(docsDf)
    // Components come from star contraction, as in dd09: this table is
    // the PRODUCTION artifact every downstream dedup consumer joins, so its
    // producer must carry the worst graph a 100 TB corpus can ship — an
    // adversarial long-chain cluster still contracts in O(log n) rounds
    // (NorthStarSpec's 60-node path).
    val labels = starComponents(groups.select(col("rep_id")), repPairs)
    val m = groups.select(col("rep_id"), explode(col("members")).as("doc_id"))
      .join(labels, "rep_id")
    // Cluster size via a window count: the membership table shuffles on
    // comp_id exactly ONCE (the agg+join variant below shuffles it twice
    // on the same key). The trade-off is SKEW ASYMMETRY: the window
    // forces a whole comp_id through one task and AQE cannot split a
    // window the way it can skew-split a join, whereas the variant's
    // second shuffle is a join AQE can split — but its first shuffle (the
    // partial agg) is map-side tiny. SkewSpec's ×100 duplicate-bomb tier
    // measures both variants warm at k = 10⁶ copies: a count-only window
    // STREAMS its partition (no buffering), so the 10⁶-row hot cluster
    // cleared its single window task in ~137 ms and the one-shuffle plan
    // stayed ahead on wall clock (2.6 s vs 2.8 s — SCALE.md §3 has the
    // envelope). Default stays the window; the agg+join variant is kept
    // one flag away because rank-like windows (which DO buffer) or still
    // hotter clusters shift the balance, and the spec's 60 s max-task
    // bound flags when they do.
    if (sizesViaWindow)
      m.select(col("doc_id"), col("rep_id"), col("comp_id"),
        count(lit(1)).over(Window.partitionBy(col("comp_id"))).as("n_members"))
    else {
      val sizes = m.groupBy(col("comp_id"))
        .agg(count(lit(1)).as("n_members"))
      m.join(sizes, "comp_id")
        .select(col("doc_id"), col("rep_id"), col("comp_id"), col("n_members"))
    }
  }

  /** dd07's doc-level pair expansion on an arbitrary corpus — the
    * quadratic-per-group baseline the skew stress compares against. */
  private[graft] def docPairsOf(docsDf: DataFrame): DataFrame = {
    val (groups, repPairs) = prefixRepPairsOf(docsDf)
    expandRepPairs(groups, repPairs)
  }

  /** The one connected-components algorithm (dd09/dd15, the dd12 cluster
    * table, the DBSCAN lanes): alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", ACM SoCC'14). `reps`: one `rep_id` per node; `pairs`:
    * undirected edges as (ra, rb). Returns (rep_id, comp_id) with comp_id
    * the minimum node id of the node's component.
    *
    * Each round CONTRACTS the graph toward stars: large-star links every
    * node's larger neighbors to its neighborhood minimum, small-star links
    * the smaller neighbors — distances halve per alternation, so rounds
    * scale O(log n) with graph size, not with component diameter. Each
    * round is a hash shuffle on node id (groupBy min + equi-join), and at
    * 100 TB every round is a cluster-wide barrier, so the round count is
    * what the algorithm bounds.
    *
    * Convergence is certificate-driven: every emitted edge connects nodes
    * of one original component, so labels (= each node's final star
    * center) are reachable-node ids bounded below by the component min m,
    * and m's own label is m (no smaller node exists for it to point at);
    * if every ORIGINAL edge's endpoints agree, the uniform label is
    * exactly m. The loop stops at the first certified round — no
    * separate stability heuristic to trust.
    */
  private[graft] def starComponents(reps: DataFrame, pairs: DataFrame): DataFrame =
    starComponentsWithRounds(reps, pairs)._1

  /** One large-star step over a canonically-oriented (u > v) edge set.
    * Factored out of [[starComponentsWithRounds]] (r16) so the plan guard
    * can count a single contraction's exchanges. */
  private[graft] def largeStarRound(e: DataFrame): DataFrame = {
    val adj = e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("x"))
      .select(col("x.u").as("u"), col("x.v").as("v"))
    val mins = adj.groupBy("u").agg(min(col("v")).as("nmin"))
      .select(col("u"), least(col("u"), col("nmin")).as("m"))
    // emit (w, m(u)) for every larger neighbor w of u; w > u >= m keeps
    // the canonical orientation with no re-sort. NO distinct here (r15):
    // the v > u filter keeps each undirected edge exactly once (only
    // its smaller endpoint's direction survives), so the output is
    // already ≤ one row per input edge — duplicates can only coincide
    // ACROSS edges, never compound, and smallStar absorbs them (its
    // min-aggregation is duplicate-blind and its per-group dedup `ed`
    // collapses them at the next round's head). The groupBy and the
    // join both hash on u, so within one action the adjacency exchange
    // is built once and reused.
    adj.join(mins, "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** One small-star step over a canonically-oriented edge set — r16
    * (VERDICT r15 item 5, the carried round-fusion item): ONE u-keyed
    * exchange per small-star instead of two. The r15 shape paid the
    * groupBy/join exchange on u PLUS a terminal distinct exchange on
    * (u, v); here the explicit repartition on u is the star's only
    * shuffle and everything above rides it:
    *   - `ed` dedups (u, v) pairs with no exchange of its own —
    *     HashPartitioning(u) satisfies ClusteredDistribution(u, v)
    *     (equal pairs are co-located by u alone). This absorbs the
    *     previous round's residual duplicates EVERY round, so
    *     multiplicity never compounds.
    *   - `mins` (input is canonical — all neighbors in a group are < u,
    *     so the group min IS the neighborhood min) and the ed ⋈ mins
    *     equi-join on u reuse the same partitioning.
    * The output SET is identical to the r15 shape: leaves (v, m) for
    * every neighbor v ≠ m, plus one center (u, m) per group (u > m
    * always — m is a strictly smaller neighbor), both in canonical
    * orientation. What the dropped distinct cost: bounded RESIDUAL
    * multiplicity instead of global distinctness — a pair can recur only
    * as a leaf/center coincidence or as one (v, m) emitted from every
    * group holding both v and the min m, so one edge can recur once per
    * such group, but the output is ≤ 2·|ed| rows in aggregate
    * (|leaves| ≤ |ed|, |centers| = #groups ≤ |ed|), and every downstream
    * consumer (largeStar's min-agg, labelsOf, the certificate's
    * inequality count) is duplicate-blind — labels, round count, and
    * convergence are untouched. NorthStarSpec pins label equality on the
    * adversarial graphs; the plan guard pins the two-exchange
    * contraction. */
  private[graft] def smallStarRound(e: DataFrame): DataFrame = {
    val keyed = e.repartition(col("u"))
    val ed = keyed.select(col("u"), col("v")).distinct()
    val mins = ed.groupBy("u").agg(min(col("v")).as("m"))
    val leaves = ed.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    leaves.unionAll(mins.select(col("u"), col("m").as("v")))
  }

  private[graft] def starComponentsWithRounds(reps0: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30): (DataFrame, Int) = {
    // pin the node table to ONE materialization (r15): labelsOf references
    // it once per certificate and the certificate's lu/lv self-join embeds
    // labelsOf twice, so a caller whose `reps` is itself a subplan (the
    // DBSCAN decompose passes the degree-filtered core set) would re-run
    // that subtree 2× per round. Lazy — materializes inside round 1's
    // certificate count.
    val reps = reps0.localCheckpoint(false)
    // canonical orientation u > v; a frozen copy feeds the certificate
    // (uniformity over one direction implies it over both), and the
    // checkpoint means the verified pair set is scanned exactly once.
    // LAZY (r15): the logical plan truncates to a LogicalRDD leaf either
    // way; lazily the RDD materializes inside round 1's certificate count
    // instead of as its own action — one cluster barrier saved here and
    // one PER ROUND below (each round previously cost checkpoint + count;
    // now the count materializes the round's edges as a side effect).
    var edges = pairs
      .select(greatest(col("ra"), col("rb")).as("u"),
        least(col("ra"), col("rb")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    // the certificate checks ORIGINAL edges: capture the round-0
    // checkpoint by reference (the var moves on) — re-checkpointing it
    // would materialize a second copy for nothing
    val orig = edges
    def labelsOf(e: DataFrame): DataFrame = reps
      .join(e.groupBy(col("u").as("rep_id")).agg(min(col("v")).as("m")),
        Seq("rep_id"), "left")
      .select(col("rep_id"), coalesce(col("m"), col("rep_id")).as("comp_id"))
    def violations(l: DataFrame): Long = orig
      .join(l.select(col("rep_id").as("u"), col("comp_id").as("lu")), "u")
      .join(l.select(col("rep_id").as("v"), col("comp_id").as("lv")), "v")
      .filter(col("lu") =!= col("lv")).count()
    var rounds = 0
    var labels: DataFrame = null
    // certificate CADENCE: every measured fixture graph converges in 3–5
    // contractions (the dd09/dd15 rep graph 3, the DBSCAN eps core graphs
    // 5), so the loop runs 3 contractions blind, certifies, then
    // re-certifies every 2. Each contraction is lazily checkpointed, which
    // bounds plan depth per contraction, and the certificate count is the
    // only action, materializing every contraction since the previous
    // check in one job chain (dd09's 3 rounds cost 1 action; cl03's tail
    // 5 rounds cost 2). At 100 TB each action is a cluster-wide barrier;
    // the trade is ≤ 2 contractions of overshoot past the fixpoint (a
    // graph converging at round 1 is first certified at round 3; a
    // contraction of an already-star graph is a cheap no-op) against
    // certificates that each re-scan the original edge list. `rounds`
    // counts CONTRACTIONS.
    while (labels == null && rounds < maxRounds) {
      val target = math.min(maxRounds, if (rounds == 0) 3 else rounds + 2)
      while (rounds < target) {
        edges = smallStarRound(largeStarRound(edges)).localCheckpoint(false)
        rounds += 1
      }
      // labels stay LAZY: the certificate's count is the cadence's only
      // action, recomputing the cheap groupBy-min off the edge
      // checkpoint inside its own plan (twice, for the lu/lv self-join —
      // still far cheaper than a separate materializing action per round;
      // iterative loops are billed per ACTION)
      val l = labelsOf(edges)
      if (violations(l) == 0) labels = l
    }
    require(labels != null,
      s"dd15: star contraction did not converge within $maxRounds rounds")
    (labels, rounds)
  }

  /** The recursive-CTE component computation shared VERBATIM by the
    * dd09/dd12/pp03 oracles — one definition so their ground truths
    * cannot drift apart (the LshTables/LshBits discipline, applied to
    * oracle SQL). Ends with `m(doc_id, rep_id)` and
    * `comp(rep_id, comp_id)` ready for the op-specific tail. */
  private[graft] val ComponentOracleCte: String = """
      WITH RECURSIVE w AS (
        SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws
        FROM documents),
      g AS (SELECT ws, MIN(doc_id) AS rep_id FROM w GROUP BY ws),
      m AS (SELECT w.doc_id, g.rep_id FROM w JOIN g USING (ws)),
      p AS (
        SELECT a.rep_id AS ra, b.rep_id AS rb
        FROM g a JOIN g b ON a.rep_id < b.rep_id
          AND LEN(a.ws) * 9 <= LEN(b.ws) * 10 AND LEN(b.ws) * 9 <= LEN(a.ws) * 10
        WHERE CAST(LEN(list_intersect(a.ws, b.ws)) AS DOUBLE)
                / (LEN(a.ws) + LEN(b.ws) - LEN(list_intersect(a.ws, b.ws))) >= 0.9),
      e AS (
        SELECT ra AS u, rb AS v FROM p
        UNION ALL
        SELECT rb AS u, ra AS v FROM p),
      r AS (
        SELECT rep_id AS node, rep_id AS reach FROM g
        UNION
        SELECT e.v AS node, r.reach FROM r JOIN e ON e.u = r.node),
      comp AS (SELECT node AS rep_id, MIN(reach) AS comp_id FROM r GROUP BY node)"""

  val oracles: Map[String, String] = Map(
    // independent algorithm for the coverage: explode every duplicated
    // window into its k covered positions and COUNT DISTINCT, vs the
    // Spark side's sorted-starts interval-union fold
    "dd16_substr_dedup" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           n AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_tokens FROM t),
           w AS (SELECT doc_id, i AS p,
                        substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 16) AS h
                 FROM t, UNNEST(range(1, LEN(toks) - 6)) AS u(i)),
           c AS (SELECT h, COUNT(*) AS cnt FROM w GROUP BY h),
           dup AS (SELECT w.doc_id, w.p FROM w JOIN c USING (h) WHERE c.cnt >= 2),
           percov AS (
             SELECT doc_id, CAST(COUNT(DISTINCT pos) AS BIGINT) AS covered_tokens
             FROM dup, UNNEST(range(p, p + 8)) AS v(pos)
             GROUP BY doc_id),
           perdup AS (
             SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows
             FROM dup GROUP BY doc_id)
      SELECT n.doc_id, n.n_tokens,
             COALESCE(perdup.n_dup_windows, 0) AS n_dup_windows,
             COALESCE(percov.covered_tokens, 0) AS covered_tokens,
             ROUND(CAST(COALESCE(percov.covered_tokens, 0) AS DOUBLE)
                   / n.n_tokens, 6) AS dup_coverage
      FROM n LEFT JOIN perdup USING (doc_id) LEFT JOIN percov USING (doc_id)""",

    "dd11_tokenset_dedup" -> """
      WITH c AS (
        SELECT doc_id,
               md5(array_to_string(
                 list_sort(list_distinct(string_split(text, ' '))), ' ')) AS canon_fp,
               CAST(LEN(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT canon_fp, n_tokens,
             MIN(doc_id) AS keep_doc_id,
             COUNT(*) AS n_docs
      FROM c GROUP BY 1, 2""",

    "dd01_exact_dedup" -> """
      SELECT md5(TRIM(LOWER(text))) AS fp,
             MIN(doc_id) AS keep_doc_id,
             COUNT(*) AS n_copies,
             MAX(n_chars) AS max_chars
      FROM documents
      GROUP BY 1""",

    "dd02_dedup_stats" -> """
      SELECT source, COUNT(*) AS n_docs,
             COUNT(DISTINCT md5(TRIM(LOWER(text)))) AS n_unique,
             COUNT(*) - COUNT(DISTINCT md5(TRIM(LOWER(text)))) AS n_dup_docs
      FROM documents
      GROUP BY source""",

    "dd03_jaccard_pairs" -> """
      WITH w AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        FROM documents WHERE doc_id < 500)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(LEN(list_intersect(a.ws, b.ws)) AS DOUBLE)
               / (LEN(a.ws) + LEN(b.ws) - LEN(list_intersect(a.ws, b.ws))) AS jac
      FROM w a JOIN w b ON a.doc_id < b.doc_id
        AND LEN(a.ws) * 9 <= LEN(b.ws) * 10 AND LEN(b.ws) * 9 <= LEN(a.ws) * 10
      WHERE CAST(LEN(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / (LEN(a.ws) + LEN(b.ws) - LEN(list_intersect(a.ws, b.ws))) >= 0.9""",

    // (all-pairs oracles carry a LOSSLESS size-ratio prefilter in the
    // join condition — jac >= 0.9 forces 9·max(|A|,|B|) <= 10·min — which
    // spares DuckDB the list_intersect on ~2× the pairs at sf0.1)
    // dd04 is probabilistic in general, but on the FIXED fixtures + seed
    // its measured recall is exactly 1 (NorthStarSpec asserts set equality
    // vs the exact pairs; 20 bands × 8 rows ⇒ per-pair miss P ≈ 1.3e-5 at
    // the 0.9 threshold, deterministic given the data) — so the exact
    // all-pairs SQL is a valid oracle here and upgrades dd04 from the
    // driver's rows-only check to the full hash-exact gate.
    "dd04_minhash_lsh_pairs" -> """
      WITH w AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        FROM documents)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(LEN(list_intersect(a.ws, b.ws)) AS DOUBLE)
               / (LEN(a.ws) + LEN(b.ws) - LEN(list_intersect(a.ws, b.ws))) AS jac
      FROM w a JOIN w b ON a.doc_id < b.doc_id
        AND LEN(a.ws) * 9 <= LEN(b.ws) * 10 AND LEN(b.ws) * 9 <= LEN(a.ws) * 10
      WHERE CAST(LEN(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / (LEN(a.ws) + LEN(b.ws) - LEN(list_intersect(a.ws, b.ws))) >= 0.9""",

    // whole-algorithm SimHash mirror (r7): the per-token bit source is the
    // md5 prefix — bit j is bit 3-(j%4) of hex nibble j/4, exactly the
    // strpos/shift arithmetic below — so DuckDB re-derives every signature
    // from the raw text and the all-pairs hamming join is the TRUE answer
    // the lossless chunk blocking must reproduce. Vote tie rule mirrored:
    // strictly positive. Signatures carry as two 32-bit halves (a packed
    // bit 63 would overflow signed BIGINT arithmetic on the SUM side).
    "dd05_simhash_pairs" -> """
      WITH tok AS MATERIALIZED (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        FROM documents),
      th AS MATERIALIZED (SELECT doc_id, md5(t) AS h FROM tok),
      votes AS MATERIALIZED (
        SELECT doc_id, j,
               SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, j//4 + 1, 1)) - 1)
                              >> (3 - j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY doc_id, j),
      sig AS MATERIALIZED (
        SELECT doc_id,
               CAST(SUM(CASE WHEN v > 0 AND j < 32  THEN CAST(1 AS BIGINT) << j        ELSE 0 END) AS BIGINT) AS lo,
               CAST(SUM(CASE WHEN v > 0 AND j >= 32 THEN CAST(1 AS BIGINT) << (j - 32) ELSE 0 END) AS BIGINT) AS hi
        FROM votes GROUP BY doc_id)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3""",

    // exact all-pairs ground truth over the FULL table: dd07 is lossless,
    // so its output is SQL-expressible (unlike the probabilistic dd04)
    "dd07_prefix_join" -> """
      WITH w AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        FROM documents)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(LEN(list_intersect(a.ws, b.ws)) AS DOUBLE)
               / (LEN(a.ws) + LEN(b.ws) - LEN(list_intersect(a.ws, b.ws))) AS jac
      FROM w a JOIN w b ON a.doc_id < b.doc_id
        AND LEN(a.ws) * 9 <= LEN(b.ws) * 10 AND LEN(b.ws) * 9 <= LEN(a.ws) * 10
      WHERE CAST(LEN(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / (LEN(a.ws) + LEN(b.ws) - LEN(list_intersect(a.ws, b.ws))) >= 0.9""",

    // exact components via recursive reachability — over the REP graph
    // (exact-dup sets collapsed, like the Spark side): the doc-level pair
    // graph is near-clique (avg degree ~400 at sf0.1) and makes the
    // recursion's per-iteration join explode; the rep graph has the same
    // components at a tiny fraction of the edges. Membership join maps
    // every doc to its rep's component at the end.
    "dd09_dup_components" -> s"""$ComponentOracleCte
      SELECT m.doc_id, comp.comp_id
      FROM m JOIN comp USING (rep_id)""",

    // dd15 computes the same components as dd09 (one body) — same ground
    // truth, shared CTE so they cannot drift
    "dd15_cc_star" -> s"""$ComponentOracleCte
      SELECT m.doc_id, comp.comp_id
      FROM m JOIN comp USING (rep_id)""",

    // dd09's recursive reachability + the membership/size joins — the
    // cluster table is the docs-to-components map with component sizes
    // same component CTE; the keep coin re-derived from md5(text), the
    // threshold the same integer division (// in DuckDB, div in Spark)
    "dd17_soft_dedup_sample" -> s"""$ComponentOracleCte,
      dc AS (SELECT m.doc_id, comp.comp_id FROM m JOIN comp USING (rep_id)),
      sz AS (SELECT comp_id, COUNT(*) AS n_members FROM dc GROUP BY comp_id)
      SELECT d.doc_id, d.source, dc.comp_id, sz.n_members,
             ROUND(CAST(1 AS DOUBLE) / sz.n_members, 9) AS weight_r
      FROM documents d JOIN dc USING (doc_id) JOIN sz USING (comp_id)
      WHERE ('0x' || substring(md5(d.text), 1, 12))::BIGINT
            <= 281474976710655 // sz.n_members""",

    "dd12_dedup_clusters" -> s"""$ComponentOracleCte,
      dc AS (SELECT m.doc_id, m.rep_id, comp.comp_id
             FROM m JOIN comp USING (rep_id)),
      sz AS (SELECT comp_id, COUNT(*) AS n_members FROM dc GROUP BY comp_id)
      SELECT dc.doc_id, dc.rep_id, dc.comp_id, sz.n_members
      FROM dc JOIN sz USING (comp_id)""",

    // exact ground truth for first-occurrence-wins ingest: every
    // arriving doc LEFT-joined to its jac>=0.9 matches among everything
    // seen before it — the corpus plus earlier-id arrivals (valid as an
    // exact oracle because the 160/20x8 blocking measures recall 1 on
    // the fixtures — dd04's justification; signatures depend only on
    // the token set)
    "dd14_stream_neardup_ingest" -> s"""
      WITH w AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        FROM documents),
      arr AS (SELECT doc_id, ws FROM w WHERE doc_id < $IngestSplitId),
      m AS (
        SELECT a.doc_id AS a_id, c.doc_id AS c_id,
               CAST(LEN(list_intersect(a.ws, c.ws)) AS DOUBLE)
                 / (LEN(a.ws) + LEN(c.ws) - LEN(list_intersect(a.ws, c.ws))) AS jac
        FROM arr a JOIN w c
          ON (c.doc_id >= $IngestSplitId OR c.doc_id < a.doc_id)
          AND LEN(a.ws) * 9 <= LEN(c.ws) * 10 AND LEN(c.ws) * 9 <= LEN(a.ws) * 10
        WHERE CAST(LEN(list_intersect(a.ws, c.ws)) AS DOUBLE)
                / (LEN(a.ws) + LEN(c.ws) - LEN(list_intersect(a.ws, c.ws))) >= 0.9)
      SELECT arr.doc_id,
             CAST(COUNT(m.c_id) AS BIGINT) AS n_dups,
             CAST(CASE WHEN COUNT(m.c_id) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
             ROUND(COALESCE(MAX(m.jac), 0), 6) AS best_jac
      FROM arr LEFT JOIN m ON m.a_id = arr.doc_id
      GROUP BY arr.doc_id""",

    // the planted twin corpus reproduced in SQL (see plantedCorpus: pure
    // IEEE arithmetic, DuckDB's 1-based list_transform index matches the
    // Spark side's i+1), then exact all-pairs at the production
    // threshold — valid as an exact oracle because the kernel's measured
    // recall on the planted pairs is 1 at every sf for the fixed seed
    "dd13_embedding_prod_neardup" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      p AS (SELECT vec_id + $PlantOffset AS pid,
              list_transform(v, (x, i) -> x
                + sqrt(list_inner_product(v, v)) / $PlantAmplitude
                * CAST((vec_id * 37 + i * 101) % 5 - 2 AS DOUBLE)) AS v
            FROM e),
      u AS (SELECT vec_id, v FROM e
            UNION ALL
            SELECT pid AS vec_id, v FROM p)
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_r
      FROM u a JOIN u b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.8""",

    "dd06_embedding_neardup" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id < 500)
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_r
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4"""
  )
}
