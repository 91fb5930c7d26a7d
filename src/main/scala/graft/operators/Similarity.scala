package graft.operators

import graft.Tables
import graft.functions.VectorOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Similarity search over the `embeddings` fixture (SURVEY.md §2.3).
  *
  * Two tiers: brute-force cosine top-k (exact; quadratic, the correctness
  * baseline) and random-hyperplane LSH bucketing (the 100 TB path — a
  * hash-partitioned equi-join whose candidate sets are tiny fractions of
  * the cross product). The LSH tier's recall against the exact tier is
  * asserted in NorthStarSpec.
  */
object Similarity {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  // ss02/ss08 LSH shape — ONE definition: the materialized index
  // (lshIndexDir) and every probe side must hash identically, or the
  // index silently desyncs from the queries (ss08's equality spec would
  // only catch it after the fact). 8 tables × 6 sign bits, radius-1
  // query-side multi-probe.
  private[graft] val LshTables = 8
  private[graft] val LshBits = 6

  // ss07 product-quantization shape: 64 dims = 8 subspaces × 8 dims,
  // 16 cells per subspace (4-bit codes → 4 bytes/vector), trained like
  // the IVF codebook; ADC shortlists PqShortlist candidates per query
  // before the exact re-rank
  private[graft] val PqM = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqK = 16
  private[graft] val PqIters = 4
  private[graft] val PqShortlist = 64

  // ss14/ss13's lexical index: term-hash bucket count for the
  // partitioned postings table. 64 directories at fixture scale; at
  // 100 TB the bucket count scales with the vocabulary (the tbk=512
  // sizing logic of ss08) — pruning only needs |query-term buckets| ≪
  // |buckets|, which a serve batch's handful of rare terms guarantees.
  private[graft] val LexBuckets = 64

  /** Materialize the corpus LSH index as a parquet table PARTITIONED BY
    * the packed (table, bucket) key — ss02's index side, persisted the way
    * a serving system stores it: queries touch only their probe buckets'
    * partitions (partition pruning), never the whole index. Built once per
    * embeddings content and served to every query — the production split
    * between indexing and query time. */
  private[graft] def lshIndexDir(s: SparkSession, d: String): String =
    Materialized.dir(s, "ss08-index", Tables.path(d, "embeddings")) { dir =>
      emb(s, d).filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"),
          explode(rpLshTables(col("embedding"), LshTables, LshBits))
            .as("tbk"))
        .write.partitionBy("tbk").mode("overwrite").parquet(dir)
    }

  // The OPENED index, one per session and index dir: re-opening the
  // partitioned table per serve re-runs partition discovery over all 512
  // bucket dirs (~1 s measured at sf0.1 — half the warm serve cost). A
  // serving process holds its index open; the cached DataFrame's
  // InMemoryFileIndex holds the listing, and partition pruning against it
  // is in-memory. Session-scoped: a DataFrame is unusable from any other
  // session.
  private def lshIndexDf(s: SparkSession, d: String): DataFrame =
    openIndex(s, "ss08-index-df", Tables.path(d, "embeddings"), lshIndexDir(s, d))

  // Keyed on the table the index was built from, plus the dir: an index
  // dir is written once and never changes (new input content gets a new
  // dir), and fingerprinting the dir itself would list every file of all
  // its partitions on each serve (~4 s per ss08 call at sf0.1, measured).
  private def openIndex(s: SparkSession, name: String, input: String, dir: String): DataFrame =
    Materialized.sessionValue(s, name, input, dir)(s.read.parquet(dir))

  /** Materialize the corpus INVERTED INDEX for the hybrid serve's lexical
    * lane (the lexical twin of [[lshIndexDir]]): `(term, c_id, tf)`
    * postings, PRE-GATED to rare terms (df·10 ≤ N is a corpus property,
    * so it bakes into the index — the df dictionary and
    * corpus count never have to be recomputed at serve time), written as
    * parquet PARTITIONED BY the term-hash bucket `tb = pmod(hash(term),
    * LexBuckets)`. A serve batch knows its own query terms, so it knows
    * its buckets — the index read prunes to ≤ |query-term buckets|
    * partitions, never the corpus; without it the lane would re-tokenize
    * and re-aggregate the ENTIRE corpus per serve call (per micro-batch in
    * ss13). Built once per documents content. */
  private[graft] def lexIndexDir(s: SparkSession, d: String): String =
    Materialized.dir(s, "ss14-lexindex", Tables.path(d, "documents")) { dir =>
      import graft.functions.TextOps
      val docsT = Tables.load(s, d, "documents")
      val postings = docsT.filter(col("doc_id") >= 10)
        .select(col("doc_id").as("c_id"),
          explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("c_id")).agg(count(lit(1)).as("tf"))
      val dfT = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docsT.filter(col("doc_id") >= 10).agg(count(lit(1)).as("n"))
      val rare = dfT.crossJoin(broadcast(nDocs))
        .filter(col("df") * 10 <= col("n")).select(col("term"))
      postings.join(rare, "term")
        .withColumn("tb", pmod(hash(col("term")), lit(LexBuckets)).cast("int"))
        // one file per bucket directory: cluster rows by partition value
        // before the partitioned write (the task count would otherwise
        // multiply into every directory)
        .repartition(col("tb"))
        .write.partitionBy("tb").mode("overwrite").parquet(dir)
    }

  // the OPENED lexical index (same rationale as lshIndexDf: a serving
  // process holds its index open; partition discovery runs once)
  private def lexIndexDf(s: SparkSession, d: String): DataFrame =
    openIndex(s, "ss14-lexindex-df", Tables.path(d, "documents"), lexIndexDir(s, d))

  /** Train the m per-subspace codebooks on the UNIT-NORMALIZED corpus side
    * (vec_id >= 10 — queries don't train the index). Deterministic: each
    * subspace reuses [[Clustering.trainKMeans]] (fixed seeds, fixed iters,
    * decimal-sum updates) on its slice of the normalized vectors. One
    * model per embeddings content and shape, memoized like
    * [[Clustering.codebookFor]]: the quantizer is trained once and SERVED. */
  private[graft] def pqCodebooks(s: SparkSession, d: String,
      m: Int, subDim: Int, k: Int, iters: Int): Seq[Seq[Seq[Double]]] =
    Materialized.value(s, "ss07-pq", Tables.path(d, "embeddings"), m, subDim, k, iters) {
      val e = emb(s, d).filter(col("vec_id") >= 10)
        .select(col("vec_id"), asDouble(col("embedding")).as("v0"))
        .withColumn("nrm", norm(col("v0")))
        .select(col("vec_id"), transform(col("v0"), x => x / col("nrm")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try (0 until m).map { j =>
        Clustering.trainKMeans(
          e.select(col("vec_id"), slice(col("v"), j * subDim + 1, subDim).as("v")),
          k, iters)
      } finally e.unpersist()
    }

  /** ss08/ss09 shared serve path: probe-key derivation from the query
    * vectors, partition-pruned read of the materialized LSH index, and
    * the candidate→verify→top-k tail. The probe-key IN-list is collected
    * driver-side because a serving client always knows its own probe keys
    * (they derive from the query vectors, not the corpus) — that is what
    * lets the scan plan with PartitionFilters and touch ≤ |probes| of the
    * index's partitions. Packed keys fit in int ((tables-1)<<bits |
    * bucket ≤ 511); partition discovery types the tbk directory values as
    * INT and the probe side must match exactly — a cast on the partition
    * column would defeat partition pruning. */
  private[graft] def serveLshTopK(s: SparkSession, d: String,
      queryVecs: DataFrame, k: Int = 5): DataFrame = {
    val e = emb(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val probes = queryVecs
      .select(col("vec_id").as("q_id"),
        explode(rpLshProbes(col("embedding"), LshTables, LshBits))
          .as("tbk0"))
      .select(col("q_id"), col("tbk0").cast("int").as("tbk"))
    val probeKeys = probes.select(col("tbk")).distinct()
      .collect().map(_.getInt(0)).sorted
    val index = lshIndexDf(s, d)
      .filter(col("tbk").isin(probeKeys.toIndexedSeq.map(Int.box): _*))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    // the query vector comes from the REQUEST batch itself (a serving
    // endpoint's queries need not exist in the corpus — re-fetching q_v
    // from `e` would silently drop unknown query ids); only candidate
    // vectors re-join from the corpus
    val qvecs = queryVecs.select(col("vec_id").as("q_id"),
      asDouble(col("embedding")).as("q_v"))
    probes.join(index, Seq("tbk"))
      .select(col("q_id"), col("c_id")).distinct()
      .join(qvecs, "q_id")
      .join(e.select(col("vec_id").as("c_id"), col("v").as("c_v")), "c_id")
      .select(col("q_id"), col("c_id"),
        cosineD(col("q_v"), col("c_v")).as("cos"))
      .select(col("q_id"), col("c_id"), col("cos"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 6).as("cos_r"))
  }

  /** ss11/ss13 shared hybrid serve: both retrieval lanes + the RRF fusion
    * for the given query-id batch (`qIds`: one `q_id` column — a serve
    * request knows its ids; text and vectors re-join from the corpus
    * tables). The query batch BROADCASTs through both lanes. */
  private[graft] def hybridRrf(s: SparkSession, d: String,
      qIds: DataFrame, servedLex: Boolean = false): DataFrame = {
    // vector lane: exact cosine top-20 (the oracle-able brute tier;
    // ss14 swaps in the served index through the same interface)
    val e = emb(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val qv = e.join(broadcast(qIds), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("v").as("q_v"))
    val cv = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    val vec = qv.crossJoin(cv)
      .select(col("q_id"), col("c_id"), cosineD(col("q_v"), col("c_v")).as("cos"))
      .withColumn("vec_rank", row_number().over(wv))
      .filter(col("vec_rank") <= 20)
      .select(col("q_id"), col("c_id"), col("vec_rank"))
    val lex =
      if (servedLex) lexLaneServed(s, d, requestDocs(s, d, qIds))
      else lexLane(s, d, qIds)
    rrfFuse(lex, vec)
  }

  /** The request batch's documents, fetched by a PUSHED point-lookup:
    * a serve endpoint knows its query ids (the probe-key-collect
    * precedent in [[serveLshTopK]]), so the text fetch plans with
    * `PushedFilters: In(doc_id, …)` — row-group-pruned at the scan,
    * never a join-filtered full pass. (A deployed endpoint receives the
    * text IN the request; this lookup stands in for that.) The tiny
    * batch pins eagerly so the serve plan is self-contained — the
    * tokenize feeds both the bucket-key collect and the postings join. */
  private def requestDocs(s: SparkSession, d: String,
      qIds: DataFrame): DataFrame = {
    val ids = qIds.select(col("q_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    Tables.load(s, d, "documents")
      .filter(col("doc_id").isin(ids.toIndexedSeq.map(Long.box): _*))
      .select(col("doc_id").as("q_id"), col("text"))
      // lazy (r15): the plan is a leaf either way; the batch materializes
      // inside the bucket-key collect that immediately consumes it
      // instead of as its own up-front action — one action per serve
      // batch saved, same self-contained serve plan.
      .localCheckpoint(false)
  }

  /** ss14/ss13's PRODUCTION lexical lane: serve from the materialized
    * term-bucketed postings index ([[lexIndexDir]]). Per serve batch:
    * tokenize the request docs (tiny), derive their term-hash buckets,
    * read ONLY those partitions of the index, broadcast-join the query
    * terms against the pruned postings, Σtf-score, per-query top-20 —
    * identical output to [[lexLane]] (the rare gate commutes with the
    * postings join), with serve-time work proportional to the REQUEST,
    * not the corpus. */
  private[graft] def lexLaneServed(s: SparkSession, d: String,
      qDocs: DataFrame): DataFrame = {
    import graft.functions.TextOps
    val qterms = qDocs.select(col("q_id"),
      explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
    val tbs = qterms
      .select(pmod(hash(col("term")), lit(LexBuckets)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).sorted
    val index = lexIndexDf(s, d)
      .filter(col("tb").isin(tbs.toIndexedSeq.map(Int.box): _*))
    val wl = Window.partitionBy(col("q_id"))
      .orderBy(col("lex_score").desc, col("n_match").desc, col("c_id"))
    broadcast(qterms).join(index, "term")
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("tf")).as("lex_score"), count(lit(1)).as("n_match"))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= 20)
      .select(col("q_id"), col("c_id"), col("lex_rank"))
  }

  /** The hybrid serve's BRUTE lexical lane (ss11's oracle-able tier —
    * the per-call corpus tokenize+aggregate the SQL mirror re-derives):
    * query terms (distinct) × corpus postings, rare-term gated,
    * exact-integer Σtf scoring, per-query top-20 ranks. ss13/ss14 serve
    * the same scores from the materialized index ([[lexLaneServed]]). */
  private def lexLane(s: SparkSession, d: String, qIds: DataFrame): DataFrame = {
    import graft.functions.TextOps
    val docsT = Tables.load(s, d, "documents")
    // lexical lane: query terms (distinct) x corpus postings, rare-term
    // gated, scored by exact integer Σtf with n_match/c_id tiebreaks
    val qterms = docsT.join(broadcast(qIds), col("doc_id") === col("q_id"))
      .select(col("q_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
    // PIN the postings table (r16, ADVICE r15): one corpus tokenize +
    // gram aggregation feeds both the df count and the scoring join.
    // The r15 shape computed df as a count-window over term, which
    // shuffles the ENTIRE postings table by term and funnels each term's
    // full posting list through one window task BEFORE the rare gate can
    // discard it — a stopword's corpus-wide list in a single unsplittable
    // task at production scale. The pin keeps the single tokenize pass
    // (the r15 win) while df reverts to a partial-aggregating groupBy
    // (map-side combine: ≤ one row per term per map task crosses the
    // wire) joined back on term — the join is AQE-skew-splittable where
    // the window was not.
    val postings = docsT.filter(col("doc_id") >= 10)
      .select(col("doc_id").as("c_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("c_id")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val nDocs = docsT.filter(col("doc_id") >= 10).agg(count(lit(1)).as("n"))
    val dfT = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val withDf = postings.join(dfT, "term")
    val wl = Window.partitionBy(col("q_id"))
      .orderBy(col("lex_score").desc, col("n_match").desc, col("c_id"))
    val lex = broadcast(qterms).join(withDf, "term")
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 10 <= col("n"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("tf")).as("lex_score"), count(lit(1)).as("n_match"))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= 20)
      .select(col("q_id"), col("c_id"), col("lex_rank"))
    lex
  }

  /** ss14/ss15 shared DOUBLE-INDEX serve for one request batch
    * (`qBatch`: (vec_id, embedding) rows — a serve request carries its
    * own vectors): the vector lane reads ss08's bucket-partitioned LSH
    * index (top-20 among verified candidates), the lexical lane reads
    * the term-bucketed postings index, RRF fuses. Per-request work is
    * proportional to the REQUEST on both lanes. Factored so the batch
    * entry (ss14) and the per-trigger streaming entry (ss15) run ONE
    * code path. */
  private[graft] def hybridServeIndexed(s: SparkSession, d: String,
      qBatch: DataFrame): DataFrame = {
    val vec = serveLshTopK(s, d,
        qBatch.select(col("vec_id"), col("embedding")), k = 20)
      .select(col("q_id"), col("c_id"), col("rank").as("vec_rank"))
    rrfFuse(lexLaneServed(s, d,
      requestDocs(s, d, qBatch.select(col("vec_id").as("q_id")))), vec)
  }

  /** RRF fusion of two (q_id, c_id, *_rank) lanes: a candidate missing
    * from one lane contributes 0 there; two exact divisions + one add
    * per candidate — engine-exact. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val wf = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("c_id"))
    lex.join(vec, Seq("q_id", "c_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
      .withColumn("fused_rank", row_number().over(wf))
      .filter(col("fused_rank") <= 10)
      .select(col("q_id"), col("c_id"), col("fused_rank"),
        col("lex_rank"), col("vec_rank"), round(col("rrf"), 9).as("rrf_r"))
  }

  /** ss01's exact brute-force lane over an arbitrary loaded embeddings
    * table (columns vec_id, embedding). Parametrized (r16, VERDICT r15
    * item 7) so ss12 can compose the SHIPPED lane over one pinned corpus
    * read — in-query reuse; ss01 itself still reads the parquet. */
  private[graft] def cosineTopkOf(eRaw: DataFrame): DataFrame = {
    val e = eRaw.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    val scored = q.crossJoin(c)
      .select(col("q_id"), col("c_id"),
        cosineD(col("q_v"), col("c_v")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    scored.select(col("q_id"), col("c_id"), col("cos"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 6).as("cos_r"))
  }

  /** ss02's multi-probe LSH lane over an arbitrary loaded embeddings
    * table — same parametrization contract as [[cosineTopkOf]]. */
  private[graft] def annLshTopkOf(eRaw: DataFrame): DataFrame = {
    val e = eRaw.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // ids-only through the bucket join + distinct (vector arrays must
    // not ride the candidate shuffle); vectors re-join for scoring
    val q = eRaw.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"),
      explode(rpLshProbes(col("embedding"), LshTables, LshBits)).as("tbk"))
    val c = eRaw.filter(col("vec_id") >= 10).select(col("vec_id").as("c_id"),
      explode(rpLshTables(col("embedding"), LshTables, LshBits)).as("tbk"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    q.join(c, Seq("tbk"))
      .select(col("q_id"), col("c_id")).distinct()
      .join(e.select(col("vec_id").as("q_id"), col("v").as("q_v")), "q_id")
      .join(e.select(col("vec_id").as("c_id"), col("v").as("c_v")), "c_id")
      .select(col("q_id"), col("c_id"),
        cosineD(col("q_v"), col("c_v")).as("cos"))
      .select(col("q_id"), col("c_id"), col("cos"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 6).as("cos_r"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact top-5 neighbors for 10 query vectors by brute-force cosine.
    "ss01_cosine_topk" -> ((s, d) => cosineTopkOf(emb(s, d))),

    // ANN via multi-probe random-hyperplane LSH: 8 tables × 6 sign bits,
    // corpus indexed at radius 0, queries probe radius 1 (bucket + every
    // 1-bit flip) — a candidate meets a query if some table's signatures
    // differ in ≤ 1 bit. vs the r2 single-probe 8×4: +2 bits cuts each
    // random bucket 4×, and query-side multi-probe more than recovers
    // the recall (recall@5 measured in NorthStarSpec). The corpus index
    // stays one row per (vector, table) — probing only amplifies the
    // tiny query side, never the corpus.
    "ss02_ann_lsh_topk" -> ((s, d) => annLshTopkOf(emb(s, d))),

    // IVF-style ANN with a genuinely TRAINED coarse quantizer (r4: the
    // per-label-mean stand-in is gone — Clustering.trainKMeans runs
    // deterministic spherical k-means over the corpus); every vector is
    // assigned to its NEAREST centroid cell; queries probe the 2 nearest
    // cells and exact cosine re-ranks the cell members. At 100 TB the
    // cells hash-partition and only nprobe/k of the data is touched per
    // query; training is iters passes of map-side assignment + one hash
    // agg, with only k·dim doubles (the MODEL) ever reaching the driver.
    "ss04_ann_ivf_topk" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val codebook = typedlit(graft.operators.Clustering.codebookFor(
        s, d, graft.operators.Clustering.K, graft.operators.Clustering.Iters))
      // Cell ASSIGNMENT is a pure per-row map — the native NearestCells
      // expression scores the codebook inline: no crossJoin ×k
      // amplification, no corpus shuffle, no window (VERDICT r2's
      // scale-killer in this query). nprobe=1 for the corpus, 2 for the
      // (tiny) query side.
      def nearestCells(src: DataFrame, idCol: String, n: Int): DataFrame =
        src.select(col(idCol), col("v"),
          explode(org.apache.spark.sql.graft.NearestCells(col("v"), codebook, n))
            .as("cell"))
      val cands = nearestCells(e.filter(col("vec_id") >= 10), "vec_id", 1)
        .select(col("cell"), col("vec_id").as("c_id"), col("v").as("c_v"))
      val qs = nearestCells(e.filter(col("vec_id") < 10), "vec_id", 2)
        .select(col("cell"), col("vec_id").as("q_id"), col("v").as("q_v"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      // queries broadcast to the corpus partitions (|queries| ≪ |corpus|);
      // the corpus side streams through the join with no exchange
      broadcast(qs).join(cands, "cell")
        .select(col("q_id"), col("c_id"), col("q_v"), col("c_v")).distinct()
        .select(col("q_id"), col("c_id"), cosineD(col("q_v"), col("c_v")).as("cos"))
        .select(col("q_id"), col("c_id"), col("cos"), row_number().over(w).as("rank"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 6).as("cos_r"))
    }),

    // Radius search: ALL neighbors above a similarity floor for a small
    // query set — the other half of the ANN API surface (top-k bounds the
    // result count, radius bounds the similarity). The query side is tiny
    // and broadcast; candidates stream through one codegen'd cross join +
    // filter, never shuffling, which is exactly the 100 TB shape (queries
    // broadcast to wherever the corpus partitions live).
    "ss05_radius_search" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val q = broadcast(e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")))
      q.join(e, col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("c_id"),
          cosineD(col("q_v"), col("v")).as("cos"))
        .filter(col("cos") >= 0.3)
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos_r"))
    }),

    // Int8 SCALAR QUANTIZATION of the embedding column — the compression
    // step a 100 TB vector corpus applies before ANN serving (4× smaller
    // than float32, 8× than double). Symmetric per-vector scale
    // (max|x|/127), q = floor(x/scale + 0.5) — floor is bit-exact across
    // engines, unlike engine-rounding — and per-label reconstruction-error
    // stats verify the codec end to end. Pure narrow per-row work +
    // one hash aggregation: embarrassingly parallel.
    "ss06_scalar_quantization" -> ((s, d) => {
      val e = emb(s, d)
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .withColumn("scale",
          greatest(array_max(col("v")), -array_min(col("v"))) / lit(127.0))
      e.select(col("vec_id"), col("label"), col("scale"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .withColumn("q", when(col("scale") === 0, lit(0.0))
          .otherwise(floor(col("x") / col("scale") + lit(0.5))))
        .withColumn("err", when(col("scale") === 0, lit(0.0))
          .otherwise(col("x") - col("q") * col("scale")))
        .groupBy(col("label"))
        .agg(countDistinct(col("vec_id")).as("n_vecs"),
          max(abs(col("q"))).cast("long").as("max_abs_q"),
          round(sqrt(
            sum((col("err") * col("err")).cast(DecimalType(38, 18))).cast(DoubleType)
              / count(lit(1))), 6).as("rmse"))
    }),

    // PRODUCT QUANTIZATION ANN (Jégou et al., "Product Quantization for
    // Nearest Neighbor Search"): the 64-dim unit vector splits into 8
    // 8-dim subvectors, each quantized against its own 16-cell codebook
    // trained with the deterministic k-means tier — 8 codes = 4 bytes per
    // vector, a 64× compression of the float32 embedding. Search is the
    // production two-stage shape: (1) ADC — decode each corpus row ONCE
    // map-side (codes → concatenated centroids; per-query LUTs are the
    // SIMD variant of the same per-subspace-dot sum) and rank against the
    // broadcast query set; (2) exact re-rank of only the PqShortlist ADC
    // survivors with full vectors. The corpus at rest stays 4-byte codes;
    // full vectors are touched for |queries|·shortlist rows only — at
    // 100 TB that is the difference between scanning 100 TB of floats and
    // ~1.5 TB of codes. Both window passes partition by q_id, so Catalyst
    // plans ONE exchange for the whole ranking tail (plan-guarded).
    // Recall and reconstruction cosine are spec-bounded in NorthStarSpec,
    // and OracleMirror.pqTopKSql re-trains all m sub-codebooks in DuckDB
    // SQL for a full rows+schema+hash gate (the fixed iteration count
    // unrolls Lloyd's loop into plain CTEs).
    "ss07_pq_topk" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v0"))
        .withColumn("nrm", norm(col("v0")))
        .select(col("vec_id"), transform(col("v0"), x => x / col("nrm")).as("v"))
      val cbs = pqCodebooks(s, d, PqM, PqSubDim, PqK, PqIters)
      def subv(j: Int) = slice(col("v"), j * PqSubDim + 1, PqSubDim)
      val codes = array((0 until PqM).map(j =>
        element_at(org.apache.spark.sql.graft.NearestCells(
          subv(j), typedlit(cbs(j)), 1), 1)): _*)
      // decode once per corpus row: codes -> concatenated sub-centroids
      val recon = flatten(array((0 until PqM).map(j =>
        element_at(typedlit(cbs(j)), element_at(col("codes"), j + 1) + 1)): _*))
      val corpus = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), codes.as("codes"))
        .select(col("c_id"), recon.as("c_recon"))
      val qs = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")))
      val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("c_id"))
      val shortlist = qs.crossJoin(corpus)
        .select(col("q_id"), col("q_v"), col("c_id"),
          dot(col("q_v"), col("c_recon")).as("adc"))
        .select(col("q_id"), col("q_v"), col("c_id"),
          row_number().over(wAdc).as("adc_rank"))
        .filter(col("adc_rank") <= PqShortlist)
      // exact re-rank of the shortlist only (vectors re-join by id)
      val wCos = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      shortlist
        .join(e.select(col("vec_id").as("c_id"), col("v").as("c_v")), "c_id")
        .select(col("q_id"), col("c_id"), cosineD(col("q_v"), col("c_v")).as("cos"))
        .select(col("q_id"), col("c_id"), col("cos"), row_number().over(wCos).as("rank"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 6).as("cos_r"))
    }),

    // ANN INDEX SERVING — the missing half of ss02: the LSH index is not
    // recomputed per query but MATERIALIZED once as a parquet table
    // partitioned by bucket key (lshIndexDir), and each query reads ONLY
    // its probe buckets' partitions. The probe-key IN-list is known at
    // query time (it is derived from the query vectors — collected here
    // because a serving client always knows its own probe keys), so the
    // scan plans with PartitionFilters and touches ≤ |probes| of the 512
    // partitions — at 100 TB the index read is proportional to the probe
    // set, not the corpus. Same candidate→verify→top-k tail as ss02;
    // NorthStarSpec asserts result equality with ss02 and the plan spec
    // asserts the pruning.
    "ss08_ann_index_serve" -> ((s, d) =>
      // a serving batch of 3 queries: small probe sets are the point of an
      // index (ss02's 10-query batch would touch ~every one of the 512
      // fixture partitions and prove nothing about pruning)
      serveLshTopK(s, d,
        emb(s, d).filter(col("vec_id") < 3)
          .select(col("vec_id"), col("embedding")))),

    // STREAMING ANN serving — the serving half of a real pipeline run
    // under the streaming execution path (VERDICT r4 stretch item): query
    // vectors arrive as file-source micro-batches (one file per trigger,
    // the endpoint's request batches), and each batch runs the SAME
    // pruned-index serve as ss08 inside foreachBatch — per micro-batch:
    // derive probe keys from the batch's vectors, read only those
    // partitions of the materialized index, verify + top-k. foreachBatch
    // is the production shape for serve-from-index jobs: the per-batch
    // work is a full batch plan (partition pruning included — a
    // stream-static join could not prune, it would rescan the whole
    // index every trigger). NorthStarSpec asserts the drained results
    // equal batch ss08's exactly, and the full LSH mirror oracle
    // (OracleMirror.lshTopKSql) gates the result hash-exactly.
    "ss09_stream_ann_serve" -> ((s, d) => {
      // the same 3-query serving set as ss08, split into two request
      // micro-batches (mtime order drives trigger order)
      val qsrc = emb(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding"))
      StreamingQueries.drainForeachBatch(s, Seq(
        qsrc.filter(col("vec_id") === 0),
        qsrc.filter(col("vec_id") >= 1)))(serveLshTopK(s, d, _))
    }),

    // DIVERSIFIED top-k serving — greedy Maximal Marginal Relevance
    // (Carbonell & Goldstein SIGIR'98) re-rank of the exact top-16
    // shortlist: pick 5 of 16 maximizing λ·rel − μ·max_sim_to_selected
    // (λ=0.7, μ=0.3), the standard retrieval-endpoint answer to "the top
    // 5 are all near-duplicates of each other". The shortlist here is
    // the oracle-able brute-force tier (the ss01 precedent); a serving
    // deployment swaps in ss08's index-served shortlist unchanged.
    //
    // Scale design: MMR's greedy loop is inherently per-query, so the
    // scalable shape is a MAP — shortlists arrive as one grouped row per
    // query and the O(k·m) cosine work runs inside the native MmrSelect
    // expression with no exchange, no iteration driver-side, no row
    // amplification. Determinism (what lets DuckDB mirror the greedy
    // exactly, unrolled one CTE per step like the k-means oracles): every
    // raw cosine quantizes ONCE to integer 1e-6 units and scoring is
    // exact long arithmetic 7·rel_u − 3·sim_u (λ=0.7/μ=0.3 in tenths),
    // ties toward the lower c_id — see MmrSelect's contract for why
    // scoring rounded doubles instead is systematically oracle-unsafe.
    "ss10_mmr_diversify" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("v").as("c_v"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id"))
      val short = q.crossJoin(c)
        .select(col("q_id"), col("c_id"), col("c_v"),
          cosineD(col("q_v"), col("c_v")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 16)
      short.groupBy(col("q_id"))
        .agg(collect_list(struct(col("c_id"), col("cos"), col("c_v"))).as("cands"))
        .select(col("q_id"),
          explode(org.apache.spark.sql.graft.MmrSelect(col("cands"), 5, 7, 3))
            .as("m"))
        .select(col("q_id"), col("m.sel_rank").as("sel_rank"),
          col("m.c_id").as("c_id"), col("m.rel_u").as("rel_u"),
          col("m.mmr_u7").as("mmr_u7"))
    }),

    // HYBRID RETRIEVAL with reciprocal-rank fusion — the RAG serving
    // composite: a lexical lane (inverted-index term join over the
    // documents table) and a vector lane (cosine top-k over the aligned
    // embeddings) each produce a per-query top-20, fused by RRF
    // (Cormack et al. SIGIR'09: score = Σ 1/(60+rank) over the lists a
    // candidate appears in) into the final top-10. Fixture convention:
    // doc_id i ↔ vec_id i; ids < 10 are the query batch, >= 10 the corpus
    // (the ss01 split).
    //
    // Numerics discipline: the lexical score is EXACT-INTEGER (Σ tf over
    // matched rare terms; the df*10 <= N rarity gate replaces idf — log()
    // is the one op that breaks cross-engine hash equality, the tx06
    // lesson), the vector rank rides the bit-exact cosine ordering ss01
    // already proves, and the RRF score is two exact integer→double
    // divisions plus one add — every float op correctly rounded IEEE,
    // identical in any engine. Ranks, not raw scores, cross lanes, which
    // is RRF's whole point: scale-free fusion needs no score calibration.
    //
    // Scale shape: the query batch is tiny by definition (a serve
    // request) — it BROADCASTs through the postings join, so the lexical
    // lane is one corpus-sized explode + tf agg (term-keyed, linear) with
    // no corpus-side shuffle beyond it; the rarity dictionary is
    // vocab-sized (unhinted join, tx10's discipline). The vector lane
    // here is the oracle-able brute-force tier; a deployment swaps in
    // ss08's partition-pruned served index unchanged — the fusion tail
    // only sees (q_id, c_id, rank) triples either way. Per-query top-k
    // windows partition across queries; the fusion full-outer join and
    // final window touch <= 40 rows per query.
    "ss11_hybrid_rrf" -> ((s, d) =>
      hybridRrf(s, d, emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id")))),

    // The SAME hybrid serve as a streaming endpoint: query ids arrive as
    // file-source micro-batches, each trigger runs the full two-lane
    // fusion for ITS batch inside foreachBatch (the ss09 production
    // shape — per-batch work is a full batch plan). The fusion is
    // per-query independent, so the drained union across triggers equals
    // the one-shot batch answer exactly — ss13 oracles against ss11's
    // SQL verbatim, and drift in either lane breaks both gates visibly.
    // r13: the lexical lane serves from the MATERIALIZED postings index
    // (lexLaneServed — per-batch work is a pruned bucket read + a
    // request-sized join, no corpus tokenize/aggregate per trigger; the
    // r12 shape re-scanned the whole corpus inside every foreachBatch).
    // The vector lane stays the brute tier — that is what keeps ss13
    // oracle-exact against ss11's SQL; the index-served vector lane's
    // streaming twin is ss09.
    "ss13_stream_hybrid_serve" -> ((s, d) => {
      val qsrc = emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      StreamingQueries.drainForeachBatch(s, Seq(
        qsrc.filter(col("vec_id") < 4),
        qsrc.filter(col("vec_id") >= 4)))(b =>
        hybridRrf(s, d, b.select(col("vec_id").as("q_id")), servedLex = true))
    }),

    // The PRODUCTION hybrid serve: BOTH lanes read materialized,
    // partition-pruned indexes. The vector lane reads ss08's
    // bucket-partitioned LSH index (top-20 among verified candidates);
    // the lexical lane (r13) reads the term-bucketed postings index
    // (lexIndexDir — rare-gated at build time, pruned to the request's
    // term buckets at serve time). Per-request work is proportional to
    // the REQUEST on both lanes; no corpus scan, no corpus aggregation.
    // Recall < 1 in the vector lane is the ANN trade (ss12 measures it);
    // the fusion arithmetic, tiebreaks, and the lexical SCORES are
    // byte-identical to ss11, and the oracle composes the lexical CTEs
    // with the FULL LSH mirror, so the fused answer is still hash-exact.
    "ss14_hybrid_index_serve" -> ((s, d) =>
      hybridServeIndexed(s, d, emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding")))),

    // The serving matrix completed (r13): BOTH lanes index-served per
    // micro-batch — the endpoint shape a deployment actually runs
    // (ss09 = streaming vector-only serve; ss13 = streaming fusion with
    // the brute vector lane that keeps it on ss11's oracle; ss15 = the
    // full production streaming serve). Each trigger derives LSH probe
    // keys AND term buckets from ITS batch, reads only those partitions
    // of the two materialized indexes, verifies, fuses. Per-query
    // independence makes the drained union equal batch ss14 exactly, so
    // ss15 oracles against ss14's SQL verbatim — lane drift breaks both
    // gates visibly (the ss13/ss11 discipline, one tier up).
    "ss15_stream_index_serve" -> ((s, d) => {
      val qsrc = emb(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      StreamingQueries.drainForeachBatch(s, Seq(
        qsrc.filter(col("vec_id") < 4),
        qsrc.filter(col("vec_id") >= 4)))(hybridServeIndexed(s, d, _))
    }),

    // ANN EVALUATION HARNESS — recall@k of the production index against
    // exact ground truth, the report every pipeline runs after (re)building
    // an ANN index and before switching serving to it: per query, how many
    // of the exact top-5 did the LSH lane return? Composes the two shipped
    // lanes verbatim (ss01 exact, ss02 LSH) — an eval op should measure
    // the production code path, not a reimplementation. Integer hit
    // counts + one final division (engine-exact); the join touches
    // O(queries·k) rows, so the harness adds nothing to either lane's
    // scale shape.
    "ss12_ann_recall_report" -> ((s, d) => {
      // r16 (VERDICT r15 item 7): both lanes compose over ONE pinned
      // corpus read instead of each re-scanning the embeddings parquet
      // (the r15 plan read it 6×: exact q/c + LSH probe/index/q_v/c_v).
      // IN-QUERY reuse only — the pin is lazy and lives inside this
      // query's own action, nothing crosses invocations. The lanes are
      // still the shipped code paths (cosineTopkOf/annLshTopkOf are
      // ss01/ss02's own bodies, parametrized over the source).
      val eP = emb(s, d).select(col("vec_id"), col("embedding"))
        .localCheckpoint(false)
      val exact = cosineTopkOf(eP).select(col("q_id"), col("c_id"))
      val ann = annLshTopkOf(eP)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      exact.join(ann, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("q_id"), col("n_exact"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_exact"), 6).as("recall_r"))
    }),

    // Per-label centroid norms — a coarse-quantization (IVF-style) summary:
    // centroid = mean vector per label, computed dimension-wise via
    // posexplode + re-aggregation (pure shuffle ops, linear scale).
    "ss03_label_centroids" -> ((s, d) => {
      val e = emb(s, d)
      // decimal-exact sums: order-independent across shuffle partitions,
      // identical in DuckDB (see Tables numeric policy)
      e.select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg((sum(col("x").cast("decimal(38,18)")).cast("double") / count(lit(1))).as("cx"),
          count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_dims"),
          round(sqrt(sum((col("cx") * col("cx")).cast("decimal(38,18)")).cast("double")), 6)
            .as("centroid_norm"),
          max(col("n")).as("n_vecs"))
    })
  )

  // ss02/ss08/ss09 are oracle-gated by a full SQL mirror of the LSH
  // algorithm (VERDICT r6 item 2): the hyperplane matrix is a pure
  // function of (tables, bits, dim, seed) and rides into the SQL as a
  // literal; signatures, radius-1 probes, the bucket join, and the
  // verify/top-k tail are recomputed by DuckDB from the fixtures alone.
  // ss09's drained stream equals batch ss08 by construction (per-batch
  // queries are disjoint and the serve is per-query independent).
  // fixture embedding dimensionality (asserted by the gate itself: a dim
  // change would hash-mismatch) — the shared constant, so every
  // plane-mirrored oracle points at one definition (ADVICE r13)
  private val lshDim = EmbeddingDim

  /** ss10's oracle: the greedy MMR loop UNROLLED one CTE pair per
    * selection step (the OracleMirror k-means discipline — a fixed
    * iteration count becomes a CTE chain). Mirror of MmrSelect's
    * determinism contract: every raw cosine quantizes ONCE to integer
    * 1e-6 units (`CAST(ROUND(cos * 1000000, 0) AS BIGINT)` ==
    * `MmrSelect.roundU(cos * 1e6)` on BOTH signs — half away from zero,
    * the r11 fix for the negative-.5-boundary divergence ADVICE r10
    * flagged), scoring is exact
    * integer arithmetic `7·rel_u − 3·sim_u`, ties break by c_id — so the
    * two engines take identical argmax branches. */
  private def mmrOracleSql(k: Int): String = {
    def sel(n: Int) = (1 to n).map(i => s"SELECT q_id, c_id FROM s$i")
      .mkString("(", " UNION ALL ", ")")
    val steps = (2 to k).map { i =>
      val prev = sel(i - 1)
      s"""
           r$i AS (
             SELECT sh.q_id, sh.c_id, sh.rel_u,
                    7 * sh.rel_u - 3 * MAX(p.sim_u) AS mmr_u7
             FROM short sh
             JOIN pair p ON p.q_id = sh.q_id AND p.b_id = sh.c_id
             JOIN $prev sd ON sd.q_id = p.q_id AND sd.c_id = p.a_id
             LEFT JOIN $prev ex ON ex.q_id = sh.q_id AND ex.c_id = sh.c_id
             WHERE ex.c_id IS NULL
             GROUP BY sh.q_id, sh.c_id, sh.rel_u),
           s$i AS (
             SELECT q_id, c_id, rel_u, mmr_u7 FROM r$i
             QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY mmr_u7 DESC, c_id) = 1)"""
    }.mkString(",")
    val out = (1 to k).map(i =>
      s"SELECT q_id, $i AS sel_rank, c_id, rel_u, CAST(mmr_u7 AS BIGINT) AS mmr_u7 FROM s$i")
      .mkString(" UNION ALL ")
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 10),
           c AS (SELECT vec_id AS c_id, v AS c_v FROM e WHERE vec_id >= 10),
           scored AS (
             SELECT q_id, c_id, c_v, list_cosine_similarity(q_v, c_v) AS cos
             FROM q CROSS JOIN c),
           short AS (
             SELECT q_id, c_id, c_v,
                    CAST(ROUND(cos * 1000000, 0) AS BIGINT) AS rel_u
             FROM scored
             QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY cos DESC, c_id) <= 16),
           pair AS (
             SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id,
                    CAST(ROUND(list_cosine_similarity(a.c_v, b.c_v) * 1000000, 0)
                      AS BIGINT) AS sim_u
             FROM short a JOIN short b
               ON a.q_id = b.q_id AND a.c_id <> b.c_id),
           s1 AS (
             SELECT q_id, c_id, rel_u, 7 * rel_u AS mmr_u7 FROM short
             QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY rel_u DESC, c_id) = 1),$steps
      $out"""
  }

  /** ss01's oracle, shared verbatim with ss12's exact lane. */
  private val ss01Sql = """
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id >= 10),
           scored AS (
             SELECT q_id, c_id, list_cosine_similarity(q.v, c.v) AS cos
             FROM q CROSS JOIN c),
           ranked AS (
             SELECT q_id, c_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY cos DESC, c_id) AS rank
             FROM scored)
      SELECT q_id, c_id, rank, ROUND(cos, 6) AS cos_r
      FROM ranked WHERE rank <= 5"""

  /** The hybrid serve's lexical-lane CTEs (lex = per-query top-20 ranks)
    * — shared by ss11/ss13's oracle and ss14's. */
  private val hybridLexCtes = """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      qt AS (SELECT doc_id AS q_id, UNNEST(list_distinct(ws)) AS term
             FROM d WHERE doc_id < 10),
      post AS (
        SELECT c_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id AS c_id, UNNEST(ws) AS term FROM d WHERE doc_id >= 10)
        GROUP BY c_id, term),
      dfq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
      nd AS (SELECT COUNT(*) AS n FROM d WHERE doc_id >= 10),
      rare AS (SELECT term FROM dfq, nd WHERE df * 10 <= n),
      ls AS (
        SELECT q_id, c_id, SUM(tf) AS lex_score, COUNT(*) AS n_match
        FROM qt JOIN rare USING (term) JOIN post USING (term)
        GROUP BY q_id, c_id),
      lexr AS (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY lex_score DESC, n_match DESC, c_id) AS lex_rank
        FROM ls),
      lex AS (SELECT q_id, c_id, lex_rank FROM lexr WHERE lex_rank <= 20)"""

  /** The RRF fusion tail over CTEs `lex` and `vec` — same two-division
    * arithmetic as [[rrfFuse]]. */
  private val hybridFuseTail = """,
      fused AS (
        SELECT COALESCE(lex.q_id, vec.q_id) AS q_id,
               COALESCE(lex.c_id, vec.c_id) AS c_id,
               lex.lex_rank, vec.vec_rank,
               COALESCE(CAST(1 AS DOUBLE) / (60 + lex.lex_rank), 0) +
               COALESCE(CAST(1 AS DOUBLE) / (60 + vec.vec_rank), 0) AS rrf
        FROM lex FULL OUTER JOIN vec
          ON lex.q_id = vec.q_id AND lex.c_id = vec.c_id),
      fr AS (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY rrf DESC, c_id) AS fused_rank,
               lex_rank, vec_rank, ROUND(rrf, 9) AS rrf_r
        FROM fused)
      SELECT q_id, c_id, fused_rank, lex_rank, vec_rank, rrf_r
      FROM fr WHERE fused_rank <= 10"""

  /** ss11's oracle — also ss13's: the drained per-batch union equals the
    * one-shot batch answer because the fusion is per-query independent. */
  private val ss11Sql = hybridLexCtes + """,
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      vs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               list_cosine_similarity(q.v, c.v) AS cos
        FROM e q CROSS JOIN e c WHERE q.vec_id < 10 AND c.vec_id >= 10),
      vecr AS (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, c_id) AS vec_rank
        FROM vs),
      vec AS (SELECT q_id, c_id, vec_rank FROM vecr WHERE vec_rank <= 20)""" +
    hybridFuseTail

  /** ss14's oracle — also ss15's (the streamed double-index serve drains
    * to the same per-query answers): lexical CTEs + the FULL LSH mirror
    * at k=20 as the vector lane + the shared fusion tail. */
  private val ss14Sql = hybridLexCtes + s""",
      vec AS (SELECT q_id, c_id, rank AS vec_rank
              FROM (${OracleMirror.lshTopKSql(
    "vec_id < 10", "vec_id >= 10", LshTables, LshBits, lshDim, k = 20)}))""" +
    hybridFuseTail

  val oracles: Map[String, String] = Map(
    "ss10_mmr_diversify" -> mmrOracleSql(5),

    "ss02_ann_lsh_topk" ->
      OracleMirror.lshTopKSql("vec_id < 10", "vec_id >= 10", LshTables, LshBits, lshDim),
    "ss08_ann_index_serve" ->
      OracleMirror.lshTopKSql("vec_id < 3", "vec_id >= 10", LshTables, LshBits, lshDim),
    "ss09_stream_ann_serve" ->
      OracleMirror.lshTopKSql("vec_id < 3", "vec_id >= 10", LshTables, LshBits, lshDim),

    // ss07's PQ pipeline is the same deterministic k-means, once per
    // subspace — the oracle re-trains all m sub-codebooks in SQL, encodes,
    // ADC-ranks, and re-ranks (nothing trained crosses from Spark over).
    "ss07_pq_topk" ->
      OracleMirror.pqTopKSql(PqM, PqSubDim, PqK, PqIters, PqShortlist),

    "ss04_ann_ivf_topk" -> s"""
      WITH ${OracleMirror.kmeansCtes(Clustering.K, Clustering.Iters)},
      qasg AS (SELECT vec_id AS q_id, cell FROM scF
               WHERE rn <= 2 AND vec_id < 10),
      casg AS (SELECT vec_id AS c_id, cell FROM asgF WHERE vec_id >= 10),
      cand AS (SELECT DISTINCT q_id, c_id FROM qasg JOIN casg USING (cell)),
      scored AS (
        SELECT q_id, c_id, list_cosine_similarity(q.v, c.v) AS cos
        FROM cand JOIN e q ON q.vec_id = q_id JOIN e c ON c.vec_id = c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, c_id) AS rank
        FROM scored)
      SELECT q_id, c_id, rank, ROUND(cos, 6) AS cos_r
      FROM ranked WHERE rank <= 5""",

    "ss01_cosine_topk" -> ss01Sql,

    // ANN evaluation harness: recall@5 of the LSH index (ss02's mirror)
    // against the exact top-5 (ss01's SQL), both lanes re-derived by
    // DuckDB from the fixtures alone — full-statement mirrors compose
    // as parenthesized subqueries
    "ss12_ann_recall_report" -> s"""
      WITH exact AS (SELECT q_id, c_id FROM ($ss01Sql)),
           ann AS (SELECT q_id, c_id FROM (${OracleMirror.lshTopKSql(
      "vec_id < 10", "vec_id >= 10", LshTables, LshBits, lshDim)}))
      SELECT e.q_id, COUNT(*) AS n_exact,
             CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits,
             ROUND(CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) / COUNT(*), 6) AS recall_r
      FROM exact e LEFT JOIN ann a
        ON e.q_id = a.q_id AND e.c_id = a.c_id
      GROUP BY e.q_id""",

    "ss05_radius_search" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 20)
      SELECT q_id, e.vec_id AS c_id,
             ROUND(list_cosine_similarity(q_v, e.v), 6) AS cos_r
      FROM q JOIN e ON q_id != e.vec_id
      WHERE list_cosine_similarity(q_v, e.v) >= 0.3""",

    // mirror of the quantizer math — floor/arithmetic are IEEE-exact in
    // both engines; the error sum rides the decimal-cast policy
    "ss06_scalar_quantization" -> """
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      sc AS (
        SELECT vec_id, label, v,
               GREATEST(list_max(v), -list_min(v)) / 127.0 AS scale
        FROM e),
      x AS (
        SELECT vec_id, label, scale, u.x AS x
        FROM sc, LATERAL (SELECT UNNEST(v) AS x) u),
      q AS (
        SELECT label, vec_id,
               CASE WHEN scale = 0 THEN 0.0 ELSE FLOOR(x/scale + 0.5) END AS q,
               CASE WHEN scale = 0 THEN 0.0
                    ELSE x - FLOOR(x/scale + 0.5) * scale END AS err
        FROM x)
      SELECT label, COUNT(DISTINCT vec_id) AS n_vecs,
             CAST(MAX(ABS(q)) AS BIGINT) AS max_abs_q,
             ROUND(SQRT(CAST(SUM(CAST(err * err AS DECIMAL(38,18))) AS DOUBLE)
               / COUNT(*)), 6) AS rmse
      FROM q GROUP BY label""",

    // same lanes, same tiebreaks, same two-division RRF arithmetic — the
    // lexical score is integer-exact and the cosine ordering bit-matches
    // (the ss01 precedent), so the fused ranks hash-match exactly
    "ss11_hybrid_rrf" -> ss11Sql,

    // the drained union across micro-batches equals the one-shot batch
    // answer (per-query-independent fusion) — the SAME SQL gates both,
    // so lane drift breaks both entries visibly
    "ss13_stream_hybrid_serve" -> ss11Sql,

    // the lexical CTEs verbatim + the FULL LSH mirror (k=20) as the
    // vector lane + the same fusion tail — nothing trained crosses over
    "ss14_hybrid_index_serve" -> ss14Sql,

    // the drained union across micro-batches equals one-shot batch ss14
    // (per-query-independent fusion) — the SAME SQL gates both (the
    // ss13/ss11 discipline applied to the double-index serve)
    "ss15_stream_index_serve" -> ss14Sql,

    "ss03_label_centroids" -> """
      WITH expl AS (
        SELECT label, u.dim - 1 AS dim, u.x
        FROM embeddings,
             LATERAL (SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS x,
                             generate_subscripts(embedding, 1) AS dim) u),
           cent AS (
        SELECT label, dim,
               CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS cx,
               COUNT(*) AS n
        FROM expl GROUP BY label, dim)
      SELECT label, COUNT(*) AS n_dims,
             ROUND(SQRT(CAST(SUM(CAST(cx * cx AS DECIMAL(38,18))) AS DOUBLE)), 6) AS centroid_norm,
             MAX(n) AS n_vecs
      FROM cent GROUP BY label"""
  )
}
