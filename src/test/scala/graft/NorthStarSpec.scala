package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the north-star ops that have no SQL oracle (the driver
  * only rows-checks them): LSH candidate generation must not lose pairs.
  */
class NorthStarSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("north-star-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, sf).collect()

  test("minhash LSH finds exactly the ground-truth jaccard pairs (recall 1 on fixtures)") {
    val exact = rows("dd03_jaccard_pairs")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = rows("dd04_minhash_lsh_pairs")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies candidates with exact jaccard, so no false positives;
    // 20 bands × 8 rows (Dedup dd04) ⇒ P(miss | jac≥0.9) ≈ 1.3e-5 per pair
    // ⇒ <1 expected miss on the fixtures' threshold-edge pairs ⇒ equality
    // here (deterministic for the fixed seed + fixtures — the same claim
    // that justifies dd04's exact all-pairs DuckDB oracle)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    assert(exact == lsh,
      s"LSH missed ${exact.diff(lsh).size} of ${exact.size} ground-truth pairs")
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
  }

  test("prefix-filter join equals exact all-pairs ground truth (lossless)") {
    // sf0.001 has 500 docs, so dd03's bounded subset IS the full table
    val exact = rows("dd03_jaccard_pairs")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pj = rows("dd07_prefix_join")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pj == exact,
      s"prefix join missed ${exact.diff(pj).size}, extra ${pj.diff(exact).size}")
  }

  test("embedding LSH pairs: no false positives, usable recall vs exact ground truth") {
    val exact = rows("dd06_embedding_neardup")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = rows("dd08_embedding_lsh_pairs")
      .filter(r => r.getLong(0) < 500 && r.getLong(1) < 500)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification makes precision exact; recall is the LSH trade-off
    // (160 tables × 15 bits, radius-1 multi-probe ⇒ measured recall 0.84
    // at sf0.1, higher as cos → 1). Deterministic for the fixed seed +
    // fixtures.
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.7, s"LSH recall $recall (${lsh.size}/${exact.size})")
  }

  test("PQ top-k: usable recall vs exact cosine top-k, and codes compress") {
    val exact = rows("ss01_cosine_topk")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = rows("ss07_pq_topk")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.size == exact.size, "both are top-5 per query")
    // 4-byte codes (8 subspaces × 4-bit) against 512-byte float64
    // vectors: ADC recall can't be perfect; the bound is what the trained
    // 8×16 codebook + top-64 exact re-rank actually achieves on the
    // fixtures (deterministic training — the measured value is stable,
    // bounded with slack for fixture drift)
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"PQ recall@5 $recall (${pq.intersect(exact).size}/${exact.size})")
    // reconstruction sanity: decoded vectors point the way the originals
    // do — mean cosine(v, decode(encode(v))) across the corpus
    import graft.functions.VectorOps
    import graft.operators.Similarity.{PqM, PqSubDim, PqK, PqIters, pqCodebooks}
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v0"))
      .withColumn("nrm", VectorOps.norm(col("v0")))
      .select(col("vec_id"), transform(col("v0"), x => x / col("nrm")).as("v"))
      .filter(col("vec_id") >= 10)
    val cbs = pqCodebooks(spark, sf, PqM, PqSubDim, PqK, PqIters)
    val codes = array((0 until PqM).map(j =>
      element_at(org.apache.spark.sql.graft.NearestCells(
        slice(col("v"), j * PqSubDim + 1, PqSubDim), typedlit(cbs(j)), 1), 1)): _*)
    val recon = flatten(array((0 until PqM).map(j =>
      element_at(typedlit(cbs(j)), element_at(col("codes"), j + 1) + 1)): _*))
    val meanCos = e.select(col("v"), codes.as("codes"))
      .select(col("v"), recon.as("r"))
      .select(avg(VectorOps.cosineD(col("v"), col("r"))).as("c"))
      .collect()(0).getDouble(0)
    assert(meanCos >= 0.5, s"mean reconstruction cosine $meanCos")
  }

  test("ss08 index serving returns exactly ss02's results from the materialized index") {
    // same LSH config, same probes — reading the partitioned index table
    // must change WHERE the candidates come from, never WHAT they are
    val live = rows("ss02_ann_lsh_topk")
      .filter(_.getLong(0) < 3) // ss08 serves the 3-query batch
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val served = rows("ss08_ann_index_serve")
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(served == live,
      s"served diverges: extra=${served.diff(live).size} missing=${live.diff(served).size}")
  }

  test("ss09 streaming serve equals batch ss08 exactly (per-query top-k is batch-invariant)") {
    val batch = rows("ss08_ann_index_serve")
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val streamed = rows("ss09_stream_ann_serve")
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch,
      s"streaming serve diverges: extra=${streamed.diff(batch).size} " +
        s"missing=${batch.diff(streamed).size}")
    assert(batch.nonEmpty)
  }

  test("ANN serving answers query vectors that are NOT corpus rows") {
    // a serving endpoint's queries need not exist in the indexed corpus —
    // the serve path must score the request batch's own vector, not
    // re-fetch it by id (which silently dropped unknown ids)
    import graft.functions.VectorOps
    val probe = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") === 0)
      .select(lit(999999L).as("vec_id"),
        // stay in doubles: *1.5 is IEEE-exact there, so hyperplane signs
        // and cosine ranking provably match query 0's (a float
        // round-trip would add half-ulp noise and make the equality
        // below only probabilistic)
        transform(VectorOps.asDouble(col("embedding")), x => x * lit(1.5))
          .as("embedding"))
    val served = graft.operators.Similarity.serveLshTopK(spark, sf, probe).collect()
    assert(served.length == 5, s"expected top-5 for the foreign query, got ${served.length}")
    assert(served.forall(_.getLong(0) == 999999L))
    // scaling a vector leaves cosine unchanged: the foreign query must
    // rank exactly like corpus query 0 does in ss02/ss08 (same probes)
    val own = rows("ss08_ann_index_serve").filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(served.map(r => (r.getLong(1), r.getInt(2))).toSet == own,
      "scaled copy of query 0 must retrieve query 0's neighbors")
  }

  test("embedding LSH candidate volume is a small fraction of all pairs") {
    // The scale property VERDICT r2 flagged: the round-2 config (8 tables
    // × 4 bits) made ~41% of ALL pairs candidates — half a cross join.
    // The multi-probe config must keep the pre-verify candidate set small
    // while holding recall (bound above). Threshold physics (SCALE.md):
    // true pairs hug cos 0.4 where sign agreement is 0.63 vs 0.5 random,
    // so ~10% is the practical floor here — at real near-dup thresholds
    // (≥ 0.8) the same machinery reaches ≪ 1%.
    import graft.functions.VectorOps
    import graft.operators.Dedup.lshCandidatePairs
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
    val n = e.count()
    val candidates = lshCandidatePairs(e, tables = 160, bits = 15)
      .distinct().count()
    val allPairs = n * (n - 1) / 2
    val frac = candidates.toDouble / allPairs
    info(f"candidates=$candidates of $allPairs pairs ($frac%.4f)")
    assert(frac <= 0.15, f"candidate volume $frac%.4f of all pairs — blocking too loose")
    // the SCALE.md claim, measured: at a REAL near-dup threshold
    // (cos ≥ 0.8, per-bit agreement p ≈ 0.8 vs 0.63 at the fixture's
    // 0.4) the same machinery needs only a handful of tables and the
    // random-pair candidate volume collapses below 1%
    val cand8 = lshCandidatePairs(e, tables = 6, bits = 16)
      .distinct().count()
    val frac8 = cand8.toDouble / allPairs
    info(f"cos-0.8-tuned config (6×16, r1): candidates=$cand8 ($frac8%.4f)")
    assert(frac8 <= 0.01,
      f"high-threshold config should be sub-1%% of pairs, got $frac8%.4f")
  }

  test("dd13 production threshold: sub-1% candidates AND recall ≥0.9 near the threshold") {
    // VERDICT r4 item 2's two bounds on the SHIPPED production config
    // (6 tables × 16 bits, radius-1 — Dedup dd13). The query's own twins
    // sit at cos ≈ 0.99 (easy); this spec plants a HARDER set at
    // amplitude ‖v‖/32 → cos ≈ 0.94, just above the 0.8 threshold band
    // where near-dups actually live, and measures blocking recall there.
    // the SHIPPED planting and blocking kernels (Dedup.plantedCorpus /
    // lshCandidatePairs), only at the harder amplitude — re-implementing
    // them here would let the spec silently measure a stale construction
    val u = graft.operators.Dedup.plantedCorpus(spark, sf, amplitude = 32.0)
    val n = u.count()
    val cand = graft.operators.Dedup.lshCandidatePairs(u, tables = 6, bits = 16)
      .distinct()
      .persist()
    try {
      val candN = cand.count()
      val frac = candN.toDouble / (n * (n - 1) / 2)
      info(f"candidates=$candN of ${n * (n - 1) / 2} pairs ($frac%.5f)")
      assert(frac <= 0.01, f"production config candidate volume $frac%.5f above 1%%")
      // blocking recall on the cos≈0.94 planted pairs (deterministic for
      // the fixed seed; analytic expectation ~0.98 — each table collides
      // with P≈0.47, six tables miss together with P≈0.02)
      val nTrue = n / 2
      val found = cand.filter(col("b_id") === col("a_id") + 1000000L).count()
      val recall = found.toDouble / nTrue
      info(f"recall on cos≈0.94 planted pairs: $recall%.3f ($found/$nTrue)")
      assert(recall >= 0.9, f"blocking recall $recall%.3f below 0.9 near the threshold")
    } finally cand.unpersist()
    // and the shipped query recovers its own (cos≈0.99) twins exactly —
    // the measured-recall-1 claim its DuckDB oracle rests on
    val dd13 = rows("dd13_embedding_prod_neardup")
    assert(dd13.length.toLong == n / 2, s"dd13 returned ${dd13.length} pairs")
    assert(dd13.forall(r => r.getLong(1) == r.getLong(0) + 1000000L),
      "dd13 must return exactly the planted twin pairs")
  }

  test("dd15 star contraction: logarithmic rounds on the chain, dd09-identical labels") {
    val ss = spark
    import ss.implicits._
    // a 60-node path (diameter 59): star contraction halves distances per
    // alternation, so it must land inside ceil(log2(60)) + a small
    // constant
    val n = 60L
    val reps = (0L until n).toDF("rep_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("ra", "rb")
    val (labels, rounds) =
      graft.operators.Dedup.starComponentsWithRounds(reps, pairs)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n && got.forall(_._2 == 0L),
      s"single chain is one component with min label 0: ${got.filter(_._2 != 0L).take(5).toSeq}")
    info(s"star contraction converged in $rounds rounds on the 60-node chain")
    assert(rounds <= 9, s"star rounds must stay logarithmic, got $rounds")
    // and on the real fixture graph the two strategies agree exactly
    val viaStar = rows("dd15_cc_star").map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaProp = rows("dd09_dup_components").map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaStar == viaProp, "dd15 and dd09 must produce identical components")
  }

  test("pp05 planted contamination: copies flag with exact gram counts, unique text stays clean") {
    val ss = spark
    import ss.implicits._
    // a hand-built corpus where ground truth is computable by eye:
    // doc 0/50/100 are the benchmark slice (doc_id % 50 == 0); doc 3
    // copies benchmark text verbatim, doc 7 embeds a benchmark 4-gram
    // inside fresh text, doc 11 shares nothing
    val benchText = "alpha beta gamma delta epsilon zeta"
    val dir = java.nio.file.Files.createTempDirectory("pp05-planted").toString
    Seq(
      (0L, "src0", benchText),
      (50L, "src0", "one two three four five six seven"),
      (100L, "src0", "red orange yellow green blue indigo"),
      (3L, "src0", benchText), // verbatim copy: every gram shared
      (7L, "src0", "noise prefix alpha beta gamma delta suffix noise"),
      (11L, "src0", "totally unrelated words that overlap with nothing here")
    ).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("pp05_decontaminate")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    // benchmark docs are excluded from the audit table
    assert(got.keySet == Set(3L, 7L, 11L), got.toString)
    // verbatim copy: 6 tokens -> 3 distinct 4-grams, all shared
    assert(got(3L) == ((3L, 1)), s"verbatim copy: ${got(3L)}")
    // embedded gram: exactly one 4-gram (alpha beta gamma delta) matches
    assert(got(7L) == ((1L, 1)), s"embedded gram: ${got(7L)}")
    assert(got(11L) == ((0L, 0)), s"clean doc: ${got(11L)}")
  }

  test("dd12 cluster table is consistent with dd09 components (skew-safe terminal artifact)") {
    val comp = rows("dd09_dup_components")
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val clusters = rows("dd12_dedup_clusters")
    assert(clusters.length == comp.size, "one row per document")
    // comp_id agrees with dd09; n_members is the true component size
    val sizes = comp.groupBy(_._2).map { case (c, m) => (c, m.size.toLong) }
    clusters.foreach { r =>
      val (doc, rep, c, nm) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(comp(doc) == c, s"doc $doc: comp $c vs dd09 ${comp(doc)}")
      assert(sizes(c) == nm, s"comp $c: size $nm vs true ${sizes(c)}")
      assert(rep <= doc && comp(rep) == c,
        s"rep $rep must be a member of doc $doc's component")
    }
  }

  test("simhash chunk blocking is lossless for hamming <= 3 (pigeonhole)") {
    import graft.functions.TextOps
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), TextOps.simhash(TextOps.tokenSet(col("text"))).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        TextOps.hamming64(col("a_sh"), col("b_sh")).as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = rows("dd05_simhash_pairs")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute,
      s"blocking changed the result: missed ${brute.diff(blocked)}, extra ${blocked.diff(brute)}")
  }

  test("ann lsh candidates share buckets and score correctly; recall is reported") {
    val exact = rows("ss01_cosine_topk")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = rows("ss02_ann_lsh_topk")
    val annPairs = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.nonEmpty, "ANN should return candidates")
    // per-query at most 5 results with ranks 1..k
    val byQ = ann.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      assert(rs.length <= 5)
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
    }
    val recall = annPairs.intersect(exact).size.toDouble / exact.size
    info(f"ANN recall@5 vs exact top-5: $recall%.2f")
    // 8 tables × 6 bits with query-side radius-1 multi-probe: measured
    // 0.86 on the fixtures (deterministic for the fixed seed); the bound
    // leaves headroom for fixture regeneration, not for regressions back
    // to single-probe quality
    assert(recall >= 0.6, f"ANN recall $recall%.3f below the multi-probe bar")
  }

  test("ivf ann probes cells and reports recall") {
    val exact = rows("ss01_cosine_topk")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = rows("ss04_ann_ivf_topk")
    assert(ivf.nonEmpty)
    val byQ = ivf.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      assert(rs.length <= 5)
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
    }
    val recall = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(exact).size.toDouble / exact.size
    info(f"IVF recall@5 vs exact top-5: $recall%.2f")
    // r4: the trained k-means codebook (Clustering.trainKMeans) measures
    // 0.84 on the fixtures, up from the per-label stand-in; deterministic
    // training makes the number reproducible, the bar leaves headroom for
    // fixture regeneration only
    assert(recall >= 0.5, f"IVF recall $recall%.3f below the trained-codebook bar")
  }

  test("exact dedup keeps one representative per fingerprint") {
    val dd = rows("dd01_exact_dedup")
    assert(dd.length == Tables.load(spark, sf, "documents")
      .select(md5(trim(lower(col("text"))))).distinct().count().toInt)
  }

  test("ss13 streaming hybrid serve equals batch ss11 exactly (per-query fusion is batch-invariant)") {
    val batch = rows("ss11_hybrid_rrf").map(_.toSeq).toSet
    val drained = rows("ss13_stream_hybrid_serve").map(_.toSeq).toSet
    assert(drained == batch,
      s"missing ${batch.diff(drained).take(3)}, extra ${drained.diff(batch).take(3)}")
  }

  test("ss15 streaming double-index serve equals batch ss14 exactly") {
    // r13: the full production streaming serve (both lanes read their
    // materialized indexes per micro-batch) drains to the one-shot
    // batch answer — per-query-independent fusion, the ss13/ss11
    // equality one tier up
    val batch = rows("ss14_hybrid_index_serve").map(_.toSeq).toSet
    val drained = rows("ss15_stream_index_serve").map(_.toSeq).toSet
    assert(drained == batch,
      s"missing ${batch.diff(drained).take(3)}, extra ${drained.diff(batch).take(3)}")
  }

  test("ss14 index-served hybrid: fusion arithmetic exact, served lane cosine-ordered") {
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val got = rows("ss14_hybrid_index_serve").map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        r.getDouble(5)))
    assert(got.nonEmpty)
    // RRF arithmetic re-checked per row from the reported lane ranks
    got.foreach { case (_, _, _, l, v, rrf) =>
      val expect = l.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        v.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(rrf == BigDecimal(expect)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(l.nonEmpty || v.nonEmpty, "a fused row must come from a lane")
    }
    // fused ranks contiguous per query
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length))
    }
    // the served vector lane is cosine-ordered among its candidates
    // (rank order == exact cosine order with the c_id tiebreak) — the
    // invariant that survives LSH's recall < 1
    got.filter(_._5.nonEmpty).groupBy(_._1).foreach { case (q, rs) =>
      val ordered = rs.sortBy(_._5.get)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          val (ca, cb) = (cos(vecs(q), vecs(a._2)), cos(vecs(q), vecs(b._2)))
          assert(ca > cb || (ca == cb && a._2 < b._2),
            s"query $q: served ranks not cosine-ordered")
        case _ =>
      }
    }
    // and the lexical lane is shared with ss11 verbatim: lex-rank pairs
    // agree wherever both queries report them
    val lex11 = rows("ss11_hybrid_rrf")
      .flatMap(r => if (r.isNullAt(3)) None
        else Some((r.getLong(0), r.getLong(1)) -> r.getInt(3))).toMap
    got.foreach { case (q, c, _, l, _, _) =>
      l.foreach(lr => lex11.get((q, c)).foreach(lr11 => assert(lr == lr11)))
    }
  }

  test("ss12 recall report equals the independent intersection of its two lanes") {
    val exact = rows("ss01_cosine_topk")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = rows("ss02_ann_lsh_topk")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows("ss12_ann_recall_report")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == exact.map(_._1).toSet, "one row per query")
    got.foreach { case (q, nExact, nHits, recall) =>
      assert(nExact == 5L, s"query $q ground truth size")
      val hits = exact.filter(_._1 == q).count(ann.contains).toLong
      assert(nHits == hits, s"query $q hits")
      assert(recall == BigDecimal(hits.toDouble / 5)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // macro recall matches the standing LSH recall expectations
    val macroR = got.map(_._3).sum.toDouble / (5 * got.length)
    info(f"ANN recall@5 vs exact: $macroR%.3f")
    assert(macroR >= 0.7, f"LSH recall@5 $macroR%.3f below the multi-probe bar")
  }

  test("dd17 soft dedup: content-hash coin mirrors exactly, singletons always kept") {
    val ct = rows("dd12_dedup_clusters")
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def u48(t: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString, 16)
    val expectKeep = texts.keySet.filter { id =>
      val (_, n) = ct(id)
      u48(texts(id)) <= 281474976710655L / n
    }
    val got = rows("dd17_soft_dedup_sample")
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.map(_._1).toSet == expectKeep)
    got.foreach { case (id, comp, n, w) =>
      assert((comp, n) == ct(id), s"doc $id cluster row drifted")
      assert(w == BigDecimal(1.0 / n).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, s"doc $id weight")
    }
    // P(keep | singleton) = 1 exactly: threshold is 2^48-1, every u48 fits
    val singletons = ct.filter(_._2._2 == 1L).keySet
    assert(singletons.subsetOf(got.map(_._1).toSet), "a singleton was dropped")
    // the sample thins duplicated clusters: strictly fewer docs than input,
    // at least one per-cluster expectation's worth kept overall
    assert(got.length < texts.size && got.nonEmpty)
    // overflow guard: the integer-division threshold stays sane for a
    // duplicate-bomb cluster far past the u48*n overflow point
    val big = spark.sql(
      "SELECT 281474976710655L div CAST(1099511627776 AS BIGINT) AS thr")
      .head().getLong(0)
    assert(big == 255L, s"2^48-1 div 2^40 = $big")
  }

  test("ss11 hybrid RRF equals a single-threaded mirror of both lanes and the fusion") {
    // independent algorithm: plain Scala maps/sorts over the collected
    // fixtures (no DataFrames), same tiebreaks, same two-division RRF
    val docsRaw = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val embRaw = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val qDocs = docsRaw.filter(_._1 < 10)
    val cDocs = docsRaw.filter(_._1 >= 10)
    val toks = docsRaw.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val tf = cDocs.map { case (id, _) =>
      id -> toks(id).groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    }.toMap
    val dfm = tf.values.flatMap(_.keys).groupBy(identity).map { case (w, g) => w -> g.size }
    val n = cDocs.length
    val rare = dfm.filter { case (_, df) => df * 10 <= n }.keySet
    def topLex(q: Long): Seq[(Long, Int)] = {
      val qs = toks(q).distinct.filter(rare)
      cDocs.map(_._1).flatMap { c =>
        val hit = qs.filter(tf(c).contains)
        if (hit.isEmpty) None
        else Some((c, hit.map(tf(c)).sum, hit.size))
      }.sortBy { case (c, s, m) => (-s, -m, c) }.take(20)
        .zipWithIndex.map { case ((c, _, _), i) => (c, i + 1) }.toSeq
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      // sequential-order accumulation — ArrayDotProduct's contract
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) { dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1 }
      dab / (math.sqrt(daa) * math.sqrt(dbb))
    }
    val embM = embRaw.toMap
    def topVec(q: Long): Seq[(Long, Int)] =
      embRaw.filter(_._1 >= 10).map { case (c, v) => (c, cos(embM(q), v)) }
        .sortBy { case (c, s) => (-s, c) }.take(20)
        .zipWithIndex.map { case ((c, _), i) => (c, i + 1) }.toSeq
    val expect = qDocs.map(_._1).flatMap { q =>
      val lr = topLex(q).toMap
      val vr = topVec(q).toMap
      (lr.keySet ++ vr.keySet).toSeq.map { c =>
        val rrf = lr.get(c).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          vr.get(c).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (q, c, lr.get(c), vr.get(c), rrf)
      }.sortBy { case (_, c, _, _, rrf) => (-rrf, c) }.take(10)
        .zipWithIndex.map { case ((qq, c, l, v, rrf), i) =>
          (qq, c, i + 1, l, v, BigDecimal(rrf).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }.toSet
    val got = rows("ss11_hybrid_rrf").map { r =>
      (r.getLong(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        r.getDouble(5))
    }.toSet
    assert(got == expect,
      s"missing ${expect.diff(got).take(3)}, extra ${got.diff(expect).take(3)}")
    // each query's fused ranks are contiguous 1..k
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).toSeq.sorted == (1 to rs.size))
    }
  }
}
