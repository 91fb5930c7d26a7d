package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Independent brute-force cross-checks for the round-10 pipeline ops
  * (dd16 exact-substring coverage, pp07 chunking, tx11 LM coverage): each
  * query's distributed plan is re-computed in plain single-threaded Scala
  * from the raw fixture and compared row-for-row — a second algorithm on a
  * second engine-free path, on top of the driver's DuckDB oracle.
  */
class LlmOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("llm-ops-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // split-with-limit -1 matches Spark's split(text, " ") on empty tails
  private def docTokens(): Map[Long, Array[String]] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap

  private def md5Prefix16(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)

  test("dd16 substring coverage equals a single-threaded brute force") {
    val k = 8
    val toks = docTokens()
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    val wins = toks.view.mapValues { ts =>
      if (ts.length < k) Array.empty[String]
      else (0 to ts.length - k).map(i => ts.slice(i, i + k).mkString(" ")).toArray
    }.toMap
    wins.values.foreach(_.foreach(g => counts(g) = counts.getOrElse(g, 0) + 1))
    val expected = toks.map { case (id, ts) =>
      val dupPs = wins(id).zipWithIndex.collect {
        case (g, i) if counts(g) >= 2 => i + 1 // 1-based
      }
      val covered = dupPs.foldLeft((Int.MinValue / 2, 0L)) { case ((prev, cov), p) =>
        (p, cov + math.min(k.toLong, (p - prev).toLong))
      }._2
      id -> ((ts.length.toLong, dupPs.length.toLong, covered))
    }
    val got = SparkEntry.queries("dd16_substr_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (n, nw, cov)) =>
      val (gn, gnw, gcov, gratio) = got(id)
      assert(gn == n, s"doc $id n_tokens")
      assert(gnw == nw, s"doc $id n_dup_windows: got $gnw expected $nw")
      assert(gcov == cov, s"doc $id covered_tokens: got $gcov expected $cov")
      assert(math.abs(gratio - cov.toDouble / n) < 1e-6, s"doc $id dup_coverage")
      assert(gcov <= n, s"doc $id coverage cannot exceed doc length")
    }
    // the fixtures contain near-dup docs, so duplicated spans must exist
    assert(expected.values.exists(_._3 > 0), "fixture should have duplicated spans")
    // and some docs must be clean, or the coverage signal is degenerate
    assert(expected.values.exists(_._3 == 0), "fixture should have novel docs")
  }

  test("dd16 output stays O(docs) under a massively duplicated span (skew bomb)") {
    // every doc shares ONE 8-token span (the boilerplate worst case: its
    // window fingerprint occurs n times corpus-wide) — the count-back
    // join must emit one row per OCCURRENCE, never per pair, and the
    // audit table stays one row per doc with the span exactly covered
    val n = 3000L
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dd16skew").toString
    val dup = (0 until 8).map(j => s"dup$j").mkString(" ")
    (0L until n).map { i =>
      val uniq = (0 until 8).map(j => s"u${i}x$j").mkString(" ")
      (i, s"$dup $uniq", "en", "src0", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dd16_substr_dedup")(spark, dir).collect()
    assert(out.length == n, "one audit row per doc — O(n) output at any skew")
    out.foreach { r =>
      assert(r.getLong(1) == 16, s"doc ${r.getLong(0)} n_tokens")
      assert(r.getLong(2) == 1, "exactly the shared window is duplicated")
      assert(r.getLong(3) == 8, "exactly the span's 8 tokens are covered")
    }
  }

  test("pp07 chunks cover every token exactly, overlap by C-S, and hash correctly") {
    val (c, s) = (64, 48)
    val toks = docTokens()
    val rows = SparkEntry.queries("pp07_chunk_overlap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == toks.keySet, "every doc must be chunked")
    byDoc.foreach { case (id, chunks) =>
      val n = toks(id).length
      val sorted = chunks.sortBy(_._2)
      // chunk ids are 0..m-1 with the exact integer-ceil count
      val expectM = 1 + (if (n > c) (n - c + s - 1) / s else 0)
      assert(sorted.map(_._2).toSeq == (0L until expectM.toLong),
        s"doc $id chunk ids")
      sorted.foreach { case (_, j, start, len, fp) =>
        assert(start == j * s + 1, s"doc $id chunk $j start")
        assert(len == math.min(c.toLong, n - j * s), s"doc $id chunk $j len")
        assert(len > 0, s"doc $id chunk $j must be non-empty")
        val slice = toks(id).slice(start.toInt - 1, (start + len - 1).toInt)
        assert(fp == md5Prefix16(slice.mkString(" ")), s"doc $id chunk $j fp")
      }
      // full coverage: last chunk reaches the last token, consecutive
      // chunks overlap by exactly C-S while both are full-size
      val last = sorted.last
      assert(last._3 + last._4 - 1 == n, s"doc $id must be covered to the end")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val aEnd = a._3 + a._4 - 1
          assert(b._3 <= aEnd + 1, s"doc $id gap between chunks ${a._2}/${b._2}")
        case _ =>
      }
    }
  }

  test("pp09 band-decomposed budget selection equals the naive running sum") {
    // single-threaded mirror of the ORACLE shape — one quality-ordered
    // running sum per source — against the shipped band-bucketed
    // two-level scan, proving the decomposition independently of DuckDB
    val stop = Set("the", "a", "of", "and", "to", "in", "is")
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def quality(ws: Array[String]): Double = {
      val sr = ws.count(stop).toDouble / ws.length
      val dr = ws.distinct.length.toDouble / ws.length
      q6(math.min(1.0, (sr * 2 + dr) * (if (ws.length >= 20) 1.0 else 0.5)))
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
    val expected = docs.groupBy(_._2).iterator.flatMap { case (_, ds) =>
      val ordered = ds
        .map { case (id, src, ws) => (id, src, quality(ws), ws.length.toLong) }
        .sortBy { case (id, _, q, _) => (-q, id) }
      ordered.scanLeft(0L) { case (cum, (_, _, _, n)) => cum + n }.tail
        .zip(ordered).map { case (cum, (id, src, q, n)) =>
          id -> ((src, q, n, cum, if (cum <= 640L) 1 else 0))
        }
    }.toMap
    val got = SparkEntry.queries("pp09_token_budget_select")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4),
          r.getInt(5)))).toMap
    assert(got.keySet == expected.keySet, "every doc must get an audit row")
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id audit row")
    }
  }

  test("groupPrefixScan equals a single-threaded scan on adversarial groups") {
    // the primitive under pp09/pp12/tx07, pinned DIRECTLY (the per-op
    // twins above prove each composition; this proves the scan itself)
    // on the shapes the range decomposition must survive: a group that
    // dwarfs every shuffle partition, a singleton, a tie bomb (every
    // order key equal — the scanned order is pure id tiebreak), and
    // zero weights (cum must repeat, not skip)
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(421L)
    val rows = Seq.newBuilder[(String, Long, Long, Long)]
    var id = 0L
    def add(g: String, n: Int, ord: () => Long, w: () => Long): Unit =
      (1 to n).foreach { _ =>
        id += 1; rows += ((g, id, ord(), w()))
      }
    add("big", 3000, () => rnd.nextLong(1000), () => rnd.nextLong(100))
    add("one", 1, () => 7L, () => 13L)
    add("tie", 500, () => 42L, () => rnd.nextLong(5)) // ~20% zero weights
    val data = rnd.shuffle(rows.result())
    val expected = data.groupBy(_._1).iterator.flatMap { case (_, gs) =>
      val ordered = gs.sortBy { case (_, i, o, _) => (o, i) }
      ordered.scanLeft(0L) { case (c, (_, _, _, w)) => c + w }.tail
        .zip(ordered).map { case (cum, (_, i, _, _)) => i -> cum }
    }.toMap
    val df = spark.createDataFrame(data).toDF("g", "id", "ord", "w")
    val got = graft.operators.Pipelines
      .groupPrefixScan(df, Seq("g"), Seq(col("ord"), col("id")), col("w"))
      .select("id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == expected.keySet, "every row must get a cum")
    expected.foreach { case (i, e) =>
      assert(got(i) == e, s"row $i running total")
    }
  }

  test("pp12 prefix-scan shard ordinals equal a single-threaded row number") {
    // mirror of the ORACLE shape — md5-keyed shard + per-shard rank in
    // (h, doc_id) order — against the shipped groupPrefixScan rank,
    // proving the two-level decomposition independently of DuckDB
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val expected = ids.map(id => (id, md5Hex(id.toString)))
      .groupBy { case (_, h) => h.head.toInt % 8 }
      .iterator.flatMap { case (shard, ds) =>
        ds.sortBy { case (id, h) => (h, id) }.zipWithIndex.map {
          case ((id, _), i) => id -> ((shard, i + 1L))
        }
      }.toMap
    val got = SparkEntry.queries("pp12_shard_order")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet, "every doc must get a shard slot")
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id (shard, shard_pos)")
    }
    // the slots of each shard are a contiguous 1..n — the property the
    // loader relies on (no gaps, no double-booked positions)
    got.values.groupBy(_._1).foreach { case (shard, slots) =>
      val ps = slots.map(_._2).toArray.sorted
      assert(ps.sameElements(1L to ps.length.toLong), s"shard $shard slots")
    }
  }

  test("pp13 upsample copies equal a single-threaded multiplicity mirror") {
    // mirror of the ORACLE shape — skewed domain rollup, inverse-sqrt
    // share multiplicity clamped to [1,4], md5-rank fractional extras,
    // 1..n_copies expansion — in the same IEEE double ops Spark runs
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDomain = docs.groupBy { case (_, src) =>
      "d" + math.floor(math.sqrt(src.drop(3).toInt.toDouble)).toLong
    }
    val mn = byDomain.values.map(_.length).max.toDouble
    val expected = byDomain.iterator.flatMap { case (dom, ds) =>
      val n = ds.length.toDouble
      val mult = math.min(4.0, math.max(1.0, math.sqrt(mn / n)))
      val base = math.floor(mult).toLong
      val extraK = math.floor((mult - math.floor(mult)) * n).toLong
      ds.sortBy { case (id, _) => (md5Hex(id.toString), id) }
        .zipWithIndex.flatMap { case ((id, src), i) =>
          val copies = base + (if (i + 1 <= extraK) 1L else 0L)
          (1L to copies).map(c => (id, src, dom, copies, c))
        }
    }.toSet
    val got = SparkEntry.queries("pp13_source_upsample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected, "epoch-assignment rows")
  }

  test("ss10 MMR diversification equals a single-threaded greedy brute force") {
    // the exact arithmetic shape of VectorOps.cosineD / MmrSelect.simU:
    // sequential-order dot products, dot / (sqrt * sqrt), ONE integer
    // quantization to 1e-6 units
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def cosU(a: Array[Double], b: Array[Double]): Long =
      org.apache.spark.sql.graft.MmrSelect.roundU(cos(a, b) * 1e6)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val qs = vecs.keySet.filter(_ < 10)
    val cs = vecs.keySet.filter(_ >= 10)
    val expected = qs.flatMap { qid =>
      val shortlist = cs.toSeq
        .map(c => (c, cos(vecs(qid), vecs(c))))
        .sortBy { case (id, c) => (-c, id) }.take(16)
        .map { case (id, c) =>
          (id, org.apache.spark.sql.graft.MmrSelect.roundU(c * 1e6)) }
      var selected = Vector.empty[(Long, Int, Long, Long)]
      var remaining = shortlist
      for (r <- 1 to 5) {
        val scored = remaining.map { case (id, relU) =>
          val score =
            if (r == 1) 7L * relU
            else 7L * relU -
              3L * selected.map(s => cosU(vecs(s._1), vecs(id))).max
          (id, relU, score)
        }
        val best = scored.minBy { case (id, _, sc) => (-sc, id) }
        selected :+= ((best._1, r, best._2, best._3))
        remaining = remaining.filterNot(_._1 == best._1)
      }
      selected.map { case (id, r, relU, mmr) => (qid, r) -> ((id, relU, mmr)) }
    }.toMap
    val got = SparkEntry.queries("ss10_mmr_diversify")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, e) =>
      assert(got(k) == e, s"query/rank $k: got ${got(k)} expected $e")
    }
    // on the planted near-dup fixtures diversification must actually
    // change something vs plain top-5 for some query, or the op is inert
    val top5 = qs.map { qid =>
      qid -> cs.toSeq.map(c => (c, cos(vecs(qid), vecs(c))))
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    val mmr5 = qs.map { qid =>
      qid -> expected.collect { case ((q, _), (id, _, _)) if q == qid => id }.toSet
    }.toMap
    assert(qs.exists(qid => top5(qid) != mmr5(qid)),
      "MMR should diverge from plain top-5 somewhere on the fixtures")
  }

  test("mmr_select matches the greedy brute force on random candidate sets") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(42)
    val sp = spark; import sp.implicits._
    val cases = Seq.tabulate(60) { ci =>
      val cands = Seq.fill(2 + rng.nextInt(15)) {
        // every ~6th candidate is degenerate — a zero-norm or EMPTY
        // vector (cosine undefined; the pinned contract treats it as
        // orthogonal: sim 0, no diversity penalty either way) — so the
        // greedy must stay deterministic through NaN-free integer paths
        val v = rng.nextInt(6) match {
          case 0 => Array.fill(8)(0.0)
          case 1 => Array.empty[Double]
          case _ => Array.fill(8)(rng.nextGaussian())
        }
        (rng.nextInt(100000).toLong, rng.nextDouble() * 2 - 1, v)
      }.distinctBy(_._1)
      (ci.toLong, cands)
    }
    def cosU(a: Array[Double], b: Array[Double]): Long = {
      val m = math.min(a.length, b.length)
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { na += a(i) * a(i); i += 1 }
      i = 0
      while (i < b.length) { nb += b(i) * b(i); i += 1 }
      i = 0
      while (i < m) { d += a(i) * b(i); i += 1 }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn == 0.0) 0L
      else org.apache.spark.sql.graft.MmrSelect.roundU(d / nn * 1e6)
    }
    val expected = cases.map { case (ci, cands) =>
      val byId = cands.map(c => c._1 -> c._3).toMap
      var selected = Vector.empty[(Long, Long, Long)]
      var remaining = cands.map(c =>
        (c._1, org.apache.spark.sql.graft.MmrSelect.roundU(c._2 * 1e6)))
      for (_ <- 1 to math.min(5, cands.size)) {
        val scored = remaining.map { case (id, relU) =>
          val sc = if (selected.isEmpty) 7L * relU
            else 7L * relU - 3L * selected.map(s => cosU(byId(s._1), byId(id))).max
          (id, relU, sc)
        }
        val best = scored.minBy { case (id, _, sc) => (-sc, id) }
        selected :+= best
        remaining = remaining.filterNot(_._1 == best._1)
      }
      ci -> selected
    }.toMap
    val got = cases
      .flatMap { case (ci, cands) => cands.map(c => (ci, c._1, c._2, c._3.toSeq)) }
      .toDF("case_id", "id", "cos", "v")
      .groupBy(col("case_id"))
      .agg(collect_list(struct(col("id"), col("cos"), col("v"))).as("cands"))
      .select(col("case_id"),
        explode(org.apache.spark.sql.graft.MmrSelect(col("cands"), 5, 7, 3)).as("m"))
      .select(col("case_id"), col("m.c_id"), col("m.sel_rank"),
        col("m.rel_u"), col("m.mmr_u7"))
      .collect()
      .groupBy(_.getLong(0))
    expected.foreach { case (ci, sel) =>
      val rows = got(ci).sortBy(_.getInt(2))
        .map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toVector
      assert(rows == sel.map { case (id, relU, mmr) => (id, relU, mmr) },
        s"case $ci: got $rows expected $sel")
    }
  }

  test("MmrSelect.roundU: half away from zero on both signs, NaN to 0") {
    // the quantizer the whole determinism contract hangs on (ADVICE r10:
    // Java's half-UP Math.round diverges from DuckDB's half-away ROUND on
    // exact negative .5 boundaries)
    import org.apache.spark.sql.graft.MmrSelect.roundU
    assert(roundU(2.5) == 3L && roundU(-2.5) == -3L)
    assert(roundU(2.4) == 2L && roundU(-2.4) == -2L)
    assert(roundU(0.5) == 1L && roundU(-0.5) == -1L)
    assert(roundU(0.0) == 0L && roundU(-0.0) == 0L)
    // ALL non-finite inputs pin to 0 — ±Inf through plain Math.round
    // would be ±Long.MaxValue and overflow the integer scoring
    assert(roundU(Double.NaN) == 0L)
    assert(roundU(Double.PositiveInfinity) == 0L)
    assert(roundU(Double.NegativeInfinity) == 0L)
    assert(Math.round(-2.5) == -2L, "if Java changes semantics, revisit")
  }

  test("tx11 LM coverage equals a single-threaded brute force") {
    val toks = docTokens()
    val train = toks.filter(_._1 % 10 != 0)
    val test = toks.filter(_._1 % 10 == 0)
    val vocab = train.values.flatten.toSet
    val trainBg = train.values.flatMap(ts => ts.sliding(2).filter(_.length == 2)
      .map(_.mkString(" "))).toSet
    val got = SparkEntry.queries("tx11_lm_coverage")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == test.keySet.filter(id => test(id).length >= 2))
    test.foreach { case (id, ts) =>
      if (ts.length >= 2) {
        val knownTok = ts.count(vocab.contains)
        val bgs = ts.sliding(2).map(_.mkString(" ")).toArray
        val knownBg = bgs.count(trainBg.contains)
        val (n, tokCov, bgCov) = got(id)
        assert(n == ts.length, s"doc $id n_tokens")
        assert(math.abs(tokCov - knownTok.toDouble / ts.length) < 1e-6,
          s"doc $id token_cov")
        assert(math.abs(bgCov - knownBg.toDouble / bgs.length) < 1e-6,
          s"doc $id bigram_cov")
      }
    }
    // the held-out docs share the synthetic vocabulary, so unigram
    // coverage should be high while bigram coverage varies — the signal
    assert(got.values.map(_._2).min > 0.5, "vocab coverage should be high")
  }

  test("pp14 DSIR selection equals a single-threaded importance mirror") {
    // the exact arithmetic shape of the distributed plan: exact-integer
    // bucket masses, two IEEE divisions + one subtraction per doc, rank
    // threshold with tie closure — recomputed from the raw fixture
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val target = Set("src0", "src1", "src2", "src3")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val grams = docs.map { case (id, src, text) =>
      val ts = text.split(" ", -1)
      val bs =
        if (ts.length < 2) Array.empty[String]
        else ts.sliding(2).map(p => md5Hex(p(0) + " " + p(1)).take(3)).toArray
      (id, src, bs)
    }
    val rc = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val tc = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    grams.foreach { case (_, src, bs) =>
      bs.foreach { b =>
        rc(b) += 1L
        if (target(src)) tc(b) += 1L
      }
    }
    val rr = rc.values.sum
    val tt = grams.iterator.filter(g => target(g._2)).map(_._3.length.toLong).sum
    val scored = grams.map { case (id, src, bs) =>
      val n = bs.length.toLong
      val sT = bs.map(tc).sum + n
      val sR = bs.map(rc).sum + n
      val score = sT.toDouble / (tt + 4096L).toDouble -
        sR.toDouble / (rr + 4096L).toDouble
      (id, src, n, sT, sR, score)
    }
    val k = (docs.length + 3) / 4
    val thr = scored.map(_._6).sorted(Ordering[Double].reverse).apply(k - 1)
    val expected = scored.map { case (id, src, n, sT, sR, score) =>
      (id, src, n, sT, sR, score, if (score >= thr) 1 else 0)
    }.toSet
    val got = SparkEntry.queries("pp14_dsir_select")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getInt(6))).toSet
    assert(got == expected, "scored/selected rows")
    // the quota property the threshold rule guarantees: at least K docs
    // selected, and dropping the θ tie-run would fall below K
    val sel = expected.count(_._7 == 1)
    assert(sel >= k, s"selected $sel < quota $k")
    assert(sel - expected.count(t => t._7 == 1 && t._6 == thr) < k,
      "the θ tie-run must be needed to meet the quota")
  }

  test("pp16 curriculum order equals a single-threaded banded sort") {
    val stop = Set("the", "a", "of", "and", "to", "in", "is")
    val docsRaw = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val banded = docsRaw.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val n = ws.length
      val q = BigDecimal(math.min(1.0,
        (ws.count(stop).toDouble / n * 2 + ws.distinct.length.toDouble / n) *
          (if (n >= 20) 1.0 else 0.5)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, math.min(9L, math.floor(q * 10).toLong), md5hex(text), n.toLong)
    }
    val expect = banded.sortBy { case (id, band, h, _) => (-band, h, id) }
      .zipWithIndex
      .map { case ((id, band, _, n), i) => (id, band, i + 1L, n) }.toSet
    val got = SparkEntry.queries("pp16_curriculum_order")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect,
      s"missing ${expect.diff(got).take(3)}, extra ${got.diff(expect).take(3)}")
    // schedule invariants: positions are a permutation of 1..n, and the
    // band sequence is non-increasing along the curriculum
    val byPos = got.toSeq.sortBy(_._3)
    assert(byPos.map(_._3) == (1L to got.size).toSeq)
    byPos.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 >= b._2, "curriculum must be easy->hard")
      case _ =>
    }
  }

  test("pp15 dataset card equals a single-threaded per-source rollup") {
    val docsRaw = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val expect = docsRaw.groupBy(_._1).map { case (src, rs) =>
      val toks = rs.map(_._3.split(" ", -1))
      val nTok = toks.map(_.length.toLong)
      val unique = rs.map(r => md5Prefix16(r._3)).distinct.length.toLong
      val sumTok = nTok.sum
      val sumD = toks.map(_.distinct.length.toLong).sum
      (src, rs.length.toLong, sumTok, rs.map(_._3.length.toLong).sum,
        nTok.min, nTok.max, unique, rs.map(_._2).distinct.length.toLong,
        BigDecimal(1.0 - unique.toDouble / rs.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(sumD.toDouble / sumTok)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = SparkEntry.queries("pp15_dataset_card")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getDouble(8), r.getDouble(9))).toSet
    assert(got == expect, s"missing ${expect.diff(got)}, extra ${got.diff(expect)}")
    // the card's invariants: dup_ratio in [0,1), diversity in (0,1],
    // uniques never exceed docs, bounds bracket the mean
    got.foreach { case (_, nd, nt, _, mn, mx, nu, _, dr, dv) =>
      assert(nu <= nd && mn <= mx && mn * nd <= nt && nt <= mx * nd)
      assert(dr >= 0 && dr < 1 && dv > 0 && dv <= 1)
    }
  }

  test("tx14 rule cascade equals a single-threaded first-failing-rule mirror") {
    val stop = Set("the", "a", "of", "and", "to", "in", "is")
    val docsRaw = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val ruled = docsRaw.map { case (src, text) =>
      val ws = text.split(" ", -1)
      val n = ws.length.toLong
      val stopc = ws.count(stop).toLong
      val maxf = ws.groupBy(identity).values.map(_.length).max.toLong
      val sumch = text.length - (n - 1)
      val rule =
        if (n < 20) "too_short"
        else if (n > 1000) "too_long"
        else if (sumch < 2 * n || sumch > 12 * n) "word_length"
        else if (stopc * 20 < n) "low_stopword"
        else if (maxf * 5 > n) "repetition"
        else null
      (src, rule)
    }
    val expect = ruled.groupBy(_._1).map { case (src, rs) =>
      val by = rs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val kept = by.getOrElse(null, 0L)
      (src, rs.length.toLong, kept, by.getOrElse("too_short", 0L),
        by.getOrElse("too_long", 0L), by.getOrElse("word_length", 0L),
        by.getOrElse("low_stopword", 0L), by.getOrElse("repetition", 0L),
        BigDecimal(kept.toDouble / rs.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = SparkEntry.queries("tx14_rule_cascade")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(7), r.getDouble(8))).toSet
    assert(got == expect, s"missing ${expect.diff(got)}, extra ${got.diff(expect)}")
    // the ledger balances: every doc is kept or charged to exactly one rule
    got.foreach { case (_, nd, k, a, b, c, dd, e, _) =>
      assert(k + a + b + c + dd + e == nd)
    }
    // the gate discriminates on the fixture (not all-kept, not all-dropped)
    assert(got.exists(_._3 > 0) && got.exists(t => t._2 > t._3))
  }

  /** The classic list-walk BPE (Sennrich et al.), no string algebra — an
    * independent second implementation of the merge semantics. Returns
    * the per-round merges and the final per-word symbolization. */
  private def bpeMirror(rounds: Int)
      : (Set[(Int, String, String, String, Long)], Map[String, Vector[String]]) = {
    val freq = new scala.collection.mutable.HashMap[String, Long]()
    docTokens().values.foreach(_.foreach(w =>
      if (w.nonEmpty) freq.updateWith(w)(c => Some(c.getOrElse(0L) + 1))))
    var words: Map[String, (Vector[String], Long)] =
      freq.map { case (w, f) => w -> ((w.map(_.toString).toVector :+ "_", f)) }.toMap
    val merges = (1 to rounds).map { r =>
      val pc = new scala.collection.mutable.HashMap[(String, String), Long]()
      words.values.foreach { case (sym, f) =>
        sym.sliding(2).foreach { p =>
          if (p.length == 2)
            pc.updateWith((p(0), p(1)))(c => Some(c.getOrElse(0L) + f))
        }
      }
      val ((x, y), c) = pc.minBy { case ((a, b), n) => (-n, a, b) }
      words = words.map { case (w, (sym, f)) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < sym.length) {
          if (i < sym.length - 1 && sym(i) == x && sym(i + 1) == y) {
            out += (x + y); i += 2
          } else { out += sym(i); i += 1 }
        }
        w -> ((out.result(), f))
      }
      (r, x, y, x + y, c)
    }.toSet
    (merges, words.view.mapValues(_._1).toMap)
  }

  test("tx13 BPE merges equal a single-threaded pair-merge mirror") {
    val (expect, _) = bpeMirror(6)
    val got = SparkEntry.queries("tx13_bpe_merges")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got == expect, s"expected $expect\ngot $got")
    // the rules are a usable tokenizer seed: all counts positive and
    // monotone non-increasing is NOT required (merged symbols create new
    // pairs), but every chosen pair must have been the round's max
    assert(got.forall(_._5 > 0))
  }

  test("tx15 BPE encode equals the mirror's per-source symbol rollup") {
    val (_, enc) = bpeMirror(6)
    val bySrc = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty))
    val expect = bySrc.map { case (src, ws) =>
      (src, ws.length.toLong, ws.map(_.length.toLong + 1).sum,
        ws.map(w => enc(w).length.toLong).sum)
    }.toSet
    val got = SparkEntry.queries("tx15_bpe_encode")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect, s"missing ${expect.diff(got)}, extra ${got.diff(expect)}")
    // six merges must actually compress: every source strictly below the
    // character baseline (compression < 1), and never below 1 symbol/word
    val full = SparkEntry.queries("tx15_bpe_encode")(spark, sf).collect()
    full.foreach { r =>
      val (nTok, nChar, nBpe, c) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nBpe < nChar && nBpe >= nTok, r.toString)
      assert(c > 0 && c < 1, s"compression $c")
    }
  }

  test("tx12 KN statistics equal a single-threaded count mirror") {
    val toks = docTokens()
    val bgCounts = new scala.collection.mutable.HashMap[(String, String), Long]()
    toks.values.foreach { ts =>
      var i = 0
      while (i < ts.length - 1) {
        bgCounts.updateWith((ts(i), ts(i + 1)))(c => Some(c.getOrElse(0L) + 1)); i += 1
      }
    }
    val c1 = bgCounts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nRight = bgCounts.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val nLeft = bgCounts.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val b = bgCounts.size.toLong
    val expect = bgCounts.toSeq
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }.take(40)
      .map { case ((w1, w2), c) =>
        val pkn = (c - 0.75) / c1(w1) +
          (0.75 * nRight(w1) / c1(w1)) * (nLeft(w2).toDouble / b)
        (w1, w2, c, c1(w1), nRight(w1), nLeft(w2),
          BigDecimal(pkn).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
    val got = SparkEntry.queries("tx12_kn_lm_stats")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    assert(got == expect,
      s"missing ${expect.diff(got).take(3)}, extra ${got.diff(expect).take(3)}")
    // KN sanity on the real corpus: every probability in (0, 1], and the
    // continuation insight holds — n_left (distinct contexts) never
    // exceeds the raw bigram count mass
    got.foreach { case (_, _, c, cc1, _, nl, p) =>
      assert(p > 0 && p <= 1.0, s"p_kn $p out of range")
      assert(c <= cc1 && nl <= b)
    }
  }
}
