package graft.operators

import graft.Tables
import graft.functions.TextOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` fixture (SURVEY.md §2.3):
  * token counting, quality scoring, language-ID heuristics, fingerprints.
  * All per-document work is narrow (no shuffle); only the final rollups
  * shuffle — linear at any scale.
  */
object TextAnalysis {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** English-ish stopword markers used by the heuristics. */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  private def stopCount(ws: Column): Column =
    size(filter_function_stub(ws))

  // `filter` the SQL function collides with Dataset.filter in scope; alias.
  private def filter_function_stub(ws: Column): Column =
    org.apache.spark.sql.functions.filter(ws,
      w => w.isInCollection(stopwords))

  // forward references to vals defined below — lazy avoids init-order NPE
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ shingleQueries

  private lazy val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens + alpha-token regex count.
    "tx01_token_counts" -> ((s, d) => {
      docs(s, d)
        .select(col("source"),
          size(tokens(col("text"))).as("n_ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+")).as("n_alpha_tokens"),
          length(col("text")).as("n_chars_m"))
        .groupBy(col("source"))
        .agg(sum(col("n_ws_tokens")).as("sum_ws_tokens"),
          sum(col("n_alpha_tokens")).as("sum_alpha_tokens"),
          sum(col("n_chars_m")).as("sum_chars"),
          count(lit(1)).as("n_docs"))
    }),

    // Per-document quality scoring: length, mean word length, stopword
    // ratio, distinct-token ratio → composite score.
    "tx02_quality_scores" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("lang"),
        tokens(col("text")).as("ws"), length(col("text")).as("len"))
      t.select(col("doc_id"), col("lang"),
          size(col("ws")).as("n_tokens"),
          ((col("len") - size(col("ws")) + 1).cast("double") / size(col("ws")))
            .as("avg_word_len"),
          (stopCount(col("ws")).cast("double") / size(col("ws"))).as("stop_ratio"),
          (size(array_distinct(col("ws"))).cast("double") / size(col("ws")))
            .as("distinct_ratio"))
        .withColumn("quality",
          round(least(lit(1.0),
            (col("stop_ratio") * 2 + col("distinct_ratio")) *
              when(col("n_tokens") >= 20, 1.0).otherwise(0.5)), 6))
    }),

    // Language-ID heuristic (confusion matrix vs the labeled lang column):
    // stopword-marker ratio decides en vs other — the fixtures' text is
    // synthetic English-ish for every label, so the heuristic's behavior
    // (not its accuracy) is what's verified.
    "tx03_lang_id" -> ((s, d) => {
      val t = docs(s, d).select(col("lang"), tokens(col("text")).as("ws"))
      t.select(col("lang"),
          when(stopCount(col("ws")).cast("double") / size(col("ws")) >= 0.05, "en")
            .otherwise("other").as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // TF-IDF top terms per document (bounded subset). Scoring is the
    // log-free rational form cnt·N / (doclen·df) — log() is only
    // 1-ulp-accurate and differs between libm and Math.log, which would
    // break cross-engine hash equality; the pure product/quotient chain,
    // evaluated in the same order on both engines, is bit-exact. Shape:
    // one explode + three hash aggregations + broadcast-joined scalar.
    "tx06_tfidf" -> ((s, d) => {
      val toks = docs(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      // every corpus statistic derives from the ONE (doc, term) tf
      // aggregation: doclen = Σ tf per doc, df = row count per term
      // (tf rows are distinct in (doc, term) by construction), n = tf's
      // distinct docs — the former four direct references to `toks` each
      // re-ran the scan + tokenize + explode. The pin holds the
      // vocabulary-bounded tf table to one materialization for its three
      // readers; lazy, so the query is still one action.
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false)
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("cnt")).as("doclen"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nd = tf.agg(countDistinct(col("doc_id")).as("n"))
      val scored = tf.join(dl, "doc_id").join(df, "term")
        .crossJoin(broadcast(nd))
        .select(col("doc_id"), col("term"),
          (col("cnt").cast("double") * col("n") / col("doclen") / col("df")).as("score"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      scored.select(col("doc_id"), col("term"), col("score"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
    }),

    // Corpus-relative quality scoring (CCNet-style): a document's
    // common-token density = mean corpus frequency of its token
    // instances. Boilerplate scores high, rare-vocabulary docs low — the
    // corpus-statistics complement to tx02's intra-document ratios.
    // Numerics: the score is assembled from EXACT integer sums (token
    // instance counts) and divided once at the end — no float
    // accumulation, so the result is shuffle-order-independent and
    // engine-exact (the tx06 rational-scoring discipline). Shape: explode
    // → corpus tf agg → UNHINTED dictionary join (tx10's discipline: the
    // term-frequency table is vocabulary-sized — AQE broadcasts it while
    // small, shuffles on the token key at corpus scale; a hard hint would
    // die at the 8 GB broadcast cap) → per-doc integer sum → global
    // top-k (TakeOrderedAndProject). Linear at any scale.
    "tx08_common_token_density" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      // total instance count = Σ of the dictionary's counts: the
      // former direct toks.agg re-ran the corpus explode a third time to
      // produce one number the vocabulary-sized tf table already carries
      val nTotal = tf.agg(sum(col("cnt")).as("n_total"))
      toks.join(tf, "tok")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("sum_cnt"), count(lit(1)).as("n_tok"))
        .crossJoin(broadcast(nTotal))
        .select(col("doc_id"),
          round(col("sum_cnt").cast("double")
            / (col("n_tok") * col("n_total")), 9).as("density"),
          col("n_tok"))
        .orderBy(col("density").desc, col("doc_id"))
        .limit(20)
    }),

    // Deterministic train/val/test split: rank docs per source by content
    // hash (md5 — identical in every engine, unlike rand()), cut at
    // 80/90%. The standard reproducible-split op for training pipelines:
    // assignment depends only on content, never on partitioning or run
    // order. Two window passes + a rollup; linear at any scale.
    // The md5 rank rides Pipelines.groupPrefixScan (range-partition
    // two-level scan) instead of a per-source row_number window — the
    // old shape pulled EVERY doc of a source through one window task,
    // the serial bottleneck the prefix-scan primitive removes. The
    // doc_id tiebreak makes the Spark-side order total; the oracle
    // still ranks by md5 alone, which is sound because byte-identical
    // texts (the only possible md5 ties) carry identical n_chars, so
    // the per-(source, split) rollup is invariant to how a tie block
    // permutes across a split boundary. Source sizes come from the
    // scan's own max(cum) — the text is scanned ONCE.
    "tx07_hash_split" -> ((s, d) => {
      val keyed = docs(s, d).select(col("doc_id"), col("source"),
        col("n_chars"), md5(col("text").cast("binary")).as("h"))
      val ranked = Pipelines.groupPrefixScan(keyed, Seq("source"),
        Seq(col("h"), col("doc_id")), lit(1L))
      val counts = ranked.groupBy(col("source")).agg(max(col("cum")).as("cnt"))
      ranked.join(counts, Seq("source"))
        .select(col("source"), col("n_chars"),
          when((col("cum") - 1).cast("double") / col("cnt") < 0.8, "train")
            .when((col("cum") - 1).cast("double") / col("cnt") < 0.9, "val")
            .otherwise("test").as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // Document fingerprinting: md5 content hash + per-source uniqueness.
    "tx04_fingerprints" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"), col("source"),
          fingerprint(col("text")).as("fp"),
          substring(fingerprint(col("text")), 1, 8).as("fp_prefix"))
    }),

    // Repetition filtering (the Gopher/MassiveText repetition rules):
    // per-document max token frequency, duplicate-token coverage (how many
    // token instances belong to a token that repeats), and max bigram
    // frequency — the signals that gate boilerplate/spam out of a training
    // corpus. Shape: ZERO shuffle — each metric is a run-length fold over
    // the document's own sorted token/bigram array (functions.aggregate),
    // so the whole operator is map-side; at 100 TB it is a pure scan with
    // no exchange at all (the oracle computes the same metrics the
    // explode+groupBy way — two independent algorithms, one answer).
    "tx09_repetition" -> ((s, d) => {
      val ws = tokens(col("text"))
      val bg = org.apache.spark.sql.graft.TextSignatures.bigrams(ws)
      val tokStats = runLengthStats(sort_array(ws))
      val bgStats = runLengthStats(sort_array(bg))
      docs(s, d)
        .select(col("doc_id"),
          size(ws).cast("long").as("n_tokens"),
          size(array_distinct(ws)).cast("long").as("n_distinct"),
          tokStats.getField("max_run").cast("long").as("max_tok_freq"),
          tokStats.getField("dup_cov").cast("long").as("dup_coverage"),
          bgStats.getField("max_run").cast("long").as("max_bigram_freq"))
    }),

    // Boilerplate detection — tx09's INTER-document complement: how many
    // of a document's distinct bigrams also occur in OTHER docs of the
    // same source? Crawl boilerplate (nav bars, footers, templates)
    // repeats across a source's pages; novel prose doesn't. Pure integer
    // outputs (shared/total distinct bigrams), top-20 most templated
    // docs. Shape: distinct (source, bigram, doc) → per-(source, bigram)
    // doc frequency → join back on the SAME key (the dictionary is
    // corpus-sized, never broadcastable at 100 TB — unhinted, the join
    // co-partitions with the aggregation's exchange, and AQE still
    // broadcasts when the dictionary happens to be small) → per-doc
    // integer sums → global top-k (TakeOrderedAndProject). Linear.
    // LM COVERAGE SCORING — the CCNet/KenLM-shaped quality tier: score
    // held-out documents against n-gram statistics TRAINED on a reference
    // corpus (here the deterministic doc_id % 10 != 0 slice; production
    // swaps in Wikipedia). A fluent in-domain doc has high unigram
    // coverage (its tokens exist in the reference vocabulary) and high
    // bigram coverage (its transitions were seen in reference text);
    // gibberish and out-of-domain text score low on the second even when
    // the first is high — the signal CCNet's perplexity filter extracts,
    // here in exact-integer form (known-gram counts + one final division,
    // the tx06/tx08 rational-scoring discipline — no log(), which is only
    // 1-ulp accurate and breaks cross-engine hash equality).
    //
    // Scale design: the reference vocab and bigram dictionaries are
    // corpus-sized — both joins UNHINTED (tx10's discipline: AQE
    // broadcasts them while small, hash-shuffles on the gram key at 100
    // TB). Everything else is map-side explode + per-doc integer sums;
    // linear at any scale.
    "tx11_lm_coverage" -> ((s, d) => {
      val bg = org.apache.spark.sql.graft.TextSignatures.bigrams _
      val t = docs(s, d).select(col("doc_id"), tokens(col("text")).as("ws"))
      val train = t.filter(col("doc_id") % 10 =!= 0)
      val test = t.filter(col("doc_id") % 10 === 0)
      val vocab = train.select(explode(col("ws")).as("tok")).distinct()
        .withColumn("kt", lit(1L))
      val trainBg = train.select(explode(bg(col("ws"))).as("bg")).distinct()
        .withColumn("kb", lit(1L))
      val tokStats = test.select(col("doc_id"), explode(col("ws")).as("tok"))
        .join(vocab, Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(coalesce(col("kt"), lit(0L))).as("known_tok"))
      val bgStats = test.select(col("doc_id"), explode(bg(col("ws"))).as("bg"))
        .join(trainBg, Seq("bg"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bg"),
          sum(coalesce(col("kb"), lit(0L))).as("known_bg"))
      tokStats.join(bgStats, "doc_id")
        .select(col("doc_id"), col("n_tok").as("n_tokens"),
          round(col("known_tok").cast("double") / col("n_tok"), 6).as("token_cov"),
          round(col("known_bg").cast("double") / col("n_bg"), 6).as("bigram_cov"))
    }),

    // QUALITY RULE CASCADE — the Gopher/FineWeb-style ordered filter
    // gate with per-rule attribution: each doc is tested against the
    // rule chain (too_short → too_long → word_length → low_stopword →
    // repetition) and charged to the FIRST rule it fails; the report is
    // the per-source drop ledger a corpus curator reads before shipping
    // a filter config (which rule costs how much of which source). On
    // the fixtures: low_stopword and too_short fire, repetition rarely,
    // the length/word-length bounds are headroom (real-corpus rules kept
    // in the chain so the attribution order is the production one).
    //
    // Numerics: every rule is an INTEGER cross-multiplication
    // (stopc·20 < n, not stopc/n < 0.05; maxf·5 > n; 2n ≤ sumchars ≤
    // 12n via sumchars = len − (n−1)) — no ratio floats anywhere, so
    // the gate is engine- and shuffle-order-exact. The kept ratio is
    // the single final division. Shape: per-doc work is map-side
    // (tx09's zero-shuffle run-length kernel gives max token freq
    // without exploding); the only exchange is the K-source rollup.
    "tx14_rule_cascade" -> ((s, d) => {
      val ws = tokens(col("text"))
      val t = docs(s, d).select(col("source"),
        size(ws).cast("long").as("n"),
        stopCount(ws).cast("long").as("stopc"),
        runLengthStats(sort_array(ws)).getField("max_run").cast("long").as("maxf"),
        (length(col("text")) - (size(ws) - 1)).cast("long").as("sumch"))
      val ruled = t.withColumn("fail_rule",
        when(col("n") < 20, "too_short")
          .when(col("n") > 1000, "too_long")
          .when(col("sumch") < lit(2) * col("n") ||
            col("sumch") > lit(12) * col("n"), "word_length")
          .when(col("stopc") * 20 < col("n"), "low_stopword")
          .when(col("maxf") * 5 > col("n"), "repetition"))
      ruled.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("fail_rule").isNull, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("fail_rule") === "too_short", 1L).otherwise(0L))
            .as("n_too_short"),
          sum(when(col("fail_rule") === "too_long", 1L).otherwise(0L))
            .as("n_too_long"),
          sum(when(col("fail_rule") === "word_length", 1L).otherwise(0L))
            .as("n_word_length"),
          sum(when(col("fail_rule") === "low_stopword", 1L).otherwise(0L))
            .as("n_low_stopword"),
          sum(when(col("fail_rule") === "repetition", 1L).otherwise(0L))
            .as("n_repetition"))
        .withColumn("kept_ratio",
          round(col("n_kept").cast("double") / col("n_docs"), 6))
    }),

    // BPE MERGE TRAINING — the first R=6 merge rules of byte-pair
    // encoding (Sennrich et al. ACL'16), the tokenizer-training pass
    // every LLM corpus pipeline runs before packing. Classic type-table
    // formulation: the corpus reduces ONCE to (word type, freq) — rounds
    // then touch only the vocabulary-sized type table, never the corpus
    // (the Sennrich trick; at 100 TB the type table is millions of rows
    // where the corpus is trillions of tokens). Each round: count
    // adjacent symbol pairs weighted by word freq (map-side explode →
    // pair-keyed agg), pick the argmax under the total order
    // (count desc, pair asc), merge it greedily left-to-right in every
    // word. Words carry the end-of-word marker `_` so final and medial
    // units learn separately, as in the paper.
    //
    // The merge step is pure string algebra both engines share exactly:
    // double every separator, replace ' w1  w2 ' with ' w1w2 ', collapse
    // — the doubled gaps make consecutive matches disjoint, so the
    // result is the greedy non-overlapping left-to-right merge in ANY
    // replace-all implementation, and single spaces around the pattern
    // make token boundaries unforgeable (symbols are space-free).
    // Each round's type table and argmax pin via eager localCheckpoint —
    // the iterative-loop discipline of Dedup.starComponents: R rounds of
    // plan growth would otherwise re-embed every prior round's subplan at
    // each reference.
    "tx13_bpe_merges" -> ((s, d) => {
      val (merges, _) = bpeTrain(s, d)
      merges.reduce(_ union _)
        .select(col("round"), col("w1"), col("w2"),
          concat(col("w1"), col("w2")).as("merged"), col("cnt"))
    }),

    // BPE ENCODE — the APPLY side of tx13's training: every corpus token
    // tokenizes through the learned merge table (the trained type table
    // IS the encoder — applying R ordered merges to a word reproduces
    // its final symbol string, so encoding is a dictionary join, never a
    // per-token merge loop), reported as the per-source compression
    // ledger: symbols before (chars + end marker) vs after. The
    // train→apply closure a tokenizer pipeline ships: tx13 learns the
    // rules, tx15 proves they tokenize. One corpus explode + one
    // vocab-sized unhinted dictionary join (tx10's discipline) + the
    // K-source rollup; the type table is 100% hit by construction
    // (trained on the same corpus — a serving encoder adds an OOV
    // char-fallback branch, which the fixture cannot exercise).
    "tx15_bpe_encode" -> ((s, d) => {
      val (_, types) = bpeTrain(s, d)
      val enc = types.select(col("w"),
        size(split(col("sym"), " ")).cast("long").as("n_sym"))
      docs(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .join(enc, "w")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(col("w")) + 1).cast("long").as("n_sym_char"),
          sum(col("n_sym")).as("n_sym_bpe"))
        .withColumn("compression",
          round(col("n_sym_bpe").cast("double") / col("n_sym_char"), 6))
    }),

    // KNESER-NEY LM STATISTICS — the count tables an interpolated-KN
    // bigram model is built from (Kneser & Ney ICASSP'95; the KenLM
    // training pass over a corpus): per bigram c(w1 w2); per left word
    // the total continuation mass c(w1 •) and fan-out N1+(w1 •); per
    // right word the distinct-left-context count N1+(• w2) — KN's key
    // insight: a word's unigram backoff weight is how many CONTEXTS it
    // follows, not how often it occurs ("San Francisco" makes
    // "Francisco" frequent but single-context). Output: top-40 bigrams
    // by count with the interpolated-KN probability at discount 0.75.
    //
    // Numerics: every count is exact-integer; p_kn is a FIXED expression
    // per row (two subtractions/divisions, one multiply chain, one add —
    // each op correctly-rounded IEEE, no accumulation), written with the
    // identical tree on both engines — no log(), the tx06 discipline
    // (published KN uses log-space only to avoid underflow at query
    // time; the probabilities themselves are rational).
    //
    // Scale shape: one map-side pair explode → bigram-keyed agg; the w1
    // and w2 marginals re-aggregate the (already vocabulary²-bounded)
    // bigram table on each key — dictionary-sized exchanges, unhinted
    // joins (tx10's discipline); the type total is a scalar broadcast;
    // final top-k is TakeOrderedAndProject. Linear at any corpus size.
    "tx12_kn_lm_stats" -> ((s, d) => {
      val t = docs(s, d).select(tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2) // sequence() reverses below 2
      val pairs = t.select(explode(transform(
          sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      // pin the bigram-type table: it feeds the left/right marginal
      // aggregations, the type-count scalar, AND the final join — four
      // plan references, each of which re-ran the corpus pair explode +
      // count (column pruning gives each copy a different ReadSchema, so
      // exchange reuse never fires; 4 corpus passes measured in the
      // executed plan). Vocabulary²-bounded — the "round table" a KN-LM
      // build materializes; lazy, so no extra action.
      val bg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val left = bg.groupBy(col("w1"))
        .agg(sum(col("c")).as("c1"), count(lit(1)).as("n_right"))
      val right = bg.groupBy(col("w2")).agg(count(lit(1)).as("n_left"))
      val btypes = bg.agg(count(lit(1)).as("b"))
      bg.join(left, "w1").join(right, "w2").crossJoin(broadcast(btypes))
        .select(col("w1"), col("w2"), col("c"), col("c1"),
          col("n_right"), col("n_left"),
          round((col("c") - lit(0.75)) / col("c1") +
            (lit(0.75) * col("n_right") / col("c1")) *
              (col("n_left") / col("b")), 9).as("pkn_r"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(40)
    }),

    "tx10_boilerplate" -> ((s, d) => {
      val bgs = docs(s, d)
        .select(col("source"), col("doc_id"),
          explode(array_distinct(
            org.apache.spark.sql.graft.TextSignatures.bigrams(tokens(col("text")))))
            .as("bg"))
      // document frequency per (source, bigram): PIN the bigram table
      // (one corpus explode: an unpinned double reference re-runs it
      // per reference), then a partial→final groupBy count and a join
      // back on the bigram key, not a count window: a window would force a
      // boilerplate bigram shared by every doc of a source through ONE
      // window task AQE cannot split; the groupBy's map-side combine
      // bounds the hot key's shuffle to ≤ one row per map task, and the
      // join-back is AQE-skew-splittable. Rows are distinct in (source,
      // bg, doc_id) — array_distinct upstream — so the count equals
      // countDistinct(doc_id), and `shared` keys are unique, so the left
      // join preserves row counts. Identical output.
      val bgsP = bgs.localCheckpoint(false)
      val shared = bgsP.groupBy(col("source"), col("bg"))
        .agg(count(lit(1)).as("ndocs"))
        .filter(col("ndocs") > 1)
        .select(col("source"), col("bg"), lit(1L).as("sh"))
      bgsP.join(shared, Seq("source", "bg"), "left")
        .groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("sh").isNotNull, 1L).otherwise(0L)).as("n_shared"))
        .orderBy(col("n_shared").desc, col("doc_id"))
        .limit(20)
    })
  )

  /** Fold a SORTED array into (longest run, total elements in runs > 1) —
    * equal values are adjacent after the sort, so one linear pass gives
    * exact per-value frequencies without exploding the array into rows.
    * The map-side kernel behind tx09's repetition metrics. */
  private def runLengthStats(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0).as("run"),
        lit(0).as("mx"), lit(0).as("cov")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        // closing a run of length > 1 adds its length to the coverage
        val cov = when(x === st.getField("prev"), st.getField("cov"))
          .otherwise(st.getField("cov") +
            when(st.getField("run") > 1, st.getField("run")).otherwise(lit(0)))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("mx"), run).as("mx"), cov.as("cov"))
      },
      st => struct(
        st.getField("mx").as("max_run"),
        (st.getField("cov") +
          when(st.getField("run") > 1, st.getField("run")).otherwise(lit(0)))
          .as("dup_cov")))

  private val stopList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  // the same markers as a SQL IN tuple (tx14's oracle)
  private val stopList2 = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Character 3-gram (shingle) Jaccard near-dup pairs on a bounded subset:
    * the n-gram-level complement of the word-set family — robust to
    * whitespace/token boundary edits. Shingles hash to sorted long sets
    * (strings touched once); merge-walk Jaccard verifies. Spark `sequence`
    * REVERSES when stop < start, so short docs are filtered out before
    * shingling on both engines. */
  private lazy val shingleQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx05_shingle_jaccard" -> ((s, d) => {
      val sh = transform(sequence(lit(1), length(col("text")) - 2),
        i => col("text").substr(i, lit(3)))
      val w = docs(s, d)
        .filter(col("doc_id") < 200 && length(col("text")) >= 3)
        .select(col("doc_id"), tokenSetHashes(sh).as("shs"))
      val a = w.select(col("doc_id").as("a_id"), col("shs").as("a_shs"))
      val b = w.select(col("doc_id").as("b_id"), col("shs").as("b_shs"))
      a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          jaccardLong(col("a_shs"), col("b_shs")).as("jac"))
        .filter(col("jac") >= 0.6)
    })
  )

  /** tx13/tx15 shared training loop: R rounds of weighted-pair argmax +
    * greedy merge over the (word type, freq) table. Returns the per-round
    * argmax rows and the final type table (w, sym, freq) — the encoder.
    * Round state pins via eager localCheckpoint (the iterative-loop
    * discipline of [[Dedup.starComponents]]): R rounds of unpinned growth would re-embed every prior
    * round's subplan at each of its two references.
    *
    * One trained tokenizer per documents content and round count — the
    * codebookFor discipline: tx13 and tx15 consume the SAME model, so
    * training runs once, not once per query. Session-scoped: the
    * checkpointed type table is bound to the session that trained it. */
  private def bpeTrain(s: SparkSession, d: String,
      rounds: Int = 6): (Seq[DataFrame], DataFrame) =
    Materialized.sessionValue(s, "tx-bpe", Tables.path(d, "documents"), rounds)(
      bpeTrainUncached(s, d, rounds))

  private def bpeTrainUncached(s: SparkSession, d: String,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    var words = docs(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"),
        concat(trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" _"))
          .as("sym"), col("freq"))
      .localCheckpoint(true)
    import s.implicits._
    val merges = (1 to rounds).map { r =>
      // the 1-row argmax COLLECTS — this IS the round's materialization
      // (it replaces the former eager localCheckpoint, so the exhaustion
      // guard below costs no extra Spark action; a checkpoint+count
      // guard would bill tx13/tx15 one job per round,
      // +0.5 s at sf0.1): the winning pair is model-sized driver state,
      // the trainKMeans discipline
      val bestRows = words
        .select(col("freq"), split(col("sym"), " ").as("ss"))
        .filter(size(col("ss")) >= 2) // sequence() reverses below 2
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("ss")) - 1),
          i => struct(element_at(col("ss"), i).as("w1"),
            element_at(col("ss"), i + 1).as("w2")))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
        .collect()
      // exhaustion guard: an empty argmax would have made
      // the former crossJoin silently EMPTY the whole type table — and
      // the oracle degenerates identically, so the hash gate would stay
      // green on zeroed output. Fail loudly instead: `rounds` must not
      // exceed the corpus' mergeable-pair supply.
      require(bestRows.length == 1,
        s"bpeTrain: vocabulary exhausted at round $r of $rounds " +
          "(no adjacent symbol pair left to merge)")
      val (w1, w2, cnt) = (bestRows(0).getString(0),
        bestRows(0).getString(1), bestRows(0).getLong(2))
      // the merge pattern is a string LITERAL now — same doubled-
      // separator replace algebra, no broadcast join needed
      words = words
        .select(col("w"), trim(replace(replace(replace(
          concat(lit(" "), col("sym"), lit(" ")), lit(" "), lit("  ")),
          lit(" " + w1 + "  " + w2 + " "), lit(" " + w1 + w2 + " ")),
          lit("  "), lit(" "))).as("sym"), col("freq"))
        .localCheckpoint(true)
      Seq((r, w1, w2, cnt)).toDF("round", "w1", "w2", "cnt")
    }
    (merges, words)
  }

  /** tx13's oracle: the whole R-round BPE training loop re-run by DuckDB
    * from the fixture alone, one CTE triple (pair counts → argmax →
    * merged type table) per round — the k-means unrolled-chain pattern.
    * No trained value crosses over; the merge algebra is the identical
    * doubled-separator replace chain. */
  private def bpeCtes(rounds: Int): String = {
    val w0 = """
      WITH w0 AS (
        SELECT w,
               concat(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' _') AS sym,
               CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        WHERE w != '' GROUP BY w)"""
    val steps = (1 to rounds).map { r =>
      s"""
      p$r AS (
        SELECT ss[i] AS w1, ss[i + 1] AS w2, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (SELECT string_split(sym, ' ') AS ss, freq FROM w${r - 1}) t,
             UNNEST(range(1, LEN(ss))) AS u(i)
        GROUP BY w1, w2),
      b$r AS (SELECT $r AS round, w1, w2, cnt FROM p$r
              ORDER BY cnt DESC, w1, w2 LIMIT 1),
      w$r AS (
        SELECT w, trim(replace(replace(replace(' ' || sym || ' ', ' ', '  '),
                 ' ' || b.w1 || '  ' || b.w2 || ' ',
                 ' ' || b.w1 || b.w2 || ' '), '  ', ' ')) AS sym, freq
        FROM w${r - 1}, b$r b)"""
    }.mkString(",", ",", "")
    w0 + steps
  }

  private def bpeOracleSql(rounds: Int): String = {
    val tail = (1 to rounds)
      .map(r => s"SELECT round, w1, w2, w1 || w2 AS merged, cnt FROM b$r")
      .mkString("\n      UNION ALL ")
    bpeCtes(rounds) + "\n      " + tail
  }

  /** tx15's oracle: re-train (the same CTE chain), then tokenize the
    * corpus through the final type table and roll up per source. */
  private def bpeEncodeOracleSql(rounds: Int): String =
    bpeCtes(rounds) + s""",
      enc AS (SELECT w, CAST(LEN(string_split(sym, ' ')) AS BIGINT) AS n_sym
              FROM w$rounds),
      tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
      SELECT source, COUNT(*) AS n_tokens,
             CAST(SUM(LEN(w) + 1) AS BIGINT) AS n_sym_char,
             CAST(SUM(n_sym) AS BIGINT) AS n_sym_bpe,
             ROUND(CAST(SUM(n_sym) AS BIGINT)
                   / CAST(SUM(LEN(w) + 1) AS BIGINT), 6) AS compression
      FROM tok JOIN enc USING (w)
      WHERE w != '' GROUP BY source"""

  val oracles: Map[String, String] = Map(
    "tx13_bpe_merges" -> bpeOracleSql(6),
    "tx15_bpe_encode" -> bpeEncodeOracleSql(6),

    // same integer cross-multiplied rules, same CASE order; the token
    // stats come from an explode+agg pass (an independent second
    // algorithm vs the Spark side's map-side run-length kernel)
    "tx14_rule_cascade" -> s"""
      WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws,
                        LEN(text) AS len
                 FROM documents),
      x AS (SELECT doc_id, UNNEST(ws) AS w FROM t),
      c AS (SELECT doc_id, w, COUNT(*) AS c FROM x GROUP BY doc_id, w),
      agg AS (SELECT doc_id, MAX(c) AS maxf,
                     CAST(SUM(CASE WHEN w IN $stopList2 THEN c ELSE 0 END)
                          AS BIGINT) AS stopc,
                     CAST(SUM(c) AS BIGINT) AS n
              FROM c GROUP BY doc_id),
      r AS (SELECT source, n,
                   CASE WHEN n < 20 THEN 'too_short'
                        WHEN n > 1000 THEN 'too_long'
                        WHEN len - (n - 1) < 2 * n
                          OR len - (n - 1) > 12 * n THEN 'word_length'
                        WHEN stopc * 20 < n THEN 'low_stopword'
                        WHEN maxf * 5 > n THEN 'repetition'
                        END AS fail_rule
            FROM t JOIN agg USING (doc_id))
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN fail_rule IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(SUM(CASE WHEN fail_rule = 'too_short' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_too_short,
             CAST(SUM(CASE WHEN fail_rule = 'too_long' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_too_long,
             CAST(SUM(CASE WHEN fail_rule = 'word_length' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_word_length,
             CAST(SUM(CASE WHEN fail_rule = 'low_stopword' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_low_stopword,
             CAST(SUM(CASE WHEN fail_rule = 'repetition' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_repetition,
             ROUND(CAST(SUM(CASE WHEN fail_rule IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) / COUNT(*), 6) AS kept_ratio
      FROM r GROUP BY source""",

    // same split, same gram equivalence classes (space-joined bigrams over
    // space-split tokens are injective — tokens cannot contain spaces),
    // same integer sums + single final rounded division
    "tx11_lm_coverage" -> """
      WITH sp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           tr AS (SELECT ws FROM sp WHERE doc_id % 10 <> 0),
           te AS (SELECT doc_id, ws FROM sp WHERE doc_id % 10 = 0),
           vocab AS (SELECT DISTINCT UNNEST(ws) AS tok FROM tr),
           trbg AS (SELECT DISTINCT UNNEST(list_transform(range(2, LEN(ws) + 1),
                      i -> ws[i - 1] || ' ' || ws[i])) AS bg FROM tr),
           tetok AS (SELECT doc_id, UNNEST(ws) AS tok FROM te),
           tebg AS (SELECT doc_id, UNNEST(list_transform(range(2, LEN(ws) + 1),
                      i -> ws[i - 1] || ' ' || ws[i])) AS bg FROM te),
           ts AS (SELECT t.doc_id, COUNT(*) AS n_tok,
                         CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS known_tok
                  FROM tetok t LEFT JOIN vocab v ON t.tok = v.tok
                  GROUP BY t.doc_id),
           bs AS (SELECT t.doc_id, COUNT(*) AS n_bg,
                         CAST(SUM(CASE WHEN b.bg IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS known_bg
                  FROM tebg t LEFT JOIN trbg b ON t.bg = b.bg
                  GROUP BY t.doc_id)
      SELECT ts.doc_id, CAST(ts.n_tok AS BIGINT) AS n_tokens,
             ROUND(CAST(known_tok AS DOUBLE) / ts.n_tok, 6) AS token_cov,
             ROUND(CAST(known_bg AS DOUBLE) / bs.n_bg, 6) AS bigram_cov
      FROM ts JOIN bs ON ts.doc_id = bs.doc_id""",

    // independent algorithm: explode + per-(doc,token) counts vs the Spark
    // side's map-only run-length fold — same integers either way
    "tx09_repetition" -> """
      WITH sp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           toks AS (SELECT doc_id, UNNEST(ws) AS tok FROM sp),
           tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
           tstats AS (
             SELECT doc_id,
                    CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                    CAST(COUNT(*) AS BIGINT) AS n_distinct,
                    CAST(MAX(cnt) AS BIGINT) AS max_tok_freq,
                    CAST(COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT)
                      AS dup_coverage
             FROM tf GROUP BY 1),
           bgs AS (SELECT doc_id,
                          UNNEST(list_transform(range(2, LEN(ws) + 1),
                            i -> ws[i - 1] || ' ' || ws[i])) AS bigram
                   FROM sp),
           bf AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bgs GROUP BY 1, 2),
           bstats AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_bigram_freq
                      FROM bf GROUP BY 1)
      SELECT t.doc_id, t.n_tokens, t.n_distinct, t.max_tok_freq,
             t.dup_coverage, COALESCE(b.max_bigram_freq, 0) AS max_bigram_freq
      FROM tstats t LEFT JOIN bstats b USING (doc_id)""",

    // identical count tables and the identical p_kn expression tree —
    // 0.75 forced to DOUBLE (a bare literal is DECIMAL in DuckDB and
    // would route the arithmetic through decimal, not IEEE)
    "tx12_kn_lm_stats" -> """
      WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
           p AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
                 FROM t, UNNEST(range(1, LEN(toks))) AS u(i)),
           bg AS (SELECT w1, w2, COUNT(*) AS c FROM p GROUP BY w1, w2),
           l AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1,
                        COUNT(*) AS n_right
                 FROM bg GROUP BY w1),
           r AS (SELECT w2, COUNT(*) AS n_left FROM bg GROUP BY w2),
           b AS (SELECT COUNT(*) AS b FROM bg)
      SELECT w1, w2, c, c1, n_right, n_left,
             ROUND((c - CAST(0.75 AS DOUBLE)) / c1 +
                   (CAST(0.75 AS DOUBLE) * n_right / c1) * (n_left / b),
                   9) AS pkn_r
      FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN b
      ORDER BY c DESC, w1, w2 LIMIT 40""",

    "tx10_boilerplate" -> """
      WITH bgs AS (
        SELECT DISTINCT source, doc_id,
               UNNEST(list_transform(range(2, LEN(string_split(text, ' ')) + 1),
                 i -> string_split(text, ' ')[i - 1] || ' '
                      || string_split(text, ' ')[i])) AS bg
        FROM documents),
           df AS (
        SELECT source, bg, COUNT(DISTINCT doc_id) AS ndocs
        FROM bgs GROUP BY 1, 2)
      SELECT b.source, b.doc_id,
             COUNT(*) AS n_bigrams,
             CAST(SUM(CASE WHEN df.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
      FROM bgs b JOIN df USING (source, bg)
      GROUP BY 1, 2
      ORDER BY n_shared DESC, doc_id
      LIMIT 20""",

    // integer sums + single final division mirror the Spark side exactly
    "tx08_common_token_density" -> """
      WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents),
      tf AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      nt AS (SELECT COUNT(*) AS n_total FROM toks),
      per_doc AS (
        SELECT t.doc_id,
               CAST(SUM(tf.cnt) AS BIGINT) AS sum_cnt,
               COUNT(*) AS n_tok
        FROM toks t JOIN tf USING (tok)
        GROUP BY t.doc_id)
      SELECT doc_id,
             ROUND(CAST(sum_cnt AS DOUBLE) / (n_tok * nt.n_total), 9) AS density,
             n_tok
      FROM per_doc, nt
      ORDER BY density DESC, doc_id
      LIMIT 20""",

    "tx05_shingle_jaccard" -> """
      WITH w AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, LENGTH(text) - 1),
                 i -> SUBSTRING(text, i, 3))) AS sh
        FROM documents
        WHERE doc_id < 200 AND LENGTH(text) >= 3)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) AS jac
      FROM w a JOIN w b ON a.doc_id < b.doc_id
      WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) >= 0.6""",

    "tx06_tfidf" -> """
      WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        FROM documents WHERE doc_id < 100),
           tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
           dl AS (SELECT doc_id, COUNT(*) AS doclen FROM toks GROUP BY 1),
           df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
           nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
           scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.cnt AS DOUBLE) * nd.n / dl.doclen / df.df AS score
        FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN nd),
           ranked AS (
        SELECT doc_id, term, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rk
        FROM scored)
      SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3""",

    "tx07_hash_split" -> """
      WITH r AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text)) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM documents),
           s AS (
        SELECT source, n_chars,
               CASE WHEN CAST(rk - 1 AS DOUBLE) / cnt < 0.8 THEN 'train'
                    WHEN CAST(rk - 1 AS DOUBLE) / cnt < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM r)
      SELECT source, split, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM s
      GROUP BY 1, 2""",

    "tx01_token_counts" -> """
      SELECT source,
             CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
             CAST(SUM(LEN(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS sum_alpha_tokens,
             CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
             COUNT(*) AS n_docs
      FROM documents
      GROUP BY source""",

    "tx02_quality_scores" -> s"""
      WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws, LENGTH(text) AS len
        FROM documents),
           m AS (
        SELECT doc_id, lang,
               LEN(ws) AS n_tokens,
               CAST(len - LEN(ws) + 1 AS DOUBLE) / LEN(ws) AS avg_word_len,
               CAST(LEN(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE)
                 / LEN(ws) AS stop_ratio,
               CAST(LEN(list_distinct(ws)) AS DOUBLE) / LEN(ws) AS distinct_ratio
        FROM t)
      SELECT doc_id, lang, n_tokens, avg_word_len, stop_ratio, distinct_ratio,
             ROUND(LEAST(1.0,
               (stop_ratio * 2 + distinct_ratio) *
                 (CASE WHEN n_tokens >= 20 THEN 1.0 ELSE 0.5 END)), 6) AS quality
      FROM m""",

    "tx03_lang_id" -> s"""
      WITH t AS (SELECT lang, string_split(text, ' ') AS ws FROM documents)
      SELECT lang,
             CASE WHEN CAST(LEN(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE)
                       / LEN(ws) >= 0.05
                  THEN 'en' ELSE 'other' END AS predicted,
             COUNT(*) AS n_docs
      FROM t
      GROUP BY 1, 2""",

    "tx04_fingerprints" -> """
      SELECT doc_id, source,
             md5(TRIM(LOWER(text))) AS fp,
             SUBSTRING(md5(TRIM(LOWER(text))), 1, 8) AS fp_prefix
      FROM documents"""
  )
}
