package graft.operators

import org.apache.spark.sql.catalyst.expressions.XXH64

/** Generators for DuckDB oracle SQL that mirrors graft's deterministic
  * model-based operators EXACTLY — algorithm for algorithm, not
  * approximation-for-approximation, so the ANN rows carry full
  * rows+schema+hash gates instead of `no_oracle`.
  *
  * Two mirrors:
  *
  *  1. Random-hyperplane LSH (ss02/ss08/ss09): the hyperplane matrix is a
  *     pure function of (tables, bits, dim, seed) — the same
  *     XXH64-derived rationals `RandomHyperplaneLshProbes` materializes —
  *     so it is embedded in the SQL as a literal (seed-derived constants,
  *     like embedding pi; nothing data- or result-derived). Signatures,
  *     radius-1 probes, the bucket equi-join, and the verify/top-k tail
  *     are then re-computed by DuckDB from the fixture parquet alone.
  *  2. Lloyd's k-means (cl01/ss04/dd10): training is deterministic
  *     (fixed seed rows, fixed iteration count, decimal-exact centroid
  *     sums — `Clustering.trainKMeans`), and a FIXED iteration count
  *     unrolls into a plain (non-recursive) CTE chain: assign → update,
  *     `iters` times, entirely from the fixture data. The oracle re-runs
  *     the whole training loop in SQL; no trained value crosses over.
  *
  * Bit-exactness ground: DuckDB's `list_inner_product` accumulates in
  * sequential array order — measured bit-identical to the JVM loops in
  * `ArrayDotProduct`/`NearestCells`/`RandomHyperplaneLshProbes` (0/1000
  * random 64-dim mismatches) — and every embedded double is printed via
  * `Double.toString` (shortest round-trip form) with an `E0` exponent
  * forced so DuckDB parses it as DOUBLE, not DECIMAL (a bare 17-digit
  * decimal literal truncates: measured 240/2000 round-trip failures
  * without the exponent, 0 with it).
  */
private[graft] object OracleMirror {

  /** One double, formatted to parse back to the identical bit pattern. */
  private def dlit(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.contains("E")) s else s + "E0"
  }

  /** The (tables·bits) × dim hyperplane matrix as SQL VALUES rows
    * `(pid, pv DOUBLE[])` — component (p, j) exactly as
    * `RandomHyperplaneLshProbes.planesFor` draws it. */
  private def planesValues(tables: Int, bits: Int, dim: Int, seed: Long): String =
    (0 until tables * bits).map { p =>
      val comps = (0 until dim).map { j =>
        val h = XXH64.hashLong(p.toLong << 32 | j, seed)
        dlit(((h % 1000001L + 1000001L) % 1000001L).toDouble / 500000.0 - 1.0)
      }.mkString(",")
      s"($p,[$comps])"
    }.mkString(",")

  /** Radius-1 probe masks for `bits` sign bits: the bucket itself plus
    * every single-bit flip. */
  private def flipValues(bits: Int): String =
    (0 +: (0 until bits).map(1 << _)).map(f => s"($f)").mkString(",")

  /** Full mirror of the ss02/ss08/ss09 LSH top-k pipeline: signatures on
    * both sides, radius-1 multi-probe on the query side, bucket
    * equi-join, id-distinct candidates, exact-cosine verify, top-5 per
    * query (ties toward the lower candidate id) — identical to
    * `Similarity.serveLshTopK` / the ss02 query.
    *
    * @param queryPred  SQL predicate choosing the query vectors
    * @param corpusPred SQL predicate choosing the indexed corpus side
    */
  def lshTopKSql(queryPred: String, corpusPred: String,
      tables: Int, bits: Int, dim: Int, seed: Long = 42L,
      k: Int = 5): String = s"""
      WITH planes(pid, pv) AS (VALUES ${planesValues(tables, bits, dim, seed)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sig AS MATERIALIZED (
        SELECT vec_id, pid // $bits AS tbl,
               CAST(SUM(CASE WHEN list_inner_product(v, pv) >= 0
                             THEN 1 << (pid % $bits) ELSE 0 END) AS BIGINT) AS bucket
        FROM e CROSS JOIN planes
        GROUP BY vec_id, pid // $bits),
      idx AS (
        SELECT vec_id AS c_id, (tbl << $bits) | bucket AS tbk
        FROM sig WHERE $corpusPred),
      probe AS (
        SELECT DISTINCT vec_id AS q_id, (tbl << $bits) | xor(bucket, f) AS tbk
        FROM sig, (VALUES ${flipValues(bits)}) fl(f)
        WHERE $queryPred),
      cand AS (SELECT DISTINCT q_id, c_id FROM probe JOIN idx USING (tbk)),
      scored AS (
        SELECT q_id, c_id, list_cosine_similarity(q.v, c.v) AS cos
        FROM cand JOIN e q ON q.vec_id = q_id JOIN e c ON c.vec_id = c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, c_id) AS rank
        FROM scored)
      SELECT q_id, c_id, rank, ROUND(cos, 6) AS cos_r
      FROM ranked WHERE rank <= $k"""

  /** CTE chain mirroring `Dedup.lshCandidatePairs` + the exact-cosine
    * verify (cl04's eps-graph): signatures on every vector, radius-1
    * multi-probe, bucket equi-join with `a < b`, id-distinct candidates,
    * then the cosine floor. Emits CTEs `planes`, `e` (the `pred`-capped
    * embeddings slice), `sig`, `idx`, `probe`, `cand`, and `$pairsCte(a,
    * b, cos)` — the verified eps-edge list a consumer (cl04's DBSCAN
    * tail, cl05's per-point top-k cap) reads; `cos` rides along for
    * consumers that rank edges (cl05). Distinct-before-verify here vs
    * Spark's verify-before-distinct is set-equivalent (the verify is a
    * pure per-pair predicate). `pairsCte` renames the terminal CTE so a
    * consumer can interpose its own `p` before the shared DBSCAN tail. */
  def lshPairsCtes(pred: String, tables: Int, bits: Int, dim: Int,
      thr: Double, seed: Long = 42L, pairsCte: String = "p"): String = s"""
      planes(pid, pv) AS (VALUES ${planesValues(tables, bits, dim, seed)}),
      e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE $pred),
      sig AS MATERIALIZED (
        SELECT vec_id, pid // $bits AS tbl,
               CAST(SUM(CASE WHEN list_inner_product(v, pv) >= 0
                             THEN 1 << (pid % $bits) ELSE 0 END) AS BIGINT) AS bucket
        FROM e CROSS JOIN planes
        GROUP BY vec_id, pid // $bits),
      idx AS (SELECT vec_id AS b, (tbl << $bits) | bucket AS tbk FROM sig),
      probe AS (
        SELECT DISTINCT vec_id AS a, (tbl << $bits) | xor(bucket, f) AS tbk
        FROM sig, (VALUES ${flipValues(bits)}) fl(f)),
      cand AS (SELECT DISTINCT a, b FROM probe JOIN idx USING (tbk) WHERE a < b),
      $pairsCte AS (SELECT c.a, c.b, list_cosine_similarity(ea.v, eb.v) AS cos
            FROM cand c
            JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b
            WHERE list_cosine_similarity(ea.v, eb.v) >= ${dlit(thr)})"""

  /** CTE chain re-running `Clustering.trainKMeans(e, k, iters)` and
    * assigning every vector its trained cell: emits CTEs `e`, `cb0` …
    * `cb$iters`, `scF` (every (vec, cell) ranked by final-codebook score,
    * `rn` = 1 is the nearest cell — `rn <= n` is NearestCells nprobe=n),
    * and `asgF` (vec_id → cell, nprobe=1). Callers append their own
    * consumer SELECT.
    *
    * Mirrored semantics, step for step: init = the k lowest-vec_id
    * vectors (cells in vec_id order); score = dot(v, c) · (1/√dot(c, c))
    * with zero-norm cells scoring 0 and ties toward the lower cell;
    * centroid update = per-dimension DECIMAL(38,18)-exact mean; empty
    * cells keep their previous centroid (the COALESCE left join). */
  def kmeansCtes(k: Int, iters: Int): String = {
    def scoreExpr(cb: String) =
      s"""list_inner_product(e.v, $cb.cv) *
             (CASE WHEN list_inner_product($cb.cv, $cb.cv) > 0
                   THEN CAST(1 AS DOUBLE) / SQRT(list_inner_product($cb.cv, $cb.cv))
                   ELSE CAST(0 AS DOUBLE) END)"""
    def ranked(prev: String, name: String) = s"""
      $name AS MATERIALIZED (
        SELECT e.vec_id, $prev.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY ${scoreExpr(prev)} DESC, $prev.cell) AS rn
        FROM e CROSS JOIN $prev)"""
    def asg(prev: String, name: String) = s"""
      ${ranked(prev, name + "_sc")},
      $name AS MATERIALIZED (SELECT vec_id, cell FROM ${name}_sc WHERE rn = 1)"""
    val steps = (1 to iters).map { i =>
      val prev = s"cb${i - 1}"
      s"""${asg(prev, s"asg$i")},
      up$i AS MATERIALIZED (
        -- join BEFORE the LATERAL: a comma-join with a correlated UNNEST
        -- makes DuckDB nest-loop the full (asg x e) cross product before
        -- filtering (measured 48 s per iteration at 4k rows; ~0.1 s this way)
        SELECT j.cell, u.dim,
               CAST(SUM(CAST(u.x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS cx
        FROM (SELECT a.cell, e.v FROM asg$i a JOIN e ON e.vec_id = a.vec_id) j,
             LATERAL (SELECT UNNEST(j.v) AS x,
                             generate_subscripts(j.v, 1) AS dim) u
        GROUP BY j.cell, u.dim),
      cb$i AS MATERIALIZED (
        SELECT p.cell, COALESCE(n.cv, p.cv) AS cv
        FROM $prev p LEFT JOIN
             (SELECT cell, list(cx ORDER BY dim) AS cv
              FROM up$i GROUP BY cell) n
        ON p.cell = n.cell)"""
    }.mkString(",")
    s"""
      e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cb0 AS MATERIALIZED (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               v AS cv
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k) seeds),
      $steps,
      ${ranked(s"cb$iters", "scF")},
      asgF AS MATERIALIZED (SELECT vec_id, cell FROM scF WHERE rn = 1)"""
  }

  /** CTE chain re-running `Similarity.pqCodebooks` + the ss07 PQ search:
    * unit-normalize, slice into `m` subspaces, train each subspace's
    * k-cell codebook with the same unrolled Lloyd loop (corpus side only,
    * vec_id >= 10), encode the corpus, reconstruct (codes → concatenated
    * sub-centroids), ADC-rank against the query side, shortlist, exact
    * re-rank. Emits the final consumer SELECT directly (q_id, c_id, rank,
    * cos_r). Same mirrored semantics as [[kmeansCtes]], with `sub` joined
    * into every partition/group key. */
  def pqTopKSql(m: Int, subDim: Int, k: Int, iters: Int,
      shortlist: Int): String = {
    def scoreExpr(cb: String) =
      s"""list_inner_product(es.sv, $cb.cv) *
                 (CASE WHEN list_inner_product($cb.cv, $cb.cv) > 0
                       THEN CAST(1 AS DOUBLE) / SQRT(list_inner_product($cb.cv, $cb.cv))
                       ELSE CAST(0 AS DOUBLE) END)"""
    def asg(prev: String, name: String) = s"""
      $name AS MATERIALIZED (
        SELECT vec_id, sub, cell FROM (
          SELECT es.vec_id, es.sub, $prev.cell,
                 ROW_NUMBER() OVER (PARTITION BY es.vec_id, es.sub
                   ORDER BY ${scoreExpr(prev)} DESC, $prev.cell) AS rn
          FROM es JOIN $prev ON $prev.sub = es.sub) t WHERE rn = 1)"""
    val steps = (1 to iters).map { i =>
      val prev = s"pcb${i - 1}"
      s"""${asg(prev, s"pasg$i")},
      pup$i AS MATERIALIZED (
        -- join BEFORE the LATERAL (see kmeansCtes.up: the comma-join +
        -- correlated UNNEST nest-loops the full cross product otherwise)
        SELECT j.sub, j.cell, u.dim,
               CAST(SUM(CAST(u.x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS cx
        FROM (SELECT a.sub, a.cell, es.sv
              FROM pasg$i a JOIN es ON es.vec_id = a.vec_id AND es.sub = a.sub) j,
             LATERAL (SELECT UNNEST(j.sv) AS x,
                             generate_subscripts(j.sv, 1) AS dim) u
        GROUP BY j.sub, j.cell, u.dim),
      pcb$i AS MATERIALIZED (
        SELECT p.sub, p.cell, COALESCE(n.cv, p.cv) AS cv
        FROM $prev p LEFT JOIN
             (SELECT sub, cell, list(cx ORDER BY dim) AS cv
              FROM pup$i GROUP BY sub, cell) n
        ON n.sub = p.sub AND n.cell = p.cell)"""
    }.mkString(",")
    val subs = (0 until m).map(s => s"($s)").mkString(",")
    s"""
      WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
      e AS MATERIALIZED (SELECT vec_id,
                   list_transform(v0, x -> x / SQRT(list_inner_product(v0, v0))) AS v
            FROM e0),
      es AS MATERIALIZED (
        SELECT vec_id, s.sub,
               list_slice(v, s.sub * $subDim + 1, s.sub * $subDim + $subDim) AS sv
        FROM e, (VALUES $subs) s(sub) WHERE vec_id >= 10),
      pcb0 AS MATERIALIZED (
        SELECT sub, CAST(rn - 1 AS INTEGER) AS cell, sv AS cv FROM (
          SELECT sub, sv,
                 ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
          FROM es) t
        WHERE rn <= $k),
      $steps,
      ${asg(s"pcb$iters", "pasgF")},
      recon AS MATERIALIZED (
        SELECT a.vec_id AS c_id, flatten(list(cb.cv ORDER BY a.sub)) AS c_recon
        FROM pasgF a JOIN pcb$iters cb ON cb.sub = a.sub AND cb.cell = a.cell
        GROUP BY a.vec_id),
      qs AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 10),
      adc AS (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY list_inner_product(q_v, c_recon) DESC, c_id) AS adc_rank
        FROM qs CROSS JOIN recon),
      scored AS (
        SELECT q_id, c_id, list_cosine_similarity(q.v, c.v) AS cos
        FROM (SELECT q_id, c_id FROM adc WHERE adc_rank <= $shortlist) sl
        JOIN e q ON q.vec_id = q_id JOIN e c ON c.vec_id = c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, c_id) AS rank
        FROM scored)
      SELECT q_id, c_id, rank, ROUND(cos, 6) AS cos_r
      FROM ranked WHERE rank <= 5"""
  }
}
