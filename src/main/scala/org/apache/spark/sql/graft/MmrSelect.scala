package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Greedy Maximal Marginal Relevance selection over a per-query candidate
  * shortlist (Carbonell & Goldstein, SIGIR'98): picks `k` of the
  * candidates, each step taking the candidate maximizing
  * `relWeight·rel − divWeight·max_sim_to_selected`, where `sim` is the
  * cosine between candidate vectors — the standard diversified-top-k
  * re-rank a retrieval endpoint runs after ANN shortlist fetch.
  *
  * Input: `array<struct<id: long, cos: double, v: array<double>>>`
  * (read positionally; order-insensitive — selection scans the whole set
  * each step). Output: `array<struct<c_id: long, sel_rank: int,
  * rel_u: long, mmr_u7: long>>` in selection order, where `rel_u` is the
  * relevance in 1e-6 units and `mmr_u7` the greedy score in 1e-7 units.
  *
  * This is a pure per-row map over an already-grouped shortlist: MMR's
  * sequential greedy loop is inherently per-query, so the scalable shape
  * is exactly this — shortlists arrive grouped (one row per query, m
  * candidates each), the O(k·m) cosine work runs map-side, and no
  * exchange or iteration leaves the row.
  *
  * Determinism contract (what lets a SQL oracle mirror the greedy
  * exactly): every raw cosine is quantized ONCE to an integer —
  * half-away-from-zero `round(cos·1e6)` on BOTH signs ([[MmrSelect.roundU]]
  * mirrors DuckDB's ROUND; plain Java `Math.round` is half-UP, which
  * diverges on exact negative .5 boundaries — anti-correlated vectors make
  * sim_u and rel_u legitimately negative, so the symmetry matters) —
  * and all scoring is exact integer arithmetic
  * (`relWeight·rel_u − divWeight·sim_u`), ties broken toward the lower
  * id. Scoring rounded DOUBLES instead (λ·rel at λ=0.7 over 6-decimal
  * rels) lands exactly on .xxxxxx5 boundaries by construction, where
  * Java's BigDecimal(string) rounding and DuckDB's binary-double ROUND
  * systematically disagree — integer scoring removes that entire class,
  * leaving only the measure-zero chance that the two engines' raw
  * cosines (differing in the last ulp) straddle a quantization boundary.
  *
  * Degenerate inputs, pinned: a zero-norm or empty candidate vector has
  * no defined cosine — its pairwise similarity is taken as 0 (treated as
  * orthogonal, so it carries no diversity penalty and imposes none); a
  * non-finite relevance (NaN or ±Infinity) quantizes to rel_u = 0
  * (roundU pins all non-finite inputs, so the integer scoring can never
  * overflow on a degenerate upstream cosine). Null array elements and
  * null struct fields are skipped entirely.
  */
case class MmrSelect(child: Expression, k: Int, relWeight: Int, divWeight: Int)
    extends UnaryExpression {

  require(k >= 1, "k must be >= 1")
  require(relWeight > 0 && divWeight >= 0, "weights must be positive")

  // candidates are read POSITIONALLY (field names vary with the caller's
  // struct() aliases): 0 = id (long), 1 = raw cosine relevance (double),
  // 2 = vector (array<double>)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _) if s.length == 3 &&
          s(0).dataType == LongType && s(1).dataType == DoubleType &&
          (s(2).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"mmr_select expects array<struct<long, double, array<double>>>, got $other")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("c_id", LongType, nullable = false),
    StructField("sel_rank", IntegerType, nullable = false),
    StructField("rel_u", LongType, nullable = false),
    StructField("mmr_u7", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "mmr_select"

  override protected def nullSafeEval(candsAny: Any): Any =
    MmrSelect.select(candsAny.asInstanceOf[ArrayData], k, relWeight, divWeight)

  /** Codegen (no CodegenFallback): the greedy kernel is a
    * single static call on the already-evaluated child — the
    * StaticInvoke pattern. No per-row interpretation of the expression
    * tree, no `ctx.INPUT_ROW` materialization (a CodegenFallback forces
    * the enclosing operator to keep the full row object alive just to
    * re-evaluate the child), and the projection containing mmr_select
    * stays inside WholeStageCodegen — what ss08/ss09-style serving at
    * production QPS needs. The kernel itself is deliberately NOT inlined
    * as generated Java: it is ~80 lines of loop nest whose JIT profile
    * is identical either way, and inlining it would only bloat the
    * generated method toward the 64 KB/8 KB JIT thresholds. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.graft.MmrSelect$$.MODULE$$.select(
         |  $c, $k, $relWeight, $divWeight);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MmrSelect =
    copy(child = newChild)
}

object MmrSelect {
  def apply(cands: Column, k: Int, relWeight: Int, divWeight: Int): Column =
    ExpressionUtils.column(new MmrSelect(
      ExpressionUtils.expression(cands), k, relWeight, divWeight))

  /** The greedy MMR kernel (shared verbatim by the interpreted `eval`
    * and the generated code). See the class doc for the determinism and
    * degenerate-input contract. */
  def select(arr: ArrayData, k: Int, relWeight: Int, divWeight: Int): ArrayData = {
    val total = arr.numElements()
    val ids = new Array[Long](total)
    val relU = new Array[Long](total)
    val vecs = new Array[Array[Double]](total)
    val norms = new Array[Double](total)
    // null elements / null fields are skipped, not NPE'd — collect_list
    // never produces them, but the SQL-registered path can
    var n = 0
    var src = 0
    while (src < total) {
      if (!arr.isNullAt(src)) {
        val row = arr.getStruct(src, 3)
        if (!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2)) {
          ids(n) = row.getLong(0)
          relU(n) = MmrSelect.roundU(row.getDouble(1) * 1e6)
          val v = row.getArray(2).toDoubleArray()
          vecs(n) = v
          var s = 0.0
          var j = 0
          while (j < v.length) { s += v(j) * v(j); j += 1 }
          norms(n) = math.sqrt(s)
          n += 1
        }
      }
      src += 1
    }
    var i = 0
    // dot / (sqrt·sqrt) in sequential index order — the exact arithmetic
    // shape of VectorOps.cosineD, so pairwise sims and the upstream rels
    // come from the same formula — then ONE quantization to 1e-6 units
    def simU(a: Int, b: Int): Long = {
      val va = vecs(a); val vb = vecs(b)
      val m = math.min(va.length, vb.length)
      var d = 0.0
      var j = 0
      while (j < m) { d += va(j) * vb(j); j += 1 }
      val nn = norms(a) * norms(b)
      // zero-norm / empty vectors: cosine undefined → pinned to 0
      // (orthogonal), not the silent Math.round(NaN) == 0 coincidence
      if (nn == 0.0) 0L else MmrSelect.roundU(d / nn * 1e6)
    }
    val kk = math.min(k, n)
    val taken = new Array[Boolean](n)
    // max quantized sim from each candidate to the selected set so far
    val maxSimU = new Array[Long](n)
    val out = new Array[Any](kk)
    var r = 0
    while (r < kk) {
      var best = -1
      var bestScore = Long.MinValue
      i = 0
      while (i < n) {
        if (!taken(i)) {
          // step 1 has no selected set: pure relevance; later steps
          // subtract the diversity penalty — all exact long arithmetic
          val score = if (r == 0) relWeight * relU(i)
            else relWeight * relU(i) - divWeight * maxSimU(i)
          // ties break toward the lower id EXPLICITLY — input order is a
          // nondeterministic collect_list
          if (best == -1 || score > bestScore ||
              (score == bestScore && ids(i) < ids(best))) {
            best = i; bestScore = score
          }
        }
        i += 1
      }
      taken(best) = true
      out(r) = InternalRow(ids(best), r + 1, relU(best), bestScore)
      i = 0
      while (i < n) {
        if (!taken(i)) {
          val s = simU(i, best)
          if (r == 0 || s > maxSimU(i)) maxSimU(i) = s
        }
        i += 1
      }
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Half-away-from-zero rounding on both signs — DuckDB ROUND semantics.
    * Java's Math.round is floor(x + 0.5) (half-UP), which disagrees on
    * exact negative .5 boundaries: Math.round(-2.5) == -2 but DuckDB
    * ROUND(-2.5) == -3. ALL non-finite inputs pin to 0 — NaN would fall
    * out of Math.round as 0 anyway, but ±Infinity would otherwise round
    * to ±Long.MaxValue and overflow the integer scoring (relWeight·rel_u),
    * so the degenerate-input contract covers them explicitly. */
  def roundU(x: Double): Long =
    if (!java.lang.Double.isFinite(x)) 0L
    else if (x < 0) -Math.round(-x)
    else Math.round(x)
}
