package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives as composable Columns.
  *
  * Everything is built from Spark's codegen'd higher-order array functions
  * (`zip_with` / `aggregate` / `transform`) — no UDFs, so whole-stage
  * codegen stays intact around them. Floats are widened to double BEFORE
  * any arithmetic: double accumulation in array order is deterministic and
  * matches DuckDB's behavior bit-for-bit, which the similarity oracles
  * rely on.
  */
object VectorOps {

  /** The fixture embedding dimensionality (TESTDATA.md), named ONCE for
    * every plane-mirrored LSH oracle: the Spark side adapts to the
    * runtime vector length, so a bare `64` literal in an oracle would turn
    * a fixture dim change into a confusing hash-gate mismatch instead of
    * pointing here. The gates themselves assert it:
    * a dim change hash-mismatches every LSH-mirrored query. */
  private[graft] val EmbeddingDim = 64

  /** Cast array<float> → array<double> (exact widening). Do this ONCE per
    * row before any pairwise join — casting inside a pair expression would
    * re-allocate per pair. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-order dot product of two `array<double>` columns — the
    * native codegen'd [[ArrayDotProduct]] expression (a `zip_with` +
    * `aggregate` formulation evaluates its lambdas interpreted and was the
    * bottleneck of every O(pairs) similarity operator). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ArrayDotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array embeddings (casts per pair —
    * prefer [[cosineD]] over pre-cast double arrays in pairwise joins). */
  def cosine(a: Column, b: Column): Column = cosineD(asDouble(a), asDouble(b))

  /** Cosine similarity of two pre-cast `array<double>` columns: three
    * native dot products, fully inside whole-stage codegen. */
  def cosineD(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Multi-table random-hyperplane LSH keys: `tables` independent hash
    * tables, each a `bitsPerTable`-bit sign pattern against deterministic
    * pseudo-random hyperplanes (xxhash64-derived in (plane, dim)). Returns
    * an `array<long>` of packed `(table << bits) | bucket` keys for
    * `explode` + a single-long-column equi-join.
    *
    * At 100 TB this is the scale path for similarity search: vectors
    * hash-partition by (table, bucket), so candidate generation is an
    * equi-join instead of an O(n²) cross product. More tables → higher
    * recall, linearly more candidate volume: the standard LSH trade.
    */
  def rpLshTables(v: Column, tables: Int, bitsPerTable: Int, seed: Int = 42): Column =
    org.apache.spark.sql.graft.RandomHyperplaneLshProbes(
      asDouble(v), tables, bitsPerTable, seed.toLong, probeRadius = 0)

  /** Multi-probe variant of [[rpLshTables]]: besides each table's own
    * bucket, also emits every bucket at Hamming distance 1 (one sign bit
    * flipped). Join a probe side against an [[rpLshTables]] index side and
    * a pair collides iff some table's signatures differ in ≤ 1 bit —
    * recall of `1 + b·(1-p)/p` tables for the candidate cost of
    * `(b+1)/2^b` random collisions per table. */
  def rpLshProbes(v: Column, tables: Int, bitsPerTable: Int, seed: Int = 42): Column =
    org.apache.spark.sql.graft.RandomHyperplaneLshProbes(
      asDouble(v), tables, bitsPerTable, seed.toLong, probeRadius = 1)
}
