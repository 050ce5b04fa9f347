package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `array<float>` embedding columns, as native
  * column expressions (`zip_with`/`aggregate` — codegen'd, no UDFs).
  *
  * FP determinism: elements are cast to double BEFORE multiplication and
  * summed left-to-right (`aggregate` folds in array order), so any engine
  * evaluating the same sequential IEEE operations produces bit-identical
  * doubles — required for the DuckDB oracle hash compare.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ, sequential left-to-right in double precision. Generic over
    * array length (interpreted HOF evaluation — fine off the hot path). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  // Hot-path variants live in VectorExpr (native loop expressions with
  // doGenCode): the HOF forms here evaluate an interpreted lambda per
  // element per row, and unrolled multiply-add chains overflow Janino's
  // 64 KB method ceiling once whole-stage codegen fuses them into a join
  // pipeline (both measured). Specs pin VectorExpr == these HOF forms.

  /** Deterministic pseudo-random hyperplane component for LSH: plane j,
    * dimension i ↦ a value in [−0.5, 0.5) via modular arithmetic (no RNG —
    * a SQL oracle reproduces the exact doubles). */
  def hyperplane(j: Int, i: Column): Column =
    pmod((lit(j * 64L) + i) * lit(2654435761L), lit(1000L)) / lit(1000.0) - lit(0.5)

  /** Signed projection of an embedding onto hyperplane j (dim = embedding
    * length, iterated 0 until dim). */
  def hyperplaneDot(emb: Column, j: Int, dim: Int): Column =
    aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
      (acc, i) => acc + element_at(emb, i + 1).cast("double") * hyperplane(j, i))

  /** Random-hyperplane LSH bucket: `planes` sign bits packed into an int.
    * Vectors in the same bucket are angular-similarity candidates. */
  def lshBucket(emb: Column, planes: Int, dim: Int): Column =
    (0 until planes)
      .map(j => when(hyperplaneDot(emb, j, dim) > 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)

  /** All `planes` hyperplane projections materialized ONCE as an array
    * column. Kept in the HOF (`transform`/`aggregate`) form deliberately:
    * consumers like [[lshBandKeysVec]] reference the array many times, and an
    * unrolled alias would re-inline planes×dim multiply-adds per reference —
    * the codegen-inlining trap (measured: minutes of CodeBlock assembly). */
  def hyperplaneDots(emb: Column, planes: Int, dim: Int): Column =
    transform(sequence(lit(0), lit(planes - 1)), j =>
      aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
        (acc, i) => acc + element_at(emb, i + 1).cast("double") *
          (pmod((j.cast("long") * lit(64L) + i) * lit(2654435761L), lit(1000L))
            / lit(1000.0) - lit(0.5))))


  /** Multi-table LSH band keys from materialized projections: `tables`
    * independent buckets of `planesPerTable` sign bits each, emitted as
    * "t:bucket" strings. Two vectors are candidates iff ANY table agrees on
    * all its bits (OR across tables → recall; more bits per table → fewer
    * false candidates). Table t consumes planes [t·r, t·r+r) — table 0 with
    * r=8 reproduces the single-table [[lshBucket]] of the same 8 planes. */
  def lshBandKeysVec(dots: Column, tables: Int, planesPerTable: Int): Column =
    array((0 until tables).map { t =>
      val bucket = (0 until planesPerTable)
        .map(p => when(element_at(dots, t * planesPerTable + p + 1) > 0,
          lit(1 << p)).otherwise(lit(0)))
        .reduce(_ + _)
      concat_ws(":", lit(t.toString), bucket.cast("string"))
    }: _*)

  /** DuckDB fragments computing the identical arithmetic. */
  def hyperplaneDotsSql(emb: String, planes: Int, dim: Int): String =
    s"""[ list_sum([ $emb[i+1]::DOUBLE *
       |    ((((j*64 + i) * 2654435761) % 1000) / 1000.0 - 0.5)
       |    for i in generate_series(0, ${dim - 1}) ])
       |  for j in generate_series(0, ${planes - 1}) ]""".stripMargin

  def lshBandKeysSql(dots: String, tables: Int, planesPerTable: Int): String =
    s"""[ t::VARCHAR || ':' || list_sum([ CASE WHEN $dots[t*$planesPerTable+p+1] > 0
       |    THEN (1 << p) ELSE 0 END
       |    for p in generate_series(0, ${planesPerTable - 1}) ])::VARCHAR
       |  for t in generate_series(0, ${tables - 1}) ]""".stripMargin

  def dotSql(a: String, b: String, dim: Int): String =
    s"list_sum([ $a[i+1]::DOUBLE * $b[i+1]::DOUBLE for i in generate_series(0, ${dim - 1}) ])"

  def cosineSql(a: String, b: String, dim: Int): String =
    s"(${dotSql(a, b, dim)}) / (sqrt(${dotSql(a, a, dim)}) * sqrt(${dotSql(b, b, dim)}))"
}
