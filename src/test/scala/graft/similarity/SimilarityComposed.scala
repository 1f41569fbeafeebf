package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composed (built-in-function) forms of the vector operators whose
  * library implementation is a native graft.plans expression. They
  * are the parity references the specs compare the natives against.
  */
object SimilarityComposed {

  private def asDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The composed cosine — the shape RewriteCosine rewrites. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact integer dot product of two quantized vectors. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Deterministic hyperplane component: xxhash64(plane, dim) mapped
    * to [-0.5, 0.5). Fixed given (plane, dim) — no RNG state.
    */
  private def planeComponent(plane: Column, dim: Column): Column =
    (pmod(xxhash64(plane, dim), lit(1000)).cast("double") / 1000.0) - 0.5

  /** Sign-random-projection bucket id: bit p = sign of <v, plane_p>. */
  def srpBucket(v: Column, nPlanes: Int): Column =
    srpBucketWith(planeComponent)(v, nPlanes)

  /** md5-plane SRP bucket — the cross-engine-oracle variant: plane
    * component (p, j) = (int(md5hex("p|j")[1..8], 16) % 1000)/1000
    * − 0.5, replayable in DuckDB.
    */
  def srpBucketMd5(v: Column, nPlanes: Int): Column =
    srpBucketWith(planeComponentMd5)(v, nPlanes)

  private def srpBucketWith(comp: (Column, Column) => Column)(
      v: Column, nPlanes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val d = aggregate(
          zip_with(asDouble(v), sequence(lit(0), size(v) - 1),
            (x, j) => x * comp(p, j)),
          lit(0.0), (acc, x) => acc + x)
        when(d >= 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      }),
      lit(0L), (acc, b) => acc + b)

  private def planeComponentMd5(plane: Column, dim: Column): Column =
    ((conv(md5(concat(plane.cast("string"), lit("|"), dim.cast("string")))
        .substr(lit(1), lit(8)), 16, 10).cast("long") % 1000)
      .cast("double") / 1000.0) - 0.5

  /** JL projection: component p = the index-ordered dot <v, plane_p>
    * over the SAME md5 hyperplane family as [[srpBucketMd5]].
    */
  def jlProjectMd5(v: Column, outDim: Int): Column =
    // the outer transform runs over a literal sequence, so a null
    // vector must be peeled explicitly to keep the native
    // expression's null-in/null-out contract (not an array of nulls)
    when(v.isNotNull,
      transform(sequence(lit(0), lit(outDim - 1)), p =>
        aggregate(zip_with(asDouble(v), sequence(lit(0), size(v) - 1),
          (x, j) => x * planeComponentMd5(p, j)),
          lit(0.0), (acc, x) => acc + x)))
}
