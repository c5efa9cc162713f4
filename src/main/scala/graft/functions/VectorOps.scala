package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math as Catalyst-native higher-order-function `Column`s — no Scala
  * UDF closures. This is the Spark analog of the reference's decision to stay
  * engine-native (reference README.md:16 argues against Python UDFs;
  * k-means.sql:24,38 use `L2Distance` + `arraySort` lambdas).
  *
  * The HOFs (`zip_with`, `aggregate`, `transform`) are `CodegenFallback`:
  * an operator holding one drops out of whole-stage codegen and evaluates
  * them interpreted, per row, allocating per element. These forms are the
  * readable references that specs pin the `graft.plans` kernels against
  * (`native.sq_dist`, `native.dot`, `native.nearestIdNative`,
  * `native.nearest_sq_dist`); hot paths call the kernels.
  *
  * Fold order is fixed left-to-right `(((0+d0)+d1)+…)` so results are
  * bit-identical to a sequential evaluation of the same IEEE-double formula —
  * which is what the DuckDB correctness oracle computes. Never reorder.
  */
object VectorOps {

  /** Squared Euclidean distance between two `array<double>` columns.
    * Reference kernel: `L2Distance` (k-means.sql:24,38,53; OptimalK.sql:5,12-14)
    * — squared form preferred wherever only the argmin/ordering matters.
    */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Euclidean (L2) distance — reference `L2Distance`. */
  def l2Dist(a: Column, b: Column): Column = sqrt(sqDist(a, b))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; callers cache norms where one side repeats. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Id of the nearest centroid (argmin of squared distance, ties → lowest id,
    * matching the reference's stable `arraySort(...)[1]` at k-means.sql:38).
    * Centroids ride along as literals — the Spark analog of the reference's
    * scalar-subquery broadcast of `groupArray(j), groupArray(C)`
    * (k-means.sql:36): k rows inlined into every task, zero shuffle.
    * O(k·dim) per row via a single fold — no per-row sort, no crossJoin.
    */
  def nearestId(y: Column, ids: Seq[Long], cs: Seq[Seq[Double]]): Column = {
    val pairs = zip_with(typedlit(ids), typedlit(cs),
      (j, c) => struct(j.as("j"), sqDist(c, y).as("d")))
    aggregate(
      pairs,
      struct(lit(-1L).as("j"), lit(Double.MaxValue).as("d")),
      (acc, x) => when(x.getField("d") < acc.getField("d"), x).otherwise(acc),
      acc => acc.getField("j"))
  }

  /** Squared distance to the nearest of the literal centroids (k-means++
    * weight, elbow term). Min-fold — order-independent, oracle-exact.
    */
  def nearestSqDist(y: Column, cs: Seq[Seq[Double]]): Column =
    aggregate(
      transform(typedlit(cs), c => sqDist(c, y)),
      lit(Double.MaxValue),
      (acc, v) => when(v < acc, v).otherwise(acc))

  /** Fixed-point aggregation: `sum(round(x*scale)::long)/scale`.
    *
    * Summing doubles is order-sensitive (partial aggregation order differs
    * between Spark partitions and the DuckDB oracle); summing the rounded
    * integers is exact and order-independent, so both engines produce
    * bit-identical results. Used by every oracle-checked aggregate over
    * non-integral doubles. `scale` picked so `max|x|·scale·rows < 2^53`.
    */
  def sumFx(x: Column, scale: Double): Column =
    sum(round(x * scale).cast("long")).cast("double") / scale

  /** Fixed-point mean: `(sum_fx/scale)/n` with the same op order as the
    * oracle SQL (`CAST(sum(..) AS DOUBLE)/scale/count(*)`).
    */
  def avgFx(x: Column, scale: Double): Column =
    sumFx(x, scale) / count(lit(1))
}
