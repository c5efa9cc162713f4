package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The nearest-centroid argmin — the reference's `nearestCentroid` view
  * (k-means.sql:35-39) — as ONE expression over a point `y: array<double>`
  * and a centroid set `cs: array<array<double>>`. With `ids: array<long>`
  * it yields the id of the nearest centroid (`bigint`); without, the
  * squared distance to it (`double`).
  *
  * Semantics (bit-identical to the `VectorOps.nearestId` /
  * `VectorOps.nearestSqDist` folds, pinned in PlansSpec): one left-to-right
  * fold over the centroids with strict `<` from `Double.MaxValue`, so the
  * earliest centroid wins a tie and a NaN distance never wins; each
  * distance is `sq_dist`'s `((0+d0²)+d1²)+…` IEEE sequence over
  * `min(len)`. A null `y` or a null centroid never wins, and no winner
  * yields the fold seeds: id -1, distance `Double.MaxValue`. A null `cs` or
  * `ids` yields null, and so does a winner whose id is null or missing
  * (`zip_with` pads the shorter array with nulls).
  *
  * Centroids: a foldable (literal) set is flattened once per deserialized
  * instance into a row-major `double[]`; a column-supplied set (broadcast
  * data, whose plan stays constant across Lloyd steps) is read straight
  * from its `ArrayData` for each row. Generated code makes one call on this
  * object per row (`ctx.addReferenceObj`), so its text never depends on the
  * centroid values.
  *
  * Why: the HOF folds are `CodegenFallback` — interpreted per row, with one
  * struct allocated per centroid — so the assign, Lloyd and seeding scans
  * spent their time in the interpreter, not in the O(k·dim) arithmetic.
  */
case class NearestCentroid(y: Expression, cs: Expression, ids: Option[Expression])
    extends Expression {

  override def children: Seq[Expression] = y +: cs +: ids.toSeq

  override def checkInputDataTypes(): TypeCheckResult =
    (y.dataType, cs.dataType, ids.map(_.dataType)) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
          None | Some(ArrayType(LongType, _))) => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<array<double>>" +
          s"${if (ids.isDefined) ", array<bigint>" else ""}), got " +
          (Seq(a, b) ++ c).map(_.simpleString).mkString("(", ", ", ")"))
    }

  override def dataType: DataType = if (ids.isDefined) LongType else DoubleType

  override def nullable: Boolean = ids.isDefined || cs.nullable

  override def foldable: Boolean = children.forall(_.foldable)

  override def prettyName: String = if (ids.isDefined) "nearest_id" else "nearest_sq_dist"

  override def stringArgs: Iterator[Any] = children.iterator

  /** The literal set, evaluated once per deserialized instance. */
  @transient private lazy val litCs: ArrayData = cs.eval().asInstanceOf[ArrayData]
  @transient private lazy val litIds: ArrayData =
    ids.map(_.eval().asInstanceOf[ArrayData]).orNull

  /** [[litCs]] flattened, built once per deserialized instance. */
  @transient private lazy val flat: NearestCentroid.Flat = NearestCentroid.Flat(litCs)

  private def vec(yd: ArrayData): Array[Double] = {
    val v = new Array[Double](yd.numElements())
    var d = 0
    while (d < v.length) { v(d) = yd.getDouble(d); d += 1 }
    v
  }

  /** Column centroid j's distance to `y`; NaN for a null centroid. */
  private def sqdCol(csv: ArrayData, j: Int, y: Array[Double]): Double = {
    if (csv.isNullAt(j)) return Double.NaN
    val c = csv.getArray(j)
    val lim = math.min(c.numElements(), y.length)
    var s = 0.0
    var d = 0
    while (d < lim) { val t = c.getDouble(d) - y(d); s += t * t; d += 1 }
    s
  }

  /** Position of `y`'s nearest centroid, -1 when none wins. `csv` is the
    * row's centroid set, or null for the literal set.
    */
  def position(yd: ArrayData, csv: ArrayData): Int =
    if (yd == null) -1 else fold(vec(yd), csv)

  /** Squared distance from `y` to its nearest centroid, `Double.MaxValue`
    * when none wins: the winner's distance, recomputed by the same fold.
    */
  def sqDist(yd: ArrayData, csv: ArrayData): Double = {
    if (yd == null) return Double.MaxValue
    val y = vec(yd)
    val p = fold(y, csv)
    if (p < 0) Double.MaxValue
    else if (csv == null) flat.sqd(p, y)
    else sqdCol(csv, p, y)
  }

  /** THE argmin: strict `<` from `Double.MaxValue` over the centroids in
    * order.
    */
  private def fold(y: Array[Double], csv: ArrayData): Int = {
    var best = -1
    var m = Double.MaxValue
    var j = 0
    if (csv == null) {
      val f = flat
      val k = f.len.length
      while (j < k) { val v = f.sqd(j, y); if (v < m) { m = v; best = j }; j += 1 }
    } else {
      val k = csv.numElements()
      while (j < k) { val v = sqdCol(csv, j, y); if (v < m) { m = v; best = j }; j += 1 }
    }
    best
  }

  override def eval(input: InternalRow): Any = {
    val csv = if (cs.foldable) litCs else cs.eval(input).asInstanceOf[ArrayData]
    if (csv == null) return null
    val yd = y.eval(input).asInstanceOf[ArrayData]
    val setArg = if (cs.foldable) null else csv
    ids match {
      case None => sqDist(yd, setArg)
      case Some(e) =>
        val idv = if (e.foldable) litIds else e.eval(input).asInstanceOf[ArrayData]
        if (idv == null) null
        else {
          val p = position(yd, setArg)
          if (p < 0) -1L
          else if (p >= idv.numElements() || idv.isNullAt(p)) null
          else idv.getLong(p)
        }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroid].getName)
    val yEv = y.genCode(ctx)
    // a literal array is read from a referenced object, never from the code
    // text: (code, isNull, value)
    def arg(e: Expression, lit: => ArrayData): (String, String, String) =
      if (e.foldable) ("", (lit == null).toString,
        ctx.addReferenceObj("nearestLit", lit, classOf[ArrayData].getName))
      else {
        val c = e.genCode(ctx)
        (c.code.toString, c.isNull.toString, c.value.toString)
      }
    // the literal set is flattened inside this object: pass null for it
    val (csCode, csNull, csArg) =
      if (cs.foldable) ("", (litCs == null).toString, "null") else arg(cs, null)
    val yArg = s"(${yEv.isNull} ? null : ${yEv.value})"
    val javaType = CodeGenerator.javaType(dataType)
    ids match {
      case None =>
        ev.copy(code = code"""
          |${yEv.code}
          |$csCode
          |boolean ${ev.isNull} = $csNull;
          |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
          |if (!${ev.isNull}) {
          |  ${ev.value} = $ref.sqDist($yArg, $csArg);
          |}
          |""".stripMargin)
      case Some(e) =>
        val (idsCode, idsNull, idsVal) = arg(e, litIds)
        val p = ctx.freshName("pos")
        ev.copy(code = code"""
          |${yEv.code}
          |$csCode
          |$idsCode
          |boolean ${ev.isNull} = $csNull || $idsNull;
          |$javaType ${ev.value} = -1L;
          |if (!${ev.isNull}) {
          |  int $p = $ref.position($yArg, $csArg);
          |  if ($p >= 0) {
          |    if ($p >= $idsVal.numElements() || $idsVal.isNullAt($p)) {
          |      ${ev.isNull} = true;
          |    } else {
          |      ${ev.value} = $idsVal.getLong($p);
          |    }
          |  }
          |}
          |""".stripMargin)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroid =
    copy(y = newChildren(0), cs = newChildren(1), ids = newChildren.lift(2))
}

object NearestCentroid {

  /** A centroid set flattened row-major: centroid j's coordinates sit at
    * `data(off(j)) until data(off(j) + len(j))`; `len(j) = -1` marks a null
    * centroid.
    */
  private[plans] final class Flat(
      val data: Array[Double], val off: Array[Int], val len: Array[Int]) {

    /** `sq_dist`'s fold of centroid j against `y`; NaN for a null centroid. */
    def sqd(j: Int, y: Array[Double]): Double = {
      val l = len(j)
      if (l < 0) return Double.NaN
      val base = off(j)
      val lim = math.min(l, y.length)
      var s = 0.0
      var d = 0
      while (d < lim) { val t = data(base + d) - y(d); s += t * t; d += 1 }
      s
    }
  }

  private[plans] object Flat {
    def apply(cs: ArrayData): Flat = {
      val k = cs.numElements()
      val len = Array.tabulate(k)(j => if (cs.isNullAt(j)) -1 else cs.getArray(j).numElements())
      val off = len.scanLeft(0)((o, l) => o + math.max(l, 0))
      val data = new Array[Double](off(k))
      for (j <- 0 until k; d <- 0 until len(j)) data(off(j) + d) = cs.getArray(j).getDouble(d)
      new Flat(data, off, len)
    }
  }
}
