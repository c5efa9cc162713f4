package perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{Dedup, KMeans, Quality}
import graft.operators.KMeans.{Centroid, FitResult}

/** One benchmark workload: seeded inputs, the public call under test, its
  * traced decomposition into public calls, and plain-Scala output checks.
  */
abstract class Workload[O](val name: String) {
  /** Builds the inputs in memory from `seed`; returns their content hash. */
  def generate(seed: Long): String

  /** The workload's position against the size gate it must stay on one
    * side of; throws when it is on the wrong side.
    */
  def gate(): String

  /** Writes the generated inputs as parquet under `dir`. */
  def write(spark: SparkSession, dir: String): Unit

  /** Loads (and, where the workload caches, caches) the inputs. */
  def load(spark: SparkSession, dir: String): Unit
  def unload(): Unit

  /** One operation through the engine's public API. */
  def op(spark: SparkSession, dir: String): O

  /** The same operation split into its public calls, one span per call. */
  def tracedOp(spark: SparkSession, dir: String, tr: Tracer): O

  /** Output failures of `out`, checked in plain Scala. */
  def check(out: O): Seq[String]

  /** Whether two outputs are identical. */
  def same(a: O, b: O): Boolean

  /** Quality figures of an output: (name, value, unit). */
  def quality(out: O): Seq[(String, Double, String)]

  /** Failures found by checks that need a query of their own, run once
    * after the timed operations.
    */
  def finalChecks(spark: SparkSession, dir: String): Seq[String] = Nil

  /** Failures found in the spans of the traced operations. */
  def tracedChecks(spans: Seq[Tracer.SpanTotals]): Seq[String] = Nil

  /** Workload-specific per-layer metrics from the traced operations. */
  def layerExtras(spans: Seq[Tracer.SpanTotals], ops: Int): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Seq[Workload[_]] = Seq(FitLarge, ChooseK, ScoreScan, DedupCorpus)

  def byName(n: String): Workload[_] =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  // ---------------------------------------------------------- generators

  final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = ByteBuffer.allocate(8)
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    def doubles(xs: Array[Double]): Unit = xs.foreach(x => long(java.lang.Double.doubleToLongBits(x)))
    def string(s: String): Unit = { md.update(s.getBytes("UTF-8")); long(s.length) }
    def hex: String = md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** `k` centres with coordinates uniform in [-spread, spread]. */
  def centres(rng: java.util.Random, k: Int, dim: Int, spread: Double): Array[Array[Double]] =
    Array.fill(k, dim)((rng.nextDouble() * 2 - 1) * spread)

  /** Gaussian blobs: each point is a uniformly chosen centre plus
    * N(0, sigma²) noise on every coordinate.
    */
  def blobs(rng: java.util.Random, n: Int, cs: Array[Array[Double]], sigma: Double): Array[Array[Double]] = {
    val labels = Array.fill(n)(rng.nextInt(cs.length))
    Array.tabulate(n) { i =>
      val c = cs(labels(i))
      Array.tabulate(c.length)(d => c(d) + sigma * rng.nextGaussian())
    }
  }

  def hashPoints(pts: Array[Array[Double]]): String = {
    val h = new Hasher
    pts.foreach(h.doubles)
    h.hex
  }

  val PointSchema: StructType = StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("Y", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Writes driver-side rows as `<dir>/<table>.parquet`. */
  def writeRows(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: String, table: String): Unit =
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")

  /** Writes `(i, Y)` rows with i = 0..n-1 as `<dir>/<table>.parquet`. */
  def writePoints(spark: SparkSession, pts: Array[Array[Double]], dir: String, table: String): Unit =
    writeRows(spark, pts.indices.map(i => Row(i.toLong, pts(i).toSeq)), PointSchema, dir, table)

  // -------------------------------------------------- plain-Scala k-means

  /** Squared distance folded left to right, as the engine's native kernel. */
  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var d = 0
    while (d < a.length) { val t = a(d) - b(d); acc += t * t; d += 1 }
    acc
  }

  /** Index of the nearest centre; the earliest wins a tie (strict `<`). */
  def nearest(y: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = -1; var bd = Double.MaxValue; var j = 0
    while (j < cs.length) { val d = sqDist(cs(j), y); if (d < bd) { bd = d; best = j }; j += 1 }
    best
  }

  def wcss(pts: Array[Array[Double]], cs: Array[Array[Double]]): Double =
    pts.iterator.map(y => sqDist(cs(nearest(y, cs)), y)).sum

  /** One Lloyd step: the mean of the points nearest each centre (a centre
    * that attracts no point stays where it is).
    */
  def lloydStep(pts: Array[Array[Double]], cs: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = cs.head.length
    val sums = Array.fill(cs.length, dim)(0.0)
    val cnt = new Array[Long](cs.length)
    pts.foreach { y =>
      val j = nearest(y, cs)
      cnt(j) += 1
      var d = 0
      while (d < dim) { sums(j)(d) += y(d); d += 1 }
    }
    Array.tabulate(cs.length)(j => if (cnt(j) == 0) cs(j) else sums(j).map(_ / cnt(j)))
  }

  /** Summed Euclidean distance between matching centres (KMeans.movement). */
  def movement(a: Array[Array[Double]], b: Array[Array[Double]]): Double =
    a.indices.map(j => math.sqrt(sqDist(a(j), b(j)))).sum

  def coords(cs: Seq[Centroid]): Array[Array[Double]] = cs.sortBy(_.j).map(_.c.toArray).toArray

  def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  def sameCentroids(a: Seq[Centroid], b: Seq[Centroid]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.j == y.j && x.c.size == y.c.size && x.c.zip(y.c).forall { case (u, v) => sameBits(u, v) }
    }

  /** Runs `body` under the session conf that `KMeans.fit` and `fitFrom`
    * apply around seeding and the Lloyd loop (AQE off, one shuffle
    * partition), so a seeding call traced on its own plans and schedules as
    * it does inside the fit. Restores the caller's conf after.
    */
  def iterConf[A](spark: SparkSession)(body: => A): A = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try body finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Runs `fitFrom` one Lloyd step at a time, one span per step, until the
    * movement drops below `tol` or `maxIter` steps ran — the loop `fit`
    * runs internally.
    */
  def stepwise(tr: Tracer, pts: DataFrame, init: Seq[Centroid], dim: Int,
      tol: Double, maxIter: Int): FitResult = {
    var r = FitResult(init, Nil, 0L, Double.MaxValue)
    while (r.finalMovement >= tol && r.steps < maxIter)
      r = tr.span("KMeans.lloyd") {
        KMeans.fitFrom(pts, r.centroids, dim, tol, maxIter = 1, startStep = r.steps)
      }
    r
  }
}

import Workloads._

/** The flagship fit above fitAuto's driver-local gate: k-means|| seeding
  * and the distributed Lloyd loop over cached points.
  */
object FitLarge extends Workload[FitResult]("fit_large") {
  val N = 131072
  val Dim = 32
  val K = 8
  val Tol = 0.01
  val MaxIter = 50
  /** fitAuto's default `localMaxCells`: at or below it the fit runs on the driver. */
  val LocalMaxCells = 4000000L
  val Spread = 1.0
  val Sigma = 0.03

  private var seed = 0L
  private var pts: Array[Array[Double]] = _
  private var planted: Array[Array[Double]] = _
  private var df: DataFrame = _

  def generate(s: Long): String = {
    seed = s
    val rng = new java.util.Random(s * 1000003L + 11)
    planted = centres(rng, K, Dim, Spread)
    pts = blobs(rng, N, planted, Sigma)
    hashPoints(pts)
  }

  def gate(): String = {
    val cells = N.toLong * Dim
    require(cells > LocalMaxCells, s"$name: n*dim = $cells must exceed localMaxCells $LocalMaxCells")
    s"n*dim = $cells > localMaxCells $LocalMaxCells: k-means|| seeding and the distributed Lloyd loop run"
  }

  def write(spark: SparkSession, dir: String): Unit = writePoints(spark, pts, dir, "fit_points")

  def load(spark: SparkSession, dir: String): Unit = {
    df = Tables.read(spark, dir, "fit_points").cache()
    df.count()
  }

  def unload(): Unit = if (df != null) df.unpersist(blocking = true)

  def op(spark: SparkSession, dir: String): FitResult =
    KMeans.fitAuto(df, K, Dim, tol = Tol, maxIter = MaxIter, seed = seed, parallelSeed = true)

  def tracedOp(spark: SparkSession, dir: String, tr: Tracer): FitResult = {
    val init = tr.span("KMeans.seed")(iterConf(spark)(KMeans.seedParallel(df, K, seed)))
    stepwise(tr, df, init, Dim, Tol, MaxIter)
  }

  def check(out: FitResult): Seq[String] = {
    val fails = mutable.ArrayBuffer[String]()
    if (out.centroids.size != K) fails += s"${out.centroids.size} centroids, expected $K"
    if (out.steps >= MaxIter || out.finalMovement >= Tol)
      fails += s"no convergence: ${out.steps} steps, movement ${out.finalMovement}"
    val cs = coords(out.centroids)
    val move = movement(cs, lloydStep(pts, cs))
    if (move >= Tol) fails += s"centroids are not the means of their points: one more step moves $move"
    fails.toSeq
  }

  /** Below the gate the fit would run on the driver, with no Spark job per step. */
  override def tracedChecks(spans: Seq[Tracer.SpanTotals]): Seq[String] = {
    val steps = spans.filter(_.name == "KMeans.lloyd")
    val jobsPerStep = steps.map(_.jobs).sum.toDouble / steps.size
    if (jobsPerStep >= 1) Nil
    else Seq(s"Lloyd steps ran $jobsPerStep Spark jobs each: not the distributed loop")
  }

  def same(a: FitResult, b: FitResult): Boolean =
    a.steps == b.steps && sameCentroids(a.centroids, b.centroids)

  def quality(out: FitResult): Seq[(String, Double, String)] = Seq(
    ("wcss_ratio", wcss(pts, coords(out.centroids)) / wcss(pts, planted), "ratio"),
    ("steps", out.steps.toDouble, "count"))
}

/** The paper's OptimalK: a full k-means++ fit, elbow and sampled
  * silhouette for every k in 2..8 — many small jobs.
  */
object ChooseK extends Workload[Seq[(Long, Double, Double, Double)]]("choose_k") {
  val N = 20000
  val Dim = 8
  val Planted = 5
  val Ks: Seq[Int] = 2 to 8
  val SampleEvery = 50
  val Tol = 0.01
  val MaxIter = 50
  val Spread = 1.0
  val Sigma = 0.03

  private var seed = 0L
  private var df: DataFrame = _
  private var sample: DataFrame = _
  private var pts: Array[Array[Double]] = _

  def generate(s: Long): String = {
    seed = s
    val rng = new java.util.Random(s * 1000003L + 23)
    pts = blobs(rng, N, centres(rng, Planted, Dim, Spread), Sigma)
    hashPoints(pts)
  }

  def gate(): String = s"no size gate on the distributed sweep; n = $N, sample 1 in $SampleEvery"

  def write(spark: SparkSession, dir: String): Unit = writePoints(spark, pts, dir, "choosek_points")

  def load(spark: SparkSession, dir: String): Unit = {
    df = Tables.read(spark, dir, "choosek_points").cache()
    sample = df.filter(col("i") % SampleEvery === 0).cache()
    df.count()
    sample.count()
  }

  def unload(): Unit = Seq(sample, df).filter(_ != null).foreach(_.unpersist(blocking = true))

  private def rows(df: DataFrame): Seq[(Long, Double, Double, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq.sortBy(_._1)

  def op(spark: SparkSession, dir: String): Seq[(Long, Double, Double, Double)] =
    rows(Quality.optimalKSweep(df, sample, Dim, Ks, seed = seed, maxIter = MaxIter))

  def tracedOp(spark: SparkSession, dir: String, tr: Tracer): Seq[(Long, Double, Double, Double)] =
    Ks.map { k =>
      val init = tr.span("KMeans.seed")(iterConf(spark)(KMeans.seedPlusPlus(df, k, seed)))
      val cs = stepwise(tr, df, init, Dim, Tol, MaxIter).centroids
      val e = tr.span("Quality.elbow")(Quality.elbow(df, cs).head())
      val si = tr.span("Quality.silhouette") {
        Quality.silhouetteSimplified(KMeans.assign(sample, cs)).select(col("si")).head()
      }
      (k.toLong, e.getDouble(0), e.getDouble(1), if (si.isNullAt(0)) Double.NaN else si.getDouble(0))
    }

  def check(out: Seq[(Long, Double, Double, Double)]): Seq[String] = {
    val fails = mutable.ArrayBuffer[String]()
    if (out.map(_._1) != Ks.map(_.toLong)) fails += s"sweep returned k = ${out.map(_._1).mkString(",")}"
    out.sliding(2).foreach {
      case Seq(a, b) if b._3 > a._3 => fails += s"elbow rises from k=${a._1} (${a._3}) to k=${b._1} (${b._3})"
      case _ =>
    }
    fails.toSeq
  }

  def same(a: Seq[(Long, Double, Double, Double)], b: Seq[(Long, Double, Double, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && sameBits(x._2, y._2) && sameBits(x._3, y._3) && sameBits(x._4, y._4)
    }

  def quality(out: Seq[(Long, Double, Double, Double)]): Seq[(String, Double, String)] =
    Seq(("k_error", math.abs(out.maxBy(_._4)._1 - Planted).toDouble, "count"))
}

/** Batch scoring: every operation reads an uncached parquet and assigns
  * each point to the nearest centroid of a fixed model, then counts per
  * centroid.
  */
object ScoreScan extends Workload[Map[Long, Long]]("score_scan") {
  val N = 125000
  val Dim = 32
  val K = 32
  val Spread = 1.0
  val Sigma = 0.3
  val SampleEvery = 1000

  private var pts: Array[Array[Double]] = _
  private var model: Seq[Centroid] = Nil
  private var expected: Map[Long, Long] = Map.empty

  def generate(s: Long): String = {
    val rng = new java.util.Random(s * 1000003L + 37)
    val cs = centres(rng, K, Dim, Spread)
    model = cs.indices.map(j => Centroid(j + 1L, cs(j).toSeq))
    pts = blobs(rng, N, cs, Sigma)
    expected = pts.groupMapReduce(y => nearest(y, cs) + 1L)(_ => 1L)(_ + _)
    val h = new Hasher
    cs.foreach(h.doubles)
    pts.foreach(h.doubles)
    h.hex
  }

  def gate(): String = s"no size gate on assign; n*k*dim = ${N.toLong * K * Dim} per pass"

  def write(spark: SparkSession, dir: String): Unit = writePoints(spark, pts, dir, "score_points")

  private def points(spark: SparkSession, dir: String): DataFrame = Tables.read(spark, dir, "score_points")

  def load(spark: SparkSession, dir: String): Unit = points(spark, dir).count()

  def unload(): Unit = ()

  private def counts(spark: SparkSession, dir: String): Map[Long, Long] =
    KMeans.assign(points(spark, dir), model).groupBy("j").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def op(spark: SparkSession, dir: String): Map[Long, Long] = counts(spark, dir)

  def tracedOp(spark: SparkSession, dir: String, tr: Tracer): Map[Long, Long] = {
    tr.span("Tables.scan")(points(spark, dir).agg(sum(size(col("Y")))).head())
    tr.span("KMeans.assign")(counts(spark, dir))
  }

  def check(out: Map[Long, Long]): Seq[String] =
    if (out == expected) Nil
    else Seq(s"per-centroid counts differ from the plain-Scala assignment at j = " +
      (out.keySet ++ expected.keySet).filter(j => out.get(j) != expected.get(j)).toSeq.sorted.take(5).mkString(","))

  def same(a: Map[Long, Long], b: Map[Long, Long]): Boolean = a == b

  def quality(out: Map[Long, Long]): Seq[(String, Double, String)] = Nil

  override def finalChecks(spark: SparkSession, dir: String): Seq[String] = {
    val cs = coords(model)
    val got = KMeans.assign(points(spark, dir), model)
      .filter(col("i") % SampleEvery === 0).select(col("i"), col("j")).collect()
    val wrong = got.filter(r => r.getLong(1) != nearest(pts(r.getLong(0).toInt), cs) + 1L)
    val missing = (N + SampleEvery - 1) / SampleEvery - got.length
    (if (wrong.isEmpty) Nil else Seq(s"${wrong.length} sampled rows assigned to a centroid that is not the nearest")) ++
      (if (missing == 0) Nil else Seq(s"$missing sampled rows missing from the assignment"))
  }

  override def layerExtras(spans: Seq[Tracer.SpanTotals], ops: Int): Map[String, Double] = {
    def taskS(layer: String) = spans.filter(_.name == layer).map(_.taskS).sum
    Map("KMeans.assign.ns_per_cell" ->
      (taskS("KMeans.assign") - taskS("Tables.scan")) / ops / (N.toDouble * K * Dim) * 1e9)
  }
}

/** The dedup pipeline below connectedComponents' driver-local gate:
  * MinHash LSH pairs, connected components, keep one per component.
  */
object DedupCorpus extends Workload[(Map[Long, Long], Map[Long, Long])]("dedup_corpus") {
  val NDocs = 50000
  val Tokens = 40
  val DupShare = 0.2
  val Vocab = 20000
  /** connectedComponents' default `localMaxRows`: below it the loop runs on the driver. */
  val LocalMaxRows = 2000000L

  private var ids: Array[Long] = _
  private var texts: Array[String] = _
  private var family: Map[Long, Long] = Map.empty // doc -> id of the original it was copied from
  private var planted: Seq[(Long, Long)] = Nil // (original, near-duplicate)
  private var docs: DataFrame = _
  private var lastPairs: Array[(Long, Long)] = Array.empty
  private var lastComponents = 0

  def generate(s: Long): String = {
    val rng = new java.util.Random(s * 1000003L + 53)
    val vocab = Array.fill(Vocab)(Array.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
    val nDup = (NDocs * DupShare).toInt
    val nOrig = NDocs - nDup
    val toks = Array.ofDim[Array[String]](NDocs)
    val origin = new Array[Int](NDocs)
    for (d <- 0 until nOrig) { toks(d) = Array.fill(Tokens)(vocab(rng.nextInt(Vocab))); origin(d) = d }
    for (d <- nOrig until NDocs) {
      val o = rng.nextInt(nOrig)
      val t = toks(o).clone()
      t(rng.nextInt(Tokens)) = vocab(rng.nextInt(Vocab))
      toks(d) = t
      origin(d) = o
    }
    // doc ids are a permutation, so a copy's id is as often below its original's as above
    val perm = (1L to NDocs.toLong).toArray
    for (i <- perm.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    ids = perm
    texts = toks.map(_.mkString(" "))
    family = (0 until NDocs).map(d => ids(d) -> ids(origin(d))).toMap
    planted = (nOrig until NDocs).map(d => (ids(origin(d)), ids(d)))
    val h = new Hasher
    ids.indices.foreach { d => h.long(ids(d)); h.string(texts(d)) }
    h.hex
  }

  def gate(): String = {
    require(NDocs < LocalMaxRows, s"$name: $NDocs docs must stay below localMaxRows $LocalMaxRows")
    s"docs = $NDocs < localMaxRows $LocalMaxRows: the driver-local component loop runs"
  }

  def write(spark: SparkSession, dir: String): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    writeRows(spark, ids.indices.map(d => Row(ids(d), texts(d))), schema, dir, "dedup_docs")
  }

  def load(spark: SparkSession, dir: String): Unit = {
    docs = Tables.read(spark, dir, "dedup_docs").cache()
    docs.count()
  }

  def unload(): Unit = if (docs != null) docs.unpersist(blocking = true)

  private def asMap(df: DataFrame, k: String, v: String): Map[Long, Long] =
    df.select(col(k), col(v)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def op(spark: SparkSession, dir: String): (Map[Long, Long], Map[Long, Long]) = {
    val comps = Dedup.connectedComponents(docs.select(col("doc_id")), Dedup.minhashLSH(docs)).persist()
    try (asMap(comps, "doc_id", "rep_id"), asMap(Dedup.keepOne(comps), "doc_id", "cluster_size"))
    finally comps.unpersist(blocking = true)
  }

  def tracedOp(spark: SparkSession, dir: String, tr: Tracer): (Map[Long, Long], Map[Long, Long]) = {
    val pairs = Dedup.minhashLSH(docs).persist()
    try {
      lastPairs = tr.span("Dedup.lsh") {
        pairs.select(col("a_id"), col("b_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      val comps = tr.span("Dedup.components") {
        val c = Dedup.connectedComponents(docs.select(col("doc_id")), pairs).persist()
        c.count()
        c
      }
      try {
        val kept = tr.span("Dedup.keep")(asMap(Dedup.keepOne(comps), "doc_id", "cluster_size"))
        val comp = asMap(comps, "doc_id", "rep_id")
        lastComponents = comp.values.toSet.size
        (comp, kept)
      } finally comps.unpersist(blocking = true)
    } finally pairs.unpersist(blocking = true)
  }

  def check(out: (Map[Long, Long], Map[Long, Long])): Seq[String] = {
    val (comp, kept) = out
    val fails = mutable.ArrayBuffer[String]()
    if (comp.size != NDocs || !ids.forall(comp.contains))
      fails += s"components cover ${comp.size} ids, expected the $NDocs doc ids once each"
    val above = comp.count { case (d, r) => r > d }
    if (above > 0) fails += s"$above docs have rep_id > doc_id"
    val reps = comp.values.toSet
    if (kept.keySet != reps) fails += s"keepOne kept ${kept.size} docs for ${reps.size} components"
    if (kept.values.sum != NDocs) fails += s"keepOne cluster sizes sum to ${kept.values.sum}, expected $NDocs"
    fails.toSeq
  }

  def same(a: (Map[Long, Long], Map[Long, Long]), b: (Map[Long, Long], Map[Long, Long])): Boolean = a == b

  def quality(out: (Map[Long, Long], Map[Long, Long])): Seq[(String, Double, String)] = {
    val comp = out._1
    Seq(("pair_recall", planted.count { case (a, b) => comp(a) == comp(b) }.toDouble / planted.size, "ratio"),
      ("components", comp.values.toSet.size.toDouble, "count"))
  }

  override def layerExtras(spans: Seq[Tracer.SpanTotals], ops: Int): Map[String, Double] = {
    val planted = lastPairs.count { case (a, b) => family(a) == family(b) }
    Map("Dedup.lsh.pairs" -> lastPairs.length.toDouble,
      "Dedup.lsh.pair_precision" -> (if (lastPairs.isEmpty) 0.0 else planted.toDouble / lastPairs.length),
      "Dedup.components.count" -> lastComponents.toDouble)
  }
}
