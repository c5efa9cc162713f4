package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Engine benchmark: one workload per run, one client, operations one at a
  * time.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work-dir <dir>
  * }}}
  *
  * A run starts a session, generates the workload's inputs from the seed,
  * loads them, runs one untimed warm-up operation and then runs operations
  * until `--seconds` have passed, checking every output. With `--trace 1` a
  * second timed phase follows in which each operation is split into its
  * public calls, one span per call, and per-layer metrics are reported
  * instead of the end-to-end ones. The last line of standard output is the
  * result as one JSON object.
  */
object Main {
  val Layers: Seq[String] = Seq("Tables.load", "Tables.scan", "KMeans.seed", "KMeans.lloyd",
    "KMeans.assign", "Quality.elbow", "Quality.silhouette", "Dedup.lsh", "Dedup.components",
    "Dedup.keep")

  /** Loads repeated in set-up; `setup_s` counts their median. */
  val Loads = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, workDir: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1", need("work-dir"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload)
    val ok = run(w, a)
    sys.exit(if (ok) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def info(msg: String): Unit = println(s"[perfbench] $msg")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Heap still in use after a full collection, in MB: what the driver
    * retains (in local mode, cached blocks included). The first collection
    * lets Spark's context cleaner see the op's unreachable RDDs and
    * broadcasts and drop their blocks; the second frees them.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Pause between the heap sampler's readings. Collections back to back
    * starve the sampled op; at 100 ms the peak spread 0.19-0.22 across
    * seeds (README, End-to-end metrics).
    */
  val SampleEveryMs = 20L

  /** Runs `body` while a second thread forces a full collection every
    * [[SampleEveryMs]] and reads the heap left in use; returns the body's
    * value, the largest reading in MB and the number of readings.
    */
  private def sampledPeakHeapMb[A](body: => A): (A, Double, Int) = {
    @volatile var running = true
    @volatile var peak = 0.0
    @volatile var samples = 0
    val sampler = new Thread(() => while (running) {
      System.gc()
      peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
      samples += 1
      Thread.sleep(SampleEveryMs)
    })
    sampler.setDaemon(true)
    sampler.start()
    try (body, peak, samples) finally { running = false; sampler.join() }
  }

  private def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) throw new IllegalStateException(s"metric is not a finite number: $x")
    else x.toString

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def run[O](w: Workload[O], a: Args): Boolean = {
    val dataDir = s"${a.workDir}/data/${w.name}-${a.seed}-${ProcessHandle.current.pid}"
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    try {
      val fails = mutable.ArrayBuffer[String]()
      val tg = System.nanoTime()
      val hash = w.generate(a.seed)
      info(s"${w.name} seed=${a.seed} inputs=$hash")
      info(s"${w.name} gate: ${w.gate()}")
      val genS = secs(tg)
      w.write(spark, dataDir)
      info(s"${w.name} inputs generated in ${genS}s, written in ${secs(tg) - genS}s (not part of setup_s)")

      val loadS = (1 to Loads).map { _ =>
        w.unload()
        val t = System.nanoTime(); w.load(spark, dataDir); secs(t)
      }
      val tw = System.nanoTime()
      val ref = w.op(spark, dataDir)
      val warmS = secs(tw)
      val setupS = sessionS + median(loadS) + warmS
      fails ++= w.check(ref)
      info(s"${w.name} setup: session ${sessionS}s, load ${loadS.mkString(", ")}s, warm-up op ${warmS}s")

      // untraced timed phase
      var attempted = 0
      var failed = 0
      val opS = mutable.ArrayBuffer[Double]()
      var cpuNs = 0L
      val phase = System.nanoTime()
      while (attempted == 0 || secs(phase) < a.seconds) {
        attempted += 1
        val c = osBean.getProcessCpuTime
        val t = System.nanoTime()
        val out = try Right(w.op(spark, dataDir)) catch { case e: Exception => Left(e) }
        opS += secs(t)
        cpuNs += osBean.getProcessCpuTime - c
        val opFails = out match {
          case Left(e) => Seq(s"op threw $e")
          case Right(o) => w.check(o) ++ (if (w.same(o, ref)) Nil else Seq("output differs from the warm-up op's"))
        }
        if (opFails.nonEmpty) { failed += 1; fails ++= opFails.map(f => s"op $attempted: $f") }
      }
      // untimed, after the timed ops, so the forced collections slow none
      val heapMb = retainedHeapMb()
      fails ++= w.finalChecks(spark, dataDir)
      val p50 = median(opS.toSeq)
      info(s"${w.name} op_s: ${opS.mkString(", ")} (n=${opS.size}, median $p50)")
      info(s"${w.name} error_rate: ${failed.toDouble / attempted} ($failed of $attempted)")
      w.quality(ref).foreach { case (n, v, u) => info(s"${w.name} $n: $v $u") }

      val metrics =
        if (!a.trace) Seq(
          ("op_s_p50", p50, "s"),
          ("cpu_s_per_op", cpuNs / 1e9 / attempted, "s"),
          ("driver_heap_mb", heapMb, "MB"),
          ("setup_s", setupS, "s"))
        else traced(w, a, spark, dataDir, ref, p50, fails)

      fails.foreach(f => info(s"${w.name} FAILED: $f"))
      val correct = fails.isEmpty
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metricsJson(metrics)}}""")
      correct
    } finally {
      spark.stop()
      deleteRecursively(new java.io.File(dataDir))
    }
  }

  /** The traced phase: one operation under the heap sampler, a traced
    * reload, then traced operations for `seconds`. Returns the per-layer
    * metrics, each per traced operation (Tables.load: for the one traced
    * load).
    */
  private def traced[O](w: Workload[O], a: Args, spark: SparkSession, dataDir: String,
      ref: O, untracedP50: Double, fails: mutable.ArrayBuffer[String]): Seq[(String, Double, String)] = {
    // one op under the heap sampler, from the heap the untraced phase left
    val th = System.nanoTime()
    val (heapOut, peakMb, samples) = sampledPeakHeapMb(w.op(spark, dataDir))
    info(s"${w.name} heap: peak $peakMb MB over $samples readings during one op (${secs(th)} s)")
    if (!w.same(heapOut, ref)) fails += "heap-sampled op: output differs from the warm-up op's"

    val tr = new Tracer(spark)
    val t0 = System.nanoTime()
    w.unload()
    tr.span("Tables.load")(w.load(spark, dataDir))
    // one op run whole under a single span: the jobs and tasks it runs
    // unsplit, to set against the traced ops' totals
    tr.beginOp()
    tr.span("unsplit")(w.op(spark, dataDir))
    val opS = mutable.ArrayBuffer[Double]()
    val phase = System.nanoTime()
    while (opS.isEmpty || secs(phase) < a.seconds) {
      tr.beginOp()
      val t = System.nanoTime()
      val out = tr.span(w.name)(w.tracedOp(spark, dataDir, tr))
      opS += secs(t)
      if (!w.same(out, ref)) fails += s"traced op ${opS.size}: split calls do not reproduce the op's output"
    }
    val spans = tr.finish()
    val ops = opS.size
    val whole = spans.find(_.name == "unsplit").get
    val split = spans.filter(_.op > whole.op)
    info(s"${w.name} per op: unsplit ${whole.jobs} jobs, ${whole.tasks} tasks; split into calls " +
      s"${split.map(_.jobs).sum.toDouble / ops} jobs, ${split.map(_.tasks).sum.toDouble / ops} tasks")
    val overhead = median(opS.toSeq) - untracedP50
    info(s"${w.name} traced op_s: ${opS.mkString(", ")} (n=$ops); tracing overhead ${overhead}s per op")

    val traceFile = new java.io.File(s"${a.workDir}/traces/${w.name}-seed${a.seed}.jsonl")
    traceFile.getParentFile.mkdirs()
    val pw = new java.io.PrintWriter(traceFile, "UTF-8")
    try spans.foreach(s => pw.println(s.json(t0))) finally pw.close()
    info(s"${w.name} spans: ${spans.size} written to $traceFile")

    val perLayer = Layers.flatMap { l =>
      val ss = spans.filter(_.name == l)
      val div = if (l == "Tables.load") 1.0 else ops.toDouble
      def tot(f: Tracer.SpanTotals => Double) = ss.map(f).sum / div
      val wall = tot(_.wall)
      val plan = tot(_.plan)
      val crit = tot(_.crit)
      Seq(("wall_s", wall, "s"), ("calls", tot(_ => 1.0), "count"), ("plan_s", plan, "s"),
        ("jobs", tot(_.jobs.toDouble), "count"), ("tasks", tot(_.tasks.toDouble), "count"),
        ("task_s", tot(_.taskS), "s"), ("crit_s", crit, "s"), ("sched_s", wall - plan - crit, "s"),
        ("shuffle_bytes", tot(_.shuffleBytes.toDouble), "bytes"),
        ("result_bytes", tot(_.resultBytes.toDouble), "bytes"), ("gc_s", tot(_.gc), "s"))
        .map { case (m, v, u) => (s"$l.$m", v, u) }
    }
    val steps = spans.filter(_.name == "KMeans.lloyd")
    val stepWalls = steps.map(_.wall)
    val lloyd = Seq(
      ("KMeans.lloyd.steps", steps.size.toDouble / ops, "count"),
      ("KMeans.lloyd.step_s_p50", if (steps.isEmpty) 0.0 else median(stepWalls), "s"),
      ("KMeans.lloyd.step_s_p90", if (steps.isEmpty) 0.0 else percentile(stepWalls, 0.9), "s"),
      ("KMeans.lloyd.jobs_per_step", if (steps.isEmpty) 0.0 else steps.map(_.jobs).sum.toDouble / steps.size, "count"))
    fails ++= w.tracedChecks(spans)
    val extras = w.layerExtras(spans, ops)
    val extraUnits = Map("KMeans.assign.ns_per_cell" -> "ns", "Dedup.lsh.pairs" -> "count",
      "Dedup.lsh.pair_precision" -> "ratio", "Dedup.components.count" -> "count")
    val specific = extraUnits.keys.toSeq.sorted.map(k => (k, extras.getOrElse(k, 0.0), extraUnits(k)))
    perLayer ++ lloyd ++ specific :+ (("trace.overhead_s", overhead, "s")) :+
      (("driver.peak_heap_mb", peakMb, "MB"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
