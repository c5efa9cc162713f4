package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine, and the Spark
  * counters attributed to them.
  *
  * A span is opened around one public call (`KMeans.seedParallel`,
  * `Dedup.minhashLSH`, ...) from the benchmark's side; the engine is not
  * instrumented. Jobs are attributed exactly: the innermost open span's id
  * rides on the submitting thread as a Spark local property, and every
  * stage and task of the job inherits it. SQL executions carry no such
  * property, so each planning phase (analysis, optimization, physical
  * planning) goes to the innermost span whose wall interval contains the
  * phase's start (calls run one at a time).
  *
  * Spans and counters stay in memory; [[finish]] drains the listener bus
  * and returns the per-span totals.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var currentOp = -1

  // listener-side state: written on the listener-bus threads
  private val lock = new Object
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val jobsBySpan = mutable.HashMap[Int, Long]().withDefaultValue(0L)
  private val taskStats = mutable.HashMap[Int, Array[Long]]() // span -> [tasks, runMs, shuffleB, resultB]
  private val stageMaxMs = mutable.HashMap[(Int, Int, Int), Long]() // (span, stage, attempt) -> max task ms
  private val planPhases = mutable.ArrayBuffer[(Long, Long)]() // (start ms, duration ms)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanProperty)))
      p.foreach { s =>
        val span = s.toInt
        lock.synchronized {
          jobsBySpan(span) += 1
          e.stageIds.foreach(stageSpan(_) = span)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val t = taskStats.getOrElseUpdate(span, new Array[Long](4))
        t(0) += 1
        val m = e.taskMetrics
        if (m != null) {
          t(1) += m.executorRunTime
          t(2) += m.shuffleWriteMetrics.bytesWritten
          t(3) += m.resultSize
        }
        val key = (span, e.stageId, e.stageAttemptId)
        stageMaxMs(key) = math.max(stageMaxMs.getOrElse(key, 0L), e.taskInfo.duration)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values.map(p => (p.startTimeMs, p.durationMs))
      lock.synchronized { planPhases ++= phases }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)

  /** Starts a new operation: later root spans carry its id. */
  def beginOp(): Unit = currentOp += 1

  /** Runs `body` inside a span named `name`. */
  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), currentOp,
      System.nanoTime(), System.currentTimeMillis(), gcMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcMs = gcMillis() - s.gcStartMs
      stack = stack.tail
      sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Stops listening and returns every span with its counters filled in. */
  def finish(): Seq[SpanTotals] = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    lock.synchronized {
      val planBySpan = mutable.HashMap[Int, Long]().withDefaultValue(0L)
      for ((t, ms) <- planPhases) {
        val inside = spans.filter(s => s.startMs <= t && t <= s.endMs)
        if (inside.nonEmpty) planBySpan(inside.maxBy(_.startNs).id) += ms
      }
      val critBySpan = stageMaxMs.groupMapReduce(_._1._1)(_._2)(_ + _)
      val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
      spans.toSeq.map { s =>
        val t = taskStats.getOrElse(s.id, new Array[Long](4))
        val wallNs = s.endNs - s.startNs
        SpanTotals(s.id, s.name, s.parent, s.op, s.startNs, s.endNs,
          wall = wallNs / 1e9,
          self = (wallNs - childNs.getOrElse(s.id, 0L)) / 1e9,
          plan = planBySpan(s.id) / 1e3,
          jobs = jobsBySpan(s.id), tasks = t(0), taskS = t(1) / 1e3,
          crit = critBySpan.getOrElse(s.id, 0L) / 1e3,
          shuffleBytes = t(2), resultBytes = t(3), gc = s.gcMs / 1e3)
      }
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, startMs: Long, gcStartMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    var gcMs: Long = 0L
  }

  /** One span with its counters. `self` is the span's wall time minus the
    * wall time of its child spans; `plan` is query planning time
    * (analysis + optimization + physical planning); `crit` sums, over the
    * span's stages, the longest task of each stage.
    */
  final case class SpanTotals(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, endNs: Long, wall: Double, self: Double, plan: Double,
      jobs: Long, tasks: Long, taskS: Double, crit: Double,
      shuffleBytes: Long, resultBytes: Long, gc: Double) {
    def json(t0Ns: Long): String =
      "{" + Seq(
        s""""id": $id""", s""""name": "$name"""", s""""parent": $parent""", s""""op": $op""",
        s""""start_s": ${(startNs - t0Ns) / 1e9}""", s""""end_s": ${(endNs - t0Ns) / 1e9}""",
        s""""wall_s": $wall""", s""""self_s": $self""", s""""plan_s": $plan""",
        s""""jobs": $jobs""", s""""tasks": $tasks""", s""""task_s": $taskS""",
        s""""crit_s": $crit""", s""""shuffle_bytes": $shuffleBytes""",
        s""""result_bytes": $resultBytes""", s""""gc_s": $gc""").mkString(", ") + "}"
  }

  /** Process-wide GC time so far (all collectors), in ms. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
