package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, and the Spark
  * work attributed to them.
  *
  * Every timed call runs inside [[span]], which always records its wall
  * interval. When tracing is on, the span's label (`<pass>|<key>`) is
  * also set as a local property on the calling thread, so each job the
  * call submits carries it; a [[SparkListener]] maps the job's stages,
  * and so its tasks, to that label. A [[QueryExecutionListener]]
  * attributes each query's planning phases (analysis, optimization,
  * planning) to the span whose interval holds the phase's start. Both
  * listeners are the benchmark's own and are registered only for a
  * traced run. Events stay in memory until [[drain]] is read.
  */
final class Trace(spark: SparkSession, val cores: Int) {
  import Trace._

  final case class Span(pass: Int, key: String, startMs: Long, endMs: Long, seconds: Double)
  final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long, gcMs: Long)

  private val sc = spark.sparkContext
  private var traced = false
  private var pass = 0

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val stages = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val tasks = mutable.Map.empty[String, mutable.ArrayBuffer[TaskRec]]
  private val planningMs = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      label.foreach { l =>
        Trace.this.synchronized {
          jobs(l) += 1
          e.stageIds.foreach(id => stageLabel(id) = l)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized(stageLabel.get(e.stageInfo.stageId).foreach(l => stages(l) += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) Trace.this.synchronized {
        stageLabel.get(e.stageId).foreach { l =>
          tasks.getOrElseUpdate(l, mutable.ArrayBuffer.empty) += TaskRec(
            i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
      qe.tracker.phases.values.foreach(p => planningMs += ((p.startTimeMs, p.endTimeMs)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  /** Turn attribution on: register both listeners. */
  def start(): Unit = if (!traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    traced = true
  }

  /** Turn attribution off and forget every span and event so far. */
  def stop(): Unit = {
    if (traced) {
      drain()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queryListener)
      traced = false
    }
    reset()
  }

  def reset(): Unit = synchronized {
    spans.clear(); stageLabel.clear(); jobs.clear(); stages.clear(); tasks.clear(); planningMs.clear()
  }

  def beginPass(p: Int): Unit = pass = p

  /** Run `f` as one span of `key` in the current pass; returns its
    * result and wall seconds.
    */
  def span[A](key: String)(f: => A): (A, Double) = {
    val label = s"$pass|$key"
    if (traced) sc.setLocalProperty(SpanKey, label)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = f
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      val secs = (System.nanoTime() - t0) / 1e9
      synchronized(spans += Span(pass, key, startMs, System.currentTimeMillis(), secs))
      if (traced) sc.setLocalProperty(SpanKey, null)
    }
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Per-key totals for one pass, over the keys `keep` accepts. */
  def layer(p: Int, keep: String => Boolean): Layer = synchronized {
    val ss = spans.filter(s => s.pass == p && keep(s.key))
    val labels = ss.map(s => s"$p|${s.key}").distinct
    val ts = labels.flatMap(l => tasks.getOrElse(l, Nil))
    val plan = planningMs.filter { case (st, _) =>
      ss.exists(s => st >= s.startMs && st <= s.endMs)
    }
    Layer(
      wallS = ss.map(_.seconds).sum,
      jobs = labels.map(jobs).sum,
      stages = labels.map(stages).sum,
      tasks = ts.size,
      taskRunS = ts.map(_.runMs).sum / 1e3,
      taskCpuS = ts.map(_.cpuNs).sum / 1e9,
      busyS = unionSeconds(ts.map(t => (t.launchMs, t.finishMs)).toSeq),
      shuffleWrite = ts.map(_.shuffleWrite).sum,
      shuffleRead = ts.map(_.shuffleRead).sum,
      spill = ts.map(_.spill).sum,
      gcS = ts.map(_.gcMs).sum / 1e3,
      planningS = plan.map { case (a, b) => b - a }.sum / 1e3,
      cores = cores)
  }

  /** Wall seconds of every span of `key` in pass `p`. */
  def wall(p: Int, key: String): Double = synchronized(spans.filter(s => s.pass == p && s.key == key).map(_.seconds).sum)
}

object Trace {
  val SpanKey = "perfbench.span"

  /** What a layer did in one pass. `idleS` is its wall time during which
    * none of its tasks ran; `coreUtil` is task time over wall × cores.
    */
  final case class Layer(wallS: Double, jobs: Int, stages: Int, tasks: Int, taskRunS: Double,
                         taskCpuS: Double, busyS: Double, shuffleWrite: Long, shuffleRead: Long,
                         spill: Long, gcS: Double, planningS: Double, cores: Int) {
    def idleS: Double = math.max(0.0, wallS - busyS)
    def coreUtil: Double = if (wallS > 0) taskRunS / (wallS * cores) else 0.0
  }

  /** Length in seconds of the union of `[start, end]` millisecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total += curE - curS
    total / 1e3
  }
}
