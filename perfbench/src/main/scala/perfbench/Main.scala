package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Benchmark main: one workload, one seed, one JVM, a single client
  * thread running closed-loop passes.
  *
  *   --workload etl_nightly|sql_mix|graph_kernels  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --expected FILE  [--record FILE]
  *
  * Set-up (timed as `setup_s`) builds the session and prepares the
  * inputs [[SetupRepeats]] times in fresh directories; the median
  * preparation counts. Then passes run until `--seconds` have elapsed,
  * at least one. The first pass is the cold one a fresh process pays;
  * with `--seconds` below a pass's length it is the only one.
  * With `--trace 1` that pass is traced, and four more passes
  * (untraced, traced, traced, untraced) give `trace.overhead`.
  * Outputs are checked outside the timings.
  *
  * The result is one `PERFBENCH_RESULT {json}` line on stdout; run.py
  * turns it into the benchmark's final line. `PERFBENCH_TIMED_BEGIN` /
  * `_END` on stderr bracket the passes whose Spark warnings count.
  */
object Main {

  val SetupRepeats = 3

  /** Percentile by linear interpolation between order statistics
    * (numpy's default); `pct(xs, 0.5)` is the usual median.
    */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      s(lo) + (pos - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }
  }
  private def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  private def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
  private def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def peakRssMb: Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  final case class PassRec(p: Int, wall: Double, ops: Seq[(String, Double, Option[Throwable])])

  def readExpected(f: File): Map[String, (Long, BigDecimal)] =
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, BigDecimal(a(2)))).toMap

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work"))
    val expected = readExpected(new File(opt("expected")))

    val t0 = System.nanoTime()
    val spark = graft.Sessions.build("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val cores = spark.sparkContext.defaultParallelism
    val trace = new Trace(spark, cores)
    val rows = QueryLoop.tableRows
    val w: Workload = name match {
      case "etl_nightly" => new EtlNightly(spark, seed)
      case "sql_mix" =>
        new QueryLoop(spark, seed, QueryLoop.headline, "query", rows.keySet,
          n => rows(QueryLoop.PrimaryTable(n)), expected)
      case "graph_kernels" =>
        // the kernels build their graphs from lineitem alone
        new QueryLoop(spark, seed, QueryLoop.Kernels, "kernel", Set("lineitem"), _ => rows("lineitem"), expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    try {
      val prepS = (1 to SetupRepeats).map(i => timed(w.prepare(new File(work, s"input$i"))))
      val setupS = sessionS + median(prepS)
      // flush what set-up wrote so its write-back does not land in the timed pass
      new ProcessBuilder("sync").inheritIO().start().waitFor()

      opt.get("record") match {
        case Some(out) => record(w, new File(out))
        case None =>
          def run(p: Int): PassRec = {
            trace.beginPass(p)
            val t = System.nanoTime()
            val ops = w.pass(trace, p)
            PassRec(p, (System.nanoTime() - t) / 1e9, ops)
          }
          // Untraced: passes until `seconds` have elapsed, at least one.
          // Traced: one traced pass in the state the untraced run times
          // (the per-layer figures), then untraced/traced/traced/untraced
          // passes whose time ratio is the tracing overhead.
          val gc0 = gcSeconds
          val builds0 = graft.core.ArtifactStore.builds.get()
          System.err.println("PERFBENCH_TIMED_BEGIN")
          val measured = scala.collection.mutable.ArrayBuffer.empty[PassRec]
          val start = System.nanoTime()
          if (traced) trace.start()
          while (measured.isEmpty || (!traced && (System.nanoTime() - start) / 1e9 < seconds))
            measured += run(measured.size + 1)
          System.err.println("PERFBENCH_TIMED_END")
          val gcS = (gcSeconds - gc0) / measured.size
          val builds = graft.core.ArtifactStore.builds.get() - builds0
          val layers = if (traced) { trace.drain(); layerMetrics(w, trace, measured.toSeq) } else Seq.empty
          val overhead = if (!traced) Seq.empty else Seq(false, true, true, false).map { on =>
            if (on) trace.start() else trace.stop()
            on -> run(measured.size + 1)
          }
          def overheadWall(on: Boolean) = overhead.collect { case (`on`, pr) => pr.wall }.sum

          val checks = w.check()
          val all = measured.toSeq ++ overhead.map(_._2)
          val errors = all.flatMap(_.ops).collect { case (op, _, Some(e)) => s"$op: $e" }
          val attempted = all.map(_.ops.size).sum
          val failed = errors.size + checks.count(!_.ok)

          val runS = median(measured.map(_.wall).toSeq)
          val latencies = measured.toSeq.flatMap(_.ops).filter(_._1 != "discover").map(_._2)
          val metrics: Seq[(String, Double, String)] =
            if (!traced) Seq(
              ("setup_s", setupS, "s"),
              ("run_s", runS, "s"),
              ("rows_per_s", w.rowsPerPass / runS, "1/s"),
              ("query_p50_s", pct(latencies, 0.5), "s"),
              ("query_p90_s", pct(latencies, 0.9), "s"))
            else layers ++ Seq(
              ("artifact.builds", builds.toDouble, "count"),
              ("jvm.peak_rss_mb", peakRssMb, "MB"),
              ("jvm.gc_s", gcS, "s"),
              ("trace.overhead", overheadWall(true) / overheadWall(false), "ratio"))

          val context = Map(
            "workload" -> name, "seed" -> seed.toString, "seconds" -> opt("seconds"),
            "trace" -> (if (traced) "1" else "0"), "cores" -> cores.toString,
            "SPARK_GRAFT_CPUS" -> graft.Sessions.cpus,
            "SPARK_DRIVER_MEM" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
            "measured_passes" -> measured.size.toString,
            "pass_s" -> all.map(pr => f"${pr.wall}%.3f").mkString(" "), "latency_samples" -> latencies.size.toString,
            "setup_session_s" -> f"$sessionS%.3f", "setup_prepare_s" -> prepS.map(x => f"$x%.3f").mkString(" "), "failed_op_share" -> (failed.toDouble / math.max(1, attempted)).toString)
          val json = Json.obj(
            "correct" -> Json.raw((failed == 0).toString),
            "attempted" -> Json.raw(attempted.toString),
            "failed" -> Json.raw(failed.toString),
            "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
              k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
            }: _*),
            "context" -> Json.obj(context.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
            "failed_checks" -> Json.arr(checks.filterNot(_.ok).map(c => Json.str(s"${c.name}: ${c.detail}"))),
            "errors" -> Json.arr(errors.map(Json.str)),
            "op_seconds" -> Json.arr(all.flatMap(pr => pr.ops.map { case (op, t, _) =>
              Json.arr(Seq(Json.raw(pr.p.toString), Json.str(op), Json.num(t)))
            })))
          println("PERFBENCH_RESULT " + json)
      }
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Per-layer metrics: the median over traced passes of each pass's value. */
  private def layerMetrics(w: Workload, trace: Trace, ps: Seq[PassRec]): Seq[(String, Double, String)] = {
    def stat(prefix: String, l: Trace.Layer): Seq[(String, Double, String)] = Seq(
      (s"$prefix.jobs", l.jobs.toDouble, "count"), (s"$prefix.tasks", l.tasks.toDouble, "count"),
      (s"$prefix.task_run_s", l.taskRunS, "s"), (s"$prefix.idle_s", l.idleS, "s"),
      (s"$prefix.core_util", l.coreUtil, "ratio"))
    val perPass: Seq[Seq[(String, Double, String)]] = ps.map { pr =>
      val p = pr.p
      val eng = trace.layer(p, _ => true)
      val engine = Seq(
        ("engine.planning_s", eng.planningS, "s"), ("engine.jobs", eng.jobs.toDouble, "count"),
        ("engine.stages", eng.stages.toDouble, "count"), ("engine.tasks", eng.tasks.toDouble, "count"),
        ("engine.task_run_s", eng.taskRunS, "s"), ("engine.task_cpu_s", eng.taskCpuS, "s"),
        ("engine.idle_s", eng.idleS, "s"), ("engine.core_util", eng.coreUtil, "ratio"),
        ("engine.shuffle_write_bytes", eng.shuffleWrite.toDouble, "bytes"),
        ("engine.shuffle_read_bytes", eng.shuffleRead.toDouble, "bytes"),
        ("engine.spill_bytes", eng.spill.toDouble, "bytes"), ("engine.gc_s", eng.gcS, "s"))
      val specific = w match {
        case etl: EtlNightly =>
          val stages = EtlNightly.Stages
          val stageWall = stages.map(k => trace.wall(p, k))
          val tableOps = pr.ops.filter(_._1 != "discover")
          stages.zip(stageWall).map { case (k, s) => (s"${k}_s", s, "s") } ++
            stages.flatMap(k => stat(k, trace.layer(p, _ == k))) ++ Seq(
              ("pipeline.small_table_p50_s", median(tableOps.filter(_._1.startsWith("user__field")).map(_._2)), "s"),
              ("pipeline.lineitem_s", tableOps.filter(_._1 == "lineitem").map(_._2).sum, "s"),
              ("trace.accounted_share", stageWall.sum / pr.wall, "ratio"))
        case q: QueryLoop if q.prefix == "kernel" =>
          val k = trace.layer(p, _.startsWith("kernel."))
          q.names.flatMap { n =>
            val l = trace.layer(p, _ == s"kernel.$n")
            Seq((s"kernel.${n}_s", l.wallS, "s"), (s"kernel.${n}_jobs", l.jobs.toDouble, "count"))
          } ++ Seq(("kernel.idle_s", k.idleS, "s"), ("kernel.core_util", k.coreUtil, "ratio"),
            ("kernel.planning_s", k.planningS, "s"))
        case q: QueryLoop => q.names.map(n => (s"query.${n}_s", trace.wall(p, s"query.$n"), "s"))
      }
      engine ++ specific
    }
    val names = perPass.head.map(m => (m._1, m._3))
    val fixed = w match {
      case etl: EtlNightly =>
        (etl.outputs() + ("pipeline.null_markers" -> etl.nullMarkers().values.sum)).toSeq.map {
          case (k, v) => (k, v.toDouble, if (k.endsWith("bytes")) "bytes" else "count")
        }
      case _ => Seq.empty
    }
    names.map { case (k, u) => (k, median(perPass.map(_.find(_._1 == k).get._2)), u) } ++ fixed
  }

  /** Write the row count and checksum of every query of a query
    * workload, after checking two evaluations agree.
    */
  private def record(w: Workload, out: File): Unit = w match {
    case q: QueryLoop =>
      val a = q.digests()
      val b = q.digests()
      val lines = a.zip(b).map { case ((n, x), (_, y)) =>
        require(x == y, s"$n is not deterministic: $x vs $y")
        s"$n\t${x._1}\t${x._2}"
      }
      val prev = readExpected(out) -- a.map(_._1)
      val merged = prev.toSeq.map { case (n, (r, c)) => s"$n\t$r\t$c" } ++ lines
      java.nio.file.Files.write(out.toPath, merged.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"recorded ${lines.size} digests to $out")
    case _ => throw new IllegalArgumentException("--record applies to sql_mix and graph_kernels")
  }
}

/** Just enough JSON writing for the result line. */
object Json {
  final case class J(s: String) { override def toString: String = s }
  def raw(s: String): J = J(s)
  def num(v: Double): J = J(if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString)
  def str(s: String): J = J("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  def obj(kv: (String, J)*): J = J(kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
  def arr(xs: Seq[J]): J = J(xs.mkString("[", ",", "]"))
}
