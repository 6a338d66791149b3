package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Registry
import graft.pipeline.Pipeline
import graft.sources.JdbcCatalog

/** One outcome of a correctness check; a failed check is a failed operation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload: what set-up prepares, what one timed pass
  * runs, and how its outputs are checked afterwards.
  */
trait Workload {
  /** Build the inputs under `dir` (a fresh directory each call). */
  def prepare(dir: File): Unit
  /** One closed-loop pass. Returns (operation, seconds, error) per
    * operation, in the order run.
    */
  def pass(trace: Trace, p: Int): Seq[(String, Double, Option[Throwable])]
  /** Rows one pass reads from its primary inputs. */
  def rowsPerPass: Long
  /** Correctness checks over the state the timed passes left. */
  def check(): Seq[Check]
  def close(): Unit = ()
}

object Digest {
  /** Per-row hash of every column cast to string (NULL hashed as its own
    * marker); summed, it is an order-insensitive checksum.
    */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fieldNames.toSeq.map(f => coalesce(col(s"`$f`").cast("string"), lit("\u0001NULL")))
    (if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).cast("decimal(38,0)")
  }

  /** Row count and checksum of `df`. */
  def apply(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(rowHash(df).as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

/** A closed loop over registered queries, each forced end to end through
  * the `noop` sink. The first (cold) pass runs them in the order given,
  * because in a cold pass the first queries absorb the JVM's warm-up;
  * the seed orders every later pass. The write observes each output's
  * row count and checksum on the way, and [[check]] compares the last
  * pass's against `expected`.
  */
final class QueryLoop(spark: SparkSession, seed: Long, val names: Seq[String], val prefix: String,
                      inputs: Set[String], primary: String => Long,
                      expected: Map[String, (Long, BigDecimal)]) extends Workload {
  private var dir: String = _
  private val seen = scala.collection.mutable.Map.empty[String, (Long, BigDecimal)]

  def prepare(d: File): Unit = {
    dir = d.getAbsolutePath
    Fixture.writeParquet(spark, dir, inputs)
  }

  def pass(trace: Trace, p: Int): Seq[(String, Double, Option[Throwable])] =
    (if (p <= 1) names else new Random(seed * 7919L + p).shuffle(names)).map { n =>
      val t0 = System.nanoTime()
      try {
        val obs = Observation(s"perfbench_digest_${n}_$p")
        val (_, s) = trace.span(s"$prefix.$n") {
          val df = Registry.byName(n).run(spark, dir)
          df.observe(obs, count(lit(1)).as("rows"), sum(Digest.rowHash(df)).as("sum"))
            .write.format("noop").mode("overwrite").save()
        }
        val m = obs.get
        seen(n) = (m("rows").asInstanceOf[Long],
          Option(m("sum").asInstanceOf[java.math.BigDecimal]).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
        (n, s, None)
      } catch { case e: Throwable => (n, (System.nanoTime() - t0) / 1e9, Some(e)) }
    }

  def rowsPerPass: Long = names.map(primary).sum

  def digests(): Seq[(String, (Long, BigDecimal))] = names.map(n => n -> Digest(Registry.byName(n).run(spark, dir)))

  def check(): Seq[Check] = names.map { n =>
    (seen.get(n), expected.get(n)) match {
      case (Some(got), Some(want)) => Check(n, got == want, s"got $got, expected $want")
      case (None, _) => Check(n, ok = false, "no output observed")
      case (_, None) => Check(n, ok = false, "no expected value recorded")
    }
  }
}

object QueryLoop {
  /** The frozen v9 headline set of graft.Bench, in registry order. */
  def headline: Seq[String] = Registry.headline.map(_.name)
  val Kernels: Seq[String] = Seq("q_cc_converged", "q_cc_star", "q_kcore", "q_label_prop")

  /** Primary scanned table per headline query (as graft.Bench counts it). */
  val PrimaryTable: Map[String, String] = Map(
    "q_filter_conj" -> "lineitem", "q_join_star" -> "lineitem", "q_agg_pricing" -> "lineitem",
    "q_stats_moments" -> "lineitem", "q_sql_shipping" -> "lineitem", "q_window_lag" -> "orders",
    "q_topk" -> "orders", "q_sql_window" -> "orders", "q_session_window" -> "events",
    "q_asof_join" -> "events", "q_window_range" -> "events", "q_funnel" -> "events",
    "q_user_history" -> "events", "q_text_stats" -> "documents", "q_ngram_freq" -> "documents",
    "q_dedup_exact" -> "documents", "q_dedup_minhash_pairs" -> "documents",
    "q_line_dedup" -> "documents", "q_unigram_score" -> "documents",
    "q_sim_bruteforce" -> "embeddings", "q_quantize_embed" -> "embeddings",
    "q_topk_perkey" -> "customer").withDefaultValue("lineitem")

  lazy val tableRows: Map[String, Long] = Fixture.tables.map(t => t.name -> t.rows.size.toLong).toMap
}

object EtlNightly {
  /** Span keys of one pass, in the order a table goes through them. */
  val Stages: Seq[String] = Seq(
    "sources.discover", "sources.introspect", "pipeline.export", "pipeline.schema", "pipeline.clean", "pipeline.load")
}

/** The paper's nightly ETL re-run of one date against a Derby source:
  * discover, then per table introspect → export → clean schema → clean
  * data → load, in `Pipeline.runTable` order with the default
  * `ParquetWarehouseSink`, truncate-overwriting the previous pass.
  */
final class EtlNightly(spark: SparkSession, seed: Long) extends Workload {
  private var source: Fixture.Source = _
  private var layout: Pipeline.Layout = _
  private var dbDirs = List.empty[String]
  val Date = "2024-06-30"

  def prepare(d: File): Unit = {
    source = Fixture.seedDerby(new File(d, "derby").getAbsolutePath, new File(d, "stage").getAbsolutePath, seed)
    dbDirs ::= source.url
    layout = Pipeline.Layout(new File(d, "etl").getAbsolutePath, Date)
  }

  def tables: Seq[String] = source.rows.keys.toSeq.sorted

  def pass(trace: Trace, p: Int): Seq[(String, Double, Option[Throwable])] = {
    val t0 = System.nanoTime()
    val found = try {
      val (names, s) = trace.span("sources.discover") {
        JdbcCatalog.discoverTables(spark, source.url, "user__field%", Fixture.TpchTables)
          .collect().map(_.getString(0)).sorted.toSeq
      }
      Left((names, s))
    } catch { case e: Throwable => Right(e) }
    found match {
      case Right(e) => Seq(("discover", (System.nanoTime() - t0) / 1e9, Some(e)))
      case Left((names, s)) =>
        val disc = ("discover", s, if (names == tables) None else Some(new IllegalStateException(
          s"discovered ${names.mkString(",")}")))
        disc +: names.map { t =>
          val s0 = System.nanoTime()
          val err = try {
            val (df, cols) = trace.span("sources.introspect") {
              (JdbcCatalog.fullTableScan(spark, source.url, t), JdbcCatalog.introspectColumns(source.url, t))
            }._1
            trace.span("pipeline.export")(Pipeline.exportStage(spark, df, cols, layout, t))
            trace.span("pipeline.schema")(Pipeline.cleanSchemaStage(spark, layout, t))
            trace.span("pipeline.clean")(Pipeline.cleanDataStage(spark, layout, t))
            trace.span("pipeline.load")(Pipeline.loadStage(spark, layout, t))
            None
          } catch { case e: Throwable => Some(e) }
          (t, (System.nanoTime() - s0) / 1e9, err)
        }
    }
  }

  def rowsPerPass: Long = source.totalRows


  /** Bare `"N` fields per table in the run date's dirty export. */
  def nullMarkers(): Map[String, Long] = {
    val byFile = spark.read.text(new File(layout.dirtyCsv("x")).getParent + "/*.csv")
      .select(input_file_name().as("f"), size(filter(split(col("value"), ","), f => f === "\"N")).as("n"))
      .groupBy("f").agg(sum("n").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    tables.map(t => t -> byFile.collect { case (f, n) if f.contains(s"/$t.csv/") => n }.sum).toMap
  }

  def check(): Seq[Check] = {
    val markers = nullMarkers()
    tables.flatMap { t =>
      val src = Digest(JdbcCatalog.fullTableScan(spark, source.url, t))
      val dst = Digest(spark.read.parquet(layout.warehouse(t)))
      Seq(
        Check(s"$t.rows", dst._1 == source.rows(t), s"loaded ${dst._1}, source ${source.rows(t)}"),
        Check(s"$t.checksum", dst == src, s"loaded $dst, source $src"),
        Check(s"$t.nulls", markers(t) == source.nulls(t), s"\"N fields ${markers(t)}, injected ${source.nulls(t)}"))
    }
  }

  /** Bytes and data files under the run date's dirty, clean and warehouse trees. */
  def outputs(): Map[String, Long] = {
    def walk(f: File): Seq[File] = if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    def data(root: String): Seq[File] = walk(new File(root)).filter(f => f.getName.startsWith("part-"))
    val dirty = data(new File(layout.dirtyCsv("x")).getParent)
    val clean = data(new File(layout.cleanCsv("x")).getParent)
    val wh = data(new File(layout.warehouse("x")).getParent)
    Map(
      "pipeline.dirty_bytes" -> dirty.map(_.length).sum,
      "pipeline.clean_bytes" -> clean.map(_.length).sum,
      "pipeline.warehouse_bytes" -> wh.map(_.length).sum,
      "pipeline.files_written" -> (dirty.size + clean.size + wh.size).toLong)
  }

  override def close(): Unit = dbDirs.foreach(Fixture.shutdownDerby)
}
