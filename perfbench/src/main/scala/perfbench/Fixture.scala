package perfbench

import java.io.{File, PrintWriter}
import java.sql.{DriverManager, Timestamp}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic benchmark inputs, made from scratch inside the work
  * directory so a run reads nothing outside its checkout.
  *
  * `tables` is a small TPC-H-shaped star schema (sf0.01 row counts) plus
  * the `events`, `documents` and `embeddings` tables the headline
  * queries read, with the same column names and types as the shared
  * test fixture (TESTDATA.md). It is built from a FIXED seed: the `sql_mix` and
  * `graph_kernels` expected results in expected.tsv hold for it
  * whatever workload seed a run gets.
  *
  * `seedDerby` is the `etl_nightly` source: the seven TPC-H tables and
  * sixteen narrow `user__field_NN` tables, bulk-imported into embedded
  * Derby with SYSCS_UTIL.SYSCS_IMPORT_TABLE. The workload seed picks the
  * user tables' sizes and contents and which non-key cells are NULL.
  */
object Fixture {

  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  private val Day = 86400000L
  private def ms(date: String): Long = java.time.LocalDate.parse(date).toEpochDay * Day
  private def ts(epochMs: Long, micros: Int = 0): Timestamp = {
    val t = new Timestamp(epochMs)
    t.setNanos(t.getNanos + micros * 1000)
    t
  }
  private def cents(r: Random, lo: Long, hi: Long): Double = (lo + (r.nextLong() & Long.MaxValue) % (hi - lo + 1)) / 100.0
  private def pick[A](r: Random, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })

  private val Words = Vector(
    "a", "the", "row", "scan", "slow", "fast", "table", "value", "part", "hash", "merge",
    "batch", "spark", "line", "sort", "window", "key", "agg", "data", "column", "join",
    "small", "big", "customer", "query", "order", "group", "filter", "stream", "vector")

  /** The fixed-seed tables the query workloads read, in load order
    * (generated afresh on every call, so each set-up does the same work).
    */
  def tables: Seq[Table] = {
    val seed = 42L
    val region = Table("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    val nation = Table("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = {
      val r = new Random(seed + 1)
      val seg = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      Table("customer",
        schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
          "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        (0 until 1500).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(r, -99999, 999999), pick(r, seg))))
    }
    val supplier = {
      val r = new Random(seed + 2)
      Table("supplier",
        schema("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
        (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), cents(r, -99999, 999999))))
    }
    val part = {
      val r = new Random(seed + 3)
      val adj = Vector("blue", "red", "green", "small", "large", "shiny", "plain", "steel")
      val noun = Vector("anvil", "bolt", "widget", "ring", "gear", "valve", "spring", "hinge")
      val typ = Vector("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
      Table("part",
        schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType, "p_type" -> StringType,
          "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
        (0 until 2000).map(i => Row(i.toLong, s"${pick(r, adj)} ${pick(r, noun)}", s"Brand#${1 + r.nextInt(25)}",
          pick(r, typ), 1 + r.nextInt(50), 900 + (i % 1000) / 10.0)))
    }
    val orders = {
      val r = new Random(seed + 4)
      val prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val t0 = ms("1995-01-01")
      Table("orders",
        schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
          "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
        (0 until 15000).map(i => Row(i.toLong, r.nextInt(1500).toLong, pick(r, Vector("F", "O", "P")),
          cents(r, 100000, 50000000), ts(t0 + r.nextInt(2404) * Day), pick(r, prio))))
    }
    val lineitem = {
      val r = new Random(seed + 5)
      val t0 = ms("1995-01-02")
      Table("lineitem",
        schema("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
          "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
          "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
          "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
        (0 until 60000).map(_ => Row(r.nextInt(15000).toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong,
          1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, cents(r, 90000, 10500000), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")), pick(r, Vector("F", "O")),
          ts(t0 + r.nextInt(2498) * Day))))
    }
    val events = {
      val r = new Random(seed + 6)
      val kinds = Vector("click", "view", "purchase", "signup", "error")
      var clock = ms("2024-01-01") * 1000L
      Table("events",
        schema("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType, "event_type" -> StringType,
          "value" -> DoubleType, "props" -> StringType),
        (0 until 10000).map { i =>
          clock += 1 + (r.nextDouble() * 518000000L).toLong
          Row(i.toLong, ts(clock / 1000, (clock % 1000).toInt), r.nextInt(150).toLong, pick(r, kinds),
            math.max(1L, math.round(-math.log(1 - r.nextDouble()) * 5000)) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
        })
    }
    val documents = {
      val r = new Random(seed + 7)
      val langs = Vector("en", "en", "en", "en", "de", "es", "fr", "zh")
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until 500).foreach { i =>
        // every 20th document repeats an earlier one, every 20th (offset)
        // is an earlier one with a single word changed: dedup has work
        val text =
          if (i >= 20 && i % 20 == 3) texts(r.nextInt(i))
          else if (i >= 20 && i % 20 == 11) {
            val ws = texts(r.nextInt(i)).split(' ')
            ws(r.nextInt(ws.length)) = pick(r, Words)
            ws.mkString(" ")
          } else Seq.fill(8 + r.nextInt(93))(pick(r, Words)).mkString(" ")
        texts += text
      }
      Table("documents",
        schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType, "source" -> StringType,
          "n_chars" -> LongType),
        texts.toIndexedSeq.zipWithIndex.map { case (t, i) =>
          Row(i.toLong, t, pick(r, langs), s"src${r.nextInt(20)}", t.length.toLong)
        })
    }
    val embeddings = {
      val r = new Random(seed + 8)
      val centers = Vector.fill(10)(Vector.fill(64)(r.nextGaussian() * 0.15))
      Table("embeddings",
        schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType),
        (0 until 500).map { i =>
          val c = r.nextInt(10)
          Row(i.toLong, centers(c).map(x => (x + r.nextGaussian() * 0.05).toFloat), c)
        })
    }
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
  }

  val TpchTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Write the fixed-seed tables `only` names as single-file parquet
    * tables under `dir`, the layout the registered queries read
    * (`<dir>/<name>.parquet`).
    */
  def writeParquet(spark: SparkSession, dir: String, only: Set[String]): Unit =
    tables.filter(t => only(t.name)).foreach { t =>
      spark.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")
    }

  /** What the Derby source holds after [[seedDerby]]: per table its rows
    * and how many NULLs the seed injected.
    */
  final case class Source(url: String, rows: Map[String, Long], nulls: Map[String, Long]) {
    def totalRows: Long = rows.values.sum
  }

  val UserTables = 4
  /** Rows over all user__field tables; the seed only splits them. */
  val UserRows = 32000
  val NullShare = 0.05

  /** The `user__field_NN` tables for a workload seed: sizes between 1k
    * and 15k rows that always sum to [[UserRows]], so the pass's work is
    * the same for every seed.
    */
  def userTables(seed: Long): Seq[Table] = {
    val r = new Random(seed)
    val raw = Vector.fill(UserTables)(1000 + r.nextInt(14001))
    val scaled = raw.map(n => math.max(1000, math.min(15000, (n.toDouble * UserRows / raw.sum).toInt)))
    val sizes = scaled.updated(0, scaled(0) + UserRows - scaled.sum)
    val t0 = ms("2023-01-01")
    sizes.zipWithIndex.map { case (n, i) =>
      Table(f"user__field_$i%02d",
        schema("id" -> LongType, "v" -> StringType, "score" -> DoubleType, "updated_at" -> TimestampType),
        (0 until n).map(k => Row(k.toLong, s"${pick(r, Words)}_${r.nextInt(1000)}", cents(r, 0, 1000000),
          ts(t0 + (r.nextDouble() * 365 * Day).toLong))))
    }
  }

  private def derbyType(t: DataType): String = t match {
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case DoubleType => "DOUBLE"
    case TimestampType => "TIMESTAMP"
    case _ => "VARCHAR(512)"
  }

  private def csvField(v: Any): String = v match {
    case null => ""
    case s: String => "\"" + s.replace("\"", "\"\"") + "\""
    case t: Timestamp => t.toInstant.toString.replace('T', ' ').stripSuffix("Z")
    case x => x.toString
  }

  /** Create the Derby database at `dbDir` and bulk-load the seven TPC-H
    * tables and the seed's user tables, each non-key cell NULL with
    * probability [[NullShare]] (drawn from the seed). CSV staging files go
    * to `stageDir`.
    */
  def seedDerby(dbDir: String, stageDir: String, seed: Long): Source = {
    val r = new Random(seed ^ 0x5DEECE66DL)
    val source = tables.filter(t => TpchTables.contains(t.name)) ++ userTables(seed)
    new File(stageDir).mkdirs()
    val url = s"jdbc:derby:$dbDir"
    val conn = DriverManager.getConnection(s"$url;create=true")
    val nulls = try {
      val st = conn.createStatement()
      source.map { t =>
        val cols = t.schema.fields
        st.executeUpdate(s"CREATE TABLE ${t.name} (" +
          cols.map(f => s"${f.name} ${derbyType(f.dataType)}").mkString(", ") + ")")
        val csv = new File(stageDir, s"${t.name}.csv")
        val out = new PrintWriter(csv, "UTF-8")
        var injected = 0L
        try t.rows.foreach { row =>
          out.println((0 until row.length).map { c =>
            if (c > 0 && r.nextDouble() < NullShare) { injected += 1; "" } else csvField(row.get(c))
          }.mkString(","))
        } finally out.close()
        val imp = conn.prepareCall("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, ',', '\"', 'UTF-8', 0)")
        imp.setString(1, t.name.toUpperCase)
        imp.setString(2, csv.getAbsolutePath)
        imp.execute()
        imp.close()
        t.name -> injected
      }.toMap
    } finally conn.close()
    Source(url, source.map(t => t.name -> t.rows.size.toLong).toMap, nulls)
  }

  /** Shut down one embedded Derby database so its files can be removed. */
  def shutdownDerby(url: String): Unit =
    try DriverManager.getConnection(s"$url;shutdown=true")
    catch { case _: java.sql.SQLException => () }
}
