package graftbench

import graft.SparkEntry
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.util.SplittableRandom

/** Seeded generator of the pipeline input tables: the schemas of the
  * TPC-H-ish star schema plus the `events`, `documents` and `embeddings`
  * extras that `SparkEntry.queries` read (FIXTURES.md §B), at the row
  * counts of the smallest scale (lineitem ≈ 6k rows). */
object PipelineData {
  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  private def st(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  private val Vocab = Vector("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "stream", "group",
    "filter", "vector")

  def tables(seed: Long): Seq[Table] = {
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    def cents(lo: Double, hi: Double): Double =
      math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    val day = 86400L * 1000000L
    def date(fromDays: Long, spanDays: Int): java.sql.Timestamp =
      new java.sql.Timestamp((fromDays + rng.nextInt(spanDays)) * day / 1000)
    val epoch1995 = 9131L // 1995-01-01 in days since 1970-01-01

    val region = Table("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    val nation = Table("nation",
      st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE")
    val customer = Table("customer",
      st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until 150).map(k => Row(k.toLong, f"Customer#$k%09d", rng.nextInt(25), cents(-999.99, 9999.99),
        pick(segments))))
    val supplier = Table("supplier",
      st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType),
      (0 until 10).map(k => Row(k.toLong, f"Supplier#$k%09d", rng.nextInt(25), cents(-999.99, 9999.99))))
    val adjectives = Seq("small", "red", "blue", "hot", "cold", "old", "new", "large")
    val nouns = Seq("ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val part = Table("part",
      st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until 200).map(k => Row(k.toLong, s"${pick(adjectives)} ${pick(nouns)}", s"Brand#${1 + rng.nextInt(25)}",
        pick(types), 1 + rng.nextInt(50), 900.0 + (k % 1000) / 10.0)))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = Table("orders",
      st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until 1500).map(k => Row(k.toLong, rng.nextInt(150).toLong, pick(Seq("F", "O", "P")),
        cents(1000, 500000), date(epoch1995, 2400), pick(priorities))))
    val lineRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    var o = 0
    while (lineRows.size < 6000) {
      val n = 1 + rng.nextInt(7)
      (1 to n).foreach { ln =>
        val qty = (1 + rng.nextInt(50)).toDouble
        lineRows += Row((o % 1500).toLong, rng.nextInt(200).toLong, rng.nextInt(10).toLong, ln, qty,
          math.round(qty * (900 + rng.nextInt(1100)) * 100) / 100.0, rng.nextInt(11) / 100.0,
          rng.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("F", "O")), date(epoch1995 + 1, 2500))
      }
      o += 1
    }
    val lineitem = Table("lineitem",
      st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      lineRows.toSeq)
    val eventTypes = Seq("click", "signup", "error", "view", "purchase")
    var tsMicros = 19723L * day // 2024-01-01
    val events = Table("events",
      st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until 1000).map { k =>
        tsMicros += 1000000L + rng.nextLong(2590000000L)
        val ts = new java.sql.Timestamp(tsMicros / 1000)
        ts.setNanos(((tsMicros % 1000000) * 1000).toInt)
        Row(k.toLong, ts, rng.nextInt(50).toLong, pick(eventTypes), cents(0.01, 490),
          s"""{"k": ${rng.nextInt(100)}}""")
      })
    val langs = Seq("en", "en", "fr", "es", "zh", "de")
    val documents = Table("documents",
      st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType),
      (0 until 500).map { k =>
        val text = (1 to 10 + rng.nextInt(80)).map(_ => pick(Vocab)).mkString(" ")
        Row(k.toLong, text, pick(langs), s"src${k % 20}", text.length.toLong)
      })
    val embeddings = Table("embeddings",
      st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until 500).map { k =>
        Row(k.toLong, (0 until 64).map(_ => (gaussian(rng) * 0.1).toFloat), rng.nextInt(10))
      })
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
  }

  private def gaussian(rng: SplittableRandom): Double = {
    val u1 = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  /** Write every table as the single file `<dir>/<name>.parquet`, the
    * layout `SparkEntry.queries` and `scripts/local_check.py` read. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit =
    tables(seed).foreach { t =>
      val tmp = new java.io.File(dir, s"_${t.name}")
      spark.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(dir, s"${t.name}.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
    }
}

/** One pass = every query of the set, forced the way `Bench.force` forces
  * a query, with Spark's caches cleared after each query as `Bench` does. */
object PipelinePass {
  /** One query per family: aggregation, filter+aggregation, star join,
    * window analytics, MaxSim top-k, and a streaming ingest. */
  val Queries: Seq[String] = Seq(
    "q05_aggregation",
    "q11_delete_cascade",
    "q62_star_join",
    "q56_window_analytics",
    "q264_maxsim_topk",
    "q217_bm25_stream_ingest")

  final case class QueryRec(name: String, buildMs: Double, planMs: Double, execMs: Double, rows: Long) {
    def ms: Double = buildMs + planMs + execMs
  }

  def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def runQuery(spark: SparkSession, q: String, dir: String, tracer: Tracer, opId: Int): QueryRec = {
    val (df, buildMs) = tracer.span(s"pipeline.build.$q", opId)(SparkEntry.queries(q)(spark, dir))
    val (_, planMs) = tracer.span(s"pipeline.plan.$q", opId)(df.queryExecution.executedPlan)
    val (rows, execMs) = tracer.span(s"pipeline.exec.$q", opId)(df.queryExecution.toRdd.count())
    clear(spark)
    QueryRec(q, buildMs, planMs, execMs, rows)
  }

  /** Gate: a timed query must return the row count of the check pass (a
    * query that threw is recorded with -1 rows). */
  def checkRows(out: Outcome, r: QueryRec, expected: Map[String, Long]): Unit =
    out.record(expected.get(r.name).contains(r.rows),
      s"${r.name} returned ${r.rows} rows, expected ${expected.getOrElse(r.name, "none")}")

  /** Write each query's result under `<out>/<q>/` and the oracle SQL to
    * `<out>/oracle_sql.json` — the layout `scripts/local_check.py` reads.
    * Returns the row count per query. */
  def writeResults(spark: SparkSession, dir: String, out: String): Map[String, Long] = {
    val counts = Queries.map { q =>
      val df: DataFrame = SparkEntry.queries(q)(spark, dir)
      df.write.mode("overwrite").parquet(s"$out/$q")
      clear(spark)
      q -> spark.read.parquet(s"$out/$q").count()
    }.toMap
    val sql = Util.mapper.createObjectNode()
    Queries.foreach(q => sql.put(q, SparkEntry.oracleSql(q)))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "oracle_sql.json"),
      Util.mapper.writeValueAsBytes(sql))
    counts
  }
}
