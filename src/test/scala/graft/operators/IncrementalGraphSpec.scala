package graft.operators

import graft.{Analyses, Jobs, SparkSpec}
import graft.config.PipelineConfig
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The incremental-maintenance invariant: after ANY sequence of edits,
  * every materialized table equals a from-scratch recompute
  * ([[PipelineGraph]]) over the same final source contents. */
class IncrementalGraphSpec extends SparkSpec {

  private val yaml =
    """tables:
      |  - name: grades
      |    kind: source
      |    columns: {name: Str, grade: Integer}
      |  - name: users
      |    kind: source
      |    columns: {name: Str, age: Integer}
      |  - name: curved
      |    kind: function
      |    source_table: grades
      |    functions: ["curvedGrade ~ grade + 5"]
      |  - name: passing
      |    kind: filter
      |    source_table: grades
      |    filter: "grade >= 60"
      |  - name: stats
      |    kind: aggregation
      |    source_table: grades
      |    aggregated_column: name
      |    functions: ["cnt ~ memo.cnt + 1", "sum ~ memo.sum + grade", "avg ~ memo.sum / memo.cnt"]
      |  - name: profile
      |    kind: union
      |    tables_and_foreign_keys: [[users, name], [stats, aggregatedColumn]]
      |""".stripMargin

  private val gradeSchema = StructType(Seq(
    StructField("name", StringType), StructField("grade", LongType)))
  private val userSchema = StructType(Seq(
    StructField("name", StringType), StructField("age", LongType)))

  private def rows(schema: StructType, rs: Row*): DataFrame =
    spark.createDataFrame(rs.asJava, schema)

  /** Rows as a multiset, lineage and ids ignored. */
  private def bag(df: DataFrame): Seq[String] = {
    val keep = df.columns.filterNot(Seq("_entryId", "_sourceEntryId").contains).sorted
    df.select(keep.head, keep.tail.toIndexedSeq: _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
  }

  /** Table `t`'s rows as its resident form reads them, as [[bag]] renders
    * them: GreaterThan on the first of a few columns every test table
    * fills, from its smallest value. */
  private def residentBag(inc: IncrementalGraph, t: String): Seq[String] = {
    val form = inc.pinnedAt(pin => pin(t)).resident.getOrElse(fail(s"$t is not resident"))
    val names = form.schema.fieldNames
    val keep = names.filterNot(Seq("_entryId", "_sourceEntryId").contains).sorted.map(names.indexOf(_))
    val read = (Seq("name", "matchingKey", "aggregatedColumn").map(_ -> "") ++
        Seq("testForIndex", "newColumn", "curvedGrade").map(_ -> Long.MinValue))
      .collectFirst { case (c, min) if names.contains(c) => form.greaterThan(c, min).get }
      .getOrElse(fail(s"no column to read $t by"))
    read.map(r => keep.map(r.get).mkString("|")).toSeq.sorted
  }

  /** Each of `tables` equals a from-scratch recompute: a lazy graph seeded
    * with the SAME current source contents (ids included). */
  private def assertRecomputes(inc: IncrementalGraph, tables: Seq[String]): Unit = {
    val sources = inc.config.tables.collect { case s: graft.config.SourceTableConfig => s.name }
    val scratch = new PipelineGraph(spark, inc.config, sources.map(s => s -> inc.table(s)).toMap)
    tables.foreach(t => assert(bag(inc.table(t)) == bag(scratch.table(t)), s"table $t diverged"))
  }

  /** A failure named by its innermost Spark error: a failed job's comes
    * wrapped in the job's own. */
  private def condition(e: Throwable): (String, String) =
    causes(e).collect { case t: org.apache.spark.SparkThrowable => t }.toSeq.lastOption
      .map(t => (t.getClass.getName, t.getCondition)).getOrElse((e.getClass.getName, e.getMessage))

  /** A from-scratch reference fed the same edits as an [[IncrementalGraph]]:
    * a [[PipelineGraph]], which aligns each batch with Spark's own frames
    * and recomputes each derived table from its sources. A Union named in
    * `merging` upserts by key, and a recompute would fan out a key its
    * sources repeat; it instead merges each batch of its inputs onto its
    * pre-edit rows by [[Transforms.union]], the rule of a Union's insert.
    * A failed insert changes nothing. */
  private final class Recompute(cfg: PipelineConfig, merging: Seq[String] = Nil) {
    private val sources = cfg.tables.collect { case s: graft.config.SourceTableConfig => s.name }
    private var graph = new PipelineGraph(spark, cfg)
    private var merged = merging.map(u => u -> graph.table(u)).toMap

    def table(t: String): DataFrame = merged.getOrElse(t, graph.table(t))

    /** Inserts `df` into source `t`: its committed rows, or the failure's
      * [[condition]]. Every table is read, so a failure anywhere shows. */
    def insert(t: String, df: DataFrame): Either[(String, String), DataFrame] = {
      val (before, mergedBefore) = (sources.map(s => s -> graph.table(s)).toMap, merged)
      try {
        val batch = graph.insert(t, df)
        merged = merged.map { case (u, rows) =>
          val fks = cfg.byName(u) match {
            case c: graft.config.UnionTableConfig => c.tablesAndForeignKeys.collect { case (`t`, fk) => fk }
            case other => fail(s"${other.name} is not a Union")
          }
          u -> (if (fks.isEmpty) rows
            else Transforms.union((rows, SystemColumns.MatchingKey) +: fks.map(batch -> _)).localCheckpoint(true))
        }
        cfg.tables.foreach(c => table(c.name).collect())
        Right(batch)
      } catch { case e: Exception =>
        graph = new PipelineGraph(spark, cfg, before)
        merged = mergedBefore
        Left(condition(e))
      }
    }

    def delete(t: String, column: String, key: Any): Unit = {
      assert(merging.isEmpty, "a merged Union takes inserts only")
      graph.delete(t, column, key)
    }
  }

  test("incremental tables equal from-scratch recompute after mixed edits") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)

    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row("Bob", 50L)))
    inc.insert("users", rows(userSchema, Row("Alex", 22L), Row("Cara", 30L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 70L), Row("Cara", 88L)))
    inc.delete("grades", "name", "Bob")
    inc.insert("grades", rows(gradeSchema, Row("Bob", 65L)))

    assertRecomputes(inc, Seq("curved", "passing", "stats", "profile"))
    // spot-check semantics: Bob's group was fully rebuilt after delete+reinsert
    val stats = inc.table("stats").collect()
      .map(r => r.getAs[String]("aggregatedColumn") -> r.getAs[Long]("sum")).toMap
    assert(stats("Bob") == 65L)
    assert(stats("Alex") == 160L)
  }

  test("delete cascades: group removal and narrow-row retraction") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row("Bob", 70L)))
    inc.delete("grades", "name", "Alex")
    // Alex's group row disappears entirely (the reference deletes the
    // group row when its last source row goes)
    val stats = inc.table("stats").collect().map(_.getAs[String]("aggregatedColumn")).toSet
    assert(stats == Set("Bob"))
    assert(inc.table("curved").count() == 1)
    assert(inc.table("passing").count() == 1)
  }

  test("null grouping keys maintain incrementally (insert null-fills missing columns)") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)
    // second insert omits `name` → null-filled → rows land in the null group
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    inc.insert("grades",
      spark.createDataFrame(Seq(Row(70L), Row(80L)).asJava,
        StructType(Seq(StructField("grade", LongType)))))
    assertRecomputes(inc, Seq("stats"))
    val nullGroup = inc.table("stats").collect()
      .find(_.isNullAt(0)).getOrElse(fail("null group missing"))
    assert(nullGroup.getAs[Long]("sum") == 150L)
  }

  test("listen delivers per-edit deltas; aggregation upserts as Delete(old)+Insert(new)") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)
    val ins = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val del = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    inc.listen("stats") { (i, d) =>
      ins ++= i.collect().map(r => r.getAs[String]("aggregatedColumn") -> r.getAs[Long]("sum"))
      del ++= d.collect().map(r => r.getAs[String]("aggregatedColumn") -> r.getAs[Long]("sum"))
    }
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 80L)))
    assert(ins.toSeq == Seq("Alex" -> 90L, "Alex" -> 170L))
    assert(del.toSeq == Seq("Alex" -> 90L)) // the Delete half of the upsert
  }

  test("delete(col, null) removes and reports the null-valued rows") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row(null, 50L)))
    val deleted = inc.delete("grades", "name", null)
    assert(deleted.count() == 1 && deleted.collect().head.isNullAt(0))
    assert(inc.table("grades").count() == 1)
    // the null group is gone from the aggregation too
    assert(inc.table("stats").collect().map(_.getAs[String]("aggregatedColumn")).toSet == Set("Alex"))
  }

  test("caller-supplied _entryId survives insert (delta replay keeps identity)") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)
    val withId = spark.createDataFrame(
      Seq(Row("Alex", 90L, "fixed-id-1")).asJava,
      StructType(gradeSchema.fields :+ StructField("_entryId", StringType)))
    val committed = inc.insert("grades", withId)
    assert(committed.collect().head.getAs[String]("_entryId") == "fixed-id-1")
    assert(inc.table("grades").collect().head.getAs[String]("_entryId") == "fixed-id-1")
  }

  test("union insert on an EXISTING key merges onto the derived row (no duplicate)") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("users", rows(userSchema, Row("Alex", 22L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    // second insert for the same key: the source log now holds two Alex
    // rows, but the union must upsert — incoming age overwrites, grade
    // stats remain (reference transform.rs:176-228)
    inc.insert("users", rows(userSchema, Row("Alex", 33L)))
    val profile = inc.table("profile").collect()
    assert(profile.count(_.getAs[String]("matchingKey") == "Alex") == 1)
    val alex = profile.find(_.getAs[String]("matchingKey") == "Alex").get
    assert(alex.getAs[Long]("age") == 33L)
    assert(alex.getAs[Long]("sum") == 90L)
  }

  test("union rebuild after delete does not resurrect append-log duplicates") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("users", rows(userSchema, Row("Alex", 22L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row("Alex", 80L)))
    inc.insert("users", rows(userSchema, Row("Alex", 33L))) // log: two Alex user rows
    // deleting the grades forces a REBUILD of Alex's profile key — it must
    // collapse the user log to the latest row, not emit one row per log entry
    inc.delete("grades", "name", "Alex")
    val alexRows = inc.table("profile").collect()
      .filter(_.getAs[String]("matchingKey") == "Alex")
    assert(alexRows.length == 1)
    assert(alexRows.head.getAs[Long]("age") == 33L) // time-prefixed max id = latest
  }

  test("duplicate derived rows retract by multiplicity, not wholesale") {
    val cfg = PipelineConfig.fromYaml(
      """tables:
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: projected
        |    kind: function
        |    source_table: grades
        |    functions: ["g ~ grade"]
        |""".stripMargin)
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row("Bob", 90L)))
    inc.delete("grades", "name", "Alex")
    // both derived rows projected to (g=90, lineage); only Alex's copy goes
    assert(inc.table("projected").count() == 1)
  }

  test("mid-cascade failure rolls back every table and notifies nobody (reference database.rs:317-396)") {
    // a flaky action: bootstraps fine, then throws while the cascade
    // computes the action table's delta — AFTER the Function, Aggregation
    // and Union nodes upstream of it in the cascade applied their part of
    // the edit to their resident forms
    @volatile var explode = false
    ActionRegistry.register(GraftAction("flakyAction", identity,
      s => { if (explode) throw new RuntimeException("boom"); s }))
    val cfg = PipelineConfig.fromYaml(
      """tables:
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: users
        |    kind: source
        |    columns: {name: Str, age: Integer}
        |  - name: curved
        |    kind: function
        |    source_table: grades
        |    functions: ["curvedGrade ~ grade + 5"]
        |  - name: stats
        |    kind: aggregation
        |    source_table: grades
        |    aggregated_column: name
        |    functions: ["cnt ~ memo.cnt + 1", "sum ~ memo.sum + grade"]
        |  - name: profile
        |    kind: union
        |    tables_and_foreign_keys: [[users, name], [stats, aggregatedColumn]]
        |  - name: acted
        |    kind: action
        |    source_table: grades
        |    action: flakyAction
        |""".stripMargin)
    val tables = Seq("grades", "users", "curved", "stats", "profile", "acted")
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    inc.insert("users", rows(userSchema, Row("Alex", 22L)))
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    tables.foreach(t => inc.listen(t)((_, _) => calls += t))
    val before = tables.map(t => t -> bag(inc.table(t))).toMap
    tables.foreach(t => assert(residentBag(inc, t) == before(t), s"$t's resident form"))

    explode = true
    val batch = (0 to IncrementalGraph.CompactAt).map(i => Row(s"n$i", i.toLong))
    Seq(rows(gradeSchema, Row("Alex", 80L)), rows(gradeSchema, batch: _*)).foreach { edit =>
      assertThrows[RuntimeException](inc.insert("grades", edit))
      // every table — including those UPSTREAM of the failure — restored,
      // and so is its resident form
      tables.foreach(t => assert(bag(inc.table(t)) == before(t), s"$t not rolled back"))
      tables.foreach(t => assert(residentBag(inc, t) == before(t), s"$t's resident form not rolled back"))
      assert(calls.isEmpty, s"subscribers must not see a rolled-back edit: $calls")
    }

    // the graph stays usable: the same edits commit once the fault clears
    explode = false
    inc.insert("grades", rows(gradeSchema, Row("Alex", 80L)))
    inc.insert("grades", rows(gradeSchema, batch: _*))
    assert(calls.nonEmpty)
    val alex = inc.table("profile").collect().filter(_.getAs[String]("matchingKey") == "Alex")
    assert(alex.map(r => (r.getAs[Long]("age"), r.getAs[Long]("sum"))).toSeq == Seq((22L, 170L)))
    assert(inc.table("acted").count() == 2 + batch.size)
  }

  test("incremental tables equal from-scratch recompute across compaction, local and non-local edits") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val (inc, scratch) = (new IncrementalGraph(spark, cfg), new Recompute(cfg))
    def insert(t: String, df: DataFrame): Unit = { inc.insert(t, df); assert(scratch.insert(t, df).isRight) }
    def delete(t: String, column: String, key: Any): Unit = { inc.delete(t, column, key); scratch.delete(t, column, key) }
    def grades(rs: Row*): Unit = insert("grades", rows(gradeSchema, rs: _*))

    grades((0 until 20).map(i => Row(s"n$i", 40L + 3 * i)): _*)
    // user names stay unique: the union upserts by key, a recompute would
    // fan out a repeated one
    insert("users", rows(userSchema, (0 until 25).map(i => Row(s"n$i", 20L + i)): _*))
    // a non-local insert: the rows come from a Spark job, not the driver
    insert("grades", spark.range(10)
      .select(concat(lit("n"), col("id").cast("string")).as("name"), (col("id") * 7 + 30).as("grade")))
    delete("grades", "name", "n3")
    (0 until 4).foreach(i => grades(Row(s"n${i * 5}", 61L + i)))
    // one batch of new keys past the compaction cap of stats and profile
    grades((0 to IncrementalGraph.CompactAt + 5).map(i => Row(s"m$i", i % 100L)): _*)
    insert("users", rows(userSchema, Row("m1", 40L)))
    grades(Row("m1", 77L), Row("n1", 99L))
    delete("users", "name", "n7")
    grades(Row(null, 55L))
    insert("grades", spark.range(1).select(lit("m2").as("name"), lit(12L).as("grade")))
    grades(Row("m2", 13L))

    Seq("grades", "users", "curved", "passing", "stats", "profile").foreach { t =>
      assert(bag(inc.table(t)) == bag(scratch.table(t)), s"table $t diverged from the reference fed the same edits")
    }
    val stats = inc.table("stats").collect()
      .map(r => r.getAs[String]("aggregatedColumn") -> r.getAs[Long]("sum")).toMap
    assert(stats("m2") == 2L + 12L + 13L)
    assert(!stats.contains("n3"))
  }

  test("driver-assigned _entryIds keep the time-prefixed format and sort after the seed's") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val seed = spark.range(3)
      .select(concat(lit("s"), col("id").cast("string")).as("name"), col("id").as("grade"))
    val inc = new IncrementalGraph(spark, cfg, Map("grades" -> seed))
    val seedIds = inc.table("grades").collect().map(_.getAs[String]("_entryId"))
    val committed = inc.insert("grades", rows(gradeSchema, Row("a", 1L), Row("b", 2L)))
    assert(IncrementalGraph.isLocal(committed))
    val ids = committed.collect().map(_.getAs[String]("_entryId"))
    val format = "[0-9A-F]{16}-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    (seedIds ++ ids).foreach(id => assert(id.matches(format), s"bad id $id"))
    assert(ids.distinct.length == 2)
    // union rebuilds take max(_entryId) as the latest row of a key
    assert(ids.min > seedIds.max)
  }

  test("a one-row insert through source→function→filter runs no Spark job") {
    val cfg = PipelineConfig.fromYaml(
      """tables:
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: curved
        |    kind: function
        |    source_table: grades
        |    functions: ["curvedGrade ~ grade + 5"]
        |  - name: passing
        |    kind: filter
        |    source_table: curved
        |    filter: "curvedGrade >= 60"
        |""".stripMargin)
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    var edits: Seq[(String, DataFrame, DataFrame)] = Nil
    val jobs = jobsDuring {
      edits = inc.insertWithEdits("grades", rows(gradeSchema, Row("Bob", 70L)))
      edits.foreach { case (_, ins, del) => ins.collect(); del.collect() }
    }
    assert(jobs.count == 0, s"$jobs for a one-row local insert")
    assert(edits.map(_._1) == Seq("grades", "curved", "passing"))
    assert(inc.table("passing").count() == 2)
  }

  /** The reference `test_cfg.yaml` cascade (FIXTURES.md §A): a grades
    * insert reaches a Union, then an Aggregation, then an Action. */
  private val testCfg =
    """tables:
      |  - name: testTable
      |    kind: source
      |    columns: {testForIndex: Integer, testForIteration: Integer}
      |  - name: users
      |    kind: source
      |    columns: {name: Str, age: Integer}
      |  - name: grades
      |    kind: source
      |    columns: {name: Str, grade: Integer}
      |  - name: derived
      |    kind: function
      |    source_table: testTable
      |    functions: ["newColumn ~ testForIteration + 2"]
      |  - name: unionTest
      |    kind: union
      |    tables_and_foreign_keys: [[users, name], [grades, name]]
      |  - name: filterTest
      |    kind: filter
      |    source_table: testTable
      |    filter: "(testForIndex < 11) && (testForIteration > 14)"
      |  - name: aggregationTest
      |    kind: aggregation
      |    source_table: grades
      |    aggregated_column: name
      |    functions: ["count ~ memo.count + 1", "sum ~ memo.sum + grade", "average ~ memo.sum / memo.count"]
      |  - name: actionTest
      |    kind: action
      |    source_table: grades
      |    action: IdentityAction
      |""".stripMargin
  private val testCfgTables = Seq("testTable", "users", "grades", "derived", "unionTest",
    "filterTest", "aggregationTest", "actionTest")

  private def testCfgGraph(): IncrementalGraph = {
    ActionRegistry.register(GraftAction("IdentityAction", identity))
    new IncrementalGraph(spark, PipelineConfig.fromYaml(testCfg))
  }

  test("a one-row grades insert through test_cfg runs no Spark job once its keyed tables are resident") {
    val inc = testCfgGraph()
    inc.insert("users", rows(userSchema, Row("Alex", 22L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    // a batch past CompactAt rows: resident tables take it without a
    // compaction
    inc.insert("grades", rows(gradeSchema, (0 to IncrementalGraph.CompactAt).map(i => Row(s"n$i", 1L)): _*))
    var edits: Seq[(String, Seq[Row], Seq[Row])] = Nil
    val jobs = jobsDuring {
      edits = inc.insertWithEdits("grades", rows(gradeSchema, Row("n1", 80L)))
        .map { case (t, ins, del) => (t, ins.collect().toSeq, del.collect().toSeq) }
    }
    assert(jobs.count == 0, s"$jobs for a one-row grades insert")
    assert(edits.map(_._1) == Seq("grades", "unionTest", "aggregationTest", "actionTest"))
    val byTable = edits.map(e => e._1 -> e).toMap
    val union = byTable("unionTest")
    assert(union._2.map(r => (r.getAs[String]("matchingKey"), r.getAs[Long]("grade"))) == Seq("n1" -> 80L))
    assert(union._3.map(_.getAs[Long]("grade")) == Seq(1L))
    val agg = byTable("aggregationTest")
    assert(agg._2.map(r => (r.getAs[Long]("count"), r.getAs[Long]("sum"))) == Seq((2L, 81L)))
    assert(agg._3.map(r => (r.getAs[Long]("count"), r.getAs[Long]("sum"))) == Seq((1L, 1L)))
    assert(byTable("actionTest")._2.map(_.getAs[Long]("grade")) == Seq(80L))
  }

  test("local batches fold onto aggregation groups exactly as a from-scratch recompute") {
    val cfg = PipelineConfig.fromYaml(
      yaml.replace("\"avg ~ memo.sum / memo.cnt\"",
        "\"neg ~ memo.neg - grade\", \"avg ~ memo.sum / memo.cnt\", \"avg2 ~ memo.avg * 2\""))
    val inc = new IncrementalGraph(spark, cfg)
    def grades(rs: Row*): Unit = inc.insert("grades", rows(gradeSchema, rs: _*))
    // several rows per key in one batch, new keys, the null key twice
    grades(Row("Alex", 90L), Row("Alex", 70L), Row("Bob", 50L), Row(null, 40L), Row(null, 30L))
    inc.insert("users", rows(userSchema, Row("Alex", 22L), Row("Cara", 30L)))
    // Alex's group row is dead in the base and lives in the local rows;
    // a null grade counts but adds nothing to the sums
    grades(Row("Alex", 10L), Row("Cara", 88L), Row("Cara", 12L), Row(null, 5L), Row("Dan", null))
    inc.delete("grades", "name", "Bob")
    grades(Row("Bob", 65L), Row("Alex", 1L), Row("Bob", 1L))
    assertRecomputes(inc, Seq("curved", "passing", "stats", "profile"))
    // avg2 reads avg, an earlier post statement
    val stats = inc.table("stats").collect()
      .map(r => Option(r.getAs[String]("aggregatedColumn")) ->
        ((r.getAs[Long]("cnt"), r.getAs[Long]("sum"), r.getAs[Long]("avg2"))))
      .toMap
    assert(stats(Some("Alex")) == ((4L, 171L, 84L)))
    assert(stats(None) == ((3L, 75L, 50L)))
    assert(stats(Some("Dan")) == ((1L, 0L, 0L)))
  }

  test("union pairing and action rows on the driver equal the Spark join and mapPartitions path") {
    // the same edits as local batches, as frames that plan to a Spark job
    // (whose rows are collected), and into the reference, which joins the
    // Union's batches onto its rows and maps the Action over partitions
    val (local, planned) = (testCfgGraph(), testCfgGraph())
    val scratch = new Recompute(local.config, merging = Seq("unionTest"))
    def both(table: String, schema: StructType, rs: Row*): Unit = {
      local.insert(table, rows(schema, rs: _*))
      val df = rows(schema, rs: _*).repartition(1)
      assert(!IncrementalGraph.isLocal(df))
      planned.insert(table, df)
      assert(scratch.insert(table, df).isRight)
      testCfgTables.foreach(t => assert(bag(local.table(t)) == bag(scratch.table(t)), s"table $t diverged from the reference"))
    }
    both("users", userSchema, Row("Alex", 22L), Row("Cara", 30L), Row(null, 40L))
    both("grades", gradeSchema, Row("Alex", 90L), Row("Bob", 50L), Row(null, 7L))
    // an existing key, a new key, the null key again (a null never
    // matches, so it adds a row), and two rows for one key in one batch
    both("grades", gradeSchema,
      Row("Cara", 88L), Row("Dan", 60L), Row(null, 8L), Row("Alex", 1L), Row("Alex", 2L))
    both("users", userSchema, Row("Dan", 41L), Row("Bob", 23L))
    testCfgTables.foreach { t =>
      assert(bag(local.table(t)) == bag(planned.table(t)), s"table $t diverged")
    }
    val alex = local.table("unionTest").collect().filter(_.getAs[String]("matchingKey") == "Alex")
    assert(alex.map(r => (r.getAs[Long]("age"), r.getAs[Long]("grade"))).toSet == Set((22L, 1L), (22L, 2L)))
  }

  test("aggregations that do not fold exactly (Double sum, first() overwrite) still equal the recompute") {
    val cfg = PipelineConfig.fromYaml(
      """tables:
        |  - name: scores
        |    kind: source
        |    columns: {name: Str, grade: Integer, score: Float}
        |  - name: doubles
        |    kind: aggregation
        |    source_table: scores
        |    aggregated_column: name
        |    functions: ["cnt ~ memo.cnt + 1", "total ~ memo.total + score"]
        |  - name: firsts
        |    kind: aggregation
        |    source_table: scores
        |    aggregated_column: name
        |    functions: ["sum ~ memo.sum + grade", "last ~ grade"]
        |""".stripMargin)
    val schema = StructType(Seq(StructField("name", StringType), StructField("grade", LongType),
      StructField("score", DoubleType)))
    val inc = new IncrementalGraph(spark, cfg)
    cfg.tables.collect { case a: graft.config.AggregationTableConfig => a }.foreach { a =>
      assert(Transforms.exactFold(spark, schema, a.aggregatedColumn, a.functions).isEmpty,
        s"${a.name} must recompute")
    }
    inc.insert("scores", rows(schema, Row("a", 1L, 0.1), Row("a", 2L, 0.2), Row("b", 3L, 0.3)))
    inc.insert("scores", rows(schema, Row("a", 4L, 0.3)))
    inc.insert("scores", rows(schema, Row("b", 5L, 0.25), Row("c", 6L, 1e16), Row("c", 7L, 1.0)))
    assertRecomputes(inc, Seq("doubles", "firsts"))
  }

  /** Whether `e` or one of its causes reports an arithmetic overflow. */
  private def overflowed(e: Throwable): Boolean = causes(e)
    .exists(x => x.isInstanceOf[ArithmeticException] || String.valueOf(x.getMessage).contains("overflow"))

  private def causes(e: Throwable): Iterator[Throwable] = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  /** Every edit of `edits` fails as `expected` holds (by default, on an
    * ANSI overflow), restores every table and notifies nobody. */
  private def assertRollsBack(inc: IncrementalGraph, tables: Seq[String], edits: Seq[() => Unit],
                              expected: Throwable => Boolean = overflowed): Unit = {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    tables.foreach(t => inc.listen(t)((_, _) => calls += t))
    val before = tables.map(t => t -> bag(inc.table(t))).toMap
    tables.foreach(t => assert(residentBag(inc, t) == before(t), s"$t's resident form"))
    edits.foreach { edit =>
      val e = intercept[Exception](edit())
      assert(expected(e), s"unexpected failure $e")
      tables.foreach(t => assert(bag(inc.table(t)) == before(t), s"$t not rolled back"))
      tables.foreach(t => assert(residentBag(inc, t) == before(t), s"$t's resident form not rolled back"))
      assert(calls.isEmpty, s"subscribers must not see a rolled-back edit: $calls")
    }
  }

  test("an overflow in the Aggregation fold, after the Union merged its row, rolls every table back") {
    val inc = testCfgGraph()
    inc.insert("users", rows(userSchema, Row("Alex", 22L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    val crafted = Row("Alex", Long.MaxValue)
    assertRollsBack(inc, testCfgTables, Seq(
      () => inc.insert("grades", rows(gradeSchema, crafted)),
      () => inc.insert("grades", rows(gradeSchema, crafted).repartition(1))))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 10L)))
    val alex = inc.table("aggregationTest").collect().filter(_.getAs[String]("aggregatedColumn") == "Alex")
    assert(alex.map(_.getAs[Long]("sum")).toSeq == Seq(100L))
  }

  test("an overflow at a Function node, after the Union and Aggregation applied the edit, rolls every table back") {
    val cfg = PipelineConfig.fromYaml(
      """tables:
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: users
        |    kind: source
        |    columns: {name: Str, age: Integer}
        |  - name: profile
        |    kind: union
        |    tables_and_foreign_keys: [[users, name], [grades, name]]
        |  - name: stats
        |    kind: aggregation
        |    source_table: grades
        |    aggregated_column: name
        |    functions: ["cnt ~ memo.cnt + 1", "sum ~ memo.sum + grade"]
        |  - name: curved
        |    kind: function
        |    source_table: grades
        |    functions: ["curvedGrade ~ grade + 5"]
        |""".stripMargin)
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("users", rows(userSchema, Row("Alex", 22L), Row("Zed", 40L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    // a new key: the fold and the merge succeed, the Function overflows
    val crafted = Row("Zed", Long.MaxValue)
    val tables = Seq("grades", "users", "profile", "stats", "curved")
    assertRollsBack(inc, tables, Seq(
      () => inc.insert("grades", rows(gradeSchema, crafted)),
      () => inc.insert("grades", rows(gradeSchema, crafted).repartition(1))))
    inc.insert("grades", rows(gradeSchema, Row("Zed", 1L)))
    assert(inc.table("curved").count() == 2)
  }

  /** Grades reach two Aggregations, one through a Function and one
    * through a Filter; a Function and a Filter then read the first
    * Aggregation, and a Union merges users with grades. */
  private val cascadeYaml =
    """tables:
      |  - name: grades
      |    kind: source
      |    columns: {name: Str, grade: Integer}
      |  - name: users
      |    kind: source
      |    columns: {name: Str, age: Integer}
      |  - name: curved
      |    kind: function
      |    source_table: grades
      |    functions: ["name ~ name", "curved ~ grade + 5"]
      |  - name: passing
      |    kind: filter
      |    source_table: grades
      |    filter: "grade >= 60"
      |  - name: aggOverFunction
      |    kind: aggregation
      |    source_table: curved
      |    aggregated_column: name
      |    functions: ["count ~ memo.count + 1", "sum ~ memo.sum + curved", "average ~ memo.sum / memo.count"]
      |  - name: aggOverFilter
      |    kind: aggregation
      |    source_table: passing
      |    aggregated_column: name
      |    functions: ["count ~ memo.count + 1", "sum ~ memo.sum + grade"]
      |  - name: fnOverAgg
      |    kind: function
      |    source_table: aggOverFunction
      |    functions: ["name ~ aggregatedColumn", "doubled ~ sum * 2"]
      |  - name: filterOverAgg
      |    kind: filter
      |    source_table: aggOverFunction
      |    filter: "sum > 100"
      |  - name: unionTest
      |    kind: union
      |    tables_and_foreign_keys: [[users, name], [grades, name]]
      |""".stripMargin
  /** The derived tables but the Union: a Union's inputs must be
    * key-unique, so it is compared only where each source holds at most
    * one row per name. */
  private val cascadeTables = Seq("curved", "passing", "aggOverFunction", "aggOverFilter",
    "fnOverAgg", "filterOverAgg")

  /** Each edit's (inserted, deleted) rows on `table`, one entry per call. */
  private def recordEdits(inc: IncrementalGraph, table: String,
                          event: graft.ListenEvent = graft.ListenEvent.Both)
      : scala.collection.mutable.ArrayBuffer[(Seq[Row], Seq[Row])] = {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(Seq[Row], Seq[Row])]
    inc.listen(table, event)((i, d) => calls += ((i.collect().toSeq, d.collect().toSeq)))
    calls
  }

  /** (key, count, sum) of aggregation rows. */
  private def groups(rs: Seq[Row]): Seq[(String, Long, Long)] =
    rs.map(r => (r.getAs[String]("aggregatedColumn"), r.getAs[Long]("count"), r.getAs[Long]("sum")))

  /** Three Alex grades and one of Bob's; Alex's 80 is then deleted. */
  private def deleteOneOfThree(inc: IncrementalGraph): Unit = {
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row("Alex", 80L), Row("Alex", 50L), Row("Bob", 70L)))
    inc.delete("grades", "grade", 80L)
  }

  /** The last delete of a group: its row goes, pushed as a Delete alone. */
  private def assertGroupLeaves(inc: IncrementalGraph, table: String,
                                calls: Seq[(Seq[Row], Seq[Row])], old: (String, Long, Long)): Unit = {
    assert(calls.last._1.isEmpty && groups(calls.last._2) == Seq(old))
    assert(groups(inc.table(table).collect().toSeq).map(_._1) == Seq("Bob"), s"$table kept Alex")
  }

  test("a delete through a Function into an Aggregation corrects the group; the last one removes it as a Delete") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    val overFn = recordEdits(inc, "aggOverFunction")
    deleteOneOfThree(inc)
    assert(groups(overFn.head._1).toSet == Set(("Alex", 3L, 235L), ("Bob", 1L, 75L)))
    assert(groups(overFn.last._1) == Seq(("Alex", 2L, 150L)))
    assert(overFn.last._1.head.getAs[Long]("average") == 75L)
    assert(groups(overFn.last._2) == Seq(("Alex", 3L, 235L)))
    assertRecomputes(inc, cascadeTables)

    inc.delete("grades", "grade", 50L)
    assert(groups(overFn.last._1) == Seq(("Alex", 1L, 95L)))
    inc.delete("grades", "grade", 90L)
    assertGroupLeaves(inc, "aggOverFunction", overFn.toSeq, ("Alex", 1L, 95L))
    assertRecomputes(inc, cascadeTables)
  }

  test("a delete through a Filter into an Aggregation corrects the group; the last one removes it as a Delete") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    val overFilter = recordEdits(inc, "aggOverFilter")
    deleteOneOfThree(inc)
    assert(groups(overFilter.head._1).toSet == Set(("Alex", 2L, 170L), ("Bob", 1L, 70L)))
    assert(groups(overFilter.last._1) == Seq(("Alex", 1L, 90L)))
    assert(groups(overFilter.last._2) == Seq(("Alex", 2L, 170L)))
    assertRecomputes(inc, cascadeTables)

    // 50 never passed the filter, so its delete leaves aggOverFilter as is
    val filterCalls = overFilter.length
    inc.delete("grades", "grade", 50L)
    assert(overFilter.length == filterCalls)
    inc.delete("grades", "grade", 90L)
    assertGroupLeaves(inc, "aggOverFilter", overFilter.toSeq, ("Alex", 1L, 90L))
    assertRecomputes(inc, cascadeTables)
  }

  test("a Union fed by two sources: delete one source's contribution, then the whole key") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    inc.insert("users", rows(userSchema, Row("Alex", 22L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 95L)))
    val calls = recordEdits(inc, "unionTest")
    def merged(rs: Seq[Row]): Seq[(String, Any, Any)] =
      rs.map(r => (r.getAs[String]("matchingKey"), r.getAs[Any]("age"), r.getAs[Any]("grade")))

    inc.delete("grades", "name", "Alex")
    assert(calls.length == 1)
    assert(merged(calls.last._1) == Seq(("Alex", 22L, null)))
    assert(merged(calls.last._2) == Seq(("Alex", 22L, 95L)))
    assert(merged(inc.table("unionTest").collect().toSeq) == Seq(("Alex", 22L, null)))
    assertRecomputes(inc, cascadeTables :+ "unionTest")

    inc.delete("users", "name", "Alex")
    assert(calls.length == 2)
    assert(calls.last._1.isEmpty)
    assert(merged(calls.last._2) == Seq(("Alex", 22L, null)))
    assert(inc.table("unionTest").isEmpty)
    assertRecomputes(inc, cascadeTables :+ "unionTest")
  }

  /** Alex's sum crosses 100 and Bob's stays under it; then a non-local
    * insert, a delete that drops Alex back under 100, and Bob's whole
    * group goes. `check` runs after each step with the step's number. */
  private def editsAroundTheBound(inc: IncrementalGraph)(check: Int => Unit): Unit = {
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row("Bob", 40L)))
    check(0)
    inc.insert("grades", rows(gradeSchema, Row("Alex", 80L), Row("Bob", 10L)))
    check(1)
    assertRecomputes(inc, cascadeTables)
    inc.insert("grades", rows(gradeSchema, Row("Cara", 99L), Row("Bob", 60L)).repartition(1))
    inc.delete("grades", "grade", 80L)
    check(2)
    assertRecomputes(inc, cascadeTables)
    inc.delete("grades", "name", "Bob")
    check(3)
    assertRecomputes(inc, cascadeTables)
  }

  test("a Function downstream of an Aggregation equals the recompute under inserts and deletes") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    def doubled(): Map[String, Long] = inc.table("fnOverAgg").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("doubled")).toMap
    editsAroundTheBound(inc) {
      case 0 => assert(doubled() == Map("Alex" -> 190L, "Bob" -> 90L))
      case 1 => assert(doubled() == Map("Alex" -> 360L, "Bob" -> 120L))
      case 2 => assert(doubled() == Map("Alex" -> 190L, "Bob" -> 250L, "Cara" -> 208L))
      case _ => assert(doubled() == Map("Alex" -> 190L, "Cara" -> 208L))
    }
  }

  test("a Filter downstream of an Aggregation equals the recompute under inserts and deletes") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    def filtered(): Map[String, Long] = inc.table("filterOverAgg").collect()
      .map(r => r.getAs[String]("aggregatedColumn") -> r.getAs[Long]("sum")).toMap
    editsAroundTheBound(inc) {
      case 0 => assert(filtered().isEmpty)
      case 1 => assert(filtered() == Map("Alex" -> 180L))
      case 2 => assert(filtered() == Map("Bob" -> 125L, "Cara" -> 104L))
      case _ => assert(filtered() == Map("Cara" -> 104L))
    }
  }

  test("listen by event kind: Insert and Delete subscribers each get their half of an edit") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    val inserts = recordEdits(inc, "aggOverFilter", graft.ListenEvent.Insert)
    val deletes = recordEdits(inc, "aggOverFilter", graft.ListenEvent.Delete)

    // a new group: an insert-only edit
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    assert(inserts.map(c => groups(c._1)) == Seq(Seq(("Alex", 1L, 90L))) && inserts.forall(_._2.isEmpty))
    assert(deletes.isEmpty)
    // an upsert of that group: Insert(new) to one, Delete(old) to the other
    inc.insert("grades", rows(gradeSchema, Row("Alex", 80L)))
    assert(inserts.length == 2 && groups(inserts.last._1) == Seq(("Alex", 2L, 170L)) && inserts.last._2.isEmpty)
    assert(deletes.length == 1 && deletes.last._1.isEmpty && groups(deletes.last._2) == Seq(("Alex", 1L, 90L)))
    // the group's removal: a delete-only edit
    inc.delete("grades", "name", "Alex")
    assert(inserts.length == 2)
    assert(deletes.length == 2 && deletes.last._1.isEmpty && groups(deletes.last._2) == Seq(("Alex", 2L, 170L)))
  }

  test("two listeners on a table downstream of an Aggregation each see every edit once") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    def doubled(calls: Seq[(Seq[Row], Seq[Row])]): Seq[(Seq[Long], Seq[Long])] =
      calls.map { case (i, d) => (i.map(_.getAs[Long]("doubled")), d.map(_.getAs[Long]("doubled"))) }
    val (first, second) = (recordEdits(inc, "fnOverAgg"), recordEdits(inc, "fnOverAgg"))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 9L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 1L)))
    inc.delete("grades", "name", "Alex")
    Seq(first, second).foreach { calls =>
      assert(doubled(calls.toSeq) == Seq((Seq(28L), Nil), (Seq(40L), Seq(28L)), (Nil, Seq(40L))))
    }
  }

  test("listen on an unknown table throws; the graph's subscribers keep getting each edit once") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    val calls = recordEdits(inc, "curved")
    assertThrows[IllegalArgumentException](inc.listen("noSuchTable")((_, _) => ()))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 95L)))
    assert(calls.map(_._1.map(_.getAs[Long]("curved"))) == Seq(Seq(100L)))
  }

  test("a group whose rows are all deleted leaves as a Delete; a null value counts but adds nothing; post statements chain") {
    val cfg = PipelineConfig.fromYaml(
      yaml.replace("\"avg ~ memo.sum / memo.cnt\"", "\"avg ~ memo.sum / memo.cnt\", \"avg2 ~ memo.avg * 2\""))
    val inc = new IncrementalGraph(spark, cfg)
    val calls = recordEdits(inc, "stats")
    def cara(rs: Seq[Row]): Seq[(Long, Long, Long)] =
      rs.map(r => (r.getAs[Long]("cnt"), r.getAs[Long]("sum"), r.getAs[Long]("avg2")))
    inc.insert("grades", rows(gradeSchema, Row("Cara", 50L), Row("Cara", null)))
    // avg2 = (50 / 2) * 2
    assert(cara(inc.table("stats").collect().toSeq) == Seq((2L, 50L, 50L)))
    assertRecomputes(inc, Seq("stats"))

    inc.delete("grades", "grade", 50L)
    assert(cara(calls.last._1) == Seq((1L, 0L, 0L)) && cara(calls.last._2) == Seq((2L, 50L, 50L)))
    inc.delete("grades", "grade", null)
    assert(calls.last._1.isEmpty && cara(calls.last._2) == Seq((1L, 0L, 0L)))
    assert(inc.table("stats").isEmpty)
    assertRecomputes(inc, Seq("stats", "profile"))
  }

  test("one Union key: insert then delete, and delete then re-insert, as consecutive edits equal the recompute") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(cascadeYaml))
    def ages(key: String): Seq[Any] = inc.table("unionTest").collect().toSeq
      .filter(_.getAs[String]("matchingKey") == key).map(_.getAs[Any]("age"))
    inc.insert("users", rows(userSchema, Row("a", 1L)))
    inc.delete("users", "name", "a")
    assert(ages("a").isEmpty)
    assertRecomputes(inc, cascadeTables :+ "unionTest")

    inc.insert("users", rows(userSchema, Row("b", 1L)))
    inc.delete("users", "name", "b")
    inc.insert("users", rows(userSchema, Row("b", 101L)))
    assert(ages("b") == Seq(101L))
    // later edits on other keys and sources leave "a" dead and "b" single
    inc.insert("grades", rows(gradeSchema, Row("b", 70L), Row("c", 60L)))
    inc.insert("users", rows(userSchema, Row("c", 3L)))
    assert(ages("a").isEmpty && ages("b") == Seq(101L))
    assertRecomputes(inc, cascadeTables :+ "unionTest")
  }

  test("an overflow at a Filter node, after the Union and Aggregation applied the edit, rolls every table back") {
    val cfg = PipelineConfig.fromYaml(
      """tables:
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: users
        |    kind: source
        |    columns: {name: Str, age: Integer}
        |  - name: profile
        |    kind: union
        |    tables_and_foreign_keys: [[users, name], [grades, name]]
        |  - name: stats
        |    kind: aggregation
        |    source_table: grades
        |    aggregated_column: name
        |    functions: ["cnt ~ memo.cnt + 1", "sum ~ memo.sum + grade"]
        |  - name: passing
        |    kind: filter
        |    source_table: grades
        |    filter: "grade + 10 >= 60"
        |""".stripMargin)
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("users", rows(userSchema, Row("Alex", 22L), Row("Zed", 40L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    // a new key: the fold and the merge succeed, the predicate overflows
    val crafted = Row("Zed", Long.MaxValue)
    val tables = Seq("grades", "users", "profile", "stats", "passing")
    assertRollsBack(inc, tables, Seq(
      () => inc.insert("grades", rows(gradeSchema, crafted)),
      () => inc.insert("grades", rows(gradeSchema, crafted).repartition(1))))
    inc.insert("grades", rows(gradeSchema, Row("Zed", 55L)))
    assert(inc.table("passing").count() == 2)
  }

  test("a failing merge at a Union node, after the Aggregation applied the edit, rolls every table back") {
    // `tag` is a number in users and a string in grades: the merged column
    // takes the common type, and a grades tag that is not a number fails
    // its cast under ANSI when the Union merges it
    val cfg = PipelineConfig.fromYaml(
      """tables:
        |  - name: users
        |    kind: source
        |    columns: {name: Str, tag: Integer}
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, tag: Str, grade: Integer}
        |  - name: stats
        |    kind: aggregation
        |    source_table: grades
        |    aggregated_column: name
        |    functions: ["cnt ~ memo.cnt + 1", "sum ~ memo.sum + grade"]
        |  - name: profile
        |    kind: union
        |    tables_and_foreign_keys: [[users, name], [grades, name]]
        |""".stripMargin)
    val taggedGrades = StructType(Seq(StructField("name", StringType), StructField("tag", StringType),
      StructField("grade", LongType)))
    val inc = new IncrementalGraph(spark, cfg)
    inc.insert("users", rows(StructType(Seq(StructField("name", StringType), StructField("tag", LongType))),
      Row("Alex", 1L), Row("Zed", 2L)))
    inc.insert("grades", rows(taggedGrades, Row("Alex", "7", 90L)))
    val crafted = Row("Zed", "x", 1L)
    assertRollsBack(inc, Seq("users", "grades", "stats", "profile"), Seq(
      () => inc.insert("grades", rows(taggedGrades, crafted)),
      () => inc.insert("grades", rows(taggedGrades, crafted).repartition(1))),
      expected = e => causes(e).exists(x => String.valueOf(x.getMessage).contains("CAST_INVALID_INPUT")))
    inc.insert("grades", rows(taggedGrades, Row("Zed", "8", 1L)))
    assert(inc.table("profile").collect().map(r => r.getAs[String]("matchingKey") -> r.get(r.fieldIndex("tag")).toString)
      .toMap == Map("Alex" -> "7", "Zed" -> "8"))
  }

  private val testSchema = StructType(Seq(StructField("testForIndex", LongType), StructField("testForIteration", LongType)))

  test("a one-row testTable insert resolves no plan and runs no job once its nodes are bound") {
    val inc = testCfgGraph()
    // the first local edit through each node binds it
    inc.insert("testTable", rows(testSchema, Row(1L, 20L)))
    val df = rows(testSchema, Row(2L, 30L))
    var edits: Seq[(String, DataFrame, DataFrame)] = Nil
    var analyses = Analyses(Nil)
    val jobs = jobsDuring { analyses = analysesDuring { edits = inc.insertWithEdits("testTable", df) } }
    assert(analyses.count == 0, s"$analyses for a one-row testTable insert")
    assert(jobs.count == 0, s"$jobs for a one-row testTable insert")
    assert(edits.map(_._1) == Seq("testTable", "derived", "filterTest"))
    assert(edits(1)._2.collect().map(_.getAs[Long]("newColumn")).toSeq == Seq(32L))
    assert(edits(2)._2.collect().map(_.getAs[Long]("testForIteration")).toSeq == Seq(30L))
    // the row form the façade uses
    var deltas: Seq[(String, IncrementalGraph.Delta, IncrementalGraph.Delta)] = Nil
    val rowAnalyses = analysesDuring { deltas = inc.insertRows("testTable", testSchema, Seq(Row(3L, 40L))) }
    assert(rowAnalyses.count == 0, s"$rowAnalyses for a one-row testTable insert of rows")
    assert(deltas.map(d => d._1 -> d._2.rows.size) == Seq("testTable" -> 1, "derived" -> 1, "filterTest" -> 1))
    assert(bag(inc.table("derived")) == Seq("22", "32", "42"))
  }

  test("a one-row users or grades insert resolves no plan and runs no job once its keyed tables are resident") {
    val inc = testCfgGraph()
    inc.insert("users", rows(userSchema, Row("Alex", 22L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L)))
    def counted(table: String, df: DataFrame): (Analyses, Jobs) = {
      var analyses = Analyses(Nil)
      val jobs = jobsDuring { analyses = analysesDuring(inc.insertWithEdits(table, df)) }
      (analyses, jobs)
    }
    // new keys: each Union and Aggregation finds the key's rows (none) in
    // its resident form
    val (users, usersJobs) = counted("users", rows(userSchema, Row("Bea", 30L)))
    assert(users.count == 0 && usersJobs.count == 0, s"$users and $usersJobs for a one-row users insert")
    val (grades, gradesJobs) = counted("grades", rows(gradeSchema, Row("Cal", 70L)))
    assert(grades.count == 0 && gradesJobs.count == 0, s"$grades and $gradesJobs for a one-row grades insert")
    // an existing key: its rows come from the form too
    val (again, againJobs) = counted("grades", rows(gradeSchema, Row("Alex", 10L)))
    assert(again.count == 0 && againJobs.count == 0, s"$again and $againJobs for a grades insert on an existing key")
    assertRecomputes(inc, Seq("aggregationTest", "actionTest", "derived", "filterTest"))
    assert(bag(inc.table("unionTest")) == Seq("22|10|Alex", "30|null|Bea", "null|70|Cal"))
  }

  /** Grades, users and measures (a Decimal and a Double) through every
    * row-wise node kind, a Union and two Aggregations (one folds exactly,
    * one recomputes). */
  private val rowPathYaml =
    """tables:
      |  - name: grades
      |    kind: source
      |    columns: {name: Str, grade: Integer}
      |  - name: users
      |    kind: source
      |    columns: {name: Str, age: Integer}
      |  - name: measures
      |    kind: source
      |    columns: {name: Str, d: Decimal, f: Float}
      |  - name: curved
      |    kind: function
      |    source_table: grades
      |    functions: ["curvedGrade ~ grade + 5", "name ~ name"]
      |  - name: passing
      |    kind: filter
      |    source_table: grades
      |    filter: "grade >= 60"
      |  - name: stats
      |    kind: aggregation
      |    source_table: grades
      |    aggregated_column: name
      |    functions: ["cnt ~ memo.cnt + 1", "sum ~ memo.sum + grade", "avg ~ memo.sum / memo.cnt"]
      |  - name: profile
      |    kind: union
      |    tables_and_foreign_keys: [[users, name], [grades, name]]
      |  - name: scaled
      |    kind: function
      |    source_table: measures
      |    functions: ["d3 ~ d * 3", "f4 ~ f / 4", "mix ~ d + f", "name ~ name"]
      |  - name: big
      |    kind: filter
      |    source_table: measures
      |    filter: "f > 1.5"
      |  - name: totals
      |    kind: aggregation
      |    source_table: measures
      |    aggregated_column: name
      |    functions: ["n ~ memo.n + 1", "dsum ~ memo.dsum + d", "fsum ~ memo.fsum + f"]
      |""".stripMargin
  private val rowPathTables = Seq("grades", "users", "measures", "curved", "passing", "stats", "profile",
    "scaled", "big", "totals")

  /** Two graphs over `rowPathYaml`, and their from-scratch reference. */
  private final class RowPaths(val local: IncrementalGraph, val planned: IncrementalGraph, val scratch: Recompute)

  /** The same insert into the graphs of `paths`: as a local batch into
    * `local`, and as a frame that plans to a Spark job (a cross join with
    * `spark.range`) into `planned`, whose rows it collects, and into the
    * reference, whose frames align the batch and recompute each table
    * (the frame path). Each edit's rows must be the same on both graphs,
    * the committed rows and any failure the same as the reference's, and
    * every table the same on all three. `ids` keeps `_entryId`s in the
    * comparison, for rows that carry their own. */
  private def sameOnBothPaths(paths: RowPaths, table: String, schema: StructType, ids: Boolean = false)
                             (rs: Row*): Unit = {
    import paths._
    def rowsOf(df: DataFrame): Seq[String] =
      if (ids) df.collect().map(_.toSeq.mkString("|")).toSeq.sorted else bag(df)
    def edits(inc: IncrementalGraph, df: DataFrame): Either[(String, String), Seq[(String, Seq[String], Seq[String])]] =
      try Right(inc.insertWithEdits(table, df).map { case (t, i, d) => (t, rowsOf(i), rowsOf(d)) }.toList)
      catch { case e: Exception => Left(condition(e)) }
    val frame = rows(schema, rs: _*).crossJoin(spark.range(1)).drop("id")
    assert(!IncrementalGraph.isLocal(frame))
    val before = rowPathTables.map(t => t -> bag(local.table(t))).toMap
    val (l, p) = (edits(local, rows(schema, rs: _*)), edits(planned, frame))
    assert(l.map(_.head._2) == scratch.insert(table, frame).map(rowsOf),
      s"the row path and the frame path differ on $table ${rs.mkString(",")}")
    assert(l == p, s"a local and a collected batch differ on $table ${rs.mkString(",")}")
    rowPathTables.foreach { t =>
      assert(bag(local.table(t)) == bag(scratch.table(t)), s"table $t diverged from the frame path")
      assert(bag(planned.table(t)) == bag(local.table(t)), s"table $t diverged on a collected batch")
      if (l.isLeft) assert(bag(local.table(t)) == before(t), s"$t not rolled back")
    }
  }

  private def rowPathGraphs(): RowPaths = {
    val cfg = PipelineConfig.fromYaml(rowPathYaml)
    val paths = new RowPaths(new IncrementalGraph(spark, cfg), new IncrementalGraph(spark, cfg),
      new Recompute(cfg, merging = Seq("profile")))
    sameOnBothPaths(paths, "grades", gradeSchema)(Row("Alex", 90L), Row("Bob", 50L))
    sameOnBothPaths(paths, "users", userSchema)(Row("Alex", 22L))
    paths
  }

  test("row path ≡ frame path: a missing column is null-filled") {
    val paths = rowPathGraphs()
    val nameOnly = StructType(Seq(StructField("name", StringType)))
    sameOnBothPaths(paths, "grades", nameOnly)(Row("Alex"), Row("Cara"))
    sameOnBothPaths(paths, "users", nameOnly)(Row("Dan"))
    assert(paths.local.table("grades").filter("grade is null").count() == 2)
  }

  test("row path ≡ frame path: a Str for an Integer column fails the same ANSI cast and rolls every table back") {
    val paths = rowPathGraphs()
    val strGrade = StructType(Seq(StructField("name", StringType), StructField("grade", StringType)))
    sameOnBothPaths(paths, "grades", strGrade)(Row("Alex", "abc"))
    val e = intercept[Exception](paths.local.insert("grades", rows(strGrade, Row("Alex", "abc"))))
    assert(causes(e).exists(x => String.valueOf(x.getMessage).contains("CAST_INVALID_INPUT")), s"$e")
    // a Str that is a number casts on both paths
    sameOnBothPaths(paths, "grades", strGrade)(Row("Alex", "7"))
  }

  test("row path ≡ frame path: a caller-supplied _entryId is kept") {
    val paths = rowPathGraphs()
    val withId = gradeSchema.add("_entryId", StringType)
    sameOnBothPaths(paths, "grades", withId, ids = true)(Row("Eve", 61L, "id-1"), Row("Eve", 3L, "id-2"))
    assert(paths.local.table("curved").filter("_sourceEntryId = 'id-1'").count() == 1)
  }

  test("row path ≡ frame path: Decimal and Double columns") {
    val paths = rowPathGraphs()
    val measures = StructType(Seq(StructField("name", StringType), StructField("d", DecimalType(38, 18)),
      StructField("f", DoubleType)))
    def dec(s: String) = new java.math.BigDecimal(s)
    // Double sums per key stay exact in any order: at most two addends,
    // or dyadic ones
    sameOnBothPaths(paths, "measures", measures)(
      Row("d", dec("1.123456789012345678"), 0.1), Row("a", dec("-2.5"), 2.75), Row("b", dec("12345678901234567890.5"), 1e16))
    sameOnBothPaths(paths, "measures", measures)(Row("a", dec("0.000000000000000001"), 1.5), Row("c", null, -0.0))
    // a Double and a Long column cast to the declared Decimal and Float
    val loose = StructType(Seq(StructField("name", StringType), StructField("d", DoubleType), StructField("f", LongType)))
    sameOnBothPaths(paths, "measures", loose)(Row("b", 0.1, 3L))
  }

  test("row path ≡ frame path: a Function over nulls") {
    val paths = rowPathGraphs()
    sameOnBothPaths(paths, "grades", gradeSchema)(Row("Alex", null), Row(null, 70L), Row(null, null))
    assert(bag(paths.local.table("curved")).count(_.startsWith("null|")) == 2)
  }

  test("row path ≡ frame path: a Filter whose predicate is null drops the row") {
    val paths = rowPathGraphs()
    val measures = StructType(Seq(StructField("name", StringType), StructField("f", DoubleType)))
    sameOnBothPaths(paths, "grades", gradeSchema)(Row("Fay", null), Row("Fay", 60L))
    sameOnBothPaths(paths, "measures", measures)(Row("g", null), Row("g", 2.0))
    assert(paths.local.table("passing").filter("name = 'Fay'").count() == 1)
    assert(paths.local.table("big").count() == 1)
  }

  test("a non-deterministic expression fails the graph's construction loudly instead of being bound") {
    // a Function or a Filter, over an empty and over a seeded source: no
    // edit could run through it, so the graph is refused at build
    val views = Seq("kind: function\n    functions: [\"r ~ rand()\"]", "kind: filter\n    filter: \"rand() > 0.5\"")
    for (view <- views; seed <- Seq(Map.empty[String, DataFrame], Map("grades" -> rows(gradeSchema, Row("Alex", 1L))))) {
      val cfg = PipelineConfig.fromYaml(
        s"""tables:
          |  - name: grades
          |    kind: source
          |    columns: {name: Str, grade: Integer}
          |  - name: noisy
          |    source_table: grades
          |    $view
          |""".stripMargin)
      val e = intercept[IllegalArgumentException](new IncrementalGraph(spark, cfg, seed))
      assert(e.getMessage.contains("non-deterministic"), e.getMessage)
    }
  }

  /** The test_cfg graph seeded as the `ivm_ingest` benchmark seeds it:
    * each source a frame over an RDD of `defaultParallelism` slices, one
    * users and one grades row per name. */
  private def seededTestCfgGraph(): IncrementalGraph = {
    ActionRegistry.register(GraftAction("IdentityAction", identity))
    def frame(schema: StructType, rs: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, spark.sparkContext.defaultParallelism), schema)
    new IncrementalGraph(spark, PipelineConfig.fromYaml(testCfg), Map(
      "testTable" -> frame(testSchema, (0L until 200L).map(i => Row(i % 20, 10 + i))),
      "users" -> frame(userSchema, (0 until 20).map(i => Row(s"u$i", 20L + i))),
      "grades" -> frame(gradeSchema, (0 until 20).map(i => Row(s"u$i", 50L + i)))))
  }

  /** Whether `e` or one of its causes is Spark's failed ANSI cast. */
  private def castFailed(e: Throwable): Boolean =
    causes(e).exists(x => String.valueOf(x.getMessage).contains("CAST_INVALID_INPUT"))

  test("a seeded test_cfg bootstrap runs one read per source and per keyed table, and nothing else") {
    var inc: IncrementalGraph = null
    val jobs = jobsDuring { inc = seededTestCfgGraph() }
    // each source's seed read: 2 jobs, the limit's first slice, then the
    // other three; unionTest's read: a shuffle stage per input, then the
    // read; aggregationTest's: a shuffle stage, then the read. The
    // Function, Filter and Action tables take their rows from their
    // inputs' on the driver
    assert(jobs.count == 11, s"$jobs for a seeded bootstrap")
    assertRecomputes(inc, testCfgTables.filterNot(_ == "unionTest"))
    assert(bag(inc.table("unionTest")).size == 20)
  }

  test("right after a seeded bootstrap, the first FindOne, GetAll, LessThan and GreaterThan on every table run no Spark job") {
    val inc = seededTestCfgGraph()
    val reads = Seq("testTable" -> ("testForIndex" -> 3L), "users" -> ("name" -> "u3"), "grades" -> ("grade" -> 53L),
      "derived" -> ("newColumn" -> 15L), "unionTest" -> ("matchingKey" -> "u3"), "filterTest" -> ("testForIndex" -> 3L),
      "aggregationTest" -> ("aggregatedColumn" -> "u3"), "actionTest" -> ("name" -> "u3"))
    assert(reads.map(_._1).sorted == testCfgTables.sorted)
    var answers = Seq.empty[Seq[Int]]
    val jobs = jobsDuring {
      answers = reads.map { case (t, (c, k)) =>
        val form = inc.pinnedAt(pin => pin(t)).resident.getOrElse(fail(s"$t is not resident"))
        Seq(form.findOne(c, k), form.getAll(c, k), form.lessThan(c, k), form.greaterThan(c, k))
          .map(_.getOrElse(fail(s"$t.$c = $k is not answered from the form")).size)
      }
    }
    assert(jobs.count == 0, s"$jobs for the first reads after a bootstrap")
    val q = new QueryService(inc.table _)
    reads.zip(answers).foreach { case ((t, (c, k)), sizes) =>
      assert(sizes == Seq(q.findOne(t, c, k), q.getAll(t, c, k), q.lessThan(t, c, k), q.greaterThan(t, c, k))
        .map(_.count().toInt), s"$t.$c = $k")
      assert(sizes(1) > 0, s"$t.$c = $k reads no row")
    }
  }

  test("on a seeded bootstrap, the first one-row users insert and the first grades insert run no Spark job") {
    val inc = seededTestCfgGraph()
    val users = jobsDuring(inc.insertWithEdits("users", rows(userSchema, Row("u3", 44L))))
    assert(users.count == 0, s"$users for the first users insert")
    val grades = jobsDuring(inc.insertWithEdits("grades", rows(gradeSchema, Row("u4", 80L))))
    assert(grades.count == 0, s"$grades for the first grades insert")
    assertRecomputes(inc, Seq("derived", "filterTest", "aggregationTest", "actionTest"))
    val union = inc.table("unionTest").collect().map(r => r.getAs[String]("matchingKey") ->
      ((r.getAs[Any]("age"), r.getAs[Any]("grade")))).toMap
    assert(union("u3") == ((44L, 53L)) && union("u4") == ((24L, 80L)))
  }

  test("on a seeded bootstrap, a testTable delete finds its rows in the form: no Spark job and no plan") {
    val inc = seededTestCfgGraph()
    var deltas: Seq[(String, IncrementalGraph.Delta, IncrementalGraph.Delta)] = Nil
    var analyses = Analyses(Nil)
    val jobs = jobsDuring { analyses = analysesDuring { deltas = inc.deleteDeltas("testTable", "testForIteration", 17L) } }
    assert(jobs.count == 0, s"$jobs for a testTable delete")
    assert(analyses.count == 0, s"$analyses for a testTable delete")
    assert(deltas.map(d => (d._1, d._2.rows.size, d._3.rows.size)) ==
      Seq(("testTable", 0, 1), ("derived", 0, 1), ("filterTest", 0, 1)))
    assertRecomputes(inc, Seq("derived", "filterTest"))
    assert(inc.table("testTable").count() == 199)
  }

  test("on a seeded bootstrap, a grades delete runs only the key recomputes of its Union and Aggregation") {
    val inc = seededTestCfgGraph()
    var deltas: Seq[(String, IncrementalGraph.Delta, IncrementalGraph.Delta)] = Nil
    val jobs = jobsDuring { deltas = inc.deleteDeltas("grades", "name", "u3") }
    // the collects of the two recomputes, 2 jobs each
    assert(jobs.count == 4, s"$jobs for a grades delete")
    assert(jobs.callSites.forall(_.startsWith("collect at IncrementalGraph.scala")), s"$jobs")
    assert(deltas.map(d => (d._1, d._2.rows.size, d._3.rows.size)) ==
      Seq(("grades", 0, 1), ("unionTest", 1, 1), ("aggregationTest", 0, 1), ("actionTest", 0, 1)))
    assertRecomputes(inc, testCfgTables)
  }

  test("a null-key delete removes the rows whose column is null, through the form, and cascades them") {
    val inc = seededTestCfgGraph()
    inc.insert("testTable", rows(testSchema, Row(null, 15L), Row(null, 16L), Row(3L, null)))
    inc.insert("grades", rows(gradeSchema, Row(null, 7L), Row("u5", null)))
    val jobs = jobsDuring {
      assert(inc.deleteDeltas("testTable", "testForIndex", null).head._3.rows.size == 2)
    }
    assert(jobs.count == 0, s"$jobs for a null-key testTable delete")
    assert(bag(inc.table("testTable")).count(_.startsWith("null|")) == 0)
    assert(inc.delete("grades", "name", null).count() == 1)
    assert(inc.delete("grades", "grade", null).count() == 1)
    assertRecomputes(inc, testCfgTables)
  }

  test("a Str key on an Integer column fails a delete with Spark's CAST_INVALID_INPUT and rolls back; a numeric Str casts") {
    val inc = seededTestCfgGraph()
    assertRollsBack(inc, testCfgTables, Seq(
      () => inc.delete("testTable", "testForIndex", "abc"),
      () => inc.delete("grades", "grade", "x")), expected = castFailed)
    // the form leaves the key to Spark, whose cast makes "3" a 3
    assert(inc.delete("testTable", "testForIndex", "3").count() == 10)
    assert(inc.table("testTable").filter("testForIndex = 3").isEmpty)
    assertRecomputes(inc, testCfgTables)
  }

  test("a held Union's form stays as large as its rows, however many upserts it takes") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml))
    val names = (0 until 20).map(i => s"n$i")
    inc.insert("users", rows(userSchema, names.map(Row(_, 20L)): _*))
    def form = inc.pinnedAt(pin => pin("profile")).resident.getOrElse(fail("profile is not resident"))
    // keys in random order, so most upserts replace a row from the middle
    // of the form's arrival order
    val rnd = new scala.util.Random(7)
    val ages = scala.collection.mutable.Map(names.map(_ -> 20L): _*)
    def upserts(n: Int): Unit = (0 until n).foreach { _ =>
      val (name, age) = (names(rnd.nextInt(names.size)), 20L + rnd.nextInt(50))
      inc.insert("users", rows(userSchema, Row(name, age)))
      ages(name) = age
    }
    upserts(50)
    val before = org.apache.spark.util.SizeEstimator.estimate(form)
    upserts(2000)
    val after = org.apache.spark.util.SizeEstimator.estimate(form)
    assert(form.size == names.size && form.rows.size == names.size)
    assert(after < before * 3 / 2, s"$before bytes after 50 upserts, $after after 2,050")
    assert(inc.table("profile").collect().map(r => r.getAs[String]("matchingKey") -> r.getAs[Long]("age")).toMap ==
      ages.toMap)
  }

  test("an impure Action's held table keeps its rows and its count when a delete's rows match none of them") {
    val stamp = new java.util.concurrent.atomic.AtomicLong
    ActionRegistry.register(GraftAction("Stamping", r => Row.fromSeq(r.toSeq :+ stamp.incrementAndGet()),
      _.add("stamp", LongType)))
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: stamped
        |    kind: action
        |    source_table: grades
        |    action: Stamping
        |""".stripMargin))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row("Bob", 80L)))
    // the delete runs the Action again: its row has a new stamp
    inc.delete("grades", "name", "Alex")
    val form = inc.pinnedAt(pin => pin("stamped")).resident.getOrElse(fail("stamped is not resident"))
    assert(form.size == 2 && form.rows.size == 2)
    assert(inc.table("stamped").count() == 2)
  }

  test("a resident form of two Longs and an _entryId costs at most 100 bytes a row, before and after local edits that cross a freeze") {
    val (schema, seed) = SourceOps.withEntryIds(StructType(Seq(StructField("a", LongType), StructField("b", LongType))),
      (0 until 10000).map(i => Row(i.toLong, (i * 7 % 1000).toLong)))
    var form = Resident(schema, seed, None)
    def perRow(f: Resident) = org.apache.spark.util.SizeEstimator.estimate(f).toDouble / f.size
    assert(perRow(form) <= 100, s"${perRow(form)} bytes a row")
    // inserts of new rows and of copies, deletes of one copy of seed and of
    // inserted rows; the form drops the newest copy, so the model does too
    val rnd = new scala.util.Random(11)
    val model = scala.collection.mutable.ArrayBuffer(seed: _*)
    var froze = false
    (0 until 1000).foreach { e =>
      val pending = form.pending
      if (rnd.nextBoolean()) {
        val r = if (rnd.nextInt(3) == 0) model(rnd.nextInt(model.size))
          else Row(-e.toLong, rnd.nextInt(1000).toLong, f"$e%016X-" + java.util.UUID.randomUUID())
        form = form.updated(Seq(r), Nil)
        model += r
      } else {
        val r = model(rnd.nextInt(model.size))
        form = form.updated(Nil, Seq(r))
        model.remove(model.lastIndexOf(r))
      }
      froze ||= form.pending < pending
    }
    assert(froze, s"no freeze in 1,000 edits; ${form.pending} pending")
    assert(form.size == model.size && form.rows.toSeq == model, "the rows in arrival order")
    Seq(0L, 1L, 999L, -5L).foreach { k =>
      assert(form.getAll("a", k).get.toSeq.sortBy(_.toString) == model.filter(_.getLong(0) == k).sortBy(_.toString))
      assert(form.lessThan("b", k).get.map(_.getLong(1)).toSeq == model.map(_.getLong(1)).filter(_ < k).sorted)
    }
    assert(perRow(form) <= 100, s"${perRow(form)} bytes a row after the edits")
  }

  test("a Mat that local deletes bring under the cap is held from its next compaction") {
    val cap = IncrementalGraph.ResidentCap
    val half = cap / 2 + 8
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: users
        |    kind: source
        |    columns: {name: Str, age: Integer}
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: profile
        |    kind: union
        |    tables_and_foreign_keys: [[users, name], [grades, name]]
        |""".stripMargin), Map(
      "users" -> spark.range(half).selectExpr("concat('u', id) as name", "id % 200 as age"),
      "grades" -> spark.range(half).selectExpr("concat('g', id) as name", "id as grade")))
    def held(t: String) = inc.pinnedAt(pin => pin(t)).resident.isDefined
    assert(held("users") && held("grades") && !held("profile"), "two held sources, their Union above the cap")
    // each delete removes 41 users' rows from the Union, which takes it
    // under the cap; past CompactAt dead keys it compacts
    inc.delete("users", "age", 0L)
    assert(!held("profile"), "41 dead keys: not compacted yet")
    inc.delete("users", "age", 1L)
    assert(held("profile"), "a compaction under the cap holds the table")
    assert(inc.table("profile").count() <= cap)
    assertRecomputes(inc, Seq("profile"))
    inc.insert("users", rows(userSchema, Row("u0", 5L)))
    assertRecomputes(inc, Seq("profile"))
  }

  test("a Str key that fails its cast on an Integer column fails an unseeded PipelineGraph as it fails the IncrementalGraph") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val (inc, scratch) = (new IncrementalGraph(spark, cfg), new PipelineGraph(spark, cfg))
    Seq[() => Any](
      () => inc.delete("grades", "grade", "1x"),
      () => scratch.delete("grades", "grade", "1x"),
      () => new QueryService(inc.table _).getAll("grades", "grade", "1x").collect(),
      () => new QueryService(scratch).getAll("grades", "grade", "1x").collect()).foreach { read =>
      val e = intercept[Exception](read())
      assert(castFailed(e), s"unexpected failure $e")
    }
  }

  test("an edit that would freeze a resident form and then fails restores the pre-edit form") {
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: curved
        |    kind: function
        |    source_table: grades
        |    functions: ["curvedGrade ~ grade + 5"]
        |  - name: stats
        |    kind: aggregation
        |    source_table: grades
        |    aggregated_column: name
        |    functions: ["cnt ~ memo.cnt + 1", "sum ~ memo.sum + grade"]
        |""".stripMargin), Map("grades" -> spark.range(200).selectExpr("concat('n', id % 50) as name", "id as grade")))
    inc.insert("grades", rows(gradeSchema, Row("n1", 7L)))
    inc.delete("grades", "grade", 3L)
    val tables = Seq("grades", "curved", "stats")
    def form(t: String) = inc.pinnedAt(pin => pin(t)).resident.getOrElse(fail(s"$t is not resident"))
    val before = tables.map(t => t -> form(t)).toMap
    assert(before("grades").pending == 2, "an insert and a delete since the seed's freeze")
    // the batch passes a sixteenth of the grades rows, so the source and
    // its Function freeze before the Aggregation's fold overflows
    val batch = (0 until 20).map(i => Row(s"n$i", if (i == 19) Long.MaxValue else i.toLong))
    assertRollsBack(inc, tables, Seq(() => inc.insert("grades", rows(gradeSchema, batch: _*))))
    tables.foreach(t => assert(form(t) eq before(t), s"$t's pre-edit form"))
    val ok = inc.insert("grades", rows(gradeSchema, batch.init: _*))
    assert(ok.count() == 19 && form("grades").pending == 0, "the same edit less its overflow freezes")
    assertRecomputes(inc, tables)
  }

  test("on a seeded bootstrap, a one-row non-local testTable, users or grades insert runs one Spark job and leaves every table as the local insert does") {
    val (local, collected) = (seededTestCfgGraph(), seededTestCfgGraph())
    Seq(("testTable", testSchema, Row(3L, 33L)), ("users", userSchema, Row("u3", 44L)),
        ("grades", gradeSchema, Row("u4", 80L))).foreach { case (t, schema, r) =>
      local.insert(t, rows(schema, r))
      val df = rows(schema, r).repartition(1)
      assert(!IncrementalGraph.isLocal(df))
      // the frame's collect, and nothing else: the cascade runs on the
      // driver. Under AQE a collect over a shuffle runs its map stage as a
      // job of its own, so the one collect is counted against that of an
      // equal frame (a frame's own second collect reuses its shuffle)
      val collect = jobsDuring(rows(schema, r).repartition(1).collect())
      val jobs = jobsDuring(collected.insertWithEdits(t, df))
      assert(jobs.count == collect.count && jobs.callSites.forall(_.startsWith("collect at IncrementalGraph.scala")),
        s"$jobs for a one-row non-local $t insert, $collect for its frame's collect")
      testCfgTables.foreach(x => assert(bag(collected.table(x)) == bag(local.table(x)), s"table $x after a $t insert"))
    }
    assertRecomputes(collected, testCfgTables.filterNot(_ == "unionTest"))
  }

  test("a view over a Mat that local deletes bring under the cap is held from that table's compaction") {
    val half = IncrementalGraph.ResidentCap / 2 + 8
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(
      """tables:
        |  - name: users
        |    kind: source
        |    columns: {name: Str, age: Integer}
        |  - name: grades
        |    kind: source
        |    columns: {name: Str, grade: Integer}
        |  - name: profile
        |    kind: union
        |    tables_and_foreign_keys: [[users, name], [grades, name]]
        |  - name: older
        |    kind: function
        |    source_table: profile
        |    functions: ["name ~ matchingKey", "older ~ age + 1"]
        |  - name: graded
        |    kind: filter
        |    source_table: profile
        |    filter: "grade >= 0"
        |""".stripMargin), Map(
      "users" -> spark.range(half).selectExpr("concat('u', id) as name", "id % 200 as age"),
      "grades" -> spark.range(half).selectExpr("concat('g', id) as name", "id as grade")))
    def held(t: String) = inc.pinnedAt(pin => pin(t)).resident.isDefined
    val views = Seq("older", "graded")
    assert(!held("profile") && !views.exists(held), "a Union above the cap, and its views with no state")
    inc.delete("users", "age", 0L)
    assert(!held("profile") && !views.exists(held), "41 dead keys: not compacted yet")
    // the compaction holds the Union, and the edit reaches its views
    inc.delete("users", "age", 1L)
    assert(held("profile"), "a compaction under the cap holds the table")
    views.foreach(v => assert(held(v), s"$v is not held after its input's compaction"))
    assertRecomputes(inc, "profile" +: views)
    inc.insert("users", rows(userSchema, Row("u0", 5L)))
    inc.delete("grades", "grade", 7L)
    assertRecomputes(inc, "profile" +: views)
    views.foreach(v => assert(residentBag(inc, v) == bag(inc.table(v)), s"$v's form"))
  }

  test("a delete from a source above the cap cascades into a held Aggregation and a held Union, and equals the recompute") {
    val n = IncrementalGraph.ResidentCap + 100
    val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml), Map(
      "grades" -> spark.range(n).selectExpr("concat('n', id % 50) as name", "id as grade"),
      "users" -> spark.range(50).selectExpr("concat('n', id) as name", "20 + id as age")))
    def held(t: String) = inc.pinnedAt(pin => pin(t)).resident.isDefined
    assert(!held("grades") && held("stats") && held("profile"), "a source above the cap, its Aggregation and Union held")
    val profile = recordEdits(inc, "profile")
    // one row of n7's group, then the whole of n3's
    val jobs = jobsDuring(inc.delete("grades", "grade", 57L))
    inc.delete("grades", "name", "n3")
    assert(held("stats") && held("profile"), "the Aggregation and the Union stay held")
    Seq("stats", "profile").foreach(t => assert(residentBag(inc, t) == bag(inc.table(t)), s"$t's form"))
    assertRecomputes(inc, Seq("curved", "passing", "stats", "profile"))
    // each Union edit replaces one key's row: its sum, then its grade-less row
    assert(profile.map { case (i, d) => (i.map(_.getAs[String]("matchingKey")), d.map(_.getAs[String]("matchingKey"))) } ==
      Seq((Seq("n7"), Seq("n7")), (Seq("n3"), Seq("n3"))))
    assert(profile.last._1.head.isNullAt(profile.last._1.head.fieldIndex("sum")))
    // the delete's collect, the source's rebase (its one checkpoint), and
    // the key recomputes of the Aggregation and the Union: no delta is
    // checkpointed
    assert(jobs.callSites.count(_.startsWith("localCheckpoint")) == 1, s"$jobs")
  }
}
