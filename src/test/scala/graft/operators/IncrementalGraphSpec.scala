package graft.operators

import graft.SparkSpec
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

  test("incremental tables equal from-scratch recompute after mixed edits") {
    val cfg = PipelineConfig.fromYaml(yaml)
    val inc = new IncrementalGraph(spark, cfg)

    inc.insert("grades", rows(gradeSchema, Row("Alex", 90L), Row("Bob", 50L)))
    inc.insert("users", rows(userSchema, Row("Alex", 22L), Row("Cara", 30L)))
    inc.insert("grades", rows(gradeSchema, Row("Alex", 70L), Row("Cara", 88L)))
    inc.delete("grades", "name", "Bob")
    inc.insert("grades", rows(gradeSchema, Row("Bob", 65L)))

    // from-scratch reference: a lazy graph seeded with the SAME final
    // source contents (ids included)
    val scratch = new PipelineGraph(spark, cfg,
      Map("grades" -> inc.table("grades"), "users" -> inc.table("users")))
    Seq("curved", "passing", "stats", "profile").foreach { t =>
      assert(bag(inc.table(t)) == bag(scratch.table(t)), s"table $t diverged")
    }
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
    val scratch = new PipelineGraph(spark, cfg,
      Map("grades" -> inc.table("grades"), "users" -> inc.table("users")))
    assert(bag(inc.table("stats")) == bag(scratch.table("stats")))
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
    // the edit (local rows, tombstones, and on the batch edit a compaction)
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

    explode = true
    val batch = (0 to IncrementalGraph.CompactAt).map(i => Row(s"n$i", i.toLong))
    Seq(rows(gradeSchema, Row("Alex", 80L)), rows(gradeSchema, batch: _*)).foreach { edit =>
      assertThrows[RuntimeException](inc.insert("grades", edit))
      // every table — including those UPSTREAM of the failure — restored
      tables.foreach(t => assert(bag(inc.table(t)) == before(t), s"$t not rolled back"))
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
    val inc = new IncrementalGraph(spark, cfg)
    def grades(rs: Row*): Unit = inc.insert("grades", rows(gradeSchema, rs: _*))

    grades((0 until 20).map(i => Row(s"n$i", 40L + 3 * i)): _*)
    // user names stay unique: the union upserts by key, a recompute would
    // fan out a repeated one
    inc.insert("users", rows(userSchema, (0 until 25).map(i => Row(s"n$i", 20L + i)): _*))
    // a non-local insert: the rows come from a Spark job, not the driver
    inc.insert("grades", spark.range(10)
      .select(concat(lit("n"), col("id").cast("string")).as("name"), (col("id") * 7 + 30).as("grade")))
    inc.delete("grades", "name", "n3")
    (0 until 4).foreach(i => grades(Row(s"n${i * 5}", 61L + i)))
    // one batch of new keys past the compaction cap of stats and profile
    grades((0 to IncrementalGraph.CompactAt + 5).map(i => Row(s"m$i", i % 100L)): _*)
    inc.insert("users", rows(userSchema, Row("m1", 40L)))
    grades(Row("m1", 77L), Row("n1", 99L))
    inc.delete("users", "name", "n7")
    grades(Row(null, 55L))
    inc.insert("grades", spark.range(1).select(lit("m2").as("name"), lit(12L).as("grade")))
    grades(Row("m2", 13L))

    val scratch = new PipelineGraph(spark, cfg,
      Map("grades" -> inc.table("grades"), "users" -> inc.table("users")))
    Seq("curved", "passing", "stats", "profile").foreach { t =>
      assert(bag(inc.table(t)) == bag(scratch.table(t)), s"table $t diverged")
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
    assert(jobs == 0, s"$jobs Spark jobs for a one-row local insert")
    assert(edits.map(_._1) == Seq("grades", "curved", "passing"))
    assert(inc.table("passing").count() == 2)
  }
}
