package graft.operators

import graft.config._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Materializes a [[PipelineConfig]] into a DAG of DataFrames — the Spark
  * rendition of the reference's table DAG
  * (reference: reactive_db/src/database/database_manager.rs:83-95).
  *
  * The reference maintains every derived table eagerly, row-at-a-time; here
  * each derived table is a *lazy* DataFrame whose lineage (Catalyst logical
  * plan) encodes the whole cascade, so one action computes exactly the
  * needed slice with the optimizer free to push filters through the DAG.
  * Inserts/deletes mutate the source tables and derived tables recompute on
  * next access (micro-batch semantics; the streaming engine in
  * graft.streaming handles the push-based mode).
  */
/** Source-table ingest logic shared by the lazy [[PipelineGraph]] and the
  * eager [[IncrementalGraph]] — one place for validation, alignment, and
  * row-identity rules so the two engines cannot drift. */
private[operators] object SourceOps {
  import SystemColumns._

  def sourceSchema(s: SourceTableConfig): StructType =
    StructType(s.columns.map { case (n, t) => StructField(n, t) } :+ StructField(EntryId, StringType))

  /** Validate + align rows to the declared schema: undeclared columns are
    * a hard "Missmatched Input" error (reference:
    * storage_manager_table.rs:334-350), declared-but-missing columns
    * null-fill, and a caller-supplied `_entryId` is PRESERVED (replaying a
    * committed/listener delta keeps row identity instead of silently
    * reassigning it). */
  def alignForInsert(cfg: SourceTableConfig, rows: DataFrame): DataFrame = {
    val declared = cfg.columns.map(_._1).toSet
    val extra = rows.columns.filterNot(c => declared.contains(c) || c == EntryId)
    if (extra.nonEmpty)
      throw new IllegalArgumentException(s"Missmatched Input: undeclared columns ${extra.mkString(",")}")
    val aligned = cfg.columns.foldLeft(rows) { case (df, (n, t)) =>
      if (df.columns.contains(n)) df.withColumn(n, col(n).cast(t))
      else df.withColumn(n, lit(null).cast(t))
    }
    val keep = cfg.columns.map(_._1) ++ (if (rows.columns.contains(EntryId)) Seq(EntryId) else Nil)
    aligned.select(keep.map(col): _*)
  }

  /** `_entryId` is assigned at ingest and FROZEN (localCheckpoint) so
    * recomputes never regenerate row identity (SURVEY.md §7.4 item 5).
    * On a cluster this "freeze" is the durable write of the ingest batch.
    *
    * Ids are TIME-PREFIXED (zero-padded epoch-micros hex + uuid, UUIDv7
    * style): lexicographic max = latest edit, which union rebuilds use to
    * pick the winning append-log row per key. The timestamp is per-batch
    * (current_timestamp is query-constant), so ties within one insert
    * batch break on the random suffix — arbitrary but frozen. */
  def ensureEntryId(df: DataFrame): DataFrame = {
    val withId =
      if (df.columns.contains(EntryId)) df
      else df.withColumn(EntryId,
        expr("concat(lpad(hex(unix_micros(current_timestamp())), 16, '0'), '-', uuid())"))
    withId.localCheckpoint(true)
  }

  /** [[ensureEntryId]] for rows already in driver memory: the same
    * `HEX16-uuid` ids, assigned here instead of in a Spark job. Returns the
    * schema and rows with `_entryId` last, the [[sourceSchema]] order. */
  def withEntryIds(schema: StructType, rows: Seq[Row]): (StructType, Seq[Row]) =
    if (schema.fieldNames.contains(EntryId)) (schema, rows)
    else {
      val micros = java.time.temporal.ChronoUnit.MICROS
        .between(java.time.Instant.EPOCH, java.time.Instant.now())
      val prefix = f"$micros%016X-"
      (schema.add(EntryId, StringType),
        rows.map(r => Row.fromSeq(r.toSeq :+ (prefix + java.util.UUID.randomUUID()))))
    }
}

final class PipelineGraph(
    val spark: SparkSession,
    val config: PipelineConfig,
    initialSources: Map[String, DataFrame] = Map.empty) {
  import SystemColumns._

  private val sources = scala.collection.mutable.Map.empty[String, DataFrame]
  private var derivedCache: Option[Map[String, DataFrame]] = None

  config.tables.foreach {
    case s: SourceTableConfig =>
      // seeds get the same validation/alignment as insert() — see
      // SourceOps.alignForInsert (an unaligned seed would fail later
      // inside unionByName instead of erroring here)
      sources(s.name) = initialSources.get(s.name)
        .map(df => SourceOps.ensureEntryId(SourceOps.alignForInsert(s, df)))
        .getOrElse(spark.createDataFrame(new java.util.ArrayList[Row](), SourceOps.sourceSchema(s)))
    case _ =>
  }

  def table(name: String): DataFrame =
    sources.getOrElse(name, derived.getOrElse(name,
      throw new NoSuchElementException(s"no table named $name")))

  def derived: Map[String, DataFrame] = derivedCache.getOrElse {
    val acc = scala.collection.mutable.Map.empty[String, DataFrame]
    def resolve(n: String): DataFrame = sources.getOrElse(n, acc(n))
    config.topoOrder.foreach {
      case _: SourceTableConfig =>
      case f: FunctionTableConfig =>
        acc(f.name) = Transforms.function(resolve(f.sourceTable), f.functions)
      case f: FilterTableConfig =>
        acc(f.name) = Transforms.filter(resolve(f.sourceTable), f.filter)
      case u: UnionTableConfig =>
        acc(u.name) = Transforms.union(u.tablesAndForeignKeys.map { case (t, fk) => (resolve(t), fk) })
      case a: AggregationTableConfig =>
        acc(a.name) = Transforms.aggregation(resolve(a.sourceTable), a.aggregatedColumn, a.functions)
      case a: ActionTableConfig =>
        acc(a.name) = Transforms.action(resolve(a.sourceTable), ActionRegistry.get(a.actionName))
    }
    val m = acc.toMap
    derivedCache = Some(m)
    m
  }

  /** Insert rows into a source table; cascades lazily (derived tables see
    * the new rows on next access). Returns the committed rows incl. their
    * assigned `_entryId`s (the analog of the reference's committed-edits
    * response, reference: database.rs:125-195). */
  def insert(tableName: String, rows: DataFrame): DataFrame = {
    val cfg = config.byName.get(tableName) match {
      case Some(s: SourceTableConfig) => s
      case _ => throw new IllegalArgumentException(s"$tableName is not a source table")
    }
    val committed = SourceOps.ensureEntryId(SourceOps.alignForInsert(cfg, rows))
    // checkpoint the mutated source: repeated edits would otherwise stack
    // union legs / filter nodes into an unboundedly deep Catalyst plan
    sources(tableName) = sources(tableName).unionByName(committed).localCheckpoint(true)
    derivedCache = None
    committed
  }

  /** Insert plus the reference's full committed-edits response: the
    * reference's `InsertData` returns EVERY cascaded derived-row write,
    * not just the source row (reference: database.rs:125-195 via
    * `execute_edits`). Batch rendition: snapshot the (lazy, immutable)
    * derived plans, insert, rebuild, and diff — per derived table the
    * inserts are `after EXCEPT before` and, for upsert kinds
    * (aggregation/union, where an update is Delete(old)+Insert(new) —
    * database.rs:282-286), the deletes are `before EXCEPT after`.
    *
    * Each diff is one distributed set-difference; nothing collects to the
    * driver. Returns table → (inserts, deletes); the source table's entry
    * carries the committed rows with their assigned `_entryId`s.
    */
  def insertWithEdits(tableName: String, rows: DataFrame): Map[String, (DataFrame, DataFrame)] = {
    val before = derived // lazy plans over the pre-insert source snapshots
    val committed = insert(tableName, rows)
    val after = derived
    // deletes = prev ∖ now for EVERY derived table, not just upsert kinds:
    // a narrow table downstream of an aggregation loses the rows derived
    // from each replaced group row, and that cascaded delete is part of
    // the reference's committed-edits response (database.rs:282-286)
    val edits = after.map { case (name, now) =>
      val prev = before(name)
      name -> (now.exceptAll(prev), prev.exceptAll(now))
    }
    edits + (tableName -> (committed, committed.limit(0)))
  }

  /** Delete all rows with `column == key`; the cascade to derived tables
    * (reference: transform_hook.rs:56-64 via `_sourceEntryId`) falls out of
    * recompute. Returns the deleted rows. */
  def delete(tableName: String, column: String, key: Any): DataFrame = {
    val cur = sources.getOrElse(tableName,
      throw new IllegalArgumentException(s"$tableName is not a source table"))
    // null-safe on BOTH sides: delete(col, null) removes (and reports) the
    // null-valued rows — an asymmetric === here would report an empty
    // delta while still dropping the rows from the remainder
    val deleted = cur.filter(col(column) <=> lit(key)).localCheckpoint(true)
    sources(tableName) = cur.filter(!(col(column) <=> lit(key))).localCheckpoint(true)
    derivedCache = None
    deleted
  }
}
