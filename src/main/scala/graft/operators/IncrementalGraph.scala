package graft.operators

import graft.config._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Eager incremental view maintenance — the reference's core identity
  * (every insert updates all derived tables immediately,
  * reference: database.rs:125-195) re-expressed delta-driven.
  *
  * Where [[PipelineGraph]] keeps derived tables lazy and recomputes on
  * access, this keeps every table current and applies per-edit deltas.
  * Function/Filter tables are VIEWS: deterministic per-row functions, whose
  * delta is the transform of the input's delta. Aggregation/Union replace
  * ONLY the affected keys (the reference re-reads exactly these groups per
  * insert, transform.rs:239); the old group rows become the Delete half of
  * the update, the reference's Update ≡ Delete(old)+Insert(new)
  * (database.rs:282-286).
  *
  * Residency. A table of at most [[IncrementalGraph.ResidentCap]] rows is
  * held on the driver as its [[Resident]] form alone: its rows, indexed by
  * key and by every indexable column, as the reference keeps one store per
  * table (storage_manager_table.rs:14-23). Its frame, for [[table]] and the
  * Spark path of a read, builds those rows when it is computed. A larger table
  * is a checkpointed base, minus a null-safe set of dead keys (keyed
  * tables), plus driver-local rows; a view of one has no state. One rule
  * decides, at bootstrap and at each rebase (a delete from a source above
  * the cap, a form that crosses the cap): read at most the cap plus one
  * rows of the new frame, and hold them if that is all of them, else
  * checkpoint the frame. A view of a held table takes its rows from its
  * input's through its bound plan, with no job, unless it calls a
  * user-registered function: that view is read through its input. A view
  * with no state is reviewed at each edit that reaches it while its input
  * is held. An edit updates the state it finds, so a table above the cap
  * stays so until a rebase or its next compaction, which decides by the
  * same rule. A resident row is stored by column ([[Resident]]): 8 bytes
  * per number, date or timestamp, a string's UTF-8 bytes plus a 4-byte
  * offset, and 4 bytes per indexable column for its sorted permutation. A row of two Longs and a 53-character
  * `_entryId` costs about 85 bytes (a Row object and its sorted-map
  * entries, as held before, cost about 500), measured with Spark's
  * `SizeEstimator` on a 64-bit JVM with compressed pointers.
  *
  * Cost model. Every edit is LOCAL: its deltas are driver rows, run
  * through each node's expressions, bound once from the analyzed plan of
  * the same [[Transforms]] call ([[RowPlan]]), with no planning and no job;
  * every view is bound at construction, so one that no edit could run (a
  * non-deterministic expression, a plan of more than Projects and Filters)
  * fails there. A delta builds its frame only for a caller that asks
  * ([[insertWithEdits]], a [[listen]] subscriber). An insert's rows are the
  * driver's: a façade InsertData's, [[insertRows]]', or a frame's, which
  * costs no job when it plans to a LocalRelation and one `collect()`
  * otherwise. Then:
  *
  *   - a delete from a held source finds its rows, null-safe `<=>`, in the
  *     column's index, or, for an unindexable column or a key the
  *     comparison would cast, by Spark's filter over its frame; a delete
  *     from a source above the cap collects its rows, one job;
  *   - an Action applies its row function to the delta's rows
  *     ([[Transforms.actionRows]]); a held Action table drops a delete's
  *     rows as a multiset;
  *   - an Aggregation or Union finds the rows under its keys in its form,
  *     and folds the new rows onto them: a Union merges them by key as
  *     [[Transforms.union]] does, an Aggregation whose accumulators fold
  *     exactly ([[Transforms.exactFold]]) folds each key's rows onto its
  *     group row. Above the cap it reads its base under the keys: one job;
  *   - an Aggregation that does not fold exactly, or fed a delete, and a
  *     Union fed an update, recompute the keys from their inputs' frames;
  *   - a held table never compacts; a table above the cap compacts past
  *     [[IncrementalGraph.CompactAt]] local rows and dead keys, by the
  *     residency rule: the read of at most the cap plus one rows, then, if
  *     they are not all, a new checkpointed base.
  *
  * Only a delete from a source above the cap is O(table): the source is
  * rebased from its remaining rows by the rule, so lineage stays O(1) in
  * the number of edits. Its deltas are driver rows like any edit's.
  *
  * Threading: the edits ([[insert]], [[delete]] and their `WithEdits`
  * forms), [[listen]] and [[table]] are called from one thread at a time.
  * [[pinnedAt]] may be called from any thread; it sees the last committed
  * state, in which every table has its final form: a read builds none, and
  * an edit never waits for a read.
  *
  * Aggregation configs must use decomposable memo folds (the
  * [[Transforms.aggregation]] contract); order-dependent general folds
  * ([[Transforms.aggregationFold]]) need an explicit row order, which an
  * incremental upsert stream does not define — run those through the lazy
  * [[PipelineGraph]] instead.
  */
final class IncrementalGraph(
    val spark: SparkSession,
    val config: PipelineConfig,
    initialSources: Map[String, DataFrame] = Map.empty) {
  import IncrementalGraph._
  import SystemColumns._
  import Transforms.groupKey

  private def delta(schema: StructType, rows: Seq[Row]): Delta = new Delta(spark, schema, rows)

  /** The values of `columns` in the rows of `deltas`: the keys an edit touches. */
  private def keysOf(deltas: Seq[Delta], columns: Seq[String]): Set[Any] =
    (for (d <- deltas; c <- columns; i = d.schema.fieldIndex(c); r <- d.rows) yield r.get(i)).toSet

  private val byName = config.byName
  /** Each table's state in the edit in progress. A view that is not held
    * has none: it is read through its input. Dispatch thread only. */
  private var tables: Map[String, Table] = Map.empty
  /** What a node binds, per node and input schemas: row plans, an
    * Aggregation's exact fold, a Union's bound merge. An entry is small;
    * the cap only bounds what clients sending entries of ever-new shapes
    * can make the graph hold. */
  private val bound = new java.util.LinkedHashMap[(String, Seq[StructType]), AnyRef](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, Seq[StructType]), AnyRef]): Boolean =
      size > 256
  }
  private val views = new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()
  /** The table states as of the last committed edit; read and written
    * under `commitLock` only. */
  private var committed: Map[String, Table] = Map.empty
  private val commitLock = new Object

  private val downstream: Map[String, Seq[DerivedTableConfig]] =
    config.tables.collect { case d: DerivedTableConfig => d }
      .flatMap(d => d.inputTables.distinct.map(_ -> d))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** The key column of each keyed table: an Aggregation's or a Union's. */
  private val keyOf: Map[String, String] = config.tables.collect {
    case a: AggregationTableConfig => a.name -> AggregationKey
    case u: UnionTableConfig => u.name -> MatchingKey
  }.toMap

  // bootstrap, once per deployment: each table's first state by the
  // residency rule, in topo order. Seeds are aligned as inserts are, and
  // every view bound over its input's rows, so a bad seed, or a view that
  // no edit could run, fails here.
  config.topoOrder.foreach {
    case s: SourceTableConfig =>
      tables += s.name -> initialSources.get(s.name)
        .fold[Table](held(SourceOps.sourceSchema(s), Nil, None))(seeded(s, _))
    case v: DerivedTableConfig if isView(v) =>
      val src = v.inputTables.head
      viewPlan(v, tables.get(src).collect { case h: Held => h.form.schema }.getOrElse(table(src).schema))
      reviewed(v)
    case a: ActionTableConfig =>
      // the Action runs once: over held rows on the driver, else into the
      // checkpoint that the rule reads
      tables += a.name -> (tables.get(a.sourceTable) match {
        case Some(h: Held) =>
          val out = through(a, delta(h.form.schema, h.form.rows.toSeq))
          held(out.schema, out.rows, None)
        case _ => settled(checkpoint(compute(a, Map(a.sourceTable -> table(a.sourceTable)))), None)
      })
    case d: DerivedTableConfig =>
      tables += d.name -> settled(compute(d, d.inputTables.map(n => n -> table(n)).toMap), keyOf.get(d.name))
  }
  committed = tables

  private def compute(d: DerivedTableConfig, inputs: Map[String, DataFrame]): DataFrame = d match {
    case f: FunctionTableConfig => Transforms.function(inputs(f.sourceTable), f.functions)
    case f: FilterTableConfig   => Transforms.filter(inputs(f.sourceTable), f.filter)
    case a: AggregationTableConfig =>
      Transforms.aggregation(inputs(a.sourceTable), a.aggregatedColumn, a.functions)
    case u: UnionTableConfig =>
      Transforms.union(u.tablesAndForeignKeys.map { case (t, fk) => (inputs(t), fk) })
    case a: ActionTableConfig => Transforms.action(inputs(a.sourceTable), ActionRegistry.get(a.actionName))
  }

  def table(name: String): DataFrame = frameOf(name, tables)

  /** Run `f` over the tables as of the last committed edit, from any
    * thread, also while an edit runs on another. Commits and their
    * notifications wait for `f`, so whatever `f` hands on (say, to a
    * connection's outbound queue) is ordered after the notifications of
    * every edit it sees and before those of every edit it does not. Keep
    * `f` short: it holds off the next commit. */
  private[graft] def pinnedAt[A](f: (String => Pinned) => A): A = commitLock.synchronized {
    val state = committed
    f { name =>
      if (!byName.contains(name)) throw new NoSuchElementException(s"no table named $name")
      new Pinned(name, state)
    }
  }

  /** A table as a read pinned it, for any thread: its frame, built on
    * first use, and its resident form (None above the cap). */
  private[graft] final class Pinned(name: String, state: Map[String, Table]) {
    lazy val frame: DataFrame = frameOf(name, state)
    val resident: Option[Resident] = state.get(name).collect { case h: Held => h.form }
  }

  private def frameOf(name: String, state: Map[String, Table]): DataFrame = state.get(name) match {
    case Some(t) => t.frame
    case None => byName.get(name) match {
      case Some(v: DerivedTableConfig) if isView(v) => view(v, frameOf(v.inputTables.head, state))
      case _ => throw new NoSuchElementException(s"no table named $name")
    }
  }

  /** What node `name` binds over input `schemas`, made on first use. */
  private def boundFor[A <: AnyRef](name: String, schemas: StructType*)(make: => A): A = {
    val key = (name, schemas)
    Option(bound.get(key)).getOrElse { val made = make; bound.put(key, made); made }.asInstanceOf[A]
  }

  /** View `v` bound over input rows of `schema`: its plan, and whether a
    * form may hold its rows, which it may unless it calls a user-registered
    * function, which may block or cost anything. Fails for a view whose
    * plan does not bind, such as one with a non-deterministic expression. */
  private def viewPlan(v: DerivedTableConfig, schema: StructType): (RowPlan, Boolean) =
    boundFor(v.name, schema) {
      val out = compute(v, Map(v.inputTables.head -> RowPlan.empty(spark, schema)))
      (new RowPlan(out),
        out.queryExecution.analyzed.find(_.expressions.exists(_.exists(_.isInstanceOf[UserDefinedExpression]))).isEmpty)
    }

  /** A Function/Filter table over its input frame `in`, rebuilt only when
    * that frame changes. */
  private def view(v: DerivedTableConfig, in: DataFrame): DataFrame = {
    val cached = views.get(v.name)
    if (cached != null && (cached._1 eq in)) cached._2
    else {
      val out = compute(v, Map(v.inputTables.head -> in))
      views.put(v.name, (in, out))
      out
    }
  }

  private def held(schema: StructType, rows: Seq[Row], key: Option[String]): Held =
    new Held(spark, Resident(schema, rows, key))

  /** The state of a materialized table whose rows are now `form`'s: past
    * the cap, a checkpoint of the rows its frame builds. */
  private def kept(form: Resident, key: Option[String]): Table = {
    val h = new Held(spark, form)
    if (form.size <= ResidentCap) h else Mat(checkpoint(h.frame), key)
  }

  /** A source's first state from its seed, aligned as an insert is: held
    * with `_entryId`s assigned on the driver, or past the cap checkpointed
    * with ids assigned by Spark. */
  private def seeded(s: SourceTableConfig, seed: DataFrame): Table = {
    val aligned = SourceOps.alignForInsert(s, seed)
    fits(aligned).fold[Table](Mat(SourceOps.ensureEntryId(aligned))) { rows =>
      val (schema, withIds) = SourceOps.withEntryIds(aligned.schema, rows)
      held(schema, withIds, None)
    }
  }

  /** View `v`'s state: held, through its bound plan, when its input is
    * held and a form may hold its rows. Otherwise it has none. */
  private def reviewed(v: DerivedTableConfig): Unit = {
    val state = tables.get(v.inputTables.head).collect { case h: Held => (h, viewPlan(v, h.form.schema)) }
      .collect { case (h, (plan, true)) => held(plan.schema, plan(h.form.rows.toSeq), None) }
    tables = state.fold(tables - v.name)(tables.updated(v.name, _))
  }

  /** Source or Action table `name` after an edit inserted `ins` and
    * deleted `del`, a multiset difference. */
  private def applied(name: String, ins: Delta, del: Delta): Unit =
    tables += name -> (tables(name) match {
      case h: Held => kept(h.form.updated(ins.rows, del.rows), None)
      case m: Mat if del.isEmpty => m.append(ins.rows)
      case m: Mat => settled(m.frame.exceptAll(del.df).unionByName(ins.df), None)
    })

  // ── Listen: per-edit push to subscribers (the reference's ListenerHook
  //    fan-out, listener_hook.rs:56-87). Because this engine is eager,
  //    every edit's exact per-table delta already exists — subscribers get
  //    (inserts, deletes) where an upsert surfaces as Delete(old)+
  //    Insert(new), the reference's Update encoding (database.rs:282-286).
  private type Listener = (graft.ListenEvent, (Delta, Delta) => Unit)
  /** Under `commitLock` only. */
  private var listeners = Map.empty[String, List[Listener]]

  /** Subscribe to a table's change feed; `event` restricts delivery to one
    * change kind — the reference's per-kind listener map
    * (listener_hook.rs:62-74, ListenEvent in network_types.rs:33-37): an
    * Insert subscriber is never invoked for delete-only edits and vice
    * versa. */
  def listen(tableName: String, event: graft.ListenEvent = graft.ListenEvent.Both)
            (cb: (DataFrame, DataFrame) => Unit): Unit =
    listenDeltas(tableName, event)((ins, del) => cb(ins.df, del.df))

  /** [[listen]] with each edit's deltas, whose frames are built only if
    * `cb` asks for them. Returns what ends the subscription, which any
    * thread may call, also from within a notification. */
  private[graft] def listenDeltas(tableName: String, event: graft.ListenEvent = graft.ListenEvent.Both)
                                 (cb: (Delta, Delta) => Unit): () => Unit = {
    require(byName.contains(tableName), s"no table named $tableName")
    val l: Listener = (event, cb)
    def change(f: List[Listener] => List[Listener]) =
      commitLock.synchronized { listeners = listeners.updated(tableName, f(listeners.getOrElse(tableName, Nil))) }
    change(l :: _)
    () => change(_.filterNot(_ eq l))
  }

  /** How many subscriptions table `tableName` has. */
  private[graft] def listenerCount(tableName: String): Int =
    commitLock.synchronized(listeners.getOrElse(tableName, Nil).size)

  /** An Insert subscriber gets an empty delta for the deletes, and a
    * Delete subscriber one for the inserts. */
  private def notifyListeners(tableName: String, ins: Delta, del: Delta): Unit =
    listeners.getOrElse(tableName, Nil).foreach {
      case (graft.ListenEvent.Both, cb) => cb(ins, del)
      case (graft.ListenEvent.Insert, cb) => if (!ins.isEmpty) cb(ins, delta(del.schema, Nil))
      case (graft.ListenEvent.Delete, cb) => if (!del.isEmpty) cb(delta(ins.schema, Nil), del)
    }

  /** Run an edit transactionally — the reference's rollback
    * (database.rs:317-396), without the edit-inversion machinery: every
    * table's state is an immutable value, so the pre-edit name→state map
    * IS the rollback. On ANY failure mid-cascade every table restores and
    * no subscriber is called: notifications fire only after the whole
    * cascade commits, as the reference's hooks run against committed edits
    * (listener_hook.rs:56-66). Impure Action functions are outside the
    * transaction boundary (as are the reference's embedded-Python
    * actions). */
  private def transactional(body: Pending => Unit): Seq[(String, Delta, Delta)] = {
    val start = tables
    val pending: Pending = scala.collection.mutable.ArrayBuffer.empty
    try body(pending)
    catch {
      case e: Throwable =>
        tables = start
        throw e
    }
    commitLock.synchronized {
      committed = tables
      pending.foreach { case (t, ins, del) => notifyListeners(t, ins, del) }
    }
    pending.toList
  }
  private type Pending = scala.collection.mutable.ArrayBuffer[(String, Delta, Delta)]

  /** Insert rows; all derived tables are brought current before this
    * returns (the reference's eager cascade). Returns the committed rows.
    * Transactional: a mid-cascade failure rolls every table back and
    * notifies nobody. */
  def insert(tableName: String, rows: DataFrame): DataFrame =
    insertWithEdits(tableName, rows).head._2

  /** [[insert]], returning EVERY committed edit of the cascade in commit
    * order as (table, inserted, deleted) — the reference's InsertData
    * response payload (db_thread.rs:82-93 answers with all committed
    * edits, including cascaded derived-table writes; an Update edit
    * surfaces as its delete+insert pair here). */
  def insertWithEdits(tableName: String, rows: DataFrame): Seq[(String, DataFrame, DataFrame)] = {
    // rows that the frame does not plan to on the driver take one job
    val (schema, local) = localRows(rows).getOrElse((rows.schema, rows.collect().toSeq))
    // each edit's frames are built when the caller reaches it
    insertRows(tableName, schema, local).to(LazyList).map { case (t, ins, del) => (t, ins.df, del.df) }
  }

  /** [[insertWithEdits]] for rows of `schema` on the driver, returning each
    * edit's deltas: the edit runs as a local edit, and no frame is built. */
  private[graft] def insertRows(tableName: String, schema: StructType,
                                rows: Seq[Row]): Seq[(String, Delta, Delta)] = {
    val cfg = sourceConfig(tableName)
    val align = boundFor(tableName, schema)(RowPlan.over(spark, schema)(SourceOps.alignForInsert(cfg, _)))
    val (withIds, local) = SourceOps.withEntryIds(align.schema, align(rows))
    val (committed, none) = (delta(withIds, local), delta(withIds, Nil))
    transactional { pending =>
      applied(tableName, committed, none)
      pending += ((tableName, committed, none))
      propagate(tableName, committed, none, pending)
    }
  }

  private def sourceConfig(tableName: String): SourceTableConfig = byName.get(tableName) match {
    case Some(s: SourceTableConfig) => s
    case _ => throw new IllegalArgumentException(s"$tableName is not a source table")
  }

  /** Delete all rows with `column == key`; cascades eagerly. Returns the
    * deleted rows. Transactional like [[insert]]. */
  def delete(tableName: String, column: String, key: Any): DataFrame =
    deleteWithEdits(tableName, column, key).head._3

  /** [[delete]], returning every committed edit of the cascade (the
    * reference's DeleteData response — all deleted entries, source and
    * derived). */
  def deleteWithEdits(tableName: String, column: String, key: Any): Seq[(String, DataFrame, DataFrame)] =
    deleteDeltas(tableName, column, key).map { case (t, ins, del) => (t, ins.df, del.df) }

  /** [[deleteWithEdits]], returning each edit's deltas. A held source finds
    * the rows in its form; one above the cap collects them, and is rebased
    * from its other rows. */
  private[graft] def deleteDeltas(tableName: String, column: String, key: Any): Seq[(String, Delta, Delta)] = {
    val t = tables.getOrElse(tableName,
      throw new IllegalArgumentException(s"no table named $tableName"))
    require(byName.get(tableName).exists(_.isInstanceOf[SourceTableConfig]),
      s"$tableName is not a source table")
    // null-safe on BOTH sides — see PipelineGraph.delete; Spark's filter
    // finds the rows where the form cannot (its coercion and ANSI errors)
    val deleted = t match {
      case h: Held => delta(h.form.schema, h.form.matching(column, key)
        .getOrElse(h.frame.filter(col(column) <=> lit(key)).collect().toSeq))
      case m: Mat => delta(m.schema, m.frame.filter(col(column) <=> lit(key)).collect().toSeq)
    }
    val none = delta(deleted.schema, Nil)
    transactional { pending =>
      t match {
        case m: Mat => tables += tableName -> settled(m.frame.filter(!(col(column) <=> lit(key))), None)
        case _ => applied(tableName, none, deleted)
      }
      pending += ((tableName, none, deleted))
      propagate(tableName, none, deleted, pending)
    }
  }

  private def propagate(src: String, inserted: Delta, deleted: Delta, pending: Pending): Unit = {
    // no-op edits stop here: skipping avoids cascading joins, rebuilds and
    // spurious listener calls for an edit that changed nothing
    if (inserted.isEmpty && deleted.isEmpty) return
    downstream.getOrElse(src, Nil).foreach { d =>
      // each table is updated from the delta that propagates, so an impure
      // Action's table cannot diverge from it
      val (ins, del) = d match {
        case _: FunctionTableConfig | _: FilterTableConfig =>
          val (add, rem) = (through(d, inserted), through(d, deleted))
          tables.get(d.name) match {
            case Some(h: Held) =>
              val next = h.form.updated(add.rows, rem.rows)
              tables = if (next.size <= ResidentCap) tables.updated(d.name, new Held(spark, next)) else tables - d.name
            // held again once its input is, say after the input's compaction
            case _ => reviewed(d)
          }
          (add, rem)
        case _: ActionTableConfig =>
          val (add, rem) = (through(d, inserted), through(d, deleted))
          applied(d.name, add, rem)
          (add, rem)
        case a: AggregationTableConfig =>
          val keys = keysOf(Seq(inserted, deleted), Seq(a.aggregatedColumn))
          val fold = if (!deleted.isEmpty) None else boundFor(a.name, inserted.schema)(
            Transforms.exactFold(spark, inserted.schema, a.aggregatedColumn, a.functions))
          upsert(a.name, keys) { old =>
            fold match {
              // the reference's per-row memo fold (transform.rs:244-271):
              // each key's new rows onto its group row, or onto zero
              case Some(f) =>
                val k = old.schema.fieldIndex(AggregationKey)
                val groupRows = old.rows.map(r => groupKey(r.get(k)) -> r).toMap
                val plan = boundFor(a.name, inserted.schema, old.schema)(
                  RowPlan.over(spark, f.localSchema)(local => inOrder(f(local), old.schema)))
                delta(plan.schema, plan(f.localRows(grouped(inserted.rows, inserted.schema.fieldIndex(a.aggregatedColumn))
                  .map { case (key, rows) => (key, groupRows.get(groupKey(key)), rows) })))
              case None =>
                replacing(old, Transforms.aggregation(under(a.sourceTable, a.aggregatedColumn, keys),
                  a.aggregatedColumn, a.functions))
            }
          }
        case u: UnionTableConfig =>
          val fks = u.tablesAndForeignKeys.collect { case (t, fk) if t == src => fk }
          val insertOnly = deleted.isEmpty
          val keys = keysOf(if (insertOnly) Seq(inserted) else Seq(inserted, deleted), fks)
          upsert(u.name, keys) { old =>
            if (insertOnly) {
              // Pure insert — the reference's per-row upsert, per batch:
              // each incoming row merges ONTO the current derived row for
              // its key (incoming columns overwrite, transform.rs:176-228);
              // an unseen key creates a new row. No replay of the source
              // log, so an append-log source's repeated keys never fan out.
              // (Rows within ONE batch are assumed key-unique per fk.)
              // Rows pair by key on the driver and merge through the bound
              // plan, unless the keys differ in type.
              boundFor(s"${u.name} <- $src", old.schema, inserted.schema)(Transforms.unionRows(spark,
                (old.schema, MatchingKey) +: fks.map(fk => (inserted.schema, fk)), inOrder(_, old.schema)))
                .map { case (schema, f) => delta(schema, f(old.rows +: fks.map(_ => inserted.rows))) }
                .getOrElse(replacing(old, Transforms.union((old.df, MatchingKey) +: fks.map(fk => (inserted.df, fk)))))
            } else {
              // Delete (or derived upsert = delete+insert): rebuild the
              // affected keys from the remaining input rows, each input
              // collapsed to its LATEST row per key (max _entryId: ids are
              // time-prefixed, SourceOps.ensureEntryId), so repeated upsert
              // inserts never fan out. KNOWN DIVERGENCE: a rebuild merges
              // tables in config order (later table wins), the insert path
              // in arrival order like the reference; the arrival order of
              // edits across tables is not recorded.
              replacing(old, Transforms.union(u.tablesAndForeignKeys.map { case (t, fk) =>
                val affected = under(t, fk, keys)
                val collapsed =
                  if (!affected.columns.contains(EntryId)) affected
                  else {
                    val w = org.apache.spark.sql.expressions.Window
                      .partitionBy(fk).orderBy(col(EntryId).desc)
                    affected.withColumn("__rn", row_number().over(w))
                      .where(col("__rn") === 1).drop("__rn")
                  }
                (collapsed, fk)
              }))
            }
          }
      }
      pending += ((d.name, ins, del))
      propagate(d.name, ins, del, pending)
    }
  }

  /** Delta `in` of `d`'s input through row-wise table `d`. */
  private def through(d: DerivedTableConfig, in: Delta): Delta = d match {
    case a: ActionTableConfig =>
      val (schema, f) = Transforms.actionRows(ActionRegistry.get(a.actionName), in.schema)
      delta(schema, in.rows.flatMap(r => f(new GenericRowWithSchema(r.toSeq.toArray, in.schema))))
    case _ =>
      val (plan, _) = viewPlan(d, in.schema)
      delta(plan.schema, plan(in.rows))
  }

  /** The rows of table `name` whose `column` is in `keys`. */
  private def under(name: String, column: String, keys: Set[Any]): DataFrame = {
    val df = table(name)
    df.filter(keyIn(df(column), keys))
  }

  /** The rows of `df` as the replacement of the keyed rows `old`, in their
    * column order. */
  private def replacing(old: Delta, df: DataFrame): Delta = {
    val rep = inOrder(df, old.schema)
    delta(rep.schema, rep.collect().toSeq)
  }

  /** Replace the rows of keyed table `name` under `keys` with
    * `replacement(old rows)`, which are in the table's column order;
    * returns the (inserted, deleted) deltas. */
  private def upsert(name: String, keys: Set[Any])(replacement: Delta => Delta): (Delta, Delta) = {
    val t = tables(name)
    val old = t match {
      case h: Held => delta(h.form.schema, h.form.rowsUnder(keys))
      case m: Mat => delta(m.schema, m.rowsUnder(keys))
    }
    val rep = replacement(old)
    tables += name -> (t match {
      case h: Held => kept(h.form.updated(rep.rows, old.rows), keyOf.get(name))
      case m: Mat => m.upsert(keys, rep.rows)
    })
    (rep, old)
  }
}

object IncrementalGraph {
  import SystemColumns._
  import Transforms.groupKey

  /** One table's change in an edit: driver `rows` of `schema`, whose
    * LocalRelation frame is built only when asked for. */
  private[graft] final class Delta(spark: SparkSession, val schema: StructType, val rows: Seq[Row]) {
    lazy val df: DataFrame = localFrame(spark, rows, schema)
    def isEmpty: Boolean = rows.isEmpty
  }

  /** A materialized table's state in a commit. Immutable, so a map of
    * these is a snapshot and a rollback point. */
  private[operators] sealed trait Table { def frame: DataFrame }

  /** A table of at most [[ResidentCap]] rows: its resident form, the
    * table's only copy. Its frame is an RDD of one partition that builds
    * the form's rows each time it is computed, so the frame holds no copy
    * of them. A LocalRelation would, and the optimizer runs a filter over
    * one row by row before it folds the filter's casts, so a key failing
    * its ANSI cast would read as no rows when every value it meets is null. */
  private[operators] final class Held(spark: SparkSession, val form: Resident) extends Table {
    lazy val frame: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(Seq(form), 1).flatMap(_.rows), form.schema)
  }

  /** A table above [[ResidentCap]] rows: the rows of the checkpointed
    * `base` whose `key` is not in `dead`, plus driver-local `rows` (in base
    * column order). */
  private[operators] final case class Mat(base: DataFrame, key: Option[String] = None,
                               dead: Set[Any] = Set.empty, rows: Vector[Row] = Vector.empty) extends Table {
    /** Schema of the local rows: the base's, every column nullable. */
    def schema: StructType = StructType(base.schema.map(_.copy(nullable = true)))

    lazy val frame: DataFrame = {
      val live = if (dead.isEmpty) base else base.filter(!keyIn(base(key.get), dead))
      if (rows.isEmpty) live else live.unionByName(localFrame(base.sparkSession, rows, schema))
    }

    private def keyOf(r: Row): Any = r.get(base.schema.fieldIndex(key.get))

    /** Current rows whose key is in `keys`; reads the base only for keys
      * not already dead. */
    def rowsUnder(keys: Set[Any]): Seq[Row] = {
      val inBase = keys -- dead
      val under = keys.map(Resident.keyOf)
      rows.filter(r => under(Resident.keyOf(keyOf(r)))) ++
        (if (inBase.isEmpty) Nil else base.filter(keyIn(base(key.get), inBase)).collect().toSeq)
    }

    def append(more: Seq[Row]): Table = copy(rows = rows ++ more).compacted

    def upsert(keys: Set[Any], replacement: Seq[Row]): Table = {
      val under = keys.map(Resident.keyOf)
      copy(dead = dead ++ keys, rows = rows.filterNot(r => under(Resident.keyOf(keyOf(r)))) ++ replacement).compacted
    }

    // compaction decides by the residency rule, so a table that local
    // edits brought under the cap is held from then on; past the cap it
    // keeps the base's partition count: a toLocalIterator read runs one
    // job per partition, so appended partitions would add up
    private def compacted: Table =
      if (rows.size + dead.size <= CompactAt) this
      else settled(frame.coalesce(math.max(1, base.queryExecution.toRdd.getNumPartitions)), key)
  }

  /** The rows of `df` when there are at most [[ResidentCap]]. */
  private def fits(df: DataFrame): Option[Seq[Row]] = {
    val rows = df.limit(ResidentCap + 1).collect()
    if (rows.length > ResidentCap) None else Some(rows.toSeq)
  }

  /** The state of a materialized table whose rows are now `df`'s: held
    * when they fit under the cap, else a checkpoint of them. */
  private def settled(df: DataFrame, key: Option[String]): Table =
    fits(df).fold[Table](Mat(checkpoint(df), key))(rows => new Held(df.sparkSession, Resident(df.schema, rows, key)))

  /** Local rows plus dead keys a [[Mat]] holds before it compacts into a
    * new checkpointed base. */
  private[operators] val CompactAt = 64

  /** Rows a table may have and still be held resident on the driver. */
  private[operators] val ResidentCap = 1 << 14

  /** True when `df` plans to driver-local rows, which `collect()` returns
    * without running a Spark job. */
  def isLocal(df: DataFrame): Boolean = localRelation(df).isDefined

  /** The LocalRelation `df` plans to: its analyzed plan when that is one,
    * as a frame of rows built by `createDataFrame` is, so it needs no
    * optimizer run; else its optimized plan. */
  private def localRelation(df: DataFrame): Option[LocalRelation] = df.queryExecution.analyzed match {
    case l: LocalRelation => Some(l)
    case _ => df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l)
      case _ => None
    }
  }

  /** The schema and rows of a `df` that plans to driver-local rows. */
  private def localRows(df: DataFrame): Option[(StructType, Seq[Row])] = localRelation(df).map { l =>
    val toRow = CatalystTypeConverters.createToScalaConverter(l.schema)
    (l.schema, l.data.map(toRow(_).asInstanceOf[Row]))
  }

  private def isView(d: DerivedTableConfig): Boolean = d match {
    case _: FunctionTableConfig | _: FilterTableConfig => true
    case _ => false
  }

  /** Always eager: the frame escapes only once its RDD is checkpointed.
    * Readers run jobs over committed frames on other threads, and a job
    * that marks a still-pending checkpoint while the DAG scheduler plans
    * another job over the same RDD can deadlock Spark's checkpoint lock
    * against that RDD's state lock. */
  private def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  private def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** `df`'s columns in the order of `schema`'s. */
  private def inOrder(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fieldNames.toIndexedSeq.map(col): _*)

  /** `rows` grouped by the value of field `i` (null is a group, as in a
    * GROUP BY): groups in first-arrival order, rows in arrival order. */
  private def grouped(rows: Seq[Row], i: Int): Seq[(Any, Seq[Row])] = {
    val groups = scala.collection.mutable.LinkedHashMap.empty[Any, (Any, Seq[Row])]
    rows.foreach { r =>
      val (key, rs) = groups.getOrElse(groupKey(r.get(i)), (r.get(i), Vector.empty))
      groups(groupKey(key)) = (key, rs :+ r)
    }
    groups.values.toSeq
  }

  /** Null-safe `c ∈ keys`: insert() null-fills missing columns, so a null
    * group exists in a full recompute and must recompute incrementally too. */
  private def keyIn(c: Column, keys: Set[Any]): Column = {
    val nonNull = keys.filter(_ != null).toSeq
    val hit = if (nonNull.isEmpty) lit(false) else coalesce(c.isin(nonNull: _*), lit(false))
    if (keys.contains(null)) hit || c.isNull else hit
  }
}
