package graft.operators

import graft.config._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Eager incremental view maintenance — the reference's core identity
  * (every insert updates all derived tables immediately,
  * reference: database.rs:125-195) re-expressed delta-driven.
  *
  * Where [[PipelineGraph]] keeps derived tables lazy and recomputes on
  * access, this keeps every table current and applies per-edit deltas:
  *
  *   - Function/Filter tables are VIEWS: deterministic per-row functions
  *     (every ExprCompiler builtin is deterministic), so `table(name)` is
  *     the transform over the input's current state, cached per input
  *     frame, and their delta is the transform of the input's delta.
  *   - Source, Aggregation, Union and Action tables are materialized, each
  *     as a checkpointed base, minus a null-safe set of dead keys (keyed
  *     Aggregation/Union tables only), plus driver-local rows.
  *   - Aggregation/Union replace ONLY the affected keys (the reference
  *     re-reads exactly these groups per insert, transform.rs:239): a
  *     local insert folds its rows onto the keys' current rows, any other
  *     edit recomputes the keys; the old group rows become the Delete half
  *     of the update, matching the reference's Update ≡
  *     Delete(old)+Insert(new) (database.rs:282-286).
  *
  * Cost model. An insert of rows already on the driver (a façade
  * InsertData, [[insertRows]], or a frame that plans to a LocalRelation,
  * such as a `createDataFrame` batch) is a LOCAL edit: its `_entryId`s
  * are assigned on the driver and its deltas are driver rows, which flow
  * from node to node with no Catalyst planning. The first local edit
  * through a node binds the node's expressions once: they are taken from
  * the analyzed plan of the same [[Transforms]] call over an empty
  * relation of the delta's schema, and every later edit evaluates them
  * row by row ([[RowPlan]]). A delta builds its frame only for a caller
  * that asks for one ([[insertWithEdits]], a [[listen]] subscriber).
  * Then:
  *
  *   - the source's alignment and casts, and the Function and Filter
  *     nodes, run the bound expressions over the delta's rows: no job;
  *   - an Action node runs no job: its row function is applied to the
  *     delta's rows on the driver ([[Transforms.actionRows]]);
  *   - an Aggregation or Union node finds its current rows under the keys
  *     it replaces in its resident form (below): no job. It then folds the
  *     new rows onto them with bound expressions: a Union pairs them by key
  *     and merges them as [[Transforms.union]] does; an Aggregation whose
  *     accumulators fold exactly ([[Transforms.exactFold]]) folds each
  *     key's new rows onto its group row. It appends the replacement rows
  *     and tombstones the keys. A table above the cap reads its checkpointed
  *     base under the keys instead: one job;
  *   - an Aggregation that does not fold exactly (a Double sum, a `first()`
  *     overwrite), and a Union fed an update (a delete, or an upstream
  *     Aggregation's Delete+Insert), recompute the keys from their input
  *     tables: the jobs of the recompute;
  *   - when a table's local rows plus dead keys pass [[IncrementalGraph.CompactAt]]
  *     the table compacts into a new checkpointed base: one job.
  *
  * Residency. Every table with at most [[IncrementalGraph.ResidentCap]]
  * rows may also be held on the driver as a [[Resident]] form: all its
  * rows, indexed by key and by every indexable column in persistent maps.
  * A table becomes resident on its first keyed upsert (an Aggregation or
  * Union) or its first read through [[pinnedAt]], by one collect() of at
  * most the cap plus one rows; past the cap it is marked as such instead.
  * Every local edit then maintains the form from the edit's deltas (views
  * included), so a snapshot or a rollback of the state is one of the forms
  * too. The two constants make one rule: a table is rebased (a new
  * checkpointed base) every CompactAt local rows and dead keys, and
  * compaction keeps its rows, so it keeps its form; a table is resident
  * while it has at most ResidentCap rows, and a table above it stays
  * marked so until a rebase. Each resident row costs the heap its Row and
  * one sorted-map entry per indexable column: measured on a 64-bit JVM
  * with compressed pointers, about 56 bytes per Long column and 144 per
  * short string column on top of the Row's own 170–200 bytes, so 0.43 KB
  * for a row of two Longs and an `_entryId`.
  *
  * Other inserts and every delete are O(table): the delta is checkpointed,
  * and each affected materialized table is rebuilt from its current rows
  * (exceptAll for Action, a broadcast key semi/anti-join for
  * Aggregation/Union) and checkpointed as a new base, so lineage stays
  * O(1) in the number of edits. This rebase drops the resident forms of
  * the tables it rebuilds and of their views; the next keyed upsert or
  * read builds them again.
  *
  * Threading: the edits ([[insert]], [[delete]] and their `WithEdits`
  * forms), [[listen]] and [[table]] are called from one thread at a time.
  * [[pinnedAt]] may be called from any thread; it sees the last committed
  * state, never a cascade in progress. A read that builds a form collects
  * it on its own thread, without a lock; an edit never waits for it. The
  * form is attached to the committed state only if the build is still
  * registered, with the deltas committed since its pin replayed onto it; a
  * rebase of its table, or CompactAt commits of it, give the build up.
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

  private def localDelta(schema: StructType, rows: Seq[Row]): Delta =
    new Delta(schema, Some(rows), () => localFrame(spark, rows, schema))

  private def frameDelta(df: DataFrame): Delta = new Delta(df.schema, None, () => df)

  private def freeze(df: DataFrame, local: Boolean): Delta =
    if (local) localDelta(df.schema, df.collect().toSeq) else frameDelta(checkpoint(df))

  private def keysOf(deltas: Seq[Delta], columns: Seq[String]): Keys =
    if (deltas.forall(_.rows.isDefined))
      LocalKeys((for (d <- deltas; c <- columns; i = d.schema.fieldIndex(c); r <- d.rows.get)
        yield r.get(i)).toSet)
    else
      FrameKeys((for (d <- deltas; c <- columns) yield d.df.select(col(c).as("__k")))
        .reduce(_.unionByName(_)).distinct())

  private val byName = config.byName
  private val mat = scala.collection.mutable.Map.empty[String, Mat]
  private val folds = scala.collection.mutable.Map.empty[String, Option[Transforms.ExactFold]]
  /** What a node binds on its first local edit, per node and input
    * schemas: row plans, a Union's bound merge. An entry is small; the
    * cap only bounds what clients sending entries of ever-new shapes can
    * make the graph hold. */
  private val bound = new java.util.LinkedHashMap[(String, Seq[StructType]), AnyRef](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, Seq[StructType]), AnyRef]): Boolean =
      size > 256
  }
  private val views = new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()
  /** The resident forms of the edit in progress, by table; `None` marks a
    * table above [[IncrementalGraph.ResidentCap]]. Dispatch thread only. */
  private var forms: Map[String, Option[Resident]] = Map.empty
  /** The table states and forms as of the last committed edit; read and
    * written under `commitLock` only. */
  private var committed = State(Map.empty, Map.empty)
  /** Resident forms that reads are building, each with the deltas of its
    * table committed since it was pinned; under `commitLock` only. */
  private var builds: List[Build] = Nil
  private val commitLock = new Object

  private val downstream: Map[String, Seq[DerivedTableConfig]] =
    config.tables.collect { case d: DerivedTableConfig => d }
      .flatMap(d => d.inputTables.distinct.map(_ -> d))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  // initial materialization: sources from the seed, derived via one full
  // compute in topo order (the once-per-deployment bootstrap); views are
  // built (analyzed, not run) so a bad expression fails here
  config.topoOrder.foreach {
    case s: SourceTableConfig =>
      // seeds go through the same validation/alignment as insert() — an
      // unaligned seed (missing or undeclared columns) would otherwise
      // break the first unionByName mid-stream instead of erroring here
      mat(s.name) = Mat(initialSources.get(s.name)
        .map(df => SourceOps.ensureEntryId(SourceOps.alignForInsert(s, df)))
        .getOrElse(spark.createDataFrame(new java.util.ArrayList[Row](), SourceOps.sourceSchema(s))))
    case v: DerivedTableConfig if isView(v) => table(v.name)
    case d: DerivedTableConfig =>
      val key = d match {
        case _: AggregationTableConfig => Some(AggregationKey)
        case _: UnionTableConfig => Some(MatchingKey)
        case _ => None
      }
      mat(d.name) = Mat(checkpoint(compute(d, d.inputTables.map(n => n -> table(n)).toMap)), key)
  }
  committed = State(mat.toMap, Map.empty)

  private def compute(d: DerivedTableConfig, inputs: Map[String, DataFrame]): DataFrame = d match {
    case f: FunctionTableConfig => Transforms.function(inputs(f.sourceTable), f.functions)
    case f: FilterTableConfig   => Transforms.filter(inputs(f.sourceTable), f.filter)
    case a: AggregationTableConfig =>
      Transforms.aggregation(inputs(a.sourceTable), a.aggregatedColumn, a.functions)
    case u: UnionTableConfig =>
      Transforms.union(u.tablesAndForeignKeys.map { case (t, fk) => (inputs(t), fk) })
    case a: ActionTableConfig => Transforms.action(inputs(a.sourceTable), ActionRegistry.get(a.actionName))
  }

  def table(name: String): DataFrame = frameOf(name, mat)

  /** Run `f` over the tables as of the last committed edit: `f` pins the
    * tables it reads, each with its resident form when it has one. Unlike
    * [[table]], this may be called from any thread, also while an edit runs
    * on another. Commits and their subscriber notifications wait for `f`,
    * so whatever `f` hands on (say, to a connection's outbound queue) is
    * ordered after the notifications of every edit it sees and before those
    * of every edit it does not. Keep `f` short: it holds off the next
    * commit. A pin of a table without a form also claims its build, which
    * [[Pinned.built]] runs on the caller's own thread. */
  private[graft] def pinnedAt[A](f: (String => Pinned) => A): A = commitLock.synchronized {
    val state = committed
    f { name =>
      if (!byName.contains(name)) throw new NoSuchElementException(s"no table named $name")
      val build = if (state.forms.contains(name)) None else {
        val b = new Build(name)
        builds ::= b
        Some(b)
      }
      new Pinned(name, state, build)
    }
  }

  /** A table as a read pinned it: its frame, built on first use, and its
    * resident form. Any thread may use it. */
  private[graft] final class Pinned(name: String, state: State, build: Option[Build]) {
    lazy val frame: DataFrame = frameOf(name, state.mats)
    val resident: Option[Resident] = state.forms.get(name).flatten

    /** The resident form, built on the calling thread with one collect()
      * when the pin claimed the build, and attached to the committed state
      * with the edits committed since the pin replayed onto it. The form
      * returned is as pinned. None above the cap, or when another read
      * built the form first (this one was pinned before it). */
    def built(): Option[Resident] = resident.orElse(build.flatMap { b =>
      try {
        val first = commitLock.synchronized(!committed.forms.contains(name))
        val made = if (first) Some(residentOf(frame, state.mats.get(name).flatMap(_.key))) else None
        made.foreach(attach(b, _))
        made.flatten
      } finally commitLock.synchronized { builds = builds.filterNot(_ eq b) }
    })
  }

  /** Attach form `f`, built for `b` as of its pin, to the committed state,
    * unless the build was given up. */
  private def attach(b: Build, f: Option[Resident]): Unit = commitLock.synchronized {
    if (builds.exists(_ eq b) && !committed.forms.contains(b.table))
      replayed(f, b.log).foreach(now => committed = committed.copy(forms = committed.forms.updated(b.table, now)))
  }

  private def frameOf(name: String, state: scala.collection.Map[String, Mat]): DataFrame =
    byName.get(name) match {
      case Some(v: DerivedTableConfig) if isView(v) => view(v, frameOf(v.inputTables.head, state))
      case Some(_) => state(name).frame
      case None => throw new NoSuchElementException(s"no table named $name")
    }

  /** What node `name` binds over input `schemas`, made on first use. */
  private def boundFor[A <: AnyRef](name: String, schemas: StructType*)(make: => A): A = {
    val key = (name, schemas)
    Option(bound.get(key)).getOrElse { val made = make; bound.put(key, made); made }.asInstanceOf[A]
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

  // ── Listen: per-edit push to subscribers (the reference's ListenerHook
  //    fan-out, listener_hook.rs:56-87). Because this engine is eager,
  //    every edit's exact per-table delta already exists — subscribers get
  //    (inserts, deletes) where an upsert surfaces as Delete(old)+
  //    Insert(new), the reference's Update encoding (database.rs:282-286).
  private val listeners = scala.collection.mutable.Map
    .empty[String, List[(graft.ListenEvent, (Delta, Delta) => Unit)]]

  /** Subscribe to a table's change feed; `event` restricts delivery to one
    * change kind — the reference's per-kind listener map
    * (listener_hook.rs:62-74, ListenEvent in network_types.rs:33-37): an
    * Insert subscriber is never invoked for delete-only edits and vice
    * versa. */
  def listen(tableName: String, event: graft.ListenEvent = graft.ListenEvent.Both)
            (cb: (DataFrame, DataFrame) => Unit): Unit =
    listenDeltas(tableName, event)((ins, del) => cb(ins.df, del.df))

  /** [[listen]] with each edit's deltas, whose frames are built only if
    * `cb` asks for them. */
  private[graft] def listenDeltas(tableName: String, event: graft.ListenEvent = graft.ListenEvent.Both)
                                 (cb: (Delta, Delta) => Unit): Unit = {
    require(byName.contains(tableName), s"no table named $tableName")
    listeners(tableName) = (event, cb) :: listeners.getOrElse(tableName, Nil)
  }

  /** An Insert subscriber gets an empty delta for the deletes, and a
    * Delete subscriber one for the inserts. */
  private def notifyListeners(tableName: String, ins: Delta, del: Delta): Unit =
    listeners.getOrElse(tableName, Nil).foreach {
      case (graft.ListenEvent.Both, cb) => cb(ins, del)
      case (graft.ListenEvent.Insert, cb) => if (!ins.isEmpty) cb(ins, emptied(del))
      case (graft.ListenEvent.Delete, cb) => if (!del.isEmpty) cb(emptied(ins), del)
    }

  private def emptied(d: Delta): Delta =
    if (d.rows.exists(_.isEmpty)) d else localDelta(d.schema, Nil)

  /** Run an edit transactionally — the reference's rollback
    * (database.rs:317-396), without the edit-inversion machinery: every
    * table's state is an immutable value, so the pre-edit snapshot of the
    * name→state map IS the rollback (views follow their inputs). On ANY
    * failure mid-cascade every table restores to its pre-edit state and
    * subscribers are never called (notifications collect into `pending`
    * and fire only after the whole cascade commits — the reference's hooks
    * also run against committed edits, listener_hook.rs:56-66).
    * Checkpoints already written for a rolled-back edit are orphaned, not
    * visible. Impure Action functions are outside the transaction boundary
    * (as are the reference's embedded-Python actions). */
  private def transactional(body: Pending => Unit): Seq[(String, Delta, Delta)] = {
    val start = commitLock.synchronized(committed)
    forms = start.forms
    val snapshot = mat.toMap
    val pending: Pending = scala.collection.mutable.ArrayBuffer.empty
    try body(pending)
    catch {
      case e: Throwable =>
        mat.clear(); mat ++= snapshot
        throw e
    }
    commitLock.synchronized {
      def deltas(t: String) = pending.filter(_._1 == t).map(e => (e._2, e._3))
      // a form a read attached while this edit ran is as of the edit's start
      committed.forms.foreach { case (t, f) =>
        if (!start.forms.contains(t) && !forms.contains(t))
          replayed(f, deltas(t)).foreach(now => forms = forms.updated(t, now))
      }
      // a build keeps the deltas to replay; it is given up on a rebase or
      // once it falls CompactAt edits behind
      builds = builds.filter { b =>
        deltas(b.table).foreach(d => b.log :+= d)
        b.log.size <= CompactAt && b.log.forall { case (ins, del) => ins.rows.isDefined && del.rows.isDefined }
      }
      committed = State(mat.toMap, forms)
      pending.foreach { case (t, ins, del) => notifyListeners(t, ins, del) }
    }
    pending.toList
  }
  private type Pending = scala.collection.mutable.ArrayBuffer[(String, Delta, Delta)]

  /** Add an edit of table `t` to `pending`, and bring its resident form
    * up to date with it. */
  private def record(pending: Pending, t: String, ins: Delta, del: Delta): Unit = {
    pending += ((t, ins, del))
    forms.get(t).foreach(f => forms = advanced(f, ins, del).fold(forms - t)(forms.updated(t, _)))
  }

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
    val edits = localRows(rows) match {
      case Some((schema, local)) => insertRows(tableName, schema, local)
      case None => commitInsert(tableName,
        frameDelta(SourceOps.ensureEntryId(SourceOps.alignForInsert(sourceConfig(tableName), rows))))
    }
    // each edit's frames are built when the caller reaches it
    edits.to(LazyList).map { case (t, ins, del) => (t, ins.df, del.df) }
  }

  /** [[insertWithEdits]] for rows of `schema` on the driver, returning each
    * edit's deltas: the edit runs as a local edit, and no frame is built. */
  private[graft] def insertRows(tableName: String, schema: StructType,
                                rows: Seq[Row]): Seq[(String, Delta, Delta)] = {
    val cfg = sourceConfig(tableName)
    val align = boundFor(tableName, schema)(RowPlan.over(spark, schema)(SourceOps.alignForInsert(cfg, _)))
    val (withIds, local) = SourceOps.withEntryIds(align.schema, align(rows))
    commitInsert(tableName, localDelta(withIds, local))
  }

  private def sourceConfig(tableName: String): SourceTableConfig = byName.get(tableName) match {
    case Some(s: SourceTableConfig) => s
    case _ => throw new IllegalArgumentException(s"$tableName is not a source table")
  }

  private def commitInsert(tableName: String, committed: Delta): Seq[(String, Delta, Delta)] = {
    val none = localDelta(committed.schema, Nil)
    transactional { pending =>
      val m = mat(tableName)
      mat(tableName) = committed.rows match {
        case Some(rs) => m.append(rs)
        case None => m.rebased(m.frame.unionByName(committed.df))
      }
      record(pending, tableName, committed, none)
      propagate(tableName, committed, none, pending)
    }
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

  /** [[deleteWithEdits]], returning each edit's deltas. */
  private[graft] def deleteDeltas(tableName: String, column: String, key: Any): Seq[(String, Delta, Delta)] = {
    val m = mat.getOrElse(tableName,
      throw new IllegalArgumentException(s"no table named $tableName"))
    require(byName.get(tableName).exists(_.isInstanceOf[SourceTableConfig]),
      s"$tableName is not a source table")
    // null-safe on BOTH sides — see PipelineGraph.delete
    val cur = m.frame
    val deleted = frameDelta(checkpoint(cur.filter(col(column) <=> lit(key))))
    val none = localDelta(deleted.schema, Nil)
    transactional { pending =>
      mat(tableName) = m.rebased(cur.filter(!(col(column) <=> lit(key))))
      record(pending, tableName, none, deleted)
      propagate(tableName, none, deleted, pending)
    }
  }

  private def propagate(src: String, inserted: Delta, deleted: Delta, pending: Pending): Unit = {
    // no-op edits stop here: skipping avoids cascading joins, rebuilds and
    // spurious listener calls for an edit that changed nothing
    if (inserted.isEmpty && deleted.isEmpty) return
    downstream.getOrElse(src, Nil).foreach { d =>
      // deltas are FROZEN FIRST and tables are updated from the frozen
      // deltas — building the new state from the raw plans would execute
      // every delta plan twice (once for the table, once downstream), and,
      // for an impure Action fn, desynchronize the table from what
      // propagates
      val (ins, del) = d match {
        case _: FunctionTableConfig | _: FilterTableConfig =>
          (through(d, src, inserted), through(d, src, deleted))
        case _: ActionTableConfig =>
          val (add, rem) = (through(d, src, inserted), through(d, src, deleted))
          val m = mat(d.name)
          mat(d.name) = (add.rows, rem.rows) match {
            case (Some(rs), Some(Seq())) => m.append(rs)
            // multiset semantics: duplicate derived rows subtract by count
            case _ => m.rebased(m.frame.exceptAll(rem.df).unionByName(add.df))
          }
          (add, rem)
        case a: AggregationTableConfig =>
          val keys = keysOf(Seq(inserted, deleted), Seq(a.aggregatedColumn))
          val fold = for {
            rs <- inserted.rows if deleted.isEmpty
            f <- folds.getOrElseUpdate(a.name,
              Transforms.exactFold(spark, inserted.schema, a.aggregatedColumn, a.functions))
          } yield (f, rs)
          upsert(a.name, keys) { old =>
            (fold, old.rows) match {
              // the reference's per-row memo fold (transform.rs:244-271):
              // each key's new rows onto its group row, or onto zero
              case (Some((f, rs)), Some(olds)) =>
                val k = old.schema.fieldIndex(AggregationKey)
                val groupRows = olds.map(r => groupKey(r.get(k)) -> r).toMap
                val plan = boundFor(a.name, inserted.schema)(
                  RowPlan.over(spark, f.localSchema)(local => inOrder(f(local), old.schema)))
                localDelta(plan.schema, plan(f.localRows(grouped(rs, inserted.schema.fieldIndex(a.aggregatedColumn))
                  .map { case (key, rows) => (key, groupRows.get(groupKey(key)), rows) })))
              case _ =>
                replacing(old, Transforms.aggregation(keys.select(table(a.sourceTable), a.aggregatedColumn),
                  a.aggregatedColumn, a.functions))
            }
          }
        case u: UnionTableConfig =>
          val fks = u.tablesAndForeignKeys.collect { case (t, fk) if t == src => fk }
          val insertOnly = deleted.isEmpty
          val keys = keysOf(if (insertOnly) Seq(inserted) else Seq(inserted, deleted), fks)
          upsert(u.name, keys) { old =>
            if (insertOnly) {
              // Pure insert — the reference's per-row upsert, applied per
              // batch: each incoming row merges ONTO the current derived
              // row for its key (incoming columns overwrite,
              // transform.rs:176-228); an unseen key creates a new row.
              // O(delta) — no replay of the source log, so duplicate keys
              // accumulated in an append-log source can never fan out into
              // duplicate derived rows. (Rows within ONE insert batch are
              // assumed key-unique per fk; the reference would fold them in
              // arrival order, which a batch does not define.) Local
              // rows pair by key on the driver and merge through the
              // bound plan, unless the keys differ in type.
              val merged = (old.rows, inserted.rows) match {
                case (Some(olds), Some(rs)) =>
                  boundFor(s"${u.name} <- $src", old.schema, inserted.schema)(Transforms.unionRows(spark,
                    (old.schema, MatchingKey) +: fks.map(fk => (inserted.schema, fk)), inOrder(_, old.schema)))
                    .map { case (schema, f) => localDelta(schema, f(olds +: fks.map(_ => rs))) }
                case _ => None
              }
              merged.getOrElse(replacing(old,
                Transforms.union((old.df, MatchingKey) +: fks.map(fk => (inserted.df, fk)))))
            } else {
              // Delete (or derived upsert = delete+insert): rebuild the
              // affected keys from the remaining input rows. An append-log
              // source may hold several rows for a rebuilt key (repeated
              // upsert inserts): collapse each such input to its LATEST row
              // per key (max _entryId — ingest ids are time-prefixed, see
              // SourceOps.ensureEntryId, so max = latest edit) so the
              // rebuild can never fan out duplicate derived rows.
              // KNOWN DIVERGENCE: a rebuild merges tables in config order
              // (later table wins), while the insert path above merges in
              // arrival order like the reference — the arrival order of
              // edits across tables is not recorded, so a rebuild cannot
              // reproduce it.
              replacing(old, Transforms.union(u.tablesAndForeignKeys.map { case (t, fk) =>
                val affected = keys.select(table(t), fk)
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
      record(pending, d.name, ins, del)
      propagate(d.name, ins, del, pending)
    }
  }

  /** Delta `in` of `src` through row-wise table `d`, frozen like `in`. */
  private def through(d: DerivedTableConfig, src: String, in: Delta): Delta = (d, in.rows) match {
    case (a: ActionTableConfig, Some(rs)) =>
      val (schema, f) = Transforms.actionRows(ActionRegistry.get(a.actionName), in.schema)
      localDelta(schema, rs.flatMap(r => f(new GenericRowWithSchema(r.toSeq.toArray, in.schema))))
    case (_, Some(rs)) =>
      val plan = boundFor(d.name, in.schema)(RowPlan.over(spark, in.schema)(df => compute(d, Map(src -> df))))
      localDelta(plan.schema, plan(rs))
    case _ => frameDelta(checkpoint(compute(d, Map(src -> in.df))))
  }

  /** `df` as the replacement of the keyed rows `old`: in their column
    * order, frozen like them. */
  private def replacing(old: Delta, df: DataFrame): Delta = freeze(inOrder(df, old.schema), old.rows.isDefined)

  /** Replace the rows of keyed table `name` under `keys` with
    * `replacement(old rows)`, which are in the table's column order and
    * frozen like the old rows; returns the (inserted, deleted) deltas. */
  private def upsert(name: String, keys: Keys)(replacement: Delta => Delta): (Delta, Delta) = {
    val m = mat(name)
    keys match {
      case LocalKeys(ks) =>
        val form = forms.getOrElse(name, {
          val made = residentOf(m.frame, m.key)
          forms = forms.updated(name, made)
          made
        })
        val old = localDelta(m.schema, form.fold(m.rowsUnder(ks))(_.rowsUnder(ks)))
        val rep = replacement(old)
        mat(name) = m.upsert(ks, rep.rows.get)
        (rep, old)
      case k: FrameKeys =>
        val old = frameDelta(checkpoint(k.select(m.frame, m.key.get)))
        val rep = replacement(old)
        mat(name) = m.rebased(k.drop(m.frame, m.key.get).unionByName(rep.df))
        (rep, old)
    }
  }
}

object IncrementalGraph {
  import SystemColumns._
  import Transforms.groupKey

  /** One table's change in an edit, frozen: driver-local `rows` of
    * `schema` when the edit is local, else a checkpointed frame. Local
    * rows get their frame, a LocalRelation, only when it is asked for. */
  private[graft] final class Delta(val schema: StructType, val rows: Option[Seq[Row]], frame: () => DataFrame) {
    lazy val df: DataFrame = frame()
    lazy val isEmpty: Boolean = rows.fold(df.isEmpty)(_.isEmpty)
  }

  /** The committed state: each materialized table, and the resident form
    * of each table that has one (`None` above [[ResidentCap]]). */
  private[operators] final case class State(mats: Map[String, Mat], forms: Map[String, Option[Resident]])

  /** A resident form being built off the dispatch thread for `table`, and
    * the deltas of that table committed since its pin, in commit order. */
  private[operators] final class Build(val table: String) {
    var log: Vector[(Delta, Delta)] = Vector.empty
  }

  /** The resident form of `frame`'s rows, keyed on `key`: one collect() of
    * at most [[ResidentCap]] + 1 rows; None when there are more. */
  private def residentOf(frame: DataFrame, key: Option[String]): Option[Resident] = {
    val rows = frame.limit(ResidentCap + 1).collect()
    if (rows.length > ResidentCap) None else Some(Resident(frame.schema, rows.toSeq, key))
  }

  /** Form `f` after an edit of its table inserted `ins` and deleted `del`;
    * None, to drop it, unless both are local rows that line up with it. A
    * table above the cap stays so until a rebase drops the mark. */
  private def advanced(f: Option[Resident], ins: Delta, del: Delta): Option[Option[Resident]] =
    (ins.rows, del.rows, f) match {
      case (Some(_), Some(_), None) => Some(None)
      case (Some(is), Some(ds), Some(r)) if (is.isEmpty || r.accepts(ins.schema)) && (ds.isEmpty || r.accepts(del.schema)) =>
        val next = r.updated(is, ds)
        Some(if (next.size > ResidentCap) None else Some(next))
      case _ => None
    }

  /** Form `f` after the edits `deltas` of its table, in order; None once
    * one of them drops it. */
  private def replayed(f: Option[Resident], deltas: Iterable[(Delta, Delta)]): Option[Option[Resident]] =
    deltas.foldLeft(Option(f)) { case (g, (ins, del)) => g.flatMap(advanced(_, ins, del)) }

  /** One materialized table: the rows of the checkpointed `base` whose
    * `key` is not in `dead`, plus driver-local `rows` (in base column
    * order). Immutable, so a map snapshot of these is a rollback point. */
  private[operators] final case class Mat(base: DataFrame, key: Option[String] = None,
                               dead: Set[Any] = Set.empty, rows: Vector[Row] = Vector.empty) {
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

    def append(more: Seq[Row]): Mat = copy(rows = rows ++ more).compacted

    def upsert(keys: Set[Any], replacement: Seq[Row]): Mat = {
      val under = keys.map(Resident.keyOf)
      copy(dead = dead ++ keys, rows = rows.filterNot(r => under(Resident.keyOf(keyOf(r)))) ++ replacement).compacted
    }

    // compaction keeps the base's partition count: a toLocalIterator read
    // runs one job per partition, so appended partitions would add up
    private def compacted: Mat =
      if (rows.size + dead.size <= CompactAt) this
      else rebased(frame.coalesce(math.max(1, base.queryExecution.toRdd.getNumPartitions)))

    def rebased(next: DataFrame): Mat = Mat(checkpoint(next), key)
  }

  /** The keys an edit touches: a driver-local set when every delta they
    * come from is local, else a distinct frame of `__k`. */
  private sealed trait Keys { def select(df: DataFrame, column: String): DataFrame }
  private final case class LocalKeys(values: Set[Any]) extends Keys {
    def select(df: DataFrame, column: String): DataFrame = df.filter(keyIn(df(column), values))
  }
  private final case class FrameKeys(keys: DataFrame) extends Keys {
    // null-safe key joins throughout: insert() null-fills missing columns,
    // so a null group exists in a full recompute and must recompute
    // incrementally too (equi-semi-joins would skip it)
    def select(df: DataFrame, column: String): DataFrame =
      df.join(broadcast(keys), df(column) <=> keys("__k"), "left_semi")
    def drop(df: DataFrame, column: String): DataFrame =
      df.join(broadcast(keys), df(column) <=> keys("__k"), "left_anti")
  }

  /** Local rows plus dead keys a materialized table holds before it
    * compacts into a new checkpointed base. */
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

  /** Null-safe `c ∈ keys`. */
  private def keyIn(c: Column, keys: Set[Any]): Column = {
    val nonNull = keys.filter(_ != null).toSeq
    val hit = if (nonNull.isEmpty) lit(false) else coalesce(c.isin(nonNull: _*), lit(false))
    if (keys.contains(null)) hit || c.isNull else hit
  }
}
