package graft.operators

import graft.config._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  *   - Aggregation/Union recompute ONLY the affected keys (the reference
  *     re-reads exactly these groups per insert, transform.rs:239) and
  *     upsert them; the old group rows become the Delete half of the
  *     update, matching the reference's Update ≡ Delete(old)+Insert(new)
  *     (database.rs:282-286).
  *
  * Cost model. An insert whose aligned rows plan to a LocalRelation (every
  * `createDataFrame` batch, every façade InsertData) is a LOCAL edit: its
  * `_entryId`s are assigned on the driver and every delta of its cascade
  * is frozen by `collect()` into driver-local rows. Then:
  *
  *   - source, Function and Filter nodes run no Spark job (Spark folds a
  *     projection or filter over local rows on the driver);
  *   - an Action node runs one job (its row function is a mapPartitions);
  *   - an Aggregation or Union node runs about one job to read the base
  *     rows of the keys it replaces (none when they are all dead already)
  *     and the jobs of recomputing those keys (none for a Union insert of
  *     a new key); it appends the replacement rows and tombstones the keys;
  *   - when a table's local rows plus dead keys pass [[IncrementalGraph.CompactAt]]
  *     the table compacts into a new checkpointed base: one job.
  *
  * Other inserts and every delete are O(table): the delta is checkpointed,
  * and each affected materialized table is rebuilt from its current rows
  * (exceptAll for Action, a broadcast key semi/anti-join for
  * Aggregation/Union) and checkpointed as a new base, so lineage stays
  * O(1) in the number of edits.
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

  private def localDelta(schema: StructType, rows: Seq[Row]): Delta =
    Delta(localFrame(spark, rows, schema), Some(rows))

  private def freeze(df: DataFrame, local: Boolean): Delta =
    if (local) localDelta(df.schema, df.collect().toSeq) else Delta(checkpoint(df), None)

  private def keysOf(deltas: Seq[Delta], columns: Seq[String]): Keys =
    if (deltas.forall(_.rows.isDefined))
      LocalKeys((for (d <- deltas; c <- columns; i = d.df.schema.fieldIndex(c); r <- d.rows.get)
        yield r.get(i)).toSet)
    else
      FrameKeys((for (d <- deltas; c <- columns) yield d.df.select(col(c).as("__k")))
        .reduce(_.unionByName(_)).distinct())

  private val byName = config.byName
  private val mat = scala.collection.mutable.Map.empty[String, Mat]
  private val views = scala.collection.mutable.Map.empty[String, (DataFrame, DataFrame)]

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
    case v: DerivedTableConfig if isView(v) => view(v)
    case d: DerivedTableConfig =>
      val key = d match {
        case _: AggregationTableConfig => Some(AggregationKey)
        case _: UnionTableConfig => Some(MatchingKey)
        case _ => None
      }
      mat(d.name) = Mat(checkpoint(compute(d, d.inputTables.map(n => n -> table(n)).toMap)), key)
  }

  private def compute(d: DerivedTableConfig, inputs: Map[String, DataFrame]): DataFrame = d match {
    case f: FunctionTableConfig => Transforms.function(inputs(f.sourceTable), f.functions)
    case f: FilterTableConfig   => Transforms.filter(inputs(f.sourceTable), f.filter)
    case a: AggregationTableConfig =>
      Transforms.aggregation(inputs(a.sourceTable), a.aggregatedColumn, a.functions)
    case u: UnionTableConfig =>
      Transforms.union(u.tablesAndForeignKeys.map { case (t, fk) => (inputs(t), fk) })
    case a: ActionTableConfig => Transforms.action(inputs(a.sourceTable), ActionRegistry.get(a.actionName))
  }

  def table(name: String): DataFrame = byName.get(name) match {
    case Some(v: DerivedTableConfig) if isView(v) => view(v)
    case Some(_) => mat(name).frame
    case None => throw new NoSuchElementException(s"no table named $name")
  }

  /** A Function/Filter table over its input's current frame, rebuilt only
    * when that frame changes. */
  private def view(v: DerivedTableConfig): DataFrame = {
    val src = v.inputTables.head
    val in = table(src)
    views.get(v.name) match {
      case Some((cachedIn, out)) if cachedIn eq in => out
      case _ =>
        val out = compute(v, Map(src -> in))
        views(v.name) = (in, out)
        out
    }
  }

  // ── Listen: per-edit push to subscribers (the reference's ListenerHook
  //    fan-out, listener_hook.rs:56-87). Because this engine is eager,
  //    every edit's exact per-table delta already exists — subscribers get
  //    (inserts, deletes) where an upsert surfaces as Delete(old)+
  //    Insert(new), the reference's Update encoding (database.rs:282-286).
  private val listeners = scala.collection.mutable.Map
    .empty[String, List[(DataFrame, DataFrame) => Unit]]

  /** Subscribe to a table's change feed; `event` restricts delivery to one
    * change kind — the reference's per-kind listener map
    * (listener_hook.rs:62-74, ListenEvent in network_types.rs:33-37): an
    * Insert subscriber is never invoked for delete-only edits and vice
    * versa. */
  def listen(tableName: String, event: graft.ListenEvent = graft.ListenEvent.Both)
            (cb: (DataFrame, DataFrame) => Unit): Unit = {
    require(byName.contains(tableName), s"no table named $tableName")
    val wrapped: (DataFrame, DataFrame) => Unit = event match {
      case graft.ListenEvent.Both => cb
      case graft.ListenEvent.Insert =>
        (ins, del) => if (!ins.isEmpty) cb(ins, del.limit(0))
      case graft.ListenEvent.Delete =>
        (ins, del) => if (!del.isEmpty) cb(ins.limit(0), del)
    }
    listeners(tableName) = wrapped :: listeners.getOrElse(tableName, Nil)
  }

  private def notifyListeners(tableName: String, ins: DataFrame, del: DataFrame): Unit =
    listeners.getOrElse(tableName, Nil).foreach(cb => cb(ins, del))

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
  private def transactional(body: Pending => Unit): Seq[(String, DataFrame, DataFrame)] = {
    val snapshot = mat.toMap
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, DataFrame)]
    try body(pending)
    catch {
      case e: Throwable =>
        mat.clear(); mat ++= snapshot
        throw e
    }
    pending.foreach { case (t, ins, del) => notifyListeners(t, ins, del) }
    pending.toList
  }
  private type Pending = scala.collection.mutable.ArrayBuffer[(String, DataFrame, DataFrame)]

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
    val cfg = byName.get(tableName) match {
      case Some(s: SourceTableConfig) => s
      case _ => throw new IllegalArgumentException(s"$tableName is not a source table")
    }
    val aligned = SourceOps.alignForInsert(cfg, rows)
    val committed =
      if (isLocal(aligned)) {
        val (schema, withIds) = SourceOps.withEntryIds(aligned.schema, aligned.collect().toSeq)
        localDelta(schema, withIds)
      } else Delta(SourceOps.ensureEntryId(aligned), None)
    val none = localDelta(committed.df.schema, Nil)
    transactional { pending =>
      val m = mat(tableName)
      mat(tableName) = committed.rows match {
        case Some(rs) => m.append(rs)
        case None => m.rebased(m.frame.unionByName(committed.df))
      }
      pending += ((tableName, committed.df, none.df))
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
  def deleteWithEdits(tableName: String, column: String, key: Any): Seq[(String, DataFrame, DataFrame)] = {
    val m = mat.getOrElse(tableName,
      throw new IllegalArgumentException(s"no table named $tableName"))
    require(byName.get(tableName).exists(_.isInstanceOf[SourceTableConfig]),
      s"$tableName is not a source table")
    // null-safe on BOTH sides — see PipelineGraph.delete
    val cur = m.frame
    val deleted = Delta(checkpoint(cur.filter(col(column) <=> lit(key))), None)
    val none = localDelta(deleted.df.schema, Nil)
    transactional { pending =>
      mat(tableName) = m.rebased(cur.filter(!(col(column) <=> lit(key))))
      pending += ((tableName, none.df, deleted.df))
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
          upsert(a.name, keys) { _ =>
            Transforms.aggregation(keys.select(table(a.sourceTable), a.aggregatedColumn),
              a.aggregatedColumn, a.functions)
          }
        case u: UnionTableConfig =>
          val fks = u.tablesAndForeignKeys.collect { case (t, fk) if t == src => fk }
          val insertOnly = deleted.isEmpty
          val keys = keysOf(if (insertOnly) Seq(inserted) else Seq(inserted, deleted), fks)
          upsert(u.name, keys) { oldRows =>
            if (insertOnly) {
              // Pure insert — the reference's per-row upsert, applied per
              // batch: each incoming row merges ONTO the current derived
              // row for its key (incoming columns overwrite,
              // transform.rs:176-228); an unseen key creates a new row.
              // O(delta) — no replay of the source log, so duplicate keys
              // accumulated in an append-log source can never fan out into
              // duplicate derived rows. (Rows within ONE insert batch are
              // assumed key-unique per fk; the reference would fold them in
              // arrival order, which a batch does not define.)
              Transforms.union((oldRows, MatchingKey) +: fks.map(fk => (inserted.df, fk)))
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
              Transforms.union(u.tablesAndForeignKeys.map { case (t, fk) =>
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
              })
            }
          }
      }
      pending += ((d.name, ins.df, del.df))
      propagate(d.name, ins, del, pending)
    }
  }

  /** Delta `in` of `src` through row-wise table `d`, frozen like `in`. */
  private def through(d: DerivedTableConfig, src: String, in: Delta): Delta = {
    val out = compute(d, Map(src -> in.df))
    if (in.rows.exists(_.isEmpty)) localDelta(out.schema, Nil)
    else freeze(out, in.rows.isDefined)
  }

  /** Replace the rows of keyed table `name` under `keys` with
    * `replacement(old rows)`; returns the (inserted, deleted) deltas. */
  private def upsert(name: String, keys: Keys)(replacement: DataFrame => DataFrame): (Delta, Delta) = {
    val m = mat(name)
    val columns = m.base.columns.map(col).toIndexedSeq
    keys match {
      case LocalKeys(ks) =>
        val old = localDelta(m.schema, m.rowsUnder(ks))
        val rep = freeze(replacement(old.df).select(columns: _*), local = true)
        mat(name) = m.upsert(ks, rep.rows.get)
        (rep, old)
      case k: FrameKeys =>
        val old = Delta(checkpoint(k.select(m.frame, m.key.get)), None)
        val rep = freeze(replacement(old.df).select(columns: _*), local = false)
        mat(name) = m.rebased(k.drop(m.frame, m.key.get).unionByName(rep.df))
        (rep, old)
    }
  }
}

object IncrementalGraph {
  /** A frozen delta: driver-local `rows` (with `df` their LocalRelation)
    * when derived from a local edit, else a checkpointed frame. */
  private final case class Delta(df: DataFrame, rows: Option[Seq[Row]]) {
    def isEmpty: Boolean = rows.fold(df.isEmpty)(_.isEmpty)
  }

  /** One materialized table: the rows of the checkpointed `base` whose
    * `key` is not in `dead`, plus driver-local `rows` (in base column
    * order). Immutable, so a map snapshot of these is a rollback point. */
  private final case class Mat(base: DataFrame, key: Option[String] = None,
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
      rows.filter(r => keys(keyOf(r))) ++
        (if (inBase.isEmpty) Nil else base.filter(keyIn(base(key.get), inBase)).collect().toSeq)
    }

    def append(more: Seq[Row]): Mat = copy(rows = rows ++ more).compacted

    def upsert(keys: Set[Any], replacement: Seq[Row]): Mat =
      copy(dead = dead ++ keys, rows = rows.filterNot(r => keys(keyOf(r))) ++ replacement).compacted

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

  /** True when `df` plans to driver-local rows, which `collect()` returns
    * without running a Spark job. */
  def isLocal(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def isView(d: DerivedTableConfig): Boolean = d match {
    case _: FunctionTableConfig | _: FilterTableConfig => true
    case _ => false
  }

  private def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  private def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Null-safe `c ∈ keys`. */
  private def keyIn(c: Column, keys: Set[Any]): Column = {
    val nonNull = keys.filter(_ != null).toSeq
    val hit = if (nonNull.isEmpty) lit(false) else coalesce(c.isin(nonNull: _*), lit(false))
    if (keys.contains(null)) hit || c.isNull else hit
  }
}
