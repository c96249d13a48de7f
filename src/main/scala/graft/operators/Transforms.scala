package graft.operators

import graft.expr._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, InterpretedMutableProjection, Predicate, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** System columns (reference: reactive_db/src/constants.rs:2-5). */
object SystemColumns {
  val EntryId = "_entryId"
  val SourceEntryId = "_sourceEntryId"
  val MatchingKey = "matchingKey"
  val AggregationKey = "aggregatedColumn"
}

/** Batch semantics of the reference's five transform kinds, each expressed
  * as a pure DataFrame→DataFrame function so Catalyst sees one logical plan
  * per derived table (reference dispatch:
  * reactive_db/src/hooks/transforms/transform.rs:22-126).
  *
  * Scale notes: Function/Filter/Action are narrow (no shuffle); Aggregation
  * is a hash aggregate with map-side partial aggregation; Union is an n-way
  * outer join on the matching key — co-partitioned on that key, and
  * broadcast when a side is small (AQE decides at runtime).
  */
object Transforms {
  import SystemColumns._

  /** FunctionTransform: output = computed columns only + lineage
    * (reference: transform.rs:128-148). */
  def function(input: DataFrame, assignments: Seq[String]): DataFrame = {
    graft.expr.GraftFunctions.register(input.sparkSession)
    val schema = input.schema
    val cols = assignments.map { s =>
      val (dest, c) = ExprCompiler.compileAssignment(s, schema)
      c.as(dest)
    }
    val lineage =
      if (schema.fieldNames.contains(EntryId)) Seq(col(EntryId).as(SourceEntryId)) else Nil
    input.select(cols ++ lineage: _*)
  }

  /** FilterTransform: passing rows keep ALL source columns + lineage
    * (reference: transform.rs:150-174). */
  def filter(input: DataFrame, predicate: String): DataFrame = {
    graft.expr.GraftFunctions.register(input.sparkSession)
    val typed = ExprCompiler.compile(
      ExprParser.parse(predicate), ExprCompiler.schemaResolver(input.schema))
    require(typed.t == ExprCompiler.GBool, s"filter must be boolean, got ${typed.t}")
    val filtered = input.filter(typed.col)
    if (input.schema.fieldNames.contains(EntryId))
      filtered.withColumn(SourceEntryId, col(EntryId))
    else filtered
  }

  /** UnionTransform: n-way key-coalescing outer merge — each input's
    * foreign key becomes `matchingKey`; one output row per key with
    * later inputs' columns overwriting earlier ones on overlap
    * (reference: transform.rs:176-228; batch rendition of the row-at-a-time
    * upsert). Inputs are expected key-unique (pre-reduce upstream if not).
    *
    * Plan shape: a chain of full_outer joins on the same key — Catalyst
    * keeps the hash-partitioning on matchingKey across the chain so only
    * the first join shuffles each input once. `fullOuter` replaces that
    * join, not the merge around it.
    */
  def union(inputs: Seq[(DataFrame, String)],
            fullOuter: (DataFrame, DataFrame) => DataFrame = fullOuterOnKey): DataFrame = {
    require(inputs.nonEmpty, "union needs at least one input")
    val renamed = inputs.map { case (df, fk) =>
      val dropped = Seq(EntryId, SourceEntryId).filter(df.columns.contains)
      df.drop(dropped: _*).withColumnRenamed(fk, MatchingKey)
    }
    renamed.reduce { (left, right) =>
      val overlap = (left.columns.toSet intersect right.columns.toSet) - MatchingKey
      val l = overlap.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"__l_$c"))
      val joined = fullOuter(l, right)
      // incoming (right/later) overwrites existing (left/earlier)
      val merged = overlap.foldLeft(joined) { (d, c) =>
        d.withColumn(c, coalesce(col(c), col(s"__l_$c"))).drop(s"__l_$c")
      }
      merged
    }
  }

  /** [[union]]'s join: `l` full-outer-joined with `r` on [[SystemColumns.MatchingKey]]
    * — the key, then l's other columns, then r's. A caller may pass
    * another join with that output, e.g. one that pairs driver-local rows. */
  def fullOuterOnKey(l: DataFrame, r: DataFrame): DataFrame = l.join(r, Seq(MatchingKey), "full_outer")

  /** [[union]] followed by `finish`, bound for driver rows: `inputs` are
    * each input's schema and foreign key, and the result maps each
    * input's rows to the output rows. The renames before each join and
    * the merge after it are the plan's own expressions ([[RowPlan]]); the
    * join pairs rows on the key on the driver, as [[fullOuterOnKey]] pairs
    * them: every column nullable, and a null key matches nothing. None when
    * two joined keys differ in type, which the join would cast. Returns
    * the output schema and the row function. */
  private[operators] def unionRows(spark: SparkSession, inputs: Seq[(StructType, String)],
                                   finish: DataFrame => DataFrame)
      : Option[(StructType, Seq[Seq[Row]] => Seq[Row])] = {
    // union joins left to right: join i's left side is bound over the
    // rows of join i-1 (of the first input, for join 0), its right side
    // over input i+1, and the merge after the last join over its rows
    val joins = scala.collection.mutable.ArrayBuffer.empty[(RowPlan, RowPlan)]
    var sameKeys = true
    val merged = union(inputs.map { case (schema, fk) => (RowPlan.empty(spark, schema), fk) }, { (l, r) =>
      joins += ((new RowPlan(l), new RowPlan(r)))
      sameKeys &&= l.schema(MatchingKey).dataType == r.schema(MatchingKey).dataType
      RowPlan.empty(spark, StructType((l.schema(MatchingKey) +:
        (l.schema.filter(_.name != MatchingKey) ++ r.schema.filter(_.name != MatchingKey)))
        .map(_.copy(nullable = true))))
    })
    if (!sameKeys) return None
    val top = new RowPlan(finish(merged))
    Some((top.schema, { rowsPerInput =>
      top(joins.zip(rowsPerInput.tail).foldLeft(rowsPerInput.head) { case (left, ((l, r), right)) =>
        pairOnKey(l.schema, l(left), r.schema, r(right))
      })
    }))
  }

  /** [[fullOuterOnKey]] over driver rows of equal key types: the key,
    * then l's other columns, then r's. */
  private def pairOnKey(ls: StructType, lRows: Seq[Row], rs: StructType, rRows: Seq[Row]): Seq[Row] = {
    val (li, ri) = (ls.fieldIndex(MatchingKey), rs.fieldIndex(MatchingKey))
    val (lRest, rRest) = (ls.indices.filter(_ != li), rs.indices.filter(_ != ri))
    val byKey = rRows.filter(!_.isNullAt(ri)).groupBy(x => groupKey(x.get(ri)))
    def row(key: Any, lr: Option[Row], rr: Option[Row]): Row = Row.fromSeq(key +:
      (lRest.map(i => lr.map(_.get(i)).orNull) ++ rRest.map(i => rr.map(_.get(i)).orNull)))
    val paired = lRows.flatMap { lr =>
      val matches = if (lr.isNullAt(li)) Nil else byKey.getOrElse(groupKey(lr.get(li)), Nil)
      if (matches.isEmpty) Seq(row(lr.get(li), Some(lr), None))
      else matches.map(rr => row(lr.get(li), Some(lr), Some(rr)))
    }
    val matched = lRows.filter(!_.isNullAt(li)).map(x => groupKey(x.get(li))).toSet
    paired ++ rRows.filter(x => x.isNullAt(ri) || !matched(groupKey(x.get(ri))))
      .map(rr => row(rr.get(ri), None, Some(rr)))
  }

  /** A key value under Spark's key equality: floating-point -0.0 is 0.0
    * and every NaN is one value, binary compares by content. */
  private[operators] def groupKey(k: Any): Any = k match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  /** AggregationTransform: per-group memo fold → decomposed into Spark
    * aggregates (reference: transform.rs:229-275). Recognized statement
    * shapes, applied in order with the memo environment threaded through:
    *
    *   - `dest ~ memo.dest + rowExpr` → sum(rowExpr)   (count = sum(1))
    *   - `dest ~ memo.dest - rowExpr` → -sum(rowExpr)
    *   - memo-only expressions        → post-aggregation arithmetic over
    *     previously computed dests (e.g. `average ~ memo.sum / memo.count`)
    *
    * This turns the reference's O(group) re-read per insert into a single
    * distributed hash aggregate with map-side combine.
    */
  def aggregation(input: DataFrame, aggregatedColumn: String, statements: Seq[String]): DataFrame = {
    graft.expr.GraftFunctions.register(input.sparkSession)
    import ExprCompiler._
    val schema = input.schema
    val rowResolver = schemaResolver(schema)
    val parsed = statements.map(ExprParser.parseAssignment)

    // first pass: accumulation aggregates (`dest ~ memo.dest ± term`, term
    // memo-free — covers count via `memo.cnt + 1` and sum via
    // `memo.sum + col`); memo-only statements are deferred to pass two.
    val aggExprs = scala.collection.mutable.LinkedHashMap.empty[String, Typed]
    parsed.foreach { a =>
      accumulation(a) match {
        case Some((sub, negated)) =>
          val t = compile(sub, rowResolver)
          val summed = coalesce(sum(t.col), lit(0))
          aggExprs(a.dest) = Typed((if (negated) lit(0) - summed else summed).cast(sparkType(t.t)), t.t)
        case None if !GExpr.hasMemo(a.expr) =>
          // per-row overwrite: the reference's last-row-wins collapses to an
          // arbitrary representative; `first` for determinism within a task
          val t = compile(a.expr, rowResolver)
          aggExprs(a.dest) = Typed(first(t.col), t.t)
        case None if GExpr.hasColRef(a.expr) =>
          throw ExprTypeException(
            s"unsupported memo accumulation for ${a.dest}: only `dest ~ memo.dest ± rowExpr` " +
              "folds decompose into distributed aggregates — use aggregationFold for " +
              "general order-dependent memo folds")
        case None => // memo-only → post-aggregation pass
      }
    }

    if (aggExprs.isEmpty)
      throw ExprTypeException(
        "aggregation needs at least one accumulating statement " +
          "(`dest ~ memo.dest ± rowExpr` or a row expression); " +
          s"got only memo-only statements: ${statements.mkString("; ")}")

    val grouped = input
      .groupBy(col(aggregatedColumn).as(AggregationKey))
      .agg(aggExprs.head._2.col.as(aggExprs.head._1),
           aggExprs.tail.map { case (d, t) => t.col.as(d) }.toSeq: _*)
    postAggregation(grouped, parsed, aggExprs.toSeq.map { case (d, t) => d -> t.t })
  }

  /** `dest ~ memo.dest + term`, `dest ~ term + memo.dest` or
    * `dest ~ memo.dest - term` with a memo-free term: the term, and
    * whether it is subtracted. */
  private def accumulation(a: Assignment): Option[(GExpr, Boolean)] = a.expr match {
    case GExpr.BinOp("+", GExpr.MemoRef(d), sub) if d == a.dest && !GExpr.hasMemo(sub) => Some((sub, false))
    case GExpr.BinOp("+", sub, GExpr.MemoRef(d)) if d == a.dest && !GExpr.hasMemo(sub) => Some((sub, false))
    case GExpr.BinOp("-", GExpr.MemoRef(d), sub) if d == a.dest && !GExpr.hasMemo(sub) => Some((sub, true))
    case _ => None
  }

  /** [[aggregation]]'s second pass: over `grouped` (the key and one column
    * per aggregated dest, of the given types), the memo-only statements;
    * output = the key and every statement's dest, in statement order. */
  private def postAggregation(grouped: DataFrame, parsed: Seq[Assignment],
                              aggregated: Seq[(String, ExprCompiler.GType)]): DataFrame = {
    import ExprCompiler._
    val types = scala.collection.mutable.LinkedHashMap.empty[String, GType] ++= aggregated
    val memoResolver: Resolver = { name =>
      types.get(name) match {
        case Some(t) => Typed(col(name), t)
        case None    => throw ExprTypeException(s"memo.$name not yet defined")
      }
    }
    val postCols = parsed.map { case Assignment(dest, e) =>
      if (types.contains(dest)) col(dest)
      else {
        val t = compile(e, memoResolver, memoResolver)
        types(dest) = t.t
        t.col.as(dest)
      }
    }
    grouped.select(col(AggregationKey) +: postCols: _*)
  }

  /** [[aggregation]] resumed from each group's previous row, for configs
    * where that is exact: every accumulator sums an integer term, or a
    * decimal term whose sum type keeps every digit through Spark's decimal
    * addition (sum precision below 38, or scale at most 6), and every other
    * statement is memo-only. `None` for any other config: a Double sum
    * folded in another order can differ from the recompute in its last
    * bits, and `first()` overwrites and general folds do not decompose.
    * `schema` is the aggregation's input schema. */
  private[operators] def exactFold(spark: SparkSession, schema: StructType, aggregatedColumn: String,
                                   statements: Seq[String]): Option[ExactFold] = {
    graft.expr.GraftFunctions.register(spark)
    import ExprCompiler._
    val input = RowPlan.empty(spark, schema)
    val parsed = statements.map(ExprParser.parseAssignment)
    val accs = parsed.flatMap(a => accumulation(a).map(a.dest -> _))
    val memoOnly = parsed.filter(a => accumulation(a).isEmpty)
    if (accs.isEmpty || parsed.map(_.dest).distinct.size != parsed.size ||
        memoOnly.exists(a => !GExpr.hasMemo(a.expr) || GExpr.hasColRef(a.expr))) return None
    val terms = accs.map { case (_, (sub, _)) => compile(sub, schemaResolver(schema)) }
    val foldTypes = terms.zip(input.select(terms.map(_.col): _*).schema.map(_.dataType)).map {
      case (Typed(_, GInt), ByteType | ShortType | IntegerType | LongType) => Some(LongType)
      case (Typed(_, GDec), d: DecimalType) if d.precision + 10 < 38 || d.scale <= 6 =>
        Some(DecimalType(math.min(38, d.precision + 10), d.scale))
      case _ => None
    }
    if (foldTypes.contains(None)) None
    else Some(new ExactFold(schema, aggregatedColumn, parsed,
      accs.zip(terms).zip(foldTypes.flatten).map {
        case (((dest, (sub, negated)), t), ft) => Accumulator(dest, sub, negated, t.t, ft)
      }))
  }

  private[operators] final case class Accumulator(dest: String, term: GExpr, negated: Boolean,
                                                  t: ExprCompiler.GType, foldType: DataType)

  /** An [[exactFold]]: new input rows folded onto their groups' rows. */
  private[operators] final class ExactFold(schema: StructType, aggregatedColumn: String,
                                           parsed: Seq[Assignment], accs: Seq[Accumulator]) {
    import ExprCompiler._
    private val needed = accs.flatMap(a => GExpr.collectCols(a.term)).distinct
      .filter(schema.fieldNames.contains)
    private val rowIdx = needed.map(schema.fieldIndex)
    private val memoIdx = accs.map(a => 1 + parsed.indexWhere(_.dest == a.dest))
    private val zero = accs.map(a => if (a.t == GInt) 0L else java.math.BigDecimal.ZERO)

    /** One row per key: the key, its current memo (the accumulators of its
      * group row, zero for a new key) and its new input rows' terms. */
    val localSchema: StructType = StructType(Seq(
      StructField(AggregationKey, schema(aggregatedColumn).dataType),
      StructField("__memo", StructType(accs.map(a => StructField(a.dest, sparkType(a.t))))),
      StructField("__rows", ArrayType(StructType(needed.map(n => schema(n).copy(nullable = true)))))))

    /** [[localSchema]] rows for `groups`: per key, its current group row
      * ([[aggregation]]'s output columns; None for a new key) and its new
      * input rows in arrival order. */
    def localRows(groups: Seq[(Any, Option[Row], Seq[Row])]): Seq[Row] =
      groups.map { case (key, old, rows) =>
        Row(key, Row.fromSeq(old.fold[Seq[Any]](zero)(r => memoIdx.map(r.get))),
          rows.map(r => Row.fromSeq(rowIdx.map(r.get))))
      }

    /** The group rows [[aggregation]] would give over each group's old and
      * new input rows, over `local`, a frame of [[localRows]]: one
      * projection of a Spark `aggregate` per key. */
    def apply(local: DataFrame): DataFrame = {
      val init = struct(accs.map(a => col("__memo").getField(a.dest).cast(a.foldType).as(a.dest)): _*)
      val folded = aggregate(col("__rows"), init, (acc, x) => {
        val rowRes: Resolver = n => Typed(x.getField(n), toGType(schema(n).dataType))
        memoStep(acc, accs.map(a => (a.dest, a.t, a.foldType)), accs.map { a =>
          a.dest -> { (memo: Resolver) =>
            val term = coalesce(compile(a.term, rowRes).col, lit(0)).cast(a.foldType)
            if (a.negated) memo(a.dest).col - term else memo(a.dest).col + term
          }
        })
      })
      val grouped = local.select(col(AggregationKey), folded.as("__m"))
        .select(col(AggregationKey) +:
          accs.map(a => col("__m").getField(a.dest).cast(sparkType(a.t)).as(a.dest)): _*)
      postAggregation(grouped, parsed, accs.map(a => a.dest -> a.t))
    }
  }

  /** One step of a memo fold: `updates` run in order over the memo struct
    * `acc`, each seeing the memo as the updates before it left it (earlier
    * statements' results for the same row), each result cast to its memo
    * field's type. Returns the next memo struct. */
  private def memoStep(acc: Column, memo: Seq[(String, ExprCompiler.GType, DataType)],
                       updates: Seq[(String, ExprCompiler.Resolver => Column)]): Column = {
    import ExprCompiler._
    val env = scala.collection.mutable.LinkedHashMap.empty[String, Typed] ++=
      memo.map { case (d, t, _) => d -> Typed(acc.getField(d), t) }
    val types = memo.map { case (d, t, dt) => d -> (t, dt) }.toMap
    updates.foreach { case (dest, update) =>
      val memoRes: Resolver = d => env.getOrElse(d,
        throw ExprTypeException(s"memo.$d not yet defined"))
      val (t, dt) = types(dest)
      env(dest) = Typed(update(memoRes).cast(dt), t)
    }
    struct(memo.map { case (d, _, _) => env(d).col.as(d) }: _*)
  }

  /** General memo fold for statements that do NOT decompose into Spark
    * aggregates (e.g. `x ~ memo.x * col` — the reference accepts ANY fold,
    * transform.rs:244-271): per group, rows are collected, sorted by
    * `orderColumn`, and folded sequentially with the reference's clean
    * semantics — memo values initialize to Integer(0) and each statement
    * sees the latest memo environment (earlier statements' results from
    * the SAME row, SURVEY.md §7.5 documents the first-row double-eval
    * quirk we deliberately do not replicate).
    *
    * Scale contract: one group must fit in executor memory (the reference
    * re-reads the whole group per insert, so this is strictly no worse);
    * decomposable folds should use [[aggregation]], which stays a hash
    * aggregate with map-side combine.
    */
  def aggregationFold(input: DataFrame, aggregatedColumn: String,
                      statements: Seq[String], orderColumn: String): DataFrame = {
    graft.expr.GraftFunctions.register(input.sparkSession)
    import ExprCompiler._
    val schema = input.schema
    require(schema.fieldNames.contains(orderColumn),
      s"aggregationFold order column $orderColumn is not an input column")
    val parsed = statements.map(ExprParser.parseAssignment)
    val dests = parsed.map(_.dest).distinct
    val needed = orderColumn +:
      (parsed.flatMap(a => GExpr.collectCols(a.expr)).toSet - orderColumn).toSeq
        .filter(schema.fieldNames.contains).sorted // order column first → array_sort key

    // memo types: start at the reference's Integer(0) init and iterate to
    // the promotion fixpoint. Promotion is monotone (Int → Decimal/Double)
    // but propagates only one statement per pass through backward
    // memo-reference chains, so iterate up to |dests|+1 passes and stop
    // when stable.
    var memoTypes: Map[String, GType] = dests.map(_ -> (GInt: GType)).toMap
    var stable = false
    var pass = 0
    while (!stable && pass <= dests.size) {
      val typeEnv = scala.collection.mutable.Map.empty[String, GType] ++= memoTypes
      parsed.foreach { case Assignment(dest, e) =>
        val rowRes: Resolver = n => schemaResolver(schema)(n)
        val memoRes: Resolver = d => Typed(lit(0).cast(sparkType(typeEnv.getOrElse(d,
          throw ExprTypeException(s"memo.$d not yet defined")))), typeEnv(d))
        typeEnv(dest) = compile(e, rowRes, memoRes).t
      }
      stable = typeEnv.toMap == memoTypes
      memoTypes = typeEnv.toMap
      pass += 1
    }

    val rowsCol = array_sort(collect_list(struct(needed.map(col): _*)))
    val init = struct(dests.map(d => lit(0).cast(sparkType(memoTypes(d))).as(d)): _*)
    val folded = aggregate(rowsCol, init, (acc, x) => {
      val rowRes: Resolver = n =>
        if (needed.contains(n)) Typed(x.getField(n), toGType(schema(n).dataType))
        else throw ExprTypeException(s"No such column $n exists")
      memoStep(acc, dests.map(d => (d, memoTypes(d), sparkType(memoTypes(d)))),
        parsed.map(a => a.dest -> ((memoRes: Resolver) => compile(a.expr, rowRes, memoRes).col)))
    })
    input.groupBy(col(aggregatedColumn).as(AggregationKey))
      .agg(folded.as("__m"))
      .select(col(AggregationKey) +: dests.map(d => col(s"__m.$d").as(d)): _*)
  }

  private def sparkType(t: ExprCompiler.GType): DataType = t match {
    case ExprCompiler.GInt    => LongType
    case ExprCompiler.GDec    => ExprCompiler.refDecimal
    case ExprCompiler.GDouble => DoubleType
    case ExprCompiler.GStr    => StringType
    case ExprCompiler.GBool   => BooleanType
    case ExprCompiler.GOther(dt) => dt
  }

  /** ActionTransform: named row→row function from the registry, applied
    * distributed via mapPartitions (reference: transform.rs:104-124 runs an
    * embedded Python function; our Scala-native analog is a typed registry —
    * SURVEY.md §2.7). Rows that throw are dropped with a warning, matching
    * the reference's error-drops-row behavior. */
  def action(input: DataFrame, act: GraftAction): DataFrame = {
    val (outSchema, apply) = actionRows(act, input.schema)
    input.mapPartitions(_.flatMap(apply))(Encoders.row(outSchema)).toDF()
  }

  /** An Action's output schema over input rows of `inSchema`, and its
    * per-row function: `act.fn` applied to the row, with the row's
    * `_entryId` appended as `_sourceEntryId`; a row that throws is dropped
    * with a warning. [[action]] maps it over partitions; a caller holding
    * the rows on the driver may apply it there. */
  private[operators] def actionRows(act: GraftAction,
                                    inSchema: StructType): (StructType, Row => Option[Row]) = {
    val outSchema0 = act.outputSchema(inSchema)
    val hasEntry = inSchema.fieldNames.contains(EntryId)
    val outSchema =
      if (hasEntry && !outSchema0.fieldNames.contains(SourceEntryId))
        outSchema0.add(SourceEntryId, StringType)
      else outSchema0
    val (name, fn) = (act.name, act.fn)
    val apply: Row => Option[Row] = row =>
      try {
        val out = fn(row)
        if (hasEntry) {
          val src = row.getAs[Any](inSchema.fieldIndex(SystemColumns.EntryId))
          Some(Row.fromSeq(out.toSeq :+ src))
        } else Some(out)
      } catch {
        case e: Exception =>
          System.err.println(s"[graft] action $name dropped row: ${e.getMessage}")
          None
      }
    (outSchema, apply)
  }
}

/** A registered row→row user function (the reference's Action mechanism,
  * reference: reactive_db/src/actions/action.rs:29-48). */
final case class GraftAction(
    name: String,
    fn: Row => Row,
    outputSchema: StructType => StructType = identity)

/** Process-wide action registry, the analog of the reference's
  * action_config workspace (reference: config_reader.rs:63-79). */
object ActionRegistry {
  private val actions = scala.collection.concurrent.TrieMap.empty[String, GraftAction]
  def register(a: GraftAction): Unit = actions.put(a.name, a)
  def get(name: String): GraftAction =
    actions.getOrElse(name, throw new NoSuchElementException(s"no action named $name"))
  def clear(): Unit = actions.clear()
}

/** A plan of Projects and Filters over one LocalRelation, bound once for
  * driver rows. Each row goes through the ANALYZED plan's own expressions
  * in interpreted mode, with no planning, codegen or job per call, so a
  * row gets what the plan gives it: the same casts, ANSI errors, null
  * handling, decimal precision and output schema. The analyzed plan is
  * taken rather than the optimized one because the optimizer folds a
  * Project over an empty LocalRelation away. Each expression must be
  * deterministic: a row-at-a-time evaluation of another would diverge
  * from the plan. Not thread-safe: the evaluators hold per-row state. */
private[operators] final class RowPlan(df: DataFrame) {
  val schema: StructType = df.schema
  private val (leaf, steps) = RowPlan.bind(df.queryExecution.analyzed)
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(leaf.schema)
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)

  /** The rows this plan gives over a LocalRelation of `rows`, in order. */
  def apply(rows: Seq[Row]): Seq[Row] = rows.flatMap { r =>
    steps.foldLeft(Option(toCatalyst(r).asInstanceOf[InternalRow]))((row, step) => row.flatMap(step))
      .map(toScala(_).asInstanceOf[Row])
  }
}

private[operators] object RowPlan {
  /** An empty frame of `schema`: the leaf to build a plan to bind over. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** `plan` over a relation of `schema`, bound. */
  def over(spark: SparkSession, schema: StructType)(plan: DataFrame => DataFrame): RowPlan =
    new RowPlan(plan(empty(spark, schema)))

  private type Step = InternalRow => Option[InternalRow]

  /** The plan's leaf and its operators as row steps, bottom up. */
  private def bind(plan: LogicalPlan): (LocalRelation, Vector[Step]) = plan match {
    case l: LocalRelation => (l, Vector.empty)
    case Project(list, child) =>
      val (leaf, steps) = bind(child)
      val p = new InterpretedMutableProjection(list.map(evaluable), child.output)
      p.initialize(0)
      (leaf, steps :+ ((r: InternalRow) => Some(p(r).copy())))
    case Filter(condition, child) =>
      val (leaf, steps) = bind(child)
      val p = Predicate.createInterpreted(BindReferences.bindReference(evaluable(condition), child.output))
      p.initialize(0)
      (leaf, steps :+ ((r: InternalRow) => if (p.eval(r)) Some(r) else None))
    case other =>
      throw new IllegalArgumentException(s"cannot bind a ${other.nodeName} for driver rows")
  }

  /** `e` with each runtime-replaceable expression replaced, as the
    * optimizer replaces it before execution. */
  private def evaluable(e: Expression): Expression = {
    val replaced = e.transform { case r: RuntimeReplaceable => r.replacement }
    if (!replaced.deterministic)
      throw new IllegalArgumentException(s"cannot bind a non-deterministic expression for driver rows: ${e.sql}")
    replaced
  }
}
