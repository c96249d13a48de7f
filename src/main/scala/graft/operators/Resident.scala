package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, Literal}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.View
import scala.collection.immutable.{HashMap, HashSet, TreeMap}
import scala.util.Try

/** All current rows of one table on the driver, indexed: the reference's
  * per-column B-trees (storage_manager_table.rs:113-229, btree.rs) as an
  * in-memory LSM, a frozen columnar base plus a small persistent overlay,
  * so an updated form shares its base with the old one and a snapshot of
  * it costs nothing.
  *
  *   - The base holds the rows of the last freeze in arrival order, one
  *     array per column with a null bitmap: integral, boolean, date and
  *     timestamp values (as Catalyst days and microseconds) in a
  *     `long[]`, floats and doubles in a `double[]`, default-collation
  *     strings as UTF-8 bytes in one `byte[]` with `int` offsets, and
  *     decimals and every other type as objects. A row is built only when
  *     a read, a delta or a frame asks for it. Two Longs and a 53-byte
  *     `_entryId` cost about 85 bytes a row.
  *   - Every indexable column (an atomic type: numbers, strings, booleans,
  *     dates, timestamps) has one sorted `int[]` permutation of the base
  *     positions: nulls first, then by Spark's own interpreted ordering for
  *     the type: strings by unsigned UTF-8 bytes, decimals by value, NaN
  *     above every other double and equal to itself, -0.0 equal to 0.0.
  *     An equality or range read is a binary search in it. A null value
  *     matches no comparison.
  *   - A keyed table (an Aggregation or a Union) finds a key, under
  *     Spark's key equality ([[Transforms.groupKey]]), through its key
  *     column's permutation; a key type that is not indexable has a hash
  *     map of the base positions instead. Null is a key of its own.
  *   - The overlay is the rows inserted since the freeze, indexed as the
  *     base is but in persistent maps (a `TreeMap` per indexable column, a
  *     `HashMap` of keys), and the set of deleted positions, base or
  *     overlay. Once overlay rows plus deleted positions pass 1/16 of the
  *     live rows the form freezes: its live rows, in arrival order, become
  *     a new base. The O(rows) freeze is paid for by the edits since the
  *     last one, and a form stays as large as its rows.
  *
  * The reads answer as [[QueryService]] does over the table's frame, row
  * for row: equality as `===`, `lessThan` strict, `greaterThan` inclusive,
  * both in ascending order. A read returns None when the Spark path must
  * answer it: an unknown or unindexable column, or a key whose literal type
  * the comparison would cast (the Spark path keeps its coercion and ANSI
  * errors).
  */
private[graft] final class Resident private (
    val schema: StructType,
    key: Option[Int],
    base: Resident.Base,
    extra: Vector[Row],
    dead: HashSet[Int],
    extraKeys: HashMap[Any, List[Int]],
    extraSorted: Map[Int, TreeMap[Any, List[Int]]]) extends Serializable {
  import Resident._

  val size: Int = base.n + extra.size - dead.size

  /** Overlay rows plus deleted positions: the edits since the last freeze. */
  private[operators] def pending: Int = extra.size + dead.size

  private def row(p: Int): Row = if (p < base.n) base.row(p, schema) else extra(p - base.n)

  private def live(ps: Iterator[Int]): Iterator[Int] = if (dead.isEmpty) ps else ps.filterNot(dead)

  /** The rows at positions `ps` that are live, built when iterated. */
  private def at(ps: () => Iterator[Int]): Iterable[Row] = View.fromIteratorProvider(() => live(ps()).map(row))

  /** Every row, as often as the table holds it, in arrival order. */
  def rows: Iterator[Row] = live(Iterator.range(0, base.n + extra.size)).map(row)

  /** Rows whose key is one of `keys` (null-safe); none when unkeyed. */
  def rowsUnder(keys: Set[Any]): Seq[Row] = key.fold(Seq.empty[Row]) { i =>
    keys.toSeq.distinctBy(keyOf).flatMap(k =>
      live(base.under(i, k) ++ extraKeys.getOrElse(keyOf(k), Nil).reverseIterator).map(row))
  }

  /** This form after an edit deleted the rows `del` and inserted `ins`,
    * both in this schema. A deleted row this form does not hold is not
    * deleted. */
  def updated(ins: Seq[Row], del: Seq[Row]): Resident = {
    var (gone, rs, ks, ss) = (dead, extra, extraKeys, extraSorted)
    del.foreach(r => locate(r, gone).foreach(gone += _))
    ins.foreach { r =>
      val p = base.n + rs.size
      rs :+= r
      key.foreach(i => ks = ks.updatedWith(keyOf(r.get(i)))(adding(p)))
      ss = ss.map { case (i, m) => i -> (if (r.isNullAt(i)) m else m.updatedWith(base.kinds(i).sortKey(r.get(i)))(adding(p))) }
    }
    val next = new Resident(schema, key, base, rs, gone, ks, ss)
    if (next.pending * FreezeShare > next.size) next.frozen else next
  }

  /** This form's live rows as a new base with an empty overlay. */
  private def frozen: Resident = build(schema, key, base.kinds, rows.toArray)

  /** The newest live position, not in `gone`, of a row equal to `r`:
    * among the positions that share its key, else its value in the column
    * where the fewest do. */
  private def locate(r: Row, gone: HashSet[Int]): Option[Int] = {
    def holds(p: Int) = !gone(p) && row(p) == r
    val inExtra = key.map(i => extraKeys.getOrElse(keyOf(r.get(i)), Nil))
      .orElse(extraSorted.collect { case (i, m) if !r.isNullAt(i) => m.getOrElse(base.kinds(i).sortKey(r.get(i)), Nil) }
        .minByOption(_.size))
      .getOrElse(List.tabulate(extra.size)(base.n + extra.size - 1 - _))
    inExtra.find(holds).orElse(base.candidates(r, key).filter(holds).maxOption)
  }

  /** The index of `column` and the key as its sort key; None
    * when this form cannot answer for them. A null key matches nothing. */
  private def probe(column: String, key: Any): Option[(Int, Option[Any])] = {
    val i = schema.fieldNames.indexOf(column)
    if (i < 0 || !base.kinds(i).indexed) None
    else if (key == null) Some((i, None))
    else Try(Literal(key)).toOption.filter(lit => fits(lit.dataType, schema.fields(i).dataType))
      .map(lit => (i, Some(base.kinds(i).literalKey(lit.value))))
  }

  /** Rows whose `column` matches `key` under Spark's null-safe `<=>`; None
    * when the Spark path must find them, as for a read. */
  def matching(column: String, key: Any): Option[Seq[Row]] =
    if (key != null) getAll(column, key).map(_.toSeq)
    else Some(schema.fieldNames.indexOf(column)).filter(_ >= 0).map(i => rows.filter(_.isNullAt(i)).toSeq)

  def findOne(column: String, key: Any): Option[Iterable[Row]] = getAll(column, key).map(_.take(1))

  def getAll(column: String, key: Any): Option[Iterable[Row]] = probe(column, key).map {
    case (i, k) => k.fold[Iterable[Row]](Nil)(k => at(() =>
      base.slice(i, base.bound(i, k, above = false), base.bound(i, k, above = true)) ++
        extraSorted(i).getOrElse(k, Nil).reverseIterator))
  }

  def lessThan(column: String, key: Any): Option[Iterable[Row]] = probe(column, key).map {
    case (i, k) => k.fold[Iterable[Row]](Nil)(k => at(() =>
      merged(i, base.nulls(i), base.bound(i, k, above = false), extraSorted(i).rangeUntil(k))))
  }

  def greaterThan(column: String, key: Any): Option[Iterable[Row]] = probe(column, key).map {
    case (i, k) => k.fold[Iterable[Row]](Nil)(k => at(() =>
      merged(i, base.bound(i, k, above = false), base.n, extraSorted(i).rangeFrom(k))))
  }

  /** Base positions `from until until` of column `i`'s permutation and the
    * overlay positions of `over`, both ascending, merged in ascending order. */
  private def merged(i: Int, from: Int, until: Int, over: TreeMap[Any, List[Int]]): Iterator[Int] = {
    val (b, o) = (base.slice(i, from, until).buffered, over.iterator.buffered)
    Iterator.continually(()).takeWhile(_ => b.hasNext || o.hasNext).flatMap { _ =>
      if (b.hasNext && (!o.hasNext || base.cols(i).against(b.head, o.head._1) <= 0)) Iterator.single(b.next())
      else o.next()._2.reverseIterator
    }
  }
}

private[graft] object Resident {
  /** The form of `rows` of `schema`, keyed on column `key` when given.
    * Every column of the form is nullable, as any edit may fill it so. */
  def apply(schema0: StructType, rows: Seq[Row], key: Option[String]): Resident = {
    val schema = StructType(schema0.map(_.copy(nullable = true)))
    build(schema, key.map(schema.fieldIndex), schema.fields.map(f => kindOf(f.dataType)), rows.toArray)
  }

  /** The overlay freezes once its rows plus the deleted positions pass
    * 1/FreezeShare of the live rows. */
  private val FreezeShare = 16

  private def build(schema: StructType, key: Option[Int], kinds: Array[Kind], rows: Array[Row]): Resident = {
    val base = Base(kinds, rows, key)
    new Resident(schema, key, base, Vector.empty, HashSet.empty, HashMap.empty,
      base.indexed.map(i => i -> TreeMap.empty(kinds(i).ordering)).toMap)
  }

  /** Types whose Spark ordering is a total order that `===`, `<` and `>=`
    * agree with. */
  private def indexable(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case s: StringType => s == StringType // the default, byte-wise collation
    case _ => false
  }

  /** Whether a comparison of a column of type `column` with a key of type
    * `key` runs without a cast of the column: the same type, or a decimal
    * whose precision and scale fit in the column's, which the comparison
    * widens to the column's own type. */
  private def fits(key: DataType, column: DataType): Boolean = (key, column) match {
    case (k: DecimalType, c: DecimalType) => k.scale <= c.scale && k.precision - k.scale <= c.precision - c.scale
    case _ => key == column
  }

  /** A key under Spark's key equality, decimals by value. */
  private[operators] def keyOf(k: Any): Any = k match {
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case other => Transforms.groupKey(other)
  }

  private def adding(p: Int)(ps: Option[List[Int]]): Option[List[Int]] = Some(p :: ps.getOrElse(Nil))

  /** The frozen rows of a form: `n` rows in arrival order, a column each,
    * and for every indexable column the permutation of the positions that
    * sorts it, its `nulls(i)` null positions first. A keyed table whose key
    * is not indexable maps each key to its positions in `keyed`. */
  private final class Base(val n: Int, val kinds: Array[Kind], val cols: Array[Col], perms: Array[Array[Int]],
                           val nulls: Array[Int], keyed: HashMap[Any, List[Int]])
      extends Serializable {
    val indexed: Seq[Int] = kinds.indices.filter(kinds(_).indexed)

    def row(p: Int, schema: StructType): Row =
      new GenericRowWithSchema(Array.tabulate[Any](cols.length)(i => if (cols(i).isNull(p)) null else cols(i).get(p)), schema)

    /** Positions `from until until` of column `i`'s permutation. */
    def slice(i: Int, from: Int, until: Int): Iterator[Int] = Iterator.range(from, until).map(perms(i)(_))

    /** The first index of column `i`'s permutation past its nulls whose
      * value is at least (`above`: above) the sort key `k`. */
    def bound(i: Int, k: Any, above: Boolean): Int = {
      var (lo, hi) = (nulls(i), n)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = cols(i).against(perms(i)(mid), k)
        if (c < 0 || (above && c == 0)) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** The indexes of indexable column `i`'s permutation whose values are
      * `v` (null: the nulls); None for a value of another class than the
      * column's own. */
    private def span(i: Int, v: Any): Option[(Int, Int)] =
      if (v == null) Some((0, nulls(i)))
      else Try(kinds(i).sortKey(v)).toOption.map(k => (bound(i, k, above = false), bound(i, k, above = true)))

    /** Positions whose column `i`, indexable or the key, holds `v` under
      * key equality. A value of another class than the column's own is
      * compared with every row's. */
    def under(i: Int, v: Any): Iterator[Int] =
      if (!kinds(i).indexed) keyed.getOrElse(keyOf(v), Nil).iterator
      else span(i, v).fold {
        val k = keyOf(v)
        Iterator.range(0, n).filter(p => !cols(i).isNull(p) && keyOf(cols(i).get(p)) == k)
      } { case (from, until) => slice(i, from, until) }

    /** Positions that may hold row `r`: those that share its key, else its
      * value in the indexable column where the fewest do. */
    def candidates(r: Row, key: Option[Int]): Iterator[Int] = key match {
      case Some(k) => under(k, r.get(k))
      case None =>
        indexed.flatMap(i => span(i, r.get(i)).map(i -> _)).minByOption { case (_, (from, until)) => until - from }
          .fold(Iterator.range(0, n)) { case (i, (from, until)) => slice(i, from, until) }
    }
  }

  private object Base {
    def apply(kinds: Array[Kind], rows: Array[Row], key: Option[Int]): Base = {
      val cols = Array.tabulate(kinds.length)(i => kinds(i).column(rows.map(r => if (r.isNullAt(i)) null else r.get(i))))
      val (perms, nulls) = kinds.indices.map { i =>
        if (!kinds(i).indexed) (Array.emptyIntArray, 0)
        else {
          val (none, some) = (0 until rows.length).partition(cols(i).isNull)
          // stable: equal values stay in arrival order
          val sorted = some.map(Int.box).toArray
          java.util.Arrays.sort(sorted, (p: Integer, q: Integer) => cols(i).compare(p, q))
          ((none.iterator ++ sorted.iterator.map(_.intValue)).toArray, none.size)
        }
      }.unzip
      val keyed = key.filterNot(kinds(_).indexed).fold(HashMap.empty[Any, List[Int]]) { k =>
        rows.indices.reverse.foldLeft(HashMap.empty[Any, List[Int]])((m, p) =>
          m.updatedWith(keyOf(rows(p).get(k)))(adding(p)))
      }
      new Base(rows.length, kinds, cols, perms.toArray, nulls.toArray, keyed)
    }
  }

  /** How a column of one type is stored, read back and ordered. A sort
    * key is a value in the column's own order: a Long, a Double, UTF-8
    * bytes or a decimal. */
  private sealed abstract class Kind extends Serializable {
    def indexed: Boolean
    /** The column of `values`, null for null. */
    def column(values: Array[Any]): Col
    /** The sort key of a non-null value of the column. */
    def sortKey(v: Any): Any
    /** The sort key of a literal's Catalyst value of the column's type. */
    def literalKey(v: Any): Any
    def ordering: Ordering[Any]
  }

  private final class Longs(in: Any => Long, out: Long => Any) extends Kind {
    def indexed = true
    def column(values: Array[Any]): Col =
      new LongCol(bitmap(values), values.map(v => if (v == null) 0L else in(v)), out)
    def sortKey(v: Any): Any = in(v)
    def literalKey(v: Any): Any = v match {
      case b: Boolean => if (b) 1L else 0L
      case n: Number => n.longValue
    }
    def ordering: Ordering[Any] = LongOrder
  }

  private final class Doubles(in: Any => Double, out: Double => Any) extends Kind {
    def indexed = true
    def column(values: Array[Any]): Col =
      new DoubleCol(bitmap(values), values.map(v => if (v == null) 0.0 else in(v)), out)
    def sortKey(v: Any): Any = in(v)
    def literalKey(v: Any): Any = v.asInstanceOf[Number].doubleValue
    def ordering: Ordering[Any] = DoubleOrder
  }

  private object Strings extends Kind {
    def indexed = true
    def column(values: Array[Any]): Col = {
      val bytes = values.map(v => if (v == null) Array.emptyByteArray else v.asInstanceOf[String].getBytes(UTF_8))
      new StringCol(bitmap(values), bytes.flatten, bytes.scanLeft(0)(_ + _.length))
    }
    def sortKey(v: Any): Any = v.asInstanceOf[String].getBytes(UTF_8)
    def literalKey(v: Any): Any = v.asInstanceOf[UTF8String].getBytes
    def ordering: Ordering[Any] = BytesOrder
  }

  /** Decimals, ordered by value, and unindexable types, as objects. */
  private final class Objects(val indexed: Boolean) extends Kind {
    def column(values: Array[Any]): Col = new ObjectCol(bitmap(values), values, this)
    def sortKey(v: Any): Any = v match {
      case d: java.math.BigDecimal => d
      case d: scala.math.BigDecimal => d.bigDecimal
    }
    def literalKey(v: Any): Any = v.asInstanceOf[Decimal].toJavaBigDecimal
    def ordering: Ordering[Any] = DecimalOrder
  }

  private def kindOf(t: DataType): Kind = t match {
    case BooleanType => new Longs({ case b: Boolean => if (b) 1L else 0L }, _ != 0L)
    case ByteType => new Longs({ case b: Byte => b.toLong }, _.toByte)
    case ShortType => new Longs({ case s: Short => s.toLong }, _.toShort)
    case IntegerType => new Longs({ case i: Int => i.toLong }, _.toInt)
    case LongType => new Longs({ case l: Long => l }, l => l)
    case DateType | TimestampType | TimestampNTZType =>
      val (in, out) = (CatalystTypeConverters.createToCatalystConverter(t), CatalystTypeConverters.createToScalaConverter(t))
      new Longs(v => in(v) match {
        case days: Int => days.toLong
        case micros: Long => micros
      }, l => out(if (t == DateType) l.toInt else l))
    case FloatType => new Doubles({ case f: Float => f.toDouble }, _.toFloat)
    case DoubleType => new Doubles({ case d: Double => d }, d => d)
    case _: StringType if indexable(t) => Strings
    case _ => new Objects(indexable(t))
  }

  private def bitmap(values: Array[Any]): Array[Long] = {
    val words = new Array[Long]((values.length + 63) >>> 6)
    values.indices.foreach(p => if (values(p) == null) words(p >>> 6) |= 1L << p)
    words
  }

  /** One frozen column: values by base position, nulls marked in a bitmap.
    * `compare` and `against` order non-null values only. */
  private sealed abstract class Col(nullBits: Array[Long]) extends Serializable {
    final def isNull(p: Int): Boolean = (nullBits(p >>> 6) & (1L << p)) != 0
    def get(p: Int): Any
    def compare(p: Int, q: Int): Int
    /** The value at `p` against a sort key. */
    def against(p: Int, k: Any): Int
  }

  private final class LongCol(nulls: Array[Long], values: Array[Long], out: Long => Any) extends Col(nulls) {
    def get(p: Int): Any = out(values(p))
    def compare(p: Int, q: Int): Int = java.lang.Long.compare(values(p), values(q))
    def against(p: Int, k: Any): Int = java.lang.Long.compare(values(p), k.asInstanceOf[Long])
  }

  private final class DoubleCol(nulls: Array[Long], values: Array[Double], out: Double => Any) extends Col(nulls) {
    def get(p: Int): Any = out(values(p))
    def compare(p: Int, q: Int): Int = SQLOrderingUtil.compareDoubles(values(p), values(q))
    def against(p: Int, k: Any): Int = SQLOrderingUtil.compareDoubles(values(p), k.asInstanceOf[Double])
  }

  /** Row `p`'s string is `bytes` from `offsets(p)` until `offsets(p + 1)`. */
  private final class StringCol(nulls: Array[Long], bytes: Array[Byte], offsets: Array[Int]) extends Col(nulls) {
    private def length(p: Int) = offsets(p + 1) - offsets(p)
    def get(p: Int): Any = new String(bytes, offsets(p), length(p), UTF_8)
    def compare(p: Int, q: Int): Int = compareBytes(bytes, offsets(p), length(p), bytes, offsets(q), length(q))
    def against(p: Int, k: Any): Int = {
      val key = k.asInstanceOf[Array[Byte]]
      compareBytes(bytes, offsets(p), length(p), key, 0, key.length)
    }
  }

  private final class ObjectCol(nulls: Array[Long], values: Array[Any], kind: Objects) extends Col(nulls) {
    def get(p: Int): Any = values(p)
    def compare(p: Int, q: Int): Int = kind.ordering.compare(kind.sortKey(values(p)), kind.sortKey(values(q)))
    def against(p: Int, k: Any): Int = kind.ordering.compare(kind.sortKey(values(p)), k)
  }

  /** Unsigned lexicographic order of two byte ranges: `UTF8String`'s
    * binary order. */
  private def compareBytes(a: Array[Byte], aFrom: Int, aLength: Int, b: Array[Byte], bFrom: Int, bLength: Int): Int = {
    val n = math.min(aLength, bLength)
    var i = 0
    while (i < n) {
      val c = (a(aFrom + i) & 0xff) - (b(bFrom + i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    aLength - bLength
  }

  private object LongOrder extends Ordering[Any] {
    def compare(a: Any, b: Any): Int = java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  private object DoubleOrder extends Ordering[Any] {
    def compare(a: Any, b: Any): Int = SQLOrderingUtil.compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double])
  }

  private object BytesOrder extends Ordering[Any] {
    def compare(a: Any, b: Any): Int = {
      val (x, y) = (a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
      compareBytes(x, 0, x.length, y, 0, y.length)
    }
  }

  private object DecimalOrder extends Ordering[Any] {
    def compare(a: Any, b: Any): Int = a.asInstanceOf[java.math.BigDecimal].compareTo(b.asInstanceOf[java.math.BigDecimal])
  }
}
