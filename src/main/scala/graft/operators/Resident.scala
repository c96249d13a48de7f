package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import scala.collection.immutable.{HashMap, TreeMap, VectorMap}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** All current rows of one table on the driver, indexed: the reference's
  * per-column B-trees (storage_manager_table.rs:113-229, btree.rs) as
  * persistent maps, so an updated form shares structure with the old one
  * and a snapshot of it costs nothing.
  *
  *   - Every indexable column (an atomic type: numbers, strings, booleans,
  *     dates, timestamps) has a sorted map from its value to the rows that
  *     hold it, ordered by Spark's own interpreted ordering for the type
  *     over Catalyst values: strings by UTF-8 bytes, decimals by value,
  *     NaN above every other double and equal to itself, -0.0 equal to
  *     0.0. A null value is in no sorted map: no comparison matches it.
  *   - A keyed table (an Aggregation or a Union) also maps each key, under
  *     Spark's key equality ([[Transforms.groupKey]]), to its rows; null is
  *     a key of its own.
  *   - A multiset of every row lists the table's rows, so a table it holds
  *     needs no other copy. It keeps arrival order, which a Double sum over
  *     a frame of the rows depends on.
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
    val size: Int,
    key: Option[Int],
    all: VectorMap[Row, Int],
    dropped: Int,
    byKey: HashMap[Any, List[Row]],
    sorted: Map[Int, TreeMap[Any, List[Row]]]) {
  import Resident._

  /** Every row, as often as the table holds it, in arrival order (a
    * row's copies together). */
  def rows: Iterator[Row] = all.iterator.flatMap { case (r, n) => Iterator.fill(n)(r) }

  /** Rows whose key is one of `keys` (null-safe). */
  def rowsUnder(keys: Set[Any]): Seq[Row] = keys.toSeq.map(keyOf).distinct.flatMap(byKey.getOrElse(_, Nil))

  /** This form after an edit deleted the rows `del` and inserted `ins`,
    * both in this schema. A deleted row this form does not hold is not
    * deleted. */
  def updated(ins: Seq[Row], del: Seq[Row]): Resident = {
    var (a, d, n, k, s) = (all, dropped, size, byKey, sorted)
    def indexed(r: Row, f: Row => Option[List[Row]] => Option[List[Row]]): Unit = {
      key.foreach(i => k = k.updatedWith(keyOf(r.get(i)))(f(r)))
      s = s.map { case (i, m) => i -> (if (r.isNullAt(i)) m else m.updatedWith(catalyst(i)(r.get(i)))(f(r))) }
    }
    del.foreach(r => a.get(r).foreach { c =>
      a = if (c > 1) a.updated(r, c - 1) else { d += 1; a.removed(r) }
      n -= 1
      indexed(r, removing)
    })
    ins.foreach { r =>
      a = a.updatedWith(r)(c => Some(c.getOrElse(0) + 1))
      n += 1
      indexed(r, adding)
    }
    // a VectorMap keeps a slot for each key removed from its middle:
    // rebuilt once those outnumber its keys, it stays as large as its rows
    if (d > a.size) { a = (VectorMap.newBuilder[Row, Int] ++= a).result(); d = 0 }
    new Resident(schema, n, key, a, d, k, s)
  }

  private lazy val catalyst: Map[Int, Any => Any] =
    sorted.keys.map(i => i -> CatalystTypeConverters.createToCatalystConverter(schema(i).dataType)).toMap

  /** The sorted map of `column` and the key as a Catalyst value of its
    * type; None when this form cannot answer for them. A null key matches
    * nothing. */
  private def probe(column: String, key: Any): Option[(TreeMap[Any, List[Row]], Option[Any])] = {
    val i = schema.fieldNames.indexOf(column)
    sorted.get(i).flatMap { m =>
      if (key == null) Some((m, None))
      else Try(Literal(key)).toOption.filter(lit => fits(lit.dataType, schema.fields(i).dataType))
        .map(lit => (m, Some(lit.value)))
    }
  }

  /** Rows whose `column` matches `key` under Spark's null-safe `<=>`; None
    * when the Spark path must find them, as for a read. */
  def matching(column: String, key: Any): Option[Seq[Row]] =
    if (key != null) getAll(column, key).map(_.toSeq)
    else Some(schema.fieldNames.indexOf(column)).filter(_ >= 0).map(i => rows.filter(_.isNullAt(i)).toSeq)

  def findOne(column: String, key: Any): Option[Iterable[Row]] = getAll(column, key).map(_.take(1))

  def getAll(column: String, key: Any): Option[Iterable[Row]] = probe(column, key).map {
    case (m, k) => k.flatMap(m.get).getOrElse(Nil)
  }

  def lessThan(column: String, key: Any): Option[Iterable[Row]] = probe(column, key).map {
    case (m, k) => k.fold[Iterable[Row]](Nil)(v => m.rangeUntil(v).values.view.flatten)
  }

  def greaterThan(column: String, key: Any): Option[Iterable[Row]] = probe(column, key).map {
    case (m, k) => k.fold[Iterable[Row]](Nil)(v => m.rangeFrom(v).values.view.flatten)
  }
}

private[graft] object Resident {
  /** The form of `rows` of `schema`, keyed on column `key` when given.
    * Every column of the form is nullable, as any edit may fill it so. */
  def apply(schema0: StructType, rows: Seq[Row], key: Option[String]): Resident = {
    val schema = StructType(schema0.map(_.copy(nullable = true)))
    val k = key.map(schema.fieldIndex)
    val all = rows.foldLeft(VectorMap.empty[Row, Int])((m, r) => m.updatedWith(r)(n => Some(n.getOrElse(0) + 1)))
    val byKey = k.fold(HashMap.empty[Any, List[Row]]) { i =>
      rows.foldLeft(HashMap.empty[Any, List[Row]])((m, r) => m.updatedWith(keyOf(r.get(i)))(adding(r)))
    }
    // grouped under the type's ordering, which is coarser than equals()
    // (-0.0 and 0.0 are one value), then built in one pass
    val sorted = schema.fields.indices.filter(i => indexable(schema(i).dataType)).map { i =>
      val ordering = TypeUtils.getInterpretedOrdering(schema(i).dataType)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema(i).dataType)
      val groups = new java.util.TreeMap[Any, List[Row]](ordering)
      rows.foreach(r => if (!r.isNullAt(i)) groups.merge(toCatalyst(r.get(i)), List(r), (a, b) => b ::: a))
      i -> TreeMap.from(groups.asScala)(ordering)
    }.toMap
    new Resident(schema, rows.size, k, all, 0, byKey, sorted)
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

  private def adding(r: Row)(rs: Option[List[Row]]): Option[List[Row]] = Some(r :: rs.getOrElse(Nil))

  /** Removes one row equal to `r`. */
  private def removing(r: Row)(rs: Option[List[Row]]): Option[List[Row]] = rs.flatMap { l =>
    val i = l.indexOf(r)
    val left = if (i < 0) l else l.patch(i, Nil, 1)
    if (left.isEmpty) None else Some(left)
  }
}
