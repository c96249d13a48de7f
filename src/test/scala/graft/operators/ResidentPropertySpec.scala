package graft.operators

import graft.SparkSpec
import graft.config.PipelineConfig
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

/** A table's resident form answers every read as [[QueryService]] does
  * over the table's frame: after random local inserts, keyed upserts and
  * deletes, across freezes of its overlay into a new base, and with copies
  * of rows, each FindOne, GetAll, LessThan and GreaterThan read from the
  * form returns the same rows as the Spark path, for values that order
  * differently under Java's UTF-16 compareTo and Spark's UTF-8 bytes, for
  * decimals of different scales, NaN, ±0.0, ±∞, booleans and nulls. A key
  * of another type than its column is left to the Spark path. */
class ResidentPropertySpec extends SparkSpec {

  private val yaml =
    """tables:
      |  - name: items
      |    kind: source
      |    columns: {k: Str, i: Integer, d: Decimal, f: Float, b: Bool}
      |  - name: tagged
      |    kind: source
      |    columns: {k: Str, tag: Integer}
      |  - name: byK
      |    kind: aggregation
      |    source_table: items
      |    aggregated_column: k
      |    functions: ["n ~ memo.n + 1", "dsum ~ memo.dsum + d"]
      |  - name: byF
      |    kind: aggregation
      |    source_table: items
      |    aggregated_column: f
      |    functions: ["n ~ memo.n + 1", "fsum ~ memo.fsum + f"]
      |  - name: merged
      |    kind: union
      |    tables_and_foreign_keys: [[tagged, k], [items, k]]
      |  - name: shaped
      |    kind: function
      |    source_table: items
      |    functions: ["k ~ k", "g ~ i", "h ~ f * 2", "e ~ d"]
      |  - name: truthy
      |    kind: filter
      |    source_table: items
      |    filter: "b"
      |""".stripMargin
  private val tables = Seq("items", "tagged", "byK", "byF", "merged", "shaped", "truthy")

  private val itemSchema = StructType(Seq(StructField("k", StringType), StructField("i", LongType),
    StructField("d", DecimalType(38, 18)), StructField("f", DoubleType), StructField("b", BooleanType)))
  private val taggedSchema = StructType(Seq(StructField("k", StringType), StructField("tag", LongType)))

  // small pools, so keys collide and ranges cut through equal values
  // U+E000 and U+FFFF sort below every supplementary character as UTF-8
  // bytes, and above them as UTF-16 units
  private val strs = Seq("", "a", "b", "z", "\u00e9", "\ue000", "\uffff", "\ud83d\ude00", "\ud800\udc00")
  private val longs = Seq(-3L, -1L, 0L, 1L, 2L, 7L, Long.MinValue + 1, Long.MaxValue / 4)
  private val decs = Seq("0", "1", "1.0", "1.50", "-0.5", "2.25", "123.456", "-7").map(new java.math.BigDecimal(_))
  private val doubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity, 1.5, -2.0)

  private def orNull[A](g: Gen[A]): Gen[Any] = Gen.frequency(6 -> g, 1 -> Gen.const(null))
  private val item: Gen[Row] = for {
    k <- orNull(Gen.oneOf(strs)); i <- orNull(Gen.oneOf(longs)); d <- orNull(Gen.oneOf(decs))
    f <- orNull(Gen.oneOf(doubles)); b <- orNull(Gen.oneOf(true, false))
  } yield Row(k, i, d, f, b)
  private val tag: Gen[Row] = for { k <- orNull(Gen.oneOf(strs)); t <- orNull(Gen.oneOf(longs)) } yield Row(k, t)

  private sealed trait Op
  private final case class InsertItems(rows: List[Row]) extends Op
  private final case class InsertTags(rows: List[Row]) extends Op
  private final case class Delete(column: String, key: Any) extends Op
  private val op: Gen[Op] = Gen.frequency(
    5 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, item)).map(InsertItems),
    3 -> Gen.choose(1, 2).flatMap(Gen.listOfN(_, tag)).map(InsertTags),
    2 -> Gen.oneOf(orNull(Gen.oneOf(strs)).map(Delete("k", _)), Gen.oneOf(longs).map(Delete("i", _)),
      orNull(Gen.oneOf(doubles)).map(Delete("f", _))))

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)

  private def check(p: Prop, n: Int = 6): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  /** Table `t`'s resident form in the last committed state. */
  private def resident(inc: IncrementalGraph, t: String): Option[Resident] = inc.pinnedAt(pin => pin(t)).resident

  private val kinds = Seq("FindOne", "GetAll", "LessThan", "GreaterThan")

  private def fromForm(r: Resident, kind: String, c: String, key: Any): Option[Iterable[Row]] = kind match {
    case "FindOne" => r.findOne(c, key)
    case "GetAll" => r.getAll(c, key)
    case "LessThan" => r.lessThan(c, key)
    case _ => r.greaterThan(c, key)
  }

  private def fromSpark(inc: IncrementalGraph, t: String, kind: String, c: String, key: Any): Try[Seq[Row]] = Try {
    val q = new QueryService(inc.table _)
    (kind match {
      case "FindOne" => q.findOne(t, c, key)
      case "GetAll" => q.getAll(t, c, key)
      case "LessThan" => q.lessThan(t, c, key)
      case _ => q.greaterThan(t, c, key)
    }).collect().toSeq
  }

  private def sorted(rs: Iterable[Row]): Seq[String] = rs.map(_.toSeq.mkString("|")).toSeq.sorted

  /** Keys for a column of type `t`: its own values, pool values, null. */
  private def keyFor(t: DataType, values: Seq[Any], rnd: Random): Any = {
    val pool: Seq[Any] = t match {
      case StringType => strs
      case LongType => longs
      case _: DecimalType => decs
      case DoubleType => doubles
      case BooleanType => Seq(true, false)
      case _ => values
    }
    rnd.nextInt(6) match {
      case 0 => null
      case 1 | 2 if values.exists(_ != null) => rnd.shuffle(values.filter(_ != null)).head
      case _ => pool(rnd.nextInt(pool.size))
    }
  }

  /** One random read of table `t`, from its form and from Spark: the same
    * rows (FindOne: one of GetAll's, as many as Spark's); a key the form
    * leaves to Spark only when its type differs from the column's. */
  private def sameRead(inc: IncrementalGraph, t: String, rnd: Random): Boolean = {
    val form = resident(inc, t).getOrElse(fail(s"$t is not resident"))
    val field = form.schema(rnd.nextInt(form.schema.size))
    val c = field.name
    val values = inc.table(t).select(c).collect().map(_.get(0)).toSeq
    val kind = kinds(rnd.nextInt(kinds.size))
    // a Str key on a column of another type: Spark casts it (or fails)
    val key = if (field.dataType != StringType && rnd.nextInt(8) == 0) "1x" else keyFor(field.dataType, values, rnd)
    val spark = fromSpark(inc, t, kind, c, key)
    fromForm(form, kind, c, key) match {
      case None =>
        val foreign = key match {
          case _: String => field.dataType != StringType
          case d: java.math.BigDecimal => d.scale > 18
          case _ => false
        }
        assert(foreign, s"$kind $t.$c = $key (${field.dataType}) was not answered from the form")
        key != "1x" || spark.isFailure // the Spark path's ANSI cast error
      case Some(rows) =>
        val same =
          if (kind == "FindOne") {
            val all = sorted(fromSpark(inc, t, "GetAll", c, key).get)
            rows.size == spark.get.size && sorted(rows).forall(all.contains)
          } else spark.isSuccess && sorted(rows) == sorted(spark.get)
        if (!same) info(s"$kind $t.$c $key: form ${sorted(rows)} vs spark ${spark.map(sorted)}")
        same
    }
  }

  private def applyOp(inc: IncrementalGraph, o: Op): Unit = Try(o match {
    case InsertItems(rs) => inc.insert("items", frame(itemSchema, rs))
    case InsertTags(rs) => inc.insert("tagged", frame(taggedSchema, rs))
    case Delete(c, k) => inc.delete("items", c, k)
  }) // an overflowing fold fails and rolls back; the forms must follow

  test("a resident form answers FindOne, GetAll, LessThan and GreaterThan as the Spark path after random edits") {
    // a seed of 16 or more rows keeps an edit or more in the overlay
    // before a freeze; smaller tables freeze on every edit
    val gen = for {
      seed <- Gen.choose(6, 40).flatMap(Gen.listOfN(_, item))
      ops <- Gen.choose(2, 9).flatMap(Gen.listOfN(_, op))
      reads <- Gen.long
    } yield (seed, ops, reads)
    check(Prop.forAll(gen) { case (seed, ops, readSeed) =>
      val rnd = new Random(readSeed)
      val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(yaml), Map("items" -> frame(itemSchema, seed)))
      tables.forall(t => sameRead(inc, t, rnd)) && ops.forall { o =>
        applyOp(inc, o)
        (1 to 3).forall(_ => sameRead(inc, tables(rnd.nextInt(tables.size)), rnd))
      }
    })
  }

  test("tables straddling the resident cap and crossing a compaction answer as the Spark path") {
    val cap = IncrementalGraph.ResidentCap
    // the CompactAt + 5th single-row insert takes the source past the cap,
    // where a batch of CompactAt + 1 rows compacts it; deletes then take
    // it back under the cap
    check(Prop.forAll(Gen.listOfN(IncrementalGraph.CompactAt + 6, item), Gen.long) { (more, readSeed) =>
      val rnd = new Random(readSeed)
      val start = cap - IncrementalGraph.CompactAt - 4
      val seed = spark.range(start).selectExpr("cast(id % 7 as string) as k", "id as i",
        "cast(id / 3 as decimal(38,18)) as d", "cast(id as double) / 2 as f", "id % 2 = 0 as b")
      val inc = new IncrementalGraph(spark, PipelineConfig.fromYaml(
        """tables:
          |  - name: items
          |    kind: source
          |    columns: {k: Str, i: Integer, d: Decimal, f: Float, b: Bool}
          |  - name: shaped
          |    kind: function
          |    source_table: items
          |    functions: ["k ~ k", "g ~ i", "h ~ f * 2"]
          |""".stripMargin), Map("items" -> seed))
      var rows = start.toInt
      // both tables are resident exactly while within the cap, and every
      // read answers as the Spark path on either side of it
      def reads(): Boolean = Seq("items", "shaped").forall { t =>
        resident(inc, t).isDefined == (rows <= cap) && (rows > cap || sameRead(inc, t, rnd))
      }
      val under = reads()
      val crossing = more.forall { r =>
        inc.insert("items", frame(itemSchema, Seq(r)))
        rows += 1
        reads()
      }
      inc.insert("items", frame(itemSchema, more.take(IncrementalGraph.CompactAt + 1)))
      rows += IncrementalGraph.CompactAt + 1
      val compacted = reads()
      // a seed row each (no generated row has these `i`), then every seed
      // row whose `k` is "3" (no generated row has it)
      val back = Seq[(String, Any)]("i" -> 100L, "i" -> 101L, "k" -> "3").forall { case (c, key) =>
        rows -= inc.delete("items", c, key).count().toInt
        reads()
      }
      under && crossing && compacted && back && rows <= cap
    }, n = 2)
  }

  test("a form edited directly across freezes, with copies of rows, keeps its rows and answers reads as the Spark path") {
    def pick[A](xs: Seq[A], rnd: Random): Any = if (rnd.nextInt(7) == 0) null else xs(rnd.nextInt(xs.size))
    // decimals at the column's scale, as the Spark path returns them
    def norm(r: Row): Row =
      Row.fromSeq(r.toSeq.updated(2, Option(r.getDecimal(2)).map(_.setScale(18)).orNull))
    def fresh(rnd: Random): Row = norm(Row(pick(strs, rnd), pick(longs, rnd), pick(decs, rnd), pick(doubles, rnd),
      pick(Seq(true, false), rnd)))
    val gen = for {
      seed <- Gen.choose(16, 60).flatMap(Gen.listOfN(_, item))
      key <- Gen.oneOf(None, Some("k"), Some("f"), Some("d"))
      edits <- Gen.long
    } yield (seed, key, edits)
    check(Prop.forAll(gen) { case (seed, key, edits) =>
      val rnd = new Random(edits)
      var form = Resident(itemSchema, seed.map(norm), key)
      // the form drops the newest copy of a deleted row, so the model does
      val model = scala.collection.mutable.ArrayBuffer(seed.map(norm): _*)
      var freezes = 0
      val edited = (1 to 24).forall { e =>
        val pending = form.pending
        rnd.nextInt(5) match {
          case 0 if model.nonEmpty => // a copy of a row, old or new
            val r = model(rnd.nextInt(model.size))
            form = form.updated(Seq(r), Nil)
            model += r
          case 1 | 2 if model.nonEmpty => // one copy of a row: anywhere, or among the newest
            val r = model(if (rnd.nextBoolean()) rnd.nextInt(model.size) else model.size - 1 - rnd.nextInt(model.size min 3))
            form = form.updated(Nil, Seq(r))
            model.remove(model.lastIndexOf(r))
          case 3 => // a row that may not be there at all
            val r = fresh(rnd)
            form = form.updated(Nil, Seq(r))
            val i = model.lastIndexOf(r)
            if (i >= 0) model.remove(i)
          case _ =>
            val r = fresh(rnd)
            form = form.updated(Seq(r), Nil)
            model += r
        }
        if (form.pending < pending) freezes += 1
        val keyed = key.forall { c =>
          val i = itemSchema.fieldIndex(c)
          val k = pick(model.map(_.get(i)).toSeq ++ (c match {
            case "k" => strs
            case "f" => doubles
            case _ => decs
          }), rnd)
          sorted(form.rowsUnder(Set(k))) == sorted(model.filter(r => Resident.keyOf(r.get(i)) == Resident.keyOf(k)))
        }
        val same = form.size == model.size && form.rows.toSeq == model.toSeq && keyed
        if (!same) info(s"edit $e: form ${form.rows.toSeq} vs model $model")
        same && (e % 3 != 0 || {
          val field = itemSchema(rnd.nextInt(itemSchema.size))
          val c = field.name
          val k = keyFor(field.dataType, model.map(_.get(itemSchema.fieldIndex(c))).toSeq, rnd)
          val kind = kinds(rnd.nextInt(kinds.size))
          val q = new QueryService(_ => frame(itemSchema, model.toSeq))
          val spark = (kind match {
            case "FindOne" => q.getAll("items", c, k)
            case "GetAll" => q.getAll("items", c, k)
            case "LessThan" => q.lessThan("items", c, k)
            case _ => q.greaterThan("items", c, k)
          }).collect().toSeq
          val rows = fromForm(form, kind, c, k).getOrElse(fail(s"$kind $c = $k was not answered from the form"))
          val ok = if (kind == "FindOne") rows.size == math.min(1, spark.size) && sorted(rows).forall(sorted(spark).contains)
            else sorted(rows) == sorted(spark) &&
              (kind == "GetAll" || Seq(rows.toSeq, spark).map(_.map(r => Resident.keyOf(r.get(itemSchema.fieldIndex(c))))).distinct.size == 1)
          if (!ok) info(s"$kind $c $k: form ${sorted(rows)} vs spark ${sorted(spark)}")
          ok
        })
      }
      edited && freezes > 0
    }, n = 8)
  }
}
