package graftbench

import java.util.SplittableRandom

/** Seeded input generator for the reactive workloads. Everything the
  * program receives — the seeded base tables, every insert, every lookup
  * key and every Zipf draw — is built here before any timing starts, from
  * the `--seed` alone.
  *
  * Data model (the reference `test_cfg.yaml` cascade):
  *   - testTable: `testForIteration` is a unique key `off + i`;
  *     `testForIndex` is uniform in [0, 20) in the base, so about half the
  *     rows pass `filterTest`. Inserts pass it exactly half the time (see
  *     `generate`), because a row that passes costs an extra edit.
  *   - users: one row per name (`<salt>_<j>`), age in [18, 90).
  *   - grades: one row per user name in the base. Inserts draw names from
  *     all users with a Zipf skew, so `aggregationTest` groups grow
  *     unevenly and `unionTest` upserts hot keys repeatedly.
  *     The seed itself is key-unique because `Transforms.union` assumes
  *     key-unique input batches; repeated keys arrive one insert at a time.
  */
final case class Base(
    off: Long,
    salt: String,
    testIndex: Array[Long],
    userAge: Array[Long],
    grade: Array[Long]) {
  def nTest: Int = testIndex.length
  def nUsers: Int = userAge.length
  def userName(j: Int): String = s"${salt}_$j"
}

sealed trait Op { def id: Int }

/** One InsertData; `entry` holds Long or String values in column order. */
final case class Insert(id: Int, table: String, entry: Seq[(String, Any)]) extends Op {
  def value(c: String): Any = entry.find(_._1 == c).get._2
}

/** One read. `expectKey` is the seeded row the answer must contain; for a
  * range op `span` is the number of seeded rows the range covers. */
final case class Lookup(
    id: Int,
    kind: String,
    table: String,
    column: String,
    key: Any,
    span: Int = 0) extends Op

final case class OpLog(base: Base, inserts: Vector[Insert], lookups: Vector[Lookup]) {
  /** Canonical digest of the whole log (base included). */
  lazy val sha256: String = {
    val sb = new StringBuilder
    sb.append(base.off).append('|').append(base.salt).append('|')
    base.testIndex.foreach(v => sb.append(v).append(','))
    sb.append('|'); base.userAge.foreach(v => sb.append(v).append(','))
    sb.append('|'); base.grade.foreach(v => sb.append(v).append(','))
    inserts.foreach(i => sb.append('|').append(i.toString))
    lookups.foreach(l => sb.append('|').append(l.toString))
    Util.sha256(sb.toString.getBytes("UTF-8"))
  }
}

/** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def draw(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object OpLog {
  final case class Sizes(nTest: Int, nUsers: Int, nInserts: Int, nLookups: Int)
  val DefaultSizes: Sizes = Sizes(nTest = 10000, nUsers = 1000, nInserts = 600, nLookups = 4000)

  /** Exponent of every Zipf draw: the classic Zipf law (s = 1). An
    * assumption, not a measured key distribution. */
  val ZipfS: Double = 1.0

  /** Tables of one insert cycle: 60 % testTable, 20 % users, 20 % grades.
    * The seed shuffles the order within each cycle. Of the three testTable
    * inserts of a cycle the first passes `filterTest`, the second fails it
    * and the third alternates by cycle, so any whole number of cycles has
    * the same mix of filter outcomes (within one insert) whatever the seed. */
  private val Cycle = Vector("testTable", "testTable", "testTable", "users", "grades")
  val CycleLength: Int = Cycle.size

  def generate(seed: Long, sz: Sizes = DefaultSizes): OpLog = {
    val rng = new SplittableRandom(seed)
    val off = 1000000L * (1 + rng.nextInt(1000))
    val salt = (1 to 4).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val base = Base(
      off = off,
      salt = salt,
      testIndex = Array.fill(sz.nTest)(rng.nextInt(20).toLong),
      userAge = Array.fill(sz.nUsers)(18L + rng.nextInt(72)),
      grade = Array.fill(sz.nUsers)(rng.nextInt(101).toLong))

    val hot = new Zipf(sz.nUsers, ZipfS)
    var nT = 0
    var nU = 0
    val inserts = Vector.newBuilder[Insert]
    var id = 0
    var c = 0
    while (id < sz.nInserts) {
      val cycle = shuffle(Cycle, rng)
      var k = 0
      cycle.foreach { t =>
        if (id < sz.nInserts) {
          val entry: Seq[(String, Any)] = t match {
            case "testTable" =>
              nT += 1
              val passes = k == 0 || (k == 2 && c % 2 == 0)
              k += 1
              Seq("testForIndex" -> (if (passes) rng.nextInt(11) else 11 + rng.nextInt(9)).toLong,
                "testForIteration" -> (off + sz.nTest + nT - 1))
            case "users" =>
              nU += 1
              Seq("name" -> s"${salt}_new_${nU - 1}", "age" -> (18L + rng.nextInt(72)))
            case _ =>
              Seq("name" -> base.userName(hot.draw(rng)), "grade" -> rng.nextInt(101).toLong)
          }
          inserts += Insert(id, t, entry)
          id += 1
        }
      }
      c += 1
    }

    // Reads: blocks of the four lookup kinds (FindOne, GetAll, LessThan,
    // GreaterThan) in a seeded order, FindOne spread evenly over testTable,
    // derived and users. Keys are Zipf-skewed over the seeded rows,
    // scattered through the key space by a fixed odd multiplier so hot keys
    // are not adjacent.
    val hotTest = new Zipf(sz.nTest, ZipfS)
    val hotUser = new Zipf(sz.nUsers, ZipfS)
    def scatter(rank: Int, n: Int): Int = ((rank.toLong * 2654435761L) % n).toInt
    val kinds = Iterator.continually(shuffle(Vector(0, 1, 2, 3), rng)).flatten
    val lookups = Vector.tabulate(sz.nLookups) { j =>
      val lid = 1000000 + j
      kinds.next() match {
        case 0 => rng.nextInt(3) match {
          case 0 => Lookup(lid, "FindOne", "testTable", "testForIteration",
            off + scatter(hotTest.draw(rng), sz.nTest))
          case 1 => Lookup(lid, "FindOne", "derived", "newColumn",
            off + scatter(hotTest.draw(rng), sz.nTest) + 2)
          case _ => Lookup(lid, "FindOne", "users", "name",
            base.userName(scatter(hotUser.draw(rng), sz.nUsers)))
        }
        case 1 => Lookup(lid, "GetAll", "aggregationTest", "aggregatedColumn", base.userName(hot.draw(rng)))
        case 2 =>
          val span = 1 + rng.nextInt(50)
          Lookup(lid, "LessThan", "testTable", "testForIteration", off + span, span)
        case _ =>
          val span = 1 + rng.nextInt(50)
          Lookup(lid, "GreaterThan", "testTable", "testForIteration", off + sz.nTest - span, span)
      }
    }
    OpLog(base, inserts.result(), lookups)
  }

  private def shuffle[A](xs: Vector[A], rng: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
}
