package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The reference's externally-tagged JSON wire encoding for rows
  * (reference: reactive_db_python_client/reactive_db_client/
  * communication_types.py:22-38, sample frames reactive_db/
  * test_requests.txt:1-3):
  *
  * {{{ {"testForIndex": {"Integer": 1}, "name": {"Str": "John"}} }}}
  *
  * Tags: Integer, Str, Bool, ID, Decimal (string payload), Float,
  * Array (list payload), Map (nested tagged object → struct).
  * This codec gives a client of the reference a drop-in data path into the
  * Spark engine: parse tagged rows at ingest, emit tagged rows from
  * committed edits / listen events.
  */
object TaggedJson {
  private val mapper = new ObjectMapper()

  /** Spark type for a tagged value (empty arrays default to array<string>). */
  def dataTypeOf(tag: String, payload: JsonNode): DataType =
    normalizeEmpty(rawDataTypeOf(tag, payload))

  /** Like [[dataTypeOf]] but keeps ArrayType(NullType) as a sentinel for a
    * genuinely-EMPTY array (no element to infer from). No real tag maps to
    * NullType, so the sentinel is unambiguous; [[parseEntries]] treats only
    * this case as wildcard-compatible with any array column. */
  private def rawDataTypeOf(tag: String, payload: JsonNode): DataType = tag match {
    case "Integer" => LongType
    case "Str" | "ID" => StringType
    case "Bool" => BooleanType
    case "Decimal" => DecimalType(38, 18)
    case "Float" => DoubleType
    case "Array" =>
      val elems = payload.asInstanceOf[ArrayNode]
      if (elems.size() == 0) ArrayType(NullType)
      else {
        val f = elems.get(0).properties().iterator().next()
        ArrayType(rawDataTypeOf(f.getKey, f.getValue))
      }
    case "Map" =>
      StructType(payload.properties().iterator().asScala.map { e =>
        val f = e.getValue.properties().iterator().next()
        StructField(e.getKey, rawDataTypeOf(f.getKey, f.getValue))
      }.toSeq)
    case other => throw new IllegalArgumentException(s"unknown tag $other")
  }

  private def normalizeEmpty(dt: DataType): DataType = dt match {
    case ArrayType(NullType, n) => ArrayType(StringType, n)
    case ArrayType(et, n) => ArrayType(normalizeEmpty(et), n)
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = normalizeEmpty(f.dataType))))
    case other => other
  }

  private def valueOf(tag: String, payload: JsonNode): Any = tag match {
    case "Integer" => payload.asLong()
    case "Str" | "ID" => payload.asText()
    case "Bool" => payload.asBoolean()
    case "Decimal" => new java.math.BigDecimal(payload.asText())
    case "Float" => payload.asDouble()
    case "Array" =>
      payload.asInstanceOf[ArrayNode].elements().asScala.map { el =>
        val f = el.properties().iterator().next(); valueOf(f.getKey, f.getValue)
      }.toSeq
    case "Map" =>
      Row.fromSeq(payload.properties().iterator().asScala.map { e =>
        val f = e.getValue.properties().iterator().next(); valueOf(f.getKey, f.getValue)
      }.toSeq)
    case other => throw new IllegalArgumentException(s"unknown tag $other")
  }

  /** Parse one tagged VALUE node (e.g. `{"Integer": 5}`) into its Scala
    * value — the `key` side of GetData requests
    * (reference: networking/network_types.rs:68-73). */
  def parseValue(node: JsonNode): Any = {
    val f = node.properties().iterator().next()
    valueOf(f.getKey, f.getValue)
  }

  private def parseEntryRaw(node: JsonNode): (StructType, Row) = {
    if (node == null || !node.isObject)
      throw new IllegalArgumentException("an entry must be a JSON object of tagged values")
    val fields = node.properties().iterator().asScala.toSeq.map { e =>
      val f = e.getValue.properties().iterator().next()
      (StructField(e.getKey, rawDataTypeOf(f.getKey, f.getValue)), valueOf(f.getKey, f.getValue))
    }
    (StructType(fields.map(_._1)), Row.fromSeq(fields.map(_._2)))
  }

  /** Parse one tagged entry into (schema, row). Column order follows the
    * JSON object order (the reference's Entry is an ordered map). */
  def parseEntry(json: String): (StructType, Row) = parseEntry(mapper.readTree(json))

  /** [[parseEntry]] of an entry already parsed as JSON. */
  def parseEntry(node: JsonNode): (StructType, Row) = {
    val (s, r) = parseEntryRaw(node)
    (normalizeEmpty(s).asInstanceOf[StructType], r)
  }

  /** Parse many entries sharing a schema (first entry defines it — the
    * reference's first-row inference, storage_manager_table.rs:334-350). */
  def parseEntries(jsons: Seq[String]): (StructType, Seq[Row]) = {
    require(jsons.nonEmpty, "no entries")
    val (rawSchema, first) = parseEntryRaw(mapper.readTree(jsons.head))
    // tags/types must agree across entries — a Str where the first entry had
    // an Integer would otherwise surface later as an opaque encoder
    // ClassCastException at materialization instead of at parse time.
    // Exception: a genuinely-EMPTY Array (ArrayType(NullType) sentinel from
    // rawDataTypeOf) is compatible with any array column — its value (empty
    // Seq) materializes under any element type. A NON-empty array<string>
    // against e.g. array<bigint> is NOT compatible and fails here.
    def compatible(got: DataType, want: DataType): Boolean = (got, want) match {
      case (g, w) if g == w => true
      case (ArrayType(NullType, _), ArrayType(_, _)) => true
      case (ArrayType(g, _), ArrayType(w, _)) => compatible(g, w)
      case (g: StructType, w: StructType) =>
        g.length == w.length && g.fields.zip(w.fields).forall { case (gf, wf) =>
          gf.name == wf.name && compatible(gf.dataType, wf.dataType)
        }
      case _ => false
    }
    val rest = jsons.tail.map { j =>
      val (s2, r) = parseEntryRaw(mapper.readTree(j))
      require(s2.fieldNames.sameElements(rawSchema.fieldNames),
        s"Missmatched Input: ${s2.fieldNames.mkString(",")} vs ${rawSchema.fieldNames.mkString(",")}")
      s2.fields.zip(rawSchema.fields).foreach { case (got, want) =>
        // want side: an empty first-entry array fixed the column at the
        // array<string> default, so compare against the normalized type
        require(compatible(got.dataType, normalizeEmpty(want.dataType)),
          s"Missmatched Input: column ${want.name} is ${normalizeEmpty(want.dataType).simpleString} " +
            s"but entry has ${got.dataType.simpleString}")
      }
      r
    }
    (normalizeEmpty(rawSchema).asInstanceOf[StructType], first +: rest)
  }

  private def tagFor(dt: DataType, v: Any): (String, Any) = dt match {
    case ByteType | ShortType | IntegerType | LongType => ("Integer", v)
    case StringType => ("Str", v)
    case BooleanType => ("Bool", v)
    case _: DecimalType => ("Decimal", v.toString)
    case FloatType | DoubleType => ("Float", v)
    case ArrayType(et, _) => ("Array", (et, v))
    case st: StructType => ("Map", (st, v))
    case other => throw new IllegalArgumentException(s"cannot encode $other")
  }

  private def writeTagged(node: ObjectNode, dt: DataType, v: Any): Unit = {
    val (tag, payload) = tagFor(dt, v)
    tag match {
      case "Integer" => node.put(tag, payload.asInstanceOf[Number].longValue())
      case "Str" => node.put(tag, payload.asInstanceOf[String])
      case "Bool" => node.put(tag, payload.asInstanceOf[Boolean])
      case "Decimal" => node.put(tag, payload.asInstanceOf[String])
      case "Float" => node.put(tag, payload.asInstanceOf[Number].doubleValue())
      case "Array" =>
        val (et, seq) = payload.asInstanceOf[(DataType, Any)]
        val arr = node.putArray(tag)
        // collect() hands arrays back as a mutable.ArraySeq
        seq.asInstanceOf[scala.collection.Seq[Any]].foreach { el =>
          writeTagged(arr.addObject(), et, el)
        }
      case "Map" =>
        val (st, row) = payload.asInstanceOf[(StructType, Any)]
        val obj = node.putObject(tag)
        st.fields.zip(row.asInstanceOf[Row].toSeq).foreach { case (f, fv) =>
          writeTagged(obj.putObject(f.name), f.dataType, fv)
        }
    }
  }

  /** A row in the tagged wire format (nulls omitted, like the
    * reference's sparse entries). */
  def toTaggedNode(row: Row, schema: StructType): ObjectNode = {
    val node = mapper.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) writeTagged(node.putObject(f.name), f.dataType, row.get(i))
    }
    node
  }

  /** [[toTaggedNode]] as a JSON string. */
  def toTaggedJson(row: Row, schema: StructType): String =
    mapper.writeValueAsString(toTaggedNode(row, schema))
}
