package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericFixed, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro ↔ Spark schema and value mapping for the [[AvroDataSource]] V2
  * reader (`format("graft-avro")`, and `.avro` sources via the
  * [[Registrar]]), without the spark-avro module.
  *
  * The reference DECLARES avro and never implements it (its DataFusion
  * branch is `unimplemented!` — /root/reference/src/main.rs:25,
  * src/backends/datafusion.rs:47-49). Spark's own avro datasource lives in
  * the external spark-avro jar, which this distribution does not bundle —
  * but the underlying avro libraries DO ship with Spark, so the writer
  * schema (read on the driver from a file header) maps structurally onto
  * Spark types here, and each decoded record maps onto a Row.
  *
  * Supported: all scalar types, enum/fixed, bytes, arrays, string-keyed
  * maps, nested records, null-unions, and the date / timestamp-millis/
  * micros / decimal (bytes or fixed, precision ≤ 38) logical types.
  * Anything else (multi-branch unions, decimal beyond Spark's precision)
  * fails loudly at schema time rather than miscoding values.
  */
object AvroScan {

  private[graft] def toStruct(s: Schema): StructType = s.getType match {
    case Schema.Type.RECORD =>
      StructType(s.getFields.asScala.map { f =>
        val (dt, nullable) = toSpark(f.schema())
        StructField(f.name(), dt, nullable)
      }.toArray)
    case other =>
      throw Registrar.SourceError(s"avro top-level type must be record, got $other")
  }

  /** Avro schema → (Spark type, nullable). Loud on shapes Spark can't
    * represent faithfully — a silent coercion would corrupt values. */
  private def toSpark(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT =>
      if (logicalName(s) == "date") (DateType, false) else (IntegerType, false)
    case Schema.Type.LONG => logicalName(s) match {
      case "timestamp-millis" | "timestamp-micros" => (TimestampType, false)
      case _ => (LongType, false)
    }
    case Schema.Type.FLOAT => (FloatType, false)
    case Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.STRING | Schema.Type.ENUM => (StringType, false)
    case Schema.Type.BYTES | Schema.Type.FIXED =>
      if (logicalName(s) == "decimal") {
        val d = s.getLogicalType.asInstanceOf[org.apache.avro.LogicalTypes.Decimal]
        if (d.getPrecision > DecimalType.MAX_PRECISION)
          throw Registrar.SourceError(
            s"avro decimal(${d.getPrecision},${d.getScale}) exceeds Spark's max precision ${DecimalType.MAX_PRECISION}")
        (DecimalType(d.getPrecision, d.getScale), false)
      } else (BinaryType, false)
    case Schema.Type.ARRAY =>
      val (et, en) = toSpark(s.getElementType)
      (ArrayType(et, containsNull = en), false)
    case Schema.Type.MAP =>
      val (vt, vn) = toSpark(s.getValueType)
      (MapType(StringType, vt, valueContainsNull = vn), false)
    case Schema.Type.RECORD => (toStruct(s), false)
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala.filterNot(_.getType == Schema.Type.NULL)
      if (branches.size != 1)
        throw Registrar.SourceError(
          s"avro multi-branch union ${s} has no faithful Spark type; " +
            "restructure the schema or read via a record wrapper")
      (toSpark(branches.head)._1, true)
    case other =>
      throw Registrar.SourceError(s"unsupported avro type: $other")
  }

  private def logicalName(s: Schema): String =
    Option(s.getLogicalType).map(_.getName).getOrElse("")

  /** Positional record→Row mapping for the V2 reader ([[AvroV2]]): the
    * record was decoded with a PRUNED reader schema, so positions are the
    * projected positions, not the writer's. Nested records map the same
    * way, by their own fields' positions. */
  private[sources] def recordToRow(rec: GenericRecord, fieldSchemas: Array[Schema]): Row = {
    val vals = new Array[Any](fieldSchemas.length)
    var i = 0
    while (i < fieldSchemas.length) { vals(i) = fromAvro(rec.get(i), fieldSchemas(i)); i += 1 }
    Row.fromSeq(vals.toIndexedSeq)
  }

  /** Avro runtime value → Spark external row value. Mirrors [[toSpark]]
    * branch-for-branch; the two must stay in lockstep. */
  private def fromAvro(v: Any, s: Schema): Any = {
    if (v == null) return null
    s.getType match {
      case Schema.Type.UNION =>
        val branch = s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
        fromAvro(v, branch)
      case Schema.Type.STRING => v.toString // Utf8 -> String
      case Schema.Type.ENUM => v.toString
      case Schema.Type.INT if logicalName(s) == "date" =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case Schema.Type.LONG if logicalName(s) == "timestamp-millis" =>
        new java.sql.Timestamp(v.asInstanceOf[Long])
      case Schema.Type.LONG if logicalName(s) == "timestamp-micros" =>
        val us = v.asInstanceOf[Long]
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case Schema.Type.BYTES if logicalName(s) == "decimal" =>
        val scale = s.getLogicalType.asInstanceOf[org.apache.avro.LogicalTypes.Decimal].getScale
        val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
        val out = new Array[Byte](bb.remaining()); bb.get(out)
        // avro decimal = two's-complement big-endian unscaled value
        new java.math.BigDecimal(new java.math.BigInteger(out), scale)
      case Schema.Type.FIXED if logicalName(s) == "decimal" =>
        val scale = s.getLogicalType.asInstanceOf[org.apache.avro.LogicalTypes.Decimal].getScale
        new java.math.BigDecimal(
          new java.math.BigInteger(v.asInstanceOf[GenericFixed].bytes()), scale)
      case Schema.Type.BYTES =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
        val out = new Array[Byte](bb.remaining()); bb.get(out); out
      case Schema.Type.FIXED => v.asInstanceOf[GenericFixed].bytes().clone()
      case Schema.Type.ARRAY =>
        v.asInstanceOf[java.util.Collection[Any]].asScala
          .map(fromAvro(_, s.getElementType)).toSeq
      case Schema.Type.MAP =>
        v.asInstanceOf[java.util.Map[Any, Any]].asScala.map { case (k, mv) =>
          k.toString -> fromAvro(mv, s.getValueType)
        }.toMap
      case Schema.Type.RECORD =>
        recordToRow(v.asInstanceOf[GenericRecord],
          s.getFields.asScala.map(_.schema()).toArray)
      case _ => v match { // BOOLEAN, INT, LONG, FLOAT, DOUBLE pass through
        case u: Utf8 => u.toString
        case other => other
      }
    }
  }
}
