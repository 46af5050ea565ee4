package graft.sources.avro

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{Conversions, LogicalType, LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst schema/rows → Avro schema/records, the write-side mirror of
  * [[AvroSchemaConverter]]. Nullable columns become `["null", T]` unions;
  * structs/arrays/maps recurse; encoders are built once per writer, not
  * per row.
  */
object AvroSerializer {

  private type Encoder = Any => Any

  /** StructType → Avro record schema and the encoder of rows into records
    * of that schema. Nested record names derive from the field path so they
    * stay unique within the file schema.
    */
  def recordEncoder(st: StructType, name: String = "topLevelRecord",
      namespace: String = "graft"): (Schema, InternalRow => GenericRecord) = {
    val (schemas, encoders) =
      st.fields.map(f => field(f.dataType, f.nullable, s"${name}_${f.name}")).unzip
    val types = st.fields.map(_.dataType)
    val schema = Schema.createRecord(name, null, namespace, false)
    schema.setFields(st.fields.zip(schemas).map { case (f, s) =>
      new Schema.Field(f.name, s, null, null)
    }.toSeq.asJava)
    (schema, row => {
      val rec = new GenericData.Record(schema)
      var i = 0
      while (i < encoders.length) {
        rec.put(i, if (row.isNullAt(i)) null else encoders(i)(row.get(i, types(i))))
        i += 1
      }
      rec
    })
  }

  /** Avro schema and encoder of one Catalyst value (as stored in
    * InternalRow/ArrayData) of type `dt`.
    */
  private def field(dt: DataType, nullable: Boolean, path: String): (Schema, Encoder) = {
    def primitive(t: Schema.Type, encode: Encoder = identity): (Schema, Encoder) =
      (Schema.create(t), encode)
    def logical(lt: LogicalType, t: Schema.Type): (Schema, Encoder) =
      (lt.addToSchema(Schema.create(t)), identity)
    val (base, encode) = dt match {
      case BooleanType => primitive(Schema.Type.BOOLEAN)
      case IntegerType => primitive(Schema.Type.INT)
      case ShortType => primitive(Schema.Type.INT, v => v.asInstanceOf[Short].toInt)
      case ByteType => primitive(Schema.Type.INT, v => v.asInstanceOf[Byte].toInt)
      case LongType => primitive(Schema.Type.LONG)
      case FloatType => primitive(Schema.Type.FLOAT)
      case DoubleType => primitive(Schema.Type.DOUBLE)
      case StringType => primitive(Schema.Type.STRING, v => v.asInstanceOf[UTF8String].toString)
      case BinaryType =>
        primitive(Schema.Type.BYTES, v => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]]))
      case DateType => logical(LogicalTypes.date(), Schema.Type.INT)
      case TimestampType => logical(LogicalTypes.timestampMicros(), Schema.Type.LONG)
      // session-independent wall-clock time: Avro's local-timestamp
      // logical type (Avro 1.10+), micros since epoch-as-local
      case TimestampNTZType => logical(LogicalTypes.localTimestampMicros(), Schema.Type.LONG)
      case d: DecimalType =>
        val lt = LogicalTypes.decimal(d.precision, d.scale)
        val s = lt.addToSchema(Schema.create(Schema.Type.BYTES))
        val conv = new Conversions.DecimalConversion
        (s, (v: Any) => conv.toBytes(v.asInstanceOf[Decimal].toJavaBigDecimal, s, lt))
      case st: StructType =>
        val (s, encodeRow) = recordEncoder(st, path)
        (s, (v: Any) => encodeRow(v.asInstanceOf[InternalRow]))
      case ArrayType(et, containsNull) =>
        val (elem, encodeElem) = field(et, containsNull, s"${path}_item")
        (Schema.createArray(elem), (v: Any) => {
          val arr = v.asInstanceOf[ArrayData]
          val out = new java.util.ArrayList[Any](arr.numElements())
          var i = 0
          while (i < arr.numElements()) {
            out.add(if (arr.isNullAt(i)) null else encodeElem(arr.get(i, et)))
            i += 1
          }
          out
        })
      case MapType(StringType, vt, valueContainsNull) =>
        val (value, encodeValue) = field(vt, valueContainsNull, s"${path}_value")
        (Schema.createMap(value), (v: Any) => {
          val m = v.asInstanceOf[MapData]
          val keys = m.keyArray()
          val vals = m.valueArray()
          val out = new java.util.HashMap[String, Any](m.numElements())
          var i = 0
          while (i < m.numElements()) {
            out.put(keys.getUTF8String(i).toString,
              if (vals.isNullAt(i)) null else encodeValue(vals.get(i, vt)))
            i += 1
          }
          out
        })
      case other =>
        throw new UnsupportedOperationException(s"avro write: unsupported type $other")
    }
    (if (nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), base) else base, encode)
  }
}
