package graft.sources.avro

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{Conversions, LogicalTypes, Schema}
import org.apache.avro.Schema.Type._
import org.apache.avro.generic.{GenericData, GenericFixed, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro schema → Catalyst type and value decoder, plus reader-schema pruning.
  *
  * Mirrors the reference's data-model mapping (SURVEY §1.2/§1.5): nullable
  * unions `["null", T]` become nullable columns, records/arrays/maps become
  * StructType/ArrayType/MapType, enums/fixed become string/binary. The
  * reference's JS `Number` precision loss on large longs
  * (`/root/reference/README.md:26-27`) is deliberately NOT reproduced —
  * LongType is exact.
  *
  * Decoders replace the reference's avsc `'data'`-event row loop
  * (its `src/index.js:363-370`): a tree of per-field closures
  * built once per split, with no per-row reflection or schema walks.
  */
object AvroSchemaConverter {

  private type Decoder = Any => Any

  /** The Catalyst view of one Avro schema. `decoderFor(tableType)` builds
    * the decoder of this schema's runtime values into `tableType`, the
    * table's type at the same position: records match the table's fields by
    * name, and any other shape must map to `tableType` exactly, or it throws
    * an [[IllegalArgumentException]] naming the column and both types.
    */
  private final case class SchemaType(
      dataType: DataType, nullable: Boolean, decoderFor: DataType => Decoder)

  /** A type with no fields or elements: it reads only into itself. */
  private def leaf(path: String, dt: DataType, nullable: Boolean = false)(
      decode: Decoder): SchemaType =
    SchemaType(dt, nullable,
      table => if (table == dt) decode else throw mismatch(path, dt, table))

  /** One arm per Avro schema shape gives its Catalyst type, nullability and
    * decoder together; `path` is the column that mismatch errors name.
    */
  private def sqlType(schema: Schema, path: String): SchemaType =
    schema.getType match {
      case BOOLEAN => leaf(path, BooleanType)(identity)
      case INT =>
        schema.getLogicalType match {
          // logical date = days since epoch, same as Catalyst
          case _: LogicalTypes.Date => leaf(path, DateType)(identity)
          case _ => leaf(path, IntegerType)(identity)
        }
      case LONG =>
        schema.getLogicalType match {
          case _: LogicalTypes.TimestampMicros => leaf(path, TimestampType)(identity)
          case _: LogicalTypes.TimestampMillis => leaf(path, TimestampType)(millisToMicros)
          case _: LogicalTypes.LocalTimestampMicros => leaf(path, TimestampNTZType)(identity)
          case _: LogicalTypes.LocalTimestampMillis => leaf(path, TimestampNTZType)(millisToMicros)
          case _ => leaf(path, LongType)(identity)
        }
      case FLOAT => leaf(path, FloatType)(identity)
      case DOUBLE => leaf(path, DoubleType)(identity)
      case STRING | ENUM =>
        leaf(path, StringType) {
          case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
          case other => UTF8String.fromString(other.toString)
        }
      case BYTES | FIXED =>
        schema.getLogicalType match {
          case d: LogicalTypes.Decimal =>
            val conv = new Conversions.DecimalConversion
            leaf(path, DecimalType(d.getPrecision, d.getScale)) { v =>
              val bd = v match {
                case bb: ByteBuffer => conv.fromBytes(bb, schema, d)
                case f: GenericFixed => conv.fromFixed(f, schema, d)
              }
              Decimal(bd, d.getPrecision, d.getScale)
            }
          case _ if schema.getType == FIXED =>
            leaf(path, BinaryType)(v => v.asInstanceOf[GenericFixed].bytes().clone())
          case _ =>
            leaf(path, BinaryType) { v =>
              val bb = v.asInstanceOf[ByteBuffer]
              val bytes = new Array[Byte](bb.remaining())
              bb.duplicate().get(bytes)
              bytes
            }
        }
      case NULL => SchemaType(NullType, nullable = true, _ => _ => null)
      case RECORD => record(schema, path)
      case ARRAY =>
        val elem = sqlType(schema.getElementType, s"$path.element")
        val dt = ArrayType(elem.dataType, containsNull = elem.nullable)
        SchemaType(dt, nullable = false, {
          case ArrayType(tableElem, _) =>
            val decode = elem.decoderFor(tableElem)
            v => {
              val in = v.asInstanceOf[java.util.Collection[Any]]
              val out = new Array[Any](in.size())
              val it = in.iterator()
              var i = 0
              while (it.hasNext) { out(i) = decode(it.next()); i += 1 }
              new GenericArrayData(out)
            }
          case table => throw mismatch(path, dt, table)
        })
      case MAP =>
        val value = sqlType(schema.getValueType, s"$path.value")
        val dt = MapType(StringType, value.dataType, valueContainsNull = value.nullable)
        SchemaType(dt, nullable = false, {
          case MapType(StringType, tableValue, _) =>
            val decode = value.decoderFor(tableValue)
            v => {
              val in = v.asInstanceOf[java.util.Map[Any, Any]]
              val keys = new Array[Any](in.size())
              val vals = new Array[Any](in.size())
              val it = in.entrySet().iterator()
              var i = 0
              while (it.hasNext) {
                val e = it.next()
                keys(i) = UTF8String.fromString(e.getKey.toString)
                vals(i) = decode(e.getValue)
                i += 1
              }
              ArrayBasedMapData(keys, vals)
            }
          case table => throw mismatch(path, dt, table)
        })
      case UNION => union(schema, path)
      case other => throw new UnsupportedOperationException(s"Avro type $other")
    }

  private val millisToMicros: Decoder = v => v.asInstanceOf[Long] * 1000L

  /** Records decode by field name against the table's struct: a table field
    * the Avro record lacks is null, and an Avro field the table lacks is
    * skipped. That keeps files whose records gained or lost a field readable
    * under one table schema.
    */
  private def record(schema: Schema, path: String): SchemaType = {
    val avroFields = schema.getFields.asScala.toSeq
    val fieldTypes = avroFields.map(f =>
      sqlType(f.schema(), if (path.isEmpty) f.name() else s"$path.${f.name()}"))
    val dt = StructType(avroFields.zip(fieldTypes).map { case (f, t) =>
      StructField(f.name(), t.dataType, t.nullable)
    })
    SchemaType(dt, nullable = false, {
      case table: StructType =>
        val fieldDecoders: Array[GenericRecord => Any] = table.fields.map { sf =>
          Option(schema.getField(sf.name)) match {
            case None => (_: GenericRecord) => null
            case Some(af) =>
              val pos = af.pos()
              val decode = fieldTypes(pos).decoderFor(sf.dataType)
              (r: GenericRecord) => decode(r.get(pos))
          }
        }
        v => {
          val rec = v.asInstanceOf[GenericRecord]
          val n = fieldDecoders.length
          val out = new Array[Any](n)
          var i = 0
          while (i < n) { out(i) = fieldDecoders(i)(rec); i += 1 }
          new GenericInternalRow(out)
        }
      case table => throw mismatch(path, dt, table)
    })
  }

  private def union(schema: Schema, path: String): SchemaType = {
    val branches = schema.getTypes.asScala.toSeq
    val nonNull = branches.filter(_.getType != NULL)
    val nullable = nonNull.size < branches.size
    nonNull match {
      case Seq(only) =>
        val inner = sqlType(only, path)
        SchemaType(inner.dataType, nullable, table => {
          val decode = inner.decoderFor(table)
          v => if (v == null) null else decode(v)
        })
      case many if many.map(_.getType).toSet == Set(INT, LONG) =>
        leaf(path, LongType, nullable) { case null => null; case n: Number => n.longValue() }
      case many if many.map(_.getType).toSet == Set(FLOAT, DOUBLE) =>
        leaf(path, DoubleType, nullable) { case null => null; case n: Number => n.doubleValue() }
      case many =>
        // Genuinely mixed union (e.g. ["string","long","null"]): decode as
        // a member struct `struct<member0: T0, member1: T1, …>` with
        // exactly one non-null member per value — the same mapping
        // spark-avro uses, covering the full avsc union lattice the
        // reference accepts (`/root/reference/src/index.js:335-352`
        // delegates to avsc). Every member is nullable by construction.
        val members = many.zipWithIndex.map { case (b, i) => sqlType(b, s"$path.member$i") }
        val dt = StructType(members.zipWithIndex.map { case (m, i) =>
          StructField(s"member$i", m.dataType, nullable = true)
        })
        // resolveUnion needs the union WITHOUT the null branch so that its
        // indexes line up with the members.
        val nonNullUnion = Schema.createUnion(many.asJava)
        SchemaType(dt, nullable, {
          case table: StructType if table.length == members.length =>
            val decoders = members.zip(table.fields).map { case (m, f) =>
              m.decoderFor(f.dataType)
            }.toArray
            v => if (v == null) null else {
              val i = GenericData.get().resolveUnion(nonNullUnion, v)
              val out = new Array[Any](decoders.length)
              out(i) = decoders(i)(v)
              new GenericInternalRow(out)
            }
          case table => throw mismatch(path, dt, table)
        })
    }
  }

  private def mismatch(path: String, file: DataType, table: DataType) =
    new IllegalArgumentException(
      s"column `$path` has type ${file.simpleString} in the file, " +
        s"which cannot be read as the table's type ${table.simpleString}")

  def toStructType(schema: Schema): StructType =
    sqlType(schema, "").dataType match {
      case s: StructType => s
      case other =>
        throw new IllegalArgumentException(s"top-level Avro schema must be a record, got $other")
    }

  /** Decoder of records of the record schema `avro` into rows of `table`. */
  def rowDecoder(avro: Schema, table: StructType): GenericRecord => InternalRow = {
    val decode = sqlType(avro, "").decoderFor(table)
    r => decode(r).asInstanceOf[InternalRow]
  }

  /** Reader-schema projection: restrict a writer record schema to `names`
    * (in that order). This is the reference's `filteredSchema`
    * (`/root/reference/src/index.js:39-51`) done the Avro-native way — the
    * decoder *skips* dropped fields, it doesn't decode-then-drop.
    */
  def prune(writer: Schema, names: Seq[String]): Schema = {
    require(writer.getType == RECORD, s"cannot prune non-record schema ${writer.getType}")
    val fields = names.flatMap(n => Option(writer.getField(n)))
      .map(f => new Schema.Field(f, f.schema()))
    val rec = Schema.createRecord(
      writer.getName, writer.getDoc, writer.getNamespace, writer.isError)
    rec.setFields(fields.asJava)
    rec
  }
}
