package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonicalization of map-typed data for equality/set-ops.
  *
  * Spark cannot equality-compare, `exceptAll`, or `intersectAll` MapType
  * columns (SURVEY §7.5 — the trickiest parity detail: the reference's
  * `students.avro` fixture nests map<record<map<record>>>). The reference
  * sidesteps this with canonical JSON (`json-stable-stringify`,
  * `/root/reference/src/index.js:14,89-91`); here maps are rewritten —
  * recursively, through structs and arrays — into key-sorted entry arrays,
  * which ARE orderable/comparable. Pure Catalyst expressions, but not all
  * in codegen: `transform` and `array_sort` (`ArrayTransform`, `ArraySort`)
  * are `CodegenFallback` in Spark 4.1, so those steps run interpreted.
  */
object Canon {

  /** Does `dt` contain a MapType anywhere? */
  def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType => containsMap(a.elementType)
    case _ => false
  }

  /** Column with every nested map replaced by `array_sort(map_entries(m))`.
    * Identity for map-free types.
    */
  def canonical(c: Column, dt: DataType): Column = dt match {
    case m: MapType =>
      array_sort(transform(map_entries(c), e =>
        struct(
          canonical(e.getField("key"), m.keyType).as("key"),
          canonical(e.getField("value"), m.valueType).as("value"))))
    case s: StructType if containsMap(s) =>
      val rebuilt = struct(s.fields.toIndexedSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
      when(c.isNull, lit(null)).otherwise(rebuilt)
    case a: ArrayType if containsMap(a.elementType) =>
      transform(c, e => canonical(e, a.elementType))
    case _ => c
  }

  /** Null-safe equality that works for any pair of same-typed columns,
    * including map-bearing ones.
    */
  def nullSafeEq(a: Column, b: Column, dt: DataType): Column =
    canonical(a, dt) <=> canonical(b, dt)

  /** Rewrite all map-bearing columns of `df` so that downstream
    * exceptAll/intersectAll/groupBy work. Map-free DataFrames pass through
    * untouched.
    */
  def canonicalize(df: DataFrame): DataFrame = {
    if (!df.schema.fields.exists(f => containsMap(f.dataType))) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      canonical(df(f.name), f.dataType).as(f.name)
    }: _*)
  }
}
