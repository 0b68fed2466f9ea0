package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.WaterML

/** Catalyst rows of the [[WaterML.timeSeries]] shape, built directly —
  * `UTF8String` leaves, `GenericArrayData` arrays, nested
  * `GenericInternalRow`s — for both observation readers. There is no
  * external `Row`, no encoder and no per-row copy: the row a reader
  * hands Spark is the row it built.
  *
  * A reader subclasses this with its own producer for each top-level
  * field and calls [[row]] once per series. `schema` is the pruned
  * read schema; the position of each of its fields in the full shape
  * is resolved once per reader, and [[row]] calls only the producers
  * of the required fields, so a pruned subtree is never built.
  *
  * Null conventions (as in Spark's JSON datasource, which the HTTP
  * reader must match row for row): a missing leaf is `null`, a missing
  * object is a `null` struct, a missing array is a `null` array.
  *
  * Built values may be shared between rows (per-partition constants,
  * per-site structs) and so must never be mutated. */
private[v2] abstract class TimeSeriesRows(schema: StructType) {
  import TimeSeriesRows._

  private val slots: Array[Int] = schema.fieldNames.map(WaterML.timeSeries.fieldIndex)

  protected def name(): UTF8String
  protected def sourceInfo(): InternalRow
  protected def variable(): InternalRow
  protected def values(): ArrayData

  /** The current series, with exactly the fields of `schema`, in its order. */
  protected final def row(): InternalRow = {
    val out = new Array[Any](slots.length)
    var i = 0
    while (i < out.length) {
      out(i) = slots(i) match {
        case Name => name()
        case SourceInfo => sourceInfo()
        case Variable => variable()
        case _ => values()
      }
      i += 1
    }
    new GenericInternalRow(out)
  }
}

private[v2] object TimeSeriesRows {
  private val Name = WaterML.timeSeries.fieldIndex("name")
  private val SourceInfo = WaterML.timeSeries.fieldIndex("sourceInfo")
  private val Variable = WaterML.timeSeries.fieldIndex("variable")

  def str(s: String): UTF8String = UTF8String.fromString(s) // null stays null

  def array(elems: Array[Any]): ArrayData = new GenericArrayData(elems)

  /** `sourceInfo`: (siteName, siteCode[], geoLocation). */
  def sourceInfo(siteName: UTF8String, siteCodes: ArrayData,
                 geoLocation: InternalRow): InternalRow =
    new GenericInternalRow(Array[Any](siteName, siteCodes, geoLocation))

  /** `geoLocation`: the one-field wrapper of `geogLocation`. */
  def geoLocation(geogLocation: InternalRow): InternalRow =
    new GenericInternalRow(Array[Any](geogLocation))

  /** `geogLocation`: (srs, latitude, longitude); the doubles are boxed or null. */
  def geogLocation(srs: UTF8String, latitude: Any, longitude: Any): InternalRow =
    new GenericInternalRow(Array[Any](srs, latitude, longitude))

  /** `variable`: (variableCode[], unit, noDataValue). */
  def variable(codes: ArrayData, unit: InternalRow, noDataValue: Any): InternalRow =
    new GenericInternalRow(Array[Any](codes, unit, noDataValue))

  /** `unit`: (unitAbbreviation). */
  def unit(abbreviation: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](abbreviation))

  /** An element of `siteCode[]` or `variableCode[]`: (value). */
  def code(value: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](value))

  /** An element of `values[]`: (value[]). */
  def valueBlock(observations: ArrayData): InternalRow =
    new GenericInternalRow(Array[Any](observations))

  /** An element of `values[].value[]`: (value, dateTime). */
  def observation(value: UTF8String, dateTime: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](value, dateTime))
}
