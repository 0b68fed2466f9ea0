package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.WaterML

/** DataSource V2 TableProvider fetching USGS-shaped WaterML JSON over
  * paged GETs — the real-transport counterpart of
  * [[SyntheticObservations]] (same Table/Scan/partition skeleton, the
  * generator loop swapped for fetch-and-parse). This is the engine's
  * port of the reference's harvest transport: one request per US
  * state built from a URL template (reference harvest.js:12-17),
  * each response's `value.timeSeries[]` flattened with null elements
  * skipped (harvest.js:34-41).
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.v2.HttpObservations")
  *   .option("urlTemplate",
  *     "http://waterservices.usgs.gov/nwis/iv/?format=json&stateCd=%s&parameterCd=00065,00060")
  *   .option("states", "ak,az,ar")        // default: the 49 reference states
  *   .load()                              // rows match WaterML.timeSeries
  * }}}
  *
  * Transport is `java.net.URL` — `http(s)://` in production, `file://`
  * in the zero-egress tests (same code path, canned pages on disk).
  *
  * Scale design:
  *  - One InputPartition per page (state) by default, `statesPerPartition`
  *    to coarsen — the reference fetched its 49 states strictly
  *    sequentially (harvest.js:94-102); here pages fetch in parallel
  *    across executors, each parsed where it lands, no driver
  *    materialization.
  *  - Fetches are idempotent GETs, so Spark's task retry/speculation
  *    IS the retry policy (no partial-insert state to clean up,
  *    unlike the reference's insert-as-you-parse). A failed page
  *    fails its task with the state and URL in the message — loud,
  *    not a silent skip.
  *  - Top-level column pruning as in [[SyntheticObservations]]; the
  *    JSON parse itself only walks schema-declared paths, so
  *    unmodeled feed subtrees cost nothing but bytes on the wire.
  *  - The 16 MB single-document ceiling the reference inherits from
  *    MongoDB does not exist here: a page streams through Jackson
  *    into rows and is garbage the moment its iterator drains.
  */
class HttpObservations extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WaterML.timeSeries
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HttpObservations.ObsTable(new CaseInsensitiveStringMap(properties))
}

object HttpObservations {

  /** The reference's harvest page list (config.json.tmpl:7-13 — note
    * `al` is genuinely absent there; the list is copied verbatim,
    * divergence and all). */
  val DefaultStates: Seq[String] = Seq(
    "ak", "az", "ar", "ca", "co", "ct", "de", "fl", "ga", "hi", "id", "il",
    "in", "ia", "ks", "ky", "la", "me", "md", "ma", "mi", "mn", "ms", "mo",
    "mt", "ne", "nv", "nh", "nj", "nm", "ny", "nc", "nd", "oh", "ok", "or",
    "pa", "ri", "sc", "sd", "tn", "tx", "ut", "vt", "va", "wa", "wv", "wi",
    "wy")

  private[v2] class ObsTable(options: CaseInsensitiveStringMap)
      extends Table with SupportsRead {
    override def name(): String = "http_observations"
    override def schema(): StructType = WaterML.timeSeries
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
      val merged = new util.HashMap[String, String](options)
      merged.putAll(o)
      new ObsScanBuilder(new CaseInsensitiveStringMap(merged))
    }
  }

  private class ObsScanBuilder(options: CaseInsensitiveStringMap)
      extends ScanBuilder with SupportsPushDownRequiredColumns {
    private var required: StructType = WaterML.timeSeries
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = StructType(WaterML.timeSeries.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)))
    override def build(): Scan = {
      val template = options.get("urlTemplate")
      require(template != null && template.contains("%s"),
        "HttpObservations requires option urlTemplate containing a %s page placeholder")
      new ObsScan(
        template = template,
        states = Option(options.get("states"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(DefaultStates),
        statesPerPartition = options.getInt("statesPerPartition", 1),
        connectTimeoutMs = options.getInt("connectTimeoutMs", 10000),
        readTimeoutMs = options.getInt("readTimeoutMs", 60000),
        schema = required)
    }
  }

  private class ObsScan(template: String, states: Seq[String],
                        statesPerPartition: Int, connectTimeoutMs: Int,
                        readTimeoutMs: Int, schema: StructType)
      extends Scan with Batch {
    override def readSchema(): StructType = schema
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      states.grouped(math.max(1, statesPerPartition))
        .map(group => ObsPartition(group, template, connectTimeoutMs, readTimeoutMs))
        .toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new ObsReaderFactory(schema)
  }

  private case class ObsPartition(states: Seq[String], template: String,
                                  connectTimeoutMs: Int, readTimeoutMs: Int)
      extends InputPartition

  private class ObsReaderFactory(schema: StructType)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new ObsReader(p.asInstanceOf[ObsPartition], schema)
  }

  private class ObsReader(p: ObsPartition, schema: StructType)
      extends TimeSeriesRows(schema) with PartitionReader[InternalRow] {
    import TimeSeriesRows._

    private var remaining = p.states
    private var nodes: Iterator[JsonNode] = Iterator.empty
    private var node: JsonNode = _
    private var current: InternalRow = _

    override def next(): Boolean = {
      while (!nodes.hasNext && remaining.nonEmpty) {
        nodes = fetchPage(remaining.head)
        remaining = remaining.tail
      }
      if (!nodes.hasNext) false
      else { node = nodes.next(); current = row(); true }
    }

    /** GET one page and flatten its timeSeries array; null elements
      * are skipped exactly as the reference does (harvest.js:37). */
    private def fetchPage(state: String): Iterator[JsonNode] = {
      val url = p.template.replace("%s", state)
      val body =
        try {
          val conn = new java.net.URI(url).toURL.openConnection()
          conn.setConnectTimeout(p.connectTimeoutMs)
          conn.setReadTimeout(p.readTimeoutMs)
          val in = conn.getInputStream
          try new ObjectMapper().readTree(in)
          finally in.close()
        } catch {
          case e: Exception => throw new IllegalStateException(
            s"HttpObservations: page '$state' failed ($url): ${e.getMessage}", e)
        }
      val ts = body.path("value").path("timeSeries")
      if (!ts.isArray) Iterator.empty
      else ts.elements().asScala.filterNot(n => n.isNull || n.isMissingNode)
    }

    // --- JsonNode → InternalRow along exactly the schema-declared paths.
    // Missing/null leaves become SQL NULLs and a missing object
    // becomes a NULL struct — the same shape Spark's own JSON
    // datasource produces for these files, so the DSv2 path and
    // WaterML.timeSeriesOf are row-for-row interchangeable (asserted
    // by HttpObservationsSpec).

    private def strOrNull(n: JsonNode): UTF8String =
      if (n.isMissingNode || n.isNull) null else str(n.asText())
    // NOT Jackson's asDouble(): that coerces unparseable text to 0.0
    // silently — a "n/a" latitude would become a plausible-looking
    // coordinate. Numeric tokens pass through; string-encoded numbers
    // parse (as Spark's JSON datasource does for DoubleType); anything
    // else fails the task loudly.
    private def dblOrNull(n: JsonNode): Any =
      if (n.isMissingNode || n.isNull) null
      else if (n.isNumber) n.asDouble()
      else if (n.isTextual)
        try java.lang.Double.parseDouble(n.asText())
        catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"non-numeric value '${n.asText()}' in a double field")
        }
      else throw new IllegalStateException(
        s"unexpected ${n.getNodeType} token in a double field")
    private def objOrNull(n: JsonNode)(f: JsonNode => InternalRow): InternalRow =
      if (n.isMissingNode || n.isNull) null else f(n)
    private def arrOrNull(n: JsonNode)(f: JsonNode => Any): ArrayData =
      if (!n.isArray) null else array(n.elements().asScala.map(f).toArray[Any])
    private def codes(n: JsonNode): ArrayData =
      arrOrNull(n)(c => code(strOrNull(c.path("value"))))

    override protected def name(): UTF8String = strOrNull(node.path("name"))

    override protected def sourceInfo(): InternalRow =
      objOrNull(node.path("sourceInfo")) { si =>
        TimeSeriesRows.sourceInfo(
          strOrNull(si.path("siteName")),
          codes(si.path("siteCode")),
          objOrNull(si.path("geoLocation")) { gl =>
            geoLocation(objOrNull(gl.path("geogLocation")) { gg =>
              geogLocation(strOrNull(gg.path("srs")),
                dblOrNull(gg.path("latitude")), dblOrNull(gg.path("longitude")))
            })
          })
      }

    override protected def variable(): InternalRow =
      objOrNull(node.path("variable")) { v =>
        TimeSeriesRows.variable(
          codes(v.path("variableCode")),
          objOrNull(v.path("unit"))(u => unit(strOrNull(u.path("unitAbbreviation")))),
          dblOrNull(v.path("noDataValue")))
      }

    override protected def values(): ArrayData =
      arrOrNull(node.path("values")) { vs =>
        valueBlock(arrOrNull(vs.path("value"))(o =>
          observation(strOrNull(o.path("value")), strOrNull(o.path("dateTime")))))
      }

    override def get(): InternalRow = current
    override def close(): Unit = ()
  }
}
