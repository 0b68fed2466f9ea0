package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.WaterML

/** DataSource V2 TableProvider generating deterministic synthetic
  * USGS-shaped observations — the engine's demonstration of the custom
  * source tier (SURVEY.md §2a O1: "a custom DataSource V2
  * TableProvider for the REST API"; this is the deterministic load
  * generator, and [[HttpObservations]] is the real-transport reader
  * built on this exact skeleton with the generator loop swapped for a
  * paged GET).
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.v2.SyntheticObservations")
  *   .option("sites", 500).option("partitions", 8).option("seed", 42)
  *   .load()                          // rows match WaterML.timeSeries
  * }}}
  *
  * Scale design: the site range is split evenly across `partitions`
  * InputPartitions — each PartitionReader generates its slice
  * independently (no driver materialization, no shuffle), so the
  * source parallelizes to any cluster width and any row count.
  * Top-level column pruning is honored via
  * SupportsPushDownRequiredColumns: unprojected top-level fields are
  * never built (nested pruning is declined by
  * re-expanding to the full field — readSchema() reports exactly what
  * the reader produces, so Spark projects the rest). Rows are built
  * as Catalyst rows directly ([[TimeSeriesRows]]), and the reading and
  * timestamp text is printed from integers, so it does not depend on
  * the JVM's default locale. `sites` must be >= 0 and `partitions`
  * >= 1; anything else fails the scan with an IllegalArgumentException.
  *
  * Every row is a pure function of (site id, series index, seed):
  * rerunning a failed task regenerates identical data — the property
  * that makes speculative execution and task retries safe at scale.
  */
class SyntheticObservations extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WaterML.timeSeries
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SyntheticObservations.ObsTable(
      new CaseInsensitiveStringMap(properties))
}

object SyntheticObservations {
  val VariableCodes: Seq[(String, String, String)] = Seq(
    ("00060", "cfs", "discharge"), ("00065", "ft", "gage height"))

  private[v2] class ObsTable(options: CaseInsensitiveStringMap)
      extends Table with SupportsRead {
    override def name(): String = "synthetic_observations"
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
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownAggregates {
    private var required: StructType = WaterML.timeSeries
    private var pushedCounts: Int = 0
    override def pruneColumns(requiredSchema: StructType): Unit =
      // accept top-level pruning only: re-expand each kept field to its
      // full type so the rows we produce match readSchema exactly
      required = StructType(WaterML.timeSeries.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)))

    // Aggregate pushdown (the tier parquet metadata-count sits on):
    // an ungrouped COUNT(*) over this source is sites × |variables| by
    // construction — answered in O(1) at the scan, generating ZERO
    // rows. COMPLETE pushdown (not partial): the scan emits the final
    // count row, so no aggregation node executes at all. Anything
    // else (group-bys, other aggregates, residual filters — Spark
    // only offers the pushdown when the whole subtree below the
    // aggregate was pushed) falls back to the generating scan.
    private def isCountStarOnly(agg: Aggregation): Boolean =
      agg.groupByExpressions.isEmpty &&
        agg.aggregateExpressions.nonEmpty &&
        agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])
    override def supportCompletePushDown(agg: Aggregation): Boolean =
      isCountStarOnly(agg)
    override def pushAggregation(agg: Aggregation): Boolean =
      if (isCountStarOnly(agg)) {
        pushedCounts = agg.aggregateExpressions.length; true
      } else false

    // validated here, so the count scan and the generating scan both see it
    override def build(): Scan = {
      val sites = options.getLong("sites", 100L)
      val partitions = options.getInt("partitions", 4)
      require(sites >= 0, s"SyntheticObservations option 'sites' must be >= 0, got $sites")
      require(partitions >= 1,
        s"SyntheticObservations option 'partitions' must be >= 1, got $partitions")
      if (pushedCounts > 0)
        new ObsCountScan(sites * VariableCodes.length, pushedCounts)
      else new ObsScan(sites, partitions, seed = options.getLong("seed", 42L),
        schema = required)
    }
  }

  /** The O(1) answer to a completely-pushed COUNT(*): one partition,
    * one row, no generator loop — a count over a trillion-row
    * configuration returns instantly. */
  private class ObsCountScan(total: Long, nCounts: Int)
      extends Scan with Batch {
    override def readSchema(): StructType =
      StructType((0 until nCounts).map(i => StructField(s"count_$i", LongType)))
    override def toBatch: Batch = this
    override def description(): String =
      s"synthetic_observations PushedAggregates: [COUNT(*)], rows=$total"
    override def planInputPartitions(): Array[InputPartition] =
      Array(CountPartition(total, nCounts))
    override def createReaderFactory(): PartitionReaderFactory =
      new CountReaderFactory
  }

  private case class CountPartition(total: Long, nCounts: Int)
      extends InputPartition

  private class CountReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val cp = p.asInstanceOf[CountPartition]
        private var done = false
        override def next(): Boolean = if (done) false else { done = true; true }
        override def get(): InternalRow =
          new GenericInternalRow(Array.fill[Any](cp.nCounts)(cp.total))
        override def close(): Unit = ()
      }
  }

  private class ObsScan(sites: Long, partitions: Int, seed: Long,
                        schema: StructType) extends Scan with Batch {
    override def readSchema(): StructType = schema
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = {
      val per = math.max(1L, (sites + partitions - 1) / partitions)
      (0L until sites by per)
        .map(start => ObsPartition(start, math.min(start + per, sites), seed))
        .toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new ObsReaderFactory(schema)
  }

  private case class ObsPartition(startSite: Long, endSite: Long, seed: Long)
      extends InputPartition

  private class ObsReaderFactory(schema: StructType)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new ObsReader(p.asInstanceOf[ObsPartition], schema)
  }

  private class ObsReader(p: ObsPartition, schema: StructType)
      extends TimeSeriesRows(schema) with PartitionReader[InternalRow] {
    import TimeSeriesRows._

    // per-partition constants, shared by every row and never mutated
    private val srs = str("EPSG:4326")
    private val variables = VariableCodes.map { case (c, u, _) =>
      TimeSeriesRows.variable(array(Array[Any](code(str(c)))), unit(str(u)), -999999.0)
    }.toArray

    private var site = p.startSite
    private var series = 0
    private var current: InternalRow = _

    override def next(): Boolean =
      if (site >= p.endSite) false
      else {
        current = row()
        series += 1
        if (series == VariableCodes.length) { series = 0; site += 1 }
        true
      }

    // Every field is a pure function of (site id, variable index, seed):
    // the seed mixes through splitmix64-style multiplies.
    private def h(x: Long): Long = {
      var z = x + p.seed * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    }

    // site ids are >= 0, so codes from 10000000 up are 8 digits wide
    private def siteCode: String = (10000000L + site).toString

    override protected def name(): UTF8String =
      str("USGS:" + siteCode + ":" + VariableCodes(series)._1 + ":00000")

    override protected def sourceInfo(): InternalRow = {
      val lat = 25.0 + math.abs(h(site)) % 250000 / 10000.0
      val lon = -125.0 + math.abs(h(site + 1)) % 550000 / 10000.0
      TimeSeriesRows.sourceInfo(
        str("SYNTHETIC GAUGE " + site),
        array(Array[Any](code(str(siteCode)))),
        geoLocation(geogLocation(srs, lat, lon)))
    }

    override protected def variable(): InternalRow = variables(series)

    override protected def values(): ArrayData = {
      val cents = math.abs(h(site * 2 + series)) % 100000
      val minute = math.abs(h(site * 3 + series)) % 60
      // cents / 100 with two decimals; the sign covers
      // math.abs(Long.MinValue), which stays negative
      val reading = new java.lang.StringBuilder(8)
      if (cents < 0) reading.append('-')
      reading.append(math.abs(cents) / 100).append('.')
      twoDigits(reading, math.abs(cents) % 100)
      val dateTime = new java.lang.StringBuilder(29).append("2026-01-01T10:")
      twoDigits(dateTime, minute).append(":00.000-05:00")
      array(Array[Any](valueBlock(array(Array[Any](
        observation(str(reading.toString), str(dateTime.toString)))))))
    }

    /** Zero-pads 0..9 to two digits; any other value prints as is. */
    private def twoDigits(sb: java.lang.StringBuilder, n: Long): java.lang.StringBuilder =
      (if (n >= 0 && n < 10) sb.append('0') else sb).append(n)

    override def get(): InternalRow = current
    override def close(): Unit = ()
  }
}
