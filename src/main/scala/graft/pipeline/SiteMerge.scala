package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** O11's re-reduce as one operator: fold mergeable site-state rows
  * (the [[HydroPipeline]] state schema) to one row per `siteCode`.
  *
  * Per site it keeps three winners, each the row with the smallest
  * non-null key of its slot: metadata (geometry, record, site, srs) by
  * `ord_key`, the streamflow branch by `flow_key`, the gage-height
  * branch by `gage_key`. A null key never wins, a slot with no non-null
  * key yields nulls, equal keys keep the first row seen, and a null
  * `siteCode` is one group: exactly `groupBy(siteCode)` with a
  * `min_by(value, key)` / `min(key)` pair per column.
  *
  * It plans as a partial fold over each input partition (the map-side
  * combine), one hash exchange on `siteCode`, and a final fold. Both
  * phases stream over input sorted by `siteCode`; the planner inserts
  * those sorts (which spill) and the exchange from the operator's
  * required ordering and distribution. */
object SiteMerge {

  /** The state schema's columns, in output order. */
  private val Columns: Seq[String] = Seq("siteCode", "geometry", "record", "site", "srs",
    "ord_key", "flow_var", "flow_key", "gage_var", "gage_key")

  private val KeyColumns = Seq("siteCode", "ord_key", "flow_key", "gage_key")

  /** Reduce a state DataFrame (columns matched by name; others are
    * ignored) to one state row per site. */
  def apply(state: DataFrame): DataFrame = {
    install(state.sparkSession)
    val in = state.queryExecution.analyzed
    val attrs = Columns.map { name =>
      in.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"site merge: state has no column '$name' (columns: ${in.output.map(_.name).mkString(", ")})"))
    }
    attrs.filter(a => KeyColumns.contains(a.name)).foreach { a =>
      if (a.dataType != StringType) throw new IllegalArgumentException(
        s"site merge: '${a.name}' must be a string, not ${a.dataType.simpleString}")
    }
    // min_by/min results are nullable; the grouping column keeps its
    // nullability. Every output column is a new attribute, so a self-join
    // of the result can re-instance the node (MultiInstanceRelation).
    val key = attrs.head
    val output = AttributeReference(key.name, key.dataType, key.nullable)() +:
      attrs.tail.map(a => AttributeReference(a.name, a.dataType)())
    DatasetBridge.ofRows(state, Node(output, in))
  }

  /** Add the planner strategy to this session, once. */
  private def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(Planning)) x.extraStrategies = Planning +: x.extraStrategies
    }
  }

  /** Logical node. Its input columns are pinned: it reads them by name,
    * so column pruning must not drop any of them below it. */
  case class Node(output: Seq[Attribute], child: LogicalPlan)
      extends UnaryNode with MultiInstanceRelation {
    override def nodeName: String = "SiteMerge"
    override def references: AttributeSet = child.outputSet
    override def producedAttributes: AttributeSet = outputSet
    override def newInstance(): Node = copy(output = output.map(_.newInstance()))
    override protected def withNewChildInternal(newChild: LogicalPlan): Node = copy(child = newChild)
  }

  /** Plans [[Node]] as final fold over partial fold; the planner puts
    * the sorts and the one exchange between them. */
  object Planning extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Node(output, child) =>
        Exec(isFinal = true, output, Exec(isFinal = false, output, planLater(child))) :: Nil
      case _ => Nil
    }
  }

  /** One fold phase. The partial phase folds whatever each partition
    * holds; the final phase sees every row of a site in one partition. */
  case class Exec(isFinal: Boolean, output: Seq[Attribute], child: SparkPlan)
      extends UnaryExecNode {

    private def siteCode: Attribute = child.output.find(_.name == "siteCode").get

    override def nodeName: String = "SiteMerge"
    override def simpleString(maxFields: Int): String =
      s"$nodeName ${if (isFinal) "final" else "partial"} [$siteCode]"

    override def requiredChildDistribution: Seq[Distribution] =
      (if (isFinal) ClusteredDistribution(Seq(siteCode)) else UnspecifiedDistribution) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(Seq(SortOrder(siteCode, Ascending)))

    override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(output.head, Ascending))

    override def outputPartitioning: Partitioning = child.outputPartitioning match {
      case p: Expression with Partitioning if !p.references.subsetOf(outputSet) =>
        UnknownPartitioning(p.numPartitions)
      case p => p
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val ords = Columns.map(n => child.output.indexWhere(_.name == n)).toArray
      // reading a pruned-away column would read past the row
      require(ords.forall(_ >= 0),
        s"SiteMerge input lacks a state column: ${child.output.map(_.name).mkString(", ")}")
      val numIn = child.output.size
      val outTypes = output.map(_.dataType).toArray
      child.execute().mapPartitions { rows =>
        val sites = new Fold(ords, numIn, outTypes)
        new Iterator[InternalRow] {
          private var pending: InternalRow = _
          private var finished = false
          def hasNext: Boolean = {
            while (pending == null && rows.hasNext) pending = sites.add(rows.next())
            if (pending == null && !finished) { finished = true; pending = sites.finish() }
            pending != null
          }
          def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val o = pending
            pending = null
            o
          }
        }
      }
    }

    override protected def withNewChildInternal(newChild: SparkPlan): Exec = copy(child = newChild)
  }

  /** One winner slot: a copy of the input row holding the smallest key
    * seen so far in the current group. */
  private final class Slot(numFields: Int, keyOrd: Int) {
    private val buf = { val r = new UnsafeRow(numFields); r.pointTo(new Array[Byte](64), 64); r }
    private var key: UTF8String = _
    var row: UnsafeRow = _

    def reset(): Unit = { row = null; key = null }

    def offer(r: UnsafeRow): Unit = if (!r.isNullAt(keyOrd)) {
      val k = r.getUTF8String(keyOrd)
      if (key == null || k.compareTo(key) < 0) {
        buf.copyFrom(r)
        row = buf
        key = buf.getUTF8String(keyOrd)
      }
    }
  }

  /** Streaming fold over rows sorted by `siteCode`: `add` returns the
    * previous group's state row when a new group starts (else null),
    * `finish` the last group's (null when there was no input). */
  private final class Fold(ords: Array[Int], numIn: Int, outTypes: Array[DataType]) {
    private val meta = new Slot(numIn, ords(Columns.indexOf("ord_key")))
    private val flow = new Slot(numIn, ords(Columns.indexOf("flow_key")))
    private val gage = new Slot(numIn, ords(Columns.indexOf("gage_key")))
    // output column i (i > 0) is input column ords(i) of slot sources(i)'s
    // winner; column 0 is the group's siteCode
    private val sources: Array[Slot] = Array(null, meta, meta, meta, meta, meta, flow, flow, gage, gage)
    private val getters = Array.tabulate(outTypes.length)(i => InternalRow.getAccessor(outTypes(i)))
    private val out = new GenericInternalRow(outTypes.length)
    private val project = UnsafeProjection.create(outTypes)
    private var open = false
    private var site: UTF8String = _

    def add(row: InternalRow): InternalRow = {
      // physical operators emit UnsafeRows (the shuffle serializer
      // assumes the same); winners are copied with UnsafeRow.copyFrom
      val r = row.asInstanceOf[UnsafeRow]
      val s = if (r.isNullAt(ords(0))) null else r.getUTF8String(ords(0))
      var done: InternalRow = null
      if (!open || (if (s == null) site != null else !s.equals(site))) {
        if (open) done = emit()
        open = true
        site = if (s == null) null else s.clone()
        meta.reset(); flow.reset(); gage.reset()
      }
      meta.offer(r); flow.offer(r); gage.offer(r)
      done
    }

    def finish(): InternalRow = if (open) { open = false; emit() } else null

    private def emit(): InternalRow = {
      out.update(0, site)
      var i = 1
      while (i < sources.length) {
        val w = sources(i).row
        out.update(i, if (w == null) null else getters(i)(w, ords(i)))
        i += 1
      }
      project(out)
    }
  }
}
