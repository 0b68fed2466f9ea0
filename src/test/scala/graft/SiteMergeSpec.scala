package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.HydroPipeline

/** The per-site merge (O11) against a reference: the same reduction
  * written as one `groupBy(siteCode)` with a `min_by` per value and a
  * `min` per key. Rows must be equal, not just counts. */
class SiteMergeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def reference(state: DataFrame): DataFrame =
    state
      .groupBy(col("siteCode"))
      .agg(
        min_by(col("geometry"), col("ord_key")).as("geometry"),
        min_by(col("record"), col("ord_key")).as("record"),
        min_by(col("site"), col("ord_key")).as("site"),
        min_by(col("srs"), col("ord_key")).as("srs"),
        min(col("ord_key")).as("ord_key"),
        min_by(col("flow_var"), col("flow_key")).as("flow_var"),
        min(col("flow_key")).as("flow_key"),
        min_by(col("gage_var"), col("gage_key")).as("gage_var"),
        min(col("gage_key")).as("gage_key"))

  private def referenceState(f: DataFrame): DataFrame =
    reference(HydroPipeline.sitePartials(f))

  private val LongSite = "09999999"

  /** Seeded random features: duplicate series ids per site, exact
    * duplicate rows (full-key ties), a null siteCode, sites with one
    * branch only, null readings and timestamps, other and null
    * parameter codes, empty variable lists, null metadata, and one
    * site with 5,000 series. */
  private def features(seed: Long, n: Int = 2000): Seq[FeatureE] = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def orNull(p: Double, s: => String): String = if (rnd.nextDouble() < p) null else s
    def feature(site: String): FeatureE = {
      val i = if (site == null) -1 else site.takeRight(2).toInt
      val code =
        if (i >= 0 && i < 10) "00060" // one-branch sites
        else if (i >= 10 && i < 20) "00065"
        else pick("00060", "00065", "00060", "00065", "00010", null)
      val attrs = VarAttrE(code, pick("ft3/s", "ft", null), pick("-999999", null),
        orNull(0.15, rnd.nextInt(40).toString),
        orNull(0.1, pick("2026-01-01T00:00:00Z", "2026-01-01T00:15:00Z")))
      FeatureE("Feature",
        if (rnd.nextDouble() < 0.05) null
        else GeomE("Point", Seq(pick(-100.0, -101.5), pick(40.0, 41.25))),
        PropsE(pick("usgs-water", null), s"USGS:$site:$code:${pick("00000", "00003")}",
          pick("RIVER A", "RIVER B", null), pick("EPSG:4326", null), site,
          if (rnd.nextDouble() < 0.03) Seq.empty else Seq(attrs)))
    }
    val sites = (0 until 60).map(i => f"$i%08d")
    val base = Seq.fill(n)(feature(if (rnd.nextDouble() < 0.05) null else pick(sites: _*))) ++
      Seq.fill(5000)(feature(LongSite))
    rnd.shuffle(base ++ base.filter(_ => rnd.nextDouble() < 0.1))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    val (g, w) = (rows(got), rows(want))
    assert(g.size == w.size)
    g.zip(w).foreach { case (a, b) => assert(a == b) }
  }

  test("mergeSites equals the min_by reference on seeded random features") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val f = features(seed).toDF()
      val merged = HydroPipeline.mergeSites(f)
      assertSame(merged, HydroPipeline.finalizeState(referenceState(f)))
      // the generator reached the cases it exists for
      val sites = merged.select(col("properties.siteCode").as("s"),
        col("properties.streamFlow").isNotNull.as("flow"),
        col("properties.gageHeight").isNotNull.as("gage")).collect()
      assert(sites.exists(_.isNullAt(0)), "no null-siteCode group")
      assert(sites.exists(r => r.getBoolean(1) && !r.getBoolean(2)), "no flow-only site")
      assert(sites.exists(r => !r.getBoolean(1) && r.getBoolean(2)), "no gage-only site")
      assert(sites.exists(r => r.getBoolean(1) && r.getBoolean(2)), "no two-branch site")
      assert(sites.exists(r => !r.isNullAt(0) && r.getString(0) == LongSite))
    }
  }

  test("mergeSitesState equals the reference, schema and nullability included") {
    val f = features(4L).toDF()
    val state = HydroPipeline.mergeSitesState(f)
    assert(state.schema == referenceState(f).schema)
    assert(state.schema.map(_.nullable) == referenceState(f).schema.map(_.nullable))
    assertSame(state, referenceState(f))
  }

  test("an empty feature batch merges to zero rows with the reference's schema") {
    val f = Seq.empty[FeatureE].toDF()
    assertSame(HydroPipeline.mergeSitesState(f), referenceState(f))
    assert(HydroPipeline.mergeSites(f).count() == 0)
  }

  test("mergeStates over chunked batches equals the reference, in both orders") {
    val f = features(5L).toDF()
    def chunk(df: DataFrame, i: Int) = df.filter(pmod(xxhash64(col("properties.id")), lit(2)) === i)
    val (s0, s1) = (HydroPipeline.mergeSitesState(chunk(f, 0)), HydroPipeline.mergeSitesState(chunk(f, 1)))
    val (r0, r1) = (referenceState(chunk(f, 0)), referenceState(chunk(f, 1)))
    val oneShot = referenceState(f)
    assertSame(HydroPipeline.mergeStates(s0, s1), reference(r0.unionByName(r1)))
    assertSame(HydroPipeline.mergeStates(s1, s0), reference(r1.unionByName(r0)))
    assertSame(HydroPipeline.mergeStates(s0, s1), oneShot)
    assertSame(HydroPipeline.mergeStates(s1, s0), oneShot)
  }

  test("a merged state self-joins, and re-merges with itself unchanged") {
    val st = HydroPipeline.mergeSitesState(features(8L).toDF())
    val sites = st.count()
    assert(st.as("x").join(st.as("y"), col("x.siteCode") <=> col("y.siteCode")).count() == sites)
    assertSame(HydroPipeline.mergeStates(st, st), st)
  }

  test("pruned projections of the merge equal the same projections of the full merge") {
    // the fold reads its input columns by name: pruning any of them
    // below the operator would make it read past the row
    val f = features(6L).toDF()
    val full = HydroPipeline.mergeSites(f).collect()
    def projected(c: String): Seq[Row] = rows(HydroPipeline.mergeSites(f).select(c))
    assert(projected("geometry") == full.map(r => Row(r.get(0))).toSeq.sortBy(_.toString))
    assert(projected("properties.siteCode") ==
      full.map(r => Row(r.getStruct(1).getAs[String]("siteCode"))).toSeq.sortBy(_.toString))
  }

  test("a session with no extra strategies still plans and runs the merge operator") {
    val other: SparkSession = spark.newSession()
    assert(other.experimental.extraStrategies.isEmpty)
    val f = other.createDataFrame(features(7L))
    val merged = HydroPipeline.mergeSites(f)
    assert(merged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple")).contains("SiteMerge final"))
    assertSame(merged, HydroPipeline.finalizeState(referenceState(f)))
  }
}
