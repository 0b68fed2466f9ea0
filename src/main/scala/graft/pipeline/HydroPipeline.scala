package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{ArrayHead, JsonLine}
import graft.sources.WaterML

/** The reference's whole dataflow — source → flatten → project →
  * filter ×2 → key-merge (join) → collect-to-one → sink — as a single
  * lazy Spark plan.
  *
  * Reference chain: geojsonMap projection (mapreduce.js:3-34), the two
  * variable-branch filters (mapreduce.js:40-50), mergeReduce
  * (mapreduce.js:52-99) dispatched as two mapReduce jobs re-reducing
  * into one collection (mongodb.js:78-120), and the final
  * FeatureCollection assembly (mongodb.js:122-145), orchestrated by an
  * async waterfall (harvest.js:104-139).
  *
  * Documented divergences from reference quirks (SURVEY.md §7):
  *  - `||`-coalesce (mapreduce.js:23-27) swallows `""`/`0`; here
  *    null-only `coalesce`.
  *  - variable labels: USGS 00065 is gage height, 00060 is
  *    streamflow/discharge; the reference routes 00065 into
  *    `streamFlow` (mapreduce.js:41,78-85). The engine keeps the
  *    two-branch structure with the correct labels.
  *  - last-writer-wins merge (mapreduce.js:61-77) is replaced by a
  *    deterministic min-by-series-id one-shot merge (order-independent
  *    even when a site carries duplicate series per variable) — the
  *    reference's re-reduce is also not idempotent (re-running throws
  *    at mapreduce.js:62-63).
  *  - feature id: the Mongo ObjectId `_id` (mapreduce.js:16,33) only
  *    needs uniqueness; the engine uses the USGS series `name`
  *    ("USGS:site:param:statistic"), which is unique per series and
  *    deterministic across runs.
  *
  * Scale notes (100 TB): the whole pipeline is one shuffle — the
  * per-site merge on siteCode ([[SiteMerge]]). The two variable
  * branches are two winner slots of that one fold, not two jobs
  * re-reducing into shared state (mongodb.js:96-115), so there is no
  * cross-job coordination and no second pass over the data.
  * Collect-to-one is kept for reference parity but
  * [[writeFeatureCollectionStreamed]] is the scale path — a
  * distributed JSON-lines write instead of buffering every feature in
  * one driver document (the reference's 16 MB BSON ceiling,
  * mongodb.js:125-137).
  */
object HydroPipeline {

  val GageHeightCode = "00065"
  val StreamFlowCode = "00060"

  private def undef(c: Column): Column = coalesce(c, lit("undefined"))

  /** First array element: null when the array is null or empty,
    * otherwise element 0 ([[ArrayHead]]). Semantically identical to
    * try_element_at(c, 1), but avoids TryEval: nested try_element_at
    * chains inlined into a pushed-down filter predicate hit a janino
    * scope bug under subexpression elimination ("isNull_N is not an
    * rvalue", Spark 4.1.2) and silently dropped the whole
    * scan-project-filter stage out of codegen. It is not
    * `when(size(c) > 0, c.getItem(0))` either: that form reads `c`
    * twice, and Catalyst substitutes toFeatures' synthesized
    * `properties.variables` array into both reads at every nesting
    * level, which pushed the map stage's generated method past the
    * 8,000 bytes HotSpot will JIT-compile (CodegenBudgetSpec). */
  private def arrHead(c: Column): Column = ArrayHead(c)

  /** O5–O8: project each time series into a GeoJSON Feature
    * (geojsonMap, mapreduce.js:3-34). Pure narrow map — no shuffle.
    * The guard on `values[0].value[0]` (mapreduce.js:22-28) becomes a
    * null `variableCode` that both downstream branch filters drop. */
  def toFeatures(ts: DataFrame): DataFrame = {
    val v0 = arrHead(arrHead(col("values")).getField("value"))
    val attrs = struct(
      undef(arrHead(col("variable.variableCode")).getField("value")).as("variableCode"),
      undef(col("variable.unit.unitAbbreviation")).as("variableUnit"),
      undef(col("variable.noDataValue").cast("string")).as("noDataValue"),
      v0.getField("value").as("value"),
      v0.getField("dateTime").as("timeStamp"))
    val emptyAttrs = struct(
      lit(null).cast("string").as("variableCode"),
      lit(null).cast("string").as("variableUnit"),
      lit(null).cast("string").as("noDataValue"),
      lit(null).cast("string").as("value"),
      lit(null).cast("string").as("timeStamp"))
    ts.select(
      lit("Feature").as("type"),
      struct(
        lit("Point").as("type"),
        array(
          col("sourceInfo.geoLocation.geogLocation.longitude"),
          col("sourceInfo.geoLocation.geogLocation.latitude")).as("coordinates")
      ).as("geometry"),
      struct(
        lit("usgs-water").as("record"),
        col("name").as("id"),
        undef(col("sourceInfo.siteName")).as("site"),
        undef(col("sourceInfo.geoLocation.geogLocation.srs")).as("srs"),
        arrHead(col("sourceInfo.siteCode")).getField("value").as("siteCode"),
        array(when(v0.isNotNull, attrs).otherwise(emptyAttrs)).as("variables")
      ).as("properties"))
  }

  /** O9–O10: one variable branch — equality filter on the nested
    * variableCode (streamFlowMap/gageHeightMap, mapreduce.js:40-50).
    * Exposed for parity; [[mergeSites]] fuses both branches into its
    * single fold so production plans never run two passes. */
  def byVariable(features: DataFrame, code: String): DataFrame =
    features.filter(variableCode === code)

  /** The variable code of a feature's first variable entry. */
  private def variableCode: Column = arrHead(col("properties.variables")).getField("variableCode")

  /** The filter of [[sitePartials]]: the reference merges ONLY the
    * 00060/00065 branch outputs (mapreduce.js:40-50 filters before each
    * mapReduce). A series with any other USGS parameter code
    * contributes nothing there, so admitting every non-null code would
    * emit all-null merged rows for sites the reference never emits, and
    * let them compete for a site's metadata. isin doubles as the O7
    * guard: empty-obs features carry a null code, and null isin(...)
    * is filtered. */
  private[graft] def branchFilter: Column = variableCode.isin(StreamFlowCode, GageHeightCode)

  /** O11: the per-site merge — semantically a key-equi full outer join
    * of the two variable streams (mergeReduce, mapreduce.js:52-99 +
    * the shared `out:{reduce:'joined'}`, mongodb.js:96-115), expressed
    * as ONE per-site fold ([[SiteMerge]]): a single shuffle on
    * siteCode, with a map-side partial fold before it.
    *
    * Decomposed as [[sitePartials]] → [[reduceStates]] →
    * [[finalizeState]]; the middle stage is associative + idempotent,
    * which is what makes the incremental [[mergeStates]] /
    * [[upsertMergedState]] re-reduce path possible. */
  def mergeSites(features: DataFrame): DataFrame =
    finalizeState(reduceStates(sitePartials(features)))

  /** O11 stage 1: one mergeable state row per input feature — every
    * merged value paired with the ordering key that will pick the
    * per-site winner. */
  private[graft] def sitePartials(features: DataFrame): DataFrame = {
    val var0 = arrHead(col("properties.variables"))
    val isFlow = col("var0.variableCode") === StreamFlowCode
    val isGage = col("var0.variableCode") === GageHeightCode
    // The merge keeps the row with the smallest key (min_by) instead
    // of the first one (first(ignoreNulls)): first() picks encounter
    // order, which is only deterministic when a site has a single
    // series per variable — with duplicates the
    // reference's last-writer-wins nondeterminism would leak back in.
    // The key is (series id, reading, timestamp), a total order even
    // for pathological feeds repeating a series id with different
    // readings. Rows with a null key never win, so the conditional
    // keys select within each variable branch only.
    // SOH (\u0001)-separated so the key is injective: an empty
    // separator would let distinct (value, timeStamp) pairs
    // concatenate equal ("1"+"23" vs "12"+"3") and reintroduce a
    // tie; \u0001 cannot appear in USGS series ids, readings, or
    // ISO timestamps.
    val ordKey = concat_ws("\u0001",
      col("properties.id"),
      coalesce(var0.getField("value"), lit("")),
      coalesce(var0.getField("timeStamp"), lit("")),
      // metadata-hash tail: makes the key total over the WHOLE row. A
      // feed can redeliver a series id with identical (value,
      // timeStamp) but revised sourceInfo (a geolocation correction
      // between fetches) or a revised variable unit/noData sentinel;
      // without the tail those rows tie and the merge picks by partition
      // encounter order — silently breaking the order-independence
      // this key exists to provide. The hash covers every surviving
      // column NOT already in the key head: the four metadata fields
      // plus var0's remaining attributes (unit, noDataValue — value
      // and timeStamp are the key head). Any deterministic total
      // order suffices; the hash is stable, not meaningful. The var0
      // fields are null-coalesced INSIDE the key: xxhash64 skips null
      // children, so without it (unit=null, noData=X) and (unit=X,
      // noData=null) would hash identically — an invariant that
      // otherwise held only because toFeatures coalesces both to
      // 'undefined', which callers feeding their own features into
      // mergeSitesState/sitePartials could silently violate. The same
      // treatment covers the metadata fields: every string input is
      // coalesced to NUL and the (non-string) geometry struct carries
      // an explicit null-indicator child, so the key is total over
      // ANY caller-supplied features, not just toFeatures' coalesced
      // output. NUL cannot appear in any field's domain, so the
      // sentinel collides with no real value.
      xxhash64(col("geometry"), col("geometry").isNull,
        coalesce(col("properties.record"), lit("\u0000")),
        coalesce(col("properties.site"), lit("\u0000")),
        coalesce(col("properties.srs"), lit("\u0000")),
        coalesce(var0.getField("variableUnit"), lit("\u0000")),
        coalesce(var0.getField("noDataValue"), lit("\u0000")))
        .cast("string"))
    features
      .filter(branchFilter)
      // ord_key is built once per row: project it and var0 to
      // attributes first, then derive both branch keys from the
      // attribute (the two projections stay separate: each attribute
      // is read more than once and neither expression is cheap).
      .select(
        col("properties.siteCode").as("siteCode"),
        col("geometry"),
        col("properties.record").as("record"),
        col("properties.site").as("site"),
        col("properties.srs").as("srs"),
        ordKey.as("ord_key"),
        var0.as("var0"))
      .select(
        col("siteCode"), col("geometry"), col("record"), col("site"), col("srs"),
        col("ord_key"),
        when(isFlow, col("var0")).as("flow_var"),
        when(isFlow, col("ord_key")).as("flow_key"),
        when(isGage, col("var0")).as("gage_var"),
        when(isGage, col("ord_key")).as("gage_key"))
  }

  /** O11 stage 2: reduce state rows to one per site, KEEPING the
    * winning ordering keys. Because every value travels with its key,
    * and raw partials and reduced states share one schema, the
    * reduction is associative and idempotent: any mix of
    * already-reduced states and fresh partials reduces to exactly the
    * one-shot merge over all underlying features. (The
    * reference's re-reduce is neither: re-running it throws,
    * mapreduce.js:62-63.) [[SiteMerge]] runs it as a partial fold per
    * input partition, one shuffle on siteCode, and a final fold. */
  private def reduceStates(state: DataFrame): DataFrame = SiteMerge(state)

  /** O11 stage 3: project the mergeable state to the published merged
    * shape (drops the ordering keys). Public because it is the read
    * side of the incremental API: persist [[mergeSitesState]] output,
    * re-reduce with [[mergeStates]], finalize for consumers. */
  def finalizeState(state: DataFrame): DataFrame =
    state.select(
      col("geometry"),
      struct(
        col("record"), col("site"), col("srs"), col("siteCode"),
        col("flow_var").as("streamFlow"),
        col("gage_var").as("gageHeight")).as("properties"))

  /** Mergeable per-site state of a feature batch — persist THIS (not
    * the finalized shape) to keep the merge continuously updatable. */
  def mergeSitesState(features: DataFrame): DataFrame =
    reduceStates(sitePartials(features))

  /** Re-reduce: combine existing per-site state with another state
    * batch. This is the reference's `out:{reduce:'joined'}` semantic
    * (mongodb.js:96-115) made associative and idempotent — merging a
    * batch twice, or in any grouping or order, yields the same state.
    *
    * Scale: cost is one shuffle over |state| + |increment| rows (one
    * row per known site plus the new batch's rows) — NOT a recompute
    * over every feature ever ingested. */
  def mergeStates(state: DataFrame, more: DataFrame): DataFrame =
    reduceStates(state.unionByName(more))

  /** Published (finalized) view of a persisted state table. */
  def mergedFromState(spark: SparkSession, statePath: String): DataFrame =
    finalizeState(spark.read.parquet(statePath))

  /** Continuously-updatable merged table on parquet: re-reduce the
    * persisted state with a fresh feature batch and swap the state
    * directory (write-to-staging + rename — the plain-filesystem
    * analog of a table-format MERGE INTO; a transactional format
    * would slot in here). Safe to re-run with the same batch: the
    * re-reduce is idempotent.
    *
    * STATE KEY FORMAT: persisted state stores `ord_key` strings, and
    * the key format is part of the state contract — a persisted key
    * is only comparable against keys produced by the SAME format.
    * The format has changed three times (round 11 added var0's unit/
    * noDataValue to the xxhash64 tail; round 12 null-coalesced those
    * two hash inputs; round 13 null-coalesced the four metadata hash
    * inputs and added geometry's null indicator — making the key
    * total for callers that bypass toFeatures' coalescing), so state
    * directories written by an older build
    * mix old- and new-format keys on re-reduce: winner selection
    * stays deterministic (any total order on strings is), but the
    * "equals the one-shot merge over all features" invariant
    * only holds within one format generation. After upgrading,
    * rebuild the state once from the underlying features (or accept
    * that pre-upgrade winners were chosen under the old order). */
  def upsertMergedState(spark: SparkSession, statePath: String,
                        freshFeatures: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val path = new Path(statePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // derive siblings from the NORMALIZED Path, not by string concat:
    // a trailing slash in statePath would make "statePath + .staging"
    // a CHILD of the state directory, so the retire rename drags the
    // staging dir along and the publish rename then fails — wedging
    // the state machine until manual cleanup
    val staging = path.suffix(".staging")
    val retired = path.suffix(".old")
    // crash recovery: a previous run that died between its two renames
    // leaves the last published state at `.old` and no `path`. Restore
    // it BEFORE looking at `path`, or this run would see "no existing
    // state" and silently publish the new batch alone — losing every
    // previously merged site. The increment that crashed mid-publish
    // is simply re-delivered by the caller; idempotence makes the redo
    // safe. (A leftover `.staging` is always discarded — `path` is the
    // only publication point.)
    if (!fs.exists(path) && fs.exists(retired)) {
      if (!fs.rename(retired, path))
        throw new java.io.IOException(s"could not restore $retired to $path")
    }
    val fresh = mergeSitesState(freshFeatures)
    val next =
      if (fs.exists(path)) mergeStates(spark.read.parquet(statePath), fresh)
      else fresh
    next.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(path) && !fs.rename(path, retired))
      throw new java.io.IOException(s"could not retire $path")
    if (!fs.rename(staging, path))
      throw new java.io.IOException(s"could not publish $staging to $path")
    fs.delete(retired, true)
  }

  /** O13: collapse to a single FeatureCollection-style document
    * (singleGeoJSONDoc, mongodb.js:122-145). Order pinned by siteCode
    * so the output is deterministic (the reference's cursor order is
    * whatever Mongo returns). Single-row global agg — reference
    * parity only; use [[writeFeatureCollectionStreamed]] at scale. */
  def toFeatureCollection(merged: DataFrame): DataFrame =
    merged
      .filter(col("geometry").isNotNull && col("properties").isNotNull)
      .agg(
        sort_array(collect_list(struct(
          col("properties.siteCode").as("k"),
          struct(lit("Feature").as("type"), col("properties"), col("geometry")).as("f")
        ))).as("sorted"))
      .select(transform(col("sorted"), e => e.getField("f")).as("data"))

  // ---------------------------------------------------------------
  // Driver-gate projections (round 18). The driver's oracle compare
  // sorts result rows by every column in pandas; nested struct/array
  // columns arrive as dict/ndarray cells and the sort throws
  // (unhashable type) — CORRECTNESS_r17 recorded q195/q196 as `err`
  // and q197's 1-row list<struct> cell as a rendering-dependent hash
  // mismatch. These projections re-express the SAME operator outputs
  // as scalar columns (the q116/q150 flatten convention) so the
  // flagship sits under the real gate. They change the gate-facing
  // SHAPE only — toFeatures/mergeSites/toFeatureCollection and every
  // consumer of the nested shapes are untouched.
  // ---------------------------------------------------------------

  /** [[toFeatures]] output with every nested field as a scalar column.
    * lon/lat pass through as raw doubles (no arithmetic on either
    * engine, so the bits match the fixture parquet exactly). */
  def featuresFlat(features: DataFrame): DataFrame = {
    val v = col("properties.variables").getItem(0)
    features.select(
      col("type"),
      col("geometry.type").as("geom_type"),
      col("geometry.coordinates").getItem(0).as("lon"),
      col("geometry.coordinates").getItem(1).as("lat"),
      col("properties.record").as("record"),
      col("properties.id").as("id"),
      col("properties.site").as("site"),
      col("properties.srs").as("srs"),
      col("properties.siteCode").as("siteCode"),
      v.getField("variableCode").as("var_code"),
      v.getField("variableUnit").as("var_unit"),
      v.getField("noDataValue").as("var_nodata"),
      v.getField("value").as("var_value"),
      v.getField("timeStamp").as("var_ts"))
  }

  /** [[mergeSites]] output with both variable branches flattened to
    * scalar columns (sf_* = streamFlow, gh_* = gageHeight). */
  def mergedFlat(merged: DataFrame): DataFrame = {
    def branch(name: String, pfx: String): Seq[Column] = {
      val b = col(s"properties.$name")
      Seq(
        b.getField("variableCode").as(s"${pfx}_code"),
        b.getField("variableUnit").as(s"${pfx}_unit"),
        b.getField("noDataValue").as(s"${pfx}_nodata"),
        b.getField("value").as(s"${pfx}_value"),
        b.getField("timeStamp").as(s"${pfx}_ts"))
    }
    merged.select(
      Seq(
        col("properties.siteCode").as("siteCode"),
        col("geometry.type").as("geom_type"),
        col("geometry.coordinates").getItem(0).as("lon"),
        col("geometry.coordinates").getItem(1).as("lat"),
        col("properties.record").as("record"),
        col("properties.site").as("site"),
        col("properties.srs").as("srs")) ++
        branch("streamFlow", "sf") ++ branch("gageHeight", "gh"): _*)
  }

  /** [[toFeatureCollection]] output rendered as TWO scalar columns:
    * the feature count and one canonical string — each feature's
    * fields SOH(\\u0001)-joined (nulls → STX \\u0002 so positions stay aligned;
    * concat_ws drops nulls), features ETX(\\u0003)-joined IN THE LIST'S OWN
    * ORDER, so the collect-to-one ordering contract is part of the
    * hash. Coordinates are fixed-point micro-degrees
    * (floor(x·1e6 + 0.5), the repo's floor-form rounding) cast
    * through BIGINT — both engines run the identical double
    * arithmetic, and BIGINT→string rendering is engine-independent
    * (double→string is not). */
  def collectionCanonical(collection: DataFrame): DataFrame = {
    def s(c: Column): Column = coalesce(c, lit("\u0002"))
    def e6(c: Column): Column =
      s(floor(c * 1000000.0d + 0.5d).cast("bigint").cast("string"))
    def featStr(f: Column): Column = {
      val p = f.getField("properties")
      val g = f.getField("geometry")
      def b(name: String): Seq[Column] = {
        val v = p.getField(name)
        Seq("variableCode", "variableUnit", "noDataValue", "value", "timeStamp")
          .map(fld => s(v.getField(fld)))
      }
      concat_ws("\u0001",
        Seq(s(f.getField("type")), s(p.getField("siteCode")),
          s(g.getField("type")),
          e6(g.getField("coordinates").getItem(0)),
          e6(g.getField("coordinates").getItem(1)),
          s(p.getField("record")), s(p.getField("site")),
          s(p.getField("srs"))) ++ b("streamFlow") ++ b("gageHeight"): _*)
    }
    collection.select(
      size(col("data")).cast("bigint").as("n_features"),
      array_join(transform(col("data"), f => featStr(f)), "\u0003").as("features"))
  }

  /** Scale path replacing O13's driver-side buffer: features as
    * distributed JSON lines (+ the enclosing FeatureCollection frame
    * is a trivial concat at read time). No single-point memory
    * ceiling, unlike the reference's one 16 MB document. Each line is
    * written by [[JsonLine]] straight from the row's UTF-8 bytes,
    * byte-identical to `to_json` of the same struct. */
  def writeFeatureCollectionStreamed(merged: DataFrame, path: String): Unit =
    featureLines(merged).write.mode(SaveMode.Overwrite).text(path)

  /** The lines [[writeFeatureCollectionStreamed]] writes, one `value`
    * string per feature. */
  private[graft] def featureLines(merged: DataFrame): DataFrame =
    merged
      .filter(col("geometry").isNotNull && col("properties").isNotNull)
      .select(JsonLine(struct(
        lit("Feature").as("type"), col("properties"), col("geometry"))).as("value"))

  /** Incremental ingest: response files landing in `inputPath` stream
    * through parse→flatten→project and append to a features table;
    * [[mergeSites]]/[[toFeatureCollection]] then run batch over the
    * accumulated features on demand. This is the reference's own
    * architecture (continuous harvest loop feeding batch mapReduce
    * stages, harvest.js:90-144) with exactly-once file-source
    * semantics instead of the reference's at-least-once inserts. */
  def ingestStream(spark: SparkSession, inputPath: String,
                   featuresPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    toFeatures(WaterML.timeSeriesStreamOf(spark, inputPath))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .format("parquet")
      .start(featuresPath)

  /** O14: the whole pipeline as one lazy plan (the reference's 5-stage
    * waterfall, harvest.js:104-139, materialized every stage to Mongo). */
  def run(spark: SparkSession, inputPath: String): DataFrame =
    toFeatureCollection(mergeSites(toFeatures(WaterML.timeSeriesOf(spark, inputPath))))
}
