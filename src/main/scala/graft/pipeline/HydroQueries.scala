package graft.pipeline

import graft.QuerySpec

/** The hydro dataflow's stages as registered queries, each with the DuckDB
  * SQL that checks it. Both engines read the WaterML fixture parquet by
  * absolute path (see [[HydroFixture]]), so the testdata directory is
  * ignored. The driver's compare cannot sort nested struct or array cells,
  * so each stage is checked through its scalar projection (`featuresFlat`,
  * `mergedFlat`, `collectionCanonical`); the operators themselves still
  * emit the GeoJSON nested shapes. */
object HydroQueries {

  val specs: Seq[QuerySpec] = Seq(
    // q195: toFeatures replayed with struct_pack/list, then flattened
    // to the gate's scalar shape (featuresFlat) — 'undefined'
    // coalescing, the v0 guard and the [lon, lat] coordinates array
    // are the O5–O7 semantics; lon/lat are untouched doubles on both
    // engines so the bits come straight from the fixture parquet
    QuerySpec("q195_hydro_features", (s, _) =>
      HydroPipeline.featuresFlat(
        HydroPipeline.toFeatures(
          s.read.parquet(HydroFixture.FixtureFile))),
      s"""$hydroFeaturesCte
        |SELECT type, geometry.type AS geom_type,
        |  geometry.coordinates[1] AS lon, geometry.coordinates[2] AS lat,
        |  properties.record AS record, properties.id AS id,
        |  properties.site AS site, properties.srs AS srs,
        |  properties.siteCode AS siteCode,
        |  properties.variables[1].variableCode AS var_code,
        |  properties.variables[1].variableUnit AS var_unit,
        |  properties.variables[1].noDataValue AS var_nodata,
        |  properties.variables[1]."value" AS var_value,
        |  properties.variables[1]."timeStamp" AS var_ts
        |FROM feat""".stripMargin),
    // q196: the O11 merge — min_by over the (id, value, timeStamp)
    // ordering-key HEAD (the engine's xxhash64 metadata tail has no
    // DuckDB twin; HydroFixture asserts the head is tie-free at
    // generation time, making head-only ordering winner-equivalent),
    // per-branch winners via FILTER, one group per siteCode, flattened
    // to the gate's scalar shape (mergedFlat)
    QuerySpec("q196_hydro_merged", (s, _) =>
      HydroPipeline.mergedFlat(
        HydroPipeline.mergeSites(
          HydroPipeline.toFeatures(
            s.read.parquet(HydroFixture.FixtureFile)))),
      s"""$hydroFeaturesCte,
        |$hydroMergedCte
        |SELECT siteCode, geometry.type AS geom_type,
        |  geometry.coordinates[1] AS lon, geometry.coordinates[2] AS lat,
        |  properties.record AS record, properties.site AS site,
        |  properties.srs AS srs,
        |  properties.streamFlow.variableCode AS sf_code,
        |  properties.streamFlow.variableUnit AS sf_unit,
        |  properties.streamFlow.noDataValue AS sf_nodata,
        |  properties.streamFlow."value" AS sf_value,
        |  properties.streamFlow."timeStamp" AS sf_ts,
        |  properties.gageHeight.variableCode AS gh_code,
        |  properties.gageHeight.variableUnit AS gh_unit,
        |  properties.gageHeight.noDataValue AS gh_nodata,
        |  properties.gageHeight."value" AS gh_value,
        |  properties.gageHeight."timeStamp" AS gh_ts
        |FROM merged""".stripMargin),
    // q197: the O13 collect-to-one, rendered as the gate's canonical
    // pair (collectionCanonical): feature count + one SOH/STX/ETX-
    // delimited string in siteCode order — coordinates as fixed-point
    // micro-degrees through BIGINT so double→string rendering never
    // enters the hash (the r17 hash-mismatch root cause)
    QuerySpec("q197_hydro_collection", (s, _) =>
      HydroPipeline.collectionCanonical(
        HydroPipeline.toFeatureCollection(
          HydroPipeline.mergeSites(
            HydroPipeline.toFeatures(
              s.read.parquet(HydroFixture.FixtureFile))))),
      s"""$hydroFeaturesCte,
        |$hydroMergedCte,
        |fs AS (
        |  SELECT properties.siteCode AS sc,
        |    concat_ws(chr(1), 'Feature', properties.siteCode,
        |      geometry.type,
        |      coalesce(CAST(CAST(floor(geometry.coordinates[1] * 1000000 + 0.5) AS BIGINT) AS VARCHAR), chr(2)),
        |      coalesce(CAST(CAST(floor(geometry.coordinates[2] * 1000000 + 0.5) AS BIGINT) AS VARCHAR), chr(2)),
        |      coalesce(properties.record, chr(2)),
        |      coalesce(properties.site, chr(2)),
        |      coalesce(properties.srs, chr(2)),
        |      coalesce(properties.streamFlow.variableCode, chr(2)),
        |      coalesce(properties.streamFlow.variableUnit, chr(2)),
        |      coalesce(properties.streamFlow.noDataValue, chr(2)),
        |      coalesce(properties.streamFlow."value", chr(2)),
        |      coalesce(properties.streamFlow."timeStamp", chr(2)),
        |      coalesce(properties.gageHeight.variableCode, chr(2)),
        |      coalesce(properties.gageHeight.variableUnit, chr(2)),
        |      coalesce(properties.gageHeight.noDataValue, chr(2)),
        |      coalesce(properties.gageHeight."value", chr(2)),
        |      coalesce(properties.gageHeight."timeStamp", chr(2))) AS fstr
        |  FROM merged
        |  WHERE geometry IS NOT NULL AND properties IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_features,
        |  coalesce(string_agg(fstr, chr(3) ORDER BY sc), '') AS features
        |FROM fs""".stripMargin),
  )

  /** q195–q197 shared CTEs: the hydro fixture read + the toFeatures
    * projection (feat) and the per-site merge (merged), built with
    * struct_pack/list in EXACTLY the Spark struct field order —
    * nested values are compared as rendered dicts, so field order is
    * part of the contract. */
  private lazy val hydroFeaturesCte: String =
    s"""WITH t AS (SELECT * FROM read_parquet('${HydroFixture.FixtureFile}')),
       |tv AS (SELECT t.*, t."values"[1]."value"[1] AS v0 FROM t),
       |feat AS (
       |  SELECT 'Feature' AS type,
       |    struct_pack(type := 'Point',
       |      coordinates := [t.sourceInfo.geoLocation.geogLocation.longitude,
       |                      t.sourceInfo.geoLocation.geogLocation.latitude]) AS geometry,
       |    struct_pack(
       |      record := 'usgs-water',
       |      id := t.name,
       |      site := coalesce(t.sourceInfo.siteName, 'undefined'),
       |      srs := coalesce(t.sourceInfo.geoLocation.geogLocation.srs, 'undefined'),
       |      siteCode := t.sourceInfo.siteCode[1]."value",
       |      variables := [CASE WHEN t.v0 IS NOT NULL THEN struct_pack(
       |          variableCode := coalesce(t.variable.variableCode[1]."value", 'undefined'),
       |          variableUnit := coalesce(t.variable.unit.unitAbbreviation, 'undefined'),
       |          noDataValue := coalesce(CAST(t.variable.noDataValue AS VARCHAR), 'undefined'),
       |          "value" := t.v0."value",
       |          "timeStamp" := t.v0.dateTime)
       |        ELSE struct_pack(variableCode := NULL::VARCHAR, variableUnit := NULL::VARCHAR,
       |          noDataValue := NULL::VARCHAR, "value" := NULL::VARCHAR,
       |          "timeStamp" := NULL::VARCHAR)
       |        END]) AS properties
       |  FROM tv t)""".stripMargin

  private lazy val hydroMergedCte: String =
    """fv AS (
      |  SELECT properties.siteCode AS siteCode, geometry,
      |    properties.record AS record, properties.site AS site,
      |    properties.srs AS srs,
      |    properties.variables[1] AS var0,
      |    properties.variables[1].variableCode AS vc,
      |    properties.id || chr(1) ||
      |      coalesce(properties.variables[1]."value", '') || chr(1) ||
      |      coalesce(properties.variables[1].timeStamp, '') AS okey
      |  FROM feat
      |  WHERE properties.variables[1].variableCode IN ('00060', '00065')),
      |merged AS (
      |  SELECT siteCode,
      |    min_by(geometry, okey) AS geometry,
      |    struct_pack(
      |      record := min_by(record, okey),
      |      site := min_by(site, okey),
      |      srs := min_by(srs, okey),
      |      siteCode := siteCode,
      |      streamFlow := min_by(var0, okey) FILTER (WHERE vc = '00060'),
      |      gageHeight := min_by(var0, okey) FILTER (WHERE vc = '00065')) AS properties
      |  FROM fv GROUP BY siteCode)""".stripMargin
}
