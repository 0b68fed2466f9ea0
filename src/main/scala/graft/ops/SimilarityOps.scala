package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CosineSimilarity.cosineSimilarity
import graft.functions.L2Argmin.{l2Argmin, l2Scored}

/** Similarity search over the `embeddings` table (SURVEY.md §2c):
  * brute-force cosine top-k as the exact baseline, and an LSH
  * (random-hyperplane) bucketed variant as the scale path.
  *
  * Scale design (100 TB):
  *  - Brute force: the query vector is a broadcast literal; scoring
  *    is a narrow map with the codegen'd CosineSimilarity kernel and
  *    top-k is TakeOrderedAndProject — per-partition partial top-k,
  *    k-row merge on the driver. No shuffle of the corpus, ever.
  *  - ANN: 16 deterministic hyperplanes → 16-bit bucket per vector.
  *    Bucketing is a one-off narrow map (or a stored column /
  *    partition key in a real deployment); queries touch only their
  *    bucket (+ optional multi-probe neighbors), turning top-k from
  *    corpus-linear into bucket-linear.
  *  - Every single-query retrieval is probe ∘ rerank ∘ top-k: a probe
  *    source (all rows, LSH buckets, IVF lists) narrows the corpus,
  *    [[rerankTopK]] scores the candidates against [[queryVector]]
  *    with [[cosScore]] and keeps the top k under [[cosOrder]]. Both
  *    IVF codebooks, the label one and the Lloyd-trained one, are
  *    driver-side models served by one [[ivfServe]].
  */
object SimilarityOps {

  /** Per-invocation suffix for [[ivfIncrementalAppend]]'s index table —
    * construction-time writes must never clobber a concurrent or prior
    * invocation's catalog state (table names are not part of output). */
  private val ivfIncrSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Deterministic Rademacher (±1) hyperplanes derived from md5 —
    * sign(p, i) = +1 iff the first hex nibble of md5("p_i") < 8.
    * ±1 entries are a standard sign-random-projection family (same
    * collision-probability guarantee as Gaussian planes, Charikar
    * 2002), and — unlike a seeded Gaussian RNG — the matrix is
    * reproducible from ANY engine's md5, so the DuckDB oracle
    * recomputes the exact buckets and the whole ANN/near-dup LSH
    * pipeline is hash-checked end to end (q30/q40), not rows-only.
    * Materialized driver-side as literals — tiny (planes × dim). */
  private def planes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    md5Signs(nPlanes, dim, (p, i) => s"${p}_$i")

  /** The ±1 matrix whose (j, i) sign is +1 iff the first hex nibble of
    * md5(key(j, i)) is below 8: the LSH planes and q163's projection. */
  private def md5Signs(rows: Int, dim: Int, key: (Int, Int) => String): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(rows, dim) { (j, i) =>
      val d = md.digest(key(j, i).getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xF) < 8) 1.0 else -1.0
    }
  }

  /** The dot product of `emb` with one constant plane, folded in index
    * order in double — the fold the oracles' `list_sum` replays. */
  private def planeDot(emb: Column, plane: Array[Double]): Column =
    aggregate(
      zip_with(emb, array(plane.toIndexedSeq.map(v => lit(v)): _*),
        (x, w) => x.cast("double") * w),
      lit(0.0), (acc, v) => acc + v)

  /** The exact rerank score of every retrieval query: the codegen'd
    * cosine, rounded at 4 so both engines rank the same value. */
  private[ops] def cosScore(a: Column, b: Column): Column =
    round(cosineSimilarity(a, b), 4)

  /** The retrieval order: `cos` descending, ties to the lower `vec_id`. */
  private def cosOrder: Seq[Column] = Seq(col("cos").desc, col("vec_id"))

  /** The one-row `q_emb` frame of the query vector `id`. */
  private def queryVector(e: DataFrame, id: Long): DataFrame =
    e.filter(col("vec_id") === id).select(col("embedding").as("q_emb"))

  /** The single-query tail: each candidate (`vec_id`, `embedding` and
    * `carry`) joined to the broadcast query row `q` (a [[queryVector]]
    * frame, which may carry the query's probe set beside `q_emb`),
    * kept where `probed` holds, scored, then the top `k` under
    * [[cosOrder]] as one TakeOrderedAndProject — per-partition partial
    * top-k, a k-row merge on the driver. The probe test rides on the
    * one broadcast: a separate semi-join on the probe set would
    * broadcast the query row twice, one more job per query. */
  private def rerankTopK(cands: DataFrame, q: DataFrame, k: Int,
                         probed: Column = lit(true),
                         carry: Column = col("label").cast("int").as("label")): DataFrame =
    cands.crossJoin(broadcast(q)).filter(probed)
      .select(col("vec_id"), carry, cosScore(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(cosOrder: _*)
      .limit(k)

  /** Exact top-k by cosine against the embedding of `queryId`.
    * Deterministic: ties broken by vec_id. */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     queryId: Long = 0L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    rerankTopK(e.filter(col("vec_id") =!= queryId), queryVector(e, queryId), k)
  }

  /** LSH bucket id: sign bits of the dot products with the
    * hyperplanes, packed into an int. Pure narrow map (after a one-row
    * probe job when `dim` is not supplied).
    *
    * Graft call sites pass `dim = Tables.embeddingDim(spark, dir)` (a
    * once-per-path cached probe) so no per-call job runs; the inline
    * probe below is the fallback for arbitrary DataFrames.
    *
    * The plane dimension is read from the data rather than assumed:
    * a wrong dim would make zip_with null-pad, every dot product null,
    * and all vectors silently collapse into bucket 0 (LSH degenerates
    * to one O(n²) bucket). Rows whose embedding length differs from
    * the probed/declared dim — including null embeddings, which have
    * no direction to bucket — fail fast via raise_error with an
    * explicit message (the probe itself skips null rows, so a leading
    * null can't NPE the dimension read). */
  def withBucket(df: DataFrame, nPlanes: Int = 16, dim: Int = -1): DataFrame = {
    val d =
      if (dim > 0) dim
      else df.where(col("embedding").isNotNull)
        .select(size(col("embedding"))).take(1)
        .headOption.map(_.getInt(0)).getOrElse(1)
    val ps = planes(nPlanes, d)
    val bucket = (0 until nPlanes).map { p =>
      when(planeDot(col("embedding"), ps(p)) > 0, shiftleft(lit(1), p)).otherwise(0)
    }.reduce((a, b) => a.bitwiseOR(b))
    df.withColumn("bucket",
      when(col("embedding").isNull, raise_error(
        lit("null embedding: cannot LSH-bucket a missing vector " +
          "(filter nulls upstream or impute before bucketing)")))
        .when(size(col("embedding")) === d, bucket)
        .otherwise(raise_error(concat(
          lit(s"embedding dimension mismatch: hyperplanes are $d-dim, row has "),
          size(col("embedding")).cast("string")))))
  }

  /** The bucket and its Hamming-1 ball: the bucket, then each of its
    * `nPlanes` single-bit flips. */
  private def hammingBall(bucket: Column, nPlanes: Int): Column =
    array(bucket +: (0 until nPlanes).map(i => bucket.bitwiseXOR(shiftleft(lit(1), i))): _*)

  /** The LSH serve: the query row carries its probe buckets (`probes`
    * over its own `bucket` and `embedding`, given the planes), and
    * [[rerankTopK]] keeps the corpus rows whose bucket is one of them. */
  private def lshTopK(spark: SparkSession, dir: String, queryId: Long, k: Int,
                      nPlanes: Int)(probes: Array[Array[Double]] => Column): DataFrame = {
    val dim = Tables.embeddingDim(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val q = withBucket(queryVector(e, queryId).select(col("q_emb").as("embedding")), nPlanes, dim)
      .select(col("embedding").as("q_emb"), probes(planes(nPlanes, dim)).as("probe_buckets"))
    rerankTopK(withBucket(e, nPlanes, dim).filter(col("vec_id") =!= queryId), q, k,
      probed = array_contains(col("probe_buckets"), col("bucket")))
  }

  /** Per-label embedding centroids in flat (label, dim, mean, n)
    * form: posexplode each vector and average per (label, dimension).
    * Flat output keeps the oracle compare scalar-only; reassembling
    * the centroid array is a collect_list(struct(dim, mean)) away.
    *
    * Scale: one shuffle on (label, dim) with map-side partial sums;
    * cardinality after aggregation is labels × dim — tiny. This is the
    * building block for IVF index construction and class prototypes. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).as("mean"), count(lit(1)).as("n"))
      .select(col("label").cast("int").as("label"), col("pos").cast("bigint").as("dim"),
        col("mean"), col("n"))

  /** Affine int8 quantization of the embedding column — the standard
    * 4× compression step before shipping vectors to an ANN index or
    * training shards: per-vector scale = (max−min)/255, each
    * component mapped to floor((x−min)/scale + 0.5) ∈ [0,255].
    *
    * Exposed observables are integer-exact (quantized-value sum and
    * extremes) plus the floor-rounded scale, so the DuckDB oracle
    * replays the identical IEEE arithmetic — every double op here is
    * a single deterministic expression on both engines. Constant
    * vectors (max = min) quantize to all-zeros rather than dividing
    * by zero.
    *
    * Scale: posexplode → per-vector min/max → join back on vec_id →
    * narrow quantize map → per-vector sum. The stats table is one row
    * PER VECTOR — corpus-sized, so it is NOT broadcast (that would
    * ship the whole corpus to every executor at 100 TB); both join
    * sides already hash-partition on vec_id and the exchange is
    * shared with the aggregations, while AQE still turns the join
    * into a broadcast at small scale. (A transform() HOF would avoid
    * the explode but runs interpreted; the exploded form keeps the
    * arithmetic in codegen — cf. the MinHash signature build.) */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val exploded = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("col").cast("double").as("x"))
    val stats = exploded.groupBy(col("vec_id"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val q = when(col("mx") > col("mn"),
      floor((col("x") - col("mn")) / ((col("mx") - col("mn")) / 255.0) + 0.5)
        .cast("bigint")).otherwise(0L)
    exploded.join(stats, Seq("vec_id"))
      .select(col("vec_id"), col("mn"), col("mx"), q.as("q"))
      .groupBy(col("vec_id"))
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("q")).as("q_sum"),
        min(col("q")).as("q_min"),
        max(col("q")).as("q_max"),
        TextOps.roundAt((max(col("mx")) - max(col("mn"))) / 255.0, 9).as("scale"))
  }

  /** IVF top-k over a cross-engine-derivable codebook: the coarse
    * quantizer is the per-label centroid table (the
    * [[labelCentroids]] construction), so assignment, probe selection
    * and rerank are all recomputable by the DuckDB oracle — the IVF
    * MECHANISM (assign → probe nprobe inverted lists → exact rerank)
    * is hash-verified end to end, as it is for the Lloyd-trained
    * codebook of [[ivfLearnedTopK]] (q184), whose serve this is over a
    * different model. Assignment distance is a sequential (x−c)² fold
    * matching list_sum's order; centroid averages can differ from
    * DuckDB's in the last ulp, which only matters on exact
    * assignment-distance ties — label centroids are far apart by
    * construction. In production the codebook and the rk=1
    * assignment are persisted index state, not recomputed per query;
    * the per-query work is nprobe lists + a k-row TakeOrdered.
    *
    * Scale: the codebook (labels × dim doubles — KBs) is collected to
    * the driver once ([[ivfCodebook]]) and rides in the codegen'd
    * [[graft.functions.L2Argmin]] / [[graft.functions.L2Scored]]
    * kernels as a reference object, so assignment is a narrow per-row
    * map. No corpus row is ever replicated ×labels through an
    * exchange and no exchange carries the embedding column (PlanSpec
    * asserts this): the only shuffle builds the centroid table
    * itself, on exploded scalar (label, dim) rows. */
  def ivfLabelTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                   k: Int = 10, nprobe: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    ivfServe(e, ivfCodebook(e), queryId, k, nprobe)
  }

  /** The label codebook of `e`: each label's mean embedding, averaged
    * per (label, dim) in double, as a driver-side (label, centroid)
    * model in label-ascending order — the order that is the tie rule
    * of every assignment and probe against it. The flat (label, dim,
    * mean) rows are collected under [[MaxLloydModelRows]]. A null
    * label cannot be an inverted-list id, and a dimension no vector of
    * a label fills has no mean: both fail by name. */
  private[graft] def ivfCodebook(e: DataFrame): Seq[(Long, Array[Double])] = {
    val means = e.select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
    val rows = DriverResults.collectBounded(means, MaxLloydModelRows, "IVF label codebook")
    require(rows.forall(!_.isNullAt(0)),
      "IVF label codebook: a null label cannot be an inverted-list id")
    require(rows.forall(!_.isNullAt(2)),
      "IVF label codebook: a label has a dimension with no non-null value")
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (label, rs) =>
      (label, rs.sortBy(_.getInt(1)).map(_.getDouble(2)))
    }
  }

  /** The `nprobe` nearest lists of `emb` under `model`, nearest first:
    * the (d2, cl) structs sorted ascending, so distance ties go to the
    * lower list id. [[graft.functions.L2Scored]]'s elements are
    * non-null, so `sort_array` orders them as `array_sort` would, and
    * no lambda runs. */
  private[graft] def probeLists(emb: Column, model: Seq[(Long, Array[Double])], nprobe: Int): Column =
    slice(sort_array(l2Scored(emb, model)), 1, nprobe).getField("cl")

  /** Each (vec_id, label, embedding) row with its nearest list `clabel`
    * under `model` — the assignment the index write, the streaming
    * append and every IVF serve share. */
  private[graft] def ivfAssigned(e: DataFrame, model: Seq[(Long, Array[Double])]): DataFrame =
    e.select(col("vec_id"), col("label"), col("embedding"),
      l2Argmin(col("embedding"), model).getField("cl").as("clabel"))

  /** The IVF serve over a driver-side model: the corpus assigned to
    * its lists, the query row carrying its [[probeLists]], and
    * [[rerankTopK]] over the candidates in those lists. q87 serves the
    * label codebook, q184 and q46 a Lloyd-trained one. Approximate BY
    * CONTRACT: a neighbor assigned outside the probed lists is unseen. */
  private def ivfServe(e: DataFrame, model: Seq[(Long, Array[Double])], queryId: Long,
                       k: Int, nprobe: Int): DataFrame = {
    val q = queryVector(e, queryId)
      .select(col("q_emb"), probeLists(col("q_emb"), model, nprobe).as("probe_lists"))
    rerankTopK(ivfAssigned(e.filter(col("vec_id") =!= queryId), model), q, k,
      probed = array_contains(col("probe_lists"), col("clabel")))
  }

  /** The `clabel`s of `probes` on the driver, for a bucketed index
    * scan's IN-list, which must exist at plan time to prune. */
  private def probedLabels(probes: DataFrame): Seq[Long] =
    DriverResults.collectBounded(probes.select(col("clabel")),
      MaxLloydModelRows, "IVF probe labels").map(_.getLong(0)).toSeq

  /** Persist the IVF index: every corpus vector with its rk=1 coarse
    * assignment, as a clabel-bucketed sorted catalog table — the
    * "codebook and assignment are persisted index state, not
    * recomputed per query" production shape [[ivfLabelTopK]]'s doc
    * promises. Bucketing on the assignment label is what makes the
    * probe cheap: an inverted list IS a bucket. */
  def writeIvfIndex(spark: SparkSession, dir: String, table: String,
                    buckets: Int = 8): Unit =
    writeIvfIndexOf(Tables.embeddings(spark, dir), table, buckets)

  /** [[writeIvfIndex]] over an arbitrary (vec_id, label, embedding)
    * frame — the admission path indexes only the standing-corpus
    * slice, so the codebook and assignments must derive from that
    * slice alone. */
  def writeIvfIndexOf(e: DataFrame, table: String, buckets: Int = 8): Unit =
    graft.sources.Formats.writeBucketed(
      ivfAssigned(e, ivfCodebook(e)), table, "clabel", buckets)

  /** Streaming-ingest append: assign an arriving (vec_id, label,
    * embedding) batch against a SUPPLIED frozen codebook — never the
    * batch's own statistics; an arriving batch must not move the
    * centroids it is judged and filed against — and append it into
    * `table`'s bucket layout ([[graft.sources.Formats.appendBucketed]]
    * — history is never rewritten or reshuffled). This is the write
    * half of the foreachBatch ingest loop whose read half is
    * [[embeddingAdmissionOf]]: admit the micro-batch against the
    * standing index, append the admitted vectors, and the index the
    * NEXT micro-batch is judged against now includes them — the
    * evolving-index contract StreamingMultimodalSpec proves equal to a
    * sequential batch replay and to a frozen-codebook rebuild. Append
    * mode creates the table when absent, so a rebuild is this method
    * applied to the full corpus in one call. */
  def appendIvfIndexOf(batch: DataFrame, codebook: Seq[(Long, Array[Double])],
                       table: String, buckets: Int = 8): Unit =
    graft.sources.Formats.appendBucketed(
      ivfAssigned(batch, codebook), table, "clabel", buckets)

  /** Probe a [[writeIvfIndex]]-persisted index with BUCKET PRUNING:
    * the nprobe nearest coarse labels are resolved first (one tiny
    * codebook-sized job collected to the driver — KBs of index state,
    * NOT corpus data; the literal IN-list must exist at plan time for
    * the scan to prune), then the scan reads ONLY the buckets those
    * labels hash to — `SelectedBucketsCount: x out of n` in the plan,
    * spec-asserted with x < n. At 100 TB this is the difference
    * between scanning the whole corpus per query and reading
    * nprobe/nlist of it; verdict parity with the recompute-everything
    * [[ivfLabelTopK]] is oracle-gated (q101 carries q87's SQL). */
  def ivfBucketedTopK(spark: SparkSession, dir: String, table: String,
                      queryId: Long = 0L, k: Int = 10, nprobe: Int = 2): DataFrame = {
    // DisableUnnecessaryBucketedScan treats a bucketed scan as useless
    // when no join/agg exploits the partitioning and silently strips
    // it — taking bucket PRUNING down with it ("Bucketed: false
    // (disabled by query planner)", the probe reading all buckets).
    // Pruning is exactly why this scan exists, so pin the bucketed
    // read (cf. bucketedAdmission's outputOrdering opt-in) — but in a
    // DERIVED session, never by mutating the caller's: the conf is
    // session-global state, and the earlier save/pin/force/restore
    // form meant a concurrent query planned inside the pinned window
    // silently changed plan (single-threaded in Bench/Verify, but a
    // library must not carry that assumption). newSession() shares the
    // SparkContext, SharedState (catalog — so the bucketed table
    // resolves) and extensions, while conf changes stay private to the
    // probe; builder-level confs (shuffle partitions, timezone) are
    // SparkConf-backed and inherited. The physical plan is forced
    // while the DataFrame is bound to the pinned session (executedPlan
    // is a lazy val — the decision is cached for the returned frame's
    // later actions).
    val pinned = keepBucketedScans(spark)
    val e = Tables.embeddings(pinned, dir)
    val q = queryVector(e, queryId)
    val probeLabels = probedLabels(
      q.select(explode(probeLists(col("q_emb"), ivfCodebook(e), nprobe)).as("clabel")))
    val res = rerankTopK(pinned.table(table)
      .filter(col("clabel").isin(probeLabels: _*))
      .filter(col("vec_id") =!= queryId), q, k)
    res.queryExecution.executedPlan
    res
  }

  /** A session derived from `spark` whose planner keeps a bucketed
    * scan that no join or aggregation exploits, so its bucket pruning
    * survives (see [[ivfBucketedTopK]]). */
  private def keepBucketedScans(spark: SparkSession): SparkSession = {
    val pinned = spark.newSession()
    pinned.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    pinned
  }

  /** Incremental embedding-batch admission against a persisted
    * [[writeIvfIndexOf]] index — the embedding member of the admission
    * family (text q92/q95, media q102): each arriving vector is
    * assigned to its nprobe nearest coarse centroids, scored exactly
    * against ONLY those inverted lists, and admitted or flagged dup by
    * its best cosine against the standing corpus. Approximate by the
    * same contract as every IVF probe: a near-dup whose index
    * assignment is outside the batch vector's nprobe lists is unseen —
    * raise nprobe to trade cost for recall. The codebook comes from
    * the INDEX side alone (an arriving batch must not move the
    * centroids it is judged against).
    *
    * Scale: the codebook is driver-side model state (KBs) inside the
    * codegen'd probe kernel; the batch's distinct probe labels are
    * collected driver-side (≤ nlist rows —
    * index STATE, not corpus data; the literal IN-list must exist at
    * plan time for the bucketed scan to prune); the probe join keys on
    * clabel, the index table's bucket column, so the corpus side reads
    * pre-partitioned and never re-shuffles; per-vector verdicts are a
    * batch-sized rank window. At 100 TB the index scan reads the
    * probed lists' buckets, not the corpus. */
  def embeddingAdmission(spark: SparkSession, dir: String,
                         table: String = "graft_ivf_adm",
                         simThreshold: Double = 0.35,
                         nprobe: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val isBatch = pmod(col("vec_id"), lit(5)) === 4
    embeddingAdmissionOf(
      e.filter(isBatch).select(col("vec_id"), col("embedding")),
      ivfCodebook(e.filter(!isBatch)), spark.table(table),
      simThreshold, nprobe)
  }

  /** The verdict core of [[embeddingAdmission]], over ANY
    * (vec_id, embedding) batch frame against a standing codebook +
    * index. Verdicts are a pure function of (arriving vector,
    * codebook, index) — no cross-batch state — so a streaming ingest
    * runs this per micro-batch via foreachBatch against the persisted
    * index and gets batch-identical admission (spec-proven), the same
    * batch-boundary independence contract as the text and media
    * admission forms. */
  def embeddingAdmissionOf(batch: DataFrame, codebook: Seq[(Long, Array[Double])],
                           index: DataFrame,
                           simThreshold: Double = 0.35,
                           nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val batchProbes = batch
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        explode(probeLists(col("embedding"), codebook, nprobe)).as("clabel"))
    val probeLabels = probedLabels(batchProbes.select(col("clabel")).distinct())
    val w = Window.partitionBy(col("b_id")).orderBy(cosOrder: _*)
    val best = index
      .filter(col("clabel").isin(probeLabels: _*))
      .join(batchProbes, Seq("clabel"))
      .withColumn("cos", cosScore(col("embedding"), col("b_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("b_id"), col("vec_id").as("best_match"), col("cos").as("best_cos"))
    batch.select(col("vec_id"))
      .join(best, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"),
        coalesce(col("best_cos") >= simThreshold, lit(false)).as("is_dup"),
        col("best_match"), col("best_cos"))
  }

  /** Batch kNN join: exact top-k cosine neighbors for a whole SET of
    * query vectors at once (here the deterministic vec_id < nQueries
    * slice) — the curation shape behind "map every new document to its
    * nearest training examples / cluster exemplars", where one query
    * at a time ([[bruteForceTopK]]) would mean one corpus pass per
    * query. One corpus pass scores all queries.
    *
    * Scale: the query batch is BROADCAST (queries ≪ corpus — the
    * defining asymmetry of kNN join), so scoring is a narrow
    * broadcast-nested-loop map producing nQueries rows per corpus
    * vector; a per-partition bounded-heap combiner ([[partialTopK]])
    * then cuts each partition's contribution to ≤ k rows per query
    * BEFORE the rank window's exchange, so the shuffle carries
    * ≤ partitions × k scalar rows per query instead of one row per
    * (corpus vector, query) — the map-side-combine of top-k. The
    * combiner is EXACT: a row outside its partition's top-k is outside
    * the global top-k under the same (cos desc, vec_id asc) order, so
    * the window over the survivors returns the identical result
    * (brute-force parity + q91's oracle hash pin this). The exchange
    * still moves only (q_id, vec_id, label, cos) — never embeddings.
    * For corpus-sized query sets, LSH-bucket both sides
    * ([[withBucket]]) and kNN-join per bucket. q29's
    * TakeOrderedAndProject is the nQueries = 1 special case —
    * partial top-k, k-row merge. */
  def knnJoin(spark: SparkSession, dir: String,
              nQueries: Long = 20L, k: Int = 3): DataFrame = {
    // fail-loud contract guard: the whole design rests on queries ≪
    // corpus (the batch is broadcast AND each scoring partition holds
    // a heap per query). A corpus-sized nQueries would OOM the
    // executors long after the plan looked fine — reject it at plan
    // time instead. Corpus-scale query sets are the LSH-bucketed
    // per-bucket kNN path ([[withBucket]]), not this operator.
    require(nQueries <= 65536,
      s"knnJoin broadcasts the query batch and keeps k rows per query " +
        s"per partition; nQueries=$nQueries exceeds the broadcast-sized " +
        "contract (<= 65536). Bucket both sides (withBucket) and kNN-join " +
        "per bucket for corpus-sized query sets.")
    knnRanked(knnPartialTopK(spark, dir, nQueries, k), k)
  }

  /** The pre-exchange stage of [[knnJoin]]: broadcast-score, then the
    * per-partition bounded-heap combiner. Package-private so the spec
    * can assert the exchange-input row bound (≤ partitions × queries
    * × k) directly. */
  private[graft] def knnPartialTopK(spark: SparkSession, dir: String,
                                  nQueries: Long, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    knnCombined(e.crossJoin(broadcast(q)), k)
  }

  /** The kNN batch tail over (query, candidate) pairs carrying `q_id`,
    * `q_emb`, `vec_id`, `label` and `embedding`: score each pair,
    * then keep each partition's k best rows per query
    * ([[partialTopK]]).
    *
    * A null embedding (hence null cos) can never rank — the rank
    * window's default NULLS LAST on `cos DESC` would exclude it anyway,
    * so dropping it here preserves the untyped plan's semantics while
    * keeping the (Long, Long, Option[Int], Double) encoder total. A
    * null LABEL, by contrast, is a rankable neighbor — Option[Int]
    * carries it through the heap instead of throwing. */
  private def knnCombined(pairs: DataFrame, k: Int): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs.filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosScore(col("embedding"), col("q_emb")))
      .filter(col("cos").isNotNull)
      .select(col("q_id"), col("vec_id"), col("label").cast("int").as("label"), col("cos"))
      .as[(Long, Long, Option[Int], Double)]
      .mapPartitions(partialTopK(_, k))
      .toDF("q_id", "vec_id", "label", "cos")
  }

  /** Each query's surviving rows ranked under [[cosOrder]] (`rnk`,
    * bigint), the top `k` kept. */
  private def knnRanked(cands: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cands.withColumn("rnk",
        row_number().over(Window.partitionBy(col("q_id")).orderBy(cosOrder: _*)).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** Exact per-partition top-k: one bounded min-heap per query id,
    * retaining the k best rows under (cos desc, vec_id asc) — the same
    * total order the downstream rank window uses, which is what makes
    * the combiner lossless. Memory is O(queries-in-partition × k)
    * regardless of corpus size (the kNN-join asymmetry again: the
    * query batch is broadcast-sized by contract). Package-private for
    * direct spec coverage. */
  private[graft] def partialTopK[L](it: Iterator[(Long, Long, L, Double)],
                               k: Int): Iterator[(Long, Long, L, Double)] = {
    // "worst-first": the heap's head is the row that falls out next —
    // lower cos is worse; on ties the HIGHER vec_id is worse
    val worstFirst = new Ordering[(Long, Long, L, Double)] {
      def compare(a: (Long, Long, L, Double), b: (Long, Long, L, Double)): Int = {
        val c = java.lang.Double.compare(b._4, a._4)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    val heaps = scala.collection.mutable.LinkedHashMap
      .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, L, Double)]]
    it.foreach { row =>
      val h = heaps.getOrElseUpdate(row._1,
        scala.collection.mutable.PriorityQueue.empty(worstFirst))
      if (h.size < k) h.enqueue(row)
      else if (worstFirst.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row) }
    }
    heaps.valuesIterator.flatMap(_.iterator)
  }

  /** ANN top-k: hyperplane-bucket candidates with multi-probe (the
    * query probes its own bucket plus every bucket at Hamming
    * distance 1 — the standard recall/cost knob), exact cosine rerank
    * on candidates only. Plane count sizes bucket occupancy: 2^6
    * buckets here for the small test corpora; at 100 TB you'd raise
    * planes so buckets stay executor-sized and store the bucket as a
    * partition key. */
  def annTopK(spark: SparkSession, dir: String,
              queryId: Long = 0L, k: Int = 10, nPlanes: Int = 6): DataFrame =
    lshTopK(spark, dir, queryId, k, nPlanes)(_ => hammingBall(col("bucket"), nPlanes))

  /** q181: margin-guided multi-probe LSH (Lv et al. 2007) — probe the
    * query's own bucket plus the flips of only the `t` LOWEST-MARGIN
    * hyperplanes (the planes the query sits closest to, where a true
    * neighbor most plausibly landed on the other side). [[annTopK]]
    * probes the full Hamming-1 ball (nPlanes+1 buckets); this reads
    * t+1 — the standard recall-per-bucket economy that makes
    * multi-probe the production default: at 100 TB each probed bucket
    * is a scan, and margin ordering buys most of the 1-ball's recall
    * for a third of the reads.
    *
    * Exactness: margins are |query·plane| rounded at 4 with a
    * plane-index tie, selected by an in-plan struct array_sort (no
    * driver collect — the probe set is derived inside the plan);
    * plane dots are the q30 md5-derived fixed-order folds, so the
    * DuckDB oracle replays margins, flips, probes, and the exact
    * cosine top-k end to end. Approximate BY CONTRACT like every LSH
    * probe: a neighbor outside the probed buckets is unseen. */
  def multiProbeTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                     k: Int = 10, nPlanes: Int = 6, t: Int = 2): DataFrame =
    lshTopK(spark, dir, queryId, k, nPlanes) { ps =>
      val margins = array((0 until nPlanes).map(p =>
        struct(round(abs(planeDot(col("embedding"), ps(p))), 4).as("m"), lit(p).as("p"))): _*)
      val flips = slice(array_sort(margins), 1, t)
      // 2^p via exact double pow (shiftleft needs a literal shift); the
      // oracle mirrors with 2 ** p
      concat(
        array(col("bucket")),
        transform(flips, f =>
          col("bucket").bitwiseXOR(pow(lit(2.0d), f.getField("p")).cast("int"))))
    }

  /** L2 normalization of the embedding column — the feature-prep step
    * before any cosine machinery (a normalized corpus turns cosine
    * into a plain dot product, halving every downstream kernel).
    * Zero-norm vectors (no direction) get a NULL unit vector rather
    * than an Inf/NaN-filled one.
    *
    * The squared-norm fold and each element's division follow the
    * exact operation order of the q29 cosine oracle (index-order
    * `aggregate`, one `sqrt`, one divide), so DuckDB reproduces every
    * double bit-for-bit before the display rounding.
    *
    * Scale: one codegen'd narrow map — no shuffle, no join; at 100 TB
    * this pipelines with whatever scan feeds it. */
  def normalizeEmbeddings(df: DataFrame): DataFrame = {
    val sq = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    df.withColumn("norm", sqrt(sq))
      .withColumn("unit",
        when(col("norm") === 0.0d, lit(null))
          .otherwise(transform(col("embedding"),
            x => x.cast("double") / col("norm"))))
  }

  /** q150: [[normalizeEmbeddings]] flattened to (vec_id, dim, unit
    * value) rows — the q62 explode shape, because the oracle compare
    * hashes scalars, not arrays. Unit values and the norm are
    * floor-rounded at 6 for display; the norm of the unit vector is
    * re-derived per row as an in-plan check column (`unit_ok`: every
    * emitted row belongs to a vector whose rounded unit norm is 1). */
  def embeddingUnitRows(spark: SparkSession, dir: String): DataFrame = {
    val unitSq = aggregate(col("unit"), lit(0.0d), (acc, x) => acc + x * x)
    normalizeEmbeddings(Tables.embeddings(spark, dir))
      .filter(col("unit").isNotNull)
      .withColumn("unit_ok",
        TextOps.roundAt(sqrt(unitSq), 4) === 1.0d)
      .select(col("vec_id"), posexplode(col("unit")).as(Seq("dim", "v")),
        col("norm"), col("unit_ok"))
      .select(col("vec_id"), col("dim").cast("bigint").as("dim"),
        TextOps.roundAt(col("v"), 6).as("unit_v"),
        TextOps.roundAt(col("norm"), 6).as("norm"),
        col("unit_ok"))
  }

  /** Corpus-scale kNN join: the path [[knnJoin]]'s fail-loud guard
    * points at when the query set is itself corpus-sized and cannot
    * broadcast. Both sides LSH-bucket ([[withBucket]] — md5-derived
    * planes, so the DuckDB oracle recomputes the exact buckets and the
    * whole approximate join is hash-gated, not rows-only); queries
    * multi-probe their own bucket plus every Hamming-1 neighbor (the
    * [[annTopK]] recall knob); candidates score exactly within the
    * probed buckets; per-query top-k of the candidates is the answer.
    * Approximate BY CONTRACT: a neighbor whose bucket is ≥ 2 plane
    * flips away is unseen — raise nPlanes' probe radius or the plane
    * count to trade cost for recall.
    *
    * Scale: the candidate join's key is the BUCKET id — both sides
    * hash-partition on it, nothing broadcasts, and a query meets only
    * its probed buckets' corpus slice instead of the whole corpus
    * (bucket-linear, the 2^nPlanes-way blocked nested loop). A corpus
    * vector pairs with at most one probe row per query (one bucket per
    * vector), so candidate volume is bounded by occupancy × queries-
    * per-bucket. The same bounded-heap combiner as [[knnJoin]]
    * ([[partialTopK]]) cuts each partition's contribution to ≤ k rows
    * per query before the rank window's q_id exchange. */
  def knnJoinBucketed(spark: SparkSession, dir: String,
                      nQueries: Long = 20L, k: Int = 3,
                      nPlanes: Int = 6): DataFrame = {
    val e = withBucket(Tables.embeddings(spark, dir), nPlanes,
      dim = Tables.embeddingDim(spark, dir))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(hammingBall(col("bucket"), nPlanes)).as("bucket"))
    knnRanked(knnCombined(e.join(q, Seq("bucket")), k), k)
  }

  /** Two-stage quantized retrieval — the int8 ANN shape: every vector
    * is unit-normalized and SYMMETRICALLY quantized (q_i = round(127 ·
    * x_i / ‖x‖) — one shared scale, so the integer dot of two codes is
    * proportional to their cosine up to quantization error), candidates
    * are the top-`candidateK` by that exact-BIGINT dot, and the exact
    * float cosine kernel re-ranks only those. Per-vector AFFINE codes
    * ([[quantizeInt8]] — a storage scheme) are deliberately NOT used
    * here: each vector's own offset/scale makes raw affine dots
    * incomparable across candidates and recall collapses (measured
    * 2/10 vs 9/10 on this corpus). The point at 100 TB: the candidate
    * scan touches 1-byte codes (8× less memory traffic than float32,
    * SIMD-friendly on a real column store) and the expensive exact
    * kernel runs on `candidateK` rows, not the corpus.
    *
    * Cross-engine exactness: the integer dot is exact BIGINT
    * arithmetic (dim·127² ≈ 1M max — no IEEE concerns), the
    * normalize-then-floor quantizer is the q150 squared-norm fold plus
    * the floor-form rounding both engines share, and the re-rank
    * mirrors q29. So the whole two-stage mechanism is
    * oracle-checkable, unlike opaque PQ codebooks. */
  def quantizedRerank(spark: SparkSession, dir: String,
                      queryId: Long = 0L, candidateK: Int = 100,
                      k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // same left-to-right squared-norm fold as the q150 oracle parity
    def codes(v: Column): Column = {
      val norm = sqrt(aggregate(v, lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      when(norm > 0d,
        transform(v, x => floor(x.cast("double") / norm * 127.0 + 0.5).cast("bigint")))
        .otherwise(transform(v, _ => lit(0L)))
    }
    val q = queryVector(e, queryId)
    // codegen'd kernel, not aggregate(zip_with(...)): the candidate
    // scan is the corpus-wide stage, and the HOF form is interpreted
    val intDot = graft.functions.IntDotProduct.intDot(codes(col("embedding")), col("q_qv"))
    val shortlist = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q.select(codes(col("q_emb")).as("q_qv"))))
      .select(col("vec_id"), col("embedding"), intDot.as("int_dot"))
      .orderBy(col("int_dot").desc, col("vec_id"))
      .limit(candidateK)
    rerankTopK(shortlist, q, k, carry = col("int_dot"))
  }

  /** q224: product-quantization ADC retrieval (Jégou et al. 2011,
    * "Product quantization for nearest neighbor search") — the
    * memory-scaling step beyond q81/q156's SCALAR int8 quantization:
    * split the d-dim space into `m` subspaces, learn a small k-means
    * codebook PER subspace (the q169 Lloyd loop on subvectors), and
    * represent every vector by its m code ids — m·log₂k bits instead
    * of d floats (64-dim float32 → 4 bytes at m=4,k=4: a 64×
    * compression, and the knob a 100 TB corpus turns to keep its ANN
    * index in memory). Retrieval is ASYMMETRIC distance computation:
    * the query stays full-precision and its per-(subspace, centroid)
    * squared distances form an m×k lookup table, so a candidate's
    * approximate distance is just m LUT adds — no decode. The ADC
    * shortlist then reranks exactly (the q156 two-stage shape).
    *
    * Exactness: training IS [[lloydCentroids]] per subspace (first-k
    * seeds, per-dim exact sums, one division per dim); code
    * assignment and the LUT share the argmin convention (strict <
    * fold ≡ (d2, cl) rank over the cl-ascending codebook); the ADC
    * sum is a FIXED left-to-right m-term add; shortlist and final
    * ranks break ties on vec_id. The oracle replays every stage —
    * per-subspace Lloyd rounds included — as unrolled CTEs.
    *
    * Scale: ONE grouped training loop collects m×k×(d/m) model state
    * per round (one corpus pass per round, not m); encode+ADC is ONE corpus pass against a
    * broadcast (m·k)-row codebook literal ending in a bounded
    * partial top-`shortlist` (TakeOrderedAndProject); the exact
    * rerank touches `shortlist` rows. The corpus is never shuffled
    * and never materialized decoded. */
  def pqRerank(spark: SparkSession, dir: String, queryId: Long = 0L,
               m: Int = 8, k: Int = 8, iters: Int = 2,
               shortlist: Int = 50, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val dim = Tables.embeddingDim(spark, dir)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    // all m subspace codebooks in ONE grouped training loop (one
    // corpus pass per round, one plan shape — not m slice-literal
    // variants); identical per-subspace seeds/argmin/update arithmetic
    val eSub = e.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * sub + 1, sub)): _*)))
      .select(col("pos").cast("long").as("g"), col("vec_id"),
        col("col").as("embedding"))
    val cbs: Seq[(Long, Long, Seq[Double])] =
      lloydCentroidsGrouped(spark, eSub, k, iters)
        .map { case (g, cl, c) => (g, cl, c.toSeq) }
    val cbDf = Seq(Tuple1(cbs)).toDF("cbs")
    val q = queryVector(e, queryId)
    def subSlice(v: Column, s: Int) = slice(v, s * sub + 1, sub)
    def d2(a: Column, cent: Column) = aggregate(
      zip_with(a, cent, (x, w) => (x.cast("double") - w) * (x.cast("double") - w)),
      lit(0.0d), (acc, v) => acc + v)
    val per = (0 until m).map { s =>
      val cands = filter(col("cbs"), t => t.getField("_1") === s)
      val scoredS = transform(cands, t => struct(
        d2(subSlice(col("embedding"), s), t.getField("_3")).as("d2"),
        t.getField("_2").as("cl"),
        d2(subSlice(col("q_emb"), s), t.getField("_3")).as("qd2")))
      aggregate(scoredS,
        struct(lit(Double.MaxValue).as("d2"), lit(-1L).as("cl"), lit(0.0d).as("qd2")),
        (acc, x) => when(x.getField("d2") < acc.getField("d2"), x).otherwise(acc))
    }
    val approx = per.map(_.getField("qd2")).reduce(_ + _)
    val codeCols = per.zipWithIndex.map { case (b, s) => b.getField("cl").as(s"code$s") }
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(cbDf)).crossJoin(broadcast(q))
      .select(col("vec_id") +: col("embedding") +: col("q_emb") +:
        codeCols :+ approx.as("adc"): _*)
      .orderBy(col("adc"), col("vec_id"))
      .limit(shortlist)
      .withColumn("exact", d2(col("embedding"), col("q_emb")))
      .orderBy(col("exact"), col("vec_id"))
      .limit(topK)
      .select(col("vec_id") +:
        (0 until m).map(s => col(s"code$s")) :+
        round(col("adc"), 6).as("approx_d2") :+
        round(col("exact"), 6).as("d2"): _*)
  }

  /** Multi-query rank fusion: an ensemble of query vectors retrieves
    * independently and the per-query rankings fuse by Reciprocal Rank
    * Fusion (Cormack, Clarke & Büttcher 2009: score = Σ 1/(rrfK +
    * rank), the standard rrfK = 60) — the query-ensemble form used to
    * stabilize embedding retrieval when a single query vector
    * under-represents the intent (multi-probe / query-expansion
    * retrieval; also the fusion step of hybrid lexical+dense stacks).
    *
    * Exactness contract: each leg is the q29 exact top-`legK` ranking
    * (cosine rounded at 4, vec_id tie-break — deterministic
    * cross-engine), candidates never include any query vector, a
    * candidate absent from a leg's top-`legK` contributes zero, and
    * the fused sum is evaluated in FIXED leg order over the pivoted
    * rank columns (null-safe terms added left to right), so every
    * double is IEEE-identical to the DuckDB oracle's.
    *
    * Scale: each leg is an independent broadcast-probe + partial
    * top-k (TakeOrderedAndProject — bounded per-partition heaps,
    * never a global sort); fusion touches only queries × legK rows.
    * Plan size grows with the query-ensemble size, which is a fixed
    * handful by construction. */
  def multiQueryRRF(spark: SparkSession, dir: String,
                    queryIds: Seq[Long] = Seq(0L, 1L, 2L),
                    legK: Int = 100, k: Int = 20, rrfK: Int = 60): DataFrame = {
    require(queryIds.nonEmpty, "need at least one query vector")
    val e = Tables.embeddings(spark, dir)
    val legs = queryIds.zipWithIndex.map { case (qid, idx) =>
      rerankTopK(e.filter(!col("vec_id").isInCollection(queryIds)), queryVector(e, qid), legK)
        .withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(cosOrder: _*)).cast("bigint"))
        .select(col("vec_id"), lit(idx).as("leg"), col("rnk"))
    }
    val ranks = legs.reduce(_ unionByName _)
      .groupBy(col("vec_id"))
      .pivot("leg", queryIds.indices)
      .agg(first(col("rnk")))
    val rankCols = queryIds.indices.map(i => col(i.toString))
    // fixed left-to-right sum over the pivoted columns — never an
    // aggregation, so the IEEE operation order is part of the plan
    val rrf = rankCols
      .map(r => when(r.isNotNull, lit(1.0) / (lit(rrfK.toDouble) + r)).otherwise(lit(0.0)))
      .reduce(_ + _)
    ranks
      .withColumn("rrf_raw", rrf)
      .orderBy(col("rrf_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id") +:
        queryIds.indices.map(i => col(i.toString).as(s"rank_q$i")) :+
        TextOps.roundAt(col("rrf_raw"), 6).as("rrf"): _*)
  }

  /** q180: INCREMENTAL IVF index maintenance — the append-only refresh
    * path a production ANN index runs instead of rebuilding: a batch
    * of arriving vectors (vec_id ≡ 7 mod 10 here) is assigned against
    * the FROZEN standing-corpus codebook and appended into the same
    * bucket layout ([[graft.sources.Formats.appendBucketed]] — history
    * is never rewritten or reshuffled; Spark validates the bucket spec
    * against the catalog). Because assignment depends only on (vector,
    * codebook), append-then-serve is EQUAL BY CONSTRUCTION to
    * rebuild-then-serve under a frozen codebook — and the output
    * carries that proof in-plan: the served top-k from the appended
    * index joined against a from-scratch re-assignment serve, with a
    * per-row `match_rebuild` flag the oracle asserts TRUE (alongside
    * replaying the full standing-codebook probe semantics).
    *
    * Scale: the append touches only the batch (assignment = narrow
    * map against the driver-side codebook); serving reads only the
    * nprobe probed buckets of old+new files (the q101 pruned-scan
    * contract, pinned session); the rebuild serve exists here only as
    * the in-plan correctness witness. Codebook freezing is the
    * documented contract (same as [[embeddingAdmissionOf]]): a batch
    * must not move the centroids it is judged against — periodic
    * re-clustering is a separate offline job (q169's Lloyd). */
  def ivfIncrementalAppend(spark: SparkSession, dir: String,
                           table: String = "",
                           queryId: Long = 0L, k: Int = 10,
                           nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // CONSTRUCTION-TIME SIDE EFFECTS by design: this operator's subject
    // IS index maintenance, so building the query materializes the
    // bucketed index (write + append) and probes the frozen codebook —
    // the forced executedPlan below pins the bucketed-scan plan before
    // the session conf can drift. To keep that safe under repeated or
    // concurrent registry invocation, the index table is NAMESPACED PER
    // INVOCATION unless the caller pins a name (single-run semantics
    // are then the caller's contract).
    val tbl = if (table.nonEmpty) table
      else s"ivf_incr_idx_${ivfIncrSeq.incrementAndGet()}"
    val e = Tables.embeddings(spark, dir)
    val isBatch = pmod(col("vec_id"), lit(10L)) === 7L
    val standing = e.filter(!isBatch)
    val batch = e.filter(isBatch)
    val codebook = ivfCodebook(standing) // FROZEN: standing slice only
    graft.sources.Formats.writeBucketed(ivfAssigned(standing, codebook), tbl, "clabel", 8)
    appendIvfIndexOf(batch, codebook, tbl, 8)

    // probe labels from the frozen codebook (index state, not corpus)
    val probeLabels = probedLabels(queryVector(e, queryId)
      .select(explode(probeLists(col("q_emb"), codebook, nprobe)).as("clabel")))
    def serve(src: DataFrame, q: DataFrame): DataFrame =
      rerankTopK(src.filter(col("clabel").isin(probeLabels: _*))
        .filter(col("vec_id") =!= queryId), q, k)
        .withColumn("rank", row_number().over(Window.orderBy(cosOrder: _*)).cast("long"))
    // the incr serve is built ENTIRELY in the pinned session (the
    // ivfBucketedTopK discipline) so its bucketed-scan conf applies
    val pinned = keepBucketedScans(spark)
    val incr = serve(pinned.table(tbl), queryVector(Tables.embeddings(pinned, dir), queryId))
    val rebuild = serve(ivfAssigned(e, codebook), queryVector(e, queryId))
      .select(col("rank").as("r_rank"), col("vec_id").as("r_vec"),
        col("cos").as("r_cos"))
    // coalesce to FALSE: a rebuild leg returning fewer rows must fail
    // the oracle's all-TRUE assertion LOUDLY, not as a silent NULL
    val res = incr.join(rebuild, col("rank") === col("r_rank"), "left")
      .select(col("rank"), col("vec_id"), col("label"), col("cos"),
        coalesce(col("vec_id") === col("r_vec") && col("cos") === col("r_cos"),
          lit(false)).as("match_rebuild"))
      .orderBy(col("rank"))
    res.queryExecution.executedPlan
    res
  }

  /** q168: Maximal Marginal Relevance diversity re-rank (Carbonell &
    * Goldstein 1998) — greedily select `k` of the top-`candK`
    * retrieval candidates maximizing
    * `λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`: the standard
    * redundancy-penalized re-rank every retrieval stack runs after
    * its ANN stage (near-duplicate hits crowd out coverage otherwise).
    *
    * Exactness: rel and all pairwise sims are cosines rounded at 4;
    * each greedy pick maximizes the raw `λ·rel − (1−λ)·msim` double
    * (identical IEEE expression both engines, vec_id tie) — the
    * DuckDB oracle replays the loop as unrolled CTE stages.
    *
    * Scale shape: the corpus is touched exactly twice — the top-candK
    * TakeOrderedAndProject and one semi-filtered rescan for candidate
    * embeddings (a FRESH scan, deliberately not a self-join of the
    * candidate frame: Spark's self-join attribute dedup on array
    * columns is the known trap, see [[DedupOps.bucketPairs]]). The
    * greedy loop itself never sees the corpus: it runs over the
    * checkpointed candK-row candidate list and candK²-row sim matrix
    * (bounded query-time model state, the house IVF-probe rule), one
    * tiny argmax action per pick via lazy localCheckpoint (the q159
    * round shape). k and candK are query constants — plan size is
    * static. Fewer than k candidates yield one pick per candidate;
    * none (a one-vector corpus, or no query vector) yields no rows. */
  def mmrRerank(spark: SparkSession, dir: String, queryId: Long = 0L,
                k: Int = 10, candK: Int = 50, lam: Double = 0.7): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cand = rerankTopK(e.filter(col("vec_id") =!= queryId), queryVector(e, queryId), candK)
      .select(col("vec_id"), col("cos").as("rel"))
      .localCheckpoint(false)
    val candIds = cand.select(col("vec_id"))
    // candidate-pair sim matrix from a fresh scan (lineage-safe), all
    // ordered pairs a ≠ b; candK² rows, checkpointed once
    val ea = Tables.embeddings(spark, dir)
      .join(candIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("a"), col("embedding").as("ea"))
    val eb = Tables.embeddings(spark, dir)
      .join(candIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("b"), col("embedding").as("eb"))
    val sims = ea.join(broadcast(eb), col("a") =!= col("b"))
      .select(col("a"), col("b"),
        cosScore(col("ea"), col("eb")).as("sim"))
    // The greedy loop runs DRIVER-SIDE over the collected candidate
    // list and sim matrix — candK and candK² rows of bounded
    // query-time model state (the house IVF-probe/q159 collect rule;
    // candK is a query constant, never corpus-scaled). The previous
    // unroll ran one lazy-checkpoint Spark job per pick: k−1
    // scheduler round-trips over ≤ candK-row frames, ~2.5 s of pure
    // job latency at any scale (r20 clean: 3.27 s for a query whose
    // distributed work — one TakeOrdered scan + one candK² broadcast
    // join — costs well under a second). Arithmetic is unchanged
    // IEEE: rel/sim are the collected rounded-at-4 doubles, each
    // pick maximizes lam·rel − (1−lam)·msim with the vec_id
    // tie-break, and the display rounding stays Spark's own round()
    // so the output is bit-identical to the unrolled plan.
    // (rel desc, vec_id asc) on the driver: Double.compare puts NaN
    // above every number, as Spark's descending order does
    val candLocal = DriverResults.collectBounded(cand, candK, "MMR candidates")
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortWith { case ((ia, ra), (ib, rb)) =>
        val c = java.lang.Double.compare(rb, ra)
        if (c != 0) c < 0 else ia < ib
      }
    val simLocal = DriverResults.collectBounded(sims, candK * candK, "MMR candidate similarities")
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val msim = scala.collection.mutable.Map.empty[Long, Double]
    var picks = Vector.empty[(Long, Long, Double, Double)] // rank, id, rel, mmr
    for (r <- 1 to math.min(k, candLocal.length)) {
      val chosen =
        if (r == 1) {
          val (id, rel) = candLocal.head // already (rel desc, vec_id asc)
          (id, rel, rel)
        } else {
          val selected = picks.map(_._2).toSet
          candLocal.iterator
            .filter { case (id, _) => !selected.contains(id) }
            .map { case (id, rel) =>
              (id, rel, lam * rel - (1.0 - lam) * msim(id))
            }
            // max mmr, ties to the smallest vec_id: candLocal is
            // vec_id-ascending within equal rel, but mmr reorders, so
            // compare explicitly
            .reduceLeft { (best, c) =>
              if (c._3 > best._3 || (c._3 == best._3 && c._1 < best._1)) c else best
            }
        }
      picks = picks :+ ((r.toLong, chosen._1, chosen._2, chosen._3))
      candLocal.foreach { case (id, _) =>
        if (id != chosen._1) {
          val s = simLocal((id, chosen._1))
          if (!msim.contains(id) || s > msim(id)) msim(id) = s
        }
      }
    }
    import spark.implicits._
    DriverResults.sortedLocal(
      picks.toDF("rank", "vec_id", "rel", "mmr")
        .select(col("rank"), col("vec_id"), col("rel"), round(col("mmr"), 6).as("mmr")),
      col("rank"))
  }

  /** q169: Lloyd's k-means TRAINING loop (the real thing — q87/q162
    * use the label codebook as a deterministic stand-in; this learns
    * centroids from data). `iters` assignment passes over the corpus
    * seeded from the first `k` vectors by vec_id, with a centroid
    * update after each pass but the last; the output is the final
    * assignment with its squared distance.
    *
    * Exactness, cross-engine: assignment distance is a per-row fold
    * over dims in fixed index order (the q87/q162 `aggregate`-HOF ↔
    * `list_sum` parity); the centroid mean is exact because the
    * inputs are float32 values summed in double — 24-bit mantissas
    * across this corpus stay inside double's 53-bit headroom, so the
    * cross-row sum is the same exact value in ANY order (the
    * established q87/q162 avg(v) argument) and the division is one
    * deterministic IEEE op. Ties at the assignment boundary break to
    * the lowest cluster id via a (d2, cl) struct `least`. A cluster
    * that empties simply vanishes (no centroid row), mirrored by the
    * oracle's join semantics. The DuckDB oracle replays ALL rounds as
    * unrolled MATERIALIZED CTE stages.
    *
    * Scale shape — this is exactly how distributed Lloyd's works on a
    * real cluster: the centroid model (k×dim doubles — bounded MODEL
    * STATE, the q159 per-round-collect rule) broadcasts into a pure
    * narrow assignment map (plan literals, zero exchange), and each
    * update is ONE shuffle of (cl, pos) partial sums with map-side
    * combine. Rounds are `iters` corpus passes — Lloyd's inherent
    * cost; nothing driver-side ever holds corpus-sized data. */
  def kmeansLloyd(spark: SparkSession, dir: String, k: Int = 8,
                  iters: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    lloydAssign(spark, e, lloydCentroids(spark, e, k, iters))
      .select(col("vec_id"), col("cluster"), round(col("d2"), 6).as("d2"))
      .orderBy(col("vec_id"))
  }

  /** q218: simplified silhouette per cluster for the q169-trained
    * k-means — the clustering-quality readout (did k fit the data?)
    * computed the only way that survives 100 TB: the EXACT silhouette
    * compares each point against every point (O(n²)); the simplified
    * form (Hruschka et al.'s standard reduction, what ML libraries
    * ship as their distributed silhouette) compares each point
    * against the k CENTROIDS — a = distance to own centroid, b =
    * nearest OTHER centroid, s = (b−a)/max(a,b) — making it one
    * broadcast-model narrow map over the corpus plus a k-sized
    * rollup. s ≈ 1 means tight, well-separated clusters; s ≤ 0 means
    * the point sits closer to another centroid than its own (k too
    * large, or Lloyd stuck).
    *
    * Exactness: per-row distances are the q169 fixed-index-order
    * folds, a/b/s one shared IEEE tree; per-row s is floor-form
    * scaled to an exact long (the q217/q191 device), so the
    * per-cluster mean is an order-independent integer sum and one
    * division. A degenerate max(a,b) = 0 (point == every centroid)
    * reads s = 0 on both engines. Requires ≥ 2 surviving clusters
    * (with one cluster "nearest other centroid" is undefined — the
    * metric itself is, not just the query).
    *
    * Scale: the trained model rides in the codegen'd
    * [[graft.functions.L2Scored]] expression (reference-object form —
    * the lloydAssign discipline); ONE corpus pass computes all k
    * distances per row; the aggregation is k-sized with map-side
    * partials. */
  def kmeansSilhouette(spark: SparkSession, dir: String, k: Int = 8,
                       iters: Int = 3): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = lloydCentroids(spark, e, k, iters)
    val scored = e
      .select(col("vec_id"),
        l2Scored(col("embedding"), cents).as("scored"))
      .select(col("vec_id"), col("scored"),
        aggregate(col("scored"),
          struct(lit(Double.MaxValue).as("d2"), lit(-1L).as("cl")),
          (acc, s) => when(s.getField("d2") < acc.getField("d2"), s)
            .otherwise(acc)).as("best"))
      // no OTHER surviving cluster (k collapsed to 1): the metric is
      // undefined for the row — drop it, mirroring the oracle's inner
      // join (NOT MaxValue, which would read as a perfect s = 1)
      .select(col("vec_id"), col("best"),
        filter(col("scored"),
          s => s.getField("cl") =!= col("best").getField("cl")).as("others"))
      .filter(size(col("others")) > 0)
    val bd2 = aggregate(col("others"), lit(Double.MaxValue),
      (acc, s) => when(s.getField("d2") < acc, s.getField("d2")).otherwise(acc))
    val a = sqrt(col("best").getField("d2"))
    val b = sqrt(col("bd2"))
    val sRaw = when(greatest(a, b) === 0.0d, lit(0.0d))
      .otherwise((b - a) / greatest(a, b))
    scored
      .select(col("best").getField("cl").as("cluster"), bd2.as("bd2"),
        col("best"))
      .select(col("cluster"),
        floor(sRaw * lit(1e6) + lit(0.5)).cast("long").as("si"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("si")).as("ssum"))
      .select(col("cluster"), col("n_members"),
        TextOps.roundAt(col("ssum").cast("double") /
          (col("n_members").cast("double") * lit(1e6)), 6).as("mean_silhouette"))
      .orderBy(col("cluster"))
  }

  /** q208: cross-source embedding drift — the pairwise L2 and cosine
    * distance matrix between per-source embedding CENTROIDS (via the
    * documents↔embeddings doc_id = vec_id bridge). Completes the
    * source-comparison suite: q200 compares QUALITY distributions,
    * q207 VOCABULARY, q165 literal duplication — this compares where
    * sources sit in semantic space, the "is this crawl actually
    * different content or the same content re-hosted" readout before
    * paying for cross-source dedup (far centroids ⇒ skip the
    * expensive pairwise pass between those sources).
    *
    * Exactness: centroids are exact per-dim double means (the q169
    * float32-in-double-headroom property); distances and cosine are
    * index-order folds, one sqrt/divide tree each, rounded at 6.
    *
    * Scale: one posexplode aggregation to (source, pos) means — the
    * only corpus-sized work; the matrix is a self-join of the
    * sources-sized centroid dim. */
  def sourceEmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val cents = Tables.embeddings(spark, dir)
      .join(src, Seq("vec_id"))
      .select(col("source"), posexplode(col("embedding")))
      .groupBy(col("source"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(col("source"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cent"))
    val prs = cents.select(col("source").as("src_a"), col("cent").as("ca"))
      .crossJoin(cents.select(col("source").as("src_b"), col("cent").as("cb")))
      .filter(col("src_a") < col("src_b"))
    def fold(f: (Column, Column) => Column): Column =
      aggregate(zip_with(col("ca"), col("cb"), f), lit(0.0), (a, v) => a + v)
    val dot = fold((x, y) => x * y)
    val na = aggregate(col("ca"), lit(0.0), (a, v) => a + v * v)
    val nb = aggregate(col("cb"), lit(0.0), (a, v) => a + v * v)
    prs.select(col("src_a"), col("src_b"),
      TextOps.roundAt(sqrt(fold((x, y) => (x - y) * (x - y))), 6).as("l2"),
      TextOps.roundAt(dot / (sqrt(na) * sqrt(nb)), 6).as("cos"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q206: retrieval quality metrics — precision@k, MRR and nDCG@k
    * for the exact cosine ranking ([[knnJoin]]) over the standing
    * query set, with binary relevance = label match. The IR eval
    * harness every retrieval stack runs on a labeled slice before an
    * index change ships: the exact ranking is the reference the ANN
    * variants (q30/q181/q184) are graded against, and these are the
    * numbers that grading reports.
    *
    * Exactness: relevance and ranks are exact longs; the DCG is a
    * RANK-ORDERED fold (collect + array_sort + aggregate — the
    * q158/q177 sorted-fold convention) of rel·ln2/ln(rank+1) terms
    * with the engines' ln parity (q161 convention); the ideal DCG
    * folds over least(|label| − 1, k) positions with an m = 0 guard
    * (Spark's `sequence(1, 0)` DESCENDS — it is never evaluated
    * unguarded); precision and MRR are single divisions. All three
    * rounded at 6.
    *
    * Scale: the per-query top-k comes from [[knnJoin]]'s bounded-heap
    * combiner (one corpus pass, ≤ partitions × k rows per query into
    * the rank exchange); query labels and per-label corpus counts are
    * broadcast dims; the metric rollup is queries-sized. */
  def retrievalMetrics(spark: SparkSession, dir: String,
                       nQueries: Long = 20L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qLabels = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").cast("int").as("q_label"))
    val labCounts = e.groupBy(col("label").cast("int").as("lbl"))
      .agg(count(lit(1)).as("n_lbl"))
    val ln2 = log(lit(2.0))
    val hits = knnJoin(spark, dir, nQueries, k)
      .join(broadcast(qLabels), Seq("q_id"))
      .withColumn("rel",
        when(col("label") === col("q_label"), lit(1L)).otherwise(lit(0L)))
    val perQ = hits.groupBy(col("q_id"), col("q_label"))
      .agg(
        sum(col("rel")).as("n_rel"),
        min(when(col("rel") === 1L, col("rnk"))).as("first_rel"),
        aggregate(
          array_sort(collect_list(struct(col("rnk"), col("rel")))),
          lit(0.0),
          (acc, s) => acc + s.getField("rel").cast("double") * ln2 /
            log(s.getField("rnk").cast("double") + lit(1.0))).as("dcg"))
    val withM = perQ
      .join(broadcast(labCounts), col("q_label") === col("lbl"))
      .withColumn("m", least(col("n_lbl") - 1L, lit(k.toLong)))
      .withColumn("idcg",
        when(col("m") >= 1L,
          aggregate(sequence(lit(1L), col("m")), lit(0.0),
            (acc, i) => acc + ln2 / log(i.cast("double") + lit(1.0))))
          .otherwise(lit(0.0)))
    withM.select(col("q_id"), col("q_label"), col("n_rel"),
        TextOps.roundAt(col("n_rel").cast("double") / lit(k.toDouble), 6)
          .as("precision"),
        TextOps.roundAt(
          when(col("first_rel").isNull, lit(0.0))
            .otherwise(lit(1.0) / col("first_rel").cast("double")), 6).as("mrr"),
        TextOps.roundAt(
          when(col("idcg") === 0.0, lit(0.0))
            .otherwise(col("dcg") / col("idcg")), 6).as("ndcg"))
      .orderBy(col("q_id"))
  }

  /** q205: embedding-space outliers — the `k` vectors farthest (L2²)
    * from the corpus centroid, ranked. The embedding-quality audit
    * run before any cosine machinery is trusted: truncated downloads,
    * all-zero rows, wrong-model shards and mojibake docs all land in
    * the far tail of the centroid distance, and eyeballing the top-k
    * is how they're caught (top-K, not a p95 flag, on purpose — the
    * exact global percentile would gather 5% of the corpus, while an
    * exact top-k is a distributed TakeOrdered of k rows).
    *
    * Exactness: the centroid is the exact per-dim mean (float32
    * summed in double headroom — order-independent, the q169/q87
    * property), the distance the fixed-order fold both engines
    * replay, ranking on the RAW distance with vec_id ties.
    *
    * Scale: one posexplode aggregation builds the dim-sized centroid
    * (broadcast back as ONE row); distances are a zero-exchange
    * narrow map; TakeOrderedAndProject keeps k rows per partition
    * before the k-row merge. */
  def embeddingOutliers(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
    val cent = e.select(posexplode(col("embedding")))
      .groupBy(col("pos")).agg(avg(col("col").cast("double")).as("m"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cent"))
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label").cast("int").as("label"),
        aggregate(zip_with(col("embedding"), col("cent"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (a, v) => a + v).as("d2"))
      .orderBy(col("d2").desc, col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("d2").desc, col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("label"), round(col("d2"), 6).as("d2"))
      .orderBy(col("rank"))
  }

  /** q202: cluster topic cards — the human-readable label for each
    * learned k-means cluster: its top-`topK` TF-IDF terms, where the
    * "documents" of the TF-IDF are the CLUSTERS (tf = term count over
    * the cluster's member docs, df = number of clusters containing
    * the term, idf = ln((K+1)/(df+1)) + 1, q59's smoothing). The
    * standard "what did the clustering find" readout: embeddings
    * cluster by geometry (q169), and this maps each geometric cluster
    * back to the vocabulary that distinguishes it — corpus-wide
    * boilerplate appears in every cluster (df = K ⇒ idf floor) while
    * cluster-specific terms rank top. Runs on the documents↔embeddings
    * 1:1 doc_id = vec_id bridge.
    *
    * Exactness: deterministic Lloyd assignments ([[kmeansLloyd]],
    * oracle-replayed), exact-long tf/df, one mirrored ln per distinct
    * (cluster, word) with (score desc, word) ties — q59's conventions
    * at cluster granularity.
    *
    * Scale: one corpus-sized word explode joined to assignments on
    * doc_id (equi-shuffle), collapsing immediately to (cluster, word)
    * counts — cluster-vocabulary-sized, shared by the df aggregation
    * and the scoring via a lazy checkpoint; the cluster count rides
    * as a broadcast one-row dim and the rank window partitions k
    * ways. */
  def clusterTopics(spark: SparkSession, dir: String, k: Int = 8,
                    iters: Int = 3, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assign = kmeansLloyd(spark, dir, k, iters)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val words = Tables.documents(spark, dir)
      .repartition(col("doc_id")) // spread the explode (wordRows form)
      .select(col("doc_id"),
        explode(graft.functions.TextNorm.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val cw = words.join(assign, "doc_id")
      .groupBy(col("cluster"), col("word")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = cw.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val ncl = assign.agg(countDistinct(col("cluster")).as("ncl"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score_raw").desc, col("word"))
    // dfreq is vocabulary-sized (unbounded at web scale): unhinted —
    // AQE broadcasts at sf scale, shuffle-joins on word at 100 TB
    // (de-force sweep). ncl is a 1-row aggregate — bounded, hinted.
    cw.join(dfreq, "word")
      .crossJoin(broadcast(ncl))
      .withColumn("score_raw",
        col("tf") * (log((col("ncl") + 1.0) / (col("df") + 1.0)) + 1.0))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= topK)
      .select(col("cluster"), col("rnk"), col("word"), col("tf"),
        graft.ops.TextOps.roundAt(col("score_raw"), 6).as("score"))
      .orderBy(col("cluster"), col("rnk"))
  }

  /** Nearest-centroid assignment against a trained model, via the
    * codegen'd [[graft.functions.L2Argmin]] expression (model as a
    * codegen REFERENCE OBJECT — constant generated source across
    * training rounds, so no Janino recompile; see that expression's
    * scaladoc for the history: plan-literal centroids recompiled per
    * round at 25+ s, and the interim broadcast-data HOF fold ran
    * interpreted at ~1.2 s per Lloyd round, 10× this form).
    *
    * The per-row argmin scans centroids IN cl ORDER keeping the
    * strictly-smaller d2 — the identical lowest-cl tie rule as the
    * oracle's ORDER BY d2, cl; d2 itself accumulates (x−w)² in
    * ascending dim order, the q87/q162 fixed-order fold. */
  private[ops] def lloydAssign(spark: SparkSession, e: DataFrame,
                               cents: Seq[(Long, Array[Double])]): DataFrame = {
    val best = l2Argmin(col("embedding"), cents)
    e.select(col("vec_id"), col("embedding"),
      best.getField("cl").as("cluster"), best.getField("d2").as("d2"))
  }

  /** GROUPED nearest-centroid assignment: like [[lloydAssign]], but
    * the input carries a group column `g` and the model is the flat
    * (g, cl, centroid) list of EVERY group's codebook — each row folds
    * only its own group's (g, cl)-ascending slice, via the codegen'd
    * [[graft.functions.GroupedL2Argmin]] (same reference-object /
    * constant-source form as lloydAssign; the previous broadcast
    * filter-then-HOF-fold ran interpreted). One corpus pass assigns
    * against all m codebooks at once. */
  private def groupedAssign(spark: SparkSession, e: DataFrame,
                            cents: Seq[(Long, Long, Array[Double])]): DataFrame = {
    val best = graft.functions.L2Argmin.groupedL2Argmin(
      col("g"), col("embedding"), cents.sortBy(t => (t._1, t._2)))
    e.select(col("g"), col("vec_id"), col("embedding"),
      best.getField("cl").as("cluster"))
  }

  /** The bound on every centroid-model collect: the Lloyd seed
    * centroids and each round's cluster statistics ((Σ groups)×k
    * rows), the label codebook's (label, dim) means and an IVF probe's
    * list ids. */
  private[graft] val MaxLloydModelRows: Int = 1 << 16

  /** Per-(g, cluster) sufficient statistics (g, cl, n, per-dim Σx) of a
    * (g, vec_id, embedding) frame assigned against `cents`, collected
    * under [[MaxLloydModelRows]] and (g, cl)-ascending: the model-state
    * read of every Lloyd round and of q210's bootstrap and refresh.
    * One codegen'd per-dim sum column each, with map-side partials and
    * no posexplode: an exploded form re-evaluates the inlined argmin
    * per exploded ROW (the shingleRows CollapseProject trap, measured
    * ~3× slower). */
  private def clusterStats(spark: SparkSession, e: DataFrame,
                           cents: Seq[(Long, Long, Array[Double])],
                           dim: Int): Seq[(Long, Long, Long, Array[Double])] = {
    val stats = groupedAssign(spark, e, cents)
      .groupBy(col("g"), col("cluster"))
      .agg(count(lit(1)).as("n"),
        (0 until dim).map(i =>
          sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i")): _*)
    DriverResults.collectBounded(stats, MaxLloydModelRows, "Lloyd cluster statistics")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Array.tabulate(dim)(i => r.getDouble(i + 3))))
      .sortBy(t => (t._1, t._2)).toSeq
  }

  /** A Lloyd seed's embedding (column `i`, preceded by its `vec_id`)
    * as doubles; a null embedding fails by name rather than as a bare
    * NullPointerException. */
  private def seedVector(r: Row, i: Int): Array[Double] = {
    require(!r.isNullAt(i),
      s"Lloyd training seed vec_id ${r.getLong(i - 1)} has a null embedding")
    r.getSeq[Any](i).map(_.asInstanceOf[Number].doubleValue).toArray
  }

  /** The Lloyd training loop, k centroids per GROUP: input rows
    * (g, vec_id, embedding); each group seeds from its vectors with
    * vec_id < k, then runs `iters` assignment passes with an update
    * after each but the last. All groups train in one loop — the m
    * subspace codebooks of a product quantizer read the residual table
    * once per round, not m times — and per-(g, cl) sums are the same
    * order-independent values a per-group loop would add, so the
    * unrolled per-subspace oracle CTEs replay it. Seeds read float OR
    * double element types (q234 trains on double residuals). Only
    * model state reaches the driver: seeds and per-round statistics,
    * each under [[MaxLloydModelRows]] (the q159 per-round-collect
    * rule). */
  private[ops] def lloydCentroidsGrouped(spark: SparkSession, e: DataFrame, k: Int,
                                         iters: Int): Seq[(Long, Long, Array[Double])] = {
    val seeds = DriverResults.collectBounded(
      e.filter(col("vec_id") < k).select(col("g"), col("vec_id"), col("embedding")),
      MaxLloydModelRows, "Lloyd seed centroids")
    require(seeds.nonEmpty,
      s"Lloyd training has no seed centroid: no embedding row has vec_id < $k")
    var cents = seeds.map(r => (r.getLong(0), r.getLong(1), seedVector(r, 2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val dim = cents.head._3.length
    for (_ <- 1 until iters)
      cents = clusterStats(spark, e, cents, dim).map { case (g, cl, n, s) =>
        (g, cl, s.map(_ / n.toDouble)) }
    cents
  }

  /** A (vec_id, embedding) frame as the trainer's one group, g = 0. */
  private def oneGroup(e: DataFrame): DataFrame =
    e.select(lit(0L).as("g"), col("vec_id"), col("embedding"))

  /** q169's (cl, centroid) model: [[lloydCentroidsGrouped]] over one
    * group. */
  private[graft] def lloydCentroids(spark: SparkSession, e: DataFrame, k: Int,
                                    iters: Int): Seq[(Long, Array[Double])] =
    lloydCentroidsGrouped(spark, oneGroup(e), k, iters).map { case (_, cl, c) => (cl, c) }

  /** [[clusterStats]] of a (vec_id, embedding) frame against a
    * (cl, centroid) model, as (cl, n, per-dim Σx). */
  private def kmeansStats(spark: SparkSession, df: DataFrame,
                          cs: Seq[(Long, Array[Double])],
                          dim: Int): Seq[(Long, Long, Array[Double])] =
    clusterStats(spark, oneGroup(df), cs.map { case (cl, c) => (0L, cl, c) }, dim)
      .map { case (_, cl, n, s) => (cl, n, s) }

  /** Bootstrap the mergeable centroid state from a corpus slice: the
    * q169 Lloyd loop trains the centroids, then the slice's own
    * sufficient statistics become the initial (cl, n, Σx) state. */
  def kmeansStateBootstrap(spark: SparkSession, df: DataFrame, k: Int,
                           iters: Int, dim: Int): Seq[(Long, Long, Array[Double])] =
    kmeansStats(spark, df, lloydCentroids(spark, df, k, iters), dim)

  /** One mini-batch refresh step: assign `batch` against the CURRENT
    * state centroids (Σx/n) and ADD its per-cluster statistics into
    * the state. Public as the streaming-ingest fold body: a
    * foreachBatch loop calling this per micro-batch maintains the
    * identical state a sequential batch replay produces
    * (StreamingMultimodalSpec proves it). */
  def kmeansStateRefresh(spark: SparkSession,
                         state: Seq[(Long, Long, Array[Double])],
                         batch: DataFrame,
                         dim: Int): Seq[(Long, Long, Array[Double])] = {
    val sorted = state.sortBy(_._1)
    val cur = sorted.map { case (cl, n, s) => (cl, s.map(_ / n)) }
    val m = scala.collection.mutable.LinkedHashMap(
      sorted.map(t => t._1 -> ((t._2, t._3))): _*)
    kmeansStats(spark, batch, cur, dim).foreach { case (cl, n, s) =>
      val (n0, s0) = m(cl)
      m(cl) = (n0 + n, Array.tabulate(dim)(i => s0(i) + s(i)))
    }
    m.toSeq.map { case (cl, (n, s)) => (cl, n, s) }
  }

  /** q210: incremental (mini-batch) k-means refresh — the TRAINING-
    * STATE member of the incremental family (q92/q110/q180 maintain
    * indexes per batch; q143 maintains clusters; this maintains the
    * MODEL). The centroid state is the mergeable sufficient-statistic
    * triple (cl, n, Σx per dim): bootstrap = the q169 Lloyd loop on
    * the first third of the corpus plus that third's statistics; each
    * later batch is assigned against the CURRENT state centroids
    * (Σx/n) and its per-cluster (count, per-dim sums) are ADDED into
    * the state — history is never rescanned, which is the point at
    * 100 TB: the full Lloyd retrain reads the corpus iters× per
    * refresh, this reads each arriving batch once. The standard
    * sequential mini-batch k-means trade (Sculley 2010): refreshed
    * centroids chase the data with batch-order-dependent drift
    * instead of re-converging globally — the spec quantifies that
    * drift against a full retrain.
    *
    * Exactness: per-dim batch sums are exact (float32 in double
    * headroom — order-independent, the q169 property); counts are
    * longs; state folding adds exact values in batch order; the
    * output centroid is one division per dim under the floor-form
    * rounding. The oracle replays bootstrap, both refreshes and the
    * state algebra as unrolled CTE stages.
    *
    * Scale: every collect is k-row model state (the q159/q169
    * per-round-collect rule); each batch is touched once by one
    * broadcast-model assignment pass + one (cluster)-keyed partial
    * aggregation. The split bounds (max vec_id thirds) cost one
    * 1-row probe job — driver orchestration, like the training loop
    * itself.
    *
    * Gate shape: the centroid array is exploded to one (cluster,
    * n_members, dim, c_v) row per dimension — the q150 flatten
    * convention, because the driver's oracle compare sorts rows by
    * every column and an array<double> cell is unsortable there
    * (CORRECTNESS_r17 recorded q210 as `err`). The rows are flattened
    * from the driver-side state, not from a DataFrame. */
  def kmeansRefreshRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = for {
      (cl, n, c) <- kmeansRefreshState(spark, dir)
      (v, i) <- c.zipWithIndex
    } yield (cl, n, i.toLong, v)
    DriverResults.sortedLocal(rows.toDF("cluster", "n_members", "dim", "c_v"),
      col("cluster"), col("dim"))
  }

  /** The refreshed centroid state (k = 8, 3 bootstrap rounds) as
    * (cluster, n_members, centroid) driver rows, cluster-ascending,
    * centroids floor-rounded at 6. */
  private def kmeansRefreshState(spark: SparkSession,
                                 dir: String): Seq[(Long, Long, Seq[Double])] = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val dim = Tables.embeddingDim(spark, dir)
    val total = DriverResults.collectBounded(e.agg(max(col("vec_id"))), 1,
      "q210 max vec_id").head.getLong(0) + 1L
    val third = total / 3
    def slice(lo: Long, hi: Long): DataFrame =
      e.filter(col("vec_id") >= lo && col("vec_id") < hi)
    var state = kmeansStateBootstrap(spark, slice(0L, third), k = 8, iters = 3, dim)
    Seq((third, 2 * third), (2 * third, total)).foreach { case (lo, hi) =>
      state = kmeansStateRefresh(spark, state, slice(lo, hi), dim)
    }
    state.sortBy(_._1).map { case (cl, n, s) =>
      (cl, n, s.map(v => math.floor(v / n * 1e6 + 0.5) / 1e6).toSeq)
    }
  }

  /** q184: IVF with a LEARNED codebook, end to end — q169's Lloyd
    * training produces the coarse centroids, every vector is assigned
    * to its nearest learned centroid (the inverted lists), the query
    * probes its `nprobe` nearest lists, and the exact cosine top-k is
    * served from those lists only. The deterministic trainer makes
    * the ENTIRE train→index→probe chain hash-replayable in DuckDB —
    * the one ANN architecture here where the oracle checks the learned
    * model, the index AND the serve ([[ivfTopKGated]], q46, gates the
    * same serve on recall instead).
    *
    * The serve is [[ivfServe]], the one q87 runs over its label
    * codebook: the query's nprobe nearest lists are selected in-plan
    * from its sorted L2Scored row (no driver collect), and candidates
    * gate on array_contains against that one broadcast row.
    * Scale: training is q169 (per-round bounded model state);
    * assignment is the narrow reference-object model map; the serve
    * reads candidates ∈ probed lists — nprobe/k of the corpus, the IVF
    * contract — then TakeOrderedAndProject. */
  def ivfLearnedTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                     k: Int = 10, nprobe: Int = 2, kClusters: Int = 8,
                     iters: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    ivfServe(e, lloydCentroids(spark, e.select(col("vec_id"), col("embedding")),
      kClusters, iters), queryId, k, nprobe)
  }

  /** q46: the q100/q124 envelope pattern applied to ANN recall. The
    * output is the exact brute-force top-k (q29's rows, every value
    * DuckDB-checkable) plus one in-plan flag, `ivf_recall_ok`: the
    * learned-IVF leg ([[ivfLearnedTopK]] with `kClusters` lists, of
    * which it probes `nprobe`) recovered at least `recallFloor` of
    * those k rows. The oracle emits literal TRUE, so a recall collapse
    * (broken training, probe selection or rerank, an empty ANN result)
    * fails the hash gate.
    *
    * Floor calibration: the trainer is deterministic, so the flag is
    * a fixed function of the embeddings table — the same table gives
    * the same recall on every run. Probing 8 of 16 lists reads half the
    * inverted lists, so even on an unstructured corpus (top-k spread
    * uniformly over clusters) recall@10 is about Binomial(10, 1/2) and
    * falls under 3 with probability ≈ 5%; on the testdata the leg
    * recalls 10 of 10 at sf0.001, sf0.01 and sf0.1. A floor a sound
    * ANN clears by construction and a broken one cannot reach.
    *
    * Scale note: the brute-force leg exists FOR the gate (exact and
    * approximate in one plan, like q100's exact quantiles beside the
    * sketch); q184 is the same serve without it. */
  def ivfTopKGated(spark: SparkSession, dir: String, queryId: Long = 0L,
                   k: Int = 10, kClusters: Int = 16, nprobe: Int = 8,
                   recallFloor: Int = 3): DataFrame = {
    val ann = ivfLearnedTopK(spark, dir, queryId, k, nprobe, kClusters)
      .select(col("vec_id").as("ann_id"))
    val exact = bruteForceTopK(spark, dir, queryId, k)
    val recall = exact.join(ann, exact("vec_id") === ann("ann_id"), "left")
      .agg(sum(when(col("ann_id").isNotNull, 1L).otherwise(0L)).as("recall_k"))
    exact.crossJoin(broadcast(recall))
      .select(col("vec_id"), col("label"), col("cos"),
        (col("recall_k") >= recallFloor).as("ivf_recall_ok"))
      .orderBy(cosOrder: _*)
  }

  /** q234: IVF-PQ — THE production large-scale ANN index (Jégou 2011
    * §IV; the FAISS `IVFxx,PQyy` architecture), composing q184's
    * learned coarse quantizer with q224's product quantization, with
    * the real residual encoding: every vector is assigned to its
    * nearest coarse centroid and its RESIDUAL (x − c_coarse) is what
    * the m per-subspace codebooks quantize — residuals concentrate
    * near zero so the same k per subspace spends its codes on a much
    * tighter distribution than raw vectors (the reason production
    * indexes encode residuals, and the piece q224 alone doesn't
    * exercise). Serve: the query probes its `nprobe` nearest coarse
    * cells; within probed cells candidates are ADC-scored — the
    * query's PER-CELL residual (q − c_cell) against each candidate's
    * code centroids — then the shortlist reranks exactly.
    *
    * Cross-engine exactness: coarse training is the q169 chain;
    * subspace training is the q169 chain over residual slices (the
    * oracle replays residual construction + all m chains as unrolled
    * CTEs); code assignment/ADC share q224's strict-< argmin over
    * cl-ascending codebooks; the ADC sum is a fixed left-to-right
    * m-term add; every shortlist/rerank cut breaks ties on vec_id.
    *
    * Scale: training collects only model state (coarse k×d, then
    * m×k×(d/m) — the q169 rule); the residual table is ONE corpus
    * pass against the broadcast coarse model, checkpointed because m
    * training loops iterate over it; the serve is a broadcast-model
    * narrow map over PROBED CELLS ONLY ending in a bounded partial
    * top-k; the exact rerank touches `shortlist` rows fetched back by
    * id. Nothing corpus-sized shuffles. */
  def ivfPqTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                kCoarse: Int = 8, coarseIters: Int = 2,
                m: Int = 8, kPq: Int = 8, pqIters: Int = 2,
                nprobe: Int = 2, shortlist: Int = 30, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val dim = Tables.embeddingDim(spark, dir)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val coarse = lloydCentroids(spark, e, kCoarse, coarseIters)
    // residual build: codegen'd argmin + a k-row broadcast join for
    // the centroid vector (was an interpreted fold + per-row array
    // filter over the whole corpus)
    val coarseTbl = coarse.map { case (cl, c) => (cl, c.toSeq) }
      .toDF("cluster", "cent")
    val res = e
      .select(col("vec_id"), col("embedding"),
        l2Argmin(col("embedding"), coarse)
          .getField("cl").as("cluster"))
      .join(broadcast(coarseTbl), Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        zip_with(col("embedding"), col("cent"),
          (x, c) => x.cast("double") - c).as("embedding"))
      .localCheckpoint(false)
    // all m subspace codebooks in ONE grouped training loop: the
    // residual table is read once per round (not m times), and one
    // plan/codegen shape replaces m slice-literal variants
    val resSub = res.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * sub + 1, sub)): _*)))
      .select(col("pos").cast("long").as("g"), col("vec_id"),
        col("col").as("embedding"))
    val pq: Seq[(Long, Long, Seq[Double])] =
      lloydCentroidsGrouped(spark, resSub, kPq, pqIters)
        .map { case (g, cl, c) => (g, cl, c.toSeq) }
    val pqDf = Seq(Tuple1(pq)).toDF("cbs")
    // the query's probes: the driver-side coarse model scored in-plan,
    // as q184 selects them; each candidate's cell centroid (for the
    // query residual) joins in from the k-row coarse table
    val probes = queryVector(e, queryId)
      .select(col("q_emb"), probeLists(col("q_emb"), coarse, nprobe).as("probe_cls"))
    val cand = res.crossJoin(broadcast(probes))
      .filter(array_contains(col("probe_cls"), col("cluster")) &&
        col("vec_id") =!= queryId)
      .join(broadcast(coarseTbl), Seq("cluster"))
      .crossJoin(broadcast(pqDf))
    val qres = zip_with(col("q_emb"), col("cent"), (x, c) => x.cast("double") - c)
    def d2d(a: Column, b: Column) = aggregate(
      zip_with(a, b, (x, w) => (x - w) * (x - w)), lit(0.0d), (acc, v) => acc + v)
    val per = (0 until m).map { s =>
      val cb = filter(col("cbs"), t => t.getField("_1") === s)
      val scoredS = transform(cb, t => struct(
        d2d(slice(col("embedding"), s * sub + 1, sub), t.getField("_3")).as("d2"),
        t.getField("_2").as("cl"),
        d2d(slice(qres, s * sub + 1, sub), t.getField("_3")).as("qd2")))
      aggregate(scoredS,
        struct(lit(Double.MaxValue).as("d2"), lit(-1L).as("cl"), lit(0.0d).as("qd2")),
        (acc, x) => when(x.getField("d2") < acc.getField("d2"), x).otherwise(acc))
    }
    val adc = per.map(_.getField("qd2")).reduce(_ + _)
    val codeCols = per.zipWithIndex.map { case (b, s) => b.getField("cl").as(s"code$s") }
    val short = cand
      .select(col("vec_id") +: col("cluster") +: codeCols :+ adc.as("adc"): _*)
      .orderBy(col("adc"), col("vec_id"))
      .limit(shortlist)
    val qFull = queryVector(e, queryId).select(col("q_emb").as("qe"))
    val exact = aggregate(
      zip_with(col("embedding"), col("qe"),
        (x, w) => (x.cast("double") - w.cast("double")) * (x.cast("double") - w.cast("double"))),
      lit(0.0d), (acc, v) => acc + v)
    short
      .join(e, "vec_id")
      .crossJoin(broadcast(qFull))
      .withColumn("exact", exact)
      .orderBy(col("exact"), col("vec_id"))
      .limit(topK)
      .select(col("vec_id") +: col("cluster") +:
        (0 until m).map(s => col(s"code$s")) :+
        round(col("adc"), 6).as("approx_d2") :+
        round(col("exact"), 6).as("d2"): _*)
  }

  /** q163 — Johnson–Lindenstrauss random projection: every embedding
    * reduced from its native dimension to `k` dims via a dense
    * Rademacher (±1) projection scaled by 1/√k (Achlioptas 2003:
    * ±1 entries give the same JL distance-preservation guarantee as
    * Gaussians — and, as with the q30 LSH planes, the matrix is
    * md5-derived ("rp<j>_<i>" keys, a family disjoint from the LSH
    * planes') so BOTH engines rebuild the identical matrix and the
    * output is hash-exact, no envelope needed). The standard
    * compression step before shipping vectors to an ANN index when
    * int8 (q81/q156) is not enough.
    *
    * Exactness: ±1 weights make each product exact in IEEE; the fold
    * is the q28/q29-proven zip_with/aggregate ↔ list_sum sequence;
    * the 1/√k scale is interpolated as one literal double into both
    * engines (0.25 exactly at k=16); projections round at 6 for
    * display.
    *
    * Scale: a pure narrow map — the matrix is a plan literal (k × dim
    * doubles), each vector reads once and writes k values, zero
    * exchanges (spec-asserted, the q147/q150 pattern); output rows
    * are stack-unpivoted in the same narrow stage. */
  def randomProjection(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = Tables.embeddingDim(spark, dir)
    val scale = 1.0 / math.sqrt(k.toDouble)
    val signs = md5Signs(k, dim, (j, i) => s"rp${j}_$i")
    def proj(j: Int): Column = planeDot(col("embedding"), signs(j)) * lit(scale)
    // no orderBy: a global sort is the one Exchange this narrow map
    // would otherwise have (the correctness gate sorts rows itself —
    // the q150 convention)
    e.select(col("vec_id"),
        posexplode(array((0 until k).map(j => TextOps.roundAt(proj(j), 6)): _*)))
      .select(col("vec_id"), col("pos").cast("int").as("rdim"),
        col("col").as("y"))
  }

  /** q162 — SemDeDup (Abbas et al. 2023): semantic deduplication in
    * embedding space. Every vector is assigned to its nearest
    * LEARNED centroid — q169's deterministic distributed Lloyd
    * trainer with CORPUS-PROPORTIONAL k = max(2, ⌈n / target⌉), the
    * paper's own cost model (clusters stay ≈ target-sized as the
    * corpus grows, so within-cluster pairing stays O(n·target), never
    * O(n²/k) at fixed k — the round-16 verdict's one q162 weakness);
    * WITHIN each cluster, pairs with cosine ≥ `threshold` are
    * semantic duplicates; duplicate groups are the connected
    * components of those pairs; and each group keeps its member with
    * the LOWEST similarity to its cluster centroid (the paper's
    * keep-the-atypical rule — typical members carry no extra
    * information), ties to the smaller vec_id. Output is
    * roster-total: every vector with its cluster, its dup group
    * (singletons group with themselves), its centroid similarity and
    * the keep verdict.
    *
    * Cross-engine exactness: training is the q169 chain (the oracle
    * replays every Lloyd round as unrolled CTE stages, computing the
    * SAME data-dependent k from the same table); assignment is the
    * q169 argmin ((d2, cl) tie-break); centroid means are exact
    * (float32 summed in double — the q169 argument); both cosines
    * round at 4 and every comparison — the dup threshold and the
    * keeper argmin — uses the ROUNDED value (the q40 convention:
    * decisions never sit on a cross-engine ulp); the CC labels are
    * min-ids (q61's oracle replays them with a recursive CTE).
    *
    * Scale: the paper's own bound — candidate pairs are generated
    * within clusters only, O(Σ|c|²) with k ∝ corpus so clusters stay
    * ≈ target-sized (SemDedupScaleSpec pins max-cluster growth ≪ row
    * growth across sf0.001→sf0.1); the trained model is k×dim MODEL
    * STATE shipped per executor (the q159 rule — sizing it costs one
    * count() action); cluster pairing is one shuffle join on clabel;
    * CC runs on the duplicate-pair graph (tiny relative to the
    * corpus — most vectors are not near-duplicates); the keeper
    * window sorts only within dup groups (≤ cluster-sized).
    *
    * Model-size ceiling (honest): k ∝ corpus makes the k×dim model
    * itself grow linearly — at n = 10⁹ vectors (d = 64, target 64)
    * the model is n doubles ≈ 8 GB, past any per-executor ship
    * (expression reference and broadcast alike — the two forms cost
    * the same to distribute; the ceiling is the ALGORITHM's, not the
    * ship mechanism's). Past roughly k×d ≈ 10⁸ cells, production
    * SemDeDup switches to hierarchical assignment: a √k-way coarse
    * Lloyd (bounded model), then per-coarse-cell fine Lloyd trained
    * and assigned WITHIN the cell's partition (model sharded with the
    * data — no global model object ever exists). The within-cluster
    * pairing, CC and keeper stages are unchanged under that swap,
    * which is why they are factored the way they are. */
  def semDedup(spark: SparkSession, dir: String,
               threshold: Double = 0.35,
               targetClusterSize: Long = 64L, iters: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
    // corpus-proportional k: one bounded count action (model SIZING,
    // not corpus data on the driver)
    val n = e.count()
    val k = math.max(2L, (n + targetClusterSize - 1L) / targetClusterSize).toInt
    val cents = lloydCentroids(spark,
      e.select(col("vec_id"), col("embedding")), k, iters)
    // cosine against the (double-typed) centroid via the same HOF
    // fold shapes the oracle's list_sum mirrors (q28/q29 parity)
    def cosToCent(emb: Column, cent: Column): Column = {
      val dot = aggregate(zip_with(emb, cent, (x, y) => x.cast("double") * y),
        lit(0.0d), (s, v) => s + v)
      val na = aggregate(emb, lit(0.0d),
        (s, x) => s + x.cast("double") * x.cast("double"))
      val nb = aggregate(cent, lit(0.0d), (s, y) => s + y * y)
      dot / (sqrt(na) * sqrt(nb))
    }
    // k-row centroid dimension table (broadcast) for the cos_c join
    val centRows = cents.map { case (cl, c) => (cl, c.toSeq) }
      .toDF("clabel", "cent")
    // ONE materialization of the assign+cosine chain: withC feeds both
    // self-join legs AND the final labeling join — uncheckpointed, the
    // whole broadcast-assign + centroid-cosine chain re-evaluated per
    // consumer (3×, measured ~2.4 s of q162's bench cost). LAZY so the
    // pairs job below is what materializes it.
    val withC = lloydAssign(spark, e.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("embedding"), col("cluster").as("clabel"))
      .join(broadcast(centRows), Seq("clabel"))
      .select(col("vec_id"), col("clabel"), col("embedding"),
        round(cosToCent(col("embedding"), col("cent")), 4).as("cos_c"))
      .localCheckpoint(false)
    val pairs = withC.select(col("clabel"), col("vec_id").as("doc_a"),
        col("embedding").as("ea"))
      .join(withC.select(col("clabel"), col("vec_id").as("doc_b"),
        col("embedding").as("eb")), Seq("clabel"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(cosScore(col("ea"), col("eb")) >= threshold)
      .select(col("clabel").as("grp"), col("doc_a"), col("doc_b"))
    // pairs are generated WITHIN clusters only, so components cannot
    // span clusters — the containment [[DedupOps.boundedComponents]]
    // needs to replace the O(diameter)-job global loop with one
    // union-find shuffle (same min-id labeling; the global loop cost
    // 3-5 s of per-round job latency on this chain at bench scale).
    val cc = DedupOps.boundedComponents(pairs)
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("cos_c").asc, col("vec_id").asc)
    withC.join(cc, withC("vec_id") === cc("id"), "left")
      .select(col("vec_id"), col("clabel"),
        coalesce(col("cluster"), col("vec_id")).as("grp"), col("cos_c"))
      .withColumn("kept", row_number().over(w) === 1)
      .orderBy(col("vec_id"))
  }

  /** q251: leading principal component of the embedding corpus via
    * POWER ITERATION on an exact integer scatter matrix — the spectral
    * member of the embedding-infra family (q163 projects randomly,
    * q169 clusters; this measures ANISOTROPY): pc1 is the direction
    * ANN whitening would remove first, and `explained` = λ₁/trace is
    * the one-number "how collapsed are these embeddings" health check
    * (≈ 1/d for isotropic vectors; near 1 for embedding collapse —
    * the readout that decides whether q163's isotropy assumption even
    * holds).
    *
    * Exactness: coordinates quantize to 1e-6 longs, so the scatter
    * matrix M = n·Σqqᵀ − (Σq)(Σq)ᵀ (= n²·Cov, shares eigenvectors) is
    * EXACT INTEGER and order-free; the power rounds run driver-side
    * on the collected 64×64 matrix with an ascending-j fold per entry
    * and a 1e-12 re-quantization per round (the q210 per-round
    * fixed-point device — kills cross-engine ulp drift at its
    * source), mirrored by the oracle's unrolled MATERIALIZED matvec
    * CTEs; λ/trace is one final mirrored division.
    *
    * Convergence contract: `explained` is the t-round RAYLEIGH
    * QUOTIENT over the trace — a monotone lower bound on λ₁/trace
    * that converges as (λ₂/λ₁)²ᵗ. On a near-degenerate spectrum
    * (λ₁ ≈ λ₂ — this corpus reads gap ratio ≈ 0.987) the QUOTIENT
    * converges long before the VECTOR stabilizes (pc1 is then "a
    * unit vector of the top eigenspace achieving that quotient", the
    * honest deliverable — no power method pins a vector inside a
    * degenerate eigenspace); 100 rounds lands within 0.04% of true
    * λ₁ here and is exactly replayed by the oracle either way.
    *
    * Scale: ONE corpus pass — a 64-way posexplode into a d×d cell
    * aggregation with map-side partials — collects only the d² cell
    * grid and the d column sums (model state, the lloydCentroids
    * collect rule); iteration cost is driver-side d² per round,
    * corpus-free. */
  def pcaPower(spark: SparkSession, dir: String, iters: Int = 100): DataFrame =
    pcaPowerOf(Tables.embeddings(spark, dir),
      Tables.embeddingDim(spark, dir), iters)

  /** [[pcaPower]] over any frame with an `embedding` array column —
    * split out so specs can drive planted-anisotropy geometries and
    * the fixpoint-depth check. */
  private[graft] def pcaPowerOf(emb: DataFrame, dim: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
    val flat = emb
      .select(q.as("q"))
      .select(posexplode(col("q")), col("q"))
      .select(col("pos").as("i"), col("col").as("qi"), col("q"))
    // one aggregation: row i of Σqqᵀ as dim sum-columns + the count
    // and per-dim sums riding along (every sum an exact long)
    val aggCols = Seq(count(lit(1)).as("n"), sum(col("qi")).as("sq")) ++
      (0 until dim).map(j =>
        sum(col("qi") * element_at(col("q"), j + 1)).as(s"c$j"))
    val grid = flat.groupBy(col("i")).agg(aggCols.head, aggCols.tail: _*)
    // d rows × d+2 columns: model state, ordered by i on the driver
    val rows = DriverResults.collectBounded(grid, dim, "PCA scatter rows").sortBy(_.getInt(0))
    val n = rows.head.getAs[Long]("n")
    val sq = rows.map(_.getAs[Long]("sq"))
    // Overflow headroom (the q247 convention): cell magnitudes scale
    // as n²·maxq² — at unit-norm 64-dim (q ≈ 1.25e5) int64 runs out
    // near n ≈ 2.4e4 embeddings. DuckDB's BIGINT multiply RAISES
    // there while a bare Scala `*` would wrap silently (engine wrong,
    // oracle loud) — so the exact-arithmetic ops make the engine fail
    // the same way the oracle does, at the same inputs. Past that
    // corpus size, pre-aggregate (mean-center per partition) or
    // coarsen the 1e-6 quantization before calling this.
    val m = Array.tabulate(dim, dim)((i, j) =>
      Math.subtractExact(
        Math.multiplyExact(n, rows(i).getAs[Long](s"c$j")),
        Math.multiplyExact(sq(i), sq(j))))
    // power iteration, ascending-j folds, 1e-12 re-quantization per
    // round — replayed verbatim by the oracle's unrolled CTE chain
    def quant(x: Double): Double = math.floor(x * 1e12 + 0.5) / 1e12
    var v = Array.fill(dim)(0.125) // 1/√64 — exact in binary
    def matvec(u: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += m(i)(j).toDouble * u(j); j += 1 }
        s
      }
    for (_ <- 1 to iters) {
      val w = matvec(v)
      var s2 = 0.0
      var i = 0
      while (i < dim) { s2 += w(i) * w(i); i += 1 }
      val nm = math.sqrt(s2)
      v = if (nm == 0.0) v else w.map(x => quant(x / nm))
    }
    val w = matvec(v)
    val lambda = v.indices.foldLeft(0.0)((a, i) => a + v(i) * w(i))
    val trace = (0 until dim).map(i => m(i)(i)).sum
    val explained = lambda / trace.toDouble
    import spark.implicits._
    val out = rows.indices.map { i =>
      (i.toLong,
        math.floor(sq(i).toDouble / (n * 1000000.0) * 1e6 + 0.5) / 1e6,
        v(i),
        math.floor(explained * 1e6 + 0.5) / 1e6)
    }.toDF("dim", "mu", "pc1", "explained")
    DriverResults.sortedLocal(out, col("dim"))
  }

  /** q242's default stop-block cap, interpolated into the oracle's
    * HAVING admission CTE so engine and SQL can never drift. */
  val DensityMaxLabel = 1000

  /** q242: DBSCAN-style density clustering over the embedding corpus —
    * the density complement of centroid k-means (q169/q162): k-means
    * forces every point into a ball and fixes k up front; density
    * clustering discovers cluster COUNT and SHAPE from the data and
    * names the leftovers noise, which is exactly the curation question
    * "which embedding regions are dense enough to be a template/topic,
    * and which docs are one-offs". Classic DBSCAN roles (Ester et al.
    * 1996), with the ε-ball recast as cosine ≥ `threshold`:
    *  - core: ≥ `minPts` neighbors within ε (self excluded),
    *  - border: non-core with ≥ 1 core neighbor — attached to the
    *    smallest cluster label among its core neighbors (deterministic
    *    stand-in for DBSCAN's arrival-order assignment, which is not
    *    well-defined on an unordered corpus),
    *  - noise: everything else (cluster −1).
    * Clusters = connected components of the core-core ε-graph, labeled
    * by minimum member id.
    *
    * Exactness: cosine is rounded at 4 BEFORE the ≥ ε compare on both
    * engines (the q28 convention), so the edge set — and everything
    * downstream of it — is bit-identical; all counts/labels are longs.
    *
    * Scale: the ε-graph is label-blocked (the q28 candidate scheme —
    * swap in the LSH bucket key via [[withBucket]] when no label
    * exists), so no corpus self-join; edges are contained within label
    * groups by construction, which lets clustering run as ONE
    * [[DedupOps.boundedComponents]] union-find shuffle instead of
    * O(diameter) global rounds; degree/border/rollup are one
    * aggregation each. Isolated cores ride along as self-pairs so a
    * dense-but-lonely point still gets its own cluster.
    *
    * Stop-block cap (`maxLabel`, the [[DedupOps.nearDupNgramCapped]]
    * guard transplanted): a label shared by a large corpus fraction is
    * the blocking analog of a stopword — its within-label self-join is
    * O(group²) with no upper bound as the corpus grows, the one
    * quadratic blow-up the rest of the near-dup family is hardened
    * against. Labels whose member count EXCEEDS the cap are excluded
    * WHOLESALE from ε-edge generation (their members report degree 0 /
    * noise / cluster −1 — "too hot to density-cluster at this blocking
    * granularity; refine the blocking key"), so candidate pairs are
    * hard-bounded by labels × cap² whatever the data does. Because
    * edges never cross labels, exclusion is exactly label-local:
    * admitted labels' rows are bit-identical to the uncapped run
    * (DensityClusterSpec pins this plus the cap boundary). The oracle
    * mirrors the cap via a HAVING count ≤ cap admission CTE. */
  def densityClusters(spark: SparkSession, dir: String,
                      threshold: Double = 0.20, minPts: Int = 3,
                      maxLabel: Option[Int] = Some(DensityMaxLabel)): DataFrame =
    densityClustersOf(Tables.embeddings(spark, dir), threshold, minPts, maxLabel)

  /** [[densityClusters]] over any (vec_id, embedding, label) frame —
    * the label column is the blocking key. Split out so specs can
    * drive synthetic geometries with hand-computed DBSCAN roles. */
  private[graft] def densityClustersOf(e: DataFrame,
                                       threshold: Double, minPts: Int,
                                       maxLabel: Option[Int] = None): DataFrame = {
    // stop-block admission: only labels within the cap emit pairs; the
    // label dim is tiny (it IS a blocking key), so the semi-join
    // broadcasts — no extra shuffle on the corpus side
    val admitted = maxLabel.fold(e) { cap =>
      val ok = e.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))
        .filter(col("n_lab") <= cap).select(col("label"))
      e.join(broadcast(ok), Seq("label"), "left_semi")
    }
    val a = admitted.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = admitted.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val und = a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(cosScore(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("label").cast("long").as("grp"), col("vec_a"), col("vec_b"))
      .localCheckpoint(false) // ε-edges feed degree, CC, and border
    val sym = und.select(col("vec_a").as("v"), col("vec_b").as("nb"))
      .unionByName(und.select(col("vec_b").as("v"), col("vec_a").as("nb")))
    val deg = sym.groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val core = deg.filter(col("degree") >= minPts).select(col("v"))
    val coreEdges = und
      .join(core.select(col("v").as("vec_a")), Seq("vec_a"), "left_semi")
      .join(core.select(col("v").as("vec_b")), Seq("vec_b"), "left_semi")
      .select(col("grp"), col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    // isolated cores enter as self-pairs: union-find keeps the node,
    // so a core with no core neighbor founds its own 1-core cluster
    val coreSelf = e.join(core.select(col("v").as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("label").cast("long").as("grp"),
        col("vec_id").as("doc_a"), col("vec_id").as("doc_b"))
    val clus = DedupOps.boundedComponents(coreEdges.unionByName(coreSelf))
    val coreOut = clus.select(col("id").as("vec_id"), col("cluster"), lit("core").as("role"))
    // border: non-core with ≥1 core neighbor → min core-neighbor cluster
    // (joining nb against clus doubles as the nb-is-core filter)
    val borderOut = sym
      .join(clus.select(col("id").as("nb"), col("cluster")), Seq("nb"))
      .join(core, Seq("v"), "left_anti")
      .groupBy(col("v")).agg(min(col("cluster")).as("cluster"))
      .select(col("v").as("vec_id"), col("cluster"), lit("border").as("role"))
    e.select(col("vec_id"), col("label").cast("int").as("label"))
      .join(deg.select(col("v").as("vec_id"), col("degree")), Seq("vec_id"), "left")
      .join(coreOut.unionByName(borderOut), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("degree"), lit(0L)).as("n_neighbors"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
      .orderBy(col("vec_id"))
  }
}
