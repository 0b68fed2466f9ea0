package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Storage-format abstraction — the engine's equivalent of the
  * reference's collection layer (reference mongodb.js:26-53: logical
  * name → mongo collection, insert array-or-single). The engine is
  * parquet-first (columnar + stats + pushdown); JSON/CSV/ORC cover
  * interchange.
  *
  * The swap point to the reference's actual storage is REAL, not a
  * comment: any format string outside [[Supported]] passes straight
  * through to Spark's DataSource resolution — `ServiceLoader` over
  * `DataSourceRegister` short names, then class-name lookup — which
  * is exactly how the MongoDB connector registers `"mongodb"`. With
  * the connector jar deployed, `write(df, uri, "mongodb")` routes to
  * it with zero engine change; without it, resolution fails loudly at
  * the Spark layer ("Failed to find data source"). The connector is
  * not in this image (SURVEY.md §7 risk register), so the spec
  * exercises the pluggable path with a test-registered external sink
  * riding the same ServiceLoader mechanism.
  *
  * Scale notes: writes go through the normal committer (atomic,
  * task-retry-safe at 1000 executors); text formats carry no stats so
  * reads declare an explicit schema — schema inference over 100 TB of
  * JSON is a full extra scan.
  */
object Formats {
  /** Formats verified in-image; anything else resolves via Spark's
    * pluggable DataSource registry (see object scaladoc). */
  val Supported: Seq[String] = Seq("parquet", "orc", "json", "csv")

  def write(df: DataFrame, path: String, format: String,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  def read(spark: SparkSession, path: String, format: String,
           schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format(format)
    val r2 = schema.map(r.schema).getOrElse(r)
    (if (format == "csv") r2.option("header", "true") else r2).load(path)
  }

  /** Persist with Hive-style directory partitioning: one directory
    * per distinct value tuple of `cols`, so a reader filtering on a
    * partition column never OPENS the other directories — partition
    * PRUNING, visible as `PartitionFilters` on the scan
    * (PlanSpec-asserted via q103). The layout complement of
    * [[writeBucketed]]: partitioning prunes coarse, low-cardinality
    * dimensions (source, date, language) at file-listing time;
    * bucketing co-locates high-cardinality join/probe keys within
    * what survives the pruning. At 100 TB the partition columns are
    * the difference between listing a handful of directories and
    * listing the corpus. Cardinality is the caveat: a high-cardinality
    * partition column explodes the directory count (and small-files
    * the table) — that key belongs in bucketing instead. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String],
                       format: String = "parquet"): Unit = {
    require(Supported.contains(format), s"unsupported format: $format")
    require(cols.nonEmpty, "writePartitioned needs at least one partition column")
    df.write.mode(SaveMode.Overwrite).format(format)
      .partitionBy(cols: _*).save(path)
  }

  /** Write `df` Z-order-clustered: range-partition AND locally sort
    * by the interleaved key, so each of the `files` output files
    * covers one contiguous Z-range — a compact min/max envelope in
    * EVERY interleaved dimension at once. Parquet footer stats then
    * skip files for predicates on either dimension; a single-column
    * sort narrows only its own column (ZOrderSpec proves both
    * envelopes narrow vs the natural layout, with the single-sort
    * comparison as the negative control). The sort is
    * repartitionByRange + sortWithinPartitions — a range shuffle,
    * never a global single-reducer sort — and the key column is
    * dropped after sorting (row order survives the projection), so
    * the layout is a drop-in replacement for the unclustered table.
    * This is the OPTIMIZE ZORDER BY verb of the table formats,
    * expressed on plain parquet. */
  def writeZOrdered(df: DataFrame, path: String, zkey: org.apache.spark.sql.Column,
                    files: Int, format: String = "parquet"): Unit = {
    require(Supported.contains(format), s"unsupported format: $format")
    require(files > 0, "writeZOrdered needs a positive file count")
    df.withColumn("__zkey", zkey)
      .repartitionByRange(files, org.apache.spark.sql.functions.col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode(SaveMode.Overwrite).format(format).save(path)
  }

  /** Re-land ONLY the partitions present in `df`, leaving every other
    * partition of an existing [[writePartitioned]] layout untouched —
    * dynamic partition overwrite. This is the routine incremental
    * operation at 100 TB (one source re-crawled, one day re-processed):
    * static `SaveMode.Overwrite` deletes the whole root first, so
    * re-landing ONE partition would destroy the others. The
    * `partitionOverwriteMode=dynamic` WRITE OPTION (not session conf —
    * no cross-query planning state to leak, cf. the autoBucketedScan
    * save/restore in SimilarityOps) makes the committer replace exactly
    * the partition directories the incoming rows hash to. Same
    * committer atomicity per partition; a failed job leaves the old
    * partitions in place. */
  def overwritePartitions(df: DataFrame, path: String, cols: Seq[String],
                          format: String = "parquet"): Unit = {
    require(Supported.contains(format), s"unsupported format: $format")
    require(cols.nonEmpty, "overwritePartitions needs at least one partition column")
    df.write.mode(SaveMode.Overwrite).format(format)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).save(path)
  }

  /** Compact ONE partition of a [[writePartitioned]] layout: read only
    * that partition's directory (partition-pruned scan), coalesce it
    * to a single file, and re-land it via [[overwritePartitions]] —
    * siblings untouched. This is the routine small-files maintenance
    * op at 100 TB (a partition accumulates one file per micro-batch /
    * re-land until listing and open costs dominate scans); the unit of
    * work is deliberately ONE partition — the natural compaction
    * granularity — so the eager localCheckpoint that makes the
    * self-overwrite safe (the write must not stream from the very
    * files it replaces) holds one partition's rows, never the corpus.
    * Compacting a whole layout is a loop over its partitions, each
    * step independently atomic. */
  def compactPartition(spark: SparkSession, path: String,
                       partition: Seq[(String, String)],
                       format: String = "parquet"): Unit = {
    require(partition.nonEmpty, "compactPartition needs the partition value(s)")
    val pred = partition.map { case (c, v) => org.apache.spark.sql.functions.col(c) === v }
      .reduce(_ && _)
    val one = spark.read.format(format).load(path)
      .filter(pred)
      .repartition(1)
      .localCheckpoint()
    overwritePartitions(one, path, partition.map(_._1), format)
  }

  /** The layout side of a MERGE: scan ONLY the partitions of a
    * [[writePartitioned]] layout that the change batch touches. The
    * partition list is NOT collected to the driver — the semi join on
    * the partition column against the (broadcast) distinct partition
    * values of `changes` lets Catalyst insert a DYNAMIC PARTITION
    * PRUNING subquery on the scan (`dynamicpruning` in
    * `PartitionFilters`, spec-asserted), so at 100 TB the merge reads
    * the handful of re-crawled partitions, never the corpus, and the
    * pruning still works when the change batch is itself a computed
    * frame whose partition set is unknowable at plan time. */
  def affectedPartitionScan(layout: DataFrame, changes: DataFrame,
                            partCol: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    layout.join(broadcast(changes.select(partCol).distinct()),
      Seq(partCol), "left_semi")
  }

  /** Bound on the distinct partition values one change batch of
    * [[mergeIntoPartitioned]] may touch: each is a value collected to
    * the driver and possibly one directory delete. */
  private[graft] val MaxMergePartitions: Int = 1 << 16

  /** Partition-scoped MERGE (upsert + delete) into a
    * [[writePartitioned]] layout — the missing verb between
    * [[overwritePartitions]] (replace a whole partition's rows) and a
    * table format's row-level MERGE INTO: apply a keyed change batch
    * by rewriting ONLY the partitions it touches.
    *
    * `changes` carries the layout's data columns plus an `op` column
    * (`"upsert"` / `"delete"`); semantics per key within the affected
    * partitions: delete → row removed, upsert of an existing key →
    * row replaced, upsert of a new key → row inserted (including into
    * a partition that does not exist yet — dynamic overwrite creates
    * its directory). Untouched sibling partitions are never read
    * (dynamic partition pruning via [[affectedPartitionScan]]) and
    * never written (dynamic overwrite re-lands only the partitions
    * present in the merged frame) — at 100 TB the cost is proportional
    * to the re-crawled slice, not the corpus, and each partition's
    * replacement is independently atomic under the normal committer.
    *
    * The eager localCheckpoint is load-bearing, not belt-and-braces
    * (same invariant as [[compactPartition]]): the merged frame
    * streams from the very files the write replaces, and Spark
    * refuses an overwrite whose lineage reads the output path; the
    * checkpoint holds only the affected partitions' rows.
    *
    * PRECONDITION — a key never changes partition: a change row's
    * partition value must match the partition its stored row lives in.
    * Only the changes' partitions are scanned, so an upsert that
    * "moves" a key from an untouched partition leaves the OLD row
    * alive in its original partition (a silent duplicate) and a
    * delete aimed at the wrong partition silently deletes nothing.
    * Callers that re-partition a key must emit an explicit delete for
    * the old partition in the same batch. `validateKeyPartition=true`
    * enforces the precondition: a broadcast semi-join of the change
    * keys against the UNTOUCHED partitions' (key, partCol) columns —
    * column-pruned, so the check reads two columns of the rest of the
    * layout, never full rows — throws with offending keys before
    * anything is written. Off by default: the merge itself stays
    * proportional to the re-crawled slice, and the check's
    * rest-of-layout key scan is the one part that is not. */
  def mergeIntoPartitioned(spark: SparkSession, root: String,
                           changes: DataFrame, key: String, partCol: String,
                           format: String = "parquet",
                           validateKeyPartition: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(changes.columns.contains("op"),
      "changes needs an 'op' column ('upsert' | 'delete')")
    def partValues(df: DataFrame, what: String): Set[String] =
      graft.ops.DriverResults.collectBounded(df.select(col(partCol)).distinct(),
        MaxMergePartitions, what).map(r => String.valueOf(r.get(0))).toSet
    // checked before anything is written
    val affected = partValues(changes, "mergeIntoPartitioned change partitions")
    val layout = read(spark, root, format)
    if (validateKeyPartition) {
      val strays = graft.ops.DriverResults.collectBounded(layout
        .join(broadcast(changes.select(col(partCol)).distinct()),
          Seq(partCol), "left_anti")
        .join(broadcast(changes.select(col(key)).distinct()),
          Seq(key), "left_semi")
        .select(col(key), col(partCol))
        .limit(5), 5, "mergeIntoPartitioned stray keys")
      if (strays.nonEmpty) throw new IllegalStateException(
        "mergeIntoPartitioned: change keys exist in partitions the " +
          "batch does not touch (a key moving partitions needs an " +
          "explicit delete for its old partition): " +
          strays.map(r => s"$key=${r.get(0)} in $partCol=${r.get(1)}")
            .mkString(", "))
    }
    val kept = affectedPartitionScan(layout, changes, partCol)
      .join(changes.select(col(key)), Seq(key), "left_anti")
    val merged = kept.unionByName(
      changes.filter(col("op") === "upsert").drop("op")).localCheckpoint()
    overwritePartitions(merged, root, Seq(partCol), format)
    // EMPTIED partitions: dynamic overwrite only replaces directories
    // the merged frame writes rows INTO — a partition whose every row
    // the batch deletes (and re-fills with nothing) contributes no
    // rows, so its directory would survive untouched and the deletes
    // would silently not apply. Remove those directories explicitly.
    // The two collects are partition-VALUE lists bounded by
    // MaxMergePartitions, never rows; each directory delete is an
    // independent FS operation with the same per-partition atomicity
    // as the committer's own replacement.
    val written = partValues(merged, "mergeIntoPartitioned written partitions")
    val emptied = affected -- written
    if (emptied.nonEmpty) {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { v =>
        val dir = new org.apache.hadoop.fs.Path(rootPath, s"$partCol=$v")
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }
  }

  /** Persist as a bucketed + sorted catalog table: both sides of a
    * recurring equi-join bucketed on the join key read back
    * pre-partitioned and pre-sorted, so the join plans with NO shuffle
    * exchange and no sort — the "pre-partition the fact tables once,
    * join for free forever" pattern that matters most at 100 TB, where
    * the shuffle would otherwise move the whole table per query.
    * Bucket count is fixed at write time: pick it for target-cluster
    * parallelism (it caps join parallelism until AQE splits).
    *
    * The pre-write `repartition(buckets, key)` is load-bearing, not
    * cosmetic: Spark only trusts a bucketed table's `sortBy` order
    * when each bucket holds EXACTLY ONE file (SPARK-24528 — with
    * several files per bucket the rows interleave, so the reader
    * silently re-inserts a per-bucket Sort, costing the sort half of
    * the shuffle-free promise with no error). A bucketed write emits
    * one file per (task, bucket) pair; repartitioning on the bucket
    * key with the bucket count uses the same Murmur3 `pmod` hash the
    * bucket assignment uses, so every task owns exactly one bucket
    * and writes exactly one file.
    *
    * Re-run safety: `SaveMode.Overwrite` alone only overwrites a table
    * the CATALOG knows about. A stale warehouse directory from an
    * earlier session (in-memory catalog, nothing registered) fails the
    * write with LOCATION_ALREADY_EXISTS — so drop any catalog entry
    * and delete a leftover default-location directory first. The
    * default managed-table location for the default database is
    * `<spark.sql.warehouse.dir>/<lowercased table name>`. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    // the cleanup below derives the location as <warehouse>/<name> and
    // backtick-quotes the name — both wrong for qualified db.table
    // names (location would be <warehouse>/<db>.db/<name>, and the
    // quoted dotted string drops nothing) — so fail loud rather than
    // leave a stale directory the write then trips over
    require(!table.contains('.'),
      s"writeBucketed supports simple default-database table names only, got '$table'")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.repartition(buckets, df.col(key))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Append a batch to an existing [[writeBucketed]] table with the
    * SAME bucket spec — the index-maintenance primitive: history is
    * never rewritten or reshuffled, the batch hashes into the same
    * bucket layout (Spark validates the spec against the catalog and
    * fails loudly on a mismatch), and every bucket-pruned reader sees
    * old + new files of its bucket. */
  def appendBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    require(!table.contains('.'),
      s"appendBucketed supports simple default-database table names only, got '$table'")
    df.repartition(buckets, df.col(key))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }
}
