package graft.sources

import graft.{QuerySpec, Tables}

/** The partitioned-layout queries: each writes a layout through [[Formats]]
  * and aggregates it back, and is checked by DuckDB SQL over the source
  * table. */
object FormatsQueries {

  val specs: Seq[QuerySpec] = Seq(
    // partition-pruned layout: documents re-persisted partitioned by
    // source, read back through a partition filter — the write AND the
    // pruned scan are both what this query certifies; the oracle only
    // sees the aggregates, and PlanSpec asserts the PartitionFilters
    QuerySpec("q103_partition_pruned",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val path = s.conf.get("spark.sql.warehouse.dir")
          .stripSuffix("/") + "/graft_docs_by_source"
        Formats.writePartitioned(
          Tables.documents(s, d), path, Seq("source"))
        s.read.parquet(path)
          .filter(col("source") === "src7")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("bigint").as("total_chars"))
      },
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents WHERE source = 'src7' GROUP BY lang""".stripMargin),
    // q103's layout under the routine incremental operation: one
    // source partition re-landed (filtered to doc_id % 40 = 3 — half
    // of src3, whose ids are ≡ 3 mod 20; an even/odd filter would
    // empty the partition and dynamic overwrite would write nothing)
    // via DYNAMIC partition overwrite — the aggregate over the whole
    // layout proves the re-land replaced exactly src3 and left every
    // sibling byte-intact (a static overwrite would empty them). The
    // oracle computes the post-re-land state relationally: src3 keeps
    // only the re-landed half, every other source its full partition
    QuerySpec("q105_dynamic_overwrite",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val path = s.conf.get("spark.sql.warehouse.dir")
          .stripSuffix("/") + "/graft_docs_dyn"
        val docs = Tables.documents(s, d)
        Formats.writePartitioned(docs, path, Seq("source"))
        Formats.overwritePartitions(
          docs.filter(col("source") === "src3" && pmod(col("doc_id"), lit(40)) === 3),
          path, Seq("source"))
        s.read.parquet(path)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("bigint").as("total_chars"))
      },
      """WITH eff AS (
        |  SELECT source, text FROM documents WHERE source <> 'src3'
        |  UNION ALL
        |  SELECT source, text FROM documents WHERE source = 'src3' AND doc_id % 40 = 3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM eff GROUP BY source""".stripMargin),
    // partition-scoped MERGE: a keyed change batch (delete / replace /
    // insert, including into a brand-new partition) applied to q103's
    // layout by rewriting ONLY the touched partitions — dynamic
    // partition pruning on the read (spec-asserted), dynamic overwrite
    // on the write; the whole-layout aggregate proves delete/replace/
    // insert semantics AND sibling survival in one oracle row set. The
    // oracle computes the merged state relationally: survivors of the
    // delete/replace filter, the edits, and the re-keyed inserts landing
    // in a partition that didn't exist before the merge
    QuerySpec("q114_merge_partitioned",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val path = s.conf.get("spark.sql.warehouse.dir")
          .stripSuffix("/") + "/graft_docs_merge"
        val docs = Tables.documents(s, d)
        Formats.writePartitioned(docs, path, Seq("source"))
        val base = docs.filter(col("source").isin("src2", "src5"))
        val m = pmod(col("doc_id"), lit(23))
        val changes = base.filter(m === 4).withColumn("op", lit("delete"))
          .unionByName(base.filter(m === 6)
            .withColumn("text", concat(col("text"), lit(" merged-edit")))
            .withColumn("op", lit("upsert")))
          .unionByName(base.filter(m === 9)
            .withColumn("doc_id", col("doc_id") + 2000000L)
            .withColumn("source", lit("src_new"))
            .withColumn("op", lit("upsert")))
        Formats.mergeIntoPartitioned(s, path, changes, "doc_id", "source")
        s.read.parquet(path)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).cast("bigint").as("sum_ids"),
            sum(length(col("text"))).cast("bigint").as("total_chars"))
      },
      """WITH merged AS (
        |  SELECT doc_id, text, source FROM documents
        |  WHERE NOT (source IN ('src2','src5') AND doc_id % 23 IN (4, 6))
        |  UNION ALL
        |  SELECT doc_id, text || ' merged-edit', source FROM documents
        |  WHERE source IN ('src2','src5') AND doc_id % 23 = 6
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, 'src_new' FROM documents
        |  WHERE source IN ('src2','src5') AND doc_id % 23 = 9)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM merged GROUP BY source""".stripMargin),
  )
}
