package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CurationOps, DedupOps, Relational, RelationalExt, SimilarityOps, TextOps}

/** Physical-plan assertions: the scale properties the engine promises
  * (pushdown, pruning, broadcast of bounded sides, partial top-k) must
  * be visible in the plan, not just hoped for. These lock against
  * regressions that would silently turn a scan-narrow query into a
  * full-table read or a broadcast join into a shuffle at 100 TB. */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  // formatted mode prints full PushedFilters/ReadSchema (plain
  // toString truncates long filter lists with "...")
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter/project: predicates reach the parquet scan, schema pruned") {
    val p = plan(Relational.filterProject(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    // 6 of 11 lineitem columns read, and no extras
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_returnflag") && !read.contains("l_tax"))
  }

  test("multiway join: bounded dimensions broadcast, never shuffled") {
    val p = plan(Relational.joinMultiway(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("top-k: planned as partial TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.joinTopRevenue(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("brute-force similarity: the query vector is broadcast") {
    val p = plan(SimilarityOps.bruteForceTopK(spark, sf))
    assert(p.contains("Broadcast"))
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // formatted mode marks codegen'd operators with "[codegen id : N]"
    val p = plan(Relational.filterProject(spark, sf))
    assert(p.contains("codegen id"))
  }

  test("IN-list predicates push into the parquet scan") {
    val p = plan(RelationalExt.inListFilter(spark, sf))
    assert(p.contains("In(o_orderpriority"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("o_totalprice") && !read.contains("o_custkey"))
  }

  test("tf-idf: the vocabulary-sized df side broadcasts via AQE, not by hint") {
    // the broadcast HINT was removed (r21 de-force sweep): a forced
    // broadcast of an unbounded Heaps-law vocabulary OOMs executors at
    // 100 TB with no fallback. At test scale AQE must still promote
    // the tiny df side to a broadcast join at RUNTIME — the
    // scale-adaptive behavior the de-force exists to restore — so the
    // assertion reads the FINAL adaptive plan, not the static one.
    val df = TextOps.tfidfTop(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "AQE did not promote the df side to broadcast:\n" + p)
  }

  test("bigram fluency: de-forced model joins all broadcast via AQE at test scale") {
    // tb/cx/cu lost their broadcast hints (n-gram model tables are
    // unbounded — the one real 100 TB OOM risk the r20 verdict named);
    // AQE must promote all three model joins at runtime. sc (1-row)
    // stays hinted, so the final plan carries >= 4 broadcast joins.
    val df = TextOps.bigramFluency(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val nBhj = p.split("BroadcastHashJoin").length - 1
    assert(nBhj >= 3, s"expected >=3 runtime broadcast joins, got $nBhj:\n$p")
  }

  test("histogram and stats aggregate with a map-side partial phase") {
    // partial_ functions before the exchange = map-side combine; the
    // shuffle moves bins/groups, not rows
    assert(plan(RelationalExt.histogram(spark, sf)).contains("partial_count"))
    assert(plan(RelationalExt.statsAgg(spark, sf)).contains("partial_stddev_samp"))
  }

  test("int8 quantization: stats join shares the vec_id partitioning, no extra shuffle") {
    // the per-vector stats table is corpus-sized, so it is NOT
    // explicitly broadcast; both join inputs hash on vec_id, so the
    // plan needs exactly the two exchanges that feed the stats agg and
    // the join/output agg — a third would mean the join re-partitioned
    val df = SimilarityOps.quantizeInt8(spark, sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.linesIterator.count(_.contains("Exchange")) <= 2,
      s"unexpected extra shuffle:\n$simple")
  }

  test("repetition filter: one exchange feeds window and both aggregations") {
    // wordRows' repartition(doc_id) satisfies the window and the
    // (doc_id, bigram) and (doc_id) groupBys (subset-clustering), so
    // the whole operator is a single shuffle
    val df = TextOps.repetitionStats(spark, sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.linesIterator.count(_.contains("Exchange")) == 1,
      "repetition stats must shuffle exactly once")
  }

  test("decontamination: the eval n-gram set is broadcast, the corpus side never shuffles for the probe") {
    // the benchmark-suite side must be the broadcast build side; the
    // training grams stream through the probe as a narrow map. The
    // doc-roster left join could ALSO plan as broadcast, so asserting
    // "some BroadcastHashJoin exists" is not enough: the probe join's
    // KEYS must be the gram column, and no exchange may repartition
    // on gram (a gram-keyed exchange = the probe regressed to shuffle)
    val p = plan(CurationOps.decontamination(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "eval-gram probe must be a broadcast join")
    assert(p.linesIterator.exists(l => l.contains("keys") && l.contains("gram")),
      "a broadcast join must be keyed on the gram column")
    // exactly ONE gram-keyed exchange exists: the eval set's distinct
    // (MB-scale by assumption). A second would mean the corpus-side
    // probe regressed from broadcast to a shuffle join.
    assert(p.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning") && l.contains("gram")) == 1,
      "only the eval-side distinct may repartition on the gram key")
  }

  test("ivf: assignment is a narrow broadcast argmin — no window, no exchange carries embeddings") {
    // the codebook is driver-side model state; per-vector centroid
    // argmin is the codegen'd L2Argmin kernel over it — the corpus must
    // NOT be replicated ×labels through a row_number window exchange
    val p = plan(SimilarityOps.ivfLabelTopK(spark, sf))
    assert(!p.contains("Window"), "argmin must not be a row_number window")
    assert(!p.linesIterator.exists(l =>
      l.contains("Arguments: hashpartitioning") && l.contains("embedding")),
      "no exchange may carry the embedding column")
  }

  test("knn join: the query batch is broadcast, the corpus embeddings never shuffle") {
    val p = plan(SimilarityOps.knnJoin(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query batch must broadcast")
    // the rank window's exchange partitions on q_id and carries only
    // scalar columns — the embedding arrays must be projected away
    // before any exchange (formatted mode lists partitioning under
    // Arguments, not on the Exchange operator line)
    assert(p.contains("hashpartitioning(q_id"),
      "rank window should hash-partition on q_id")
    assert(!p.linesIterator.exists(l =>
      l.contains("Arguments: hashpartitioning") && l.contains("emb")),
      "no exchange may carry embedding arrays")
  }

  test("duplicate spans: two exchanges total, exactly one on the gram key") {
    // the (doc_id, gram) pre-aggregation must ride the gram build's
    // doc_id repartition (subset clustering); a third exchange — or a
    // second gram exchange — means the distinct-doc count regressed to
    // the Expand-based two-phase countDistinct
    val simple = CurationOps.duplicateSpans(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.linesIterator.count(_.contains("Exchange")) == 2,
      s"duplicateSpans must shuffle exactly twice:\n$simple")
    assert(simple.linesIterator.count(_.contains("hashpartitioning(gram")) == 1,
      s"exactly one exchange may move gram rows:\n$simple")
  }

  test("maximal spans: island window rides the kgram build — no sort, no doc_id exchange beyond the gram builds") {
    // the probe side of the shared-gram semi-join keeps kgramRows'
    // (doc_id) partitioning and (doc_id, pos) order, so the island
    // row_number window and the per-(doc, island) aggregation must add
    // ZERO exchanges and ZERO sorts: the only hash exchanges are the
    // two kgram doc_id repartitions (grams + shared-set branches) and
    // the shared-set aggregation's single gram exchange, and the only
    // sorts are the two inside the kgram window builds
    val simple = CurationOps.maximalSpans(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.linesIterator.count(_.contains("hashpartitioning(gram")) == 1,
      s"exactly one gram exchange (the shared-set aggregation):\n$simple")
    assert(simple.linesIterator.count(_.contains("hashpartitioning(doc_id")) == 2,
      s"only the two kgram builds may repartition on doc_id:\n$simple")
    assert(simple.linesIterator.count(_.contains(" Sort [")) == 2,
      s"only the two kgram window builds may sort — the island window " +
        s"must reuse the (doc_id, pos) order:\n$simple")
  }

  test("span trim: no operator forces a doc_id re-shuffle — only the explicit build repartitions move doc-keyed rows") {
    // the word builds and kgram builds repartition on doc_id
    // explicitly (REPARTITION_BY_COL); every downstream join and
    // aggregation must ride those (or a broadcast) — an
    // ENSURE_REQUIREMENTS exchange on doc_id would mean the anti join
    // or a per-doc aggregation regressed to its own shuffle
    val simple = CurationOps.trimSpans(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!simple.linesIterator.exists(l =>
      l.contains("ENSURE_REQUIREMENTS") && l.contains("doc_id")),
      s"a doc_id exchange beyond the explicit builds appeared:\n$simple")
    assert(simple.linesIterator.count(_.contains("hashpartitioning(gram")) == 1,
      s"exactly one gram exchange (the shared-set aggregation):\n$simple")
  }

  test("media near-dup: decode is a narrow map on the scan, payloads never travel past it, two exchanges total") {
    val simple = graft.ops.MultimodalOps.nearDupMedia(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val lines = simple.linesIterator.toVector
    // two hash exchanges: the (band, bucket) shuffle feeding the
    // member aggregation and the final pair distinct — a third would
    // mean the signature build stopped riding the scan
    assert(lines.count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected exactly two exchanges:\n$simple")
    // the decode MapPartitions must sit on the scan with NO exchange
    // below it (narrow map), and the payload column must never appear
    // above it — lines print root-first, so "below the decode" is
    // every line after the MapPartitions line
    val decodeAt = lines.indexWhere(_.contains("MapPartitions"))
    assert(decodeAt >= 0, s"decode map missing from plan:\n$simple")
    assert(!lines.drop(decodeAt + 1).exists(_.contains("Exchange")),
      s"nothing below the decode may shuffle:\n$simple")
    assert(!lines.take(decodeAt).exists(_.contains("payload")),
      s"payload bytes must not travel past the decode:\n$simple")
  }

  test("media admission: the batch bands broadcast, the corpus index never repartitions on a band key") {
    // the probe must be a broadcast join on the band keys (an ingest
    // batch is bounded; the corpus is not) — a hashpartitioning
    // exchange on band would mean the index regressed to shuffling
    // corpus-sized band rows. The only hash exchanges allowed are the
    // post-filter hit/verdict aggregations, which are batch-sized.
    val simple = graft.ops.MultimodalOps.mediaAdmission(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.contains("BroadcastHashJoin [band"),
      s"band probe must be a broadcast join:\n$simple")
    assert(!simple.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(band")),
      s"no exchange may repartition on the band key:\n$simple")
  }

  test("partitioned layout: a partition-column filter prunes at the scan, never reaches the data") {
    import org.apache.spark.sql.functions.col
    val path = spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + "/plan_docs_by_source"
    graft.sources.Formats.writePartitioned(
      Tables.documents(spark, sf), path, Seq("source"))
    val p = plan(spark.read.parquet(path)
      .filter(col("source") === "src7").select(col("doc_id")))
    // the predicate must resolve at directory-listing time: a
    // PartitionFilters entry carrying it, and NOT a data filter (the
    // partition column is not even in the data files)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("src7")),
      s"source filter did not prune partitions:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("src7")),
      s"partition predicate leaked into the data scan:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("source"), "partition column must not be read from data files")
    // negative control: the SAME filter over the unpartitioned source
    // table lands in PushedFilters (a data-file predicate), proving
    // the assertions above can fail when the layout is absent
    val flat = plan(Tables.documents(spark, sf)
      .filter(col("source") === "src7").select(col("doc_id")))
    assert(flat.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("src7")),
      s"control: unpartitioned scan should carry a data filter:\n$flat")
    assert(!flat.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("src7")),
      s"control: unpartitioned scan cannot partition-prune:\n$flat")
  }

  test("two-pass threshold ops: the per-group threshold side broadcasts, the corpus never joins shuffled") {
    // percentileGate / winsorize / invertedIndex all follow the same
    // shape: a group-count-sized pass-1 aggregate joined back onto the
    // corpus. The join must be a broadcast hash join — losing the hint
    // (or growing the build side past the threshold) silently turns
    // pass 2 into a corpus-wide shuffle at 100 TB, which is the exact
    // sort this shape exists to avoid.
    for ((name, df) <- Seq(
      "percentileGate" -> CurationOps.percentileGate(spark, sf),
      "winsorize" -> CurationOps.winsorize(spark, sf))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"$name: threshold join is not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name: a shuffled join appeared:\n$p")
    }
    // invertedIndex's stats side is vocabulary-sized — its hint was
    // REMOVED in the r21 de-force sweep (unbounded at web scale), so
    // its broadcast promotion is AQE's call at runtime: assert on the
    // final adaptive plan instead of the static one
    val ii = TextOps.invertedIndex(spark, sf)
    ii.collect()
    val iip = ii.queryExecution.executedPlan.toString
    assert(iip.contains("BroadcastHashJoin"),
      s"invertedIndex: AQE did not promote the stats join:\n$iip")
    // negative control: the SAME two-pass shape without the hint and
    // with auto-broadcast off plans a shuffled join — proving the
    // assertions above can fail when the hint is lost
    import org.apache.spark.sql.functions.{col, expr}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val scored = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
      val th = scored.groupBy(col("source")).agg(expr("count(1)").as("n"))
      val p = plan(scored.join(th, Seq("source")))
      assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"control: hintless join under disabled auto-broadcast should shuffle:\n$p")
    } finally spark.conf.set(key, prior)
  }

  test("merge: the affected-partition scan is dynamically pruned, no driver collect") {
    import org.apache.spark.sql.functions.col
    val path = spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + "/plan_docs_merge_dpp"
    graft.sources.Formats.writePartitioned(
      Tables.documents(spark, sf), path, Seq("source"))
    // a COMPUTED change batch — its partition set is unknowable at
    // plan time, so an IN-list (the collect-based alternative) could
    // not even be built; the pruning must come from the join
    val changes = Tables.documents(spark, sf)
      .filter(col("source").isin("src2", "src5"))
      .select(col("doc_id"), col("source"))
    val p = plan(graft.sources.Formats.affectedPartitionScan(
      spark.read.parquet(path), changes, "source"))
    // dynamic partition pruning: the scan's PartitionFilters carries a
    // dynamicpruning subquery fed by the (broadcast) changes side —
    // the layout lists only the touched directories at runtime
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"affected-partition scan is not dynamically pruned:\n$p")
    // negative control: the same semi join against the UNPARTITIONED
    // table has nothing to prune — no dynamicpruning anywhere
    val flatScan = plan(graft.sources.Formats.affectedPartitionScan(
      Tables.documents(spark, sf), changes, "source"))
    assert(!flatScan.toLowerCase.contains("dynamicpruning"),
      s"control: unpartitioned scan cannot partition-prune:\n$flatScan")
  }

  test("passage chunking: zero exchanges — a pure narrow map from scan to output") {
    val df = TextOps.chunkPassages(spark, sf, window = 40, stride = 30)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!simple.linesIterator.exists(_.contains("Exchange")),
      "chunking must not shuffle — it is embarrassingly parallel per doc")
    // negative control: the passage BM25 that CONSUMES the chunks does
    // aggregate, so its plan legitimately exchanges — proving the
    // zero-exchange assertion above can fail
    val bm = TextOps.bm25PassageTopK(spark, sf, window = 40, stride = 30)
    assert(bm.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      .linesIterator.exists(_.contains("Exchange")))
  }

  test("passage BM25: query-term-sized df side broadcasts, top-k is TakeOrderedAndProject") {
    val p = plan(TextOps.bm25PassageTopK(spark, sf, window = 40, stride = 30))
    assert(p.contains("TakeOrderedAndProject"),
      "passage top-k must be partial heaps, not a global sort")
    assert(p.contains("BroadcastExchange"),
      "df/N/avgdl must broadcast back onto the tf rows")
  }

  test("z-order keys: the maxima aggregate broadcasts; the write sorts within range partitions only") {
    val keyed = RelationalExt.zOrderKeysOrders(spark, sf)
    val p = plan(keyed)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "dimension maxima must ride in as a broadcast one-row aggregate")
    // the clustered write's plan: range exchange + local sort, never a
    // single-partition global sort
    val sorted = keyed.withColumn("__zkey", org.apache.spark.sql.functions.col("zkey"))
      .repartitionByRange(8, org.apache.spark.sql.functions.col("__zkey"))
      .sortWithinPartitions("__zkey")
    val sp = sorted.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(sp.contains("rangepartitioning") || sp.contains("RangePartitioning"),
      "z-order write must range-partition on the key")
    // the sort node must be LOCAL (global=false — per-partition sort
    // after the range exchange), never a global sort; the plan's one
    // SinglePartition exchange is the 1-row maxima aggregate, which
    // is fine
    val sortLine = sp.linesIterator.find(_.trim.startsWith("+- Sort")).getOrElse(
      sp.linesIterator.find(_.contains("Sort [")).get)
    assert(sortLine.contains("false"),
      s"z-order sort must be within partitions, got: $sortLine")
  }

  test("tolerant as-of: one shuffle total — the union sorts ONCE on the join key") {
    val df = graft.ops.AsofJoin.eventsToRecentOrderTolerant(spark, sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    // both inputs land in the same key-hash exchange feeding the
    // window (plus its per-input side copies, never more): a second
    // key shuffle would mean the tolerance predicate broke the
    // single-pass union+carry shape
    assert(simple.linesIterator.count(_.contains("Exchange")) <= 2,
      s"tolerant as-of grew extra shuffles:\n$simple")
    assert(!simple.contains("CartesianProduct") && !simple.contains("BroadcastNestedLoop"),
      "tolerance must be a row-local predicate, not a join")
  }

  test("quantized rerank: both stages are partial top-k, query attaches by broadcast") {
    val p = plan(SimilarityOps.quantizedRerank(spark, sf))
    // candidate top-100 AND re-rank top-10 both TakeOrdered — never a
    // global sort of the coded corpus
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2, p)
    // the 1-row query side rides a BroadcastExchange (a broadcast
    // nested-loop against one row is the scalar-attach shape, same as
    // q29); an unbroadcast CartesianProduct would be the regression
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"),
      "the single-row query side must broadcast, not cartesian")
    // NOTE deliberately NOT asserted: codegen over the coding
    // projection — the transform() quantizer is CodegenFallback. In
    // production the codes are persisted once (a storage pass, like
    // q81) and the scan reads them; the per-query work is the
    // codegen-capable IntDotProduct + TakeOrdered.
  }

  test("lloyd assignment: the L2Argmin kernel runs inside WholeStageCodegen") {
    // the r18 form folded a broadcast model column with higher-order
    // functions — CodegenFallback, so the n×k×d kernel ran interpreted
    // (~1.2 s per training round at sf0.1). The codegen'd expression
    // must appear in a Project that carries a codegen id; if this
    // breaks, the whole Lloyd family (q150/q162/q202/q210/q218/q238)
    // silently re-interprets its hot loop.
    // codegen markers only appear on the FINAL AQE plan, so drive THIS
    // dataframe's own execution (a write would execute a separate
    // command plan and leave df's AdaptiveSparkPlan un-finalized, with
    // no codegen ids to read)
    val df = SimilarityOps.kmeansLloyd(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val argminLines = p.linesIterator.filter(_.contains("l2argmin")).toSeq
    assert(argminLines.nonEmpty, "no plan line mentions l2argmin:\n" + p)
    assert(argminLines.exists(_.contains("*(")),
      "the l2argmin projection fell out of WholeStageCodegen:\n" +
        argminLines.mkString("\n"))
  }

  test("cluster-aware split: the representative lookup joins on doc_id, never a corpus product") {
    val p = plan(CurationOps.clusterAwareSplit(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // exactly one left outer join attaches the pair-participant-sized
    // label table to the corpus roster ("Join type:" appears once per
    // join operator in formatted mode)
    assert(p.linesIterator.count(_.contains("Join type:")) == 1, p)
  }

  test("driver-finished q217, q221 and q256: no rangepartitioning exchange, a local result") {
    for ((q, df) <- Seq("q217" -> TextOps.qualityBootstrap(spark, sf),
        "q221" -> RelationalExt.ewmaRateSmoothing(spark, sf),
        "q256" -> RelationalExt.stationaryDistribution(spark, sf))) {
      val p = plan(df)
      assert(!p.toLowerCase.contains("rangepartitioning"), s"$q plans a global sort:\n$p")
      assert(p.contains("LocalTableScan"), s"$q is not a local result:\n$p")
    }
  }

  test("near-dup signatures: a narrow per-doc map; q26/q75/q110/q243 plan no window or per-doc aggregate") {
    // the signature rows themselves: scan → filter → kernel projection
    for (oph <- Seq(true, false)) {
      val p = plan(DedupOps.signatureRows(Tables.documents(spark, sf), oph, 16))
      for (op <- Seq("Window", "Exchange", "Aggregate", "Generate", "Sort"))
        assert(!p.contains(op), s"signature rows (oph=$oph) plan a $op:\n$p")
      assert(p.contains("shinglesignature"), s"no signature kernel:\n$p")
    }
    val perDocKey = """Keys \[\d+\]: \[doc_id#""".r
    for (q <- Seq("q26_neardup_minhash", "q75_minhash_md5", "q110_neardup_admission",
        "q243_neardup_oph")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Window"), s"$q plans a window:\n$p")
      assert(perDocKey.findFirstIn(p).isEmpty, s"$q aggregates per doc_id:\n$p")
    }
  }

  test("hydro merge: one exchange between the two SiteMerge folds, no aggregate") {
    val feats = graft.pipeline.HydroPipeline.toFeatures(
      graft.sources.WaterML.timeSeriesOf(spark, "src/test/resources/waterml"))
    val df = graft.pipeline.HydroPipeline.mergeSites(feats)
    // simple mode prints one line per operator, parents above children
    // (AQE hides the physical tree from executedPlan.collect before
    // execution)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val lines = simple.linesIterator.toSeq
    assert(lines.count(_.contains("Exchange")) == 1, s"merge must shuffle exactly once:\n$simple")
    for (agg <- Seq("SortAggregate", "ObjectHashAggregate", "HashAggregate"))
      assert(!simple.contains(agg), s"the merge planned a $agg:\n$simple")
    val exchange = lines.indexWhere(_.contains("Exchange"))
    val partial = lines.indexWhere(_.contains("SiteMerge partial"))
    val folded = lines.indexWhere(_.contains("SiteMerge final"))
    assert(folded >= 0 && folded < exchange, s"no final fold above the exchange:\n$simple")
    assert(partial > exchange, s"no partial fold below the exchange:\n$simple")
  }

  test("q182: weighted sums are a codegen'd hash aggregation (no ObjectHashAggregate)") {
    // the fixed-point-long rework's plan fact: per-pair weighted sums
    // are plain integer sum() aggregates — a regression to the
    // collect_list + array_sort float-fold form reintroduces
    // ObjectHashAggregate (collect_list is object-hash-only) and the
    // ~3.5 s of interpreted per-pair HOF work it cost
    // formatted mode prints one detail block per operator; the blocked
    // candidate BUILD legitimately collect_sets (object-hash-only), so
    // the assertion is scoped to the blocks that aggregate idf_fp
    val blocks = plan(DedupOps.nearDupWeighted(spark, sf)).split("\n\n")
    val wSum = blocks.filter(b => b.contains("Aggregate") && b.contains("idf_fp"))
    assert(wSum.nonEmpty, "no aggregate over idf_fp found in the plan")
    wSum.foreach(b => assert(!b.contains("ObjectHashAggregate"),
      s"the per-pair weighted-sum aggregation fell back to ObjectHashAggregate:\n$b"))
  }

  test("padding waste: corpus rows ride range partitions; only partition summaries funnel") {
    // the q179 scale claim as a plan fact: the two-phase prefix sum
    // range-partitions the CORPUS rows (never a single-task global
    // window over them); the only SinglePartition exchanges are the
    // offset windows over the O(partitions) per-partition summaries —
    // bounded rows by construction, one per strategy
    val p = plan(graft.ops.TextOps.paddingWaste(TestSpark.spark, TestSpark.sf))
    assert(p.contains("rangepartitioning"),
      "expected the range-partitioned two-phase prefix sum")
    val singles = p.linesIterator.count(_.contains("SinglePartition"))
    assert(singles <= 2,
      s"more SinglePartition exchanges ($singles) than the two summary offset windows")
    // and the summary funnels sit downstream of an aggregation (the
    // per-partition totals), not on raw corpus rows
    assert(p.contains("HashAggregate"))
  }

  test("learned IVF: the serve is a broadcast-model narrow map ending in a partial top-k") {
    val df = graft.ops.SimilarityOps.ivfLearnedTopK(TestSpark.spark, TestSpark.sf)
    val p = plan(df)
    // the centroid model and probe row reach the corpus as broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid model is not broadcast")
    // serve ends in a partial top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"),
      "learned-IVF serve planned a global sort")
    // the corpus embeddings never shuffle: no hashpartitioning
    // exchange carries the embedding column
    val carried = p.linesIterator.filter(_.contains("hashpartitioning"))
      .exists(_.contains("embedding"))
    assert(!carried, "corpus embeddings travel through a shuffle in the IVF serve")
  }

  test("DAU/WAU: one aggregation tree per count, expansion is map-side") {
    val p = plan(graft.ops.RelationalExt.dauWau(TestSpark.spark, TestSpark.sf))
    // the ×7 day expansion must be a Generate over the collapsed
    // distinct (user, day) rows — never over raw events
    assert(p.contains("Generate"), "day expansion missing")
    assert(p.contains("HashAggregate"), "distinct collapse missing")
  }

  test("embedding outliers: broadcast centroid, TakeOrdered top-k, embeddings never shuffle") {
    val p = plan(SimilarityOps.embeddingOutliers(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "corpus centroid is not broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "outlier top-k planned a global sort")
    val carried = p.linesIterator.filter(_.contains("hashpartitioning"))
      .exists(_.contains("embedding"))
    assert(!carried, "embeddings travel through a shuffle in the outlier scan")
  }

  test("KS distance: the source-pair dim broadcasts; the corpus collapses before expanding") {
    val p = plan(TextOps.ksSourceDistance(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "pair dim is not broadcast")
    // the pair expansion operates on collapsed (source, q) counts: an
    // aggregate sits BELOW the broadcast join in the plan
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.indexWhere(_.contains("HashAggregate"))
    assert(aggIdx >= 0, "corpus collapse missing")
  }

  test("source embedding drift: one posexplode aggregation, matrix join on the sources-sized dim") {
    val p = plan(SimilarityOps.sourceEmbeddingDrift(spark, sf))
    assert(p.contains("Generate"), "posexplode missing")
    // the centroid matrix self-join must not carry embedding arrays
    // through a hashpartitioning exchange
    val carried = p.linesIterator.filter(_.contains("hashpartitioning"))
      .exists(_.contains("embedding"))
    assert(!carried, "raw embeddings shuffle in the drift matrix")
  }

  test("event gaps: one corpus hash exchange — lag, rank and rollup reuse the event_type partitioning") {
    val p = plan(graft.ops.RelationalExt.eventGapPercentiles(spark, sf))
    // exactly ONE hashpartitioning exchange (the event_type shuffle
    // shared by both windows and the partial aggregation); the only
    // other exchange is the final types-sized output sort
    val hashEx = p.linesIterator
      .count(l => l.contains("hashpartitioning(event_type"))
    assert(hashEx == 1, s"expected 1 event_type hash exchange, found $hashEx:\n$p")
    assert(p.contains("Window"), "window machinery missing")
  }

  test("prefix join: candidate generation joins on the shingle key — no cartesian anywhere") {
    val p = plan(graft.ops.DedupOps.prefixJoinNearDup(spark, sf))
    assert(!p.contains("CartesianProduct"),
      "prefix join must never degrade to a cartesian product")
    // the prefix-posting self-join keys on the shingle column
    assert(p.contains("hashpartitioning(s#") || p.contains("[s#"),
      s"expected a shingle-keyed join:\n${p.take(2000)}")
  }

  test("pq rerank: codebook + query broadcast, both stages partial top-k, corpus never shuffles") {
    val df = SimilarityOps.pqRerank(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), "shortlist must be a partial top-k")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "codebook/query must attach by broadcast")
    // the embeddings scan side must not hash-exchange before the
    // shortlist cut — only the bounded 50-row rerank may move
    val preTopK = p.substring(0, p.indexOf("TakeOrderedAndProject"))
    assert(!preTopK.contains("hashpartitioning(vec_id"),
      "corpus shuffled before the ADC shortlist")
  }

  test("source KL: totals and vocab-size dims broadcast; the pair join keys on word") {
    val p = plan(TextOps.sourceUnigramKL(spark, sf))
    assert(p.contains("BroadcastExchange"), "S-row dims must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("recency score: no window, no sort — one user-keyed aggregation tree") {
    val p = plan(graft.ops.RelationalExt.recencyEngagement(spark, sf))
    assert(!p.contains("Window"), "decay sum must not need a window")
    // exactly one corpus aggregation: partial + final over user_id
    assert(p.contains("hashpartitioning(user_id"),
      "expected the user_id aggregation exchange")
  }

  test("quota sample: apportionment windows run on the S-row dim; corpus ranks within source partitions") {
    val p = plan(CurationOps.quotaSample(spark, sf))
    assert(p.contains("hashpartitioning(source"),
      "membership rank must partition by source")
    assert(p.contains("BroadcastExchange"), "quota dim must broadcast back")
  }

  test("trigram backoff: all five model tables broadcast onto the doc trigram stream via AQE") {
    // the five model-table hints were removed (r21 de-force sweep —
    // n-gram vocabularies are unbounded at web scale), so the
    // promotion is AQE's runtime decision: read the FINAL plan
    val df = TextOps.trigramBackoff(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("BroadcastHashJoin").length - 1 >= 5,
      "t3/c3x/t2/c2x/cu must all broadcast at test scale — a shuffled " +
        "model join here would mean AQE stopped promoting them:\n" + p)
  }

  test("seasonality: one corpus collapse with map-side partials; totals broadcast back") {
    val p = plan(graft.ops.RelationalExt.seasonalityProfile(spark, sf))
    assert(p.contains("partial_count"), "cell counts need map-side combine")
    assert(p.contains("BroadcastHashJoin"), "the types-sized totals dim must broadcast")
  }

  test("minhash banding: band rows carry size metadata, never the shingle-set payload") {
    // the r21 restructure (guide §2.3 — shuffle keys and metadata, not
    // payloads): the band rows that pair on (band, bucket) carry
    // (doc_id, n) only; the xxhash64 shingle SET is fetched per deduped
    // candidate pair from the checkpointed keyed frame, never
    // duplicated ×bands through the band join. A band-join side
    // carrying sh means the payload crept back into the banding.
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    for ((name, df) <- Seq(
      "minhash-md5" -> DedupOps.nearDupMinHashMd5(spark, sf),
      "oph" -> DedupOps.nearDupOPH(spark, sf))) {
      val bandJoins = df.queryExecution.sparkPlan.collect {
        case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "band")) => j
      }
      assert(bandJoins.size == 1, s"$name: expected one band join:\n${df.queryExecution.sparkPlan}")
      for (j <- bandJoins; side <- Seq(j.left, j.right))
        assert(!side.output.exists(_.name.startsWith("sh")),
          s"$name: a band-join side carries the sh payload: ${side.output.mkString(", ")}")
    }
  }

  test("band pairs: q26, q75 and q243 plan no ObjectHashAggregate and no Generate over bucket members") {
    for (q <- Seq("q26_neardup_minhash", "q75_minhash_md5", "q243_neardup_oph")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("ObjectHashAggregate") && !p.contains("collect_list"),
        s"$q collects bucket members:\n$p")
      assert(!p.linesIterator.exists(l => l.contains("Generate") && l.contains("members")),
        s"$q explodes bucket members:\n$p")
    }
  }

  test("q256 transitions: one exchange on user_id, no window, no aggregate") {
    val p = plan(RelationalExt.transitionStreams(Tables.events(spark, sf)))
    for (op <- Seq("Window", "Aggregate", "Sort"))
      assert(!p.contains(op), s"the transition fold's input plans a $op:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning(user_id"),
      s"expected one exchange on user_id:\n$p")
  }

  test("explicit distinct expansion: q53, q54, q123 and q124 plan no Expand") {
    for (q <- Seq("q53_count_distinct", "q54_approx_distinct", "q123_column_stats",
        "q124_column_stats_sketch")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Expand"), s"$q plans Spark's distinct-rewrite Expand:\n$p")
      assert(p.contains("Arguments: explode(["), s"$q has no explicit key expansion:\n$p")
    }
  }

  test("winnowing: pair build is the bucket explode — no cartesian, no corpus self-join") {
    val p = plan(DedupOps.winnowOverlap(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("explode(members"),
      "candidate pairs must come from exploding bucket member lists")
  }
}
