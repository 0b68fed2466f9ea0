package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextNorm

/** Text-analysis operators for LLM-data pipelines over the
  * `documents` table: token counting, quality scoring, language
  * identification, and content fingerprinting (SURVEY.md §2c).
  *
  * Everything is built from codegen'd built-ins (`regexp_*`, `split`,
  * `md5`, `length`) — no UDFs — so the whole stage stays inside
  * WholeStageCodegen and scales as a pure narrow map: at 100 TB these
  * run once per document with zero shuffles, and the derived columns
  * prune down to the parquet scan of `text` only.
  *
  * Each heuristic is mirrored verbatim in [[TextQueries]]' oracle SQL
  * (the regex/CASE constants below are interpolated into the SQL) so
  * the DuckDB oracle checks the exact same function.
  */
object TextOps {

  /** Word-ish BPE-style pre-tokenizer: alnum runs or single
    * non-alnum-non-space marks. Same pattern compiles under Java
    * regex (Spark) and RE2 (DuckDB). */
  val BpeTokenPattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  /** Punctuation-ish: any non-alnum, non-space char. */
  val PunctPattern = "[^A-Za-z0-9\\s]"

  /** Tiny per-language stopword alternations over lowercased text. */
  val EnStops = "\\b(?:the|and|of|to|is|in|that|it|with|for)\\b"
  val EsStops = "\\b(?:el|la|de|que|y|en|los|una|por|con)\\b"
  val DeStops = "\\b(?:der|die|das|und|ist|nicht|ein|mit|von|zu)\\b"
  val FrStops = "\\b(?:le|les|des|est|une|et|dans|pour|qui|sur)\\b"

  /** CJK unified ideographs range as literal chars (U+4E00–U+9FFF). */
  val CjkPattern = "[一-鿿]"

  private def nMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("bigint")

  /** Boundary-safe rounding for formula-derived ratios: floor(x·10^d
    * + 0.5)/10^d is pure IEEE arithmetic, bit-identical across
    * engines. Library round() is NOT: Spark rounds on the full
    * decimal expansion of the double while DuckDB multiplies first,
    * and values an ulp away from the .5 boundary (common here —
    * the quality weights are exact decimal fractions) flip between
    * them. Observed: one sf0.1 doc differed by exactly 1e-6. */
  private[graft] def roundAt(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    floor(c * p + lit(0.5)) / p
  }
  private[graft] def roundAtSql(expr: String, digits: Int): String = {
    val p = "1" + "0" * digits
    s"floor(($expr) * $p + 0.5) / $p"
  }

  /** Token counting: whitespace tokens + BPE-ish regex tokens +
    * average token length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars_calc"),
      size(split(col("text"), "\\s+")).cast("bigint").as("ws_tokens"),
      nMatches(col("text"), BpeTokenPattern).as("bpe_tokens"),
      roundAt(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
        nMatches(col("text"), BpeTokenPattern), 4).as("avg_token_len"))

  /** The blend BEFORE the output rounding — [[qualityCol]] is its
    * roundAt(·, 6); q217's bootstrap needs the same floor-form
    * numerator (`floor(raw·10⁶+0.5)`) as an exact long, so the raw
    * tree is shared rather than un-rounding the rounded double. */
  private[ops] def qualityRawCol: Column = {
    val t = lower(col("text"))
    val nChars = length(col("text")).cast("double")
    val nTokens = size(split(col("text"), "\\s+")).cast("double")
    val punct = nMatches(col("text"), PunctPattern).cast("double")
    val stops = nMatches(t, EnStops).cast("double")
    least(nChars / lit(500.0), lit(1.0)) * 0.5 +
      least(stops / nTokens * 5.0, lit(1.0)) * 0.3 +
      (lit(1.0) - least(punct / nChars * 10.0, lit(1.0))) * 0.2
  }

  /** The blended 0..1 quality score over the `text` column, as ONE
    * shared Column definition: [[qualityScore]] reports it and
    * [[corpusFilter]] gates on it — a second copy of the weights
    * would let a retune silently desynchronize the composed gate from
    * its component query while both still pass their own oracles. */
  private[ops] def qualityCol: Column = roundAt(qualityRawCol, 6)

  /** Quality scoring: length, punctuation density, stopword density,
    * and a blended 0..1 score — the standard cheap pre-filter before
    * expensive dedup/training steps. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val t = lower(col("text"))
    val nChars = length(col("text")).cast("double")
    val nTokens = size(split(col("text"), "\\s+")).cast("double")
    val punct = nMatches(col("text"), PunctPattern).cast("double")
    val stops = nMatches(t, EnStops).cast("double")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      roundAt(punct / nChars, 6).as("punct_ratio"),
      roundAt(stops / nTokens, 6).as("stopword_ratio"),
      qualityCol.as("quality"))
  }

  /** Language ID by stopword/CJK hit counts with a fixed, documented
    * tie-break: the strict `>` comparisons mean an EXACT count tie
    * falls through to the later branch, so ties resolve
    * en > fr > es > de > zh (e.g. de == es picks 'es'). Deterministic
    * and mirrored verbatim in the oracle SQL — anyone retuning the
    * heuristic should read the chain, not assume branch order equals
    * priority. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), langPredCol.as("lang_pred"))

  /** The language prediction over the `text` column, as the one
    * shared Column definition (see [[qualityCol]]'s rationale). */
  private[ops] def langPredCol: Column = {
    val t = lower(col("text"))
    val zh = nMatches(col("text"), CjkPattern)
    val en = nMatches(t, EnStops)
    val es = nMatches(t, EsStops)
    val de = nMatches(t, DeStops)
    val fr = nMatches(t, FrStops)
    when(zh > 0, "zh")
      .when(de > en && de > es && de > fr, "de")
      .when(es > en && es > fr, "es")
      .when(fr > en, "fr")
      .otherwise("en")
  }

  /** q213: language-ID confidence margin — q22's five stopword/CJK
    * hit counts with the top-two SORTED counts and their gap, plus an
    * `is_ambiguous` flag (margin < 3). The prediction itself keeps
    * q22's precedence-tie rule verbatim; the margin uses the pure
    * sorted counts, because confidence is about evidence mass, not
    * tie-break order. The curation use: low-margin docs are the
    * mixed-language / code-switched tail that breaks per-language
    * tokenizers and quality models — route them to review instead of
    * trusting the argmax (the fasttext-confidence-threshold pattern
    * from CCNet, on the n-gram heuristic).
    *
    * Exactness: all counts exact longs; margin a long difference;
    * flag on the exact margin. Scale: a pure narrow map on the scan —
    * zero exchanges. */
  def langIdMargin(spark: SparkSession, dir: String): DataFrame = {
    val t = lower(col("text"))
    val counts = array(
      nMatches(col("text"), CjkPattern),
      nMatches(t, EnStops),
      nMatches(t, EsStops),
      nMatches(t, DeStops),
      nMatches(t, FrStops))
    val sorted = reverse(array_sort(counts))
    Tables.documents(spark, dir).select(
      col("doc_id"), langPredCol.as("lang_pred"),
      element_at(sorted, 1).as("top_hits"),
      element_at(sorted, 2).as("second_hits"),
      (element_at(sorted, 1) - element_at(sorted, 2)).as("margin"),
      (element_at(sorted, 1) - element_at(sorted, 2) < lit(3L)).as("is_ambiguous"))
      .orderBy(col("doc_id"))
  }

  /** q241: lang-ID CALIBRATION against ground truth — q213's
    * confidence margins validated with the one asset this corpus
    * uniquely offers: a true `lang` column. Accuracy per margin band
    * is the reliability readout that justifies (or kills) q213's
    * is_ambiguous threshold: a well-calibrated confidence shows
    * accuracy RISING with margin, and the ambiguous band's measured
    * accuracy is the review-queue cost of trusting the argmax there.
    * The classifier-eval member of the model-audit family (q206
    * scores retrieval, q204 a regressor's ranking; this scores a
    * classifier's confidence).
    *
    * Exactness: margins and correctness are exact longs (prediction
    * string equality against truth); band cuts are integer compares;
    * accuracy one division under roundAt. Band labels carry a sort
    * prefix so the output order is the confidence order on both
    * engines. Scale: one narrow map + one bands-sized rollup. */
  def langIdCalibration(spark: SparkSession, dir: String): DataFrame = {
    val t = lower(col("text"))
    val counts = array(
      nMatches(col("text"), CjkPattern),
      nMatches(t, EnStops),
      nMatches(t, EsStops),
      nMatches(t, DeStops),
      nMatches(t, FrStops))
    val sorted = reverse(array_sort(counts))
    val margin = element_at(sorted, 1) - element_at(sorted, 2)
    val band = when(margin < 3, "0_ambiguous")
      .when(margin < 6, "1_low")
      .when(margin < 11, "2_mid")
      .otherwise("3_high")
    Tables.documents(spark, dir)
      .select(band.as("band"),
        when(langPredCol === col("lang"), 1L).otherwise(0L).as("ok"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"))
      .select(col("band"), col("n_docs"), col("n_correct"),
        roundAt(col("n_correct").cast("double") / col("n_docs").cast("double"), 6)
          .as("accuracy"))
      .orderBy(col("band"))
  }

  /** Normalized-content fingerprint: lowercase, strip non-alnum to
    * single spaces, md5. Exact-dup detection key that survives
    * whitespace/punctuation/case edits; distributable as a pure map
    * (the shuffle, if any, happens in the groupBy that consumes it). */
  def fingerprintCol(text: Column): Column =
    md5(TextNorm.norm(text))

  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), fingerprintCol(col("text")).as("fp"))

  /** Exact-dedup survivors: the corpus after keeping one document
    * (min doc_id) per normalized-content fingerprint — the
    * materialization step downstream of [[DedupOps.dedupExact]]'s
    * group report. One aggregation + one semi join, both on doc_id /
    * fingerprint; at 100 TB the semi join broadcasts nothing and
    * shuffles only (fp, keeper) pairs. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .join(exactKeepers(spark, dir), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("bigint").as("n_chars_calc"))

  /** The min-doc_id-per-fingerprint survivor set, shared by
    * [[dedupSurvivors]] and [[corpusFilter]] (one definition of the
    * keeper rule, like [[qualityCol]]). */
  private[ops] def exactKeepers(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(fingerprintCol(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  /** The composed training-data gate: quality score, predicted
    * language, and exact-dup survivorship evaluated together — keep
    * English docs with quality ≥ 0.5 that survive dedup. Quality and
    * language are computed in ONE pass over the text (shared
    * normalization subexpressions); survivorship is the same
    * fingerprint semi join as [[dedupSurvivors]]. This is the shape a
    * 100 TB corpus-prep job takes: narrow scoring map + one keyed
    * semi join, no wide shuffles of the text itself. */
  def corpusFilter(spark: SparkSession, dir: String, minQuality: Double = 0.5): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), qualityCol.as("quality"), langPredCol.as("lang_pred"))
      .filter(col("quality") >= minQuality && col("lang_pred") === "en")
      .join(exactKeepers(spark, dir), Seq("doc_id"), "left_semi")

  /** Normalized word rows: one row per (doc, word occurrence), empty
    * docs dropped. Shared by tf-idf and bigram stats. */
  private def wordRows(spark: SparkSession, dir: String): DataFrame =
    wordRowsOf(Tables.documents(spark, dir))

  private def wordRowsOf(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id")) // spread the explode (cf. DedupOps.shingleRows)
      .select(col("doc_id"),
        posexplode(TextNorm.words(col("text"))))
      .filter(col("col") =!= "")
      .select(col("doc_id"), col("pos"), col("col").as("word"))

  /** q230: lang × source chi-square independence audit — is language
    * distributed the same way across sources? The mix-design question
    * behind per-source tokenizer/filter choices (a source whose lang
    * mix diverges needs its own lang-ID thresholds — q213's ambiguity
    * margin varies by script mix). Emitted at CELL granularity:
    * observed, expected = row·col/N, and the cell's χ² contribution —
    * the drill-down that says WHICH (lang, source) drives the
    * dependence, not just that it exists; the statistic is the sum of
    * a tiny cell table, left to the reader/judge (no χ² CDF exists in
    * either engine — and the p-value adds nothing the contributions
    * don't).
    *
    * Exactness: all counts exact longs; expected and the contribution
    * are each ONE fixed IEEE tree over exact longs
    * ((row·col)/N then (obs−exp)²/exp), under roundAt.
    *
    * Scale: one corpus collapse to the (lang × source) cell table;
    * margins are cell-table rollups broadcast back onto cells. */
  def langSourceChi2(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs"))
      .localCheckpoint(false)
    val rowT = cells.groupBy(col("lang")).agg(sum(col("obs")).as("rt"))
    val colT = cells.groupBy(col("source")).agg(sum(col("obs")).as("ct"))
    val tot = cells.agg(sum(col("obs")).as("nn"))
    val exp0 = (col("rt").cast("double") * col("ct").cast("double")) /
      col("nn").cast("double")
    // DENSE grid: an absent (lang, source) combination is a ZERO cell
    // whose contribution is (0−E)²/E = E — dropping it understates the
    // statistic and breaks the ΣE-per-margin identity the spec pins
    rowT.crossJoin(broadcast(colT))
      .join(cells, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("rt"), col("ct"),
        coalesce(col("obs"), lit(0L)).as("obs"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("obs"),
        roundAt(exp0, 6).as("expected"),
        roundAt((col("obs").cast("double") - exp0) *
          (col("obs").cast("double") - exp0) / exp0, 6).as("cell_chi2"))
      .orderBy(col("lang"), col("source"))
  }

  /** q225: pairwise KL divergence between SOURCE unigram language
    * models — the lexical member of the source-comparison suite
    * (q200 compares quality CDFs, q207 vocab sets, q208 embedding
    * centroids; this compares the actual word DISTRIBUTIONS, the
    * signal mixture-weight tuning reads). Add-1 smoothing over the
    * union vocabulary so every word contributes to every ordered
    * pair: P_s(w) = (n_s(w)+1)/(N_s+V), KL(a‖b) = Σ_w P_a ln(P_a/P_b)
    * — asymmetric by design (KL(crawl‖wiki) ≠ KL(wiki‖crawl); both
    * directions are emitted).
    *
    * Exactness device (the q218 floor-scaling): each word's term is
    * one fixed IEEE tree over exact longs (counts, totals, V — the
    * mirrored-ln convention for the single ln), then floor-scaled to
    * an exact 1e12-fixed-point LONG so the per-pair Σ is an
    * ORDER-INDEPENDENT integer sum — no sorted fold, no collect_list,
    * nothing bounded by vocabulary size in memory. Long headroom:
    * |term| ≤ ~1, so Σ stays exact to ~10⁶-word vocabularies per
    * pair ×10⁶ magnitude — beyond that the sum column switches to
    * decimal (the q191 device).
    *
    * Scale: one corpus pass to (source, word) counts; the dense
    * S×V grid is vocab-distributed with the S-row totals broadcast;
    * the pair join is word-keyed (S² rows per word, S bounded); the
    * rollup is S²-sized. */
  def sourceUnigramKL(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("source"), explode(TextNorm.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val counts = rows.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val totals = counts.groupBy(col("source")).agg(sum(col("n")).as("nt"))
    val vocab = counts.select(col("word")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val grid = vocab.crossJoin(broadcast(totals))
      .join(counts, Seq("source", "word"), "left")
      .select(col("source"), col("word"),
        coalesce(col("n"), lit(0L)).as("n"), col("nt"))
    val a = grid.select(col("word"), col("source").as("src_a"),
      col("n").as("na"), col("nt").as("nta"))
    val b = grid.select(col("word"), col("source").as("src_b"),
      col("n").as("nb"), col("nt").as("ntb"))
    val pa = (col("na") + lit(1L)).cast("double") / (col("nta") + col("v")).cast("double")
    val pb = (col("nb") + lit(1L)).cast("double") / (col("ntb") + col("v")).cast("double")
    val termScaled = floor(pa * log(pa / pb) * lit(1e12) + lit(0.5)).cast("long")
    a.join(b, "word").filter(col("src_a") =!= col("src_b"))
      .crossJoin(broadcast(vsize))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_vocab"), sum(termScaled).as("sc"))
      .select(col("src_a"), col("src_b"), col("n_vocab"),
        roundAt(col("sc").cast("double") / lit(1e12), 6).as("kl"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Top-5 tf-idf terms per document — the classic relevance ranking,
    * fully relational: tf = per-(doc,word) count, df = distinct-doc
    * count per word, idf = ln((N+1)/(df+1)) + 1 (smoothed), ranked per
    * doc with deterministic ties (score desc, word asc).
    *
    * Scale: two aggregations (by (doc,word), then by word) and one
    * window — each a single shuffle; df is a small broadcastable side
    * (vocabulary-sized) joined back onto term rows. The doc count N
    * rides IN the plan as a broadcast one-row cross join (the
    * unigramLogProb form) — an eager `.count()` here would run a full
    * extra corpus job at every plan BUILD, before the query even
    * executes. */
  def tfidfTop(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = wordRows(spark, dir)
    val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = words.groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_raw").desc, col("word"))
    // df is UNBOUNDED (Heaps-law vocabulary — 1e8-1e9 entries at web
    // scale): no broadcast hint, so Spark's size check decides — AQE
    // promotes the tiny sf-scale table to broadcast at runtime, a
    // 100 TB vocabulary shuffle-joins on word instead of OOMing the
    // executors (OPTIMIZATION_r21 de-force sweep). n is a 1-row
    // aggregate — bounded, hinted.
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("score_raw",
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("word"), col("tf"),
        roundAt(col("score_raw"), 6).as("score"))
  }

  /** Corpus bigram counts (≥3 occurrences): adjacent-word pairs via
    * the same lead-over-window trick as DedupOps.shingleRows — the
    * whole pair build is codegen'd, no array lambdas, and the filter
    * uses the window's own lead value (never a per-doc recompute). */
  def bigramCounts(spark: SparkSession, dir: String, minCount: Long = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    wordRows(spark, dir)
      .select(col("doc_id"), col("word").as("w0"),
        lead(col("word"), 1).over(w).as("w1"))
      .filter(col("w1").isNotNull)
      .groupBy(concat_ws(" ", col("w0"), col("w1")).as("bigram"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Inverted index build (token → ordered postings with term
    * frequencies) — the classic large-corpus map-reduce, fully
    * relational: tf per (word, doc) in one partial-aggregated
    * shuffle, df/total_tf per word in a second, then the postings
    * list materialized ONLY for the df-band that can afford one.
    *
    * The df band is the scale design, not a convenience filter:
    * `collect_list` memory is bounded by `maxDf` BY CONSTRUCTION, so
    * no stopword-tier token can ever accumulate a corpus-sized
    * postings array in one aggregation buffer — at 100 TB the
    * high-df tail that a real search system stores as block-
    * compressed skip lists is excluded here by predicate, and the
    * band's df/total_tf stats still come from the full unbounded
    * aggregation. The vocabulary-sized stats frame broadcasts back
    * onto the tf rows (no second corpus shuffle). The per-row
    * `transform` reassembly is interpreted but runs once per VOCAB
    * row, not per posting (cf. the q99 reassembly note); postings
    * order is total — struct sort on (doc_id, tf) with doc_id unique
    * per group. */
  def invertedIndex(spark: SparkSession, dir: String,
                    minDf: Long = 2, maxDf: Long = 5000): DataFrame = {
    val tf = wordRows(spark, dir)
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy(col("word"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .filter(col("df").between(minDf, maxDf))
    // stats is df-BANDED but still vocabulary-sized (unbounded at web
    // scale): unhinted — AQE broadcasts at sf scale, shuffle-joins at
    // 100 TB (de-force sweep).
    tf.join(stats, Seq("word"))
      .groupBy(col("word"), col("df"), col("total_tf"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"), col("tf")))),
          x => concat_ws(":", x.getField("doc_id"), x.getField("tf"))),
        ",").as("postings"))
      .select(col("word"), col("df"), col("total_tf").cast("bigint").as("total_tf"),
        col("postings"))
  }

  /** BM25 top-k retrieval (Robertson & Spärck Jones / Okapi BM25,
    * k1/b defaults): score a fixed query term set against the corpus,
    * fully relationally — the retrieval flagship the inverted-index
    * machinery exists to serve.
    *
    * Plan shape: document lengths are a corpus-wide partial aggregate;
    * per-(doc, term) tf touches ONLY rows matching the query's IN-list
    * (pushed to the scan); df/avgdl/N are query-term-sized or one-row
    * aggregates broadcast back (the unigramLogProb pattern — never a
    * global window); the final top-k is TakeOrderedAndProject. At
    * 100 TB the tf branch is the only corpus-scale work and it is
    * filter-pruned to query terms before any shuffle. The summed
    * score rounds to 6 (cross-engine sum-order ulps); ranking uses
    * the unrounded score with doc_id tie-break. */
  def bm25TopK(spark: SparkSession, dir: String,
               query: Seq[String] = Seq("data", "analysis", "model"),
               k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val words = wordRows(spark, dir)
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = words.filter(col("word").isin(query: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).cast("double").as("n_docs"))
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf.join(broadcast(df), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
      .groupBy(col("doc_id")).agg(sum(idf * norm).as("score_raw"))
    scored.orderBy(col("score_raw").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), roundAt(col("score_raw"), 6).as("bm25"))
  }

  // ---------------------------------------------------------------
  // passage chunking + passage-level retrieval (the RAG shape)
  // ---------------------------------------------------------------

  /** Overlapping fixed-size passage chunking — the document splitter
    * every retrieval-augmented pipeline runs before embedding or
    * indexing: word windows of `window` tokens advancing by `stride`
    * (overlap = window − stride keeps answers that straddle a
    * boundary findable in at least one passage). Passage count per
    * doc is 1 + ceil((len − window)/stride) floored at 1, so a short
    * doc is one (short) passage and the last passage may run short
    * rather than spilling a near-duplicate tail window.
    *
    * Scale shape: chunking is embarrassingly parallel — ONE narrow
    * map per document (split, explode the passage-id sequence, slice)
    * with NO shuffle anywhere; at 100 TB this pipelines straight from
    * the scan into whatever consumes the passages. The slice/
    * concat_ws HOFs are interpreted, but run once per PASSAGE (cf.
    * the shingleRows note, where the interpreted form ran per shingle
    * and was replaced); per-passage state is `window`-bounded. */
  def chunkPassages(spark: SparkSession, dir: String,
                    window: Int = 120, stride: Int = 80): DataFrame =
    chunkPassagesOf(Tables.documents(spark, dir), window, stride)

  private[graft] def chunkPassagesOf(docs: DataFrame,
                                     window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val words = TextNorm.words(col("text"))
    docs
      .select(col("doc_id"), words.as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          greatest(ceil((size(col("w")) - lit(window)).cast("double") / stride), lit(0))
            .cast("int"))).as("passage_id"))
      .select(col("doc_id"), col("passage_id").cast("bigint").as("passage_id"),
        concat_ws(" ",
          slice(col("w"), col("passage_id") * stride + 1, lit(window))).as("passage"),
        size(slice(col("w"), col("passage_id") * stride + 1, lit(window)))
          .cast("bigint").as("n_words"))
  }

  /** BM25 top-k at PASSAGE grain over [[chunkPassages]] output — the
    * end-to-end RAG retrieval unit (chunk → index → score → top-k).
    * Same scoring plan as [[bm25TopK]] with the retrieval unit being
    * (doc_id, passage_id): passage lengths replace document lengths
    * in the normalization, df counts passages containing the term,
    * and N is the passage count. The tf branch is filter-pruned to
    * the query IN-list before any shuffle and the top-k plans as
    * TakeOrderedAndProject — per-passage work is bounded by `window`,
    * so the whole plan's state is independent of document length
    * (the reason retrieval indexes chunk at all). */
  def bm25PassageTopK(spark: SparkSession, dir: String,
                      query: Seq[String] = Seq("data", "analysis", "model"),
                      k: Int = 20, window: Int = 120, stride: Int = 80,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val passages = chunkPassages(spark, dir, window, stride)
      .select(col("doc_id"), col("passage_id"), col("passage"))
    val words = passages
      .repartition(col("doc_id")) // spread the explode (cf. wordRowsOf)
      .select(col("doc_id"), col("passage_id"),
        explode(split(col("passage"), " ")).as("word"))
      .filter(col("word") =!= "")
    val dl = words.groupBy(col("doc_id"), col("passage_id"))
      .agg(count(lit(1)).as("dl"))
    val tf = words.filter(col("word").isin(query: _*))
      .groupBy(col("doc_id"), col("passage_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word"))
      .agg(count(lit(1)).as("df")) // one tf row per (passage, word) — already distinct
    val n = passages.agg(count(lit(1)).cast("double").as("n_passages"))
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val idf = log((col("n_passages") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf.join(broadcast(df), "word")
      .join(dl, Seq("doc_id", "passage_id"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
      .groupBy(col("doc_id"), col("passage_id"))
      .agg(sum(idf * norm).as("score_raw"))
    scored.orderBy(col("score_raw").desc, col("doc_id"), col("passage_id")).limit(k)
      .select(col("doc_id"), col("passage_id"),
        roundAt(col("score_raw"), 6).as("bm25"))
  }

  /** Windowed co-occurrence PMI (pointwise mutual information) over
    * word pairs within distance ≤ 2 — the word2vec-era corpus
    * statistic that surfaces collocations: PMI =
    * ln(p(a,b) / (p(a)·p(b))), pairs canonicalized (least, greatest)
    * so co-occurrence is undirected.
    *
    * Scale shape: ONE window pass computes both lead distances (the
    * pair stream is O(words × window), never quadratic-per-doc), the
    * pair total comes from doc LENGTHS ((L−1)+(L−2) per doc — a
    * narrow aggregate) rather than a second pass over the pair
    * stream, and the unigram counts are a vocabulary-sized broadcast
    * joined twice. All PMI inputs are exact integer counts, so the
    * float pipeline is the same IEEE expression on both engines
    * (parenthesization mirrored in the oracle); ranked top-k with
    * (pmi desc, pair) tie-break plans as TakeOrderedAndProject. */
  def pmiPairs(spark: SparkSession, dir: String,
               minCount: Long = 5, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = wordRows(spark, dir)
    val base = words
      .withColumn("w1", lead(col("word"), 1).over(w))
      .withColumn("w2", lead(col("word"), 2).over(w))
    val pairRaw = base.select(explode(array(
        when(col("w1").isNotNull,
          struct(least(col("word"), col("w1")).as("a"),
            greatest(col("word"), col("w1")).as("b"))),
        when(col("w2").isNotNull,
          struct(least(col("word"), col("w2")).as("a"),
            greatest(col("word"), col("w2")).as("b"))))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pc = pairRaw.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minCount)
    val wc = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val nw = words.agg(count(lit(1)).cast("double").as("nw"))
    val np = words.groupBy(col("doc_id")).agg(count(lit(1)).as("L"))
      .agg(sum(greatest(col("L") - 1, lit(0L)) +
        greatest(col("L") - 2, lit(0L))).cast("double").as("np"))
    val pmiRaw = log((col("pair_n").cast("double") / col("np")) /
      ((col("na") / col("nw")) * (col("nb") / col("nw"))))
    // wc is vocabulary-sized (unbounded): unhinted twice — AQE
    // broadcasts at sf scale, word-keyed shuffle join at 100 TB
    // (de-force sweep). nw/np are 1-row aggregates — bounded, hinted.
    pc.join(wc.select(col("word").as("a"), col("n").as("na")), "a")
      .join(wc.select(col("word").as("b"), col("n").as("nb")), "b")
      .crossJoin(broadcast(nw)).crossJoin(broadcast(np))
      .withColumn("pmi_raw", pmiRaw)
      .orderBy(col("pmi_raw").desc, col("a"), col("b")).limit(k)
      .select(col("a"), col("b"), col("pair_n"), roundAt(col("pmi_raw"), 6).as("pmi"))
  }

  /** Per-source top-k documents by quality through the
    * [[graft.functions.TopKDocs]] bounded-buffer Aggregator — the
    * whole point is the PLAN: one ordinary aggregation whose partial
    * states are k-sized, versus the `row_number` window that sorts
    * every source's full corpus slice to keep k rows of it. Output is
    * the formatted "id:quality-micro-units" ranking string (integer
    * micro-units — cross-engine double FORMATTING differs even when
    * the doubles are identical). */
  def groupedTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.Encoders
    val topk = udaf(graft.functions.TopKDocs(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), qualityCol.as("quality"))
      .groupBy(col("source"))
      .agg(topk(col("doc_id"), col("quality")).as("top_docs"))
  }

  /** Positional phrase search: exact-adjacency occurrences of a fixed
    * two-word phrase, counted per document — the positional-index
    * complement of [[bm25TopK]]'s bag-of-words scoring (a real
    * retrieval stack needs both: BM25 ranks, phrase match filters).
    *
    * Plan shape: the word-position stream is filtered to the phrase's
    * two terms AT THE SCAN (IN-list pushdown), then a self-join on
    * (doc_id, pos + 1 = pos) finds adjacencies — the join inputs are
    * term-frequency-sized, not corpus-sized, so at 100 TB the
    * adjacency join touches exactly the postings of two words. The
    * same window-lead trick bigramCounts uses would also work but
    * scans every bigram; the filtered self-join reads only the two
    * postings lists — the difference between a corpus pass and an
    * index probe. */
  def phraseSearch(spark: SparkSession, dir: String,
                   w0: String = "table", w1: String = "hash"): DataFrame = {
    val words = wordRows(spark, dir)
    val a = words.filter(col("word") === w0)
      .select(col("doc_id"), col("pos").as("pos_a"))
    val b = words.filter(col("word") === w1)
      .select(col("doc_id"), (col("pos") - 1).as("pos_a"))
    a.join(b, Seq("doc_id", "pos_a"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Token-budget shard packing: assign documents to training shards
    * so each shard holds ~`budget` whitespace tokens, packing in
    * doc_id order WITHIN each source stream. shard_id =
    * floor((cum_tokens − n_tokens) / budget): a document starts a new
    * shard once the tokens before it fill the current one (oversized
    * documents own their shard and bleed into the next boundary —
    * the standard streaming-pack approximation, deterministic and
    * SQL-expressible).
    *
    * Scale: packing is per-source (partitionBy(source) window), so
    * the cumulative sum parallelizes across streams instead of
    * serializing the corpus through one global ordering — exactly how
    * a 100 TB corpus shards in practice (each ingest stream packs
    * independently); one shuffle on source. */
  def shardPacking(spark: SparkSession, dir: String, budget: Long = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("bigint").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("n_tokens")).cast("double") / budget).cast("bigint"))
  }

  /** Training-shard EXPORT with manifest — the step that turns
    * [[shardPacking]]'s assignment into actual training files plus
    * the audit record a training job consumes: the packed corpus is
    * written as JSONL Hive-partitioned by (source, shard_id) — each
    * shard a directory a data loader can claim atomically — and the
    * manifest is aggregated FROM THE FILES READ BACK (declared
    * schema — inference over 100 TB of JSON is a full extra scan),
    * so the oracle gate certifies what is ON DISK matches the packing
    * definition, not merely that the plan intended it. Per shard:
    * doc/token counts plus sum/min/max of doc_id — enough to detect
    * a lost, duplicated, or misrouted document from the manifest
    * alone. At scale the export is one wide write through the normal
    * committer (per-partition atomicity, task-retry-safe); the
    * manifest read is partition-pruned per shard claim. */
  def shardExport(spark: SparkSession, dir: String,
                  budget: Long = 4096): DataFrame = {
    import org.apache.spark.sql.types._
    val path = spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + "/graft_shards"
    shardPacking(spark, dir, budget)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("json")
      .partitionBy("source", "shard_id").save(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_tokens", LongType),
      StructField("cum_tokens", LongType), StructField("text", StringType)))
    spark.read.schema(schema).format("json").load(path)
      .groupBy(col("source"), col("shard_id").cast("bigint").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("shard_tokens"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** Unigram log-probability scoring — the cheap stand-in for an
    * n-gram LM perplexity filter: score(doc) = mean over tokens of
    * ln(count(word) / corpus_tokens). Templated/boilerplate text
    * scores high (common words), gibberish scores low — the classic
    * KenLM-style quality signal, here fully relational.
    *
    * Scale: corpus frequencies are vocabulary-sized — broadcast onto
    * the word stream (same justification as tf-idf's df side); the
    * corpus total is a 1-row aggregate attached by broadcast cross
    * join (NOT a global window over the vocab, which would drag the
    * whole frequency table through a single partition). One wide
    * shuffle on word for the frequency build, one doc_id-partial
    * aggregate for the mean. */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val words = wordRows(spark, dir)
    val freq = words.groupBy(col("word")).agg(count(lit(1)).as("wn"))
    val total = words.agg(count(lit(1)).as("total"))
    // freq is vocabulary-sized (unbounded): unhinted — AQE broadcasts
    // at sf scale, shuffle-joins on word at 100 TB (de-force sweep).
    // total is a 1-row aggregate — bounded, hinted.
    words.join(freq, Seq("word"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        roundAt(avg(log(col("wn").cast("double") / col("total"))), 6).as("avg_logprob"))
  }

  /** Gopher-style repetition filter: the fraction of a document's
    * bigrams taken by its single most frequent bigram (Rae et al.
    * 2021 §A1.1 use "top 2-gram fraction > 0.18" as a removal rule —
    * boilerplate and templated spam score high, prose low).
    *
    * The repetitive flag compares the RAW ratio on both engines (one
    * IEEE division — bit-identical), so the oracle checks the filter
    * decision itself, not a rounded proxy; top_frac is floor-rounded
    * for display parity only.
    *
    * Scale: the window's doc_id shuffle is reused by both groupBys
    * (same key), so this is one exchange + two partial-agg stages on
    * (doc, bigram) cardinality — no corpus-wide hotspot, no skew
    * beyond the longest single document. Docs with fewer than two
    * words have no bigrams and drop out (nothing to score). */
  def repetitionStats(spark: SparkSession, dir: String,
                      maxTopFrac: Double = 0.18): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val frac = col("top_n").cast("double") / col("n_bigrams")
    wordRows(spark, dir)
      .select(col("doc_id"), col("word").as("w0"),
        lead(col("word"), 1).over(w).as("w1"))
      .filter(col("w1").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("w0"), col("w1")).as("bigram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"), max(col("n")).as("top_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_n"),
        roundAt(frac, 6).as("top_frac"),
        (frac > maxTopFrac).as("repetitive"))
  }

  /** Heavy-hitter words via the bounded-memory [[graft.functions
    * .HeavyHitters]] Misra–Gries sketch, gated on the exact counts
    * (the q100/q54 sketch-twin pattern): the output rows are the
    * EXACT top-k words — oracle-recomputable — plus TRUE flags
    * asserting the sketch (a) contains each of them and (b) estimates
    * each within the N/(capacity+1) rank-error envelope. The raw
    * sketch estimates are partitioning-dependent (which counters
    * survive a decrement depends on arrival order), so they are
    * exposed only through the flags, never as hashed values.
    *
    * Scale: the sketch pass is one global aggregation whose state is
    * `capacity` counters per partition — no word-cardinality shuffle;
    * the exact side (needed only by the GATE — at 100 TB you run the
    * sketch alone) is q44's one-shuffle word count. */
  def heavyHitterWords(spark: SparkSession, dir: String, k: Int = 10,
                       capacity: Int = 64): DataFrame = {
    import org.apache.spark.sql.Encoders
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(col("word") =!= "")
    val hh = udaf(new graft.functions.HeavyHitters(capacity), Encoders.STRING)
    val sketch = words.agg(hh(col("word")).as("sketch"))
    val exact = words.groupBy(col("word")).agg(count(lit(1)).as("n_exact"))
    val tot = exact.agg(sum(col("n_exact")).as("n_total"))
    val est = coalesce(try_element_at(col("sketch"), col("word")), lit(0L))
    exact.orderBy(col("n_exact").desc, col("word")).limit(k)
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(sketch))
      .select(col("word"), col("n_exact"),
        map_contains_key(col("sketch"), col("word")).as("in_sketch"),
        (est >= col("n_exact") - col("n_total").cast("double") / (capacity + 1) &&
          est <= col("n_exact")).as("within_bound"))
  }

  /** Word containing at least one letter, within one whitespace word
    * (matches cannot span whitespace, so one match per qualifying
    * word). */
  val AlphaWordPattern = "\\S*[A-Za-z]\\S*"
  /** A '#' or a literal three-dot ellipsis. */
  val SymbolPattern = "#|\\.\\.\\."
  /** Line starting with a bullet marker (multiline anchors). */
  val BulletLinePattern = "(?m)^\\s*[-*•]"
  /** Line ending in an ellipsis (multiline anchors). */
  val EllipsisLinePattern = "(?m)\\.\\.\\.[ \\t]*$"

  /** The seven rule flags over the `text` column, as one shared
    * (name, Column) list: [[gopherRules]] reports them and
    * [[CurationOps.gateLog]] folds their conjunction into the
    * admission decision log — one definition, like [[qualityCol]]. */
  private[ops] def gopherFlagCols: Seq[(String, Column)] = {
    val words = size(split(col("text"), "\\s+")).cast("bigint")
    val lines = size(split(col("text"), "\n", -1)).cast("bigint")
    val nonspace = length(regexp_replace(col("text"), "\\s", "")).cast("bigint")
    val alphaWords = nMatches(col("text"), AlphaWordPattern)
    val sym = nMatches(col("text"), SymbolPattern)
    val bulletLines = nMatches(col("text"), BulletLinePattern)
    val ellLines = nMatches(col("text"), EllipsisLinePattern)
    val stops = nMatches(lower(col("text")), EnStops)
    Seq(
      "f_word_count" -> (words >= 50 && words <= 100000),
      "f_mean_word_len" -> (nonspace >= words * 3 && nonspace <= words * 10),
      "f_symbol_ratio" -> (sym * 10 <= words),
      "f_bullet_lines" -> (bulletLines * 10 <= lines * 9),
      "f_ellipsis_lines" -> (ellLines * 10 <= lines * 3),
      "f_alpha_words" -> (alphaWords * 5 >= words * 4),
      "f_stopwords" -> (stops >= 2))
  }

  /** The conjunction of all seven rules, for composition into other
    * gates without re-stating the thresholds. */
  private[ops] def gopherKeepCol: Column =
    gopherFlagCols.map(_._2).reduce(_ && _)

  /** q193: filter-ablation report over the q144 Gopher rules — per
    * rule, how many documents it rejects (`n_fail`) and how many it
    * rejects ALONE (`n_unique_fail`: every other rule passes, so
    * dropping this one rule would admit exactly those docs). The
    * standard before-you-tune-a-threshold analysis: a rule with high
    * n_fail but zero unique kills is redundant with the others, and a
    * rule carrying most unique kills is the one whose threshold
    * deserves scrutiny. One corpus pass evaluates all seven flags;
    * the 14 conditional sums aggregate with map-side partials and the
    * 7-row long form is a stack over the one-row totals. Exact longs
    * end to end. */
  def gopherAblation(spark: SparkSession, dir: String): DataFrame = {
    val flags = gopherFlagCols
    val aggs = flags.flatMap { case (name, f) =>
      val others = flags.filter(_._1 != name).map(_._2).reduce(_ && _)
      Seq(
        sum(when(!f, 1L).otherwise(0L)).as(s"fail_$name"),
        sum(when(!f && others, 1L).otherwise(0L)).as(s"uniq_$name"))
    } ++ Seq(count(lit(1)).as("n_docs"),
      sum(when(gopherKeepCol, 1L).otherwise(0L)).as("n_keep"))
    val stack = flags.map { case (name, _) =>
      s"'$name', fail_$name, uniq_$name" }.mkString(",\n ")
    Tables.documents(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_docs"), col("n_keep"), expr(
        s"stack(${flags.size},\n $stack) AS (rule, n_fail, n_unique_fail)"))
      .select(col("rule"), col("n_fail"), col("n_unique_fail"),
        col("n_docs"), col("n_keep"))
      .orderBy(col("rule"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1,
    * arXiv:2112.11446): the rule-based repetition-free gate every
    * large web-scrape pipeline runs before expensive dedup/training.
    * Per document, each rule is a boolean flag plus the conjunction:
    *
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10]
    *   - symbol-to-word ratio ('#' / '...') <= 0.1
    *   - lines starting with a bullet <= 90%
    *   - lines ending in an ellipsis <= 30%
    *   - >= 80% of words contain an alphabetic character
    *   - >= 2 stopword hits
    *
    * Every ratio test is an EXACT integer cross-multiplication
    * (`10 * sym <= words`, never `sym / words <= 0.1`) so the flags
    * are bit-identical across engines — no float boundary to flip.
    *
    * Scale: one codegen'd narrow map over the `text` scan — zero
    * shuffles, zero joins; at 100 TB this is a single pass that
    * prunes to the (doc_id, text) columns. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val words = size(split(col("text"), "\\s+")).cast("bigint")
    Tables.documents(spark, dir).select(
      col("doc_id") +: words.as("n_words") +:
        gopherFlagCols.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep",
        gopherFlagCols.map { case (n, _) => col(n) }.reduce(_ && _))
  }

  /** Token-exact sequence packing: lay every source's documents end
    * to end in (doc_id) order and cut the token stream into
    * fixed-length training sequences of `seqLen` tokens — the step
    * that turns a curated corpus into the dense context windows a
    * trainer actually consumes. Unlike [[shardPacking]] (doc-granular
    * bins keyed by each doc's START token), packing is
    * token-granular: a document straddling a cut is SPLIT, emitting
    * one segment row per sequence it overlaps with in-sequence
    * [begin_off, end_off) offsets, so segments concatenate back to
    * the document exactly and every sequence except a source's last
    * is exactly full.
    *
    * All geometry is exact integer arithmetic (`DIV`, `greatest`/
    * `least`) — no float ever touches an offset.
    *
    * Scale: the prefix sum is [[RelationalExt.groupedRunningSum]] —
    * range-partition + per-partition sums + per-group
    * partition-summary offsets — so a 100 TB source never sorts in
    * one task (the `Window.partitionBy(source)` a naive version
    * would use); the explode emits ≤ (n DIV seqLen + 2) rows per doc
    * with no further shuffle. */
  def sequencePack(spark: SparkSession, dir: String, seqLen: Long = 256): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("bigint").as("n_tokens"))
    val cum = graft.ops.RelationalExt.groupedRunningSum(
      docs, "source", Seq(col("doc_id")), col("n_tokens"), "cum_tokens")
    val L = lit(seqLen)
    cum
      .withColumn("start_tok", col("cum_tokens") - col("n_tokens"))
      .withColumn("first_seq", expr(s"start_tok DIV $seqLen"))
      .withColumn("last_seq", expr(s"(cum_tokens - 1) DIV $seqLen"))
      .withColumn("seq_id", explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("seg_start", greatest(col("start_tok"), col("seq_id") * L))
      .withColumn("seg_end", least(col("cum_tokens"), (col("seq_id") + 1) * L))
      .select(col("source"), col("seq_id"), col("doc_id"),
        (col("seg_start") - col("seq_id") * L).as("begin_off"),
        (col("seg_end") - col("seq_id") * L).as("end_off"),
        (col("seg_end") - col("seg_start")).as("n_seg_tokens"),
        (col("last_seq") > col("first_seq")).as("straddles"))
  }

  /** Lexical-diversity stats — the vocabulary-shape quality signals
    * (MassiveText/C4 use the unique-word fraction as a boilerplate /
    * keyword-stuffing detector): per document the normalized-word
    * total, distinct count, hapax count (words occurring exactly
    * once), the most-repeated word's count, and the type-token ratio.
    * Every count is exact; TTR is ONE IEEE division, bit-identical
    * cross-engine, floor-rounded at 6 like every ratio here.
    *
    * Docs whose text normalizes to zero words keep a row (zero
    * counts, NULL ttr) via the roster left join, so the output stays
    * one-row-per-document — an admission gate can consume it without
    * an existence check.
    *
    * Scale: one (doc_id, word) aggregation and one doc_id rollup —
    * both map-side-combined on the [[wordRows]] repartition, then a
    * doc_id join back to the roster; the text column itself never
    * crosses an exchange. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val perWord = wordRows(spark, dir)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"))
    val perDoc = perWord.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max(col("n")).as("top_count"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        coalesce(col("top_count"), lit(0L)).as("top_count"),
        roundAt(col("n_distinct").cast("double") / col("n_words"), 6).as("ttr"))
  }

  /** q172: per-document token entropy — Shannon entropy of the word
    * distribution, H = −Σ (n/N)·ln(n/N). The information-density
    * complement of q149's count-based diversity ratios: TTR says how
    * many types a doc uses, entropy says how evenly it uses them (a
    * doc that is 90% one word and 10% long tail has high TTR-ish
    * counts but near-zero entropy — the classic keyboard-mash /
    * SEO-stuffing signature).
    *
    * Cross-engine exactness: per-(doc, word) counts are exact longs;
    * each term's `(n/N)·ln(n/N)` is one fixed IEEE expression; and
    * the per-doc fold runs in WORD ORDER (array_sort ↔ list(... ORDER
    * BY word)) — Spark's subtraction chain `acc − term` equals
    * DuckDB's negated left-fold sum bit-for-bit because IEEE negation
    * is exact (the q161 convention). Rounded at 6 for output only.
    *
    * Scale: one (doc, word) aggregation + one doc aggregation — the
    * q149 two-shuffle shape; the collect_list is per-doc
    * vocabulary-sized, bounded by document length. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perWord = wordRows(spark, dir)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"))
    val perDoc = perWord.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"), count(lit(1)).as("n_distinct"),
        array_sort(collect_list(struct(col("word"), col("n")))).as("terms"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        aggregate(col("terms"), lit(0.0d), (acc, t) => {
          val p = t.getField("n").cast("double") / col("n_words")
          acc - p * log(p)
        }).as("h_raw"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        roundAt(coalesce(col("h_raw"), lit(0.0d)), 6).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** q173: per-source quantile normalization of the quality score —
    * percent_rank of each document WITHIN its source, the calibration
    * step before any global quality threshold: raw scores are not
    * comparable across sources (a clean-wiki source's p10 beats a
    * crawl source's p90), so production gates cut on the per-source
    * rank, not the raw score (the percentile-gate q115 applied this
    * corpus-wide; this is its per-source calibrated form).
    *
    * Determinism: the window orders by (quality, doc_id) so ranks are
    * unique even at quality ties, and percent_rank = (rank−1)/(n−1)
    * is the same closed form on both engines. One window over one
    * source-partitioned shuffle; quality is the shared rounded-at-6
    * score (q21/q126 convention). */
  def qualityQuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), qualityCol.as("quality"))
      .withColumn("q_rank", roundAt(percent_rank().over(w), 6))
      .orderBy(col("doc_id"))
  }

  /** q200: pairwise two-sample Kolmogorov–Smirnov distance between
    * sources on the quality distribution — KS = max_x |F_a(x) −
    * F_b(x)| over the empirical CDFs. The EXACT-distance companion to
    * q157's PSI drift monitor: PSI needs a binning (and saturates on
    * disjoint supports), KS is binning-free, bounded in [0,1], and
    * sensitive anywhere the CDFs separate — the standard "are these
    * two sources drawing from the same quality distribution" test
    * run before mixing corpora (the D statistic; the p-value is a
    * driver-side closed form the caller applies to n_a·n_b/(n_a+n_b)).
    *
    * Exactness: per-(source, quality) counts and both cumulative
    * sums are exact longs (quality is the shared rounded-at-6 q21
    * score, so grouping keys agree cross-engine); each CDF gap is the
    * identical two-divide IEEE tree, and max over doubles is
    * order-free — hash-exact under the output roundAt.
    *
    * Scale: the corpus collapses FIRST to distinct (source, quality)
    * counts (one aggregation — the only corpus-sized shuffle); the
    * pair expansion multiplies that collapsed table by the source-
    * PAIR dimension (sources are a handful; the broadcast non-equi
    * join is dim-sized), and the per-pair ECDF window runs over
    * values-sized partitions. */
  def ksSourceDistance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perVal = Tables.documents(spark, dir)
      .select(col("source"), qualityCol.as("q"))
      .groupBy(col("source"), col("q")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val n = perVal.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val prs = n.select(col("source").as("src_a"), col("n").as("n_a"))
      .crossJoin(n.select(col("source").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    val contrib = perVal.join(broadcast(prs),
        col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("q"))
      .agg(
        sum(when(col("source") === col("src_a"), col("c")).otherwise(lit(0L))).as("ca"),
        sum(when(col("source") === col("src_b"), col("c")).otherwise(lit(0L))).as("cb"))
    val w = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("q"))
    contrib
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .withColumn("d", abs(col("cuma").cast("double") / col("n_a").cast("double") -
        col("cumb").cast("double") / col("n_b").cast("double")))
      .groupBy(col("src_a"), col("src_b"), col("n_a"), col("n_b"))
      .agg(roundAt(max(col("d")), 6).as("ks"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q207: cross-source vocabulary overlap, exact + sketch-gated —
    * per source pair: exact shared-vocabulary size |Vₐ∩Vᵦ| and
    * vocabulary Jaccard, plus an in-plan envelope flag asserting that
    * the HLL inclusion–exclusion estimate (skₐ + skᵦ − sk_union, the
    * only way to intersect sketches) lands within its error bound.
    * The corpus-merging companion to q165's doc-level dup matrix:
    * vocabulary overlap says how much NEW language a source brings,
    * BEFORE paying for doc-level dedup between them. The sketch path
    * is the 100 TB path (three mergeable HLLs per pair vs a distinct
    * self-join); the exact-gated pattern (q124/q175) keeps it
    * correctness-anchored — and the envelope is honest about
    * inclusion–exclusion's known weakness: each of the THREE sketches
    * errs proportionally to ITS OWN cardinality, so the bound is
    * 4·rsd·(|Vₐ|+|Vᵦ|+|V∪|) — union-scale, not intersection-scale; a
    * small intersection of two big vocabularies is where the sketch
    * estimate is proportionally worst.
    *
    * Scale: the corpus collapses once to distinct (source, word); the
    * exact intersection is a word-keyed self-join emitting ≤ C(s,2)
    * rows per word (sources are a handful); the pair-union sketch
    * rides the q200 broadcast pair-dim expansion over the collapsed
    * vocab rows. */
  def vocabOverlapSketch(spark: SparkSession, dir: String,
                         rsd: Double = 0.02): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val sv = wordRows(spark, dir).join(src, Seq("doc_id"))
      .select(col("source"), col("word")).distinct()
      .localCheckpoint(false)
    val perSrc = sv.groupBy(col("source"))
      .agg(count(lit(1)).as("v"), approx_count_distinct(col("word"), rsd).as("sk"))
    val prs = perSrc.select(col("source").as("src_a"), col("v").as("v_a"), col("sk").as("sk_a"))
      .crossJoin(perSrc.select(col("source").as("src_b"), col("v").as("v_b"), col("sk").as("sk_b")))
      .filter(col("src_a") < col("src_b"))
    val both = sv.select(col("source").as("src_a"), col("word"))
      .join(sv.select(col("source").as("src_b"), col("word")), Seq("word"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("v_both"))
    val skUnion = sv.join(broadcast(prs.select(col("src_a"), col("src_b"))),
        col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(approx_count_distinct(col("word"), rsd).as("sk_union"))
    val vBoth = coalesce(col("v_both"), lit(0L))
    val union = col("v_a") + col("v_b") - vBoth
    val skBoth = col("sk_a") + col("sk_b") - col("sk_union")
    prs.join(both, Seq("src_a", "src_b"), "left")
      .join(skUnion, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("v_a"), col("v_b"),
        vBoth.as("v_both"),
        roundAt(vBoth.cast("double") / union.cast("double"), 6).as("vocab_jacc"),
        (abs(skBoth - vBoth) <=
          greatest(lit(1.0), lit(4 * rsd) * (col("v_a") + col("v_b") + union)))
          .as("in_envelope"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q216: per-source Pearson correlation matrix of the cheap quality
    * signals (chars, tokens, punct_ratio, stop_ratio, blended
    * quality) — the signal-redundancy audit run before combining
    * filters: two signals correlated at |r| ≈ 1 within a source are
    * one signal wearing two names (double-counting them in a blend
    * overweights that axis), and a signal whose correlation with
    * quality flips sign across sources can't carry a single global
    * threshold. Long-form output (source, sig_a, sig_b, r).
    *
    * Exactness: the q190 convention — every Σx/Σxy/Σx² is a fold of
    * the per-source doc_id-sorted struct list (engine corr() folds in
    * engine order and can never hash-match); r is one fixed IEEE tree
    * with a zero-variance guard, under roundAt.
    *
    * Scale: one aggregation per source collecting the signal structs
    * (the q190 trade — the fold is source-bounded; sources too large
    * to fold switch to exact-long scaled-integer sums, the q191
    * device). */
  def signalCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val t = lower(col("text"))
    val nChars = length(col("text")).cast("double")
    val nTokens = size(split(col("text"), "\\s+")).cast("double")
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      nChars.as("c1"),
      nTokens.as("c2"),
      (nMatches(col("text"), PunctPattern).cast("double") / nChars).as("c3"),
      (nMatches(t, EnStops).cast("double") / nTokens).as("c4"),
      qualityCol.as("c5"))
    val names = Seq("c1" -> "chars", "c2" -> "tokens", "c3" -> "punct_ratio",
      "c4" -> "stop_ratio", "c5" -> "quality")
    val grouped = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("n"),
        array_sort(collect_list(struct(col("doc_id"), col("c1"), col("c2"),
          col("c3"), col("c4"), col("c5")))).as("ts"))
    def fsum(f: Column => Column): Column =
      aggregate(col("ts"), lit(0.0d), (acc, x) => acc + f(x))
    val pairIdx = for { i <- names.indices; j <- names.indices if i < j } yield (i, j)
    val rCols = pairIdx.zipWithIndex.map { case ((i, j), p) =>
      val (fa, fb) = (names(i)._1, names(j)._1)
      val sx = fsum(_.getField(fa))
      val sy = fsum(_.getField(fb))
      val sxy = fsum(x => x.getField(fa) * x.getField(fb))
      val sxx = fsum(x => x.getField(fa) * x.getField(fa))
      val syy = fsum(x => x.getField(fb) * x.getField(fb))
      val num = col("n") * sxy - sx * sy
      val den = sqrt(col("n") * sxx - sx * sx) * sqrt(col("n") * syy - sy * sy)
      roundAt(when(den === 0.0d, lit(0.0d)).otherwise(num / den), 6).as(s"r$p")
    }
    val stackArgs = pairIdx.zipWithIndex.map { case ((i, j), p) =>
      s"'${names(i)._2}', '${names(j)._2}', r$p"
    }.mkString(", ")
    grouped.select((col("source") +: rCols): _*)
      .selectExpr("source",
        s"stack(${pairIdx.length}, $stackArgs) AS (sig_a, sig_b, r)")
      .orderBy(col("source"), col("sig_a"), col("sig_b"))
  }

  /** Modulus for the bootstrap's double-hashing replicate draws —
    * the q26/q75 MinHash device (one md5 per row, replicate i's
    * uniform from (h1 + i·h2) mod p). 2³¹−1 keeps i·h2 far inside
    * long range for any sane replicate count. */
  private[graft] val BootP = 2147483647L

  /** Poisson(1) inverse-CDF thresholds (cumulative e⁻¹·Σ 1/k! for
    * k = 0..8): a replicate weight is the count of thresholds ≤ u,
    * i.e. the smallest k with u < CDF(k), capped at 9 (P ≈ 1e-7).
    * Shared with the oracle generator — both engines compare the
    * same IEEE doubles (Scala's Double.toString round-trips, so the
    * interpolated SQL literal parses back to the identical bits). */
  private[graft] val PoissonCdf: Seq[Double] = {
    val pmf = (0 to 8).map(k => math.exp(-1.0) / (1 to k).product)
    pmf.scanLeft(0.0)(_ + _).tail
  }

  /** q217: Poisson-bootstrap confidence intervals for the per-source
    * mean quality score — the uncertainty readout a pipeline needs
    * before acting on a quality delta between sources (a 0.02 gap
    * with overlapping CIs is noise, not a curation decision). The
    * classical bootstrap resamples n rows B times — a non-starter at
    * 100 TB; the Poisson bootstrap (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams") observes that each row's
    * resample count is asymptotically iid Poisson(1), so replicate b
    * just weights every row by a hash-derived Poisson draw: ONE pass,
    * B weighted sums as extra AGGREGATE COLUMNS, zero data expansion,
    * zero extra shuffles — B scales the map-side arithmetic, not the
    * data.
    *
    * Determinism/exactness: draws are hash-derived (md5 double-hashing,
    * the q26/q75 device — reproducible across engines and reruns, no
    * RNG); each replicate's weighted sum is Σ w·qint over EXACT longs
    * (qint = the floor-form 10⁶-scaled quality numerator, w ≤ 9), so
    * every per-source sum is order-independent and hash-safe with no
    * ordered fold — at w·qint ≤ 9·10⁶ the long headroom holds to
    * ~10¹¹ rows per source; beyond that the sums switch to decimal
    * (the q191 device). The B replicate means are sorted and reduced
    * in sorted order (driver sort + fold ↔ list_sort + list_sum), so
    * the CI bounds and the bootstrap se are fixed IEEE trees. A
    * replicate that draws zero total weight (P ≈ e⁻ⁿ, impossible in
    * practice) reads mean 0.0 on both engines rather than relying on
    * engine divide-by-zero conventions.
    *
    * Scale: one narrow map (one md5 per row) into a pipelined
    * replicate explode (B modmuls per row, combined map-side to
    * S×B partial rows per partition before the exchange), one
    * (source, b)-keyed aggregation; everything after is
    * sources-sized and runs on the driver. */
  def qualityBootstrap(spark: SparkSession, dir: String,
                       reps: Int = 64): DataFrame =
    qualityBootstrapOf(Tables.documents(spark, dir), reps)

  /** Source bound of q217's driver-side rollup, which collects
    * sources × reps rows. */
  private[graft] val MaxBootstrapSources: Int = 1024

  /** [[qualityBootstrap]] over any documents-shaped frame. */
  private[graft] def qualityBootstrapOf(docs: DataFrame, reps: Int): DataFrame = {
    val base = docs
      .select(col("source"),
        floor(qualityRawCol * 1e6 + lit(0.5)).cast("long").as("qint"),
        md5(concat(lit("pb_"), col("doc_id").cast("string"))).as("mhex"))
      .select(col("source"), col("qint"),
        pmod(conv(substring(col("mhex"), 17, 15), 16, 10).cast("long"),
          lit(BootP)).as("h1"),
        pmod(conv(substring(col("mhex"), 1, 15), 16, 10).cast("long"),
          lit(BootP)).as("h2"))
    // TALL-SKINNY replicate dimension (r21): the original form carried
    // b = 1..B as 2B+2 WIDE aggregate columns — semantically the
    // Chamandy one-pass shape, but the B-fold expression tree (B
    // Poisson when-chains + 2B aggregates) made Catalyst
    // analysis/optimization + codegen the dominant cost: the bench
    // read 4.05 s at sf0.1 with a 0.93 scale slope (sf0.1 ≈ sf0.01 —
    // pure fixed plan cost, zero shuffle bytes). Exploding b instead
    // makes ONE weight expression and FOUR aggregates; the explode is
    // a pipelined narrow Generate (map-side partial aggregation still
    // combines to S×B rows per partition before the exchange, so at
    // 100 TB the shuffle stays partitions × S × B partials — the same
    // zero-data-expansion contract as the wide form, with a
    // constant-size plan). Every sum is the SAME exact-long total the
    // wide columns held, so the output is bit-identical; the oracle
    // replays the b dimension the same way it always did.
    val b = explode(sequence(lit(1L), lit(reps.toLong))).as("b")
    val u = pmod(col("h1") + col("b") * col("h2"), lit(BootP))
      .cast("double") / lit(BootP.toDouble)
    val w = PoissonCdf.map(t => when(u >= lit(t), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val perRep = base
      .select(col("source"), col("qint"), col("h1"), col("h2"), b)
      .select(col("source"), col("b"), w.as("w"), col("qint"))
      .groupBy(col("source"), col("b"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("qint")).as("swq"),
        count(lit(1)).as("nb"), sum(col("qint")).as("sqb"))
    // Per-source rollup, DRIVER-SIDE over the collected (source, b)
    // rows — sources × B rows of bounded model state; rolling it up in
    // the plan cost a second exchange, interpreted array HOFs and a
    // three-job global sort for a sources-sized table. The fold is the
    // oracle's IEEE op sequence: per-replicate mean swq / (sw · 1e6)
    // (0.0 for a zero-weight replicate), the B means sorted ascending
    // and folded from 0.0 (Σm and Σm²), the se as
    // sqrt(max(0, (Σm² − (Σm)²/B) / (B − 1))), and floor-form rounding
    // at 6 through a long, as Spark's floor rounds. Every b-row of a
    // source carries the identical n_docs/sq (each replicate sees every
    // doc once), and every source has all B replicates. qint is never
    // null: the blend's least() terms skip null operands.
    val rows = DriverResults.collectBounded(
      perRep.select(col("source"), col("sw"), col("swq"), col("nb"), col("sqb")),
      MaxBootstrapSources * reps, "q217 per-source bootstrap rollup")
    val loIdx = math.ceil(0.025 * reps).toInt.max(1)
    val hiIdx = math.ceil(0.975 * reps).toInt
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6
    val out = rows.toSeq.groupBy(_.getString(0)).toSeq.map { case (source, rs) =>
      val n = rs.map(_.getLong(3)).max
      val sq = rs.map(_.getLong(4)).max
      val ms = rs.map { r =>
        if (r.getLong(1) == 0L) 0.0d
        else r.getLong(2).toDouble / (r.getLong(1).toDouble * 1e6)
      }.sorted
      val sm = ms.foldLeft(0.0d)(_ + _)
      val smm = ms.foldLeft(0.0d)((a, x) => a + x * x)
      val nB = reps.toDouble
      val se = math.sqrt(math.max(0.0d, (smm - sm * sm / nB) / (nB - 1.0d)))
      Row(source, n, r6(sq.toDouble / (n.toDouble * 1e6)),
        r6(ms(loIdx - 1)), r6(ms(hiIdx - 1)), r6(se))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("n_docs", LongType),
      StructField("mean_q", DoubleType), StructField("boot_lo", DoubleType),
      StructField("boot_hi", DoubleType), StructField("boot_se", DoubleType)))
    import scala.jdk.CollectionConverters._
    DriverResults.sortedLocal(docs.sparkSession.createDataFrame(out.asJava, schema), col("source"))
  }

  /** q204: decile lift table for the hashed-feature linear quality
    * model (q147) against the heuristic quality label — the standard
    * model-validation readout before a learned filter replaces a
    * rule-based one: rank all docs by the model's margin, cut into
    * `bins` rank-deciles, and report each decile's empirical
    * positive-label rate (label = blended heuristic quality ≥ 0.5).
    * A model with ranking power shows pos_rate rising across deciles;
    * a flat table says the scores carry no signal for this target —
    * q147's md5-hashed weights are untrained, so flat is exactly the
    * honest readout here, and the table is how a real pipeline would
    * catch an untrained/mis-loaded weight vector BEFORE filtering a
    * corpus with it.
    *
    * Exactness: margins and all counts are exact longs; the rank is
    * deterministic ((score, doc_id) order); decile = ((rn−1)·bins)
    * div n + 1 in INTEGER arithmetic on both engines (Spark `div` ↔
    * DuckDB `//` — the q179 floor-vs-truncate gotcha has no room to
    * appear); the two per-decile ratios are single divisions under
    * roundAt.
    *
    * Scale: the global ordinal is [[RelationalExt.globalRunningSum]]'s
    * two-phase distributed prefix sum — no single-task global window;
    * the doc count rides as a broadcast one-row dim; the rollup is
    * bins-sized. */
  def qualityLiftTable(spark: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val scored = linearQuality(spark, dir).select(col("doc_id"), col("score"))
    val labeled = Tables.documents(spark, dir)
      .select(col("doc_id"), (qualityCol >= lit(0.5)).as("label"))
    val j = scored.join(labeled, "doc_id")
    val withRn = RelationalExt.globalRunningSum(
      j, Seq(col("score"), col("doc_id")), lit(1L), "rn")
    val nDf = scored.agg(count(lit(1)).as("n"))
    withRn.crossJoin(broadcast(nDf))
      .withColumn("decile", expr(s"((rn - 1) * $bins) div n + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score")).as("sum_score"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("decile"), col("n_docs"),
        roundAt(col("sum_score").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_score"),
        roundAt(col("n_pos").cast("double") / col("n_docs").cast("double"), 6)
          .as("pos_rate"))
      .orderBy(col("decile"))
  }

  /** q252: Rocchio pseudo-relevance feedback retrieval (Rocchio 1971,
    * the PRF shape every classic IR stack ships): round 1 scores the
    * original query with BM25 and takes the top `fb` documents as
    * assumed-relevant feedback; the `expand` highest-TF-IDF terms of
    * that feedback set (originals excluded) join the query at weight
    * β = 0.5; round 2 re-scores with the weighted expanded query —
    * the vocabulary-mismatch fix q130/q141 can't give (a relevant doc
    * that says "statistics" instead of "analysis" is invisible to the
    * literal query until feedback pulls its vocabulary in).
    *
    * Exactness: BOTH rounds fold per-doc term contributions in sorted
    * word order (q161 device) so scores are bit-identical doubles and
    * the feedback set / final ranking (score desc, doc_id) match
    * exactly across engines — no reliance on aggregation arrival
    * order; expansion scores are (Σtf)·ln(N/df), one product of an
    * exact long and one ln, tie-broken by word.
    *
    * Scale: same plan as q130 twice — the tf branch prunes to the
    * (expanded) term list before any shuffle, model dims broadcast,
    * top-k is a rank over a feedback/k-bounded set; the expansion
    * candidate rollup is semi-join-pruned to the 5 feedback docs'
    * vocabulary, never a corpus-wide term sort. */
  def rocchioPrf(spark: SparkSession, dir: String,
                 query: Seq[String] = Seq("data", "analysis", "model"),
                 fb: Int = 5, expand: Int = 3, beta: Double = 0.5,
                 k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rocchioPrfOf(Tables.documents(spark, dir), query, fb, expand, beta, k, k1, b)

  /** [[rocchioPrf]] over any (doc_id, text) frame — split out so specs
    * can plant a vocabulary-mismatch corpus the literal query misses. */
  private[graft] def rocchioPrfOf(docs: DataFrame, query: Seq[String],
                                  fb: Int, expand: Int, beta: Double,
                                  k: Int, k1: Double, b: Double): DataFrame = {
    val spark = docs.sparkSession
    val words = wordRowsOf(docs.select(col("doc_id"), col("text")))
      .localCheckpoint(false)
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .localCheckpoint(false)
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    // weighted BM25 with the per-doc SORTED fold — scores are
    // bit-identical doubles, so rank order is engine-independent
    def score(terms: DataFrame): DataFrame = {
      val tf = words.join(broadcast(terms), Seq("word"))
        .groupBy(col("doc_id"), col("word"), col("wt")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
      tf.join(broadcast(df), Seq("word"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
        .select(col("doc_id"),
          struct(col("word"), (col("wt") * idf * norm).as("term")).as("s"))
        .groupBy(col("doc_id"))
        .agg(aggregate(
          transform(array_sort(collect_list(col("s"))), x => x.getField("term")),
          lit(0.0d), (a, t) => a + t).as("score"))
    }
    import spark.implicits._
    val terms0 = query.map(w => (w, 1.0)).toDF("word", "wt")
    // top-k via orderBy+limit = TakeOrderedAndProject (partial per
    // partition, k-row driver merge) — never a one-task global window
    val feedback = score(terms0)
      .orderBy(col("score").desc, col("doc_id")).limit(fb)
      .select(col("doc_id")).localCheckpoint(false)
    // expansion candidates: the feedback set's vocabulary, original
    // terms excluded; candidate df comes from the corpus rollup
    // semi-join-pruned to that (5-doc) vocabulary
    val fbTf = words.join(feedback, Seq("doc_id"))
      .filter(!col("word").isin(query: _*))
      .groupBy(col("word")).agg(sum(lit(1L)).as("stf"))
    val candDf = words.join(fbTf.select(col("word")), Seq("word"), "left_semi")
      .groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
    val expansion = fbTf.join(candDf, Seq("word"))
      .crossJoin(broadcast(n))
      .select(col("word"),
        (col("stf").cast("double") * log(col("n_docs") / col("df"))).as("esc"))
      .orderBy(col("esc").desc, col("word")).limit(expand)
      .select(col("word"), lit(beta).as("wt"))
    val terms1 = terms0.unionByName(expansion)
    score(terms1)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), roundAt(col("score"), 6).as("bm25_prf"))
  }

  /** q253: add-1 unigram Naive Bayes source classifier with a held-out
    * CONFUSION MATRIX — the source-attribution audit (given only its
    * words, which source does a doc look like?) that doubles as the
    * measured upper bound on how separable the sources' language
    * actually is; q225's KL matrix says the distributions differ,
    * this says whether the difference CLASSIFIES. Split = the q137
    * md5 first-hex-char rule (≈19% test), model trained on the rest.
    *
    * Exactness: every log term is floor-scaled to a 1e12 LONG once
    * per (source, word) (the q225 device), doc scores are then EXACT
    * INTEGER sums (order-free), and argmax breaks ties by smallest
    * source — the whole matrix is hash-exact with no roundAt anywhere
    * in the decision path.
    *
    * Scale: model tables are train-vocabulary-sized (broadcast); the
    * dense scoring grid is test word rows × S sources via a broadcast
    * S-row dim — the per-doc reduction is one exact-long aggregation;
    * never a corpus² anything. */
  def nbSourceConfusion(spark: SparkSession, dir: String): DataFrame =
    nbSourceConfusionOf(Tables.documents(spark, dir))

  /** [[nbSourceConfusion]] over any (doc_id, source, text) frame —
    * split out so specs can drive separable synthetic vocabularies. */
  private[graft] def nbSourceConfusionOf(docs: DataFrame): DataFrame = {
    val isTest = substring(
      md5(concat(lit("split_"), col("doc_id").cast("string"))), 1, 1)
      .isin("0", "1", "2")
    val withSplit = docs.select(col("doc_id"), col("source"), col("text"),
      when(isTest, lit("test")).otherwise(lit("train")).as("split"))
    val train = withSplit.filter(col("split") === "train")
    val test = withSplit.filter(col("split") === "test")
    val tw = wordRowsOf(train.select(col("doc_id"), col("text")))
      .join(train.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    val st = tw.groupBy(col("source")).agg(sum(col("c")).as("nt"))
    val vsz = tw.agg(countDistinct(col("word")).as("v"))
    val prior = train.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    val ntr = train.agg(count(lit(1)).as("ntr"))
    // per-source model dim: prior term + smoothing denominator,
    // S rows — broadcast everywhere downstream
    val srcDim = st.join(prior, Seq("source")).crossJoin(vsz).crossJoin(ntr)
      .select(col("source").as("cand"),
        floor(log(col("nd").cast("double") / col("ntr")) * lit(1e12) + lit(0.5))
          .cast("long").as("pterm"),
        (col("nt") + col("v")).as("den"))
    val dw = wordRowsOf(test.select(col("doc_id"), col("text")))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
    // srcDim is S-row (sources dimension — bounded, hinted); tw is
    // train-vocabulary × S (unbounded): unhinted — AQE broadcasts at
    // sf scale, shuffle-joins on (cand, word) at 100 TB (de-force
    // sweep).
    val scored = dw.crossJoin(broadcast(srcDim))
      .join(tw.select(col("source").as("cand"), col("word"), col("c")),
        Seq("cand", "word"), "left")
      .select(col("doc_id"), col("cand"), col("pterm"),
        (col("n") * floor(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          col("den")) * lit(1e12) + lit(0.5)).cast("long")).as("wterm"))
      .groupBy(col("doc_id"), col("cand"))
      .agg((first(col("pterm")) + sum(col("wterm"))).as("score"))
    val pred = scored.groupBy(col("doc_id"))
      .agg(min_by(col("cand"), struct((-col("score")).as("ns"), col("cand"))).as("pred"))
    val cells = test.select(col("doc_id"), col("source"))
      .join(pred, Seq("doc_id"))
      .groupBy(col("source"), col("pred")).agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy(col("source")).agg(sum(col("n")).as("nr"))
    cells.join(broadcast(rowTot), Seq("source"))
      .select(col("source"), col("pred"), col("n"),
        roundAt(col("n").cast("double") / col("nr"), 6).as("share"))
      .orderBy(col("source"), col("pred"))
  }

  /** q248: unseen-vocabulary estimation per source — Good-Turing
    * unseen mass p₀ = n₁/N (Good 1953: the probability the NEXT token
    * is a word never seen in this source) and the bias-corrected
    * Chao1 richness floor V + n₁(n₁−1)/(2(n₂+1)) (Chao 1984), from
    * the frequency-of-frequencies table. The coverage-planning
    * readout q175 (observed TTR) and q176 (empirical growth curve)
    * can't give: those describe the vocabulary you HAVE; this bounds
    * the vocabulary you HAVEN'T — a source with high unseen mass is
    * under-sampled and its LM/tokenizer stats (q225, q167) are not
    * yet trustworthy.
    *
    * Exactness: the freq-of-freqs table is exact longs; both
    * estimators are single guarded IEEE divisions over integer
    * numerators/denominators under roundAt (the bias-corrected Chao1
    * form is chosen precisely because it stays finite at n₂ = 0).
    *
    * Scale: one (source, word) rollup with map-side partials, then a
    * source-sized conditional-count rollup — nothing vocab-sized
    * leaves the executors. */
  def unseenVocabEstimate(spark: SparkSession, dir: String): DataFrame =
    unseenVocabOf(Tables.documents(spark, dir))

  /** [[unseenVocabEstimate]] over any (doc_id, text, source) frame —
    * split out so specs can drive corpora with known hapax structure. */
  private[graft] def unseenVocabOf(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val wc = wordRowsOf(docs)
      .join(src, Seq("doc_id"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    wc.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
      .select(col("source"), col("n_tokens").cast("bigint").as("n_tokens"),
        col("vocab"), col("n1"), col("n2"),
        roundAt(col("n1").cast("double") / col("n_tokens"), 6).as("unseen_mass"),
        // each factor cast to double BEFORE the multiply: both are
        // exact (< 2^53), so the IEEE product is the correctly-rounded
        // exact product — bit-identical to casting the BIGINT product —
        // while the long form silently wraps past n1 ~ 3e9 hapaxes
        // (reachable at 100 TB; DuckDB's BIGINT raises, Spark's wrapped)
        roundAt(col("vocab").cast("double") +
          col("n1").cast("double") * (col("n1") - lit(1L)).cast("double") /
            (lit(2L) * (col("n2") + lit(1L))).cast("double"), 4).as("chao1"))
      .orderBy(col("source"))
  }

  /** q175: per-source vocabulary richness with an HLL sketch twin —
    * exact distinct-word count and type-token ratio per source, plus
    * an in-plan envelope flag asserting the approx_count_distinct
    * sketch landed within 4·rsd of the exact value (the q124
    * exact-gated-sketch pattern: the oracle checks the exact numbers
    * AND that every flag is TRUE, so the sketch path — the one a
    * 100 TB deployment actually runs, where countDistinct of a
    * trillion-token vocabulary is the expensive half — stays
    * correctness-anchored). One (source, word) aggregation; the
    * sketch is mergeable HLL state by construction. */
  def vocabRichnessSketch(spark: SparkSession, dir: String,
                          rsd: Double = 0.05): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    wordRows(spark, dir)
      .join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        countDistinct(col("word")).as("vocab_ndv"),
        approx_count_distinct(col("word"), rsd).as("ap"))
      .select(col("source"), col("n_words"), col("vocab_ndv"),
        roundAt(col("vocab_ndv").cast("double") / col("n_words"), 6).as("ttr"),
        (abs(col("ap") - col("vocab_ndv")) <=
          greatest(lit(1.0), lit(4 * rsd) * col("vocab_ndv"))).as("in_envelope"))
      .orderBy(col("source"))
  }

  /** q176: vocabulary growth curve (Heaps' law) — cumulative distinct
    * vocabulary vs cumulative tokens in doc_id ingest order, the
    * diminishing-returns curve a data team reads before deciding
    * whether more of a source still buys new vocabulary. Each word
    * contributes at its FIRST occurrence (one word-keyed min
    * aggregation — no per-prefix rescans), and both cumulative sums
    * run through [[RelationalExt.globalRunningSum]]'s two-phase
    * distributed prefix sum — never a single-task global window.
    * Exact longs end to end. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val words = wordRows(spark, dir)
    val firstOcc = words.groupBy(col("word"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
    val perDoc = words.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    val joined = perDoc.join(firstOcc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val cumTok = RelationalExt.globalRunningSum(
      joined, Seq(col("doc_id")), col("n_tokens"), "cum_tokens")
    RelationalExt.globalRunningSum(
      cumTok, Seq(col("doc_id")), col("n_new"), "cum_vocab")
      .select(col("doc_id"), col("n_tokens"), col("n_new"),
        col("cum_tokens"), col("cum_vocab"))
      .orderBy(col("doc_id"))
  }

  /** q177: Zipf slope per source — closed-form least squares of
    * ln(count) on ln(rank) over the top-`topN` words, the
    * distribution-health fingerprint (natural language sits near −1;
    * a template-spam or keyword-stuffed source flattens or
    * steepens it). Ranks are deterministic ((count desc, word) —
    * exact longs and binary string order), each (x, y) term is one
    * mirrored ln pair, and all four regression sums fold in RANK
    * order over the per-source top-N array (the q158 sorted-fold
    * convention — never an engine-ordered float aggregation);
    * `slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)` is one fixed IEEE
    * tree. Scale: one (source, word) count shuffle, one
    * source-partitioned top-N window over vocabulary-sized rows,
    * per-source arrays bounded at topN. */
  def zipfSlope(spark: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val counts = wordRows(spark, dir)
      .join(src, Seq("doc_id"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("cnt").desc, col("word"))
    val ranked = counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("source"), col("rank"),
        log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    def fsum(arr: Column, f: Column => Column): Column =
      aggregate(arr, lit(0.0d), (acc, t) => acc + f(t))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("n"),
        array_sort(collect_list(struct(col("rank"), col("x"), col("y")))).as("ts"))
      .select(col("source"), col("n").cast("bigint").as("n_terms"),
        roundAt(
          (col("n") * fsum(col("ts"), t => t.getField("x") * t.getField("y")) -
            fsum(col("ts"), _.getField("x")) * fsum(col("ts"), _.getField("y"))) /
          (col("n") * fsum(col("ts"), t => t.getField("x") * t.getField("x")) -
            fsum(col("ts"), _.getField("x")) * fsum(col("ts"), _.getField("x"))),
          6).as("zipf_slope"))
      .orderBy(col("source"))
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): rank pretraining
    * documents by how much their hashed-word distribution looks like a
    * TARGET domain's rather than the corpus's. Each document's log
    * importance weight is Σ_b n_db · (ln p_target(b) − ln p_corpus(b))
    * over its hashed buckets (the q147 md5 hashing convention),
    * with Laplace smoothing on both distributions; the top-k by weight
    * is what a domain-adaptation run feeds the sampler.
    *
    * Cross-engine exactness: bucket assignment and counts are integer;
    * the per-bucket log ratio is a 2·dim-row broadcast computed with
    * an explicit operation order; and the per-document float sum folds
    * over the document's bucket terms in BUCKET ORDER (array_sort /
    * list(... ORDER BY b)) — a deterministic sequence both engines
    * share, never a float aggregation with engine-chosen order. Final
    * ranking uses the unrounded weight with doc_id tie-break.
    *
    * Scale: two corpus-pass aggregations build bucket counts (dim-row
    * results), the ratio table broadcasts, per-doc terms shuffle once
    * on doc_id, and the cut is TakeOrderedAndProject. The target
    * membership probe is a semi join on doc_id. */
  def dsirSelect(spark: SparkSession, dir: String,
                 targetSource: String = "src0", dim: Int = 256,
                 k: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text"))
    dsirScoreFromState(spark, docs, dsirBucketPartials(docs, targetSource, dim), dim, k)
  }

  private def dsirBucket(dim: Int)(w: Column): Column =
    (conv(substring(md5(w), 1, 8), 16, 10).cast("long") % dim).cast("int")

  /** The reference-distribution state DSIR scores against: per
    * hashed bucket, the target-domain word count and the corpus word
    * count, from one pass over a (doc_id, source, text) slice. */
  def dsirBucketPartials(docs: DataFrame, targetSource: String,
                         dim: Int = 256): DataFrame =
    wordRowsOf(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(dsirBucket(dim)(col("word")).as("b"),
        (col("source") === targetSource).cast("long").as("is_t"))
      .groupBy(col("b"))
      .agg(sum(col("is_t")).as("t"), count(lit(1)).as("c"))

  /** Score a document batch against a (b, t, c) state: smoothed
    * log ratio per bucket (dim-row broadcast), per-doc fold in bucket
    * order (see [[dsirSelect]]'s exactness contract), top-k cut. */
  def dsirScoreFromState(spark: SparkSession, docs: DataFrame, state: DataFrame,
                         dim: Int = 256, k: Int = 50): DataFrame = {
    val wb = wordRowsOf(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), dsirBucket(dim)(col("word")).as("b"))
    val totals = state.agg(sum(col("t")).as("n_t"), sum(col("c")).as("n_c"))
    val ratio = spark.range(dim).select(col("id").cast("int").as("b"))
      .join(state, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((coalesce(col("t"), lit(0L)) + 1L).cast("double") /
            (col("n_t") + lit(dim.toLong))) -
          log((coalesce(col("c"), lit(0L)) + 1L).cast("double") /
            (col("n_c") + lit(dim.toLong)))).as("lnr"))
    val terms = wb.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
      .join(broadcast(ratio), Seq("b"))
      .select(col("doc_id"),
        struct(col("b"), (col("n").cast("double") * col("lnr")).as("term")).as("s"))
    terms.groupBy(col("doc_id"))
      .agg(aggregate(
        transform(array_sort(collect_list(col("s"))), x => x.getField("term")),
        lit(0.0d), (acc, t) => acc + t).as("logw_raw"))
      .orderBy(col("logw_raw").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), roundAt(col("logw_raw"), 6).as("logw"))
  }

  /** q167: vocabulary coverage / OOV rate — per document, the count
    * and fraction of word tokens falling OUTSIDE the corpus top-`k`
    * vocabulary. The tokenizer-analysis staple: before freezing a
    * vocab (word-level here; q159's BPE covers subword) a data team
    * audits what coverage a k-entry vocabulary buys per document and
    * which docs are OOV-heavy (usually noise or the wrong language).
    *
    * Exactness: vocabulary membership is decided on exact long counts
    * with the deterministic (count desc, word asc) boundary tie —
    * both engines cut the identical top-k. OOV fraction is a ratio
    * of exact longs rounded at 4.
    *
    * Scale shape: one word-keyed aggregation builds the frequency
    * table (map-side partials), the top-k cut is a TakeOrdered (k
    * rows — model state, never corpus-sized), and scoring joins the
    * BROADCAST vocabulary onto the word rows — the corpus is touched
    * once and never shuffled by vocabulary size. The frequency state
    * is [[vocabCountPartials]]; roster left join keeps wordless docs
    * at rate 0. */
  def vocabCoverage(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    oovFromState(spark, docs, vocabCountPartials(docs), k)
  }

  /** The vocabulary state: per word, its exact corpus count from one
    * pass over a (doc_id, text) slice. */
  def vocabCountPartials(docs: DataFrame): DataFrame =
    wordRowsOf(docs.select(col("doc_id"), col("text")))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))

  /** Score a document batch against a (word, c) state: cut the
    * top-k vocabulary on (c desc, word asc), broadcast it onto the
    * batch's word rows, aggregate per doc. */
  def oovFromState(spark: SparkSession, docs: DataFrame, state: DataFrame,
                   k: Int = 20): DataFrame = {
    val vocab = state.orderBy(col("c").desc, col("word")).limit(k)
      .select(col("word"), lit(1L).as("in_vocab"))
    val perDoc = wordRowsOf(docs.select(col("doc_id"), col("text")))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(coalesce(col("n_oov"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_words"), lit(0L)), lit(1L)), 4).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** Hashed-feature linear classifier scoring — the fastText-style
    * model-based quality filter (Joulin et al. 2016 shape): each word
    * hashes into one of `dim` feature buckets and the document's
    * score is the sum of the bucket weights, i.e. `w · x` for a
    * bag-of-words count vector under the hashing trick. The weight
    * vector here is a deterministic md5-derived stand-in (integer
    * weights in [-1000, 1000], so the score is EXACT BIGINT
    * arithmetic — no float dot product to drift cross-engine); a
    * trained model drops in by replacing the array.
    *
    * Scale: the model ships as a plan literal (for real 10⁶-dim
    * models: a broadcast variable read by a codegen'd Expression) and
    * scoring is `aggregate()` over `split()` — one codegen'd NARROW
    * map over the text scan, zero shuffles, zero joins: the ideal
    * 100 TB inference shape. Scoring cost is one md5 per word; the
    * weight lookup is an O(1) array index, not a join.
    *
    * `split("\\s+")` yields a leading "" element for
    * whitespace-leading text; it hashes like any token in BOTH
    * engines, so parity holds without a trim pass. */
  def linearQuality(spark: SparkSession, dir: String, dim: Int = 256): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val weights: Array[Long] = Array.tabulate(dim) { b =>
      val hex = md.digest(s"w_$b".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (BigInt(hex.substring(0, 8), 16) % 2001 - 1000).toLong
    }
    val words = split(col("text"), "\\s+")
    val bucket = (w: Column) =>
      (conv(substring(md5(w), 1, 8), 16, 10).cast("long") % dim).cast("int")
    val score = aggregate(words, lit(0L),
      (acc, w) => acc + element_at(lit(weights), bucket(w) + 1))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(words).cast("bigint").as("n_words"),
        score.as("score"))
      .withColumn("pass", col("score") >= 0)
  }

  /** q161 — CCNet-style bigram-LM fluency scoring (Wenzek et al.
    * 2020): an interpolated bigram language model is trained on a
    * reference slice (the `trainSource` documents — CCNet trains on
    * Wikipedia), every document is scored by its average negative
    * log-likelihood under that model, and fixed thresholds band the
    * corpus into head / middle / tail — the classic perplexity filter
    * (banding on avg-NLL is monotone-equivalent to perplexity and
    * avoids a cross-engine `exp`). P(w2|w1) = 0.9·c(w1,w2)/c(w1·)
    * + 0.1·(c(w2)+1)/(N+V): Jelinek–Mercer interpolation with a
    * Laplace unigram floor, so unseen bigrams and unseen words both
    * score finitely; an unseen CONTEXT zeroes the bigram component
    * rather than dividing by zero.
    *
    * Cross-engine exactness: all counts are exact integers; the
    * per-bigram term is one ln over an explicitly ordered arithmetic
    * expression mirrored literal-for-literal in the oracle, floor-
    * scaled to a 1e12 LONG so the per-document total is an EXACT
    * INTEGER sum — order-free, one codegen'd hash aggregation (the
    * q244/q182 device; replaced the r18 sorted float fold, which
    * pinned order at the cost of an interpreted pass over the whole
    * bigram stream); band compares the RAW avg-NLL (the filter
    * decision itself, not a rounded proxy — the q80 convention).
    * Documents
    * with fewer than two words stay in the output via the roster left
    * join (band 'short', the q149 zero-word convention).
    *
    * Scale: model tables are observed-vocabulary/bigram-sized
    * (sublinear in corpus) — broadcast onto the per-doc bigram stream
    * here; a model too big to broadcast shuffle-joins on the same
    * keys with no plan change elsewhere. The bigram stream reuses the
    * one doc_id window shuffle (q80's shape); scalars attach as a
    * broadcast one-row aggregate, never a global window. */
  def bigramFluency(spark: SparkSession, dir: String,
                    trainSource: String = "src0"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val words = wordRows(spark, dir)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = words
      .select(col("doc_id"), col("word").as("w1"),
        lead(col("word"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .localCheckpoint(false) // two consumers: model build + scoring
    val train = docs.filter(col("source") === trainSource).select(col("doc_id"))
    val cu = words.join(train, Seq("doc_id"))
      .groupBy(col("word").as("w2")).agg(count(lit(1)).as("cu"))
    val sc = cu.agg(sum(col("cu")).cast("bigint").as("n_uni"),
      count(lit(1)).as("v"))
    val tb = bg.join(train, Seq("doc_id"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cx = tb.groupBy(col("w1")).agg(sum(col("cb")).as("cctx"))
    val db = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    val pBig = when(col("cctx").isNotNull,
      coalesce(col("cb"), lit(0L)).cast("double") / col("cctx"))
      .otherwise(lit(0.0d))
    // the q244/q182 fixed-point device: each position's ln floor-
    // scales to a 1e12 long once, so the per-doc reduction is an
    // exact-integer codegen'd hash aggregation — order-free, no
    // cross-engine fold order to pin (replaced the sorted float fold)
    val term1 = floor(log(
      lit(BigramLambda) * pBig +
        lit(BigramFloor) * ((coalesce(col("cu"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_uni") + col("v")))) * lit(1e12) + lit(0.5)).cast("long")
    // tb is bigram-model-sized and cx/cu vocabulary-sized — all three
    // UNBOUNDED (n-gram vocabularies grow superlinearly at web scale):
    // unhinted, so AQE broadcasts the tiny sf-scale models at runtime
    // and a 100 TB model shuffle-joins on its own keys with no plan
    // change elsewhere (exactly the docstring's contract; de-force
    // sweep). sc is a 1-row scalar — bounded, hinted.
    val scored = db
      .join(tb, Seq("w1", "w2"), "left")
      .join(cx, Seq("w1"), "left")
      .join(cu, Seq("w2"), "left")
      .crossJoin(broadcast(sc))
      .select(col("doc_id"), col("n"), term1.as("t1"),
        (col("n") * term1).as("tl"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"), sum(col("tl")).as("tls"),
        max(abs(col("t1"))).as("mt"))
      .select(col("doc_id"), col("n_bigrams"),
        // q247/q255 post-hoc audit, embedded in nll_raw so nll AND
        // band both ride the guard (see trigramBackoff for the full
        // argument): n_bigrams and max|term| are wrap-free and certify
        // the per-doc long sum; the engine now fails loudly on the
        // same inputs DuckDB's raising BIGINT arithmetic does.
        when(col("n_bigrams").cast("double") * col("mt").cast("double") < lit(9.0e18),
          (-(col("tls").cast("double") / lit(1e12))) /
            col("n_bigrams").cast("double"))
          .otherwise(raise_error(concat(
            lit("bigram NLL fixed-point sum would overflow int64 for doc "),
            col("doc_id"), lit(" — rescale the 1e12 quantization")))
            .cast("double")).as("nll_raw"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).cast("bigint").as("n_bigrams"),
        roundAt(col("nll_raw"), 6).as("nll"),
        when(col("n_bigrams").isNull, lit("short"))
          .when(col("nll_raw") < BigramHeadMax, lit("head"))
          .when(col("nll_raw") < BigramMiddleMax, lit("middle"))
          .otherwise(lit("tail")).as("band"))
      .orderBy(col("doc_id"))
  }

  /** q161 model constants, interpolated into the oracle SQL verbatim
    * (the head/middle cuts sit near the corpus avg-NLL terciles so
    * all three bands are populated at every test SF — fixed
    * language-specific constants, exactly how CCNet ships them). */
  val BigramLambda = 0.9
  val BigramFloor = 0.1
  val BigramHeadMax = 3.75
  val BigramMiddleMax = 3.88

  /** q244: trigram language model with STUPID BACKOFF (Brants et al.
    * 2007 — the web-scale scoring rule: no discount mass bookkeeping,
    * just score = c₃/c₂ₓ if the trigram was seen, else α·(c₂/c₁ₓ),
    * else α²·Laplace-unigram; α = 0.4 as published). The per-doc
    * outputs are avg trigram NLL (banding-free — q161 bands, this is
    * the raw filter signal at one order higher) plus the BACKOFF RATE:
    * the fraction of trigram positions the model had to back off for,
    * which is the model-coverage readout q161 can't give — a doc can
    * score a plausible NLL purely off the unigram floor, and the rate
    * is what exposes that.
    *
    * Cross-engine exactness: exact integer counts; each position's
    * ln over the mirrored CASE tree floor-scales to a 1e12 LONG (the
    * q225/q182 device), so the per-doc total is an EXACT INTEGER sum
    * of n·⌊ln(p)·10¹²⌉ — order-free, one codegen'd hash aggregation
    * (this replaced the r18 collect_list + array_sort + interpreted
    * fold, the q182 lesson: a sorted float fold pins order at the
    * cost of running interpreted over the whole trigram stream).
    * Overflow headroom: |⌊ln(p)·10¹²⌉| ≤ ~2e13 on any corpus whose
    * rarest unigram denominator stays under e⁻²⁰·10¹², so a single
    * doc stays inside int64 to ~4×10⁵ trigram positions — far past
    * any real document, and now ENFORCED (q247 convention): per doc,
    * max|term| × n_trigrams — both wrap-free — certify the long sum
    * post hoc, and a breach raises instead of wrapping, the same
    * loud failure DuckDB's BIGINT arithmetic gives the oracle. Backoff counts are exact longs and the rate
    * one guarded division under roundAt. Docs with fewer than three
    * words survive via the roster left join (null nll, rate, the
    * q161 'short' convention minus the band column).
    *
    * Scale: model tables are observed-n-gram-sized (sublinear in
    * corpus, Heaps' law) and broadcast here; too-big-to-broadcast
    * models shuffle-join on the same keys with no other plan change.
    * The trigram stream rides ONE doc_id window shuffle, lazily
    * checkpointed — both its consumers (the train-slice model build
    * and the all-docs scoring table) read the materialization instead
    * of re-running the parse + explode + window. */
  def trigramBackoff(spark: SparkSession, dir: String,
                     trainSource: String = "src0"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val words = wordRows(spark, dir)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tg = words
      .select(col("doc_id"), col("word").as("w1"),
        lead(col("word"), 1).over(w).as("w2"),
        lead(col("word"), 2).over(w).as("w3"))
      .filter(col("w3").isNotNull)
      .localCheckpoint(false) // two consumers: model build + scoring
    val train = docs.filter(col("source") === trainSource).select(col("doc_id"))
    // model tables, all from the training slice
    val t3 = tg.join(train, Seq("doc_id"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val c3x = t3.groupBy(col("w1"), col("w2")).agg(sum(col("c3")).as("cc3"))
    val t2 = t3.groupBy(col("w2"), col("w3")).agg(sum(col("c3")).as("c2"))
    val c2x = t2.groupBy(col("w2")).agg(sum(col("c2")).as("cc2"))
    val cu = words.join(train, Seq("doc_id"))
      .groupBy(col("word").as("w3")).agg(count(lit(1)).as("c1"))
    val sc = cu.agg(sum(col("c1")).cast("bigint").as("n_uni"), count(lit(1)).as("v"))
    val db = tg.groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("n"))
    val p = when(col("c3").isNotNull, col("c3").cast("double") / col("cc3"))
      .when(col("c2").isNotNull,
        lit(TrigramAlpha) * (col("c2").cast("double") / col("cc2")))
      .otherwise(lit(TrigramAlpha2) *
        ((coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_uni") + col("v"))))
    // each position's ln term floor-scales to a 1e12 long ONCE, so the
    // per-doc reduction is an exact-integer codegen'd hash aggregation
    // (order-free by construction — see the docstring)
    val term1 = floor(log(p) * lit(1e12) + lit(0.5)).cast("long")
    val backed = when(col("c3").isNotNull, lit(0L)).otherwise(col("n"))
    // t3/c3x/t2/c2x are n-gram-model-sized and cu vocabulary-sized —
    // all five UNBOUNDED (trigram vocabularies grow superlinearly at
    // web scale): unhinted, so AQE broadcasts the tiny sf-scale models
    // at runtime and a 100 TB model shuffle-joins on its own keys with
    // no plan change elsewhere (de-force sweep). sc is a 1-row scalar
    // — bounded, hinted.
    val scored = db
      .join(t3, Seq("w1", "w2", "w3"), "left")
      .join(c3x, Seq("w1", "w2"), "left")
      .join(t2, Seq("w2", "w3"), "left")
      .join(c2x, Seq("w2"), "left")
      .join(cu, Seq("w3"), "left")
      .crossJoin(broadcast(sc))
      .select(col("doc_id"), col("n"), backed.as("nb"),
        term1.as("t1"), (col("n") * term1).as("tl"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_trigrams"), sum(col("nb")).as("n_backoff"),
        sum(col("tl")).as("tls"), max(abs(col("t1"))).as("mt"))
      .select(col("doc_id"), col("n_trigrams"), col("n_backoff"),
        // the q247/q255 post-hoc audit: n_trigrams (a count) and
        // max|per-position term| are wrap-free, so they certify both
        // each n·term product and the per-doc long sum after the fact;
        // embedded IN nll_raw so every derived output (nll here) rides
        // the guard and column pruning cannot drop it. DuckDB's BIGINT
        // arithmetic raises on its own — this closes the engine side
        // of the crash-vs-wrong-answer divergence.
        when(col("n_trigrams").cast("double") * col("mt").cast("double") < lit(9.0e18),
          (-(col("tls").cast("double") / lit(1e12))) /
            col("n_trigrams").cast("double"))
          .otherwise(raise_error(concat(
            lit("trigram NLL fixed-point sum would overflow int64 for doc "),
            col("doc_id"), lit(" — rescale the 1e12 quantization")))
            .cast("double")).as("nll_raw"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).cast("bigint").as("n_trigrams"),
        coalesce(col("n_backoff"), lit(0L)).cast("bigint").as("n_backoff"),
        roundAt(col("nll_raw"), 6).as("nll"),
        roundAt(col("n_backoff").cast("double") / col("n_trigrams"), 6)
          .as("backoff_rate"))
      .orderBy(col("doc_id"))
  }

  /** q244 stupid-backoff constants (Brants 2007's published α and its
    * square for the two-level backoff), interpolated into the oracle
    * verbatim. */
  val TrigramAlpha = 0.4
  val TrigramAlpha2 = 0.16

  // ===================== BPE vocabulary induction =====================

  /** End-of-word marker appended to every word's initial symbol
    * sequence (Sennrich et al. 2016 convention). Normalized words are
    * `[a-z0-9]+` so the marker cannot collide with a corpus symbol. */
  val BpeEow = "</w>"

  /** Word-frequency dictionary with initial BPE symbol sequences:
    * (word, cnt, syms) where syms = characters of the normalized word
    * plus [[BpeEow]]. This is the ONLY corpus-sized pass BPE learning
    * makes — everything after operates on the vocabulary-sized
    * dictionary (Heaps'-law sublinear in corpus size), which is the
    * standard industrial BPE trainer shape. */
  private def bpeInitState(docs: DataFrame): DataFrame =
    wordRowsOf(docs.select(col("doc_id"), col("text")))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        concat(
          transform(sequence(lit(1), length(col("word"))),
            j => col("word").substr(j, lit(1))),
          array(lit(BpeEow))).as("syms"))

  /** Adjacent-symbol pair counts of a dictionary state, weighted by
    * word frequency. Vocabulary-sized explode + one small shuffle on
    * the (left, right) pair key. */
  private def bpePairCounts(state: DataFrame): DataFrame =
    state.filter(size(col("syms")) >= 2)
      .select(col("cnt"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          j => struct(element_at(col("syms"), j).as("l"),
            element_at(col("syms"), j + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("pc"))

  /** Greedy left-to-right application of merge (l, r) → l+r to a
    * symbol array, as a single `aggregate` higher-order fold: scan
    * positions carrying (rebuilt array, consumed-next flag). The fold
    * IS the sequential BPE semantics — in an equal-symbol run like
    * "aaa" under merge (a,a) it takes positions 0,2,4,… exactly as a
    * left-to-right scan does. Narrow (zero exchanges); the lookahead
    * `element_at(j+1)` only evaluates under `when(j < size)` so the
    * fold is ANSI-safe at the last position. */
  private def bpeApplyMerge(syms: Column, l: String, r: String): Column = {
    val merged = l + r
    aggregate(
      sequence(lit(1), size(syms)),
      struct(slice(syms, 1, 0).as("out"), lit(false).as("skip")),
      (acc, j) => {
        val cur = element_at(syms, j)
        val hit = when(acc.getField("skip") || j === size(syms), lit(false))
          .otherwise(cur === lit(l) && element_at(syms, j + 1) === lit(r))
        struct(
          when(acc.getField("skip"), acc.getField("out"))
            .when(hit, concat(acc.getField("out"), array(lit(merged))))
            .otherwise(concat(acc.getField("out"), array(cur))).as("out"),
          when(acc.getField("skip"), lit(false)).otherwise(hit).as("skip"))
      },
      acc => acc.getField("out"))
  }

  /** Learned merge table + final dictionary segmentation after
    * `merges` deterministic BPE rounds (Sennrich et al. 2016: each
    * round merges the most frequent adjacent symbol pair; ties broken
    * (count DESC, left ASC, right ASC) — exact longs and binary ASCII
    * string order, so DuckDB replays the identical sequence).
    *
    * Scale: the corpus is touched ONCE (the word-count aggregation);
    * each round is one vocabulary-sized narrow rewrite plus one small
    * pair-count shuffle whose argmax is a 1-row collect — merge
    * decisions are MODEL STATE, not corpus data, the same bounded-
    * collect contract as the IVF codebook. A lazy localCheckpoint per
    * round cuts lineage (and the otherwise R-deep nested-fold
    * expression) and is materialized by the NEXT round's argmax
    * action — one Spark job per round, the q97 iterative budget.
    * Fails loudly if the vocabulary exhausts its pairs before
    * `merges` rounds (cannot happen at any real corpus size). */
  def bpeLearnState(spark: SparkSession, docs: DataFrame,
                    merges: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val (learned, snaps) = bpeLearnSnapshots(spark, docs, Seq(merges))
    (learned, snaps(merges))
  }

  /** One training loop to max(budgets), SNAPSHOTTING the segmentation
    * state at each requested budget: BPE's greedy merge sequence is
    * prefix-stable — the first b merges of a larger-budget run ARE
    * the b-budget run (the argmax at round i depends only on rounds
    * 1..i−1) — so a merge-budget ablation costs ONE loop, not one
    * loop per budget. Each snapshot is the round's own lazily-
    * checkpointed state (vocabulary-sized blocks, bounded). */
  def bpeLearnSnapshots(spark: SparkSession, docs: DataFrame,
                        budgets: Seq[Int]): (Seq[(Int, String, String, Long)], Map[Int, DataFrame]) = {
    val want = budgets.distinct.sorted
    require(want.nonEmpty && want.head >= 1, s"bad merge budgets: $budgets")
    val merges = want.last
    var state = bpeInitState(docs).localCheckpoint(false)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    val snaps = scala.collection.mutable.Map.empty[Int, DataFrame]
    for (i <- 1 to merges) {
      val top = DriverResults.collectBounded(bpePairCounts(state)
        .orderBy(col("pc").desc, col("l").asc, col("r").asc)
        .limit(1), 1, "BPE top merge pair")
      require(top.nonEmpty,
        s"BPE vocabulary exhausted after ${i - 1} of $merges merges")
      val (l, r, pc) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      learned += ((i, l, r, pc))
      state = state
        .withColumn("syms", bpeApplyMerge(col("syms"), l, r))
        .localCheckpoint(false)
      if (want.contains(i)) snaps(i) = state
    }
    (learned.toSeq, snaps.toMap)
  }

  /** q159 — BPE merge-table induction over the documents corpus: the
    * first `merges` learned merges as (merge_rank, left_sym,
    * right_sym, pair_count). Deterministic, so the DuckDB oracle
    * replays the full learning loop (program-generated unrolled
    * stages, TextQueries.bpeStagesSql). */
  def bpeMerges(spark: SparkSession, dir: String, merges: Int = 16): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (learned, _) = bpeLearnState(spark, docs, merges)
    import spark.implicits._
    DriverResults.sortedLocal(
      learned.toDF("merge_rank", "left_sym", "right_sym", "pair_count"), col("merge_rank"))
  }

  /** q160 — tokenize the corpus with the learned merges: per document,
    * the word count and the exact BPE token count (the training-budget
    * unit q83/q113/q146 approximate with whitespace tokens). The final
    * dictionary segmentation IS the tokenization of every distinct
    * word — docs join to it by word (the standard tokenizer cache),
    * so tokenizing the corpus is one explode + one join + one doc_id
    * aggregation; the vocabulary side broadcasts when small and
    * shuffle-joins on `word` when not. */
  def bpeTokenCounts(spark: SparkSession, dir: String, merges: Int = 16): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (_, seg) = bpeLearnState(spark, docs, merges)
    wordRowsOf(docs.select(col("doc_id"), col("text")))
      .join(seg.select(col("word"), size(col("syms")).cast("bigint").as("n_syms")),
        Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q178 — BPE round-trip safety audit: for every dictionary word,
    * the in-plan proof that concatenating its learned-merge tokens
    * reproduces the word exactly (plus the end-of-word marker). BPE
    * is lossless BY CONSTRUCTION — merges only ever glue adjacent
    * symbols — so this gate costs one narrow map over the
    * vocabulary-sized dictionary and turns any future tokenizer bug
    * (a merge application that drops or reorders symbols) into a hash
    * mismatch instead of silent corpus corruption. The oracle replays
    * the learning chain and asserts every flag TRUE. */
  def bpeRoundTrip(spark: SparkSession, dir: String, merges: Int = 16): DataFrame = {
    val (_, seg) = bpeLearnState(spark, Tables.documents(spark, dir), merges)
    seg.select(col("word"), col("cnt"),
      size(col("syms")).cast("bigint").as("n_tokens"),
      (concat_ws("", col("syms")) === concat(col("word"), lit(BpeEow)))
        .as("round_trip_ok"))
      .orderBy(col("word"))
  }

  /** q179 — padding-waste audit for length-bucketed batching: the
    * per-batch padded-token waste (`n_docs·max_len − Σlen`) under the
    * arrival-order batching a naive loader uses versus length-sorted
    * batching — THE motivating number for bucketed batching in every
    * training stack (padding is pure wasted compute; length-sorting
    * collapses it). Both strategies are emitted so the saving is an
    * output fact, not a claim.
    *
    * Scale shape: the global ordinal each strategy needs comes from
    * [[RelationalExt.globalRunningSum]]'s two-phase distributed
    * prefix sum over a literal 1 (cumulative count ≡ row_number) —
    * never a single-task global window; batch rollups are one
    * aggregation each. Exact longs end to end. */
  def paddingWaste(spark: SparkSession, dir: String,
                   batchSize: Int = 32): DataFrame = {
    val lens = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextNorm.words(col("text"))).cast("long").as("len"))
    def batches(strategy: String, order: Seq[Column]): DataFrame =
      RelationalExt.globalRunningSum(
        lens.withColumn("one", lit(1L)), order, col("one"), "rk")
        // floor, not a bare cast: Spark's long cast truncates but
        // DuckDB's CAST rounds — floor() is the one both engines share
        .select(lit(strategy).as("strategy"), col("len"),
          floor((col("rk") - 1L) / batchSize).cast("long").as("batch_id"))
        .groupBy(col("strategy"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("len")).as("max_len"), sum(col("len")).as("sum_len"))
        .select(col("strategy"), col("batch_id"), col("n_docs"),
          col("max_len"), col("sum_len"),
          (col("n_docs") * col("max_len") - col("sum_len")).as("waste"))
    batches("by_arrival", Seq(col("doc_id")))
      .unionByName(batches("by_length", Seq(col("len").desc, col("doc_id"))))
      .orderBy(col("strategy"), col("batch_id"))
  }

  /** q235: tokenizer merge-budget ablation — [[bpeFertility]] at
    * budgets {8, 16}, tagged and unioned. The vocabulary-size
    * sensitivity readout: fertility's drop from one budget to the
    * next is the marginal compression each extra merge buys PER
    * SOURCE, and a source whose fertility barely improves with budget
    * is one whose text the merge table wasn't learned on — the
    * audit run before committing a vocab size. Cost is ONE training
    * loop to max(budgets) with per-budget snapshots
    * ([[bpeLearnSnapshots]] — BPE's merge sequence is prefix-stable,
    * so the smaller budget's dictionary falls out of the larger run
    * for free), and the corpus word×source rollup is materialized
    * once and shared across the legs. */
  def bpeFertilityAblation(spark: SparkSession, dir: String,
                           budgets: Seq[Int] = Seq(8, 16)): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (_, snaps) = bpeLearnSnapshots(spark, docs, budgets)
    val wordSrc = wordRowsOf(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .localCheckpoint(false)
    budgets.map { b =>
      wordSrc
        .join(snaps(b).select(col("word"),
          size(col("syms")).cast("bigint").as("n_syms")), Seq("word"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_tokens"))
        .select(lit(b.toLong).as("merges"), col("source"),
          col("n_words"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_words"), 4).as("fertility"))
    }
      .reduce(_ unionByName _)
      .orderBy(col("merges"), col("source"))
  }

  /** q170 — tokenizer fertility by source: BPE tokens emitted per word
    * occurrence, per corpus source (plus exact token/word totals).
    * Fertility is THE tokenizer-efficiency audit (an SP-level unit in
    * the multilingual-tokenizer literature): a source whose fertility
    * runs hot pays proportionally more of the training budget per
    * word, and a vocab change shifts these numbers before anything
    * else. Same q160 tokenizer-cache shape — the learned dictionary
    * segmentation joins onto word rows — with the per-source rollup
    * joining the (doc_id, source) projection; exact long counts, the
    * one float is the final ratio rounded at 4. */
  def bpeFertility(spark: SparkSession, dir: String, merges: Int = 16): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (_, seg) = bpeLearnState(spark, docs, merges)
    wordRowsOf(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .join(seg.select(col("word"), size(col("syms")).cast("bigint").as("n_syms")),
        Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 4).as("fertility"))
      .orderBy(col("source"))
  }
}
