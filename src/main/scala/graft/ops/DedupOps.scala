package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{ShingleSignature, TextNorm}

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2c):
  * exact (normalized-fingerprint groupBy), n-gram Jaccard, banded
  * MinHash LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-shuffle on a 128-bit fingerprint —
  *    map-side partial aggregation collapses within-partition dups
  *    before the exchange.
  *  - Every near-dup variant is candidate-generation (a cheap,
  *    shuffle-friendly blocking key: min-shingle, LSH band bucket,
  *    SimHash band, cluster label) followed by exact verification on
  *    the candidate pairs only — never an O(n²) cross join. Bucket
  *    joins shuffle on the bucket key, so skew is bounded by bucket
  *    size, not corpus size; pathological buckets (stop-shingles) can
  *    be salted or capped without changing semantics.
  *  - All verification kernels (Jaccard over shingle arrays, Hamming
  *    via xor+bit_count, cosine via the codegen'd CosineSimilarity
  *    expression) are per-pair scalar expressions inside codegen.
  */
object DedupOps {

  // ---------------------------------------------------------------
  // exact dedup
  // ---------------------------------------------------------------

  /** Exact dedup groups: normalized-content fingerprint → surviving
    * doc (min id) + duplicate count. Keep `.filter(col("n_dups") > 1)`
    * to list only actual dup groups; survivors = this joined back
    * semi on (fp, keeper). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(TextOps.fingerprintCol(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))

  // ---------------------------------------------------------------
  // n-gram Jaccard near-dup
  // ---------------------------------------------------------------

  /** Word 3-gram shingle set of a normalized text column (array
    * form — the reference the specs check the row and kernel forms
    * against; no registered query calls it). */
  private[graft] def shingles(text: Column, n: Int = 3): Column = {
    val words = TextNorm.words(text)
    array_distinct(transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(n)))))
  }

  /** Row-form 3-gram shingling: one row per (doc, shingle position),
    * 3-grams assembled with window lead() over exploded words. Same
    * shingle multiset as [[shingles]] (short docs yield their one
    * partial shingle — concat_ws skips the null leads — and the pos
    * filter cuts the trailing partials), but the whole chain is
    * codegen'd: the array-HOF form (sequence/transform/slice) is
    * interpreted and dominated near-dup runtime (~1ms/doc). The
    * window's doc_id shuffle is reused verbatim by the downstream
    * per-doc aggregation, so this costs no extra exchange. */
  private def shingleRows(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = TextNorm.words(col("text"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(spark, dir)
      // spread BEFORE the 50x explode: a small documents file is one
      // input split, so without this the entire shingle stage runs in
      // a single task; hashing by doc_id also pre-satisfies the
      // window/groupBy distribution, so no further exchange follows.
      // (On a real multi-split 100 TB corpus the scan is already
      // parallel and AQE would coalesce this exchange.)
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(words))
      .select(col("doc_id"), col("pos"), col("col").as("w0"),
        lead(col("col"), 1).over(w).as("w1"),
        lead(col("col"), 2).over(w).as("w2"))
      // Trailing-partial cut WITHOUT referencing a per-doc word count:
      // `w2 IS NOT NULL OR pos = 0` ≡ `pos <= greatest(nw - 3, 0)`
      // (full shingles have a 2-ahead word; the one partial shingle of
      // a <3-word doc survives via pos = 0). Filtering on a projected
      // size(words) column instead looks equivalent, but CollapseProject
      // inlines it through the Generate and re-runs the regex+split per
      // exploded ROW — measured 25x slower on the shingle stage at
      // sf0.1. The lead values are computed by the window anyway, so
      // this predicate is free.
      .filter(col("w2").isNotNull || col("pos") === 0)
      .select(col("doc_id"), concat_ws(" ", col("w0"), col("w1"), col("w2")).as("s"))
  }

  /** Within-bucket pair generation: group docs by a blocking key,
    * then emit ordered pairs by exploding each bucket's member list
    * twice (the inner explode filtered to doc_id-greater members).
    *
    * This deliberately avoids a self-join: (a) the blocking subtree
    * (regex shingling + hashing) is evaluated once, not once per join
    * leg; (b) broadcast-building a derived-array relation proved ~2×
    * slower than the whole groupBy plan; and (c) Spark 4.1's
    * self-join attribute dedup silently collapsed both legs' array
    * columns to one lineage in cached/aliased form — a correctness
    * trap, not just a perf one. Buckets are bounded by the blocking
    * key's selectivity; a degenerate stop-key bucket (a blocking value
    * shared by a large doc fraction — the LSH analog of a stopword)
    * would emit O(bucket²) pairs, so `maxBucket` EXCLUDES buckets past
    * the cap — the standard production tradeoff: a stop-key bucket's
    * pairs are overwhelmingly false positives (the key carries no
    * discriminating information precisely because everyone shares it),
    * so skipping it trades bounded recall loss for a hard quadratic
    * bound. The default (None) keeps candidate generation exact —
    * every oracle-gated query runs uncapped, so the hash gate stays an
    * exact-recall check; the cap is the knob a 100 TB deployment sets.
    * `input` must have a `members` column of struct(doc_id, sh). */
  private[graft] def bucketPairs(buckets: DataFrame,
                                 maxBucket: Option[Int] = None): DataFrame = {
    val sized = buckets.filter(size(col("members")) > 1)
    val admitted = maxBucket.fold(sized)(cap =>
      sized.filter(size(col("members")) <= cap))
    admitted
      .select(explode(col("members")).as("x"), col("members"))
      .select(col("x"), explode(
        filter(col("members"), y => y.getField("doc_id") > col("x.doc_id"))).as("y"))
  }

  /** Exact Jaccard verification over generated pairs; single
    * array_intersect (|A∪B| = |A|+|B|−|A∩B| on the distinct shingle
    * sets saves the second array pass). A size-ratio prefilter skips
    * the intersect when it provably can't reach the threshold:
    * |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    * J ≤ min/max — if min < t·max the pair can never pass. Exactness
    * preserved, and most candidate pairs are cheap size comparisons. */
  private def jaccardVerify(pairs: DataFrame, threshold: Double): DataFrame = {
    val sa = size(col("x.sh"))
    val sb = size(col("y.sh"))
    pairs
      .filter(least(sa, sb).cast("double") >= greatest(sa, sb) * threshold)
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        pairJaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The n-gram family's shared candidate-generation build: per-doc
    * (min-md5 shingle, xxhash64'd shingle set) bucketed on the
    * blocking key. [[nearDupNgram]] (verify ≥ t), [[hardNegatives]]
    * (verify inverted) and the capped variants all derive from THIS
    * one build, so the positive and negative populations — and their
    * DuckDB oracles — cannot silently diverge if the blocking or
    * hashing ever changes.
    *
    * Explode-then-aggregate: md5/xxhash as codegen'd scalars per
    * exploded shingle instead of an interpreted array lambda per doc
    * (2x runtime there), min() as the blocking key with map-side
    * partial aggregation. Verification carries 64-bit shingle hashes,
    * not strings: set cardinalities (and hence Jaccard) are unchanged
    * up to a ~2^-65-per-pair collision, while the bucket shuffle
    * moves ~3x fewer bytes and pair verification compares longs.
    * The blocking key stays min-md5 so the DuckDB oracle mirrors the
    * exact same candidate set. */
  private def ngramBuckets(spark: SparkSession, dir: String): DataFrame =
    shingleRows(spark, dir)
      .groupBy(col("doc_id")).agg(
        min(md5(col("s"))).as("minsh"), collect_set(xxhash64(col("s"))).as("sh"))
      .groupBy(col("minsh"))
      .agg(collect_list(struct(col("doc_id"), col("sh"))).as("members"))

  /** Exact Jaccard of a [[bucketPairs]] row — single array_intersect,
    * |A∪B| = |A|+|B|−|A∩B| on the distinct sets. Shared by the verify
    * keep-side ([[jaccardVerify]]) and the inverted hard-negative
    * side so both compute the identical value. */
  private def pairJaccard: Column = {
    val sa = size(col("x.sh"))
    val sb = size(col("y.sh"))
    val inter = size(array_intersect(col("x.sh"), col("y.sh")))
    round(inter.cast("double") / (sa + sb - inter), 4)
  }

  /** Near-dup pairs by word-3-gram Jaccard, blocked on the minimum
    * md5'd shingle (a 1-permutation MinHash): only docs sharing their
    * min-shingle are compared — the standard cheap prefilter that
    * keeps candidate generation linear-ish in corpus size. */
  def nearDupNgram(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    jaccardVerify(bucketPairs(ngramBuckets(spark, dir)), threshold)

  /** [[nearDupNgram]] with the stop-key bucket cap ENGAGED — the
    * production form for corpora where a boilerplate shingle becomes
    * everyone's minimum (the LSH stopword): buckets larger than
    * `maxBucket` are excluded wholesale before pair generation, so
    * candidate count is hard-bounded by buckets × maxBucket² instead
    * of the largest bucket squared. Output ⊆ [[nearDupNgram]]'s by
    * construction (BucketCapSpec proves it; the q138 oracle mirrors
    * the cap exactly — bucket membership is md5-deterministic). */
  def nearDupNgramCapped(spark: SparkSession, dir: String,
                         threshold: Double = 0.5, maxBucket: Int = 3): DataFrame =
    jaccardVerify(bucketPairs(ngramBuckets(spark, dir), Some(maxBucket)), threshold)

  /** q219: EXACT-RECALL τ-Jaccard self-join via prefix filtering
    * (SSJoin/PPJoin, Chaudhuri 2006 / Xiao 2008) — the deterministic
    * counterpart of [[nearDupNgram]]'s min-md5 blocking. The min-md5
    * key is a 1-permutation MinHash: cheap, but it MISSES any
    * qualifying pair whose minimum shingles differ (probabilistic
    * recall ≈ J). Prefix filtering gives a recall GUARANTEE: order
    * the shingle universe globally by (document frequency asc,
    * shingle asc) — rarest first — and for a doc with n shingles keep
    * only its first p = n − ⌈τ·n⌉ + 1 shingles under that order. Two
    * sets with J ≥ τ share ≥ ⌈τ·max(na,nb)⌉ shingles, so they cannot
    * avoid colliding inside both prefixes — every qualifying pair is
    * generated (PrefixJoinSpec proves ⊇ [[nearDupNgram]] and
    * brute-force equality), while the rare-first ordering keeps
    * prefix buckets small: frequent (boilerplate) shingles are pushed
    * OUT of prefixes, the exact-recall analog of the q138 stop-bucket
    * cap.
    *
    * Cross-engine exactness: the prefix bound and the length filter
    * are INTEGER arithmetic — τ is carried as the rational num/den
    * (default 3/5), p = n − (num·n + den − 1) div den + 1 and the
    * length prefilter den·min(na,nb) ≥ num·max(na,nb) (J ≥ τ forces
    * it), so no engine's decimal-vs-double ceil can disagree; the
    * ordering key (df, shingle string) is exact on both engines; the
    * keep decision is the exact integer inter·den ≥ union·num (a
    * rounded keep would admit true J ∈ [τ−5e-5, τ) pairs the prefix
    * guarantee does not cover — ADVICE r17); the emitted jaccard is
    * the q25 rounded-at-4 convention, display-only.
    *
    * Scale: one shingle pass (the codegen'd [[shingleRows]] chain),
    * one df aggregation (vocab-sized, map-side partials), one per-doc
    * window on the doc_id shuffle the shingle chain already
    * established, then the candidate join shuffles PREFIX rows only
    * (a (1−τ) fraction of postings) on the shingle key — bucket
    * volume is Σ prefix-df², bounded because prefixes hold the rare
    * tail of the df distribution. Candidate dedup (a pair may share
    * several prefix shingles) happens BEFORE the two doc_id-keyed
    * set-fetch joins and the per-pair intersect verify. No stage is
    * all-pairs; every shuffle key is data-determined and salable. */
  def prefixJoinNearDup(spark: SparkSession, dir: String,
                        num: Int = 3, den: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(num > 0 && den > 0 && num <= den, "tau = num/den must be in (0,1]")
    val tau = num.toDouble / den
    // ONE shingle materialization feeds all four consumers (df
    // aggregation, prefix window, and both set fetches) — without the
    // checkpoint the regex shingle chain re-runs per consumer and
    // dominates runtime (the q182 shared-shingle lesson, re-measured
    // here: 8.1 s → ~3 s at sf0.1)
    val ds = shingleRows(spark, dir).distinct().localCheckpoint(false)
    val dfq = ds.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // n rides the SAME doc_id window partitioning the rank needs —
    // no separate size aggregation + join
    val ceilTauN = expr(s"($num * n + ${den - 1}) div $den")
    val pref = ds.join(dfq, "s")
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceilTauN + lit(1L))
      .select(col("doc_id"), col("s"), col("n"))
    val pa = pref.select(col("s"), col("doc_id").as("doc_a"), col("n").as("na"))
    val pb = pref.select(col("s"), col("doc_id").as("doc_b"), col("n").as("nb"))
    val cand = pa.join(pb, "s")
      .filter(col("doc_a") < col("doc_b") &&
        least(col("na"), col("nb")) * den >= greatest(col("na"), col("nb")) * num)
      .select(col("doc_a"), col("doc_b")).distinct()
    val sets = ds.groupBy(col("doc_id"))
      .agg(collect_set(xxhash64(col("s"))).as("sh"))
    val joined = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
    val inter = size(array_intersect(col("sha"), col("shb")))
    val union = size(col("sha")) + size(col("shb")) - inter
    joined
      // keep decision on the EXACT rational J >= num/den via integer
      // cross-multiplication — NOT on the rounded display value: a
      // pair with true J in [tau - 5e-5, tau) rounds up to tau but is
      // not guaranteed to collide inside both prefixes, so a rounded
      // keep would make the recall guarantee silently approximate at
      // the boundary (ADVICE r17). Integer compare ⇒ the guarantee is
      // exact for precisely the pairs this filter emits; the rounded
      // jaccard column is display-only.
      .filter(inter * lit(den.toLong) >= union * lit(num.toLong))
      .select(col("doc_a"), col("doc_b"),
        round(inter.cast("double") / union, 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q164: ASYMMETRIC containment near-dup — C(A,B) = |A∩B| /
    * min(|A|,|B|) over the word-3-gram shingle sets. Symmetric Jaccard
    * misses subset duplication (a short doc quoted wholesale inside a
    * long one scores J = |A|/|B| ≈ 0 but C = 1); containment is the
    * standard companion metric for exactly that case (Broder 1997's
    * resemblance/containment pair). Same one-shuffle candidate build
    * as q25 — [[ngramBuckets]] min-md5 blocking through
    * [[bucketPairs]] — so the candidate population is IDENTICAL to the
    * Jaccard family's and the two verdicts are comparable pair by
    * pair; the output carries both metrics for that reason. No
    * size-ratio prefilter: a containment hit is legal at ANY size
    * skew — pruning on min/max sizes is precisely the mistake this
    * metric exists to avoid. Both metrics rounded at 4 with the keep
    * decision on the rounded containment (q40 convention). Scale: the
    * blocking bound is q25's (buckets × member² within min-shingle
    * buckets, [[nearDupNgramCapped]]'s cap composes unchanged); the
    * verify adds one array_intersect already paid by the Jaccard
    * column. */
  def nearDupContainment(spark: SparkSession, dir: String,
                         threshold: Double = 0.8): DataFrame = {
    val sa = size(col("x.sh"))
    val sb = size(col("y.sh"))
    val inter = size(array_intersect(col("x.sh"), col("y.sh")))
    bucketPairs(ngramBuckets(spark, dir))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        round(inter.cast("double") / least(sa, sb), 4).as("containment"),
        pairJaccard.as("jaccard"))
      .filter(col("containment") >= threshold)
  }

  /** q165: cross-source duplication matrix — the verified near-dup
    * pairs of [[nearDupNgram]] rolled up by unordered source pair
    * (src_lo ≤ src_hi lexicographically), with pair counts and the
    * mean verified Jaccard per cell. This is the corpus-overlap audit
    * a curation team runs before mixing crawls (the cross-corpus
    * duplication tables of Lee 2022's dedup study): a hot off-diagonal
    * cell means two "independent" sources are substantially the same
    * data and their mixture weights double-count it.
    *
    * Scale shape: the expensive part IS q25 (one bucket shuffle);
    * everything after operates on the verified pair set (≪ corpus).
    * The two source lookups join the pair side to a column-pruned
    * (doc_id, source) projection — Spark broadcasts the small pair
    * side, so the corpus is never shuffled; the final rollup groups
    * tens of cells. avg is rounded at 4 on both engines (cross-engine
    * sum order differs in ulps). */
  def crossSourceDupMatrix(spark: SparkSession, dir: String,
                           threshold: Double = 0.5): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    nearDupNgram(spark, dir, threshold)
      .join(src.toDF("doc_a", "source_a"), "doc_a")
      .join(src.toDF("doc_b", "source_b"), "doc_b")
      .groupBy(
        least(col("source_a"), col("source_b")).as("src_lo"),
        greatest(col("source_a"), col("source_b")).as("src_hi"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"))
      .orderBy(col("src_lo"), col("src_hi"))
  }

  /** q166: boilerplate-gram commonness — for every document, the
    * fraction of its DISTINCT word-3-gram shingles that occur in at
    * least `minDf` documents. q80 measures intra-doc repetition; this
    * is its inter-doc complement, the "how much of this page is
    * corpus-wide boilerplate" signal (the RefinedWeb/Dolma line-level
    * boilerplate heuristic lifted to gram granularity) that feeds
    * quality gates before any pairwise dedup runs.
    *
    * Scale shape: one pass builds distinct (doc, gram) rows (the q25
    * shingle window chain, codegen'd), one gram-keyed aggregation
    * computes document frequency with map-side partials, and one
    * shuffle join brings df back to the (doc, gram) rows — the
    * standard two-shuffle inverted-index shape (q116), no driver
    * state, no all-pairs anywhere. The roster left join keeps every
    * document in the output (a doc whose grams are all unique scores
    * 0). Fraction of two exact longs, rounded at 4. */
  def boilerplateGrams(spark: SparkSession, dir: String,
                       minDf: Long = 2L): DataFrame = {
    val docGrams = shingleRows(spark, dir)
      .select(col("doc_id"), col("s")).distinct()
    val gramDf = docGrams.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
    val perDoc = docGrams.join(gramDf, "s")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L)), 4).as("common_frac"))
      .orderBy(col("doc_id"))
  }

  /** q182: IDF-WEIGHTED containment near-dup — q164's containment with
    * every shingle weighted by its smoothed IDF (`ln((N+1)/(df+1))+1`,
    * the q59 tf-idf convention): wC = Σ_{A∩B} idf / min(Σ_A, Σ_B).
    * Unweighted set metrics let ubiquitous boilerplate grams carry the
    * score; IDF weighting makes a hit mean shared RARE content — the
    * difference between "both pages have a nav bar" and "both pages
    * contain the same article".
    *
    * Cross-engine exactness: the blocking and pair population are
    * q25's (min-md5 shingle); each gram's idf is ONE mirrored ln,
    * immediately rounded to a 1e-6 FIXED-POINT LONG (the q210/q232
    * floor-form convention) — so every per-pair weighted sum is an
    * exact integer sum, order-independent by construction, and no
    * float fold order needs pinning at all (this replaced the
    * md5-key-ordered collect_list+array_sort float folds, which cost
    * ~3.5 s of interpreted per-pair HOF work at bench sf). The score
    * is one integer-ratio division rounded at 4; the keep decision
    * sits on the rounded value over exact-integer inputs.
    *
    * Scale: candidates from the one-shuffle blocked build (pairs ≪
    * corpus); the verify explodes each pair to its gram union and
    * joins the vocabulary-sized idf dim on the gram key, then ONE
    * codegen'd hash aggregation per pair — pair-bounded work, the
    * q116 inverted-index join shape, no all-pairs anywhere. */
  def nearDupWeighted(spark: SparkSession, dir: String,
                      threshold: Double = 0.6): DataFrame = {
    // dg feeds BOTH the idf dim and the blocked pair build; a lazy
    // localCheckpoint materializes the shingle pass once instead of
    // twice (measured 5.2 s → the q25-family ~1.2 s per pass — the
    // whole regex+window shingle chain was the duplicated cost). The
    // cached rows are (doc_id, xxhash64, md5) triples — the explicit
    // cache-vs-recompute tradeoff a 100 TB run tunes; recompute is
    // one conf flip away (drop the checkpoint).
    // Gram identity rides a 64-bit xxhash64 everywhere EXCEPT the
    // blocking key (r21): the md5 STRING survives only as min(m) — the
    // oracle-mirrored min-md5 block key, which must stay a string min
    // — while the per-doc sets, the idf dim key, and the per-pair
    // union explode all carry longs. 32-char strings were ~4x the
    // bytes through the checkpoint, the bucket exchange, and the
    // pair-verify explode (19.5 MB shuffled at sf0.1), and string
    // equality dominated the array_contains verify. df per hash ==
    // df per gram up to the same ~2^-64 xxhash collision the whole
    // verify family accepts (q25's argument), so every idf_fp sum is
    // unchanged and the output is hash-identical.
    val dg = shingleRows(spark, dir)
      .select(col("doc_id"), xxhash64(col("s")).as("h"), md5(col("s")).as("m"))
      .distinct()
      .localCheckpoint(false)
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val idf = dg.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("h"),
        floor((log((col("n_docs") + 1L).cast("double") / (col("df") + 1L)) + 1.0d)
          * 1e6 + 0.5d).cast("long").as("idf_fp"))
    val keyed = dg.groupBy(col("doc_id"))
      .agg(min(col("m")).as("minsh"), collect_set(col("h")).as("sh"))
      .groupBy(col("minsh"))
      .agg(collect_list(struct(col("doc_id"), col("sh"))).as("members"))
    val exploded = bucketPairs(keyed)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        explode(array_union(col("x.sh"), col("y.sh"))).as("h"),
        col("x.sh").as("sha"), col("y.sh").as("shb"))
      .select(col("doc_a"), col("doc_b"), col("h"),
        array_contains(col("sha"), col("h")).as("in_a"),
        array_contains(col("shb"), col("h")).as("in_b"))
      .join(idf, Seq("h"))
    exploded.groupBy(col("doc_a"), col("doc_b"))
      .agg(
        sum(when(col("in_a") && col("in_b"), col("idf_fp")).otherwise(0L)).as("wi"),
        sum(when(col("in_a"), col("idf_fp")).otherwise(0L)).as("wa"),
        sum(when(col("in_b"), col("idf_fp")).otherwise(0L)).as("wb"))
      .select(col("doc_a"), col("doc_b"),
        TextOps.roundAt(col("wi").cast("double") /
          least(col("wa"), col("wb")).cast("double"), 4).as("w_containment"))
      .filter(col("w_containment") >= threshold)
  }

  /** q171: per-node triangle counts on the verified near-dup graph —
    * the clustering-coefficient building block that distinguishes a
    * transitively-closed duplicate clique (template spam: every pair
    * verifies) from a hub-and-spoke chain (incremental edits of one
    * ancestor: pairs verify against the hub but not each other).
    * Connected components (q61) can't tell those apart; triangles
    * can, and the distinction decides whether keep-one-per-cluster
    * (clique) or keep-the-chain-ends (drift) is the right
    * survivorship policy.
    *
    * Algorithm: DEGREE-ORDERED two-path join (Suri & Vassilvitskii's
    * MR-triangle result, the Schank node-iterator order): each
    * undirected edge is oriented toward its higher-(degree, id)
    * endpoint — a total order, so the orientation is acyclic and a
    * triangle x≺y≺z appears as EXACTLY the wedge (x→y, y→z) closed
    * by the semi join against (x→z); each triangle then credits its
    * three corners via one explode + aggregation. The edge list is
    * lazily checkpointed so the degree pass and the three join legs
    * share ONE near-dup computation instead of re-running q25 per
    * leg.
    *
    * Scale: edges are the post-blocking VERIFIED pair set (≪ corpus),
    * and the orientation is what survives a boilerplate hub: a node's
    * OUT-degree is bounded by √(2m) (its out-neighbors all have ≥ its
    * degree, so a d-out node implies ≥ d²/2 edges), which cuts the
    * wedge join from the naive Σ deg(hub)² to O(m^1.5) — a 10⁴-degree
    * hub generates ZERO path wedges (all its edges point in), where
    * the id-ordered naive form generates ~deg²/4 (TriangleSpec pins
    * both numbers on a synthetic star). Cost of the ordering: one
    * node-degree aggregation + two edge⋈degree joins — edge-sized,
    * never corpus-sized. */
  def triangleCounts(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame =
    triangleCorners(
      nearDupNgram(spark, dir, threshold).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))

  /** q212: dedup ROI report — the cluster-size histogram of the
    * near-dup clustering with the BYTES it saves: per cluster size s,
    * how many clusters, how many docs, their total characters, and
    * the characters REMOVED under keep-the-minimum survivorship
    * (total minus the keeper's — the cluster label IS the minimum
    * member, so the keeper is the doc whose id equals its label).
    * This is the report that justifies (or kills) a dedup pass before
    * it runs at 100 TB: saved_frac × corpus bytes is the training-
    * token refund, and the size histogram says whether it comes from
    * a few giant boilerplate clusters (cheap to handle with a
    * blocklist) or a long tail of pairs (needs the full pipeline).
    *
    * Exactness: sizes/chars are exact longs; saved_frac is one
    * guarded division under roundAt. Scale: rides q61's clustering
    * (bounded candidate build + CC); everything after is
    * cluster-sized rollups. */
  def dedupRoi(spark: SparkSession, dir: String,
               threshold: Double = 0.5): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val per = dedupClusters(spark, dir, threshold)
      .join(d, "doc_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("sz"),
        sum(col("n_chars")).as("chars"),
        max(when(col("doc_id") === col("cluster"), col("n_chars"))).as("kept"))
    per.groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("chars")).as("total_chars"),
        sum(col("chars") - col("kept")).as("saved_chars"))
      .select(col("sz").as("cluster_size"), col("n_clusters"), col("n_docs"),
        col("total_chars"), col("saved_chars"),
        TextOps.roundAt(col("saved_chars").cast("double") /
          col("total_chars").cast("double"), 6).as("saved_frac"))
      .orderBy(col("cluster_size"))
  }

  /** q214: source-mix entropy per near-dup cluster — for each q61
    * cluster, the Shannon entropy of its members' SOURCE distribution
    * (mirrored-ln, source-ordered fold — the q172 convention) plus a
    * cross-source flag. The q165 drill-down: q165 says which source
    * PAIRS share near-dups in aggregate; this says whether each
    * individual cluster is one source duplicating itself (entropy 0 —
    * a scraper re-crawling its own pages; fix the scraper) or content
    * syndicated across sources (high entropy — needs the cross-source
    * dedup pass q208's centroid matrix decides on).
    *
    * Exactness: counts exact longs, one ln per (cluster, source), the
    * fold in source order, roundAt normalizing the all-one-source
    * −0.0 case on both engines. Scale: rides q61; rollups are
    * cluster-sized, the per-cluster term list is bounded by the
    * source dimension. */
  def clusterSourceEntropy(spark: SparkSession, dir: String,
                           threshold: Double = 0.5): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val cs = dedupClusters(spark, dir, threshold)
      .join(src, "doc_id")
      .groupBy(col("cluster"), col("source")).agg(count(lit(1)).as("c"))
    cs.groupBy(col("cluster"))
      .agg(sum(col("c")).as("sz"), count(lit(1)).as("n_sources"),
        array_sort(collect_list(struct(col("source"), col("c")))).as("terms"))
      .select(col("cluster"), col("sz"), col("n_sources"),
        TextOps.roundAt(
          aggregate(col("terms"), lit(0.0d), (acc, t) => {
            val p = t.getField("c").cast("double") / col("sz")
            acc - p * log(p)
          }), 6).as("src_entropy"),
        (col("n_sources") > 1L).as("is_cross_source"))
      .orderBy(col("cluster"))
  }

  /** q203: near-dup METHOD agreement matrix — pairwise Jaccard
    * between the verified pair SETS of the three text detectors
    * (q25 shingle-Jaccard with min-md5 blocking, q26 MinHash-LSH
    * banding, q27 SimHash Hamming ≤ 3): |A∩B| / |A∪B| per method
    * pair, with the raw set sizes. The detector-selection audit run
    * before trusting any single method at scale: q25 and q26 verify
    * the SAME metric through different blocking (disagreement = pairs
    * one blocking scheme missed — pure recall difference), while q27
    * measures a different similarity entirely (disagreement = metric
    * divergence, bit-flip distance vs set overlap). Low agreement on
    * a new corpus means the cheap method is NOT a safe stand-in for
    * the expensive one there.
    *
    * Exactness: pair sets are canonical (doc_a < doc_b) rows, sizes
    * and intersections exact longs, agreement one guarded division
    * under roundAt.
    *
    * Scale: each detector's pair build is its own bounded candidate
    * pipeline (never all-pairs); the union is pair-sized and lazily
    * checkpointed so the counts pass and the intersection self-join
    * share one materialization. The intersection joins pair-keyed
    * (doc_a, doc_b) rows — pair-sized shuffle. At 100 TB the pair
    * sets would be persisted once and this matrix read from them;
    * recomputing here keeps the query self-contained. */
  def methodAgreement(spark: SparkSession, dir: String): DataFrame = {
    val all = nearDupNgram(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit("ngram").as("method"))
      .unionByName(nearDupMinHashMd5(spark, dir)
        .select(col("doc_a"), col("doc_b"), lit("minhash").as("method")))
      .unionByName(nearDupSimHash(spark, dir)
        .select(col("doc_a"), col("doc_b"), lit("simhash").as("method")))
      .localCheckpoint(false)
    val counts = all.groupBy(col("method")).agg(count(lit(1)).as("n"))
    val prs = counts.select(col("method").as("method_a"), col("n").as("n_a"))
      .crossJoin(counts.select(col("method").as("method_b"), col("n").as("n_b")))
      .filter(col("method_a") < col("method_b"))
    val ib = all.select(col("doc_a"), col("doc_b"), col("method").as("method_a"))
      .join(all.select(col("doc_a"), col("doc_b"), col("method").as("method_b")),
        Seq("doc_a", "doc_b"))
      .filter(col("method_a") < col("method_b"))
      .groupBy(col("method_a"), col("method_b")).agg(count(lit(1)).as("n_both"))
    val nBoth = coalesce(col("n_both"), lit(0L))
    val denom = col("n_a") + col("n_b") - nBoth
    prs.join(ib, Seq("method_a", "method_b"), "left")
      .select(col("method_a"), col("method_b"), col("n_a"), col("n_b"),
        nBoth.as("n_both"),
        TextOps.roundAt(
          when(denom === 0L, lit(0.0))
            .otherwise(nBoth.cast("double") / denom.cast("double")), 6)
          .as("agreement"))
      .orderBy(col("method_a"), col("method_b"))
  }

  /** q198: per-node local clustering coefficient on the near-dup
    * graph — C(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the [0,1] measure of
    * how clique-like each node's neighborhood is. [[triangleCounts]]
    * gives the raw triangle credits; normalizing by the wedge count
    * makes nodes COMPARABLE across degrees, which is what the
    * survivorship policy actually needs: a template hub touching 50
    * docs that don't match each other scores ~0 (keep the chain —
    * they're drift, not copies) while a 5-doc mutual-copy clique
    * scores 1.0 at a fraction of the triangle count (collapse to one
    * survivor). Degree-1 nodes have no wedge to close and score 0.
    *
    * Exactness: T and deg are exact longs, the coefficient is ONE
    * division of exact-long casts (bit-identical cross-engine) under
    * the boundary-safe roundAt.
    *
    * Scale: the near-dup pair build is shared across the degree pass
    * and all three triangle legs via one lazy checkpoint; everything
    * downstream is edge-sized (degree aggregation, the O(m^1.5)
    * degree-ordered wedge join, one left join of two node-sized
    * aggregates). */
  def clusteringCoefficients(spark: SparkSession, dir: String,
                             threshold: Double = 0.5): DataFrame = {
    val pairs = nearDupNgram(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(false)
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val tri = triangleCorners(pairs)
    deg.join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          TextOps.roundAt(
            (lit(2L) * coalesce(col("n_triangles"), lit(0L))).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("clust_coef"))
      .orderBy(col("doc_id"))
  }

  /** q238: semantic-vs-lexical dedup agreement — the q203 detector-
    * audit extended across REPRESENTATIONS: q162's SemDeDup groups
    * (embedding space) against q25's shingle-Jaccard pairs (lexical),
    * as pair-set counts and overlap. The number a curation team reads
    * before deciding whether semantic dedup is worth its embedding
    * cost ON THIS CORPUS: `sem_only` counts paraphrase-type dups
    * lexical blocking can never see (the whole case for SemDeDup),
    * `lex_only` counts near-verbatim pairs the embedding threshold
    * missed, and high agreement says the cheap lexical pass already
    * covers the corpus. Universes differ (embeddings cover a doc
    * subset), so lexical pairs are restricted to embedded endpoints —
    * stated in the output by carrying the restricted count.
    *
    * Exactness: pair sets are canonical (a < b) rows from the two
    * oracle-gated builds; counts exact longs; agreement one guarded
    * division under roundAt.
    *
    * Scale: each side's pair build is its own bounded pipeline; the
    * intersection joins pair-keyed rows (pair-sized); the id
    * restriction is two broadcast-able semi joins on the embedding
    * roster. */
  def semLexAgreement(spark: SparkSession, dir: String): DataFrame = {
    val sem = SimilarityOps.semDedup(spark, dir)
      .select(col("vec_id"), col("grp"))
    val semPairs = sem.groupBy(col("grp"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("doc_a"), col("ms"))
      .select(col("doc_a"),
        explode(filter(col("ms"), x => x > col("doc_a"))).as("doc_b"))
      .localCheckpoint(false)
    val ids = Tables.embeddings(spark, dir).select(col("vec_id"))
    val lexPairs = nearDupNgram(spark, dir)
      .select(col("doc_a"), col("doc_b"))
      .join(ids.select(col("vec_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select(col("vec_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .localCheckpoint(false)
    val both = semPairs.join(lexPairs, Seq("doc_a", "doc_b"), "left_semi")
    val nS = semPairs.agg(count(lit(1)).as("n_semantic"))
    val nL = lexPairs.agg(count(lit(1)).as("n_lexical"))
    val nB = both.agg(count(lit(1)).as("n_both"))
    nS.crossJoin(nL).crossJoin(nB)
      .select(col("n_semantic"), col("n_lexical"), col("n_both"),
        (col("n_semantic") - col("n_both")).as("sem_only"),
        (col("n_lexical") - col("n_both")).as("lex_only"),
        TextOps.roundAt(
          when(col("n_semantic") + col("n_lexical") - col("n_both") === 0L, lit(0.0d))
            .otherwise(col("n_both").cast("double") /
              (col("n_semantic") + col("n_lexical") - col("n_both")).cast("double")),
          6).as("agreement"))
  }

  /** q232: near-dup THRESHOLD sensitivity sweep — verified pair count
    * and mean Jaccard at τ ∈ {0.005, 0.01, 0.1, 0.5} from ONE
    * candidate build. The knob-tuning readout run before committing a
    * dedup threshold: a pair count that cliffs between two τ values
    * locates the corpus's similarity bands (here the default grid
    * brackets BOTH modes of the bimodal candidate population — the
    * ~0.01 blocking false-positive mass and the ~0.97 template band —
    * so the cliff between 0.01 and 0.1 is the measured gap between
    * them), while a flat curve says the choice is insensitive — and
    * reading it from one build means the sweep costs one bucket
    * shuffle, not four. Population = the q25 min-md5 blocked
    * candidates (stated: the sweep measures sensitivity WITHIN the
    * blocked population; q219 is the exact-recall complement).
    *
    * Exactness: the per-pair rounded-at-4 Jaccard is recovered as an
    * EXACT 1e4-scaled long (floor(j·10⁴+0.5) — the rounded double is
    * within 2⁻⁴⁴ of k/10⁴, so the floor is exact k), so mean_jaccard
    * is an integer sum under one final division — order-independent,
    * no double aggregation.
    *
    * Scale: candidate generation is q25's; the τ dimension is a
    * 4-row broadcast literal; the rollup is τ-sized. */
  def thresholdSweep(spark: SparkSession, dir: String,
                     taus: Seq[Double] = Seq(0.005, 0.01, 0.1, 0.5)): DataFrame = {
    import spark.implicits._
    val pairs = bucketPairs(ngramBuckets(spark, dir))
      .select(pairJaccard.as("jaccard"))
      .localCheckpoint(false)
    val tauDf = taus.map(t => Tuple1(t)).toDF("tau")
    pairs.crossJoin(broadcast(tauDf))
      .filter(col("jaccard") >= col("tau"))
      .select(col("tau"),
        floor(col("jaccard") * 1e4 + lit(0.5)).cast("long").as("j4"))
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j4")).as("sj"))
      .select(col("tau"), col("n_pairs"),
        TextOps.roundAt(col("sj").cast("double") /
          (col("n_pairs").cast("double") * 1e4), 6).as("mean_jaccard"))
      .orderBy(col("tau"))
  }

  /** q228: corpus-prefix novelty curve — for every doc (in doc_id =
    * arrival order), the fraction of its distinct shingles whose
    * FIRST occurrence is in an EARLIER doc. The training-order
    * diagnostic between q90 (curriculum ordering) and q212 (dedup
    * ROI): a corpus whose late docs are mostly already-seen shingles
    * is re-teaching the model old text — the per-doc number says
    * WHERE in the stream redundancy sets in, which a corpus-global
    * dup rate can't.
    *
    * Computation is two exact integer passes, NOT a quadratic
    * prefix-join: the first-occurrence owner of a shingle is
    * min(doc_id) over its postings (one shingle-keyed aggregation);
    * a doc's seen-before count is then just its shingles whose owner
    * < doc_id (one join back, one doc-keyed rollup). Novelty =
    * 1 − seen/n rounded at 4.
    *
    * Scale: the same two-shuffle inverted-index shape as q166 —
    * shingle pass, min-owner aggregation with map-side partials,
    * posting-keyed join back, doc rollup. No stage holds more than a
    * posting list; the "prefix" is implicit in the min, never
    * materialized. */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val ds = shingleRows(spark, dir).distinct().localCheckpoint(false)
    val owner = ds.groupBy(col("s")).agg(min(col("doc_id")).as("owner"))
    val perDoc = ds.join(owner, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
    perDoc
      .select(col("doc_id"), col("n_shingles"), col("n_seen"),
        TextOps.roundAt(lit(1.0d) -
          col("n_seen").cast("double") / col("n_shingles").cast("double"), 4)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** q220: k-core CORENESS of every node in the near-dup graph — the
    * density measure that separates a spam/template cluster (high
    * core: many mutually-near-dup docs) from incidental pairwise hits
    * (coreness 1 chains). Production dedup uses it to pick which
    * clusters get aggressive survivorship: a 2-core already means
    * every member has ≥2 near-dup neighbors INSIDE the core.
    *
    * Algorithm: h-index iteration (Lü et al. 2016, "The H-index of a
    * network node") — init c⁰(v) = degree, then c^{t+1}(v) = h-index
    * of its neighbors' c^t; the sequence is non-increasing and
    * converges to coreness. Chosen over direct peeling because each
    * round is ONE edge join + ONE aggregation with NO driver-side
    * per-k loop, and — decisive for the oracle — a FIXED round count
    * is deterministic on both engines even before convergence, so the
    * cross-engine hash gate never depends on a convergence test.
    * `rounds` = 6 default; convergence needs ≤ the longest strictly-
    * decreasing value chain (tiny on near-dup graphs — CorenessSpec
    * pins rounds vs rounds+1 equality on real data, so 6 IS the
    * fixpoint here, plus brute-force-peel equality on synthetics).
    *
    * Exactness: pure integer arithmetic — degrees, sorted neighbor
    * lists, h = Σ[la[i] ≥ m−i] over the asc-sorted list — identical
    * on both engines by construction.
    *
    * Scale: edges come from the blocked near-dup pass (≪ corpus);
    * each round shuffles the edge list once on the neighbor key and
    * once on the node key — the CC/PageRank cost shape. Neighbor
    * lists are degree-bounded; a hub's list is its degree, the same
    * bound every per-node aggregation in this family carries.
    * Lineage is cut per round (localCheckpoint) so the loop cannot
    * stack an unbounded plan. */
  def corenessDupGraph(spark: SparkSession, dir: String,
                       threshold: Double = 0.5, rounds: Int = 6): DataFrame = {
    val pairs = nearDupNgram(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(false)
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint(false)
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("c"))
    var c = deg
    for (_ <- 1 to rounds) {
      val nbr = edges.join(c.select(col("u").as("v"), col("c")), "v")
        .groupBy(col("u"))
        .agg(sort_array(collect_list(col("c"))).as("la"))
      val m = size(col("la"))
      c = nbr.select(col("u"),
        aggregate(
          transform(col("la"), (x, i) => when(x >= m - i, lit(1L)).otherwise(lit(0L))),
          lit(0L), (a, x) => a + x).as("c"))
        .localCheckpoint(false)
    }
    deg.select(col("u"), col("c").as("degree"))
      .join(c.select(col("u"), col("c").as("coreness")), "u")
      .select(col("u").as("doc_id"), col("degree"), col("coreness"))
      .orderBy(col("doc_id"))
  }

  /** q247: degree assortativity of the dup graph (Newman 2002) — the
    * Pearson correlation of endpoint degrees over the edge list, the
    * one-number answer to "is duplication hub-and-spoke or
    * peer-to-peer?" that the rest of the graph family reads out
    * piecewise (q119 finds the hubs, q198/q171 the cliquishness, q220
    * the core depth): r > 0 means templates duplicate OTHER templates
    * (a dense boilerplate core — dedup one cluster and the rest
    * remains), r < 0 means hubs surrounded by one-off leaves (kill the
    * hub doc and its whole star collapses — the cheap-win topology).
    *
    * Exactness: on the SYMMETRIZED edge list (each undirected edge
    * contributes both orientations — the standard convention, making
    * the two endpoint marginals identical), all five sufficient
    * statistics (n, Σdu, Σdu², Σdu·dv and the shared marginal) are
    * EXACT LONGS — the q231 integer-sufficient-statistics trick on a
    * graph — and r is one guarded final expression under roundAt
    * (degree-regular graphs have zero variance → r reads 0).
    *
    * Scale: edges come from the blocked near-dup pass (≪ corpus);
    * degrees are one edge-keyed aggregation, the two attaches are
    * broadcast-or-shuffle joins on the node key, and the rollup is a
    * 1-row reduce with map-side partials. Long headroom: Σdu·dv ≤
    * 2m·dmax² — overflow needs dmax ~ 2M at a billion edges, far past
    * any blocked near-dup graph. */
  def dupGraphAssortativity(spark: SparkSession, dir: String,
                            threshold: Double = 0.5): DataFrame =
    assortativityOf(nearDupNgram(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(false))

  /** [[dupGraphAssortativity]] over any undirected (doc_a, doc_b) pair
    * frame — split out so specs can drive graphs with known r. */
  private[graft] def assortativityOf(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val dd = edges
      .join(deg.select(col("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dv")), Seq("v"))
    val g = dd.agg(
      count(lit(1)).as("n"),
      countDistinct(col("u")).as("n_nodes"),
      sum(col("du")).as("sx"),
      sum(col("du") * col("du")).as("sxx"),
      sum(col("du") * col("dv")).as("sxy"))
    // symmetric list ⇒ both marginals are (n, sx, sxx); r collapses to
    // (n·sxy − sx²) / (n·sxx − sx²)
    val den = g("n") * g("sxx") - g("sx") * g("sx")
    val r = when(den === 0L, lit(0.0d))
      .otherwise((g("n") * g("sxy") - g("sx") * g("sx")).cast("double") /
        den.cast("double"))
    g.select((g("n") / 2L).cast("bigint").as("n_edges"), g("n_nodes"),
      TextOps.roundAt(r, 6).as("assortativity"))
  }

  /** Orient each undirected a<b edge u→v toward its higher-(degree,
    * id) endpoint. The (degree, id) pair is a TOTAL order over nodes,
    * so the oriented graph is acyclic and every node's out-degree is
    * ≤ √(2m) — the bound the triangle wedge join rides on. */
  private[graft] def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = edges
      .select(explode(array(col("doc_a"), col("doc_b"))).as("nd"))
      .groupBy(col("nd")).agg(count(lit(1)).as("dg"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    edges
      .join(deg.select(col("nd").as("doc_a"), col("dg").as("da")), Seq("doc_a"))
      .join(deg.select(col("nd").as("doc_b"), col("dg").as("db")), Seq("doc_b"))
      .select(
        when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("u"),
        when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("v"))
  }

  /** Per-corner triangle credits of an undirected a<b edge set, via
    * the degree-ordered wedge join (see [[triangleCounts]]). */
  private[graft] def triangleCorners(edges: DataFrame): DataFrame = {
    val o = orientByDegree(edges.localCheckpoint(false)).localCheckpoint(false)
    val wedges = o.toDF("a", "b").join(o.toDF("b", "c"), "b")
    val tris = wedges.join(o.toDF("a", "c"), Seq("a", "c"), "left_semi")
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Duplicate clusters: connected components over the near-dup pair
    * graph, labeled by the minimum doc_id in each component — the step
    * that turns pairwise near-dup hits into keep/drop decisions (keep
    * one doc per cluster).
    *
    * Algorithm: iterative min-label propagation. Each node starts as
    * its own label; every round each node takes the min of its label
    * and its neighbors' labels; stop when a round changes nothing.
    * Rounds = graph diameter (near-dup components are tiny chains, so
    * 2-4 rounds in practice). Each round is one join + one aggregation
    * on the edge list — all distributed, nothing driver-side except
    * the convergence counter. Lineage is cut with localCheckpoint so
    * the loop cannot build an unbounded plan. At 100 TB the same loop
    * holds (edges ≪ corpus after blocking); the classic
    * [[connectedComponentsStar]] variant is the swap-in upgrade if
    * components ever get deep. */
  def dedupClusters(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    connectedComponents(
      nearDupNgram(spark, dir, threshold).select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("cluster"))

  /** [[dedupClusters]] with [[connectedComponentsStar]] as the merge:
    * identical output (both label by component min — the q97 oracle is
    * q61's SQL verbatim), different depth budget. The pair graph is
    * the same, so at 100 TB choosing between them is purely a
    * component-shape question: min-label when near-dup components are
    * the usual shallow chains, star when a boilerplate-heavy corpus
    * produces deep ones. */
  def dedupClustersStar(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    connectedComponentsStar(
      nearDupNgram(spark, dir, threshold).select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("cluster"))

  /** Survivorship policy over the dedup clusters: per cluster keep the
    * BEST-quality member (tie → lowest doc_id), not the minimum id —
    * the policy a production pipeline actually wants from its dedup
    * pass ([[dedupClusters]] names clusters; this decides who lives).
    *
    * The selection key is an exact packed integer — quality in
    * micro-units (the shared score is rounded to 6 decimals, so
    * `round(quality·10⁶)` is lossless) times 10⁹ minus doc_id — so
    * `max_by` needs no struct comparator and the DuckDB oracle's
    * scalar `arg_max` computes the identical winner with no float
    * comparison at the boundary. Documented bound: doc_id < 10⁹
    * (packing headroom — widen the multiplier for larger id spaces).
    * One aggregation on cluster — partial max_by merges
    * associatively, no window, no per-cluster sort. */
  def clusterSurvivors(spark: SparkSession, dir: String,
                       threshold: Double = 0.5): DataFrame = {
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.qualityCol.as("quality"))
    val skey = round(col("quality") * 1e6).cast("long") * 1000000000L - col("doc_id")
    dedupClusters(spark, dir, threshold)
      .join(quality, "doc_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), skey).as("survivor_id"),
        max(col("quality")).as("survivor_quality"))
  }

  /** Contrastive training-pair mining: positives are the VERIFIED
    * near-dup pairs ([[nearDupNgram]] — real paraphrase-grade
    * overlap), negatives are deterministic hash-bucketed random
    * pairings with any accidental positive removed — the labeled
    * pair set a contrastive embedding model trains on.
    *
    * Negative sampling is the scale-relevant part: pairing "random"
    * docs via a GLOBAL ordering would funnel the corpus through one
    * window partition. Instead docs bucket by an md5 prefix (256
    * buckets), order by the full md5 WITHIN the bucket (unique → a
    * total order), and odd rows pair with their lead — distributed,
    * collision-free by construction (a doc appears in at most one
    * negative pair), reproducible across engines and reruns, and the
    * anti join evicts the rare random pair that happens to be a true
    * near-dup (a mislabeled positive poisons the loss). */
  def contrastivePairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = nearDupNgram(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b"))
    val mk = md5(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("bkt")).orderBy(col("mk"))
    val neg = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(mk, 1, 2).as("bkt"), mk.as("mk"))
      .withColumn("rn", row_number().over(w))
      .withColumn("partner", lead(col("doc_id"), 1).over(w))
      .filter(pmod(col("rn"), lit(2)) === 1 && col("partner").isNotNull)
      .select(least(col("doc_id"), col("partner")).as("doc_a"),
        greatest(col("doc_id"), col("partner")).as("doc_b"))
      .join(pos, Seq("doc_a", "doc_b"), "left_anti")
    pos.withColumn("label", lit(1))
      .unionByName(neg.withColumn("label", lit(0)))
  }

  /** Hard-negative mining: candidate pairs that shared a blocking
    * bucket but FAILED exact-Jaccard verification — documents similar
    * enough to collide in the LSH index yet verifiably below the
    * near-dup threshold. These "near misses" are the negatives that
    * actually teach a contrastive model its decision boundary
    * ([[contrastivePairs]]' random negatives are trivially far apart;
    * hard negatives are why candidate-generation blocking exists at
    * training time, not just dedup time).
    *
    * Same candidate machinery as [[nearDupNgram]] — the blocking key
    * is min-md5 so the oracle re-derives the exact candidate set —
    * with the verify filter INVERTED (and the size-ratio prefilter
    * necessarily skipped: it only proves a pair CANNOT pass, which is
    * exactly the population this keeps). Zero-overlap collisions are
    * excluded (jaccard > 0): a bucket collision with nothing shared
    * teaches nothing. */
  def hardNegatives(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame =
    bucketPairs(ngramBuckets(spark, dir))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        pairJaccard.as("jaccard"))
      .filter(col("jaccard") > 0 && col("jaccard") < threshold)

  /** [[hardNegatives]] with the per-document bound a 100 TB run
    * needs: keep only the top-`m` HARDEST negatives per anchor doc
    * (highest sub-threshold Jaccard, ties to the smaller partner id —
    * a total order, since the rounded Jaccard is the value both
    * engines emit). The uncapped form's output grows with the
    * near-miss population — at scale that dwarfs the dup population —
    * while standard contrastive practice trains on a few hardest
    * negatives per anchor; this is that shape. The window partitions
    * by doc_a (bounded state: one bucket's candidates per anchor),
    * never a global sort. */
  def hardNegativesCapped(spark: SparkSession, dir: String,
                          threshold: Double = 0.5, m: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_a"))
      .orderBy(col("jaccard").desc, col("doc_b"))
    hardNegatives(spark, dir, threshold)
      .withColumn("neg_rank", row_number().over(w).cast("bigint"))
      .filter(col("neg_rank") <= m)
  }

  /** PageRank over the near-dup pair graph (Brin & Page 1998,
    * unnormalized per-node form r' = (1−d) + d·Σ r(u)/deg(u)), a
    * fixed number of power iterations — ranking the "duplication
    * hubs": documents whose boilerplate is shared with many other
    * documents score high, the long tail of one-off pairs stays near
    * (1−d). The graph is [[nearDupNgram]]'s verified pair list,
    * symmetrized; every node has deg ≥ 1 by construction, so there is
    * no dangling-mass term.
    *
    * Scale shape — the same contract as the CC family: each round is
    * ONE edge-sized join + ONE aggregation keyed on the destination,
    * with an eager localCheckpoint cutting lineage so `iters` rounds
    * cannot stack into one unbounded plan. The degree-annotated
    * adjacency is checkpointed ONCE and reused every round (it never
    * changes — re-deriving it would re-run candidate generation per
    * round). A fixed iteration count, not a convergence test: rank
    * deltas are floats, and a cross-engine oracle needs both sides to
    * run EXACTLY the same number of rounds. At 100 TB the per-round
    * shuffle is edges × (8-byte rank) — bucketing the adjacency on
    * src removes even that (the ranks side is the only mover). */
  def pageRankDupGraph(spark: SparkSession, dir: String, iters: Int = 5,
                       damping: Double = 0.85,
                       threshold: Double = 0.5): DataFrame = {
    val pairs = nearDupNgram(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adj = edges.join(deg, "src").localCheckpoint()
    var ranks = deg.select(col("src").as("id"), lit(1.0).as("pr"))
    for (_ <- 1 to iters) {
      ranks = adj.join(ranks, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg((lit(1.0 - damping) +
          lit(damping) * sum(col("pr") / col("deg"))).as("pr"))
        .select(col("dst").as("id"), col("pr"))
        .localCheckpoint()
    }
    // TextOps.roundAt, not library round(): the rank is an arbitrary
    // double and Spark/DuckDB round() diverge an ulp from the .5
    // boundary — the floor-form is bit-identical across engines
    ranks.select(col("id").as("doc_id"), TextOps.roundAt(col("pr"), 6).as("pr"))
  }

  /** Connected components over an undirected pair list (`doc_a`,
    * `doc_b` long columns): returns (id, cluster) where cluster is the
    * minimum member id of the component. Iterative min-label
    * propagation with localCheckpoint lineage cuts.
    *
    * Convergence detection is FUSED into the round's materialization:
    * the per-round plan carries both the old and new label, and a
    * narrow count-changed map feeds a LongAccumulator while the eager
    * localCheckpoint materializes the round — one job per round, no
    * separate convergence action. The accumulator read is retry-safe
    * for this use: task retries can only OVER-count changes (labels
    * only decrease, so a genuinely stationary round adds 0 on every
    * attempt), hence `changed == 0 ⇒ converged` holds under
    * at-least-once accumulator semantics; a spurious positive merely
    * runs one more (stationary) round.
    *
    * Rounds = component diameter (near-dup components are tiny chains,
    * so 2–4 rounds in practice). If the cap is hit without
    * convergence the method THROWS rather than returning a silently
    * under-merged labeling — wrong clusters with no error is the
    * failure mode an oracle on real data can never catch. Deep
    * components at 100 TB are what [[connectedComponentsStar]] is for
    * — same contract, O(log² n) rounds — not a reason to raise the
    * cap. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val p = pairs.localCheckpoint()
    val edges = p.union(
      p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = edges.select(col("doc_a").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var done = false
    var rounds = 0
    while (!done && rounds < maxRounds) {
      val changed = spark.sparkContext.longAccumulator(s"ccChanged_r$rounds")
      val nbMin = edges.join(labels, edges("doc_b") === labels("id"))
        .groupBy(col("doc_a")).agg(min(col("label")).as("nb_label"))
      val joined = labels.join(nbMin, labels("id") === nbMin("doc_a"), "left")
        .select(labels("id").as("_1"),
          col("label").as("_2"),
          least(col("label"), coalesce(col("nb_label"), col("label"))).as("_3"))
      // narrow map: count label changes into the accumulator during the
      // SAME job that materializes the round (localCheckpoint is eager)
      import spark.implicits._
      labels = joined.as[(Long, Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, old, nw) =>
            if (nw < old) changed.add(1L)
            (id, nw)
          }
        }
        .toDF("id", "label")
        .localCheckpoint()
      done = changed.value == 0L
      rounds += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds rounds " +
        "(component diameter exceeds the cap); raise maxRounds or switch " +
        "to connectedComponentsStar, which converges in O(log^2 n) rounds " +
        "on deep graphs")
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Connected components of a pair graph whose edges are CONTAINED
    * within a grouping key (`grp`, `doc_a`, `doc_b`): when the pair
    * generator proves no edge crosses groups — SemDeDup's
    * within-cluster pairing is the canonical case — the component
    * containment makes the iterative global loop pure overhead, and
    * the labeling collapses to ONE shuffle: group the edges by `grp`
    * and run union-find per group. Same (id, cluster = min member id)
    * contract as [[connectedComponents]] on such graphs.
    *
    * This is the one imperative-kernel operator in the dedup family,
    * and deliberately so: [[connectedComponents]] runs O(diameter)
    * Spark jobs — at bench scale that is ~0.5 s of scheduler latency
    * per round on a 700-edge graph (the q97-under-contention
    * amplification, VERDICT r15), and at 100 TB it is O(diameter)
    * full-edge shuffles. With containment, one edge-sized shuffle
    * replaces them all. Memory per group is O(nodes in the group) —
    * the parent map; edges stream through the iterator — which is the
    * SAME bound the keeper window downstream already imposes, and the
    * corpus-proportional-k contract (SemDedupScaleSpec) pins group
    * sizes ≈ targetClusterSize as the corpus grows. Union by MIN root
    * (larger root attaches under smaller) with path compression, so
    * every root is its component's minimum id by construction. */
  def boundedComponents(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs.select(col("grp").cast("long"), col("doc_a").cast("long"),
        col("doc_b").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        it.foreach { case (_, a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          } else { parent.getOrElseUpdate(ra, ra); () }
          // ensure both nodes are known even when already unioned
          parent.getOrElseUpdate(a, find(a))
          parent.getOrElseUpdate(b, find(b))
          ()
        }
        parent.keysIterator.toArray.sorted.iterator.map(id => (id, find(id)))
      }
      .toDF("id", "cluster")
  }

  /** Incremental connected components: fold a NEW batch of pair
    * edges into an existing (id, cluster) labeling without re-running
    * CC over history — the clustering member of the admission family
    * (exact q92, near-dup q110, media q102, embeddings q107 admit
    * per batch against a standing index; this updates the CLUSTERS
    * per batch against the standing labeling). The state re-enters
    * the graph as star edges (id → cluster), the batch's pairs join
    * them, and one [[connectedComponentsStar]] pass converges over a
    * graph of |state| + |batch| edges — history's original pair
    * graph is never touched again, which is the whole point at
    * 100 TB: the one-shot clustering runs once, every later ingest
    * runs this.
    *
    * Exactness: a component's star edges connect exactly the node
    * set of that historical component, so (state edges ∪ new pairs)
    * has the same connected components as (all historical pairs ∪
    * new pairs); labels are component minima in both, and the star
    * state's label IS its component minimum — so folding batches in
    * ANY order or chopping equals the one-shot clustering
    * (spec-proven; q143 pins it against q61's oracle verbatim).
    * Singleton state rows (id = cluster) ride along as self-pairs —
    * canonicalization drops the self-loop edge but keeps the node,
    * so an isolated doc stays labeled. */
  def incrementalComponents(state: DataFrame, newPairs: DataFrame): DataFrame =
    connectedComponentsStar(
      state.select(col("id").as("doc_a"), col("cluster").as("doc_b"))
        .unionByName(newPairs.select(col("doc_a"), col("doc_b"))))

  /** q143: [[dedupClusters]] recomputed as three incremental folds —
    * the near-dup pair stream split deterministically into thirds,
    * clustered batch by batch through [[incrementalComponents]]. The
    * oracle is q61's one-shot SQL VERBATIM: the fold must be
    * indistinguishable from clustering everything at once. */
  def dedupClustersIncremental(spark: SparkSession, dir: String,
                               threshold: Double = 0.5): DataFrame = {
    val pairs = nearDupNgram(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val slice = pmod(col("doc_a") + col("doc_b"), lit(3))
    val s0 = connectedComponentsStar(pairs.filter(slice === 0))
    val s1 = incrementalComponents(s0, pairs.filter(slice === 1))
    incrementalComponents(s1, pairs.filter(slice === 2))
      .select(col("id").as("doc_id"), col("cluster"))
  }

  /** Large-star/small-star connected components — the deep-graph
    * variant [[connectedComponents]]' cap error points at. Same
    * contract: (id, cluster = minimum member id of the component) for
    * every node in `pairs`; different round complexity — O(log² n)
    * alternating-star rounds (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond") instead of O(diameter)
    * min-label rounds, so a 10⁶-node chain that min-label could never
    * finish converges in a few dozen rounds.
    *
    * Each round rewrites the canonical hi→lo edge list (u > v) twice:
    *  - large-star: per node u over the SYMMETRIC neighborhood, hook
    *    every strictly-larger neighbor v onto m = min(N(u) ∪ {u}) —
    *    emits (v, m), halving tall chains while never creating a
    *    self-loop (v > u ≥ m);
    *  - small-star: per node u over its smaller neighbors, re-point
    *    all of them plus u itself at m = min(N⁻(u)).
    * Each star op is a per-node min AGGREGATION (hash aggregate with
    * map-side partial combine — a degree-d node contributes at most
    * one partial row per map partition to the shuffle, so no task
    * ever holds a whole neighborhood) followed by a min-attach join —
    * SALTED ([[Skew.saltedJoin]]) when the input's max degree reaches
    * `saltThreshold`, plain otherwise (see the body comment for the
    * trade) — attaching each node's min back to its edge rows; the
    * salt spreads a web-scale hub's edge rows over `skewFactor`
    * reducers instead of one. A windowed min was the
    * round body through round 11 and was REPLACED for exactly that
    * skew: window exec keeps every row of a partition key in one
    * task, so one giant-component center became one hot task the
    * moment a component outgrew executor memory. At bench scale the
    * planner broadcasts the (node, min) side and the join costs no
    * shuffle at all; the per-round distinct keeps the edge multiset
    * at most |E|.
    *
    * Convergence = the edge set IS a star forest, tested EXACTLY and
    * one round earlier than stationarity can see it. Under canonical
    * u > v edges a star forest centered at component minima is
    * precisely the edge sets where (a) the u-side and v-side node
    * sets are DISJOINT (a u-side node is a member, a v-side node is
    * a center; a node on both sides is a chain link) and (b) every
    * u-side node has degree 1 (a member pointing at two centers —
    * {(5,1),(5,2)} — is side-disjoint yet still merges them), and
    * the alternation's fixed points are exactly those star forests —
    * so the two-part shape test is an exact fixpoint test, not a
    * probabilistic one. Through round 19 convergence was a (count, xor-of-xxhash64)
    * stationarity fingerprint; it was replaced because stationarity
    * is only observable one round LATE — run a no-op round, notice
    * nothing changed — while star-forest-ness is a property of the
    * CURRENT edge set. Each invocation stops one round-job earlier,
    * and an input that is ALREADY a star forest (q143's later folds
    * when a slice's edges land inside settled components) runs ZERO
    * rounds: the setup probe carries the same test. The probe rides
    * the round's single materializing action (the checkpoint stays
    * LAZY; the probe aggregation materializes it — ONE Spark job per
    * round): explode each edge into its two (node, side) rows,
    * per-node min/max of side, count both-sided nodes — one extra
    * edge-sized shuffle versus the old flat fingerprint agg, bought
    * back several times over by the saved no-op round, because the
    * iterative shape is uniquely sensitive to per-job scheduler
    * latency (r15's driver artifact read q97 at 27.4 s under box
    * contention vs 2.9 s solo — job fan-out amplifies whatever
    * latency the box adds). Like
    * min-label, hitting the cap THROWS rather than returning an
    * under-merged labeling, and localCheckpoint cuts lineage so the
    * loop cannot build an unbounded plan.
    *
    * Scale: each round shuffles edge-sized rows only (two partial-agg
    * minima + two salted min-attach joins + one distinct); labels
    * never materialize until the final star edges ARE the labels, and
    * the aggregate/salt structure bounds every task's memory by
    * |edges| / (partitions × skewFactor) regardless of how skewed the
    * degree distribution is (the Kiveris et al. §4 high-degree
    * concern, answered with salting rather than their sampling —
    * salting needs no second pass and keeps the rounds' semantics
    * exactly the paper's). At bench scale the agg+join body costs
    * ~2× the windowed body it replaced (two broadcast-build jobs per
    * round on a graph whose components fit one task anyway) — the
    * deliberate trade: constant-factor overhead where skew cannot
    * hurt, bounded tasks where it can. */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 50,
                              skewFactor: Int = 8,
                              saltThreshold: Int = 1024): DataFrame = {
    // checkpoint the INPUT once: nodes and edges both derive from it,
    // and without this the caller's pair plan (a whole near-dup
    // candidate+verify run for dedupClustersStar) evaluates twice —
    // measured ~1.1 s of q97's round-12 cost at sf0.1. LAZY since
    // round 17: the setup-probe job below is the first action through
    // it, so it materializes there instead of in a standalone job —
    // one fewer job per CC invocation, ×3 for q143's fold chain,
    // whose median/min gap is pure per-job scheduler-latency
    // amplification (VERDICT r16 item 4).
    val p = pairs.localCheckpoint(false)
    // nodes/edges both derive from the checkpointed input, so their own
    // checkpoints are LAZY: edges materializes inside the setup-probe
    // job below, nodes inside the final labeling join — two fewer
    // standalone jobs with identical cached-block behavior.
    val nodes = p.select(col("doc_a").as("id"))
      .union(p.select(col("doc_b").as("id"))).distinct()
      .localCheckpoint(false)
    var edges = p
      .filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct().localCheckpoint(false)
    // Salting is paid ONLY when the input actually carries a hub: one
    // cheap degree pass over the canonical edges (explode both
    // endpoints, count, max — edge-sized shuffle, runs once) decides
    // the round body for the whole run. Skew-free graphs — the common
    // case for near-dup components — take plain min-attach joins and
    // skip the salt's per-round replicate+explode overhead (~+50% at
    // bench scale, measured round 12→13 on q97). Residual: stars
    // concentrate degree at component minima as rounds progress, so a
    // low-degree input with a giant component still grows a hub
    // mid-run; the unsalted body stays MEMORY-safe there (hash/SMJ
    // joins stream a hot key's probe rows; only the windowed body the
    // salted form replaced had to hold a neighborhood in one task) at
    // the price of late-round time imbalance bounded by the largest
    // component. Deployments expecting giant components set
    // saltThreshold=0 to force salting unconditionally.
    // ONE setup action folds the former jobs together: it
    // materializes the lazy edge checkpoint, computes the max degree
    // (posexplode both endpoints, per-node count), and runs the exact
    // star-forest convergence test on the INPUT — per node, pos spans
    // {0} (u-side only), {1} (v-side only), or both; any node with
    // min(pos)=0 AND max(pos)=1 sits on both sides, so the edge set
    // is not yet a disjoint-star forest (see scaladoc). An input that
    // is already a star forest runs zero rounds.
    // A node VIOLATES star-forest shape iff it sits on both sides
    // (chain link: member that is also a center) OR it is a u-side
    // node of degree > 1 (member pointing at two centers — the edge
    // set is side-disjoint yet those centers still merge through it,
    // e.g. {(5,1),(5,2)}). Zero violations ⟺ disjoint canonical
    // stars ⟺ fixpoint (see scaladoc).
    def starProbeAgg(e: DataFrame): DataFrame = e
      .select(col("u"), col("v"),
        posexplode(array(col("u"), col("v"))).as(Seq("pos", "n")))
      .groupBy(col("n")).agg(
        count(lit(1)).as("deg"),
        min(col("pos")).as("mnp"), max(col("pos")).as("mxp"))
      .agg(coalesce(max(col("deg")), lit(0L)),
        coalesce(sum(when(col("mnp") === 0 &&
            (col("mxp") === 1 || col("deg") > 1L), lit(1L))
          .otherwise(lit(0L))), lit(0L)))
    def probe(e: DataFrame) =
      DriverResults.collectBounded(starProbeAgg(e), 1, "star-forest probe").head
    val probeRow = probe(edges)
    val maxDeg = probeRow.getLong(0)
    val useSalt = maxDeg >= saltThreshold
    def minAttach(l: DataFrame, mins: DataFrame): DataFrame =
      if (useSalt) Skew.saltedJoin(l, mins, col("u"), col("nu"), skewFactor)
      else l.join(mins, col("u") === col("nu"))
    def isStarForest(e: DataFrame): Boolean =
      probe(e).getLong(1) == 0L
    var converged = probeRow.getLong(1) == 0L
    var rounds = 0
    // (node, min-neighbor) via hash aggregate — the partial combine is
    // what makes a 10⁹-degree hub cost one row per map partition
    def neighborhoodMin(e: DataFrame): DataFrame =
      e.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u").as("nu"), col("mn"))
    while (!converged && rounds < maxRounds) {
      val sym = edges.union(
        edges.select(col("v").as("u"), col("u").as("v"))) // symmetric view
      val large = minAttach(sym, neighborhoodMin(sym))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
      val minsS = neighborhoodMin(large)
      val small = minAttach(large, minsS)
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .union(minsS.select(col("nu").as("u"), col("mn").as("v")))
        .distinct()
        .localCheckpoint(false) // lazy: isStarForest() below is the
                                // action that materializes it — one
                                // job per round (see scaladoc)
      converged = isStarForest(small)
      edges = small
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge within $maxRounds rounds; " +
        "this exceeds the O(log^2 n) bound for any realistic graph — " +
        "inspect the edge list for pathological structure before raising " +
        "the cap")
    nodes.join(edges, nodes("id") === edges("u"), "left")
      .select(nodes("id"), coalesce(edges("v"), nodes("id")).as("cluster"))
  }

  // ---------------------------------------------------------------
  // MinHash + LSH near-dup
  // ---------------------------------------------------------------

  /** Per-document signature rows (doc_id, sh, m0..m{k-1}) of a
    * (doc_id, text) frame: the [[ShingleSignature]] kernel over the
    * normalized words — `oph` bin minima or k double-hash minima, plus
    * the doc's xxhash64 shingle set — computed row by row in the
    * scan's own tasks, with no shingle explode, exchange, window or
    * per-doc aggregate. Docs with null text have no shingles and no
    * row. One row per input row: doc_id is the documents key. */
  private[graft] def signatureRows(docs: DataFrame, oph: Boolean, k: Int): DataFrame = {
    val words = TextNorm.words(col("text"))
    val sig =
      if (oph) ShingleSignature.ophSignature(words, k)
      else ShingleSignature.minHashSignature(words, k)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id") +: col("sig.sh").as("sh") +:
        (0 until k).map(i => col("sig.m").getItem(i).as(s"m$i")): _*)
  }

  /** Band bucket strings of double-hash signature rows: band bd joins
    * minima bd·r … bd·r + r − 1 with commas. */
  private def minHashBands(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { bd =>
      concat_ws(",", (0 until rowsPerBand).map(r => col(s"m${bd * rowsPerBand + r}")): _*)
    }

  /** Banded signature rows — one row per (doc, band) with the doc's
    * xxhash64'd shingle set and the band's bucket string — the
    * batch-vs-corpus probe's index shape ([[nearDupAdmissionVerdicts]]).
    * `keyed` is [[signatureRows]] output. */
  private def bandedRows(keyed: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    keyed.select(col("doc_id"), col("sh"), posexplode(array(minHashBands(bands, rowsPerBand): _*)))
      .select(col("doc_id"), col("sh"), col("pos").as("band"), col("col").as("bucket"))

  /** The shared LSH tail of the within-corpus MinHash variants (q26,
    * q75, q243): band the signature rows into `buckets` (one bucket
    * string per band), generate candidate pairs per bucket, verify
    * exact Jaccard.
    *
    * Band rows carry (doc_id, n = |sh|) only, never the shingle set:
    * carrying it duplicated the heaviest column ×bands through the
    * bucket exchange and again per collision (r20 clean run: q75 at
    * 3.0 s vs q25's 0.9 s on the same shingle base; guide §2.3:
    * shuffle keys and metadata, not payloads). Candidate pairs come
    * from [[bandPairs]]: the band rows self-joined on (band, bucket).
    * They are size-ratio-prefiltered on n (J ≤ min/max, so
    * min < t·max can never pass), deduped across bands before any
    * payload moves, and the two set fetches join the pair-sized
    * candidate list against the signature rows on doc_id (the
    * prefixJoinNearDup shape). The checkpoint materializes the
    * doc-sized signature rows once for banding and both fetches.
    * [[nearDupAdmissionVerdicts]] keeps the payload-carrying
    * [[bandedRows]]: its batch side is broadcast (bounded) and the
    * index side never repartitions. */
  private def bandedPairs(keyed: DataFrame, buckets: Seq[Column],
                          threshold: Double): DataFrame = {
    val model = keyed.localCheckpoint(false)
    val banded = model.select(
      col("doc_id"), size(col("sh")).as("n"), posexplode(array(buckets: _*)))
      .select(col("doc_id"), col("n"), col("pos").as("band"), col("col").as("bucket"))
    val cand = bandPairs(banded)
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")) * threshold)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val sets = model.select(col("doc_id"), col("sh"))
    val joined = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
    val sa = size(col("sha"))
    val sb = size(col("shb"))
    val inter = size(array_intersect(col("sha"), col("shb")))
    joined
      .select(col("doc_a"), col("doc_b"),
        round(inter.cast("double") / (sa + sb - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Every pair of band rows (doc_id, n, band, bucket) that share a
    * band and a bucket, as (doc_a, n_a, doc_b, n_b) with
    * doc_a < doc_b: the band rows joined with themselves on (band,
    * bucket). A null bucket matches a null bucket, as a group by the
    * pair would group them. This is the pair set [[bucketPairs]]
    * builds from a `collect_list` of each bucket's members, without
    * the list: collecting structs is an ObjectHashAggregate that falls
    * back to sorting, and the two explodes over the members add a
    * Generate, each with its own generated classes; a bucket's pairs
    * are quadratic in its size either way. */
  private[graft] def bandPairs(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("n").as("n_a"))
    val b = banded.select(col("band").as("band_b"), col("bucket").as("bucket_b"),
      col("doc_id").as("doc_b"), col("n").as("n_b"))
    a.join(b, col("band") === col("band_b") && col("bucket") <=> col("bucket_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("n_a"), col("doc_b"), col("n_b"))
  }

  /** Banded MinHash LSH in a fully cross-engine-expressible form. The
    * base hashes are two 60-bit big-endian windows of ONE md5 hex
    * digest (chars 17–31 and 1–15; 60 bits fits a signed long), the
    * seeds of k double-hashing functions h_i = (h1 + i·h2) mod p — the
    * standard Kirsch-Mitzenmacher construction, pure long arithmetic
    * per hash ([[ShingleSignature]] computes all k minima per doc).
    * Every step exists identically in DuckDB
    * (('0x' || substr(md5(s), ...))::BIGINT), so signature build,
    * banding, candidate generation and exact Jaccard verify are all
    * hash-checked by the oracle end to end (q26 and q75 both run
    * it). An earlier form used one salted md5 PER hash function — 24
    * digests per shingle dominated the whole operator (~4s of a
    * 4.4s runtime at sf0.1).
    * Defaults bands=8 × rows=3: candidate probability ≈0.97 at j=0.7,
    * ≈6% for j≈0.2 noise pairs.
    *
    * Scale: one per-doc signature map, one bucket shuffle.
    * Verification carries xxhash64'd shingles: Jaccard over distinct
    * sets is invariant under an (effectively) injective per-element
    * hash, so the value matches the oracle's string-list Jaccard
    * exactly (same argument as nearDupNgram) while moving longs
    * instead of ~20-char strings. */
  def nearDupMinHashMd5(spark: SparkSession, dir: String, threshold: Double = 0.5,
                        bands: Int = 8, rowsPerBand: Int = 3): DataFrame =
    bandedPairs(
      signatureRows(Tables.documents(spark, dir), oph = false, bands * rowsPerBand),
      minHashBands(bands, rowsPerBand), threshold)

  /** q249: winnowing fingerprint overlap (Schleimer, Wilkerson &
    * Aiken 2003 — the MOSS algorithm): slide a window of `w`
    * consecutive 3-gram hashes over each document and keep each
    * window's MINIMUM — the selected hashes are the document's
    * fingerprints. The published guarantee: any shared run of at
    * least w + k − 1 = 6 words produces at least one shared
    * fingerprint, while only ~2/(w+1) of positions are kept — so this
    * finds LOCAL plagiarism-style overlap (a paragraph lifted into an
    * otherwise different doc) that whole-set Jaccard (q25) dilutes
    * away and containment (q164) only sees in aggregate, at a
    * fraction of the q89 dup-spans index size. Docs shorter than one
    * window keep the minimum of what they have (one fingerprint), so
    * short exact dups still collide.
    *
    * Exactness: fingerprints are pure long md5-window hashes selected
    * by exact window minima over the deterministic position order;
    * shared counts are exact; overlap = shared/min(|fp|) rounded at 4
    * (the q25 display convention).
    *
    * Scale: ONE doc_id window shuffle builds positions + window
    * minima (the shingleRows shape); pair generation is the standard
    * [[bucketPairs]] explode on the fingerprint key — never a corpus
    * self-join; a boilerplate fingerprint shared by a large doc
    * fraction is the stop-bucket case, capped in production exactly
    * like q138 (uncapped here so the oracle is exact-recall). */
  def winnowOverlap(spark: SparkSession, dir: String,
                    w: Int = 4, minShared: Int = 2): DataFrame =
    winnowOverlapOf(Tables.documents(spark, dir), w, minShared)

  /** [[winnowOverlap]] over any (doc_id, text) frame — split out so
    * specs can drive planted shared runs against the w + k − 1
    * detection guarantee. */
  private[graft] def winnowOverlapOf(docs: DataFrame,
                                     w: Int, minShared: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = TextNorm.words(col("text"))
    val seq = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(words))
      .select(col("doc_id"), col("pos"), col("col").as("w0"),
        lead(col("col"), 1).over(seq).as("w1"),
        lead(col("col"), 2).over(seq).as("w2"))
      .filter(col("w2").isNotNull || col("pos") === 0)
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(concat_ws(" ", col("w0"), col("w1"), col("w2"))), 17, 15),
          16, 10).cast("long").as("h"))
    val fps = tok
      .withColumn("rn", row_number().over(seq).cast("long"))
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("wmin", min(col("h")).over(seq.rowsBetween(-(w - 1), 0)))
      // a doc with fewer than w shingles keeps its single all-of-doc
      // window (rn = nsh); full docs keep every complete window
      .filter(col("rn") >= least(lit(w.toLong), col("nsh")))
      .select(col("doc_id"), col("wmin").as("fp")).distinct()
      .localCheckpoint(false) // fingerprints feed sizes and pairs
    val perDoc = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val buckets = fps.groupBy(col("fp"))
      .agg(collect_list(struct(col("doc_id"))).as("members"))
    bucketPairs(buckets)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(perDoc.select(col("doc_id").as("doc_a"), col("nfp").as("fp_a")), Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("nfp").as("fp_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("fp_a"), col("fp_b"),
        round(col("n_shared").cast("double") / least(col("fp_a"), col("fp_b")), 4)
          .as("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q243: one-permutation-hashing (OPH) MinHash near-dup — the
    * signature build that makes banded MinHash affordable at 100 TB.
    * Classic k-hash MinHash ([[nearDupMinHashMd5]]) evaluates k = 24
    * hash functions per shingle row and k min-aggregates per doc; OPH
    * (Li, Owen & Zhang 2012) hashes each shingle ONCE and partitions
    * the hash space into `bins` residue classes — the per-bin minima
    * ARE the signature, so the signature build is O(|shingles|)
    * instead of O(k·|shingles|): the same per-doc kernel
    * ([[ShingleSignature]]) with 1/k-th the hash arithmetic. Empty
    * bins (short docs) are filled by ROTATION densification (Shrivastava & Li 2014): bin i borrows the first
    * non-empty bin at i, i+1, … (mod bins) — a plain coalesce chain,
    * identical on both engines. Signatures band into `bands` buckets
    * of bins/bands values; docs colliding in any band are candidates,
    * verified by exact Jaccard — the same [[bucketPairs]] →
    * [[jaccardVerify]] machinery as the whole near-dup family, so the
    * output contract matches q26 row for row where both fire.
    *
    * The base hash is the md5 60-bit window (the [[nearDupMinHashMd5]]
    * h1 construction), so signature build, densification, banding,
    * candidate generation and verification are ALL hash-checked by
    * the DuckDB oracle end to end; swap xxhash64 in for production.
    *
    * Exactness: bin residues, minima and the coalesce rotation are
    * pure long arithmetic; verification Jaccard is exact-rational
    * rounded at 4 for display (the q25 convention). */
  def nearDupOPH(spark: SparkSession, dir: String, threshold: Double = 0.5,
                 bins: Int = 16, bands: Int = 4): DataFrame =
    nearDupOPHOf(Tables.documents(spark, dir), threshold, bins, bands)

  /** [[nearDupOPH]] over any (doc_id, text) frame — split out so specs
    * can drive synthetic corpora with known duplicate structure. */
  private[graft] def nearDupOPHOf(docs: DataFrame, threshold: Double,
                                  bins: Int, bands: Int): DataFrame = {
    require(bins % bands == 0, "bands must evenly partition bins")
    val rowsPerBand = bins / bands
    def densified(i: Int): Column =
      coalesce((0 until bins).map(j => col(s"m${(i + j) % bins}")): _*)
    bandedPairs(signatureRows(docs, oph = true, bins),
      (0 until bands).map { bd =>
        concat_ws(",", (0 until rowsPerBand).map(r => densified(bd * rowsPerBand + r)): _*)
      }, threshold)
  }

  /** Near-dup ADMISSION: probe an arriving batch against the standing
    * corpus's MinHash band index and give each batch doc a verdict —
    * the near-duplicate member of the admission family (exact
    * fingerprints q92/q95, media signatures q102, embeddings q107).
    * At 100 TB you cannot re-run within-corpus near-dup per ingest
    * batch; the production shape is this probe: does the new doc
    * near-duplicate ANYTHING already admitted?
    *
    * Mechanism: both slices get the [[nearDupMinHashMd5]] signature
    * build (split BEFORE shingling, so each side shingles only its
    * slice); batch band rows are BROADCAST against the corpus band
    * rows — the corpus index never repartitions, the same
    * index-stays-put contract as q102 — candidates sharing any band
    * bucket are verified by exact Jaccard, and verdicts aggregate
    * per batch doc (matches per doc are band-bounded, so the verdict
    * shuffle is batch-sized). In production the corpus band rows are
    * a persisted table keyed on (band, bucket) — rebuilt here only to
    * keep the query oracle-self-contained.
    *
    * Keeper = the corpus match with the highest verified Jaccard,
    * ties to the smallest doc_id — deterministic, so the whole
    * verdict frame is hash-gated (q110). */
  def nearDupAdmissionMd5(spark: SparkSession, dir: String, threshold: Double = 0.5,
                          bands: Int = 8, rowsPerBand: Int = 3,
                          batchMod: Int = 5, batchRem: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBatch = pmod(col("doc_id"), lit(batchMod)) === batchRem
    def bandedOf(side: DataFrame) =
      bandedRows(signatureRows(side, oph = false, bands * rowsPerBand), bands, rowsPerBand)
    nearDupAdmissionVerdicts(
      docs.filter(isBatch).select(col("doc_id")),
      bandedOf(docs.filter(isBatch)),
      bandedOf(docs.filter(!isBatch)), threshold)
  }

  /** The verdict core of [[nearDupAdmissionMd5]] over any pair of
    * [[bandedRows]]-shaped frames (doc_id, sh, band, bucket). Pure
    * function of (batch rows, index) — no cross-batch state — so the
    * stream-ingest form runs it per micro-batch against the persisted
    * index, the same batch-boundary independence as the exact and
    * media admissions. `batchIds` lists every batch doc so no-match
    * docs still get a (false, 0, null, null) verdict row. */
  def nearDupAdmissionVerdicts(batchIds: DataFrame, batchBanded: DataFrame,
                               corpusBanded: DataFrame,
                               threshold: Double): DataFrame = {
    def pfx(df: DataFrame, p: String) = df.select(
      col("doc_id").as(s"${p}_id"), col("sh").as(s"${p}_sh"),
      col("band"), col("bucket"))
    val sa = size(col("b_sh"))
    val sb = size(col("i_sh"))
    val inter = size(array_intersect(col("b_sh"), col("i_sh")))
    // same size-ratio prefilter + single-intersect Jaccard as
    // jaccardVerify; candidates colliding in several bands dedupe on
    // the scalar verdict, never on the shingle arrays
    val hits = pfx(corpusBanded, "i")
      .join(broadcast(pfx(batchBanded, "b")), Seq("band", "bucket"))
      .filter(least(sa, sb).cast("double") >= greatest(sa, sb) * threshold)
      .select(col("b_id"), col("i_id"),
        round(inter.cast("double") / (sa + sb - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
    val verdicts = hits.groupBy(col("b_id")).agg(
      count(lit(1)).as("n_matches"),
      max(col("jaccard")).as("best_jaccard"),
      max_by(col("i_id"), struct(col("jaccard"), -col("i_id"))).as("keeper"))
    batchIds.join(verdicts, col("doc_id") === col("b_id"), "left")
      .select(col("doc_id"),
        col("n_matches").isNotNull.as("is_neardup"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("keeper"), col("best_jaccard"))
  }

  // ---------------------------------------------------------------
  // SimHash near-dup
  // ---------------------------------------------------------------

  /** 60-bit SimHash of the token multiset: per bit, sum +1/-1 across
    * token hashes, pack sign bits. Computed with one explode +
    * 60 conditional sums (all codegen'd; no UDF).
    *
    * The token hash is a 60-bit big-endian window of the md5 hex
    * digest (chars 17–31 through one conv — the same construction as
    * the MinHash base hashes) rather than xxhash64, so the WHOLE
    * pipeline — tokenize, hash, bit votes, sign packing, band
    * collision, Hamming verify — has an exact DuckDB twin
    * (('0x'||substr)::BIGINT + >>/&/xor/bit_count) and q27 is
    * hash-checked end to end. 60 bits keeps every value (and every
    * 1<<i pack) inside positive BIGINT range on both engines; the
    * 4-bit width loss is immaterial for Hamming-3 near-dup. Swapping
    * xxhash64 back in is a one-line production change. */
  val SimHashBits = 60

  def simHashes(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextNorm.words(col("text"))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 17, 15), 16, 10).cast("long"))
    val bitSums = (0 until SimHashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimHashBits).map { i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
        }.reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
  }

  /** SimHash near-dup: candidates collide on any of 4 15-bit bands
    * (finds all pairs within Hamming distance 3 by pigeonhole), then
    * exact Hamming verify via xor + bit_count. */
  def nearDupSimHash(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val sh = simHashes(spark, dir)
    val bandBits = SimHashBits / 4
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(bd =>
        shiftright(col("simhash"), bd * bandBits)
          .bitwiseAND((1L << bandBits) - 1)): _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("bucket"))
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("members"))
    bucketPairs(buckets)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---------------------------------------------------------------
  // embedding-cosine near-dup
  // ---------------------------------------------------------------

  /** Embedding near-dup pairs, blocked on the cluster label (the
    * natural blocking key here; LSH hyperplane buckets are the
    * general-purpose key — see SimilarityOps.annTopK), verified with
    * the codegen'd CosineSimilarity kernel. */
  def nearDupEmbedding(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", SimilarityOps.cosScore(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("label").cast("int").as("label"), col("cos"))
  }

  /** General-purpose variant when no label exists: block on the
    * random-hyperplane LSH bucket (vectors in the same half-space
    * bundle share buckets), verify with the cosine kernel. Same
    * groupBy-bucket pair shape as the text near-dups — one shuffle on
    * the bucket key, no self-join. Low-cosine pairs simply land in
    * different buckets, so recall concentrates on genuinely close
    * pairs (raise nPlanes at scale to keep buckets executor-sized). */
  def nearDupEmbeddingLSH(spark: SparkSession, dir: String,
                          threshold: Double = 0.35, nPlanes: Int = 6): DataFrame = {
    val e = SimilarityOps.withBucket(Tables.embeddings(spark, dir), nPlanes,
      dim = Tables.embeddingDim(spark, dir))
    val buckets = e.groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id").as("doc_id"), col("embedding"))).as("members"))
    bucketPairs(buckets)
      .select(col("x.doc_id").as("vec_a"), col("y.doc_id").as("vec_b"),
        SimilarityOps.cosScore(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Edit-distance near-dup — the family member that catches
    * single-character corruptions and small insertions the
    * shingle/MinHash operators smear across every overlapping gram
    * (title/URL dedup is this exact shape). Candidates block on the
    * first `prefixLen` chars of the fingerprint-normalized text, then
    * a length prefilter (|len_a − len_b| ≤ maxDist is a lower bound
    * on edit distance — an exact, free reject) and the banded-DP
    * Levenshtein verify: Spark's threshold form runs O(n·maxDist)
    * per pair and early-exits to −1 above the cap, not O(n²).
    *
    * Prefix blocking misses pairs that differ inside the first
    * `prefixLen` chars — the standard blocking recall trade, same as
    * LSH banding; the oracle mirrors the blocking so the emitted set
    * is exactly specified.
    *
    * Scale: ONE shuffle on the block key via the shared [[bucketPairs]]
    * groupBy-bucket shape (no self-join — the normalization subtree is
    * evaluated once, and there is no second scan). Without a cap, a
    * boilerplate-prefix corpus (every page opening with the same
    * 16 chars — licence headers, crawler banners) makes one block hold
    * a large doc fraction and pair generation go O(block²) with one
    * hot reducer; `maxBlock` EXCLUDES such stop-prefix blocks wholesale
    * before pair generation, exactly the [[nearDupNgramCapped]]
    * tradeoff: a prefix shared by everyone carries no discriminating
    * information, so its pairs are overwhelmingly non-dups and the cap
    * buys a hard buckets × maxBlock² candidate bound for bounded
    * recall loss. Block membership is a pure function of the
    * normalized text, so the oracle re-derives identical exclusions. */
  def nearDupEdit(spark: SparkSession, dir: String,
                  prefixLen: Int = 16, maxDist: Int = 8,
                  maxBlock: Option[Int] = None): DataFrame = {
    val norm = TextNorm.norm(col("text"))
    val blocks = Tables.documents(spark, dir)
      .select(col("doc_id"), norm.as("norm"))
      .groupBy(substring(col("norm"), 1, prefixLen).as("blk"))
      .agg(collect_list(struct(col("doc_id"), col("norm"))).as("members"))
    bucketPairs(blocks, maxBlock)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.norm").as("norm_a"), col("y.norm").as("norm_b"))
      .filter(abs(length(col("norm_a")) - length(col("norm_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("norm_a"), col("norm_b"), maxDist))
      .filter(col("dist") >= 0)
      .withColumn("exact_dup", col("dist") === 0)
      .select(col("doc_a"), col("doc_b"),
        col("dist").cast("bigint").as("dist"), col("exact_dup"))
  }

  /** [[nearDupEdit]] with the stop-prefix block cap ENGAGED — the
    * production form at 100 TB, and the q152 oracle gate. The default
    * cap of 2 is the test-scale setting chosen so the sf0.01 corpus
    * (25 blocks of 2, one of 3) exercises the exclusion non-vacuously;
    * a production deployment raises it to executor-task size (≥64).
    * Output ⊆ [[nearDupEdit]]'s by construction (BucketCapSpec
    * proves it, plus wholesale exclusion of a synthetic
    * common-prefix corpus). */
  def nearDupEditCapped(spark: SparkSession, dir: String,
                        prefixLen: Int = 16, maxDist: Int = 8,
                        maxBlock: Int = 2): DataFrame =
    nearDupEdit(spark, dir, prefixLen, maxDist, Some(maxBlock))
}
