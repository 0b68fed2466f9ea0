package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{ShingleSignature, TextNorm}
import graft.ops.DedupOps

/** The per-document signature kernel ([[ShingleSignature]]) against a
  * reference: the row-form build it replaced, kept here verbatim —
  * shingle rows from a doc_id repartition, a posexplode of the words
  * and a window `lead`, then md5 base hashes and one per-doc
  * aggregate of `collect_set(xxhash64)` and minima. Rows must be
  * equal, for the 16-bin OPH signature and the 24 double-hash minima.
  * The four queries built on the kernel must also return the rows
  * they returned before it, pinned on sf0.001. */
class ShingleSignatureSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  private val P = ShingleSignature.P

  private def referenceShingles(docs: DataFrame): DataFrame = {
    val words = TextNorm.words(col("text"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(words))
      .select(col("doc_id"), col("pos"), col("col").as("w0"),
        lead(col("col"), 1).over(w).as("w1"),
        lead(col("col"), 2).over(w).as("w2"))
      .filter(col("w2").isNotNull || col("pos") === 0)
      .select(col("doc_id"), concat_ws(" ", col("w0"), col("w1"), col("w2")).as("s"))
  }

  private def referenceSignatures(docs: DataFrame, oph: Boolean, k: Int): DataFrame = {
    val tok = referenceShingles(docs)
      .withColumn("mhex", md5(col("s")))
      .withColumn("h1",
        pmod(conv(substring(col("mhex"), 17, 15), 16, 10).cast("long"), lit(P)))
      .withColumn("h2",
        pmod(conv(substring(col("mhex"), 1, 15), 16, 10).cast("long"), lit(P)))
    val minima: Seq[Column] = (0 until k).map { i =>
      if (oph) min(when(pmod(col("h1"), lit(k.toLong)) === i, col("h1"))).as(s"m$i")
      else min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(P))).as(s"m$i")
    }
    tok.groupBy(col("doc_id")).agg(collect_set(xxhash64(col("s"))).as("sh"), minima: _*)
  }

  /** (doc_id, sorted sh, minima) — sh is a set, so its order is free. */
  private def rowsOf(df: DataFrame, k: Int): Seq[(Long, Seq[Long], Seq[Option[Long]])] =
    df.collect().toSeq.map { r =>
      (r.getLong(0), r.getSeq[Long](1).sorted,
        (0 until k).map(i => if (r.isNullAt(2 + i)) None else Some(r.getLong(2 + i))))
    }.sortBy(_._1)

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "Zeta!", "eta", "THETA")

  /** Seeded corpus: the edge cases, then random docs over a small
    * vocabulary (so 3-grams repeat within and across docs). */
  private def corpus(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val edge = Seq(
      "", null, "  ", "!!! ... ???", "one", "Two words", "x", "a b",
      "a b a b a b a b", "same same same same same", "Ünïcödé straße ½ 😀 text here",
      "punct,between;every:word.here", "a b c", "A  B\tC\nD")
    val random = (0 until 120).map { _ =>
      val n = rnd.nextInt(14)
      if (rnd.nextDouble() < 0.05) null
      else Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(if (rnd.nextBoolean()) " " else ", ")
    }
    (edge ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  for ((oph, k, what) <- Seq((true, 16, "16 OPH bins"), (false, 24, "24 double-hash minima"))) {
    test(s"kernel equals the explode-window-aggregate reference: $what") {
      for (seed <- 1L to 3L) {
        val docs = corpus(seed)
        val want = rowsOf(referenceSignatures(docs, oph, k), k)
        val got = rowsOf(DedupOps.signatureRows(docs, oph, k), k)
        assert(got == want, s"seed $seed")
        // non-vacuity: the null text is dropped, the empty text kept
        // with its one empty shingle, and some bin is empty
        val ids = got.map(_._1).toSet
        assert(!ids.contains(1L) && ids.contains(0L) && got.head._2.size == 1)
        if (oph) assert(got.exists(_._3.contains(None)), "no empty OPH bin")
      }
    }
  }

  test("kernel: punctuation-only and empty text share the empty shingle; short docs keep one partial") {
    val docs = Seq((1L, ""), (2L, "?!"), (3L, "one"), (4L, "one two"), (5L, "one two three four"))
      .toDF("doc_id", "text")
    val got = rowsOf(DedupOps.signatureRows(docs, oph = false, 24), 24).map(r => r._1 -> r._2).toMap
    def xx(s: String): Long = Seq(s).toDF("s").select(xxhash64(col("s"))).head().getLong(0)
    assert(got(1L) == Seq(xx("")) && got(2L) == got(1L))
    assert(got(3L) == Seq(xx("one")) && got(4L) == Seq(xx("one two")))
    assert(got(5L) == Seq(xx("one two three"), xx("two three four")).sorted)
  }

  test("kernel: a null word array is a null signature; codegen and interpreted agree") {
    val df = Seq[(Long, String)]((1L, null), (2L, "a b c d e f")).toDF("doc_id", "text")
    val sig = ShingleSignature.ophSignature(TextNorm.words(col("text")), 16)
    def run(conf: (String, String)*): Seq[Row] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col("doc_id"), sig.as("s")).collect().toSeq.sortBy(_.getLong(0))
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    // no fallback: a generated-code compile error fails the query
    val codegen = run("spark.sql.codegen.fallback" -> "false")
    assert(codegen.head.isNullAt(1) && !codegen(1).isNullAt(1))
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(interpreted == codegen)
  }

  private val pinnedPairs: Set[(Long, Long, Double)] = Set(
    (0L, 50L, 0.9524), (0L, 82L, 0.9545), (5L, 450L, 0.9756), (8L, 12L, 0.9737),
    (8L, 120L, 0.9865), (8L, 360L, 0.9867), (12L, 120L, 0.9605), (12L, 360L, 0.9868),
    (16L, 369L, 0.9882), (26L, 176L, 0.9885), (33L, 436L, 0.8889), (45L, 487L, 0.9643),
    (50L, 82L, 0.9091), (56L, 157L, 0.9815), (77L, 459L, 0.9872), (89L, 114L, 0.9286),
    (99L, 174L, 0.9881), (110L, 467L, 0.9891), (119L, 425L, 0.9714), (120L, 360L, 0.9733),
    (144L, 161L, 0.9886), (211L, 404L, 0.9846), (229L, 263L, 0.9565), (260L, 391L, 0.9888),
    (270L, 329L, 0.9881), (328L, 428L, 0.9744), (349L, 411L, 0.9808), (474L, 498L, 0.9894))

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect().toSet

  test("q26, q75 and q243 on sf0.001 return the pinned pairs of the row-form build") {
    for (q <- Seq("q26_neardup_minhash", "q75_minhash_md5", "q243_neardup_oph"))
      assert(pairs(SparkEntry.queries(q)(spark, sf)) == pinnedPairs, q)
  }

  test("q110 on sf0.001 returns the pinned verdicts of the row-form build") {
    val rows = SparkEntry.queries("q110_neardup_admission")(spark, sf).collect()
    assert(rows.length == 100)
    val (hits, misses) = rows.partition(_.getBoolean(1))
    assert(hits.map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet == Set(
      (119L, 1L, 425L, 0.9714), (144L, 1L, 161L, 0.9886), (229L, 1L, 263L, 0.9565),
      (329L, 1L, 270L, 0.9881), (349L, 1L, 411L, 0.9808), (369L, 1L, 16L, 0.9882),
      (404L, 1L, 211L, 0.9846), (459L, 1L, 77L, 0.9872), (474L, 1L, 498L, 0.9894)))
    assert(misses.forall(r => r.getLong(2) == 0L && r.isNullAt(3) && r.isNullAt(4)))
    assert(rows.map(_.getLong(0)).toSet == (4L until 500L by 5L).toSet)
  }
}
