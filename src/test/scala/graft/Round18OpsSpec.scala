package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DedupOps, RelationalExt, TextOps}
import graft.streaming.EventStream

/** Round-18 analytics batch: q244 trigram stupid backoff, q245
  * session paths, q246 power-user curve, q247 assortativity, q248
  * unseen-vocabulary estimation. Each test pins either a closed-form
  * synthetic or a corpus identity the operator must satisfy by
  * construction. */
class Round18OpsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  test("q244: training-slice docs never back off (their trigrams ARE the model)") {
    val out = TextOps.trigramBackoff(spark, sf).localCheckpoint(false)
    val trainIds = graft.Tables.documents(spark, sf)
      .filter($"source" === "src0").select($"doc_id")
    val trainBackoffs = out.join(trainIds, Seq("doc_id"), "left_semi")
      .filter($"n_backoff" > 0)
    assert(trainBackoffs.count() == 0,
      "a src0 doc backed off — its own trigrams must be in the model")
    // rate bounds + the short-doc convention
    assert(out.filter($"n_backoff" > $"n_trigrams").count() == 0)
    assert(out.filter($"n_trigrams" === 0 && $"nll".isNotNull).count() == 0)
    assert(out.filter($"n_trigrams" > 0 && $"nll".isNull).count() == 0)
    // non-train sources must exercise the backoff path somewhere
    assert(out.filter($"n_backoff" > 0).count() > 0)
  }

  test("q245: trigram volume equals the sessionize identity Σ max(n_events − 2, 0)") {
    val paths = EventStream.sessionPathTrigrams(spark, sf)
    val total = paths.agg(sum($"n")).as[Long].collect().head
    val expected = EventStream.sessionizeBatch(spark, sf)
      .select(greatest($"n_events" - 2L, lit(0L)).as("t"))
      .agg(sum($"t")).as[Long].collect().head
    assert(total == expected, s"path occurrences $total != session identity $expected")
    assert(paths.filter($"n_sessions" > $"n").count() == 0,
      "session reach cannot exceed occurrence count")
  }

  test("q246: histogram mass, CCDF boundary and monotonicity") {
    val h = RelationalExt.activeDaysHistogram(spark, sf).localCheckpoint(false)
    val userDays = graft.Tables.events(spark, sf)
      .select($"user_id", date_trunc("day", $"ts")).distinct().count()
    val mass = h.select(sum($"active_days" * $"n_users")).as[Long].collect().head
    assert(mass == userDays, "Σ k·n_users must equal |distinct (user, day)|")
    val rows = h.select($"active_days", $"n_at_least", $"ccdf")
      .orderBy($"active_days").as[(Long, Long, Double)].collect()
    assert(rows.head._3 == 1.0, "CCDF at the minimum activity level must be 1")
    assert(rows.sliding(2).forall { case Array(a, b) => b._2 <= a._2; case _ => true },
      "CCDF counts must be non-increasing in active_days")
  }

  test("q247: star graph reads r = −1, equal-degree cycle reads guarded 0") {
    // star: every edge joins degree 3 to degree 1 — perfect anticorrelation
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val rStar = DedupOps.assortativityOf(star)
      .select($"assortativity").as[Double].collect().head
    assert(rStar == -1.0, s"star graph: got $rStar, want -1.0")
    // 4-cycle: all degrees 2 — zero variance, guard must emit 0.0
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("doc_a", "doc_b")
    val got = DedupOps.assortativityOf(cycle)
      .select($"n_edges", $"n_nodes", $"assortativity")
      .as[(Long, Long, Double)].collect().head
    assert(got == ((4L, 4L, 0.0)), s"cycle: got $got")
  }

  test("q249: the w+k−1 detection guarantee; identical docs read overlap 1") {
    val shared = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, s"aa bb cc dd ee $shared ff gg hh ii jj"),
      (2L, s"zz yy xx ww vv uu $shared tt ss rr qq pp"),
      (3L, "completely unrelated text with nothing in common at all here"),
      (4L, "tiny pair of docs"), (5L, "tiny pair of docs")
    ).toDF("doc_id", "text")
    val got = DedupOps.winnowOverlapOf(docs, w = 4, minShared = 1)
      .select($"doc_a", $"doc_b", $"n_shared", $"overlap")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // a 12-word shared run is ≥ w+k−1 = 6 words → guaranteed ≥ 1
    // shared fingerprint between 1 and 2
    assert(got.contains((1L, 2L)), s"planted shared run not detected: $got")
    // identical short docs share their single all-of-doc fingerprint
    assert(got((4L, 5L)) == ((1L, 1.0)), s"short dup pair: ${got.get((4L, 5L))}")
    // doc 3 shares nothing with anyone
    assert(!got.keys.exists(k => k._1 == 3L || k._2 == 3L))
    // real-corpus sanity: overlap bounded, shared ≤ min fingerprint count
    val real = DedupOps.winnowOverlap(spark, sf)
    assert(real.filter($"n_shared" > least($"fp_a", $"fp_b")).count() == 0)
    assert(real.filter($"overlap" > 1.0 || $"overlap" <= 0.0).count() == 0)
  }

  test("q250: cells partition the corpus; dow/hour domains hold") {
    val p = RelationalExt.seasonalityProfile(spark, sf).localCheckpoint(false)
    val cellSum = p.agg(sum($"n")).as[Long].collect().head
    val total = graft.Tables.events(spark, sf).count()
    assert(cellSum == total, "cell counts must partition the event corpus")
    assert(p.filter($"dow" < 0 || $"dow" > 6 || $"hod" < 0 || $"hod" > 23).count() == 0)
    // per-type shares telescope to 1 (exact integer identity under the hood)
    val off = p.groupBy($"event_type").agg(sum($"n").as("s"))
      .join(p.groupBy($"event_type").agg(max($"n").as("m")), "event_type")
      .filter($"s" <= 0)
    assert(off.count() == 0)
  }

  test("q251: planted anisotropy recovers the dominant axis; Rayleigh quotient settled") {
    import graft.ops.SimilarityOps
    // 40 vectors hugging the e0 axis ± small e1 jitter: pc1 must be
    // ±e0-dominated and explained >> isotropic 1/4
    val planted = (1 to 40).map { i =>
      val s = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(0.5f * s, 0.01f * (i % 5), 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val p = SimilarityOps.pcaPowerOf(planted, dim = 4, iters = 20)
      .select($"dim", $"pc1", $"explained").as[(Long, Double, Double)].collect()
      .sortBy(_._1)
    assert(math.abs(p(0)._2) > 0.99, s"pc1 not e0-dominated: ${p.toSeq}")
    assert(p(0)._3 > 0.9, s"explained ${p(0)._3} too low for a planted axis")
    // real corpus: unit norm (within the 1e-12 quantization), explained
    // in (0, 1], and the Rayleigh quotient is MONOTONE in rounds and
    // numerically settled at the shipped depth (the vector itself may
    // wander inside the near-degenerate top eigenspace — by design the
    // quotient, not the vector, is the convergence contract)
    def explainedAt(t: Int): Double = SimilarityOps.pcaPower(spark, sf, iters = t)
      .select($"explained").as[Double].head()
    val r100 = SimilarityOps.pcaPower(spark, sf, iters = 100)
      .select($"dim", $"pc1", $"explained").as[(Long, Double, Double)].collect()
    val norm2 = r100.map(x => x._2 * x._2).sum
    assert(math.abs(norm2 - 1.0) < 1e-9, s"pc1 norm² $norm2")
    assert(r100.forall(x => x._3 > 0.0 && x._3 <= 1.0))
    val (e20, e100) = (explainedAt(20), r100.head._3)
    assert(e100 >= e20 - 1e-9, s"Rayleigh not monotone: $e20 -> $e100")
    assert(e100 - e20 < 0.05 * e100,
      s"quotient still moving sharply past 20 rounds: $e20 -> $e100")
  }

  test("q252: feedback expansion surfaces docs the literal query cannot see") {
    // docs 1-5 match the query and all carry 'wombat'; docs 6-10 are
    // wombat-only (round-1 score: nonexistent); 11-20 are noise
    val docs = ((1L to 5L).map(i => (i, "data analysis model wombat")) ++
      (6L to 10L).map(i => (i, "wombat quokka numbat")) ++
      (11L to 20L).map(i => (i, "completely unrelated filler text"))
    ).toDF("doc_id", "text")
    val got = TextOps.rocchioPrfOf(docs, Seq("data", "analysis", "model"),
      fb = 5, expand = 3, beta = 0.5, k = 10, k1 = 1.2, b = 0.75)
      .select($"doc_id").as[Long].collect().toSet
    assert((6L to 10L).forall(got), s"wombat-only docs missing from PRF top-10: $got")
    assert((11L to 20L).forall(i => !got(i)), "noise docs must not enter the top-10")
    // real corpus: exactly k rows, scores positive
    val real = TextOps.rocchioPrf(spark, sf)
    assert(real.count() == 10)
    assert(real.filter($"bm25_prf" <= 0.0).count() == 0)
  }

  test("q253: separable vocabularies classify perfectly; cells partition the test slice") {
    def md5TestSide(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split_$id".getBytes("UTF-8"))
      "0123456789abcdef".charAt((d(0) >> 4) & 0xf) <= '2'
    }
    val docs = (1L to 60L).map { i =>
      val s = if (i % 2 == 0) "alpha" else "beta"
      (i, s, if (s == "alpha") "aaa bbb ccc aaa" else "xxx yyy zzz xxx")
    }.toDF("doc_id", "source", "text")
    val got = TextOps.nbSourceConfusionOf(docs)
      .select($"source", $"pred", $"n").as[(String, String, Long)].collect()
    assert(got.forall(r => r._1 == r._2),
      s"separable sources misclassified: ${got.filter(r => r._1 != r._2).toSeq}")
    val expectedTest = (1L to 60L).count(md5TestSide)
    assert(got.map(_._3).sum == expectedTest,
      "confusion cells must partition the md5 test slice")
  }

  test("q254: hand-computed KM curve with censoring exercised; survival non-increasing") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    // A converts t=0; B,D convert t=2; E censored t=2; C censored t=4
    val ev = Seq(
      (1L, "view", ts(0)), (1L, "purchase", ts(0)),
      (2L, "view", ts(0)), (2L, "purchase", ts(2)),
      (3L, "view", ts(1)), (3L, "view", ts(5)),
      (4L, "view", ts(0)), (4L, "purchase", ts(2)),
      (5L, "view", ts(3)), (5L, "view", ts(5))
    ).toDF("user_id", "event_type", "ts")
    val got = RelationalExt.survivalCurveOf(ev)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 5L, 1L, 0L, 0.8),
      (2L, 4L, 2L, 1L, 0.4),
      (4L, 1L, 0L, 1L, 0.4)), s"got $got")
    // real corpus: risk sets telescope and survival never increases
    val real = RelationalExt.survivalCurve(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    real.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b._2 == a._2 - a._3 - a._4, "risk set must telescope")
        assert(b._5 <= a._5, "survival must be non-increasing")
      case _ =>
    }
  }

  test("q255: exactly-correlated pre/post reads theta 2 and full variance reduction") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    // span day0..day9, midpoint split: days 0-4 pre, 5-9 post;
    // y = 2x exactly → theta = 2, rho² = 1
    val ev = ((1 to 4).flatMap { i =>
      Seq((i.toLong, "view", ts(0), i.toDouble),
        (i.toLong, "view", ts(9), 2.0 * i))
    } :+ ((1L, "click", ts(9), 7.0))) // no pre variance → guarded zeros
      .toDF("user_id", "event_type", "ts", "value")
    val got = RelationalExt.cupedOf(ev)
      .select($"event_type", $"n_users", $"mean_post", $"theta", $"var_reduction")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("view") == (("view", 4L, 5.0, 2.0, 1.0)), s"view: ${got("view")}")
    assert(got("click") == (("click", 4L, 1.75, 0.0, 0.0)), s"click: ${got("click")}")
    // real corpus: rho² in [0, 1], population is all users for every type
    val real = RelationalExt.cupedVarianceReduction(spark, sf).localCheckpoint(false)
    assert(real.filter($"var_reduction" < 0.0 || $"var_reduction" > 1.0).count() == 0)
    assert(real.select($"n_users").distinct().count() == 1,
      "every metric must be computed over the same full user population")
  }

  test("q255: the int64 overflow audit fires loudly, even under column pruning") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    // Values sit in the band where NOTHING actually overflows (ANSI
    // mode — the Spark 4 session default — would itself throw on a
    // genuine long wrap) but the conservative certificate trips:
    // x₁ = 2.5e9 quantized → x₁² = 6.25e18 < 2⁶³−1, while
    // n·max|x|² = 2·6.25e18 = 1.25e19 ≥ 9e18. The audit must raise
    // its DESCRIPTIVE error before arithmetic ever wraps (and it is
    // the only guard at all for ansi=false deployments). Every output
    // column must carry it — the r19 ADVICE gap was the guard riding
    // only n_users, so a theta-only projection let Catalyst prune the
    // raise_error away.
    val ev = Seq(
      (1L, "view", ts(0), 2.5e6), (1L, "view", ts(9), 1.0),
      (2L, "view", ts(0), 0.0), (2L, "view", ts(9), 1.0)
    ).toDF("user_id", "event_type", "ts", "value")
    val full = intercept[Exception] {
      RelationalExt.cupedOf(ev).collect()
    }
    assert(full.getMessage.contains("overflow int64"), s"got: ${full.getMessage}")
    val pruned = intercept[Exception] {
      RelationalExt.cupedOf(ev).select($"theta").collect()
    }
    assert(pruned.getMessage.contains("overflow int64"),
      s"theta-only projection must still carry the guard: ${pruned.getMessage}")
  }

  test("q256: two-state chain converges to the closed-form (1/3, 2/3) stationary vector") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // stream [a b b a b]: c(a→b)=2, c(b→b)=1, c(b→a)=1 →
    // P = [[0,1],[1/2,1/2]] → π = (1/3, 2/3)
    val ev = Seq(
      (1L, 1L, "a", ts(0)), (1L, 2L, "b", ts(1)), (1L, 3L, "b", ts(2)),
      (1L, 4L, "a", ts(3)), (1L, 5L, "b", ts(4))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val got = RelationalExt.stationaryOf(ev, iters = 50)
      .select($"event_type", $"n_out", $"pi")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("a")._2 == 2L && got("b")._2 == 2L)
    assert(math.abs(got("a")._3 - 1.0 / 3) < 1e-9, s"pi(a) = ${got("a")._3}")
    assert(math.abs(got("b")._3 - 2.0 / 3) < 1e-9, s"pi(b) = ${got("b")._3}")
    // real corpus: the chain is closed (engine would have thrown
    // otherwise), π sums to 1 and every state carries positive mass
    val real = RelationalExt.stationaryDistribution(spark, sf)
      .select($"pi").as[Double].collect()
    assert(math.abs(real.sum - 1.0) < 1e-6, s"Σπ = ${real.sum}")
    assert(real.forall(_ > 0.0))
  }

  test("q248: all-hapax source reads p0 = 1 and the Chao1 closed form") {
    val docs = Seq(
      (1L, "alpha bravo charlie delta", "hapax"),  // 4 tokens, all distinct
      (2L, "xx xx yy yy zz", "mixed")              // n1=1 (zz), n2=2 (xx, yy)
    ).toDF("doc_id", "text", "source")
    val got = TextOps.unseenVocabOf(docs)
      .select($"source", $"n_tokens", $"vocab", $"n1", $"n2", $"unseen_mass", $"chao1")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // hapax: V=4, n1=4, n2=0 → p0 = 1, chao1 = 4 + 4·3/2 = 10
    assert(got("hapax") == (("hapax", 4L, 4L, 4L, 0L, 1.0, 10.0)))
    // mixed: N=5, V=3, n1=1, n2=2 → p0 = 0.2, chao1 = 3 + 0 = 3
    assert(got("mixed") == (("mixed", 5L, 3L, 1L, 2L, 0.2, 3.0)))
    // corpus invariants
    val real = TextOps.unseenVocabEstimate(spark, sf)
    assert(real.filter($"chao1" < $"vocab".cast("double")).count() == 0)
    assert(real.filter($"unseen_mass" < 0 || $"unseen_mass" > 1).count() == 0)
  }
}
