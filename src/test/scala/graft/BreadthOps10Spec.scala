package graft

import java.sql.Timestamp

import graft.operators.{DedupOps, PipelineOps, Relational, SimilarityOps, TextOps}

/** Round-9 breadth wave 3: lead-lag cross-correlation, Theil
  * decomposition, runs test, epoch/repetition budget, Hill diversity
  * profile, weighted (multiset) Jaccard.
  */
class BreadthOps10Spec extends SparkSpec {
  import spark.implicits._

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")

  test("w30Xcorr: a shifted copy correlates perfectly at its lag") {
    // cnt(t) proportional to rev(t+2): cnt = 1,2,3,4,... and
    // rev two days later = 10,20,30,... -> r = 1 at lag 2
    val days = 1 to 12
    val orders = days.flatMap { d =>
      // cnt(d) = d orders of price (d-2)*10/d each day... simpler:
      // exactly d orders on day d, each priced so rev(d) = 10*(d-2)
      // for d >= 3 (rev correlates with cnt at lag 2 perfectly)
      val rev = 10.0 * math.max(d - 2, 1)
      (1 to d).map(i => (d.toLong * 100 + i, rev / d, ts(d)))
    }.toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val out = Relational.w30Xcorr(spark, orders, maxLag = 3)
      .as[(Int, Long, Double)].collect().toMap2
    // lag 2: cnt(d) = d vs rev(d+2) = 10*d for d in 1..10 -> r ~= 1
    // (the per-order price split rounds to cents, so not exactly 1)
    assert(out(2)._2 > 0.99999, out)
    assert(out(2)._2 > out(0)._2 && out(2)._2 > out(1)._2, out)
    assert(out.keySet == Set(0, 1, 2, 3), out)
  }

  implicit private class Map2[K, A, B](rows: Array[(K, A, B)]) {
    def toMap2: Map[K, (A, B)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("a49Theil: equal values -> zero; decomposition adds up") {
    val flat = (1 to 8).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", 5.0, ts(1)))
      .toDF("event_id", "event_type", "value", "ts")
    val z = Relational.a49Theil(flat)
      .as[(Long, Double, Double, Double)].collect().head
    assert(z == ((8L, 0.0, 0.0, 0.0)), z)

    // two groups, constant within: within = 0, between = total
    val split = (Seq.fill(4)(2.0).map(("a", _)) ++ Seq.fill(4)(8.0).map(("b", _)))
      .zipWithIndex.map { case ((t, v), i) => (i.toLong, t, v, ts(1)) }
      .toDF("event_id", "event_type", "value", "ts")
    val s = Relational.a49Theil(split)
      .as[(Long, Double, Double, Double)].collect().head
    // mu = 5; T = (1/8)*sum((v/5)ln(v/5)) over 4x2.0 and 4x8.0
    val expT = (4 * (2.0 / 5) * math.log(2.0 / 5) +
      4 * (8.0 / 5) * math.log(8.0 / 5)) / 8
    assert(s._1 == 8L && math.abs(s._2 - expT) < 1e-6, s)
    assert(s._4 == 0.0, s) // constant within groups
    assert(math.abs(s._3 - s._2) < 1e-6, s) // between = total
  }

  test("a50RunsTest: alternating series maximizes runs; z matches hand calc") {
    // daily revs alternate 1, 9, 1, 9, ... over 10 days: 10 runs
    val orders = (1 to 10).map(d =>
      (d.toLong, if (d % 2 == 0) 9.0 else 1.0, ts(d)))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val r = Relational.a50RunsTest(orders)
      .as[(Long, Long, Long, Long, Double)].collect().head
    val (n1, n2) = (5.0, 5.0)
    val mu = 2 * n1 * n2 / (n1 + n2) + 1
    val v = 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    assert(r._1 == 10L && r._2 == 5L && r._3 == 5L && r._4 == 10L, r)
    assert(r._5 == round9((10 - mu) / math.sqrt(v)), r)
  }

  test("epochPlan: small source repeats to the cap, big source gets < 1 epoch") {
    // sA: 10 tokens, sB: 90 tokens; budget = 2*100 = 200, target 100
    // each -> sA raw 10.0 capped at 4.0; sB 100/90 = 1.111...
    val docs = Seq(
      (1L, "a b c d e f g h i j", "sA"),
      (2L, ("x " * 90).trim, "sB"))
      .toDF("doc_id", "text", "source")
    val out = PipelineOps.epochPlan(docs)
      .as[(String, Long, Long, Double, Long, Double)].collect().toSeq
    val a = out.find(_._1 == "sA").get
    val b = out.find(_._1 == "sB").get
    assert(a == (("sA", 1L, 10L, 4.0, 40L, round9(40.0 / 200))), a)
    assert(b._4 == round9(100.0 / 90) &&
      b._5 == math.floor(100.0 / 90 * 90).toLong, b)
  }

  test("diversityProfile: uniform tokens -> D0 = D1 = D2; skew collapses D2") {
    val docs = Seq(
      (1L, "a b c d", "uni"), // 4 distinct, each once
      (2L, "z z z z z z z y", "skew")) // 7x z, 1x y
      .toDF("doc_id", "text", "source")
    val out = TextOps.diversityProfile(docs)
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val u = out("uni")
    assert(u._2 == 4L && u._3 == 4L, u)
    assert(u._5 === 4.0 && u._6 == 4.0, u) // exp(ln 4) = 4, 16/4 = 4
    val s = out("skew")
    assert(s._2 == 8L && s._3 == 2L, s)
    // D2 = 64 / (49 + 1) = 1.28 — dominance collapses the profile
    assert(s._6 == 1.28, s)
    assert(s._5 > s._6 && s._3 > s._5, s) // D0 > D1 > D2 under skew
  }

  test("weightedJaccard: repetition separates pairs set-Jaccard conflates") {
    val docs = Seq(
      (1L, "a b c"), // counts {a:1,b:1,c:1}
      (2L, "a a a b b c"), // counts {a:3,b:2,c:1} — same SET
      (3L, "a b c")) // identical to doc 1
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = DedupOps.weightedJaccard(docs, pairs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // (1,2): min-sum = 3 (1+1+1), union-sum = 3+6-3 = 6 -> 0.5
    assert(out((1L, 2L)) == ((3L, 0.5)), out)
    // (1,3): identical multisets -> 1.0
    assert(out((1L, 3L)) == ((3L, 1.0)), out)
  }

  test("cascadePolicy: marginal catch per stage, cheapest first") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), // exact dups
      (3L, "delta epsilon"), (4L, "zeta eta"))
      .toDF("doc_id", "text")
    // simhash catches (1,2) [also exact] and (1,3); minhash catches
    // (1,2), (1,3) and one genuinely new pair (3,4)
    val sp = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val mp = Seq((1L, 2L), (1L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = DedupOps.cascadePolicy(docs, sp, mp)
      .as[(Int, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1, "exact", 1L, 1L), // the (1,2) fingerprint pair
      (2, "simhash", 2L, 1L), // (1,3) is new, (1,2) was caught
      (3, "minhash", 3L, 1L)), out) // only (3,4) is new
  }

  test("dimPruneRecall: pruning to the informative dims keeps recall 1") {
    import org.apache.spark.sql.functions._
    // dims 0-1 carry all the variance; dims 2-3 are identically ZERO
    // (a constant NONZERO dim would change cosine angles when cut —
    // zero dims contribute to neither dot nor norm) -> the 2-dim
    // prune reproduces the full-dim neighbor sets exactly
    val vecs = (1L to 30L).map { i =>
      (i, Array((i % 7 + 1).toFloat, (i % 5 + 1).toFloat, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val out = SimilarityOps.dimPruneRecall(
      vecs, vecs.filter(col("vec_id") % 10 === 0), k = 3, keepDims = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(10L, 20L, 30L), out)
    assert(out.forall(r => r._2 == 3L && r._3 == 1.0), out)
  }

  test("tokenizerFertility: symbol-heavy source fragments into more pieces") {
    val docs = Seq(
      (1L, "plain words here", "clean"),
      (2L, "x=1;y+=2;//cmt", "code"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.tokenizerFertility(docs)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val clean = out("clean")
    assert(clean._3 == 3L && clean._4 == 3L && clean._5 == 1.0, clean)
    val code = out("code")
    assert(code._5 > 1.0, code) // pieces per whitespace word > 1
  }

  test("w34Volatility: alternating big/small moves cluster negatively, squares positively") {
    // revenue 100, 200, 100, 200, ... -> returns +1, -0.5 alternating:
    // raw lag-1 corr = -1 (perfect alternation), squared-returns corr
    // = -1 too (the squares alternate 1, 0.25). A constant-magnitude
    // series instead gives NaN variance -> just pin the algebra here.
    val orders = (1 to 10).map(d =>
      (d.toLong, if (d % 2 == 0) 200.0 else 100.0, ts(d)))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val out = Relational.w34Volatility(orders)
      .as[(Long, Double, Double)].collect().head
    assert(out._1 == 8L, out)
    assert(out._2 == -1.0, out)
    assert(out._3 == -1.0, out)
  }

  test("w35LateArrival: replay reorder yields late buckets; shares sum to 1") {
    val events = (1L to 40L).map(i =>
      (i, i % 4, "e", Timestamp.valueOf(f"2024-01-01 ${(i / 4) % 24}%02d:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Relational.w35LateArrival(events)
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(out.map(_._3).sum == 40L, out)
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-6, out)
    // the hash shuffle must produce SOME lateness on an hourly spread
    assert(out.exists(r => r._1 > 0 && r._3 > 0), out)
  }

  test("bfsBall: path graph balls grow by one hop per radius") {
    import graft.operators.GraphOps
    // path 0-1-2-3-4-5: seed 0 (0 % 997 == 0) reaches 1 / 2 / 3 nodes
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val out = GraphOps.bfsBall(pairs)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 1L, 2L, 3L, 3.0)), out)
    // a self-loop pair never puts the seed inside its own ball
    val looped = GraphOps.bfsBall(pairs.union(Seq((0L, 0L)).toDF("doc_a", "doc_b")))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(looped == out, looped)
  }

  test("pqCodeUtil: a collapsed subspace reports ~1 effective code") {
    // 16 identical vectors: every subspace maps all mass to one code
    val vecs = (1L to 16L).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.pqCodeUtil(vecs, m = 4, k = 4, centroidStep = 3)
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(0, 1, 2, 3), out)
    assert(out.forall(r => r._2 == 16L && r._3 == 1L &&
      r._4 == 1.0 && r._5 == 1.0), out)
  }

  test("survivorPolicySensitivity: disagreement iff the longest doc isn't the lowest id") {
    val docs = Seq(
      (1L, 10L), (2L, 99L), // comp {1,2}: min-id 1, longest 2 -> disagree
      (5L, 50L), (6L, 20L)) // comp {5,6}: min-id 5, longest 5 -> agree
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = PipelineOps.survivorPolicySensitivity(docs, pairs)
      .as[(Long, Long, Double)].collect().head
    assert(out == ((2L, 1L, 0.5)), out)
  }

  test("captureRecapture: Chapman estimate from two overlapping pair sets") {
    val mp = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val sp = Seq((1L, 2L), (7L, 8L)).toDF("doc_a", "doc_b")
    val out = DedupOps.captureRecapture(mp, sp)
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    // n1=3, n2=2, m=1 -> Chapman = 4*3/2 - 1 = 5
    assert(out._1 == 3L && out._2 == 2L && out._3 == 1L, out)
    assert(out._4 == 5.0 && out._5 == 0.6 && out._6 == 0.4, out)
  }

  test("noveltyCurve: repeated shingles stop being novel in later buckets") {
    // same trigram everywhere: bucket of the smallest doc_id owns it
    val docs = (1L to 20L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = PipelineOps.noveltyCurve(docs, buckets = 4)
      .as[(Int, Long, Long, Double)].collect().toSeq
    // every bucket has the one distinct shingle; only the first is novel
    assert(out.map(_._2).forall(_ == 1L), out)
    assert(out.map(_._3) == Seq(1L, 0L, 0L, 0L), out)
    assert(out.head._4 == 1.0 && out.tail.forall(_._4 == 0.0), out)
  }

  test("w36CohortLtv: cumulative value accrues per cohort age") {
    // one user, active in weeks 0 and 2, spending 10 then 5
    val events = Seq(
      (1L, 7L, "a", 10.0, Timestamp.valueOf("2024-01-02 00:00:00")),
      (2L, 7L, "a", 5.0, Timestamp.valueOf("2024-01-16 00:00:00")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = Relational.w36CohortLtv(events)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq((0L, 0L, 1L, 10.0, 10.0), (0L, 2L, 1L, 15.0, 15.0)), out)
  }

  test("a53VarianceRatio: a deterministic trend inflates VR above 1") {
    // alternating growth: var(1) > 0 while even-lag returns are all
    // ~0 -> VR(q) < 1 (mean reversion)
    val daily = (1 to 28).map(d =>
      (d.toLong, if (d % 2 == 0) 400.0 else 100.0, ts(d)))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val out = Relational.a53VarianceRatio(daily)
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // 2-period log returns of a perfect alternation are all ~0
    assert(out(2) < 0.1, out)
    assert(out.keySet == Set(2, 4, 8), out)
  }

  test("bbitMinhashCalibration: identical docs agree on every low bit") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val out = DedupOps.bbitMinhashCalibration(docs, pairs)
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(out == ((1L, 2L, 1.0, 1.0, 0.0)), out)
  }

  test("templateDetect: digit-varying form letters collapse onto one template") {
    val docs = (1L to 6L).map(i =>
      (i, s"Order $i shipped. Have a day", "forms")) :+
      ((7L, "entirely original prose", "prose"))
    val out = TextOps.templateDetect(docs.toDF("doc_id", "text", "source"), 5L)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("forms") == (("forms", 6L, 6L, 1.0)), out)
    assert(out("prose") == (("prose", 1L, 0L, 0.0)), out)
  }

  test("gradientEnergy: a horizontal ramp scores its exact step sum") {
    import graft.operators.Multimodal
    // 3x2 image, pixel = 10*x: gradients |10|,|10| per row, 2 rows
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3)
      img.setRGB(x, y, (10 * x) * 0x010101)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val out = Multimodal.gradientEnergy(
      Seq((5L, buf.toByteArray)).toDF("doc_id", "content"))
      .as[(Long, Int, Int, Long, Long, Double)].collect().toSeq
    assert(out == Seq((5L, 3, 2, 4L, 40L, 10.0)), out)
  }

  test("a54SpectralPeak: a pure 7-day wave dominates its own std") {
    // rev = 1000 + 100*cos(2*pi*t/7) over 28 days: amp ~= 100,
    // std = 100/sqrt(2) -> amp/std ~= sqrt(2)
    val orders = (0 until 28).map { t =>
      val rev = 1000.0 + 100.0 * math.cos(2 * math.Pi * t / 7)
      (t.toLong, math.round(rev * 100) / 100.0, ts(t + 1))
    }.toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val out = Relational.a54SpectralPeak(orders)
      .as[(Long, Double, Double, Double)].collect().head
    assert(out._1 == 28L, out)
    assert(math.abs(out._2 - 100.0) < 0.5, out)
    assert(math.abs(out._4 - math.sqrt(2.0)) < 0.01, out)
  }

  test("a55EntropyRate: a deterministic chain has zero conditional entropy") {
    // a->b->a->b...: next state is fully determined by current
    val events = (1L to 20L).map(i =>
      (i, 1L, if (i % 2 == 0) "a" else "b", Timestamp.valueOf(
        f"2024-01-01 00:${i}%02d:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Relational.a55EntropyRate(events)
      .as[(Long, Double, Double, Double)].collect().head
    assert(out._1 == 19L, out)
    assert(out._2 == 0.0, out) // H(next|cur) = 0
    assert(out._3 > 0.6 && out._4 == out._3, out) // gain = H0
  }

  test("w37RollingCorr: perfectly proportional series pin rolling r to 1") {
    val orders = (1 to 30).flatMap { d =>
      // cnt(d) = (d % 3) + 1 orders, each priced 10 -> rev = 10*cnt
      (1 to (d % 3) + 1).map(i => (d.toLong * 100 + i, 10.0, ts(d)))
    }.toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val out = Relational.w37RollingCorr(orders)
      .as[(java.sql.Date, Double)].collect().toSeq
    assert(out.size == 3, out) // 30 days -> 3 full 28-day windows
    assert(out.forall(_._2 == 1.0), out)
  }

  test("recallCurve: an exhaustive 'index' reaches recall 1 at every k") {
    import org.apache.spark.sql.functions._
    // tight single cluster -> every LSH bucket holds everything; with
    // few planes all vectors share a bucket, so recall = 1 across k
    val vecs = (1L to 40L).map(i =>
      (i, Array(1.0f, (1.0 + i / 1000.0).toFloat, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.recallCurve(
      vecs, vecs.filter(col("vec_id") % 10 === 0))
      .as[(Int, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(1, 5, 10), out)
    assert(out.forall(r => r._2 == 4L && r._3 == 1.0), out)
  }

  test("reviewQueue: sampled pairs carry jaccard, weighted jaccard, lengths") {
    val docs = Seq(
      (1L, "a b c", 5L), (2L, "a a b b c c", 11L), (5L, "x", 1L))
      .toDF("doc_id", "text", "n_chars")
    // affine key sampling: include every pair by using modulus 1
    val pairs = Seq((1L, 2L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val out = DedupOps.reviewQueue(docs, pairs, modulus = 1)
      .as[(Long, Long, Double, Double, Long, Long)].collect().toSeq
    // w_jaccard: min-sum 3 over union 3+6-3=6 -> 0.5
    assert(out == Seq((1L, 2L, 1.0, 0.5, 5L, 11L)), out)
  }

  test("q9NationMargin: exact-decimal margin over the five-table tree") {
    val nation = Seq((1L, "N_A", 0L)).toDF("n_nationkey", "n_name", "n_regionkey")
    val supplier = Seq((10L, "s", 1L)).toDF("s_suppkey", "s_name", "s_nationkey")
    val part = Seq((100L, 50.0)).toDF("p_partkey", "p_retailprice")
    val orders = Seq((1000L, ts(5))).toDF("o_orderkey", "o_orderdate")
    // rev = 200*(1-0.10) = 180; cost = 0.8*50*2 = 80 -> margin 100
    val lineitem = Seq((1000L, 100L, 10L, 2.0, 200.0, 0.10))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    val out = Relational.q9NationMargin(nation, supplier, part, orders, lineitem)
      .as[(String, Int, Double, Long)].collect().toSeq
    assert(out == Seq(("N_A", 2024, 100.0, 1L)), out)
  }

  test("componentEccentricity: a chain of 3 has ecc 2 from its min-id root") {
    import graft.operators.GraphOps
    // comp {1,2,3} chained 1-2-3 (root 1, ecc 2); comp {7,8} (ecc 1)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val out = GraphOps.componentEccentricity(pairs)
      .as[(Int, Long, Long)].collect().toSeq
    assert(out == Seq((1, 1L, 2L), (2, 1L, 3L)), out)
  }

  test("shardBalance: load ratios average to 1 over occupied shards") {
    val docs = (1L to 64L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = PipelineOps.shardBalance(docs)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out.map(_._2).sum == 64L, out)
    assert(out.map(_._3).sum == 192L, out) // 3 tokens per doc
    // identical doc masses: ratio = n_docs_shard / (64/8)
    out.foreach(r => assert(r._4 == r._2 / 8.0, r))
  }

  private lazy val tpchDims = {
    val region = Seq((0L, "EUROPE"), (1L, "ASIA"))
      .toDF("r_regionkey", "r_name")
    val nation = Seq((1L, "N_EU", 0L), (2L, "N_AS", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val supplier = Seq((10L, "sEU", 1L, 5.0), (20L, "sAS", 2L, 7.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    (region, nation, supplier)
  }

  test("q2MinCostSupplier: picks the cheapest observed unit price in region") {
    val (region, nation, supplier) = tpchDims
    val part = Seq((100L, 15), (200L, 9)).toDF("p_partkey", "p_size")
    // part 100: sEU ships 2 units for 40 (cost 20); sAS ships 1 for 10
    // but sits outside EUROPE -> sEU wins despite the higher price
    val lineitem = Seq(
      (100L, 10L, 2.0, 40.0), (100L, 20L, 1.0, 10.0),
      (200L, 10L, 1.0, 99.0)) // size-9 part: filtered out
      .toDF("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val out = Relational.q2MinCostSupplier(region, nation, supplier,
      part, lineitem)
      .as[(Long, Long, String, Double, String, Double)].collect().toSeq
    assert(out == Seq((100L, 10L, "sEU", 5.0, "N_EU", 20.0)), out)
  }

  test("q11ImportantShare: only parts above twice the uniform share survive") {
    val (region, nation, supplier) = tpchDims
    // ASIA supplier 20 ships parts 1..5 with values 60, 10, 10, 10, 10
    val lineitem = (Seq((1L, 60.0)) ++ (2L to 5L).map((_, 10.0))).map {
      case (p, v) => (p, 20L, v, 0.0)
    }.toDF("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val out = Relational.q11ImportantShare(nation, supplier, lineitem, region)
      .as[(Long, Double, Double)].collect().toSeq
    // uniform share = 1/5; only part 1 (0.6) clears 2/5
    assert(out == Seq((1L, 60.0, 0.6)), out)
  }

  test("q16SupplierVariety: counts distinct shippers, blacklisted brand dropped") {
    val part = Seq((1L, "Brand#11", 5), (2L, "Brand#45", 5))
      .toDF("p_partkey", "p_brand", "p_size")
    val lineitem = Seq((1L, 10L), (1L, 20L), (1L, 10L), (2L, 30L))
      .toDF("l_partkey", "l_suppkey")
    val out = Relational.q16SupplierVariety(part, lineitem)
      .as[(String, Int, Long)].collect().toSeq
    assert(out == Seq(("Brand#11", 5, 2L)), out)
  }

  test("q20DominantSupplier: flags shippers above 3x their fair share") {
    val (_, nation, supplier) = tpchDims
    // part 1: 4 suppliers, supplier 10 ships 85 of 100 -> share*k = 3.4
    val lineitem = (Seq((1L, 10L, 85.0)) ++
      Seq(20L, 30L, 40L).map((1L, _, 5.0)))
      .toDF("l_partkey", "l_suppkey", "l_quantity")
    val out = Relational.q20DominantSupplier(nation, supplier, lineitem)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(out == Seq((10L, "sEU", "N_EU", 1L)), out)
  }

  test("a57JarqueBera: a symmetric two-point series has skew 0, kurtosis -2") {
    val orders = (1 to 20).map(d =>
      (d.toLong, if (d % 2 == 0) 200.0 else 100.0, ts(d)))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val out = Relational.a57JarqueBera(orders)
      .as[(Long, Double, Double, Double)].collect().head
    assert(out._1 == 20L && out._2 == 0.0 && out._3 == -2.0, out)
    // JB = n/6 * (0 + 4/4) = 20/6
    assert(math.abs(out._4 - 20.0 / 6) < 1e-6, out)
  }

  test("a58Pacf: an alternating series has acf(1) < 0 and |pacf| <= 1 shape") {
    val orders = (1 to 24).map(d =>
      (d.toLong, if (d % 2 == 0) 200.0 else 100.0, ts(d)))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val out = Relational.a58Pacf(orders)
      .as[(Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1, 2, 3), out)
    assert(out(1)._2 < -0.9, out) // strong negative lag-1
    assert(out(1)._2 == out(1)._3, out) // pacf(1) = acf(1)
    // alternation is AR(1): pacf(2) collapses toward 0 vs acf(2) ~ +1
    assert(out(2)._2 > 0.9 && math.abs(out(2)._3) < 0.2, out)
  }

  test("erThresholdSweep: counts fall monotonically as the cutoff rises") {
    val pairs = Seq((1L, 2L, 0.93), (1L, 3L, 0.95), (2L, 3L, 0.99))
      .toDF("doc_a", "doc_b", "jw")
    val out = DedupOps.erThresholdSweep(pairs)
      .as[(Double, Long)].collect().toSeq
    assert(out == Seq((0.92, 3L), (0.94, 2L), (0.96, 1L), (0.98, 1L)), out)
  }

  test("contextWindowCensus: overflow counts and truncation waste per limit") {
    val docs = Seq(
      (1L, ("w " * 600).trim), // 600 tokens: over 512 by 88
      (2L, ("w " * 100).trim)) // under every limit
      .toDF("doc_id", "text")
    val out = PipelineOps.contextWindowCensus(docs)
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(512, 2048, 8192), out)
    assert(out.head._2 == 1L && out.head._3 == 0.5, out)
    assert(out.head._4 == BigDecimal(88.0 / 700)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble, out)
    assert(out.tail.forall(r => r._2 == 0L && r._4 == 0.0), out)
  }

  test("sourceSimilarity: identical profiles hit cosine 1, disjoint hit 0") {
    val docs = Seq(
      (1L, "alpha beta", "s1"), (2L, "alpha beta", "s2"),
      (3L, "zeta", "s3"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceSimilarity(docs)
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out(("s1", "s2")) == 1.0, out)
    // disjoint vocab -> no joined token rows -> pair absent (dot = 0)
    assert(!out.contains(("s1", "s3")) && !out.contains(("s2", "s3")), out)
  }

  test("qualitySweep: shares fall monotonically with the cutoff") {
    val docs = Seq(
      (1L, "the quick fox and the dog of the town went to a show"),
      (2L, "xxxx!!! ####"))
      .toDF("doc_id", "text")
    val out = PipelineOps.qualitySweep(docs)
      .as[(Double, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(0.1, 0.2, 0.3, 0.4), out)
    assert(out.head._2 >= out.last._2, out)
    // the stopword-rich doc clears every cutoff; the junk doc none
    assert(out.forall(r => r._2 == 1L && r._3 == 0.5), out)
  }

  test("a59Dispersion: constant daily counts have zero dispersion") {
    val orders = (1 to 28).flatMap(d =>
      (1 to 3).map(i => (d.toLong * 10 + i, 5.0, ts(d))))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val out = Relational.a59Dispersion(orders, epoch = "2024-01-01")
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    assert(out.size == 7 && out.map(_._1) == (0 to 6).toList, out)
    assert(out.forall(r => r._2 == 4L && r._3 == 3.0 &&
      r._4 == 0.0 && r._5 == 0.0), out)
  }

  test("minhashKSensitivity: identical docs estimate perfectly at every k") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val out = DedupOps.minhashKSensitivity(docs, pairs)
      .as[(Int, Long, Double)].collect().toSeq
    assert(out == Seq((4, 1L, 0.0), (8, 1L, 0.0), (16, 1L, 0.0)), out)
  }

  test("dimLabelAnova: a label-aligned coordinate yields a huge F") {
    val vecs = (1L to 40L).map { i =>
      val lab = if (i % 2 == 0) "a" else "b"
      // dim 0 separates labels (small within-label jitter keeps the
      // within-variance nonzero); dim 1 is noise-ish
      val base = if (lab == "a") 1.0f else -1.0f
      (i, Array(base + (i % 3) * 0.01f, (i % 5).toFloat), lab)
    }.toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.dimLabelAnova(vecs)
      .as[(Long, Long, Double)].collect().head
    assert(out._1 == 2L && out._2 == 40L, out)
    assert(out._3 > 1e4, out) // near-perfect separation -> huge F

    // perfect separation: within-variance 0 -> f_stat NULL, no error
    val sep = (1L to 10L).map { i =>
      val lab = if (i % 2 == 0) "a" else "b"
      (i, Array(if (lab == "a") 1.0f else -1.0f), lab)
    }.toDF("vec_id", "embedding", "label")
    val sepOut = SimilarityOps.dimLabelAnova(sep)
      .select("f_stat").collect().head
    assert(sepOut.isNullAt(0), sepOut)
  }

  test("a60Lorenz: equal customers split shares evenly; cum hits 1") {
    val orders = (1L to 20L).map(c => (c, c, 10.0, ts(1)))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val out = Relational.a60Lorenz(orders)
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(out.size == 10 && out.forall(r => r._2 == 2L && r._3 == 0.1), out)
    assert(out.last._4 == 1.0, out)
    assert(out.map(_._4) == out.map(_._4).sorted, out)
  }

  test("survivorBias: three populations with exact mean lengths") {
    val docs = Seq(
      (1L, 10L), (2L, 90L), // comp {1,2}: 1 survives, 2 drops
      (9L, 50L)) // untouched
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = PipelineOps.survivorBias(docs, pairs)
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("dropped", 1L, 90.0), ("survivor", 1L, 10.0),
      ("untouched", 1L, 50.0)), out)
  }
}
