package graft

import java.sql.Timestamp

import graft.operators.{PipelineOps, Relational, TextOps}

/** Constructed-data semantics for the round-8 breadth operators (exact
  * AUC, Poisson-bootstrap CI, retention cohorts, lang-ID kappa,
  * dataset content hash); the DuckDB oracles cover them at data scale,
  * these pin the hand-computable edge cases.
  */
class BreadthOps7Spec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("a40Auc: perfect separation is 1.0; all-tied scores are 0.5") {
    // positives strictly above negatives -> AUC 1
    val sep = Seq(
      (1.0, "view"), (2.0, "view"), (3.0, "purchase"), (4.0, "purchase"))
      .toDF("value", "event_type")
    val r1 = Relational.a40Auc(sep).as[(Long, Long, Double)].head()
    assert(r1 == ((2L, 2L, 1.0)))
    // one shared value for everything -> tie-average = 0.5 exactly
    val tied = Seq(
      (5.0, "purchase"), (5.0, "view"), (5.0, "purchase"), (5.0, "view"))
      .toDF("value", "event_type")
    val r2 = Relational.a40Auc(tied).as[(Long, Long, Double)].head()
    assert(r2 == ((2L, 2L, 0.5)))
    // hand case: pos {3, 1}, neg {2}. pairs: (3>2)=1, (1<2)=0 -> 0.5
    val mix = Seq((3.0, "purchase"), (1.0, "purchase"), (2.0, "view"))
      .toDF("value", "event_type")
    val r3 = Relational.a40Auc(mix).as[(Long, Long, Double)].head()
    assert(r3 == ((2L, 1L, 0.5)))
  }

  test("a41BootstrapCi: constant values pin every replicate mean and the CI") {
    // every resample of a constant column has the same mean, so the
    // whole bootstrap distribution collapses to the constant and the
    // interpolated CI endpoints equal it exactly
    val ev = (1L to 200L).map(i => (i, "purchase", 42.5))
      .toDF("event_id", "event_type", "value")
    val (nReps, lo, hi) =
      Relational.a41BootstrapCi(ev, b = 16).as[(Long, Double, Double)].head()
    assert(nReps == 16L)
    assert(lo == 42.5 && hi == 42.5)
    // non-purchase rows are excluded from the resampled universe
    val mixed = ev.union(Seq((999L, "view", 1.0e9))
      .toDF("event_id", "event_type", "value"))
    val (_, lo2, hi2) =
      Relational.a41BootstrapCi(mixed, b = 16).as[(Long, Double, Double)].head()
    assert(lo2 == 42.5 && hi2 == 42.5)
  }

  test("w28Retention: cohorts by first week, ages exact, rates per cohort") {
    val ev = Seq(
      // user 1: weeks 0 and 1; user 2: week 0 only -> cohort 0 size 2
      (1L, 1L, "2024-01-02 10:00:00"), (2L, 1L, "2024-01-09 10:00:00"),
      (3L, 2L, "2024-01-03 10:00:00"),
      // user 3 first appears week 2 -> its own cohort, size 1
      (4L, 3L, "2024-01-16 10:00:00"), (5L, 3L, "2024-01-17 10:00:00"))
      .map { case (e, u, t) => (e, u, ts(t), "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Relational.w28Retention(ev)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 2L, 2L, 1.0), // both cohort-0 users active in week 0
      (0L, 1L, 1L, 2L, 0.5), // only user 1 returns in week 1
      (2L, 0L, 1L, 1L, 1.0))) // user 3's singleton cohort
  }

  test("langIdKappa: perfect marker docs score kappa 1; chance pins to 0 guard") {
    // one unambiguous doc per language -> diagonal confusion, kappa 1
    val docs = Seq(
      (1L, "the a and of is", "en"),
      (2L, "der die und ist das", "de"),
      (3L, "el la y es de", "es"),
      (4L, "le la et est un", "fr"))
      .map { case (id, t, l) => (id, t, l, "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (n, diag, kappa) =
      TextOps.langIdKappa(docs).as[(Long, Long, Double)].head()
    assert(n == 4L && diag == 4L && kappa == 1.0)
    // single class on both axes: pe = 1 -> pinned 0.0, not NaN
    val mono = Seq((1L, "the a and", "en"), (2L, "the of is", "en"))
      .map { case (id, t, l) => (id, t, l, "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (_, _, k2) = TextOps.langIdKappa(mono).as[(Long, Long, Double)].head()
    assert(k2 == 0.0)
  }

  test("datasetHash: order-invariant, content-sensitive, rollup adds up") {
    val rows = Seq(
      (1L, "alpha text", "en", "web", 10L),
      (2L, "beta text", "de", "web", 9L),
      (3L, "gamma text", "en", "books", 10L))
    def df(s: Seq[(Long, String, String, String, Long)]) =
      s.toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = PipelineOps.datasetHash(df(rows))
      .as[(String, Long, String)].collect().toSeq
    val b = PipelineOps.datasetHash(df(rows.reverse))
      .as[(String, Long, String)].collect().toSeq
    assert(a == b, "digest must not depend on row order")
    assert(a.map(_._1) == Seq("__all__", "books", "web"))
    assert(a.find(_._1 == "__all__").get._2 == 3L)
    // the rollup digest is the exact sum of the per-source digests
    val bySrc = a.filter(_._1 != "__all__").map(r => BigInt(r._3)).sum
    assert(BigInt(a.find(_._1 == "__all__").get._3) == bySrc)
    // flipping one character moves the digest
    val c = PipelineOps.datasetHash(df(rows.updated(0,
      (1L, "alpha texT", "en", "web", 10L))))
      .as[(String, Long, String)].collect().toSeq
    assert(c.find(_._1 == "web").get._3 != a.find(_._1 == "web").get._3)
  }

  test("heapsLaw: an all-new-vocab corpus fits beta 1, k 1 exactly") {
    // every token is globally unique -> cumulative vocab == cumulative
    // tokens at every cut -> y = x -> slope 1, intercept 0
    val docs = (0L until 16L).map { i =>
      val toks = (0 until 10).map(j => s"tok${i}x$j").mkString(" ")
      (i, toks, "en", "s0", toks.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val (n, tt, tv, beta, k) = graft.operators.TextOps.heapsLaw(docs)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(tt == 160L && tv == 160L)
    assert(n > 2)
    assert(beta == 1.0 && k == 1.0)
  }

  test("thresholdSweep: identical-pair corpus is flat across cuts; math holds") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base), (2L, base), // exact dups: jaccard 1.0 at every cut
      (7L, "totally different content about columnar engines and shuffle plans here now"))
      .map { case (i, t) => (i, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.DedupOps.thresholdSweep(docs,
      graft.operators.DedupOps.minhashLsh(docs))
      .as[(Double, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(0.95, 0.97, 0.985))
    out.foreach { case (_, nPairs, nClusters, nSurvivors) =>
      assert(nPairs == 1L && nClusters == 1L && nSurvivors == 2L)
    }
  }

  test("participationRatio: counts exactly the dims that carry variance") {
    val vecs = Seq(
      Array(1.0f, 1.0f, 5.0f), Array(1.0f, -1.0f, 5.0f),
      Array(-1.0f, 1.0f, 5.0f), Array(-1.0f, -1.0f, 5.0f))
      .zipWithIndex.map { case (e, i) => (i.toLong, e, "l0") }
      .toDF("vec_id", "embedding", "label")
    val (nDims, pr, ratio) = graft.operators.SimilarityOps
      .participationRatio(vecs).as[(Long, Double, Double)].head()
    // dims 0,1 have variance 1, dim 2 has variance 0 -> PR = 2 of 3
    assert(nDims == 3L && pr == 2.0)
    assert(math.abs(ratio - 2.0 / 3.0) < 1e-9)
  }

  test("w29Stickiness: daily repeats fold into the distinct projection") {
    val ev = Seq(
      // week 0: user 1 active 2 days (one day twice), user 2 active 1 day
      (1L, 1L, "2024-01-01 08:00:00"), (2L, 1L, "2024-01-01 09:00:00"),
      (3L, 1L, "2024-01-02 08:00:00"), (4L, 2L, "2024-01-02 12:00:00"))
      .map { case (e, u, t) => (e, u, ts(t), "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Relational.w29Stickiness(ev)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    // 2 active days, wau 2, (day,user) pairs 3 -> dau_avg 1.5, s 0.75
    assert(out == Seq((0L, 2L, 2L, 1.5, 0.75)))
  }

  test("imageEntropy: solid frame scores 0 bits; two equal tones score 1") {
    def png(f: (Int, Int) => Int, w: Int = 8, h: Int = 4): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val solid = png((_, _) => 0x404040)
    val split = png((x, _) => if (x < 4) 0x000000 else 0xffffff)
    val images = Seq((1L, solid), (2L, split)).toDF("doc_id", "content")
    val out = graft.operators.Multimodal.imageEntropy(images)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 32L, 0.0), (2L, 32L, 1.0)))
  }

  test("a42MadOutliers: hand-computed median/MAD and the 3xMAD cut") {
    // type A cents: {100, 200, 300, 400, 10000} -> med 300, ad {200,
    // 100, 0, 100, 9700} -> mad 100, outliers: ad > 300 -> only 9700
    val ev = Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex.map {
      case (v, i) => (i.toLong, "A", v)
    }.toDF("event_id", "event_type", "value")
    val out = Relational.a42MadOutliers(ev)
      .as[(String, Long, Double, Double, Long)].head()
    assert(out == (("A", 5L, 300.0, 100.0, 1L)))
  }

  test("w31Interarrival: exact micro gaps and integer-domain percentiles") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:00:01"),
      (3L, "2024-01-01 00:00:03"), (4L, "2024-01-01 00:00:07"))
      .map { case (e, t) => (e, 1L, ts(t), "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val (tpe, n, p50, p95, mx) = Relational.w31Interarrival(ev)
      .as[(String, Long, Double, Double, Double)].head()
    // gaps: 1s, 2s, 4s -> p50 = 2.0, p95 interpolates 2..4 at 0.9,
    // max 4
    assert(tpe == "view" && n == 3L && p50 == 2.0 && mx == 4.0)
    assert(math.abs(p95 - (2.0 + 0.9 * 2.0)) < 1e-6)
  }

  test("jsSourceDrift: identical mixes score 0; disjoint vocab matches the formula") {
    val same = Seq(
      (1L, "alpha beta", "en", "s0", 10L), (2L, "alpha beta", "en", "s1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out0 = TextOps.jsSourceDrift(same)
      .as[(String, Long, Double)].collect().toSeq
    assert(out0.map(_._3) == Seq(0.0, 0.0))
    // s0 = {a}, s1 = {b}: closed form .5*log2(4/3) + .5*(.5*log2(2/3) + .5)
    val disj = Seq(
      (1L, "aaa", "en", "s0", 3L), (2L, "bbb", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val expected = 0.5 * (math.log(4.0 / 3.0) / math.log(2.0)) +
      0.5 * (0.5 * (math.log(2.0 / 3.0) / math.log(2.0)) + 0.5)
    TextOps.jsSourceDrift(disj).as[(String, Long, Double)].collect()
      .foreach { case (_, n, j) =>
        assert(n == 1L)
        assert(math.abs(j - expected) < 1e-9)
      }
  }

  test("lshBucketCensus: dup docs share every band bucket; totals add up") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, base), (2L, base),
      (7L, "wholly different words about shuffle plans and columnar scans ok"))
      .map { case (i, t) => (i, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.DedupOps.lshBucketCensus(docs)
      .as[(Int, Long, Long)].collect().toSeq
    // 8 bands; per band the two dups share one bucket (size 2) and the
    // odd doc sits alone (size 1)
    assert(out.map(_._1).distinct.sorted == (0 until 8))
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(r => r._2 * r._3).sum == 3L, s"per-band doc mass: $rows")
      assert(rows.exists(r => r._2 == 2L && r._3 == 1L))
    }
  }

  test("hubnessCensus: a clique hub profile plus the zero-occurrence tail") {
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f)), (2L, Array(1.0f, 1.0f)), (3L, Array(1.0f, 1.0f)),
      (4L, Array(-1.0f, -1.0f)))
      .map { case (i, e) => (i, e, "l0") }
      .toDF("vec_id", "embedding", "label")
    val out = graft.operators.SimilarityOps.hubnessCensus(vecs)
      .as[(Long, Long)].collect().toMap
    // vectors 1-3 collide in one bucket and fill each other's lists
    // (2 occurrences each); vector 4 shares no bucket -> occurrence 0
    assert(out == Map(0L -> 1L, 2L -> 3L))
  }

  test("j15SkewProbe: key-count summary and skew ratio by hand") {
    // keys: 1 -> 4 rows, 2 -> 1, 3 -> 1: mean 2.0, max 4, skew 2.0
    val li = Seq(1L, 1L, 1L, 1L, 2L, 3L).zipWithIndex.map {
      case (k, i) => (k, i.toLong, 1.0)
    }.toDF("l_orderkey", "l_partkey", "l_quantity")
    val (nk, nr, mean, p99, mx, skew) = Relational.j15SkewProbe(li)
      .as[(Long, Long, Double, Double, Long, Double)].head()
    assert(nk == 3L && nr == 6L && mean == 2.0 && mx == 4L && skew == 2.0)
    assert(p99 >= 1.0 && p99 <= 4.0)
  }

  test("dupRateBySource: only the mirrored source carries the dup mass") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "mirror"), (2L, base, "mirror"), // near-dup pair
      (3L, "completely different words about shuffle plans and scans", "clean"),
      (4L, "another unrelated document on columnar formats and codecs", "clean"))
      .map { case (i, t, src) => (i, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.DedupOps.dupRateBySource(docs,
      graft.operators.DedupOps.minhashLsh(docs))
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("clean", 2L, 0L, 0.0), ("mirror", 2L, 2L, 1.0)))
  }

  test("audioClipping: counts exactly the near-full-scale samples") {
    // hand-built 16-bit LE PCM wrapped as WAV: samples
    // {0, 31000, -31000, 100} -> 2 clipped at the 30000 cut
    val samples = Seq[Short](0, 31000, -31000, 100)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, j) =>
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val audio = Seq((1L, bos.toByteArray)).toDF("doc_id", "content")
    val out = graft.operators.Multimodal.audioClipping(audio)
      .as[(Long, Long, Long, Double)].head()
    assert(out == ((1L, 4L, 2L, 0.5)))
  }

  test("a44SeasonalityStrength: perfect weekly pattern explains all variance") {
    // two full weeks, count = dow + 1 every day: within-dow deviation 0
    val ev = (0 until 14).flatMap { d =>
      (0 to (d % 7)).map(i => (d * 100L + i,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).atTime(10, 0)), 1L))
    }.map { case (e, t, u) => (e, u, t, "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val (nDays, ssw, sst, strength) = Relational.a44SeasonalityStrength(ev)
      .as[(Long, Double, Double, Double)].head()
    assert(nDays == 14L && ssw == 0.0 && sst > 0 && strength == 1.0)
    // constant series: ss_total 0 -> pinned 0.0, not NaN
    val flat = (0 until 7).map { d => (d.toLong, 1L,
      java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(d).atTime(9, 0)), "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val (_, _, sst2, st2) = Relational.a44SeasonalityStrength(flat)
      .as[(Long, Double, Double, Double)].head()
    assert(sst2 == 0.0 && st2 == 0.0)
  }

  test("a45Changepoint: finds the level-shift day, ties to the earliest") {
    // days 0-3 have 1 event/day, days 4-7 have 5/day -> split at day 4
    val ev = (0 until 8).flatMap { d =>
      val n = if (d < 4) 1 else 5
      (0 until n).map(i => (d * 10L + i,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).atTime(12, 0))))
    }.map { case (e, t) => (e, 1L, t, "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val (nSplits, day, gap) = Relational.a45Changepoint(ev)
      .as[(Long, Long, Double)].head()
    assert(nSplits == 7L && day == 4L && gap == 4.0)
  }

  test("splitLeakageAudit: the component-hashed scheme audits to zero") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 12 dup clusters of 2 -> some naive pairs straddle split borders;
    // the invariants: equal pair mass per scheme, safe cross == 0
    val docs = (0L until 12L).flatMap { i =>
      Seq((i * 2, base + s" variant$i"), (i * 2 + 1, base + s" variant$i"))
    }.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = graft.operators.DedupOps.minhashLsh(docs)
      .select("doc_a", "doc_b")
    val rows = PipelineOps.splitLeakageAudit(docs, pairs)
      .as[(String, Long, Long, Double)].collect().toSeq
    val bySch = rows.map(r => r._1 -> r).toMap
    assert(rows.map(_._1).sorted == Seq("component_hashed", "naive"))
    assert(bySch("naive")._2 == bySch("component_hashed")._2)
    assert(bySch("naive")._2 >= 12L, "every planted dup pair must verify")
    assert(bySch("component_hashed")._3 == 0L &&
      bySch("component_hashed")._4 == 0.0,
      "a near-dup pair must never straddle a component-hashed split")
  }
}
