package graft

import graft.operators.PipelineOps

/** Dataset-assembly semantics on controlled inputs. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "one two three four five six seven", "web"),
    (2L, "alpha beta gamma", "web"),
    (3L, "x y z w q r s t u v", "books"),
    (4L, "", "books"),
    (5L, "lone", "books")
  ).toDF("doc_id", "text", "source")

  test("splitAssign is deterministic, total, and stable under repartitioning") {
    val a = PipelineOps.splitAssign(docs).collect()
    val b = PipelineOps.splitAssign(docs.repartition(7)).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 5)
    a.foreach { r =>
      val bucket = r.getInt(1)
      assert(bucket >= 0 && bucket <= 255)
      val expected = if (bucket < 204) "train" else if (bucket < 230) "val" else "test"
      assert(r.getString(2) == expected)
    }
  }

  test("splitLeakageSafe: a near-dup cluster lands whole in one split") {
    // pairs chain 1-2-3 into one component rooted at 1; docs 4,5 are
    // unpaired and must match plain splitAssign exactly
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = PipelineOps.splitLeakageSafe(docs, pairs)
      .as[(Long, Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(got.take(3).map(_._2).toSet == Set(1L), got)
    assert(got.take(3).map(_._3).toSet.size == 1, s"cluster split apart: $got")
    val plain = PipelineOps.splitAssign(docs)
      .as[(Long, Int, String)].collect().map(r => r._1 -> r._3).toMap
    got.drop(3).foreach { case (id, key, split) =>
      assert(key == id && split == plain(id), (id, key, split))
    }
    // no pairs at all → degenerates to splitAssign on every doc
    val none = PipelineOps.splitLeakageSafe(docs,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      .as[(Long, Long, String)].collect()
    none.foreach { case (id, key, split) =>
      assert(key == id && split == plain(id)) }
  }

  test("targetEncodeLoo: own label excluded, smoothing pulls to the prior") {
    // type a: S=30, n=2; type b: S=40, n=1; global prior = 70/3; m=2
    val ev = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 40.0))
      .toDF("event_id", "event_type", "value")
    val out = PipelineOps.targetEncodeLoo(ev, m = 2.0)
      .as[(Long, String, Double)].collect().toSeq
    // (30−10 + 2·70/3)/(1+2), (30−20 + …)/3, (40−40 + …)/(0+2)
    assert(out == Seq(
      (1L, "a", 22.222222222),
      (2L, "a", 18.888888889),
      (3L, "b", 23.333333333)), out)
    // a singleton category degrades to pure prior (no self-leak, no
    // division by zero) — row 3 above IS that case: (0 + 2·prior)/2
    assert(out(2)._3 == 23.333333333)
  }

  test("buildCorpus: clean survivors minus contaminated, split + packed") {
    // "the ... and ... of" markers keep lang_pred = en (clean requires
    // a detected language); 12+ tokens clear the min-token gate
    val words = "the tale and the story of " + (1 to 8).map(i => s"word$i").mkString(" ")
    val benchmark = Seq((100L, "the quick brown fox jumps over the lazy dog today", "eval"))
      .toDF("doc_id", "text", "source")
    val corpus = Seq(
      (1L, words, "web"),                          // clean, kept
      (2L, words, "web"),                          // exact dup of 1 -> dropped
      (3L, "intro the quick brown fox jumps over the lazy outro plus filler words here", "web"), // contaminated
      (4L, "tiny", "web"),                         // fails min-token gate
      (5L, words + " extra tail tokens appended", "books")) // clean, kept
      .toDF("doc_id", "text", "source")
    val out = PipelineOps.buildCorpus(corpus, benchmark, budgetTokens = 8L)
      .select("doc_id", "split", "batch_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 5L), s"got $out")
    out.foreach { case (_, split, batch) =>
      assert(Set("train", "val", "test")(split))
      assert(batch == 0L) // first doc in each (split, source) lane
    }
  }

  test("interleaveBySource orders docs proportionally to weights") {
    val mix = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"),
      (10L, "b"), (11L, "b")).toDF("doc_id", "source")
    // weight 2 source 'a': its rank-r doc keys at r/2; 'b' at r/1 —
    // reader sees two 'a' docs per 'b' doc
    val ordered = PipelineOps.interleaveBySource(mix, Map("a" -> 2.0))
      .select("doc_id").as[Long].collect().toSeq
    assert(ordered == Seq(1L, 2L, 10L, 3L, 4L, 11L), s"got $ordered")
  }

  test("decontaminate flags docs sharing >= minShared trigrams with the benchmark") {
    val benchmark = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today", "eval"))
      .toDF("doc_id", "text", "source")
    val corpus = Seq(
      // copies 8 benchmark tokens -> 6 shared trigrams: flagged
      (1L, "intro the quick brown fox jumps over the lazy outro", "web"),
      // shares only 1 trigram ("over the lazy"): clean at minShared=5
      (2L, "something else entirely but over the lazy evening", "web"),
      // no overlap at all: clean
      (3L, "completely unrelated text about columnar engines", "web"))
      .toDF("doc_id", "text", "source")
    val flagged = PipelineOps.decontaminate(corpus, benchmark, minShared = 5L)
      .as[(Long, Long)].collect().toSeq
    assert(flagged.map(_._1) == Seq(1L), s"got $flagged")
    assert(flagged.head._2 >= 5L)
  }

  test("chunkTokens cuts consecutive windows with a partial tail and drops empty docs") {
    val rows = PipelineOps.chunkTokens(docs, 3)
      .as[(Long, Int, String, Long)].collect().toSeq
    // doc 1: 7 tokens -> 3 chunks (3,3,1)
    assert(rows.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)) == Seq(
      (0, "one two three", 3L), (1, "four five six", 3L), (2, "seven", 1L)))
    // doc 4 (empty) yields no chunks; doc 5 yields a single short chunk
    assert(!rows.exists(_._1 == 4L))
    assert(rows.filter(_._1 == 5L).map(r => (r._2, r._3, r._4)) == Seq((0, "lone", 1L)))
    // reassembling chunks restores the token stream
    val reassembled = rows.filter(_._1 == 3L).sortBy(_._2).map(_._3).mkString(" ")
    assert(reassembled == "x y z w q r s t u v")
  }

  test("cleanCorpus equals the literal quality+langid+dedup composition") {
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      // passes all gates (en markers, low punct, >=10 tokens)
      (1L, "the cat and the dog walk of the house and a bird is here", "web", "en"),
      // exact duplicate of 1 -> not a survivor
      (2L, "the cat and the dog walk of the house and a bird is here", "web", "en"),
      // too short
      (3L, "the of and", "web", "en"),
      // no markers -> 'und'
      (4L, "zebra quokka wombat lemur gecko iguana ferret otter badger marmot", "zoo", "en"),
      // punctuation-heavy (>30% of chars)
      (5L, "the!!! cat??? and--- the### dog%%% the of and a is the of and a is!!!@@@###$$$%%%^^^&&&***((()))", "web", "en")
    ).map { case (id, text, src, lang) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val fused = PipelineOps.cleanCorpus(corpus)
      .select("doc_id").as[Long].collect().toSeq
    // literal composition: survivors of dedupExact that pass quality +
    // language gates — the semantics cleanCorpus fuses
    val q = graft.operators.TextOps.qualityScore(corpus)
      .filter(col("n_tokens") >= 10 && col("punct_ratio") <= 0.30)
      .select("doc_id")
    val l = graft.operators.TextOps.languageId(corpus)
      .filter(col("lang_pred") =!= "und").select("doc_id")
    val s = graft.operators.TextOps.dedupExact(corpus)
      .select(col("survivor_id").as("doc_id"))
    val composed = q.join(l, "doc_id").join(s, "doc_id")
      .orderBy("doc_id").as[Long].collect().toSeq
    assert(fused == composed)
    assert(fused == Seq(1L))
  }

  test("packByBudget cuts batches at the running-total boundary per source") {
    val rows = PipelineOps.packByBudget(docs, budgetTokens = 10L)
      .as[(Long, String, Long, Long)].collect().toSeq
    val web = rows.filter(_._2 == "web").map(r => (r._1, r._3, r._4))
    // web: doc1 n=7 (prefix 0 -> batch 0), doc2 n=3 (prefix 7 -> batch 0)
    assert(web == Seq((1L, 7L, 0L), (2L, 3L, 0L)))
    val books = rows.filter(_._2 == "books").map(r => (r._1, r._3, r._4))
    // books: doc3 n=10 (prefix 0 -> 0), doc4 n=0 (prefix 10 -> 1), doc5 (prefix 10 -> 1)
    assert(books == Seq((3L, 10L, 0L), (4L, 0L, 1L), (5L, 1L, 1L)))
  }

  test("stratifiedSample: rate 1.0 keeps all, 0.0 drops all, per-stratum only") {
    val langDocs = Seq(
      (1L, "en"), (2L, "en"), (3L, "en"), (4L, "de"), (5L, "de"), (6L, "fr"))
      .toDF("doc_id", "lang")
    val all = PipelineOps.stratifiedSample(langDocs, Map.empty)
    assert(all.count() == 6) // default rate 1.0 keeps everything
    val noEn = PipelineOps.stratifiedSample(langDocs, Map("en" -> 0.0))
      .as[(Long, String)].collect()
    assert(noEn.forall(_._2 != "en")) // en fully dropped
    assert(noEn.map(_._1).toSet == Set(4L, 5L, 6L)) // other strata untouched
    // determinism: same membership on every run and any partitioning
    val s1 = PipelineOps.stratifiedSample(langDocs, Map("en" -> 0.5)).collect()
    val s2 = PipelineOps.stratifiedSample(langDocs.repartition(5), Map("en" -> 0.5))
      .collect()
    assert(s1.toSeq == s2.toSeq)
  }

  test("capPerSource: longest-first per source, ties by doc_id, preFilter identical") {
    val r = PipelineOps.capPerSource(docs, 2)
      .as[(Long, String, Long, Long)].collect().toSeq
    // web: doc1 (7 toks) rnk 1, doc2 (3) rnk 2; books: doc3 (10) rnk 1,
    // doc5 (1) rnk 2; doc4 (0 toks) is cut by the cap
    assert(r == Seq((3L, "books", 10L, 1L), (5L, "books", 1L, 2L),
      (1L, "web", 7L, 1L), (2L, "web", 3L, 2L)))
    // cap of 1: only the per-source maxima survive
    val one = PipelineOps.capPerSource(docs, 1)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(one.map(t => (t._1, t._2)) == Seq((3L, "books"), (1L, "web")))
  }

  test("qualityQuantileFilter: per-source p50 gate, approx twin identical") {
    // books token counts {10, 0, 1} -> p50 = 1; web {7, 3} -> p50 = 5.0
    val r = PipelineOps.qualityQuantileFilter(docs, 0.5)
      .as[(Long, String, Long)].collect().toSeq
    assert(r == Seq((1L, "web", 7L), (3L, "books", 10L), (5L, "books", 1L)))
    // odd-sized groups: the median is an observed value,
    // web {7,3,5} -> 5, books {10,0,1} -> 1
    val odd = docs.union(Seq((6L, "a b c d e", "web"))
      .toDF("doc_id", "text", "source"))
    val exactOdd = PipelineOps.qualityQuantileFilter(odd, 0.5)
      .as[(Long, String, Long)].collect().toSeq
    assert(exactOdd == Seq((1L, "web", 7L), (3L, "books", 10L),
      (5L, "books", 1L), (6L, "web", 5L)))
    // q = 0 keeps everything (threshold = per-source minimum)
    assert(PipelineOps.qualityQuantileFilter(docs, 0.0).count() == 5)
  }

  test("shardShuffle: affine key, mod-8 shard, dense in-shard positions, rerun-stable") {
    val many = (1L to 100L).map(i => (i, s"doc $i", "web"))
      .toDF("doc_id", "text", "source")
    def key(id: Long) = ((id % 1000003L) * 1103515245L + 12345L) % 2147483648L
    val got = PipelineOps.shardShuffle(many)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == 100)
    assert(got.forall { case (id, k, sh, _) => k == key(id) && sh == k % 8 })
    // positions are a dense 1..n ranking by (key, doc_id) inside each shard
    got.groupBy(_._3).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._1))
      assert(sorted.map(_._4).toSeq == (1L to rows.length).toSeq)
    }
    // physical layout doesn't change the assignment (the reproducibility claim)
    val again = PipelineOps.shardShuffle(many.repartition(7))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("curriculumPhases: quality quartiles easy-to-hard, fixed-point domain") {
    val cd = Seq(
      (1L, "!!!"),          // punct-only → score −1.0 → hardest phase
      (2L, "zz zz"),        // no stopwords → 0.04
      (3L, "the cat sat"),  // 0.56
      (4L, "the the the")   // 1.56 → best phase
    ).toDF("doc_id", "text")
    val got = PipelineOps.curriculumPhases(cd)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got.map(r => r._1 -> r._3) ==
      Seq(1L -> 4, 2L -> 3, 3L -> 2, 4L -> 1), s"got $got")
    // fixed-point floor of an exactly-representable score
    assert(got.find(_._1 == 1L).get._2 == -1000000000000L)
  }

  test("zorderEvents: Morton interleave of user and time-of-day buckets") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:29:00") // minute 29 → dt 5
    val ev = Seq(
      (1L, ts, 3L),          // du 3 (0b11), dt 5 (0b101)
      (2L, ts, 259L),        // du 3 again (259 % 256)
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L) // du 0, dt 0
    ).toDF("event_id", "ts", "user_id")
    val got = PipelineOps.zorderEvents(ev)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // interleave du bits to odd positions, dt bits to even:
    // du=3 → 2+8, dt=5 → 1+16 ⇒ zval 27
    assert(got == Seq(
      (3L, 0L, 0L, 0L, 0L),
      (1L, 3L, 5L, 27L, 0L),
      (2L, 3L, 5L, 27L, 0L)), s"got $got")
    // both engine spellings of the generator emit the same structure
    val spark = PipelineOps.zvalExprText("a", "b", 2, "div")
    val duck = PipelineOps.zvalExprText("a", "b", 2, "//")
    assert(spark.replace(" div ", " // ") == duck)
  }

  test("repeatUpsample: repeats < 1 drops the source, never emits [1, 0]") {
    val r = PipelineOps.repeatUpsample(docs, Map("books" -> 2, "web" -> 0))
      .as[(Long, String, Int)].collect().toSeq
    // web gone entirely; each books doc exactly at epochs 1..2
    assert(r == Seq((3L, "books", 1), (3L, "books", 2), (4L, "books", 1),
      (4L, "books", 2), (5L, "books", 1), (5L, "books", 2)))
    // defaultRepeats = 0 drops everything not explicitly listed
    val d = PipelineOps.repeatUpsample(docs, Map("web" -> 1), defaultRepeats = 0)
    assert(d.select("source").distinct().as[String].collect().toSeq == Seq("web"))
  }

  test("chunkSliding: 50% overlap, off-grid tail covered, short docs one chunk") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" "), "en", "s", 0L),
      (2L, "only three words", "en", "s", 0L),
      (3L, (1 to 11).map(i => s"v$i").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = PipelineOps.chunkSliding(docs, size = 4, stride = 2)
      .as[(Long, Int, String, Long)].collect().toSeq
    // doc 1: 10 tokens, grid 0,2,4,6 (tail 6 on-grid) -> 4 chunks;
    // adjacent chunks share 2 boundary tokens; final chunk full
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2) == Seq(0, 1, 2, 3))
    assert(d1.head._3 == "w1 w2 w3 w4" && d1(1)._3 == "w3 w4 w5 w6")
    assert(d1.last._3 == "w7 w8 w9 w10" && d1.forall(_._4 == 4L))
    // doc 2: 3 tokens < size -> one clamped chunk
    val d2 = out.filter(_._1 == 2L)
    assert(d2 == Seq((2L, 0, "only three words", 3L)), s"got $d2")
    // doc 3: 11 tokens, grid 0,2,4,6 + OFF-GRID tail 7 -> 5 chunks and
    // token v11 IS covered (the tail-coverage contract)
    val d3 = out.filter(_._1 == 3L)
    assert(d3.map(_._2) == Seq(0, 1, 2, 3, 4), s"got $d3")
    assert(d3.last._3 == "v8 v9 v10 v11" && d3.forall(_._4 == 4L), s"got $d3")
  }

  test("mixtureWeights: budget shares cap at 1, unlisted langs weight 0") {
    // en: 100 tokens obs (400 chars), de: 25 (100 chars), fr: 10 (40)
    val docs = Seq(
      (1L, "x" * 400, "en", "s", 400L),
      (2L, "y" * 100, "de", "s", 100L),
      (3L, "z" * 40, "fr", "s", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = PipelineOps.mixtureWeights(docs, budgetTokens = 100L,
        Map("en" -> 0.5, "de" -> 0.5))
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // en: target 50 of 100 observed -> 0.5; de: target 50 of 25 -> capped 1
    assert(out("en") == ((100L, 0.5, 0.5)), out)
    assert(out("de") == ((25L, 0.5, 1.0)), out)
    assert(out("fr") == ((10L, 0.0, 0.0)), out)
  }

  test("weightedSample: rank order equals an independent A-ES reference walk") {
    val ds = (1L to 20L).map(i => (i, "t", "en", "s", i * 37 % 100 + 1))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // reference: same md5-derived uniform and log-domain key, computed
    // with java.security directly (not the operator's expression tree)
    def key(id: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4294967296.0
      val k = math.log(u) / math.max(w.toDouble, 1.0)
      java.math.BigDecimal.valueOf(k)
        .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val expect = (1L to 20L).map(i => (i, key(i, i * 37 % 100 + 1)))
      .sortBy { case (id, k) => (-k, id) }.take(5).map(_._1)
    val got = PipelineOps.weightedSample(ds, k = 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == expect, s"got $got expect $expect")
  }

  test("temperatureMixture: alpha < 1 upsamples the minority language") {
    val ds = Seq.tabulate(10)(i =>
      (i.toLong, "x" * (if (i < 8) 400 else 100), if (i < 8) "en" else "fr",
        "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = PipelineOps.temperatureMixture(ds)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // est tokens = chars div 4 per doc: en 8·100 = 800, fr 2·25 = 50
    assert(out("en")._2 == 800L && out("fr")._2 == 50L)
    val pe = math.pow(800.0 / 850.0, 0.3); val pf = math.pow(50.0 / 850.0, 0.3)
    assert(math.abs(out("fr")._4 - pf / (pe + pf)) < 1e-9, out("fr"))
    // the whole point: the tail's training share rises above its raw share
    assert(out("fr")._4 > out("fr")._3 && out("en")._4 < out("en")._3)
    // shares sum to ~1
    assert(math.abs(out("en")._4 + out("fr")._4 - 1.0) < 1e-9)
  }
}
