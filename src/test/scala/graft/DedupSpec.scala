package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{DedupOps, TextOps}

/** Near-dup + text-analysis operator semantics on controlled inputs. */
class DedupSpec extends SparkSpec {

  test("simhash64: equal docs share both halves; halves are independent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different content about spark engines")).toDF("doc_id", "text")
    val sig = graft.operators.DedupOps.simhash64(docs)
      .as[(Long, Long, Long)].collect()
      .map { case (k, hi, lo) => k -> (hi, lo) }.toMap
    assert(sig(1L) == sig(2L)) // identical text → identical 64-bit signature
    assert(sig(1L) != sig(3L))
    // both halves carry signal (not a duplicated 32-bit hash)
    assert(sig(1L)._1 != sig(1L)._2)
    // every half fits a non-negative 32-bit range (exact in BIGINT)
    sig.values.foreach { case (hi, lo) =>
      assert(hi >= 0 && hi < (1L << 32) && lo >= 0 && lo < (1L << 32))
    }
  }
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  // docB = docA with one word changed -> high trigram overlap
  private val docB = "the quick brown fox leaps over the lazy dog again and again"
  // docC unrelated
  private val docC = "completely different content about spark query engines at scale"

  private def docs: DataFrame = Seq(
    (0L, docA, "en", "s", docA.length.toLong),
    (1L, docB, "en", "s", docB.length.toLong),
    (2L, docC, "en", "s", docC.length.toLong)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("word_shingles kernel matches the composable SQL formulation exactly") {
    import org.apache.spark.sql.functions._
    // edge cases: punctuation, case, digits, unicode, dup trigrams,
    // exactly 3 tokens, under 3 tokens, empty, null
    val texts = Seq(
      "The quick  brown FOX—jumps over² the: lazy dog 42 times, the quick brown fox again",
      "a b c", "a b", "", "Ünïcode tõkens résumé naïve 日本語 text here ok",
      "x1 y2 z3 x1 y2 z3 x1 y2 z3", null.asInstanceOf[String])
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // the SQL route is the round-2 shape (regex tokens + HOF trigrams)
    val sqlRef = df
      .select(col("doc_id"), expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
      .select(col("doc_id"), when(size(col("ws")) >= 3, array_distinct(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))")))
        .otherwise(array().cast("array<string>")).as("shs"))
      .as[(Long, Seq[String])].collect().toMap
    val viaKernel = df
      .select(col("doc_id"), graft.functions.GraftFunctions.word_shingles(col("text"), 3).as("shs"))
      .as[(Long, Seq[String])].collect().toMap
    texts.indices.foreach { i =>
      if (texts(i) == null) assert(viaKernel(i.toLong) == null || viaKernel(i.toLong).isEmpty)
      else assert(viaKernel(i.toLong) == sqlRef(i.toLong), s"doc $i")
    }
  }

  test("minhashLshIncremental matches a new doc against the corpus index only") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, base + " extra"),
      (2L, "completely unrelated text about columnar query engines and shuffles"))
      .toDF("doc_id", "text")
    val fresh = Seq((10L, base)).toDF("doc_id", "text")
    val index = DedupOps.minhashSignatures(corpus, 16)
    val got = DedupOps.minhashLshIncremental(
      DedupOps.minhashSignatures(fresh, 16), index)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L)), s"expected the planted near-dup only, got $got")
  }

  test("minhashLsh finds the planted near-dup pair and nothing else") {
    // jaccard(A,B) ~= 0.54: banding with 2-row bands can miss at that
    // level (p_band = j^2); 1-row bands make the miss probability
    // (1-j)^16 ~ 4e-6 — the recall dial, demonstrated deliberately.
    val pairs = DedupOps.minhashLsh(docs, numHashes = 16, rowsPerBand = 1, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("ngramJaccard computes exact jaccard for the near pair") {
    val row = DedupOps.ngramJaccard(docs, 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(row.map(r => (r._1, r._2)) == Seq((0L, 1L)))
    // docA/docB: 12 tokens -> 10 trigrams each; diff word hits 3 trigrams
    // (positions 3,4,5 for A side) -> intersection 7, union 13
    assert(math.abs(row.head._3 - 7.0 / 13.0) < 1e-12)
  }

  test("ngramJaccardPrefix matches the all-pairs join, boilerplate included") {
    // a corpus where EVERY doc shares a boilerplate sentence (a hub
    // shingle bucket, the all-pairs killer) plus two true near-dup
    // pairs; prefix filtering must return the identical exact pair set
    val boiler = "subscribe to our newsletter for updates today"
    val corpus = Seq(
      (0L, s"$docA $boiler"), (1L, s"$docB $boiler"),
      (2L, s"$docC $boiler"),
      (3L, s"an unrelated essay on distributed join algorithms $boiler"),
      (4L, s"an unrelated essay on distributed join algorithms rewritten $boiler"),
      (5L, s"short text $boiler")
    ).toDF("doc_id", "text")
    val exact = DedupOps.ngramJaccard(corpus, 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    val pref = DedupOps.ngramJaccardPrefix(corpus, 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(exact.nonEmpty) // fixture sanity: the near pairs survive 0.3
    assert(pref == exact)
  }

  test("minhashCalibration: exact twins agree on all 16 hashes at J = 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "entirely different content about spark engines here")).toDF("doc_id", "text")
    val got = graft.operators.DedupOps.minhashCalibration(docs,
      graft.operators.DedupOps.minhashLsh(docs, 16))
      .as[(Long, Long, Double)].collect().toSeq
    // the only verified pair is the twin: 16/16 agreement, exact J = 1
    assert(got == Seq((16L, 1L, 1.0)), got)
  }

  test("containmentPairs flags the quoted doc in the direction jaccard misses") {
    val a = "alpha beta gamma delta epsilon" // 3 trigrams
    val corpus = Seq(
      (0L, a),                                            // contained
      (1L, s"$a zeta eta theta iota kappa"),              // container: 8 trigrams
      (2L, "totally different words about something else entirely here")
    ).toDF("doc_id", "text")
    // jaccard(0,1) = 3/8 = 0.375 — a symmetric pass at 0.6 sees nothing
    assert(DedupOps.ngramJaccard(corpus, 0.6).count() == 0)
    val got = DedupOps.containmentPairs(corpus, 0.6)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, 1.0)), s"got $got")
  }

  test("shingleNovelty scores first-owner fraction by doc_id order") {
    val corpus = Seq(
      (0L, "a b c d"),   // trigrams {a b c, b c d}: both first here
      (1L, "a b c d e"), // {a b c, b c d, c d e}: only the last is new
      (2L, "x1 y2 z3")   // disjoint singleton
    ).toDF("doc_id", "text")
    val got = DedupOps.shingleNovelty(corpus)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 2L, 2L, 1.0), (1L, 3L, 1L, 1.0 / 3.0),
      (2L, 1L, 1L, 1.0)), s"got $got")
  }

  test("shingleNovelty survives a boilerplate shingle shared by every doc") {
    // the skew scenario the min-owner formulation exists for: ONE
    // shingle carried by the whole corpus (a footer/license line).
    // Every doc shares "common footer line"; each also has one private
    // trigram. Correctness: the boilerplate shingle is novel only for
    // doc 0; each private shingle is novel for its owner.
    val n = 500
    val corpus = (0 until n).map { i =>
      (i.toLong, s"u$i v$i w$i common footer line")
    }.toDF("doc_id", "text")
    val got = DedupOps.shingleNovelty(corpus)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (d, ns, nn, nv) => d -> ((ns, nn, nv)) }.toMap
    // trigrams of "u v w common footer line": u-v-w, v-w-common,
    // w-common-footer, common-footer-line (4 distinct; first 3 private)
    assert(got(0L) == (4L, 4L, 1.0), s"doc 0 owns everything: ${got(0L)}")
    (1 until n).foreach { i =>
      assert(got(i.toLong) == (4L, 3L, 0.75), s"doc $i: ${got(i.toLong)}")
    }
  }

  test("ngramJaccardSampled equals the full census restricted to the sample") {
    // 40 docs: pairs (2k, 2k+1) are near-dups; sample = doc_id % 10 == 0
    val corpus = (0 until 40).map { i =>
      val base = s"p${i / 2} q${i / 2} r${i / 2} s${i / 2} t${i / 2}"
      (i.toLong, if (i % 2 == 0) base else s"$base extra")
    }.toDF("doc_id", "text")
    val full = DedupOps.ngramJaccard(corpus, 0.5)
      .as[(Long, Long, Double)].collect()
      .filter(p => p._1 % 10 == 0 || p._2 % 10 == 0).toSet
    val sampled = DedupOps.ngramJaccardSampled(corpus, 0.5, 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(sampled == full, s"sampled=$sampled full=$full")
    assert(sampled.nonEmpty, "sample stratum must contain planted pairs")
  }

  test("identical docs have identical simhash; near docs are close") {
    val two = Seq((0L, docA, "en", "s", 1L), (1L, docA, "en", "s", 1L), (2L, docC, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sig = DedupOps.simhash(two).as[(Long, Long)].collect().toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(2L))
  }

  test("simhashPairs banding finds all pairs within hamming<=3 (exact, pigeonhole)") {
    val two = Seq((0L, docA, "en", "s", 1L), (1L, docA, "en", "s", 1L), (2L, docC, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = DedupOps.simhashPairs(two, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((0L, 1L, 0L)))
  }

  test("dedupExact groups case/whitespace variants under one fingerprint") {
    val variants = Seq(
      (10L, "Hello   World", "en", "s", 1L),
      (11L, "hello world", "en", "s", 1L),
      (12L, "HELLO\tWORLD", "en", "s", 1L),
      (13L, "goodbye world", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val groups = TextOps.dedupExact(variants)
      .select("survivor_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(groups == Map(10L -> 3L, 13L -> 1L))
  }

  test("tokenCount + quality ratios on a known string") {
    val one = Seq((0L, "The cat, the hat!", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = TextOps.qualityScore(one).collect().head
    assert(q.getAs[Long]("n_tokens") == 4)
    assert(q.getAs[Long]("n_punct") == 2) // ',' and '!'
    assert(q.getAs[Long]("n_stop") == 2)  // 'the' twice
    assert(math.abs(q.getAs[Double]("mean_token_len") - 12.0 / 4) < 1e-12)
  }

  test("languageId picks marker-majority language with deterministic tiebreak") {
    val mixed = Seq(
      (0L, "der hund und die katze ist da", "de", "s", 1L),
      (1L, "the dog and a cat of mine", "en", "s", 1L),
      (2L, "xyzzy plugh", "zz", "s", 1L) // no markers -> 'und' (undetermined)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.languageId(mixed)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out == Map(0L -> "de", 1L -> "en", 2L -> "und"))
  }

  test("bandedHamming64: pigeonhole-exact at <=3, single emission, bit-63 safe") {
    val base = 0x8000000000000001L // bit 63 set: sign handling must not leak
    val sig = Seq(
      (1L, base),
      (2L, base ^ 0x7L),                // distance 3 (all in band 0)
      (3L, base ^ 0x0001000100010000L), // distance 3, spread over 3 bands
      (4L, base ^ 0x0001000100010001L), // distance 4: excluded
      (5L, base)                        // distance 0 (exact dup)
    ).toDF("doc_id", "h")
    val pairs = graft.operators.DedupOps.bandedHamming64(sig)
      .as[(Long, Long, Long)].collect().toSet
    // qualifying pairs: (1,2)=3, (1,3)=3, (1,5)=0, (2,5)=3, (3,4)=1,
    // (3,5)=3; excluded: (1,4)=(4,5)=4, (2,3)=6, (2,4)=5 — and each
    // emitted pair appears exactly ONCE despite multi-band collisions
    assert(pairs == Set((1L, 2L, 3L), (1L, 3L, 3L), (1L, 5L, 0L),
      (2L, 5L, 3L), (3L, 4L, 1L), (3L, 5L, 3L)), pairs)
  }
}
