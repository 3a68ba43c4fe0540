package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, PipelineOps, Relational, SimilarityOps, TextOps}

/** Round-9 breadth wave 2: cross-source pair census, mixture shift
  * under dedup, held-out n-gram coverage, nearest-centroid label
  * coherence, Markov stationary distribution.
  */
class BreadthOps9Spec extends SparkSpec {
  import spark.implicits._

  private def md5Bucket(id: Long): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    ((d(0) & 0xff)) // first two hex chars = first byte
  }

  test("crossSourcePairs: within vs cross source pair census") {
    val docs = Seq(
      (1L, "sA"), (2L, "sA"), (3L, "sB"), (4L, "sB"), (5L, "sC"))
      .toDF("doc_id", "source")
    // (1,2) within sA; (2,3) cross sA-sB; (3,4) within sB; (1,5) cross
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L))
      .toDF("doc_a", "doc_b")
    val out = DedupOps.crossSourcePairs(docs, pairs)
      .as[(String, String, Int, Long)].collect().toSeq
    assert(out == Seq(
      ("sA", "sA", 0, 1L), ("sA", "sB", 1, 1L),
      ("sA", "sC", 1, 1L), ("sB", "sB", 0, 1L)), out)
  }

  test("mixtureShift: losers shift share toward the clean source") {
    // sX: 4 docs, 2 lost to dedup; sY: 4 docs, none lost
    val docs = Seq(
      (1L, "sX"), (2L, "sX"), (3L, "sX"), (4L, "sX"),
      (5L, "sY"), (6L, "sY"), (7L, "sY"), (8L, "sY"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b") // comp {1,2,3}
    val out = PipelineOps.mixtureShift(docs, pairs)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    val sx = out.find(_._1 == "sX").get
    val sy = out.find(_._1 == "sY").get
    assert(sx == (("sX", 4L, 2L, 0.5, round9(2.0 / 6), round9(2.0 / 6 - 0.5))), sx)
    assert(sy == (("sY", 4L, 4L, 0.5, round9(4.0 / 6), round9(4.0 / 6 - 0.5))), sy)
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("splitNgramCoverage: shared text covers fully, held-out-only text doesn't") {
    val ids = (1L to 60L)
    val train = ids.filter(i => md5Bucket(i) < 204)
    val heldout = ids.filter(i => md5Bucket(i) >= 204)
    assert(train.nonEmpty && heldout.nonEmpty) // both splits occupied
    // identical text everywhere -> every held-out gram is in train
    val docs = ids.map(i => (i, "alpha beta")).toDF("doc_id", "text")
    val full = TextOps.splitNgramCoverage(docs)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(full == Seq((1, 2L, 2L, 1.0), (2, 1L, 1L, 1.0)), full)
    // one held-out doc gets a unique phrase -> its grams are uncovered
    val oddId = heldout.head
    val docs2 = ids.map(i =>
      (i, if (i == oddId) "gamma delta" else "alpha beta"))
      .toDF("doc_id", "text")
    val part = TextOps.splitNgramCoverage(docs2)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(part == Seq(
      (1, 4L, 2L, 0.5), (2, 2L, 1L, 0.5)), part)
  }

  test("nearestCentroid: separated labels classify, a planted flip fails") {
    // label 0 sits at e1, label 1 at e2; one label-0 vector planted at e2
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.0f, 1.0f), 0)) // the flip
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.nearestCentroid(emb)
      .as[(Int, Long, Long, Double)].collect().toSeq
    // label 0: 3 vecs, the planted one lands on centroid 1 -> 2 correct
    // (centroid 0 is dragged toward e2 but stays closer to e1)
    assert(out == Seq((0, 3L, 2L, round6(2.0 / 3)), (1, 2L, 2L, 1.0)), out)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("transitiveInflation: a 3-chain closes to 3 pairs from 2") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = DedupOps.transitiveInflation(pairs)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(out == ((2L, 3L, 1L, 3L, 1.5)), out)
  }

  test("a48PartialCorr: x linear in y keeps partial_r at 1 for any z") {
    // value = 2*hour + 5 -> r_xy = 1 and the recursion collapses to 1
    val events = (0 until 96).map { i =>
      val hour = i % 24
      val day = i / 24 // varies dow across 4 days
      // base is midnight UTC so hour(ts) == i % 24 exactly
      (i.toLong, new java.sql.Timestamp(
        1700006400000L + day * 86400000L + hour * 3600000L),
        1L, "click", 2.0 * hour + 5.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Relational.a48PartialCorr(events)
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(out._2 == 1.0, out) // r_xy
    assert(out._5 == 1.0, out) // partial_r
  }

  test("termBurstiness: clumped bigram scores high, uniform scores low") {
    val docs = Seq(
      (1L, "a b x a b y a b z a b"), // "a b" x4 in one doc
      (2L, "c d"), (3L, "c d"), (4L, "c d")) // "c d" once per doc
      .toDF("doc_id", "text")
    val out = TextOps.termBurstiness(docs)
      .as[(String, Long, Long, Double)].collect().toSeq
    val ab = out.find(_._1 == "a b").get
    val cd = out.find(_._1 == "c d").get
    assert(ab == (("a b", 1L, 4L, 3.0)), ab)  // (16 - 16/4) / 4
    assert(cd == (("c d", 3L, 3L, 0.25)), cd) // (3 - 9/4) / 3
  }

  test("silhouette: point-mass labels score 1; single label pins to 0") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.silhouette(emb)
      .as[(Int, Long, Double)].collect().toSeq
    assert(out == Seq((0, 2L, 1.0), (1, 2L, 1.0)), out)
    val single = Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(0.5f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val s = SimilarityOps.silhouette(single)
      .as[(Int, Long, Double)].collect().toSeq
    assert(s == Seq((0, 2L, 0.0)), s)
  }

  test("asof tolerance composition: stale matches null out, fresh survive") {
    val clicks = Seq(
      (10L, 1L, ts(100000L)), // 50s after purchase -> fresh
      (11L, 1L, ts(400000L)), // 350s after purchase -> stale at 300s tol
      (12L, 2L, ts(100000L))) // no purchase at all
      .toDF("click_id", "user_id", "click_ts")
    val purchases = Seq((1L, ts(50000L), 99L))
      .toDF("p_user", "purchase_ts", "purchase_id")
    val j = graft.plans.AsofJoin.asof(clicks, purchases,
      Seq("user_id"), Seq("p_user"), "click_ts", "purchase_ts",
      leftOuter = true)
    val fresh = col("purchase_ts").isNotNull &&
      (unix_millis(col("click_ts")) - unix_millis(col("purchase_ts"))
        <= lit(300000L))
    val out = j.select(col("click_id"),
        when(fresh, col("purchase_id")).as("purchase_id"))
      .orderBy("click_id")
      .as[(Long, Option[Long])].collect().toSeq
    assert(out == Seq((10L, Some(99L)), (11L, None), (12L, None)), out)
  }

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  test("packEfficiency: fill rate counts tokens against batch budget") {
    // source sA: 3 docs of 3 tokens, budget 4 -> cumsums 0,3,6 ->
    // batches 0,0,1 -> 2 batches, 9 tokens, fill 9/8
    val docs = Seq(
      (1L, "sA", "a b c"), (2L, "sA", "d e f"), (3L, "sA", "g h i"))
      .toDF("doc_id", "source", "text")
    val out = PipelineOps.packEfficiency(docs, 4L)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("sA", 3L, 2L, 9L, 1.125)), out)
  }

  test("sourcePerplexity: groups doc LM scores; sub-bigram docs excluded") {
    val docs = Seq(
      (1L, "sA", "a b a b"), (2L, "sA", "a b"), (3L, "sB", "b a b a"),
      (4L, "sB", "x")) // 1 token -> no bigrams -> excluded
      .toDF("doc_id", "source", "text")
    val perDoc = TextOps.bigramLogProb(docs.select(col("doc_id"), col("text")))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val out = TextOps.sourcePerplexity(docs)
      .as[(String, Long, Double, Double)].collect().toSeq
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expA = r9((r9(perDoc(1L)) + r9(perDoc(2L))) / 2)
    val expB = r9(r9(perDoc(3L)))
    assert(out.map(t => (t._1, t._2)) == Seq(("sA", 2L), ("sB", 1L)), out)
    assert(out.head._3 == expA && out(1)._3 == expB, (out, expA, expB))
  }

  test("borderContrast: framed image scores its ring; no-interior pins 0") {
    def png(w: Int, h: Int, border: Int, interior: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = if (x == 0 || x == w - 1 || y == 0 || y == h - 1) border
                else interior
        img.setRGB(x, y, v * 0x010101)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val images = Seq(
      (1L, png(5, 4, 255, 0)), // 14 ring px at 255, 6 interior at 0
      (2L, png(2, 2, 7, 0)))   // all ring, no interior
      .toDF("doc_id", "content")
    val out = graft.operators.Multimodal.borderContrast(images)
      .as[(Long, Int, Int, Double, Option[Double], Double)].collect().toSeq
    assert(out == Seq(
      (1L, 5, 4, 255.0, Some(0.0), 255.0),
      (2L, 2, 2, 7.0, None, 0.0)), out)
  }

  test("tokenLoss: losers charge their tokens to their source") {
    val docs = Seq(
      (1L, "sX", "a b c d"), (2L, "sX", "a b"), (3L, "sX", "e f"),
      (4L, "sY", "g h i"))
      .toDF("doc_id", "source", "text")
    // cluster {1,2}: doc 2 loses its 2 tokens; sX has 8 total
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = PipelineOps.tokenLoss(docs, pairs)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("sX", 8L, 2L, 0.25), ("sY", 3L, 0L, 0.0)), out)
  }

  test("w33BounceRate: one bounce in three sessions") {
    // user 1: two events 5 min apart (one session of 2), then one
    // event 2 h later (a bounce); user 2: one session of 3
    val ev = Seq(
      (1L, 0L), (1L, 300000L), (1L, 7500000L),
      (2L, 0L), (2L, 60000L), (2L, 120000L))
      .zipWithIndex.map { case ((u, ms), i) =>
        (u, new java.sql.Timestamp(1700000000000L + ms), i.toLong, "click",
          1.0)
      }.toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = Relational.w33BounceRate(ev)
      .as[(Long, Long, Double, Double)].collect().head
    assert(out == ((3L, 1L, round9(1.0 / 3), 2.0)), out)
  }

  test("pqDistortion: exact-centroid vectors score 0; midpoint splits") {
    // ids 0 and 23 become the codebook (vec_id % 23 == 0): the zero
    // vector and the ones vector. id 1 == centroid 1 -> err 0;
    // id 2 is the midpoint -> err 0.25 * 2 dims = 0.5 per subspace.
    def v(x: Float) = Array.fill(8)(x)
    val emb = Seq((0L, v(0f)), (1L, v(1f)), (2L, v(0.5f)), (23L, v(1f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.pqDistortion(emb)
      .as[(Int, Long, Double)].collect().toSeq
    assert(out == (0 to 3).map(j => (j, 4L, 0.125)), out)
  }

  test("a47MarkovStationary: skewed 2-state chain converges to (0.4, 0.6)") {
    // transitions: a->a 1, a->b 3, b->a 2, b->b 2  =>  P = [.25 .75; .5 .5]
    // stationary: pi = (0.4, 0.6)
    val seq1 = Seq("a", "a", "b", "b", "a", "b") // aa ab bb ba ab
    val seq2 = Seq("b", "b", "a", "b")           // bb ba ab
    val events = (seq1.zipWithIndex.map { case (t, i) => (1L, i, t) } ++
      seq2.zipWithIndex.map { case (t, i) => (2L, i, t) })
      .map { case (u, i, t) =>
        (u, new java.sql.Timestamp(1700000000000L + i * 1000L), i.toLong, t)
      }
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Relational.a47MarkovStationary(spark, events)
      .as[(String, Double)].collect().toMap
    assert(math.abs(out("a") - 0.4) < 1e-9, out)
    assert(math.abs(out("b") - 0.6) < 1e-9, out)
  }
}
