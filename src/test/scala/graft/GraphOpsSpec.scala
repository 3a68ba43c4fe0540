package graft

import graft.operators.{DedupOps, GraphOps}

/** Connected-components + survivor semantics for dup-cluster assembly. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chains close transitively, islands stay apart") {
    // 1-2-3-4 is a path (diameter 3 — exercises multi-round propagation
    // and the pointer jump), 10-11 a separate pair, 20-21-22 a triangle
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val got = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: long path converges within the iteration cap") {
    // a 64-node path has diameter 63; pointer jumping must close it in
    // far fewer than 63 rounds (log-ish), well inside maxIter=25.
    // smallGraphThreshold = 0 forces the DISTRIBUTED loop — the size
    // gate would otherwise route a 63-edge graph to the driver path
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = GraphOps.connectedComponents(edges, smallGraphThreshold = 0)
      .as[(Long, Long)].collect()
    assert(got.length == 64)
    assert(got.forall(_._2 == 1L))
  }

  test("connectedComponents: driver fast path and distributed loop agree") {
    // path + island pair + triangle + a star, labeled identically by
    // both paths (component = min reachable id is the shared contract)
    val edges = (Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)) ++
      (31L to 38L).map(i => (30L, i))).toDF("doc_a", "doc_b")
    val viaDriver = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val viaLoop = GraphOps.connectedComponents(edges, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop)
    assert(viaDriver(38L) == 30L && viaDriver(4L) == 1L)
  }

  test("pageRank: 3 fixed-point power steps match a hand-run integer mirror") {
    // path 1-2-3: the center vertex splits its rank, ends highest
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = GraphOps.pageRank(edges)
      .as[(Long, Long, Double)].collect()
      .map { case (u, e15, pr) => u -> (e15, pr) }.toMap
    // mirror: BIGINT ranks in 1e-15 units, floor division throughout
    val S = 1000000000000000L
    val nv = 3L
    val tele = S / 100L * 15L / nv
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    var r = Map(1L -> S / nv, 2L -> S / nv, 3L -> S / nv)
    for (_ <- 1 to 3) r = r.map { case (u, _) =>
      u -> (tele + 85L * adj(u).map(v => r(v) / deg(v)).sum / 100L)
    }
    assert(got.keySet == r.keySet)
    // exact integer equality — the whole point of the fixed-point form
    got.foreach { case (u, (e15, pr)) =>
      assert(e15 == r(u), s"u=$u got $e15 want ${r(u)}")
      assert(pr == e15.toDouble / 1.0e15)
    }
    assert(got(2L)._1 > got(1L)._1 && got(1L)._1 == got(3L)._1)
    // floor leak is bounded: total mass within 1e-9 of 1
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("connectedComponents: reliable checkpoint flag gives identical labels") {
    val dir = tempDir("graft_cc_ckpt").toString
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    // threshold 0: the checkpoint flag only matters on the loop path
    val local = GraphOps.connectedComponents(edges, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    val reliable = GraphOps.connectedComponents(edges,
        checkpointDir = Some(dir), smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(reliable == local)
    // the reliable path really wrote checkpoint files to the directory
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable checkpoint must materialize to the directory")
  }

  test("connectedComponents: spanning-forest contraction preserves labels") {
    // two 12-cliques bridged through a path node, plus an island pair —
    // dense components are exactly the shape that outgrows the driver
    // gate in production. Spread over partitions so the contraction
    // pass must stitch local forests back together across slices.
    val cliqueA = for (i <- 1L to 12L; j <- (i + 1) to 12L) yield (i, j)
    val cliqueB = for (i <- 101L to 112L; j <- (i + 1) to 112L) yield (i, j)
    val bridge = Seq((12L, 50L), (50L, 101L), (200L, 201L))
    val all = (cliqueA ++ cliqueB ++ bridge) // |E| = 135, |V| = 27
    val want = GraphOps.connectedComponents(all.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap // driver gate: |E| << 2^20
    assert(want(112L) == 1L && want(201L) == 200L) // bridged + island
    // contraction → driver: 2 partitions bound Σ|V_p| ≤ 54 ≤ 134 < |E|,
    // so the gate re-check after contraction takes the collect path
    val viaContractDriver = GraphOps.connectedComponents(
        all.toDF("doc_a", "doc_b").repartition(2), smallGraphThreshold = 134)
      .as[(Long, Long)].collect().toMap
    assert(viaContractDriver == want)
    // contraction → distributed loop (threshold 0 keeps the loop path)
    val viaContractLoop = GraphOps.connectedComponents(
        all.toDF("doc_a", "doc_b").repartition(8), smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaContractLoop == want)
  }

  test("connectedComponents: empty edge list yields empty labeling") {
    val edges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(GraphOps.connectedComponents(edges).count() == 0)
  }

  test("dedupSurvivors keeps cluster minima and all untouched docs") {
    val docs = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (9L, "f"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 4L), (5L, 9L)).toDF("doc_a", "doc_b")
    val kept = GraphOps.dedupSurvivors(docs, pairs)
      .as[Long].collect().sorted
    // cluster {1,2,4} → keep 1; cluster {5,9} → keep 5; 3 untouched
    assert(kept.toSeq == Seq(1L, 3L, 5L))
  }

  test("components over minhashLsh pairs cluster the planted dup group") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, base.replace("dog", "cat")),
      (7L, "completely unrelated text about columnar query engines and shuffles here"))
      .toDF("doc_id", "text")
    val comps = GraphOps.connectedComponents(
      DedupOps.minhashLsh(docs).select("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    // 1,2,3 are mutual near-dups (or at least chained) → one component
    assert(comps.keySet.forall(Set(1L, 2L, 3L)))
    assert(comps.values.toSet == Set(1L))
    assert(!comps.contains(7L))
  }

  test("triangleCount: K4 has 4 triangles, a path has none, once each") {
    import spark.implicits._
    // K4 on {1,2,3,4}: all 6 ordered edges -> C(4,3) = 4 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    assert(graft.operators.GraphOps.triangleCount(k4).as[Long].head() == 4L)
    // path 1-2-3-4 closes nothing
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    assert(graft.operators.GraphOps.triangleCount(path).as[Long].head() == 0L)
    // empty edge list -> 0, not null
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.operators.GraphOps.triangleCount(empty).as[Long].head() == 0L)
  }

  test("clusteringCoefficient: triangle+pendant = 0.6; path = 0; empty pins 0.0") {
    import spark.implicits._
    // triangle {1,2,3} plus pendant 4 on vertex 3: 1 triangle,
    // degrees (2,2,3,1) -> wedges = 1+1+3+0 = 5 -> gcc = 3/5
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    assert(graft.operators.GraphOps.clusteringCoefficient(g)
      .as[(Long, Long, Double)].head() == ((1L, 5L, 0.6)))
    // a path has wedges but no closure
    val path = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    assert(graft.operators.GraphOps.clusteringCoefficient(path)
      .as[(Long, Long, Double)].head() == ((0L, 1L, 0.0)))
    // empty graph: zero wedges must pin gcc to 0.0, not NaN
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.operators.GraphOps.clusteringCoefficient(empty)
      .as[(Long, Long, Double)].head() == ((0L, 0L, 0.0)))
  }

  test("degreeHistogram: triangle+pendant census is (1,1),(2,2),(3,1)") {
    import spark.implicits._
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    assert(graft.operators.GraphOps.degreeHistogram(g)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("cliqueDensity: a K3 clique and a 3-chain report distinct shapes") {
    import spark.implicits._
    // component 1: triangle {1,2,3}; component 10: chain 10-11-12
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("doc_a", "doc_b")
    val got = graft.operators.GraphOps.cliqueDensity(pairs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L, 1L), (10L, 3L, 2L, 0L)), s"got $got")
  }

  test("dedupSurvivorsBy keeps the highest-ranked doc per cluster, lowest id on tie") {
    import spark.implicits._
    // cluster {1,2,3}: 2 is longest -> survives; {10,11}: tie -> 10;
    // 50 unclustered -> survives
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L), (50L, 1L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = graft.operators.GraphOps.dedupSurvivorsBy(docs, pairs, "n_chars")
      .as[Long].collect().sorted.toSeq
    assert(out == Seq(2L, 10L, 50L), s"got $out")
  }

  test("triangle core is exact on a planted hub graph") {
    import spark.implicits._
    val G = graft.operators.GraphOps
    // hub 0 linked to every vertex 1..200 (degree-200 star), plus a
    // ladder of closing edges (i, i+1) for even i — each closes the
    // triangle {0, i, i+1} — plus one detached K4 block at 1000..1003.
    // Ordered convention a < b throughout.
    val star = (1L to 200L).map(i => (0L, i))
    val rungs = (1L until 200L by 2).map(i => (i, i + 1))   // 100 triangles
    val k4 = for (i <- 1000L to 1003L; j <- (i + 1) to 1003L) yield (i, j)
    val edges = (star ++ rungs ++ k4).toDF("doc_a", "doc_b")
    val expected = 100L + 4L
    assert(G.triangleCount(edges).as[Long].head() == expected)
    // per component: the hub star (201 docs, 300 pairs, 100 triangles)
    // and the K4 block (4 docs, 6 pairs, 4 triangles)
    val rows = G.cliqueDensity(edges).collect().map(_.toSeq).toSeq
    assert(rows == Seq(Seq(0L, 201L, 300L, 100L), Seq(1000L, 4L, 6L, 4L)), rows)
  }

  test("kCore: triangle survives the 2-core peel, pendant tail cascades off") {
    // triangle 1-2-3 with tail 3-4-5: vertex 5 (deg 1) peels in round 1,
    // which drops 4 to deg 1 so it peels in round 2 — the cascade that
    // distinguishes k-core from a single degree filter. Hub 10 with
    // three one-off leaves: leaves peel, then the hub.
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("doc_a", "doc_b")
    val got = GraphOps.kCore(pairs, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore rounds under-approximate monotonically: more rounds, fewer survivors") {
    // a 6-node path: every interior vertex has deg 2 but each peel
    // exposes the next — round r keeps interior vertices of the
    // (r-shortened) path, so survivor sets shrink as rounds grow
    val path = (1L until 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val s1 = GraphOps.kCore(path, k = 2, rounds = 1).count()
    val s2 = GraphOps.kCore(path, k = 2, rounds = 2).count()
    val s3 = GraphOps.kCore(path, k = 2, rounds = 3).count()
    assert(s1 == 4 && s2 == 2 && s3 == 0)
  }

  test("labelPropagation splits bridged communities that CC merges") {
    // two triangles {1,2,3} and {7,8,9} joined by the single bridge
    // 3-7: one connected component, but the frequency vote keeps each
    // triangle on its own (min-id) label — the bridge endpoints hear 2
    // triangle votes vs 1 bridge vote
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (7L, 8L), (8L, 9L), (7L, 9L),
      (3L, 7L)).toDF("doc_a", "doc_b")
    val cc = GraphOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1, "CC should see ONE component")
    val lpa = GraphOps.labelPropagation(pairs, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(lpa(1L) == lpa(2L) && lpa(2L) == lpa(3L))
    assert(lpa(7L) == lpa(8L) && lpa(8L) == lpa(9L))
    assert(lpa(1L) != lpa(7L), s"bridge merged the communities: $lpa")
  }

  test("labelPropagation tie votes resolve to the smallest label") {
    // star: center 5 with leaves 1 and 9 — each leaf label gets one
    // vote at the center, tie resolves to the smaller (1)
    val pairs = Seq((5L, 1L), (5L, 9L)).toDF("doc_a", "doc_b")
    val lpa = GraphOps.labelPropagation(pairs, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(lpa(5L) == 1L, s"tie should break to smallest label: $lpa")
    // leaves adopt the center's initial label
    assert(lpa(1L) == 5L && lpa(9L) == 5L)
  }

  test("assortativity: star is exactly -1, clique pins 0 (zero variance)") {
    // star K1,3: every directed edge pairs degree 3 with degree 1 (or
    // 1 with 3) — perfect disassortativity, r = -1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("doc_a", "doc_b")
    val rs = GraphOps.assortativity(star)
      .as[(Long, Double)].collect().head
    assert(rs == ((6L, -1.0)), rs)
    // triangle K3: all degrees equal -> zero variance -> pinned 0.0
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    val rt = GraphOps.assortativity(tri)
      .as[(Long, Double)].collect().head
    assert(rt == ((6L, 0.0)), rt)
  }

  test("personalizedPageRank: mass starts on seeds, frontier omits unreached") {
    // path 0-1-2, seed = vertex 0 (0 % 50 == 0). One iteration:
    // contributions: 0 pushes S/deg(0)=S to 1 (damped 85%); teleport
    // returns 0.15·S to the seed; vertex 2 is 2 hops out -> OMITTED
    val path = Seq((0L, 1L), (1L, 2L)).toDF("doc_a", "doc_b")
    val r1 = GraphOps.personalizedPageRank(path, iterations = 1)
      .select("doc_id", "ppr_e15").as[(Long, Long)].collect().toMap
    assert(r1 == Map(0L -> 150000000000000L, 1L -> 850000000000000L), r1)
    // second iteration reaches vertex 2: 1 splits its rank over its
    // two neighbors (deg 2), each damped side gets 85%·(r1(1)/2)
    val r2 = GraphOps.personalizedPageRank(path, iterations = 2)
      .select("doc_id", "ppr_e15").as[(Long, Long)].collect().toMap
    val half = 850000000000000L / 2
    assert(r2(2L) == 85L * half / 100L, r2)
    assert(r2(0L) == 150000000000000L + 85L * half / 100L, r2)
    assert(r2.keySet == Set(0L, 1L, 2L), r2)
  }

  test("kmvBall: small balls are exact counts; radius grows them along a path") {
    // path 1-2-3-4-5-6: with k=8 every 2-hop ball is under k, so the
    // estimator returns the EXACT ball size — ends see 3, center 5
    val path = (1L until 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val b2 = GraphOps.kmvBall(path, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(b2 == Map(1L -> 3L, 2L -> 4L, 3L -> 5L, 4L -> 5L,
      5L -> 4L, 6L -> 3L), b2)
    // radius 1 shrinks each ball to self + direct neighbors
    val b1 = GraphOps.kmvBall(path, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(b1 == Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 3L, 6L -> 2L), b1)
    // saturated register: a star center reaches everything in 1 hop;
    // with 20 members > k=8 the bottom-k estimator kicks in and must
    // land within its ~1/sqrt(k-1) band of the true 21
    val star = (1L to 20L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    val est = GraphOps.kmvBall(star, rounds = 1)
      .as[(Long, Long)].collect().toMap.apply(0L)
    assert(est >= 10L && est <= 42L, s"estimate $est far from 21")
  }

  test("top_k_merge_agg ≡ explode + top_k_agg over randomized sketch arrays") {
    import graft.functions.GraftFunctions.{top_k_agg, top_k_merge_agg}
    import org.apache.spark.sql.functions.{col, explode}
    // kmvBall's round-merge rewrite (r14): merging whole sketch arrays
    // must equal re-aggregating their exploded elements — including
    // duplicate ids across sketches (set semantics) and groups whose
    // total distinct count is under k
    val rnd = new scala.util.Random(421)
    val rows = for {
      g <- 1 to 17
      _ <- 1 to (1 + rnd.nextInt(5))
    } yield {
      val ids = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(30).toLong)
      (g.toLong, ids)
    }
    val base = rows.toDF("g", "ids")
      .select(col("g"), explode(col("ids")).as("hid"))
      .groupBy("g")
      .agg(top_k_agg(-col("hid").cast("double"), col("hid"), 5).as("sk"))
      .localCheckpoint(true)
    // two sketch rows per group via a salted pre-aggregate, then merged
    val halves = rows.toDF("g", "ids")
      .select(col("g"), explode(col("ids")).as("hid"))
      .groupBy(col("g"), (col("hid") % 2).as("salt"))
      .agg(top_k_agg(-col("hid").cast("double"), col("hid"), 5).as("sk"))
    val merged = halves.groupBy("g")
      .agg(top_k_merge_agg(col("sk"), 5).as("sk"))
    val a = base.select(col("g"), col("sk").cast("string")).as[(Long, String)]
      .collect().toMap
    val b = merged.select(col("g"), col("sk").cast("string")).as[(Long, String)]
      .collect().toMap
    assert(a == b, s"merge-agg diverged:\n$a\nvs\n$b")
  }

  test("clusterSizeHistogram counts clusters per member count") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = GraphOps.clusterSizeHistogram(pairs)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L), (3L, 1L)), got)
  }

  test("nodeJaccard: triangle edges agree 1/3, the pendant edge scores 0") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 9L)).toDF("doc_a", "doc_b")
    val got = GraphOps.nodeJaccard(pairs)
      .as[(Long, Long, Double)].collect().toSeq
    // edge (1,2): N(1)={2,3}, N(2)={1,3} -> ∩ {3}, ∪ size 3 -> 1/3;
    // (1,3): N(3)={1,2,9} -> ∩ {2}, ∪ 2+3-1=4 -> 0.25; pendant (3,9):
    // N(9)={3} shares nothing with N(3)
    assert(got == Seq(
      (1L, 2L, 0.333333), (1L, 3L, 0.25), (2L, 3L, 0.25),
      (3L, 9L, 0.0)), got)
  }

  test("kTruss: cliques keep their edges, chains and lone triangles peel") {
    // 4-clique {1,2,3,4}: every edge has 2 witnesses (k=4 keeps);
    // triangle {10,11,12}: 1 witness each (k=4 peels, k=3 keeps);
    // pendant edge (4,9): 0 witnesses (always peels)
    val clique = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val pairs = (clique ++ Seq((10L, 11L), (10L, 12L), (11L, 12L), (4L, 9L)))
      .toDF("doc_a", "doc_b")
    val k4 = GraphOps.kTruss(pairs, k = 4)
      .as[(Long, Long)].collect().toSeq
    assert(k4 == clique.sorted, k4)
    val k3 = GraphOps.kTruss(pairs, k = 3)
      .as[(Long, Long)].collect().toSeq
    assert(k3 == (clique ++ Seq((10L, 11L), (10L, 12L), (11L, 12L))).sorted, k3)
  }

  test("communityEdges: intra cells on the diagonal, one bridge cell") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = GraphOps.communityEdges(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    // LPA labels the triangles 1 and 3 (see the modularity test);
    // the bridge 3-4 is the single inter-community edge
    assert(got == Seq((1L, 1L, 3L), (1L, 3L, 1L), (3L, 3L, 3L)), got)
  }

  test("goldenRecords: mode fusion with MIN tie-break, singletons pass through") {
    val recs = Seq(
      (1L, "en", "web", 100L), (2L, "en", "books", 300L),
      (3L, "fr", "books", 200L),          // entity 1: lang en(2) fr(1)
      (5L, "en", "web", 10L), (6L, "fr", "cc", 20L), // entity 5: 1-1 tie
      (9L, "de", "cc", 50L))                         // unmatched singleton
      .toDF("doc_id", "lang", "source", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = GraphOps.goldenRecords(recs, pairs)
      .as[(Long, Long, Long, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 1L, "en", "books", 300L), // mode lang en; source books(2)
      (5L, 2L, 5L, "en", "cc", 20L),     // ties -> bytewise-smallest
      (9L, 1L, 9L, "de", "cc", 50L)), got)
  }

  test("modularity: two planted triangles joined by a bridge score Q ≈ 0.357") {
    // LPA (3 rounds, ties to smallest) labels {1,2,3}→1 and {4,5,6}→3;
    // each community: e_in=3, deg_sum=7, m=7 →
    // contrib = 3/7 − (7/14)² = 0.178571428571…
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = GraphOps.modularity(pairs)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq ==
      Seq((1L, 3L, 3L, 7L), (3L, 3L, 3L, 7L)), got.toSeq)
    got.foreach(r => assert(math.abs(r._5 - 0.178571428571) < 1e-9, r))
    // empty pair list → empty census (no NaN division)
    val empty = GraphOps.modularity(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(empty.count() == 0)
  }

  test("commonNeighbors: cycle diagonals found, hub centers capped out") {
    // 4-cycle: the two diagonals each share exactly the 2 opposite
    // corners; the 4 real edges must NOT appear (anti-join)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("doc_a", "doc_b")
    val got = GraphOps.commonNeighbors(cyc)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L), (2L, 4L, 2L)), got)
    // a 100-leaf star: every leaf pair shares the hub, but a
    // degree-100 wedge center is capped out (shared-by-everything is
    // no evidence) — and minCommon=2 would drop them anyway
    val hub = (1L to 100L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    assert(GraphOps.commonNeighbors(hub).count() == 0)
    // raising the cap re-admits the hub but 1 common neighbor still
    // fails minCommon=2; minCommon=1 surfaces all C(100,2) pairs
    assert(GraphOps.commonNeighbors(hub, maxDegree = 200).count() == 0)
    assert(GraphOps.commonNeighbors(hub, maxDegree = 200, minCommon = 1)
      .count() == 4950)
  }

  test("sortedIntersectCount matches array_intersect size on sorted sets") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.sorted_intersect_count
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      def arr() = rnd.shuffle((0L until 400L).toList)
        .take(rnd.nextInt(40)).distinct.sorted
      (i, arr(), arr())
    } ++ Seq(
      (1000, List.empty[Long], List(1L, 2L)),        // empty side
      (1001, List.empty[Long], List.empty[Long]),    // both empty
      (1002, List(1L, 2L, 3L), List(1L, 2L, 3L)),    // identical
      (1003, List(1L, 3L, 5L), List(2L, 4L, 6L)))    // disjoint
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        sorted_intersect_count(col("a"), col("b")).as("m"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
    got.foreach(r => assert(r.getInt(1) == r.getInt(2), r))
    // duplicate elements: set semantics on both (array_intersect
    // dedups), so a dup-carrying sorted input must count once
    val dup = Seq((1, List(1L, 1L, 2L, 5L, 5L), List(1L, 5L, 5L, 9L)))
      .toDF("id", "a", "b")
      .select(sorted_intersect_count(col("a"), col("b")).as("m"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .head()
    assert(dup.getInt(0) == 2 && dup.getInt(1) == 2, dup)
  }
}
