package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph-shaped steps of the dedup pipeline: near-dup PAIRS (from
  * MinHash/SimHash LSH) are only candidates — corpus dedup needs the
  * transitive closure (A~B, B~C puts all three in one cluster) and a
  * canonical survivor per cluster. This is connected components over
  * the pair edge list.
  *
  * Scale posture: min-label propagation with pointer jumping — each
  * round is (a) one edge⋈label join + groupBy(min) to pull the best
  * label across every edge, then (b) one label⋈label self-join that
  * short-circuits chains (label(u) := label(label(u))), so convergence
  * is O(log diameter) rounds, not O(diameter). Every round is a
  * constant number of hash shuffles on the node id; nothing is ever
  * collected to the driver — the convergence test is a monotone
  * checksum (labels only decrease, so an unchanged sum(label) IS a
  * fixpoint). Dup graphs are near-cliques, so rounds ≈ 2–3 in
  * practice; maxIter bounds the worst case. (GraphX/GraphFrames use
  * the same alternating-contraction idea; this stays in DataFrame
  * land so Catalyst plans the joins and AQE handles skewed hub nodes.)
  */
object GraphOps {

  /** Connected components of an undirected edge list (first two
    * columns = endpoints). Returns (doc_id, component) for every node
    * that appears in an edge, where component = the minimum node id
    * reachable from doc_id.
    *
    * `checkpointDir`: when set, per-round lineage truncation uses a
    * RELIABLE `checkpoint` to that (DFS) directory instead of
    * `localCheckpoint` — executor loss then costs one round's recompute
    * from the checkpoint, not a job restart from scratch. The hardened
    * choice for long 100 TB runs; local (default) is faster when
    * executors are stable.
    *
    * `smallGraphThreshold` gates a driver union-find fast path — the
    * AQE-broadcast discipline applied to an iterative algorithm: one
    * COUNT over the (persisted) edge list decides, and a graph at or
    * under the threshold (default 2²⁰ edges ≈ 16 MB — the same order
    * as a broadcast side) is collected and solved in one pass instead
    * of paying 3-5 distributed jobs per pointer-jumping round. ER/dedup
    * pair graphs are candidate-scale (LSH/blocking already pruned
    * them), so in practice this is the common case even at large
    * corpus sizes — while a pair graph that outgrows the threshold
    * first passes through a partition-local spanning-forest
    * contraction (see below) and only then, if still over the gate,
    * falls back to the distributed loop over the contracted edges.
    * Labels are identical on every path (component = min reachable
    * id).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None,
      smallGraphThreshold: Long = 1L << 20): DataFrame = {
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    // one knob for both snapshot flavors; always eager (the round's
    // plan must truncate NOW, not at some later action)
    def snap(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
    val Array(a, b) = edges.columns.take(2)
    // null endpoints are dropped HERE so both paths share semantics:
    // the distributed loop's joins silently drop null-keyed edges,
    // and without this filter the driver fast path would instead NPE
    // on Row.getLong — malformed input must not pick its behavior by
    // graph size
    val e = edges.select(col(a).cast("long").as("u"), col(b).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m = e.count()
    if (m <= smallGraphThreshold) {
      val rows = e.collect() // bounded by the threshold gate above
      e.unpersist(blocking = false)
      return driverUnionFind(edges.sparkSession, rows)
    }
    // Partition-local spanning-forest contraction — one NARROW pass, no
    // shuffle: each task union-finds its own edge slice and emits one
    // (node, local-root) edge per distinct node it saw. Global
    // connectivity and the node set are exactly preserved (any original
    // path still exists through the per-partition roots), so the labels
    // are identical; the edge count drops from |E| to Σ_p |V_p|. Dense
    // pair graphs are where the gate overflows in practice (many
    // verified pairs over few docs — a dup-clique of n docs carries
    // C(n,2) edges), and for those this is a |E|/|V|-fold cut in the
    // bytes every loop round would shuffle, usually bringing the graph
    // back UNDER the driver gate (measured at sf0.1: the SimHash graph,
    // 1.57M edges over 5k docs, contracts to ~60k edges in one ~0.1 s
    // pass instead of paying 4 distributed CC rounds). Per-task memory
    // is two longs per distinct node of the partition — the same order
    // as a hash-aggregation buffer over the slice.
    val sess = edges.sparkSession
    import sess.implicits._
    val reduced = e.as[(Long, Long)].mapPartitions { it =>
      val uf = new LocalUnionFind
      it.foreach { case (u, v) => uf.union(u, v) }
      uf.nodesIterator.map(n => (n, uf.find(n)))
    }.toDF("u", "v").persist(StorageLevel.MEMORY_AND_DISK)
    val mr = reduced.count()
    e.unpersist(blocking = false)
    if (mr <= smallGraphThreshold) {
      val rows = reduced.collect() // bounded by the threshold gate above
      reduced.unpersist(blocking = false)
      return driverUnionFind(sess, rows)
    }
    val sym = reduced.union(reduced.select(col("v").as("u"), col("u").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // label(u) starts at min(u, best neighbor) — one round of
    // propagation folded into the init aggregate. Each round ends in an
    // EAGER localCheckpoint: iterative DataFrames must truncate lineage
    // or the logical plan doubles per round (planning cost explodes and
    // tree traversal eventually overflows the stack). localCheckpoint
    // materializes to executor-local storage — on a cluster, executor
    // loss forces a job restart, the standard trade for iterative algos
    // (the `checkpointDir` flag selects the reliable alternative).
    var labels = snap(sym.groupBy("u").agg(min("v").as("nb"))
      .select(col("u"), least(col("u"), col("nb")).as("label")))
    var prevSum = checksum(labels)

    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // (a) best label over the neighborhood
      val viaNb = sym
        .join(labels.select(col("u").as("v"), col("label").as("vl")), "v")
        .groupBy("u").agg(min("vl").as("nbl"))
      // cached: both sides of the pointer-jump self-join read it
      val stepped = labels.join(viaNb, Seq("u"), "left")
        .select(col("u"),
          least(col("label"), coalesce(col("nbl"), col("label"))).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // fixpoint check BEFORE the jump: if the neighbor-min step moved
      // nothing, the labeling is stable under propagation and the
      // pointer jump (pure acceleration) cannot move it either — the
      // confirming round then costs one cached aggregate instead of a
      // self-join + eager snapshot. The checksum action also warms the
      // cache the jump reads when the round does continue.
      val sStep = checksum(stepped)
      if (sStep.compareTo(prevSum) == 0) {
        stepped.unpersist(blocking = false)
        converged = true
      } else {
        // (b) pointer jump: follow the label one hop through the label
        // table itself — halves remaining chain length every round
        val jumped = snap(stepped.as("s")
          .join(stepped.as("l"), col("s.label") === col("l.u"), "left")
          .select(col("s.u").as("u"),
            least(col("s.label"), coalesce(col("l.label"), col("s.label"))).as("label")))
        // labels only decrease, so checksum(jumped) <= sStep < prevSum
        // here — a post-jump convergence test would never fire
        prevSum = checksum(jumped)
        stepped.unpersist(blocking = false)
        labels = jumped
      }
      i += 1
    }
    sym.unpersist(blocking = false)
    reduced.unpersist(blocking = false)
    labels.select(col("u").as("doc_id"), col("label").as("component"))
  }

  /** Weighted union-find with path halving over longs — the in-memory
    * kernel shared by the driver fast path and the per-partition
    * spanning-forest contraction in [[connectedComponents]]. Memory:
    * two map entries per distinct node touched.
    */
  private[operators] final class LocalUnionFind extends Serializable {
    private val parent = scala.collection.mutable.LongMap.empty[Long]
    private val rank = scala.collection.mutable.LongMap.empty[Int]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // halve the path
        x = parent(x)
      }
      x
    }
    def union(u: Long, v: Long): Unit = {
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (rx, ry) = (find(u), find(v))
      if (rx != ry) {
        val (kx, ky) = (rank.getOrElse(rx, 0), rank.getOrElse(ry, 0))
        if (kx < ky) parent(rx) = ry
        else if (ky < kx) parent(ry) = rx
        else { parent(ry) = rx; rank(rx) = kx + 1 }
      }
    }
    def nodesIterator: Iterator[Long] = parent.keysIterator
  }

  /** Weighted union-find with path compression over a collected edge
    * list, re-labeled so component = min member id (the distributed
    * loop's contract). Only reachable through the size gate in
    * [[connectedComponents]] — the input is ≤ `smallGraphThreshold`
    * rows by construction.
    */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val uf = new LocalUnionFind
    rows.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
    val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
    uf.nodesIterator.foreach { n =>
      val r = uf.find(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), n)
    }
    val labels = uf.nodesIterator.toArray.sorted
      .map(n => (n, minOfRoot(uf.find(n))))
    import spark.implicits._
    labels.toSeq.toDF("doc_id", "component")
  }

  /** Labels are node ids (non-negative) and only ever decrease, so the
    * label sum is strictly monotone until the fixpoint — sum unchanged
    * ⟺ no label changed. Accumulated in DECIMAL(38,0): a long sum
    * could wrap at billions-of-rows × 2^63-scale ids, and a wrapped
    * checksum could alias two different labelings. One scalar to the
    * driver per round.
    */
  private def checksum(labels: DataFrame): java.math.BigDecimal = {
    val r = labels.agg(sum(col("label").cast("decimal(38,0)"))).head()
    if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
  }

  /** The corpus after near-dup removal: every document not in a dup
    * cluster, plus the canonical (minimum-id) member of each cluster.
    * `pairs` is any (doc_a, doc_b) near-dup pair set, e.g.
    * [[DedupOps.minhashLsh]] output.
    */
  def dedupSurvivors(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select("doc_id")
    documents.join(losers, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /** Quality-ranked survivor selection: where [[dedupSurvivors]] keeps
    * each near-dup cluster's LOWEST-id doc (the reference-free
    * convention), this keeps its BEST doc by `rankCol` (highest value,
    * ties to the lowest doc_id) — the production policy when versions
    * of a page differ in completeness: keep the longest / highest-
    * quality copy, drop the fragments. Unclustered docs all survive.
    *
    * `rankCol` must be integral (exact argmax — a float score can
    * flip survivors on a last-ulp and break determinism; floor a
    * float score to fixed point first). Scale shape: the component
    * labeling is the pointer-jumping loop, then ONE vertex-keyed join
    * + a components-sized argmax aggregate; the corpus itself is only
    * touched by the final anti-join.
    */
  def dedupSurvivorsBy(documents: DataFrame, pairs: DataFrame,
      rankCol: String): DataFrame = {
    val labels = connectedComponents(pairs) // (doc_id, component)
    val best = labels
      .join(documents.select(col("doc_id"),
        col(rankCol).cast("long").as("__rank")), "doc_id")
      .groupBy("component")
      .agg(max(struct(col("__rank").as("r"), (-col("doc_id")).as("nid")))
        .as("w"))
      .select((-col("w.nid")).as("doc_id"))
    documents.join(labels, Seq("doc_id"), "left_anti").select("doc_id")
      .unionByName(best)
  }

  /** Golden-record fusion over ER clusters — the step AFTER entity
    * resolution: every matched cluster collapses to one canonical
    * record whose attributes are fused across members (mode per
    * categorical attribute, ties to the bytewise-smallest value; max
    * for the size field; min doc_id as the stable record key).
    * Unmatched records are their own entity. Mode is computed WITHOUT
    * per-entity arrays or windows — and the per-attribute votes are
    * FUSED: both categorical attributes melt (`stack`) into one
    * (entity, attr, value)-keyed count, one (entity, attr)-keyed max,
    * one join-back + min, and one entity-keyed un-melt — a single
    * vote pipeline instead of one per attribute (halves the shuffles
    * and the join-backs to `base`), the [[labelPropagation]] vote
    * shape, safe for an entity of any member count. `tagged` is
    * persisted, not checkpointed: nothing downstream is iterative.
    *
    * 2x-audit note (`er_golden_record`, sub-second oracle): after the
    * union-find fast path and the fused vote, the remaining cost is
    * FOUR driver-synchronized actions (the components size probe, the
    * small-graph collect, the tagged materialize, the final job) of
    * ~0.3-0.5 s fixed overhead each over a corpus whose arithmetic is
    * milliseconds — the structural floor of running a multi-stage
    * distributed plan at bench scale. Every stage is group-scale keyed
    * aggregation, so the overhead amortizes with corpus size.
    */
  def goldenRecords(records: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    val tagged = stagePersist(records
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("entity_id", coalesce(col("component"), col("doc_id"))))
    // ^ feeds base + the fused vote; cached once, never checkpointed
    val base = tagged.groupBy("entity_id")
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("canonical_doc"),
        max(col("n_chars")).as("max_chars"))
    val cells = tagged.selectExpr("entity_id",
        "stack(2, 'lang', lang, 'source', source) AS (attr, value)")
      .groupBy("entity_id", "attr", "value").agg(count(lit(1)).as("n"))
    val mx = cells.groupBy("entity_id", "attr").agg(max(col("n")).as("mx"))
    val fused = cells.join(mx, Seq("entity_id", "attr"))
      .filter(col("n") === col("mx"))
      .groupBy("entity_id", "attr").agg(min(col("value")).as("value"))
      .groupBy("entity_id")
      .agg(max(when(col("attr") === "lang", col("value"))).as("lang"),
        max(when(col("attr") === "source", col("value"))).as("source"))
    base.join(fused, "entity_id")
      .select(col("entity_id"), col("n_members"), col("canonical_doc"),
        col("lang"), col("source"), col("max_chars"))
      .orderBy("entity_id")
  }

  /** Triangle count over an ORDERED edge list (a < b) — the cluster-
    * density complement of [[connectedComponents]] (a component of n
    * nodes with ~C(n,3) triangles is a true dup clique; one with few
    * is a chain of borderline matches). Edge-iterator with adjacency
    * intersection: one groupBy builds each vertex's sorted out-
    * neighbor array, then every edge (x,y) contributes
    * |adj(x) ∩ adj(y)| via the codegen'd sorted-merge intersect kernel — the triangle
    * x<y<z is found exactly once, at its smallest edge (z sits in both
    * out-lists; x never appears in a larger vertex's out-list). Unlike
    * the naive wedge self-join this NEVER materializes a 2-path as a
    * row: a dup clique of n docs costs n·O(n) array intersections
    * instead of O(n³) wedge rows (43.9 s → sub-second at sf0.1).
    * Shuffle cost: one groupBy(a) plus two equi-joins keyed on a
    * vertex; the adjacency frame has ≤|V| rows so both joins
    * broadcast at near-dup-graph scales. A pathological hub's array is
    * intersected linearly, not fanned out quadratically.
    */
  def triangleCount(edges: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      adjSlices: Int = 1): DataFrame = {
    // eager materialization: the edge list feeds the adjacency build
    // AND the per-edge probe, and the caller's `edges` is typically an
    // LSH/SimHash band join — without this each consumer re-derives
    // the whole candidate join (measured 3.5 s -> ~2 s at sf0.1).
    // cliqueDensity checkpoints upstream and calls edgeTriangles
    // directly, so this copy happens exactly once per raw entry.
    val e = stagePersist(edges.select(col(aCol).as(aCol), col(bCol).as(bCol)))
    edgeTriangles(e, aCol, bCol, adjSlices)
      .agg(coalesce(sum(col("tri")), lit(0L))
        .cast("bigint").as("n_triangles"))
  }

  /** Per-edge closed-triangle contributions (a, b, tri) — possibly
    * MULTIPLE rows per edge when `adjSlices > 1`; both consumers sum,
    * so the contract is additive. Shared edge-iterator core of
    * [[triangleCount]] and [[cliqueDensity]].
    * INNER join on the b endpoint: an edge whose head has no
    * out-neighbors closes nothing, so dropping it leaves every sum
    * unchanged — and sidesteps size(null), whose value flips between
    * null and -1 with spark.sql.ansi.enabled.
    *
    * `adjSlices` is the HOT-VERTEX (adjacency-skew) guard: with one
    * array per vertex, a hub linked to everything (a quote page, a
    * boilerplate template) concentrates its whole neighbor set in ONE
    * aggregation-buffer row and re-intersects that giant array on
    * every incident edge inside one task. Slicing partitions every
    * adjacency list by neighbor residue (`nbr mod s`), and since the
    * SAME partitioning applies to both endpoints,
    * |adj(x) ∩ adj(y)| = Σ_i |adj_i(x) ∩ adj_i(y)| — exact, while the
    * largest array (and the largest single intersection) shrinks to
    * ~maxDegree/s and a hub's work spreads over s independent rows
    * across the cluster. Cost: edges replicate once per co-populated
    * slice, so keep s = 1 until degrees demand otherwise (the
    * near-dup graphs the oracles measure are degree-bounded by
    * construction; a 100 TB corpus with template hubs is not).
    */
  private def edgeTriangles(edges: DataFrame,
      aCol: String, bCol: String, adjSlices: Int = 1): DataFrame = {
    require(adjSlices >= 1, s"adjSlices must be >= 1, got $adjSlices")
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
    if (adjSlices == 1) {
      val adj = e.groupBy(col("a").as("v"))
        .agg(sort_array(collect_set(col("b"))).as("nbrs"))
      e.join(adj.as("na"), col("a") === col("na.v"))
        .join(adj.as("nb"), col("b") === col("nb.v"))
        .select(col("a"), col("b"),
          graft.functions.GraftFunctions.sorted_intersect_count(
            col("na.nbrs"), col("nb.nbrs")).cast("long").as("tri"))
    } else {
      val adj = e.groupBy(col("a").as("v"),
          pmod(col("b"), lit(adjSlices)).as("sl"))
        .agg(sort_array(collect_set(col("b"))).as("nbrs"))
      e.join(adj.as("na"), col("a") === col("na.v"))
        .join(adj.as("nb"),
          col("b") === col("nb.v") && col("na.sl") === col("nb.sl"))
        .select(col("a"), col("b"),
          graft.functions.GraftFunctions.sorted_intersect_count(
            col("na.nbrs"), col("nb.nbrs")).cast("long").as("tri"))
    }
  }

  /** Per-cluster dedup quality report: for every connected component of
    * the near-dup pair graph, its node count, pair count, and exact
    * triangle count — the integers behind "is this cluster a true dup
    * clique (n_pairs ≈ C(n,3)-dense) or a chain of borderline matches
    * bridged by one bad pair". All counts exact BIGINTs, so the oracle
    * comparison is bit-stable.
    *
    * Scale shape: [[connectedComponents]] is the logarithmic pointer-
    * jumping loop; triangles come from the same edge-iterator core as
    * [[triangleCount]] (never a wedge row); every labeling join is a
    * vertex-keyed equi-join. An edge's two endpoints share a component
    * by definition, so labeling by `doc_a` alone is exact. The pair
    * list feeds FOUR consumers (closure, pair tally, both triangle
    * joins), so an internal copy is materialized once — when `pairs`
    * is itself an LSH band join, re-deriving it per consumer nearly
    * doubles the operator's cost (measured 7.9 s → 4.8 s at sf0.1).
    */
  /** Global clustering coefficient of the near-dup graph — the
    * one-number closure summary 3·triangles / wedges, where wedges =
    * Σ_v C(d(v), 2): how often does "A matches B, B matches C" imply
    * "A matches C"? Low closure on a dup graph means chained
    * borderline matches (the survivors step is merging non-dups);
    * high closure means true cliques. Reuses [[triangleCount]]'s
    * edge-iterator core (no wedge row is ever materialized — the
    * classic 2-path self-join explodes on hub vertices) plus one
    * degree aggregate; both reductions end in single-row frames, so
    * the final combine is a broadcast of one row, and wedge counts
    * accumulate in exact integers (d·(d−1) is even, halved with
    * integer division — no float sum). Zero-wedge graphs pin gcc to
    * 0.0 on both engines.
    */
  def clusteringCoefficient(pairs: DataFrame, adjSlices: Int = 1): DataFrame = {
    val e = stagePersist(pairs.select(col("doc_a"), col("doc_b")))
    val tri = edgeTriangles(e, "doc_a", "doc_b", adjSlices)
      .agg(coalesce(sum(col("tri")), lit(0L)).cast("bigint").as("n_triangles"))
    val wedges = e.select(col("doc_a").as("v"))
      .unionByName(e.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d") * (col("d") - lit(1L))), lit(0L)).as("tw"))
      .select(expr("tw DIV 2").cast("bigint").as("n_wedges"))
    tri.crossJoin(broadcast(wedges)) // single row x single row
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0)).otherwise(
          round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 9)).as("gcc"))
  }

  /** Degree histogram of the near-dup graph — (degree, vertex count),
    * the census behind every skew decision in this file: a heavy tail
    * here is the empirical trigger for [[edgeTriangles]]'s
    * `adjSlices` guard and the salted joins. Two keyed integer
    * aggregates (vertex → degree, degree → count); no per-vertex
    * state beyond a counter, so a boilerplate hub costs one row, not
    * one giant array.
    */
  def degreeHistogram(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("v"))
      .unionByName(pairs.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_vertices"))
      .orderBy("degree")

  def cliqueDensity(pairs: DataFrame, adjSlices: Int = 1): DataFrame = {
    // one eager materialization of the pair list (it feeds the
    // closure, the pair tally, and both triangle joins); checkpoint
    // rather than persist so downstream planning stays AQE-managed —
    // an InMemoryRelation pins the consumer joins' strategies at
    // compile time, while the checkpointed RDD leaves runtime
    // broadcast conversion available
    val p = stagePersist(pairs.select(col("doc_a"), col("doc_b")))
    val labels = connectedComponents(p) // (doc_id, component), checkpointed
    val byA = labels.withColumnRenamed("doc_id", "a")
    val nodes = labels.groupBy("component")
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val pairCounts = p.select(col("doc_a").as("a"))
      .join(byA, "a")
      .groupBy("component").agg(count(lit(1)).cast("long").as("n_pairs"))
    val triCounts = edgeTriangles(p, "doc_a", "doc_b", adjSlices)
      .join(byA, "a")
      .groupBy("component").agg(sum(col("tri")).cast("long").as("n_triangles"))
    nodes.join(pairCounts, Seq("component"))
      .join(triCounts, Seq("component"), "left")
      .select(col("component"), col("n_docs"), col("n_pairs"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("component")
  }

  /** PageRank over the undirected near-dup pair graph: centrality
    * flags HUB documents — the template/boilerplate pages that sit at
    * the center of large near-dup clusters (a chain's bridge node and
    * a clique's members score very differently, which component size
    * alone can't see). Fixed `iterations` power steps, damping 0.85,
    * teleport mass split over the pair-graph vertex set.
    *
    * Determinism (hash-matched oracle): the whole iteration runs in
    * FIXED-POINT integer arithmetic — ranks are BIGINTs in 1e-15
    * units, per-edge contributions are integer divisions, and the
    * damping step is `(85·sum) div 100`. Integer sums are
    * order-independent, so Spark's partial aggregation and any serial
    * oracle produce identical bits with no decimal-rounding
    * hand-shake at all (the float round-to-12 variant of this flipped
    * a last-ulp on one vertex in 500 — floor division never can).
    * Each step floors away < 1e-15 per edge, so total mass leak is
    * ~(E+N)·1e-15 per iteration — noise for ranking/hub detection.
    *
    * Scale shape: the classic edges⋈ranks loop — each iteration is
    * one equi-join on the vertex id plus one vertex-keyed aggregate.
    * The symmetric edge list (with per-source degree folded in, so the
    * loop body joins ONE prebuilt table, not two) is materialized once
    * with an eager localCheckpoint and reused every iteration; ranks
    * frames are consumed exactly once each, so they stay lazy and the
    * plan depth is `iterations`, not exponential. Every vertex of an
    * undirected edge has deg ≥ 1 and an in-edge, so inner joins are
    * exact (no dangling-mass correction needed).
    */
  def pageRank(pairs: DataFrame, iterations: Int = 3,
      dampingPct: Int = 85): DataFrame = {
    val pr = pairs.select(col("doc_a").cast("long").as("a"),
      col("doc_b").cast("long").as("b"))
    // materialization ladder: sym once (so an expensive LSH pair join
    // isn't re-derived for the degree pass), deg once (vertex-sized;
    // feeds the edge join, the vertex count, and the rank init), then
    // the fused (u, v, deg-of-u) edge table once so the loop body
    // joins a single prebuilt side instead of edges AND degrees.
    // localCheckpoint, NOT persist: an r13 attempt switched the ladder
    // to lazy/columnar persist and the steady-state query got SLOWER
    // (isolated profile 4.0 s vs this shape's 2.95 s suite min — the
    // per-round joins re-planned against the full cached lineage, and
    // the un-truncated plan re-derived sym per consumer); checkpointed
    // row snapshots keep each round's plan flat.
    val sym = pr.select(col("a").as("u"), col("b").as("v"))
      .union(pr.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    val deg = sym.groupBy("u").agg(count(lit(1)).cast("long").as("deg"))
      .localCheckpoint(true)
    val edges = sym.join(deg, "u").localCheckpoint(true)
    val nv = deg.count()
    val S = 1000000000000000L // 1e15: rank unit = 1e-15
    // floor order matters for bit-parity: S/100 is exact, then ×(100-d)
    val teleS = S / 100L * (100L - dampingPct) / nv
    var ranks = deg.select(col("u"), lit(S / nv).as("r"))
    for (_ <- 1 to iterations) {
      ranks = edges
        .join(ranks, "u")
        .select(col("v"), expr("r div deg").as("contrib"))
        .groupBy("v")
        .agg(sum(col("contrib")).as("s"))
        .select(col("v").as("u"),
          (lit(teleS) + expr(s"($dampingPct * s) div 100")).as("r"))
    }
    // pr_rank: `rank` collides with the SQL window keyword in oracles
    ranks.select(col("u").as("doc_id"), col("r").as("pr_rank_e15"),
        (col("r").cast("double") / lit(1.0e15)).as("pr_rank"))
      .orderBy("doc_id")
  }

  /** PERSONALIZED PageRank — teleport mass restricted to a SEED set
    * (here: doc_id ≡ 0 mod `seedMod`, standing in for a curated
    * "known-good docs" list): ranks measure proximity to the seeds
    * through the near-dup graph, the expand-a-curated-corpus /
    * find-more-like-these primitive of a data-curation pipeline
    * (random-walk-with-restart similarity). Same BIGINT 1e-15
    * fixed-point discipline as [[pageRank]] — integer sums are
    * order-free, so partial aggregation matches a serial oracle
    * bit-for-bit. Differences from the global walk: rank mass starts
    * ON the seeds and teleports back ONLY to them, and a vertex
    * beyond `iterations` hops of every seed receives nothing and is
    * OMITTED (identically in the oracle) rather than padded — the
    * frontier itself is the answer. Per round: one edge⋈ranks
    * equi-join + vertex-keyed sum, then a vertex-scale full-outer
    * join against the (checkpointed) teleport vector, so untouched
    * seeds keep their restart mass. Scale shape identical to
    * [[pageRank]]: materialize-once edge ladder, lazy rank frames,
    * plan depth = iterations.
    */
  def personalizedPageRank(pairs: DataFrame, iterations: Int = 3,
      dampingPct: Int = 85, seedMod: Int = 50): DataFrame = {
    val pr = pairs.select(col("doc_a").cast("long").as("a"),
      col("doc_b").cast("long").as("b"))
    // same checkpointed staging ladder as [[pageRank]] (see the note
    // there: the r13 persist-ladder attempt regressed both walks)
    val sym = pr.select(col("a").as("u"), col("b").as("v"))
      .union(pr.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    val deg = sym.groupBy("u").agg(count(lit(1)).cast("long").as("deg"))
      .localCheckpoint(true)
    val edges = sym.join(deg, "u").localCheckpoint(true)
    val seeds = deg.select(col("u")).filter(col("u") % seedMod === 0)
    val nSeeds = seeds.count()
    require(nSeeds > 0,
      s"personalizedPageRank: no graph vertex has doc_id % $seedMod == 0")
    val S = 1000000000000000L // 1e15: rank unit = 1e-15
    val teleS = S / 100L * (100L - dampingPct) / nSeeds
    val tele = seeds.select(col("u"), lit(teleS).as("tele"))
      .localCheckpoint(true) // consumed every round
    var ranks = seeds.select(col("u"), lit(S / nSeeds).as("r"))
    for (_ <- 1 to iterations) {
      ranks = edges
        .join(ranks, "u")
        .select(col("v"), expr("r div deg").as("contrib"))
        .groupBy("v")
        .agg(sum(col("contrib")).as("s"))
        .select(col("v").as("u"), col("s"))
        .join(tele, Seq("u"), "full_outer")
        .select(col("u"),
          (coalesce(col("tele"), lit(0L)) +
            expr(s"($dampingPct * coalesce(s, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
    }
    ranks.select(col("u").as("doc_id"), col("r").as("ppr_e15"),
        (col("r").cast("double") / lit(1.0e15)).as("ppr"))
      .orderBy("doc_id")
  }

  /** Bounded k-core peel over the near-dup graph: `rounds` iterations
    * of "drop vertices with degree < k, induce the surviving
    * subgraph", emitting the survivors with their induced degree. A
    * vertex in a k-core is in a cluster where EVERY member has ≥ k
    * near-dup partners — the template/boilerplate-farm signal that
    * plain pair counts miss (a hub with many one-off matches peels
    * away; a mutually-dense clique survives).
    *
    * The peel count is FIXED, not run-to-convergence, so the result is
    * a deterministic, oracle-expressible function of the edge set
    * (each round is one nested subquery on the DuckDB side; peeling is
    * monotone, so `rounds` peels under-approximate the true core and
    * converge as rounds grow). Scale posture: each round is one
    * vertex-keyed degree aggregate plus two key-partitioned semi
    * joins — O(E) per round, rounds bounded — and `localCheckpoint`
    * truncates the iterative lineage exactly as [[pageRank]] does.
    */
  def kCore(pairs: DataFrame, k: Int = 2, rounds: Int = 3): DataFrame = {
    var edges = pairs
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .union(pairs.select(col("doc_b").cast("long"), col("doc_a").cast("long")))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("u")
      edges = edges
        .join(keep, Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint(true)
    }
    edges.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("doc_id"), col("deg"))
      .orderBy("doc_id")
  }

  /** Synchronous label propagation (community detection) on the
    * near-dup graph, a FIXED number of rounds — unlike
    * [[connectedComponents]] (pure reachability), LPA finds densely
    * linked communities inside a component, splitting template farms
    * that are only bridged by a stray pair. Fully deterministic twin
    * of the usually-randomized algorithm: init label(v) = v; each
    * round every vertex adopts the most frequent label among its
    * NEIGHBORS, ties to the smallest label (the argmax is a bounded
    * `max(struct(n, −label))` aggregate — no window, no sort). Each
    * round is two keyed shuffles (vote join + vote count) with
    * map-side combine, and lineage truncates per round — the same
    * 100 TB posture as the other iterative graph ops. Rounds are a
    * constant, so total cost is rounds × O(|E|).
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val Array(a, b) = edges.columns.take(2)
    val sym = edges.select(col(a).cast("long").as("u"), col(b).cast("long").as("v"))
      .union(edges.select(col(b).cast("long").as("u"), col(a).cast("long").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("u")).distinct().withColumn("label", col("u"))
    for (_ <- 1 to rounds) {
      labels = sym
        .join(labels.select(col("u").as("v"), col("label").as("vl")), "v")
        .groupBy("u", "vl").agg(count(lit(1)).as("n"))
        .groupBy("u")
        .agg(max(struct(col("n").as("n"), (-col("vl")).as("negl"))).as("best"))
        .select(col("u"), (-col("best.negl")).as("label"))
        .localCheckpoint(true)
    }
    sym.unpersist()
    labels.select(col("u").as("doc_id"), col("label")).orderBy("doc_id")
  }

  /** Bounded k-truss peel: edges supported by fewer than k−2 triangles
    * drop, for `rounds` rounds — the edge-grained community core
    * ([[kCore]] keeps a vertex with enough WEAK neighbors; a truss
    * keeps an edge only if its endpoints share actual witnesses, so
    * chained borderline matches peel even when degrees look healthy).
    * Support is computed per round from sorted adjacency arrays via
    * codegen'd sorted-merge intersect — never a wedge row ([[triangleCount]]
    * core) — with the same `adjSlices` hot-vertex guard: sliced
    * adjacency intersects per slice and SUMS, so a pathological hub
    * never builds one giant array. Each round is one vertex-keyed
    * aggregate + two edge-keyed joins, lineage truncated per round.
    * Rounds are part of the operator contract (the [[kCore]]/[[
    * labelPropagation]] bounded-round discipline), mirrored exactly by
    * the oracle's unrolled rounds.
    */
  /** persist + eager one-pass materialize — the non-iterative staging
    * discipline (the `d8bd56e` commonNeighbors measurement: an eager
    * `localCheckpoint` on a non-iterative frame costs ~40% of operator
    * wall in extra materialize + serialized round trip). The count
    * populates the cache up front so concurrent consumer branches of
    * the one downstream job read it instead of racing to recompute the
    * (typically LSH/SimHash band-join) input. Iterative loops keep
    * their per-round checkpoints — THOSE exist to truncate lineage,
    * which persist cannot do.
    */
  private def stagePersist(df: DataFrame): DataFrame = {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** Degree-probe ladder for the `adjSlices` hot-vertex guard — the
    * LSH plane-ladder discipline applied to adjacency arrays: ONE
    * cheap degree aggregate over the (distinct, ordered) pair list
    * picks the slice count so no vertex's per-slice neighbor array
    * exceeds ~`sliceCap` entries. On the tested corpora max degree
    * sits far under the cap (probe returns 1 — plan unchanged), but a
    * hub whose basket degree grows with corpus size now engages
    * slicing automatically instead of building one giant array.
    * Results-invariant: slicing only reshapes the plan (per-slice
    * intersect counts SUM to the unsliced count), so no oracle mirror
    * is needed — unlike the LSH plane ladder, which changes candidate
    * sets and must be mirrored.
    */
  def adjSlicesFor(pairs: DataFrame, sliceCap: Int = 4096): Int = {
    val Array(a, b) = pairs.columns.take(2)
    val sym = pairs.select(col(a).cast("long").as("u"))
      .union(pairs.select(col(b).cast("long").as("u")))
    val r = sym.groupBy("u").agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head()
    val maxDeg = if (r.isNullAt(0)) 0L else r.getLong(0)
    math.max(1, math.ceil(maxDeg.toDouble / sliceCap).toInt)
  }

  /** `adjBroadcastEdges` gates a BROADCAST of the per-round adjacency
    * table — the [[connectedComponents]] size-gate discipline applied
    * to the support join: without it the plan shuffles every surviving
    * edge TWICE carrying full neighbor arrays (measured 259 MB shuffled
    * + a 274 MB round checkpoint for the sf0.1 basket graph whose edge
    * list is 4.5 MB), while the adjacency table itself totals only
    * 2·|E| longs. At or under the gate (default 2²² edges ≈ 64 MB of
    * array payload — mid-range for a broadcast relation, far under the
    * 8 GB hard cap, and strictly cheaper than shuffling the same
    * arrays |E|/|V| times over) both support joins become
    * broadcast-hash over a single shared exchange and the arrays never
    * cross a shuffle; a graph over the gate keeps the unchanged
    * shuffle plan. The round's edge count is a cached-scan count (e is
    * always checkpointed), and results are identical on both paths.
    */
  def kTruss(pairs: DataFrame, k: Int = 4, rounds: Int = 3,
      adjSlices: Int = 1, adjBroadcastEdges: Long = 1L << 22): DataFrame = {
    require(k >= 3 && rounds >= 1 && adjSlices >= 1,
      s"need k>=3, rounds>=1, adjSlices>=1; got $k, $rounds, $adjSlices")
    val Array(a, b) = pairs.columns.take(2)
    // hash-spread over the full task width before the checkpoint: the
    // support join is CPU-bound (one sorted-array merge per edge), and
    // AQE's size-based coalescing otherwise packs the MB-scale edge
    // list into a handful of partitions, serializing that CPU
    // (measured 10 tasks × ~1 s instead of width × ~0.3 s). Width =
    // defaultParallelism — cluster-derived, not a local constant; the
    // per-round checkpoints inherit the join-stage partitioning, so
    // one spread covers every round.
    val width = pairs.sparkSession.sparkContext.defaultParallelism
    var e = pairs.select(
        least(col(a), col(b)).cast("long").as("x"),
        greatest(col(a), col(b)).cast("long").as("y"))
      .distinct().repartition(width, col("x"), col("y"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val m = e.count()
      def gate(adj: DataFrame): DataFrame =
        if (m <= adjBroadcastEdges) broadcast(adj) else adj
      val sym = e.select(col("x").as("u"), col("y").as("v"))
        .union(e.select(col("y").as("u"), col("x").as("v")))
      val supported =
        if (adjSlices == 1) {
          val adj = gate(sym.groupBy(col("u").as("vtx"))
            .agg(sort_array(collect_set(col("v"))).as("nbrs")))
          e.join(adj.as("na"), col("x") === col("na.vtx"))
            .join(adj.as("nb"), col("y") === col("nb.vtx"))
            .select(col("x"), col("y"),
              graft.functions.GraftFunctions.sorted_intersect_count(
                col("na.nbrs"), col("nb.nbrs")).cast("long").as("supp"))
        } else {
          val adj = gate(sym.groupBy(col("u").as("vtx"),
              pmod(col("v"), lit(adjSlices)).as("sl"))
            .agg(sort_array(collect_set(col("v"))).as("nbrs")))
          // an edge with no common slice has support 0 and k >= 3
          // filters it anyway, so the inner slice join is exact
          e.join(adj.as("na"), col("x") === col("na.vtx"))
            .join(adj.as("nb"),
              col("y") === col("nb.vtx") && col("na.sl") === col("nb.sl"))
            .groupBy(col("x"), col("y"))
            .agg(sum(graft.functions.GraftFunctions.sorted_intersect_count(
                col("na.nbrs"), col("nb.nbrs")))
              .cast("long").as("supp"))
        }
      e = supported.filter(col("supp") >= k - 2).select("x", "y")
        .localCheckpoint(true)
    }
    e.select(col("x").as("doc_a"), col("y").as("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate-cluster size histogram: how many near-dup clusters of
    * each member count exist — the first chart of every dedup run
    * report (a fat tail of giant clusters means template farms; all
    * size-2 means borderline pairings). [[connectedComponents]] then
    * two group-scale aggregates; singletons (docs in no pair) are NOT
    * counted — this is a census of the pair graph's clusters.
    */
  def clusterSizeHistogram(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      .orderBy("sz")

  /** Per-edge neighborhood Jaccard — the structural-confidence score
    * for candidate pairs: a near-dup edge whose endpoints ALSO share
    * most neighbors sits inside a real dup cluster; one with disjoint
    * neighborhoods is a lone (possibly spurious) match even at high
    * text similarity. |N(u)∩N(v)| / |N(u)∪N(v)| with neighbor sets
    * as-is (the endpoints themselves count in the union, not the
    * intersection — the standard convention). Same machinery as
    * [[kTruss]]'s support pass: sorted adjacency arrays +
    * codegen'd intersect, one vertex-keyed aggregate, two edge-keyed
    * joins, round(…,6) on the one division.
    */
  def nodeJaccard(pairs: DataFrame): DataFrame = {
    val Array(a, b) = pairs.columns.take(2)
    val p = stagePersist(pairs.select(
        least(col(a), col(b)).cast("long").as("x"),
        greatest(col(a), col(b)).cast("long").as("y"))
      .distinct())
    val sym = p.select(col("x").as("u"), col("y").as("v"))
      .union(p.select(col("y").as("u"), col("x").as("v")))
    val adj = sym.groupBy(col("u").as("vtx"))
      .agg(sort_array(collect_set(col("v"))).as("nbrs"))
    val inter = graft.functions.GraftFunctions.sorted_intersect_count(
      col("na.nbrs"), col("nb.nbrs"))
      .cast("long")
    p.join(adj.as("na"), col("x") === col("na.vtx"))
      .join(adj.as("nb"), col("y") === col("nb.vtx"))
      .select(col("x").as("doc_a"), col("y").as("doc_b"),
        round(inter.cast("double") /
          (size(col("na.nbrs")) + size(col("nb.nbrs")) - inter)
            .cast("double"), 6).as("nbr_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Community boundary census over the [[labelPropagation]] vote: the
    * edge count per (community, community) pair — the inter-community
    * structure [[modularity]]'s per-community e_in can't see (WHICH
    * templates bridge into which, the first question after "the vote
    * found structure"). Intra-community cells have comm_a = comm_b.
    * Two vertex-keyed labeling joins + one label-pair aggregate;
    * output is community-pair-scale.
    */
  def communityEdges(pairs: DataFrame, rounds: Int = 3): DataFrame = {
    val Array(a, b) = pairs.columns.take(2)
    val p = stagePersist(pairs.select(
      col(a).cast("long").as("x"), col(b).cast("long").as("y")))
    val labels = labelPropagation(p, rounds)
    p.join(labels.select(col("doc_id").as("x"), col("label").as("la")), "x")
      .join(labels.select(col("doc_id").as("y"), col("label").as("lb")), "y")
      .groupBy(least(col("la"), col("lb")).as("comm_a"),
        greatest(col("la"), col("lb")).as("comm_b"))
      .agg(count(lit(1)).as("n_edges"))
      .orderBy("comm_a", "comm_b")
  }

  /** Degree assortativity of the undirected pair graph — the Pearson
    * correlation of endpoint degrees over every DIRECTED edge (each
    * undirected edge counted once per direction, the standard Newman
    * convention). Positive: hubs pair with hubs — near-dup graphs
    * built from boilerplate skew this way, and a high coefficient is
    * an early warning that a few templates are stitching the corpus
    * into one giant quasi-clique (the failure mode [[cliqueDensity]]
    * diagnoses after the fact). Plan: one degree aggregate (node-
    * keyed), two broadcast-or-keyed joins to tag each edge's endpoint
    * degrees, then a SINGLE scalar sufficient-statistic aggregate —
    * exact DECIMAL(38,0) sums of integer degrees (order-free), one
    * double formula rounded to 12 dp, zero-variance graphs (all
    * degrees equal, e.g. perfect matchings or cycles) pinned to 0.0.
    */
  def assortativity(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val Array(a, b) = pairs.columns.take(2)
    // eager materialization of the UNDIRECTED pair list (half the
    // rows of sym): it feeds the degree build AND the cross-term join,
    // and when `pairs` is a SimHash band join, leaving it lazy
    // re-derives that candidate join per consumer (the pageRank /
    // cliqueDensity discipline)
    val p = stagePersist(pairs.select(
      col(a).cast("long").as("x"), col(b).cast("long").as("y")))
    val sym = p.select(col("x").as("u"), col("y").as("v"))
      .union(p.select(col("y").as("u"), col("x").as("v")))
    // deg is VERTEX-scale and feeds two consumers (the cross-term
    // join and the closing moment join) — cache it so the edge-scale
    // degree aggregation runs once (the pageRank ladder)
    val deg = stagePersist(sym.groupBy("u").agg(count(lit(1)).as("d")))
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    // degree-moment form: over the SYMMETRIC directed-edge list the
    // source-side and target-side sums coincide exactly (every vertex
    // is a source in d(u) edges and a target in d(u) edges), so
    // n = Σd, sx = sy = Σd², ssx = ssy = Σd³ all fall out of the
    // VERTEX-scale degree table, and only the cross term needs the
    // edges: sp = Σ_u d(u)·S(u) with S(u) = Σ_{v∈N(u)} d(v). That is
    // ONE edge-scale join (sym⋈deg on v, partially aggregated down to
    // vertex scale) instead of the textbook edges⋈deg⋈deg double join
    // — exact integer arithmetic throughout, so the oracle's two-join
    // form produces bit-identical sums
    val nbrDegSum = sym.join(deg.select(col("u").as("v"),
        col("d").as("dv")), "v")
      .groupBy("u").agg(sum(d38(col("dv"))).as("s_nbr"))
    deg.join(nbrDegSum, "u")
      .agg(coalesce(sum(col("d")), lit(0L)).as("n"),
        sum(d38(col("d")) * d38(col("d"))).as("sx"),
        sum(d38(col("d")) * d38(col("d")) * d38(col("d"))).as("ssx"),
        sum(d38(col("d")) * col("s_nbr")).as("sp"))
      .select(col("n").as("n_directed_edges"),
        Relational.pearsonFromSums(
          sy = col("sx"), ssy = col("ssx")).as("assortativity"))
  }

  /** HyperBall-style neighborhood function over the near-dup graph
    * (Boldi & Vigna's HyperBall, with bottom-k KMV registers instead
    * of HLL): per vertex, an estimate of |ball≤r(v)| — how much of the
    * corpus sits within r near-dup hops. Big 2-hop balls around a doc
    * flag template neighborhoods that pairwise thresholds undercount;
    * the per-vertex curve is the raw material for effective-diameter
    * and spid-style corpus diagnostics.
    *
    * Determinism (hash-matched oracle): bottom-k is a SEMILATTICE
    * MORPHISM — the k smallest hashes of a union equal the k smallest
    * over the members' bottom-k sets — so r rounds of "merge my
    * neighbors' registers into mine" yield EXACTLY the bottom-k of the
    * true ball, and an oracle that materializes the exact ball
    * membership and takes the k smallest per vertex reproduces the
    * estimate bit-for-bit (md5-prefix hashes, the [[Relational
    * .a12KmvRollup]] recipe). No approximation drift to hand-shake —
    * the estimator, not the register state, carries the error.
    *
    * Scale shape: this is THE point of HyperBall — per-vertex state is
    * k longs regardless of ball size, each round is one edge⋈state
    * equi-join plus a vertex-keyed bounded TopKAgg (map-side
    * combining), and rounds are fixed. The exact alternative
    * materializes ball MEMBERSHIP — Σ|ball(v)| rows, quadratic in a
    * dense component (fine for a sf0.01 oracle, dead at 100 TB).
    * Edge list and round states are eagerly materialized (the
    * pageRank ladder): each state feeds the next round's join and
    * union, and the final state feeds the estimator.
    */
  def kmvBall(pairs: DataFrame, rounds: Int = 2, k: Int = 8): DataFrame = {
    import graft.functions.GraftFunctions.top_k_agg
    require(rounds >= 1 && k >= 2, s"need rounds>=1, k>=2; got $rounds, $k")
    val Array(a, b) = pairs.columns.take(2)
    val p = stagePersist(pairs.select(
      col(a).cast("long").as("x"), col(b).cast("long").as("y")))
    // sym stays LAZY (two selects over the cached pair frame): an r13
    // attempt materialized it hash-partitioned on v (the bfsBall shape),
    // but the register-merge join BROADCASTS the vertex-sized state —
    // sym never needs the v-partitioning, and the pre-shuffled persisted
    // copy replaced a cheap cache re-read with a 3M-row partitioned
    // materialization the ObjectHashAggregate then consumed WITHOUT
    // map-side-combine locality (isolated profile: 7.4 s warm vs 3.1 s
    // for this shape; init round alone 24 s cold)
    val sym = p.select(col("x").as("u"), col("y").as("v"))
      .union(p.select(col("y").as("u"), col("x").as("v")))
    def h(c: Column) =
      conv(substring(md5(c.cast("string")), 1, 13), 16, 10).cast("long")
    // r = 0: every vertex's register is exactly {h(u)} — a SINGLE
    // element — so the init is one distinct + one md5 per VERTEX
    // (vertex-sized rows the first round consumes directly), not an
    // object aggregate over the symmetric edge list. The previous
    // shape ran top_k_agg over all |sym| rows with two md5 calls each
    // to produce those same singletons (profiled 12.3 CPU-s at sf0.1
    // for a 5 k-vertex result); round-1 inputs are identical by
    // construction: {h(u)} ∪ {h(v) : v ∈ N(u)} per vertex.
    val verts = sym.select("u").distinct()
      .select(col("u"), h(col("u")).as("hid"))
      .localCheckpoint(true)
    // round 1 merges raw (u, hid) vertex rows; later rounds merge the
    // k-sized sketches of the previous state. Both arms end in the
    // same top_k_agg, so the state schema is TopKAgg's from round 1 on.
    var state = verts
      .union(sym.join(verts.withColumnRenamed("u", "v")
          .withColumnRenamed("hid", "nhid"), "v")
        .select(col("u"), col("nhid").as("hid")))
      .groupBy("u")
      .agg(top_k_agg(-col("hid").cast("double"), col("hid"), k).as("sk"))
      .localCheckpoint(true)
    // later rounds merge whole sketches: each (u,v) edge contributes
    // v's k-entry sketch ARRAY as one row into top_k_merge_agg, instead
    // of k exploded (u, hid) rows re-scored through top_k_agg — the
    // explode's k·|sym| row amplification through the hash aggregate
    // was the dominant per-round cost (r13 verdict Next #5; guide §2.3
    // aggregate fewer, wider rows). Stored (score, id) pairs re-insert
    // verbatim (score ≡ -hid by construction), and insert is a
    // set-insert under a total order, so the merged register set is
    // identical to the exploded re-aggregation's.
    import graft.functions.GraftFunctions.top_k_merge_agg
    for (_ <- 2 to rounds) {
      val nbr = sym.join(state.withColumnRenamed("u", "v")
          .withColumnRenamed("sk", "nsk"), "v")
        .select(col("u"), col("nsk").as("sk"))
      state = state.union(nbr)
        .groupBy("u")
        .agg(top_k_merge_agg(col("sk"), k).as("sk"))
        .localCheckpoint(true)
    }
    val twoP52 = 4503599627370496.0 // 2^52, the md5-prefix hash range
    state
      .select(col("u").as("doc_id"),
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(floor(lit((k - 1) * twoP52)
            / element_at(col("sk"), k).getField("id")).cast("long"))
          .as("ball_est"))
      .orderBy("doc_id")
  }

  /** Newman modularity census of the [[labelPropagation]] communities
    * over an undirected pair graph: per community c,
    * contrib = e_c/m − (d_c/2m)², where e_c = internal edges, d_c =
    * degree sum, m = total edges; Q = Σ contrib measures whether the
    * vote actually found structure (Q≈0: no better than random — the
    * signal a dedup operator uses to decide if "template communities"
    * are real before acting on them). Plan: the pair list is
    * materialized ONCE (it is usually an LSH band join — re-deriving
    * it per consumer repeats the candidate join), then every step is a
    * keyed aggregate or keyed join on node id / label — no per-group
    * arrays, no driver pulls; m joins in as a one-row broadcast. All
    * counts are exact integers; the two-term float formula is a final
    * round(…,12) barrier.
    */
  def modularity(pairs: DataFrame, rounds: Int = 3): DataFrame = {
    val Array(a, b) = pairs.columns.take(2)
    val p = pairs.select(col(a).cast("long").as("x"), col(b).cast("long").as("y"))
      .localCheckpoint(true)
    val labels = labelPropagation(p, rounds)
      .select(col("doc_id"), col("label"))
    val sym = p.select(col("x").as("u"), col("y").as("v"))
      .union(p.select(col("y").as("u"), col("x").as("v")))
    // node-keyed: degree, then community tag; label-keyed: the three
    // per-community sufficient statistics
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
    val nodeStats = deg.join(labels.withColumnRenamed("doc_id", "u"), "u")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("deg_sum"))
    val eIn = p
      .join(labels.select(col("doc_id").as("x"), col("label").as("la")), "x")
      .join(labels.select(col("doc_id").as("y"), col("label").as("lb")), "y")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
    val m = p.agg(count(lit(1)).as("m"))
    nodeStats.join(eIn, Seq("label"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(m)
      .select(col("label"), col("n_nodes"), col("e_in"), col("deg_sum"),
        round(col("e_in").cast("double") / col("m")
          - pow(col("deg_sum").cast("double") / (col("m") * 2), 2), 12)
          .as("contrib"))
      .orderBy("label")
  }

  /** Common-neighbor link prediction over the near-dup graph: for
    * every NON-edge pair (u,v) sharing at least `minCommon` neighbors,
    * emit the shared-neighbor count — the classic "these two documents
    * match the same cluster but the LSH bands missed their direct
    * pair" recall signal. Wedge centers are capped at `maxDegree`:
    * a hub shared by everything is no evidence of similarity (the
    * integer-exact analogue of Adamic–Adar's 1/log d down-weighting),
    * and the cap is what bounds the wedge expansion — an uncapped
    * degree-d hub mints d²/2 candidate pairs, the exact blowup the
    * triangle core guards with adjSlices. Identical cap on the oracle
    * side, so the semantics (not just the plan) are shared. Plan: one
    * degree aggregate, one center-filtered self-join keyed on the
    * wedge center, one pair-keyed count, one anti-join against the
    * real edge list — every stage keyed and bounded.
    */
  def commonNeighbors(pairs: DataFrame, maxDegree: Int = 64,
      minCommon: Int = 2): DataFrame = {
    val Array(a, b) = pairs.columns.take(2)
    // persist, not localCheckpoint: the edge list feeds three
    // consumers but the operator is NOT iterative (no lineage blowup
    // to truncate), and the in-memory cache avoids the eager
    // checkpoint's extra materialize job + serialized round trip —
    // measured 40% of this operator's wall at sf0.1. The cache is
    // released below once the OUTPUT (candidate-scale, tiny) is
    // eagerly materialized.
    val p = pairs.select(
        least(col(a), col(b)).cast("long").as("x"),
        greatest(col(a), col(b)).cast("long").as("y"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = commonNeighborsLazy(p, maxDegree, minCommon)
      .localCheckpoint(true) // output-scale; lets the edge cache go
    p.unpersist(blocking = false)
    out
  }

  /** The lazy wedge pipeline over a normalized distinct (x, y) edge
    * list — split out so PlansSpec can pin the join shapes (the public
    * wrapper returns a checkpoint scan, which hides them).
    *
    * Perf history (`graph_link_predict`): r7 ~2.7x its oracle via a
    * center-keyed SELF-JOIN wedge expansion; r8 2.0x after the shared
    * basket cache; r9 replaced the self-join with the bounded
    * TopKAgg adjacency-array enumeration below — same exchanges, no
    * 2E-row hash-join build/probe — measured 4.22 → 2.05 s in a
    * same-host A/B (≈1.7 s quiet-host, under the 1.78 s oracle). The
    * hub-growth probe's degree-cap guarantee carries over unchanged:
    * per-key aggregate state is maxDegree slots, so a corpus-sized
    * hub costs maxDegree inserts, not an array.
    */
  private[graft] def commonNeighborsLazy(p: DataFrame, maxDegree: Int,
      minCommon: Int): DataFrame = {
    import graft.functions.GraftFunctions.top_k_agg
    val sym = p.select(col("x").as("u"), col("y").as("v"))
      .union(p.select(col("y").as("u"), col("x").as("v")))
    // ONE center-keyed aggregate replaces the old degree-filter +
    // center-keyed self-join (same exchange count, minus the 2E-row
    // hash join build/probe): the bounded TopKAgg keeps at most
    // maxDegree neighbors per center (score −v ⇒ ids ascend), the
    // exact count rides alongside, and centers past the cap drop
    // BEFORE any array leaves the aggregate — per-key state is
    // maxDegree slots even on a corpus-sized hub, never an unbounded
    // collect_list. For surviving centers (d ≤ maxDegree = k) the
    // array holds ALL neighbors, so the generated ascending pairs are
    // exactly the old join's v<v' wedge set.
    val adjArr = sym.groupBy("u")
      .agg(count(lit(1)).as("d"),
        top_k_agg((-col("v")).cast("double"), col("v"), maxDegree).as("nb"))
      .filter(col("d") <= maxDegree)
    // lazy pair generator over the (ascending-id) adjacency array — the
    // [[graft.functions.PairExplode]] shape ngramJaccard uses: the old
    // nested transform/slice/flatten HOF materialized each center's
    // ENTIRE C(d,2) pair array through interpreted lambdas before the
    // explode (profiled 12.6 CPU-s in the wedge stage at sf0.1);
    // the generator walks the index pair lazily with no allocation
    // beyond the emitted row. Pair set identical (i < j over the same
    // ascending array).
    val cand = adjArr
      .select(graft.functions.GraftFunctions.pair_explode(col("nb"))
        .as(Seq("wa", "wb")))
      .select(col("wa.id").as("doc_a"), col("wb.id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    cand.join(p.select(col("x").as("doc_a"), col("y").as("doc_b")),
        Seq("doc_a", "doc_b"), "left_anti")
      .orderBy("doc_a", "doc_b")
  }

  /** The disjoint BFS frontiers `f_1 … f_hops` of every seed, as
    * (s, v) frames: f_1 = N(seeds), f_h = N(f_{h-1}) \ ball_{h-1}. A
    * seed never appears in its own frontiers (self-loop pairs
    * included). `seedsOf` picks the seeds (column `s`) and may read the
    * edge list it is given (`u`, `v`, both directions).
    *
    * FRONTIER expansion, not whole-ball re-expansion (guide §1.2 step
    * 1 / §2.3): the old shape joined the ENTIRE ball against e each
    * hop and re-deduped the union — hop 3 re-derived every hop-1 and
    * hop-2 path again (r14 profile: the b2 distinct alone shuffled
    * 53 MB at sf0.1). Radius-h reachability only needs the NEIGHBORS
    * OF THE NEW nodes, and since the frontiers are disjoint by
    * construction the ball sizes are cumulative sums of frontier
    * counts — no ball-scale union, dedup, or re-join ever happens.
    */
  private def bfsFrontiers(pairs: DataFrame, hops: Int)(
      seedsOf: DataFrame => DataFrame): Seq[DataFrame] = {
    val p = pairs.select(col("doc_a").cast("long").as("x"),
      col("doc_b").cast("long").as("y"))
    // the symmetric edge list is the probe side of EVERY hop join, all
    // keyed on u — materialize it ONCE, already hash-partitioned on u,
    // so the hop joins neither re-derive it from the pair frame nor
    // re-shuffle it per hop (guide §2.4 exchange sharing; measured
    // 3× 37 MB re-derivations + 3× 21 MB exchanges at sf0.1 without
    // this). localCheckpoint preserves the repartition's partitioning.
    val e = p.select(col("x").as("u"), col("y").as("v"))
      .unionAll(p.select(col("y").as("u"), col("x").as("v")))
      .repartition(col("u")).localCheckpoint(true)
    val width = pairs.sparkSession.sparkContext.defaultParallelism
    // One v-keyed exchange settles each hop: hashpartitioning(v)
    // satisfies both the distinct's ClusteredDistribution(s, v) ({v} ⊂
    // keys — equal (s, v) pairs share v, dedup stays global) and the
    // anti-joins' (s, v) clustering, and localCheckpoint preserves it,
    // so the next hop's f.v-keyed probe of e pays no frontier-side
    // exchange. Each frontier is (seeds × nodes)-bounded and eagerly
    // truncated, so the next hop and the size aggregates read a
    // materialized frontier instead of re-running the join chain.
    def settle(ball: DataFrame, minus: Seq[DataFrame]): DataFrame =
      minus.foldLeft(
        ball.repartition(width, col("v")).distinct())(
        (b, m) => b.join(m, Seq("s", "v"), "left_anti"))
        .localCheckpoint(true)
    def hop(frontier: DataFrame): DataFrame = frontier.as("f")
      .join(e.as("g"), col("f.v") === col("g.u"))
      .select(col("f.s").as("s"), col("g.v").as("v"))
      .filter(col("v") =!= col("s"))
    val f1 = settle(seedsOf(e).join(e, col("s") === col("u"))
      .select(col("s"), col("v")).filter(col("v") =!= col("s")), Nil)
    (2 to hops).foldLeft(Vector(f1)) { (fs, _) =>
      fs :+ settle(hop(fs.last), fs)
    }
  }

  /** Multi-source BFS ball census: cumulative reachable-node counts
    * at radius 1/2/3 from a deterministic seed subset (`node %
    * seedMod == 0`) — the "how connected is this graph around a
    * probe set" readout (recommendation blast radius, contamination
    * spread). Exactly three frontier-expansion joins off the
    * (persisted, shared) pair list, each a seed-bounded frame against
    * the adjacency — the standard multi-source BFS shape that holds
    * at any graph size as long as the SEED set is bounded (it is:
    * modulus-sampled; a production run sizes the modulus to its
    * cluster). No per-node state beyond (seed, node) distinct rows.
    */
  def bfsBall(pairs: DataFrame, seedMod: Long = 997L): DataFrame = {
    // No broadcast hint on seeds: the seed set is modulus-sampled off
    // the node set and grows linearly with the corpus, so a forced
    // broadcast would hit the 8 GB hard limit at scale — let AQE pick
    // the strategy from the observed size (the dupRateByLength rule).
    val Seq(f1, f2, f3) = bfsFrontiers(pairs, 3)(e =>
      e.select(col("u").as("s")).distinct().filter(col("s") % seedMod === 0))
    def sizes(frontier: DataFrame, name: String) =
      frontier.groupBy(col("s")).agg(count(lit(1)).as(name))
    // cumulative: |ball_h| = Σ |frontier_i|, i ≤ h (frontiers disjoint);
    // left joins + 0-fill because a saturated ball's later frontiers
    // are empty — the inner-join-on-balls original never dropped a seed
    // for the same reason (ball_h ⊇ ball_1 is never empty)
    sizes(f1, "n_r1")
      .join(sizes(f2, "d2"), Seq("s"), "left")
      .join(sizes(f3, "d3"), Seq("s"), "left")
      .na.fill(0L, Seq("d2", "d3"))
      .select(col("s").as("seed"), col("n_r1"),
        (col("n_r1") + col("d2")).as("n_r2"),
        (col("n_r1") + col("d2") + col("d3")).as("n_r3"))
      .select(col("seed"), col("n_r1"), col("n_r2"), col("n_r3"),
        round(col("n_r3").cast("double") / col("n_r1").cast("double"), 9)
          .as("expansion"))
      .orderBy("seed")
  }

  /** Root-eccentricity census of the near-dup components: BFS from
    * each component's canonical root (its minimum doc_id — the
    * survivor every keep-lowest policy retains) and report how many
    * hops the FARTHEST member sits away, capped at 4 (reported as 5).
    * Eccentricity 1 means the root is directly similar to every
    * member; 3+ means the component exists only through CHAINED
    * similarity — exactly the over-merge depth
    * [[graft.operators.DedupOps]]'s pair counts can't see. Roots are
    * component-cardinality-bounded seeds; each of the four fixed
    * frontier joins is eagerly truncated (the [[bfsBall]] shape), and
    * the census is a tiny keyed count.
    */
  def componentEccentricity(pairs: DataFrame, maxHops: Int = 4): DataFrame = {
    val comp = connectedComponents(pairs)
    val sizesC = comp.groupBy(col("component")).agg(count(lit(1)).as("sz"))
    val roots = comp.select(col("component").as("s")).distinct()
    val frontiers = bfsFrontiers(pairs, maxHops)(_ => roots)
    val counts = frontiers.zipWithIndex.map { case (f, i) =>
      f.groupBy(col("s")).agg(count(lit(1)).as(s"d${i + 1}"))
    }
    // left joins + 0-fill: a saturated ball's later frontiers are empty
    val joined = counts.reduce((a, b) => a.join(b, Seq("s"), "left"))
      .na.fill(0L, (2 to maxHops).map(i => s"d$i"))
      .join(sizesC.withColumnRenamed("component", "s"), "s")
    // eccentricity = first radius whose CUMULATIVE frontier mass covers
    // the whole component (root excluded); 4 hops not enough -> capped
    val cum = (1 to maxHops).map(r =>
      (1 to r).map(i => col(s"d$i")).reduce(_ + _))
    val ecc = (1 to maxHops).foldRight(lit(maxHops + 1): Column) { (r, tail) =>
      when(cum(r - 1) === col("sz") - 1L, r).otherwise(tail)
    }
    joined.select(ecc.as("root_ecc"), col("sz"))
      .groupBy(col("root_ecc"))
      .agg(count(lit(1)).as("n_components"), sum(col("sz")).as("n_docs"))
      .orderBy("root_ecc")
  }
}
