package graft

import graft.operators.Relational

/** Scale-posture assertions on the physical plans: pushdown reaching
  * the parquet scan, broadcast joins for bounded dims, map-side partial
  * aggregation — the properties that decide whether these plans survive
  * a 100× scale-up (builder prompt: ".explain and iterate").
  */
class PlansSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("F1 theta filter is pushed into the parquet scan") {
    val p = plan(Relational.f1Where(Tables(spark, sf0001, "lineitem")))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThan(l_quantity,30"),
      s"filter not pushed:\n${p.take(2000)}")
  }

  test("P1 projection prunes the parquet ReadSchema to selected columns") {
    val p = plan(Relational.p1Projection(Tables(spark, sf0001, "customer")))
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"),
      s"schema not pruned:\n${p.take(2000)}")
  }

  test("F2 watermark predicate is pushed (timestamp greater-than)") {
    val p = plan(Relational.f2Watermark(Tables(spark, sf0001, "orders"),
      "1998-06-01 00:00:00"))
    assert(p.contains("GreaterThan(o_orderdate"),
      s"watermark not pushed:\n${p.take(2000)}")
  }

  test("q5 star join broadcasts the bounded dimensions") {
    val p = plan(Relational.q5BroadcastJoin(
      Tables(spark, sf0001, "region"), Tables(spark, sf0001, "nation"),
      Tables(spark, sf0001, "customer")))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), "dims should not sort-merge")
  }

  test("q1 aggregate runs map-side partial aggregation before the shuffle") {
    val p = plan(Relational.q1Agg(Tables(spark, sf0001, "lineitem")))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), s"no partial agg:\n${p.take(2000)}")
  }

  test("j5 range join is a narrow map over one broadcast month array") {
    val p = plan(Relational.j5RangeJoin(Tables(spark, sf0001, "lineitem"),
      Tables(spark, sf0001, "orders")))
    // no per-month row expansion, no per-row join on the fact side —
    // the only join is the single-row broadcast of the sorted array
    assert(!p.contains("Generate"), s"explode reappeared:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), "fact side must not shuffle-join")
    assert(p.contains("sorted_count_between") || p.contains("sortedcountbetween") ||
      p.contains("SortedCountBetween"),
      s"binary-search kernel missing from plan:\n${p.take(2000)}")
  }

  test("minhash signatures aggregate partially before their single shuffle") {
    val df = graft.operators.DedupOps.minhashSignatures(
      Tables(spark, sf0001, "documents"), 16)
    df.collect()
    val p = plan(df)
    assert(p.contains("partial_min"), s"no map-side min agg:\n${p.take(2000)}")
    // the shingle build runs behind an entry repartition(doc_id), so the
    // groupBy(doc_id) is co-partitioned with it: that repartition must be
    // the ONLY hash exchange in the whole pipeline — the aggregation
    // reuses its partitioning. (AQE's toString repeats the plan under
    // "== Initial Plan ==" — count the final section only.)
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(exchanges == 1,
      s"expected only the entry repartition exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("a7 quantile-bound check broadcasts the 3-row approx side") {
    val df = Relational.a7ApproxQuantilesCheck(Tables(spark, sf0001, "lineitem"))
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"approx side must broadcast, not shuffle the fact table:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("cms sketch aggregates partially before its single-row shuffle") {
    val df = Relational.a9CmsCheck(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df)
    // TypedImperativeAggregate → ObjectHashAggregate with a partial
    // phase: per-partition sketches merge map-side, ONE matrix row
    // crosses the exchange per partition
    assert(p.contains("ObjectHashAggregate"), s"no object agg:\n${p.take(2000)}")
    assert(p.contains("partial_cms_sketch"),
      s"sketch must partial-aggregate map-side:\n${p.take(2000)}")
  }

  test("sessionize reuses one (user_id) exchange for both window passes") {
    val df = Relational.w4Sessionize(Tables(spark, sf0001, "events"), 30)
    df.collect()
    val p = plan(df)
    // lag + running sum share the Window partitioning; only the final
    // presentation orderBy adds a range exchange. (AQE's toString
    // repeats the plan under "== Initial Plan ==" — count the final
    // section only.)
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("w8 ranking trio shares ONE (o_custkey) exchange and one sort") {
    val df = Relational.w8NtileStats(Tables(spark, sf0001, "orders"))
    df.collect()
    val p = plan(df)
    // ntile + percent_rank + cume_dist all declare the same window
    // spec: Catalyst must plan them in a single Window node over one
    // hash exchange (plus only the presentation range exchange)
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("funnel exchanges are ALL keyed on user_id (no other shuffle key)") {
    val df = Relational.funnelSteps(Tables(spark, sf0001, "events"),
      Seq("view", "click", "purchase"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // per-step aggregations + joins + the final count must every one
    // partition by user_id — any other hash key would mean a funnel
    // stage re-shuffles the data it already co-located
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.startsWith("user_id")),
      s"non-user_id exchange in funnel plan: $keys\n${p.take(3000)}")
  }

  test("knnLabelAgreement broadcasts the query side; corpus is never hash-shuffled") {
    val e = Tables(spark, sf0001, "embeddings")
    val df = graft.operators.SimilarityOps.knnLabelAgreement(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") % 25 === 0), 5)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n${p.take(3000)}")
    // the only hash exchanges are the query-keyed window/vote stages
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.forall(_.startsWith("query_id")),
      s"corpus-keyed exchange leaked into knn plan: $keys\n${p.take(3000)}")
  }

  test("j7 interval overlap is JOIN-FREE: range windows, l_partkey-led exchanges") {
    val df = Relational.j7IntervalOverlap(Tables(spark, sf0001, "lineitem"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // fixed-width overlap reduces to symmetric range windows: the plan
    // must contain NO join (zero pair materialization) and every hash
    // exchange must lead with l_partkey
    assert(!p.contains("Join"), s"pair-materializing join leaked back:\n${p.take(3000)}")
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.startsWith("l_partkey")),
      s"non-partkey exchange in overlap plan: $keys\n${p.take(3000)}")
  }

  test("whole-stage codegen covers the scan->filter->project pipeline") {
    val df = Relational.f1Where(Tables(spark, sf0001, "lineitem"))
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val p = plan(df)
    // the "*(n)" prefix is the WholeStageCodegen marker in final plans
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen span:\n${p.take(2000)}")
  }

  test("S8 partitioned read-back prunes directories via PartitionFilters") {
    val dir = "/tmp/graft_layout_planspec"
    val df = graft.operators.FileOps.partitionedRoundTrip(spark,
      Tables(spark, sf0001, "events"), dir, "2024-01-08", "2024-01-14")
    df.collect()
    val p = plan(df)
    // the date predicates must be PARTITION filters (directory pruning),
    // never data filters rescanned per row
    assert(p.contains("PartitionFilters:"), s"no partition filters:\n${p.take(2000)}")
    val pf = p.split("PartitionFilters:")(1).split("]")(0)
    assert(pf.contains("event_date"), s"event_date not in partition filters: $pf")
    // and the row-group data filter list must NOT carry event_date
    val dataF = p.split("PushedFilters:")(1).split("]")(0)
    assert(!dataF.contains("event_date"),
      s"partition column leaked into data filters: $dataF")
  }

  test("capPerSource plans ONE hash exchange; preFilter adds only the salted one") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.PipelineOps.capPerSource(docs, 50)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // rank + filter ride a single (source) window exchange; the
    // presentation orderBy adds only a range exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("qualityQuantileFilter: threshold rides the window exchange; approx broadcasts") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.PipelineOps.qualityQuantileFilter(docs, 0.25)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // exact: per-source percentile + gate in ONE (source) exchange —
    // no threshold-table join at all
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(3000)}")
    assert(!p.contains("Join"), s"exact path must not join:\n${p.take(3000)}")
  }

  test("triangleCount never materializes a wedge: adjacency joins only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val df = graft.operators.GraphOps.triangleCount(edges)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the edge-iterator shape: exactly two joins (edge×adj on each
    // endpoint) and the sorted-merge intersect kernel (r13: replaced
    // array_intersect's per-row hash set) — a third join would be the
    // wedge-closing self-join that goes O(n³) on dup cliques
    val joins = "Join".r.findAllIn(p).size
    assert(p.toLowerCase.contains("sortedintersectcount"),
      s"no intersection kernel:\n${p.take(3000)}")
    assert(joins <= 2, s"expected <=2 joins (edge-iterator), got $joins:\n${p.take(3000)}")
  }

  test("bm25 top-k is TakeOrdered; df and stats broadcast, one doc shuffle") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.TextOps.bm25TopDocs(docs, Seq("join", "filter"),
      eager = false)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // global top-k must be the per-partition-heap operator, never a
    // single-partition global sort/window over the corpus
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), s"df not broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled on term:\n${p.take(3000)}")
  }

  test("containmentPairs is JOIN-FREE: bucket pairs + a narrow direction split") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.DedupOps.containmentPairs(docs, 0.6)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // entry repartition + shingle bucket + raw-pair repartition = 3
    // hash exchanges; the pair repartition replaces a map-side partial
    // aggregate that compresses ~nothing (a pair recurs once per
    // shared shingle, spread across shingle partitions), and the
    // per-direction split is a local Generate over the counted pair
    // row — a sizes-table join (or a distinct) here would re-shuffle
    // the pair set
    assert(!p.contains("Join"), s"containment must not join:\n${p.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 3, s"expected 3 hash exchanges, got $exchanges:\n${p.take(3000)}")
  }

  test("shingleNovelty: scalar min-owner agg, no per-shingle arrays") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.DedupOps.shingleNovelty(docs)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the r6 hot-key exposure: collect_list per shingle builds one
    // giant array for a boilerplate shingle shared by millions of
    // docs. The fix is O(1)-state aggregates only — min owner per
    // shingle re-aggregated by owner — closed by a doc-scale join
    assert(!p.contains("collect_list"),
      s"per-shingle arrays reintroduce the hot-key exposure:\n${p.take(3000)}")
    assert(!p.contains("ObjectHashAggregate"),
      s"novelty needs only codegen'd scalar aggregates:\n${p.take(3000)}")
    assert(p.contains("min(doc_id"),
      s"expected the min-owner aggregate:\n${p.take(3000)}")
    // entry repartition (stage-reused by both sides) + shingle agg +
    // owner tally = 3 hash exchanges, counted as DISTINCT plan ids (a
    // ReusedExchange re-prints its target — a reused stage is the
    // opposite of an extra shuffle). The join-back is doc-scale
    val exchanges = "Exchange hashpartitioning[^\\n]*plan_id=(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(exchanges == 3, s"expected 3 hash exchanges, got $exchanges:\n${p.take(3000)}")
  }

  test("bigramLogProb: bounded top-K model broadcast, shuffle-free probe") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.TextOps.bigramLogProb(docs)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the r6 scale-killer was broadcasting the UNBOUNDED bigram table;
    // the fix is the documented bound: top-BigramModelK bigrams by
    // count (visible in the plan as the TakeOrdered limit) + unigram
    // backoff via left-outer join. The probe side must carry no
    // shuffle and no window — instance-scale work is the scan, two
    // broadcast lookups, and the map-side-combined per-doc rollup
    assert(p.contains(
      s"TakeOrderedAndProject(limit=${graft.operators.TextOps.BigramModelK}"),
      s"model bound missing from the plan:\n${p.take(3000)}")
    assert(p.contains("LeftOuter"),
      s"unigram backoff needs the left-outer model join:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"probe must stay broadcast-only and window-free:\n${p.take(3000)}")
    // c2 build + c1 build + per-doc rollup = 3 hash exchanges.
    // Count DISTINCT plan ids: a ReusedExchange re-prints its target
    // (same id), so raw substring counts over-/under-count with AQE
    val exchanges = "Exchange hashpartitioning[^\\n]*plan_id=(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(exchanges == 3, s"expected 3 hash exchanges, got $exchanges:\n${p.take(3000)}")
  }

  test("eventTransitions: one user_id window exchange + one pair count") {
    val ev = Tables(spark, sf0001, "events")
    val df = graft.operators.Relational.eventTransitions(ev)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"transitions must not join:\n${p.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n${p.take(3000)}")
  }

  test("oovRatio: vocab is TakeOrdered + broadcast; docs never shuffle on term") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.TextOps.oovRatio(docs, 20)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"), s"vocab top-k not TakeOrdered:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"doc side hash-shuffled on term:\n${p.take(3000)}")
  }

  test("curriculumPhases: quartile thresholds broadcast; no global window") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.PipelineOps.curriculumPhases(docs)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Window"),
      s"global ntile window would single-partition at scale:\n${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"thresholds not broadcast:\n${p.take(3000)}")
  }

  test("editDistancePairs: levenshtein runs inside one block equi-join") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.operators.DedupOps.editDistancePairs(docs)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the block key must be the JOIN key (lang, blk) — levenshtein as a
    // post-join filter of an unkeyed cross product would be the O(n²)
    // failure shape
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit-distance join went unblocked:\n${p.take(3000)}")
    assert(p.contains("levenshtein"), s"no levenshtein in plan:\n${p.take(3000)}")
  }

  test("a11Winsorize: thresholds broadcast onto facts; facts never hash-shuffle") {
    val li = Tables(spark, sf0001, "lineitem")
    val df = Relational.a11Winsorize(li)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"clip must be a broadcast join of the tiny threshold table:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"fact table must not shuffle on the group key:\n${p.take(3000)}")
  }

  test("mixtureWeights: one lang-keyed exchange, share map broadcasts") {
    val df = graft.operators.PipelineOps.mixtureWeights(
      Tables(spark, sf0001, "documents"), 20000L, Map("en" -> 0.5))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("partial_sum"), s"token sum must combine map-side:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), s"share map must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the share join")
  }

  test("KMV rollup: set-state sketches only — no Window, no distinct exchange") {
    val df = Relational.a12KmvRollup(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("partial_top_k_agg"), s"map-side sketch combine missing:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"no ranking window allowed:\n${p.take(3000)}")
    // every exchange is keyed by the sketch GROUP (event_type [, day]),
    // never by the raw hash — the data-scale distinct was replaced by
    // the set-state insert, so no (.., h) exchange may remain
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(!_.contains(" h#")),
      s"raw-hash exchange leaked back (distinct?): $keys\n${p.take(3000)}")
  }

  test("vocabEncode: vocab is TakeOrdered + broadcast; corpus never shuffles") {
    val df = graft.operators.TextOps.vocabEncode(
      Tables(spark, sf0001, "documents"), 50)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("TakeOrdered"), s"vocab cut must be bounded:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"exploded corpus must not shuffle on term:\n${p.take(3000)}")
  }

  test("ANN serving rankers use bounded TopKAgg: partial agg, no Window") {
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") % 25 === 0)
    val S = graft.operators.SimilarityOps
    for ((nm, df) <- Seq(
        "brute" -> S.bruteForceTopK(e, q, 5),
        "int8" -> S.int8TopK(e, q, 5),
        "lsh" -> S.lshTopK(e, q, 5),
        "multiprobe" -> S.multiprobeTopK(e, q, 5))) {
      df.collect()
      val p = plan(df).split("== Initial Plan ==").head
      assert(p.contains("partial_top_k_agg"),
        s"$nm: map-side top-k combine missing:\n${p.take(3000)}")
      // the N×Q row_number() exchange+sort must never reappear on the
      // serving path — ranking state is ≤ k pairs per query per partition
      assert(!p.contains("Window"),
        s"$nm: window exchange leaked back into the ranker:\n${p.take(3000)}")
    }
    // pq: same bounded ranker; its only Window is the 8-row codebook-id
    // assignment (bounded by construction), so pin the ranker alone
    val pq = S.pqTopK(e, q, 5)
    pq.collect()
    val pp = plan(pq).split("== Initial Plan ==").head
    assert(pp.contains("partial_top_k_agg"),
      s"pq: map-side top-k combine missing:\n${pp.take(3000)}")
  }

  test("j8 bloom semi-join: sketch prunes the probe scan BEFORE the join") {
    val df = Relational.j8BloomSemiJoin(
      Tables(spark, sf0001, "lineitem"), Tables(spark, sf0001, "orders"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the constant-sketch probe must sit in a Filter on the lineitem
    // side (pre-exchange row reduction), and the exact join must be
    // semi (no probe-side row ever survives twice)
    assert(p.contains("might_contain"),
      s"bloom pre-filter missing from probe side:\n${p.take(3000)}")
    assert(p.contains("LeftSemi"),
      s"exact semi join missing:\n${p.take(3000)}")
  }

  test("j10 bucketed join: the JOIN consumes buckets — at most the rollup exchange") {
    val dir = tempDir("graft_bucketplan").toString
    try {
      val df = graft.operators.FileOps.bucketedJoin(spark,
        Tables(spark, sf0001, "lineitem"), Tables(spark, sf0001, "orders"), dir)
      df.collect()
      val p = plan(df).split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n${p.take(3000)}")
      assert(p.contains("Bucketed: true"), s"scan not bucketed:\n${p.take(3000)}")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges <= 1,
        s"join shuffled despite bucketing ($exchanges exchanges):\n${p.take(3000)}")
    } finally {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      spark.sql(s"DROP TABLE IF EXISTS b_li_$tag")
      spark.sql(s"DROP TABLE IF EXISTS b_ord_$tag")
    }
  }

  test("spanDedup: agg-based first owner (no Window); span/doc exchanges only") {
    val df = graft.operators.TextOps.spanDedup(Tables(spark, sf0001, "documents"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // first-occurrence must come from the map-side-combining
    // min(struct) aggregate, not a rank window over all span rows
    assert(p.contains("partial_min"),
      s"first-owner agg must combine map-side:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"rank window leaked into span dedup:\n${p.take(3000)}")
  }

  test("unigramLogProb: tf table broadcasts; token stream never sort-merge joins") {
    val df = graft.operators.TextOps.unigramLogProb(Tables(spark, sf0001, "documents"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"tf model must broadcast onto tokens:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"token stream must not shuffle on term:\n${p.take(3000)}")
  }

  test("w17 pattern match: lead taps share ONE user_id window exchange") {
    val df = Relational.w17PatternMatch(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.startsWith("user_id")),
      s"non-user_id exchange in pattern plan: $keys\n${p.take(3000)}")
  }

  test("a14 histogram: range broadcasts; facts combine map-side, never sort") {
    val df = Relational.a14Histogram(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"bin counts must combine map-side:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"range must broadcast, not shuffle-join:\n${p.take(3000)}")
  }

  test("a15 corr: ONE single-row sufficient-stats aggregate, no data exchange keyed on rows") {
    val df = Relational.a15Corr(Tables(spark, sf0001, "lineitem"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // a global aggregate plans a SinglePartition exchange only — any
    // hashpartitioning exchange would mean data rows are shuffling
    assert(!p.contains("Exchange hashpartitioning"),
      s"row-scale exchange in corr plan:\n${p.take(3000)}")
    assert(!p.contains("corr("), s"nondeterministic corr() leaked in:\n${p.take(3000)}")
  }

  test("w16 EWMA: single user_id exchange, no join, bounded frame") {
    val df = Relational.w16Ewma(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"EWMA must be join-free:\n${p.take(3000)}")
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.startsWith("user_id")),
      s"non-user_id exchange in EWMA plan: $keys\n${p.take(3000)}")
  }

  test("bottomKSample: bounded TopKAgg sampler — partial agg, no Window, no sort of the corpus") {
    val df = graft.operators.PipelineOps.bottomKSample(
      Tables(spark, sf0001, "documents"), 40)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("partial_top_k_agg"),
      s"sampler must map-side combine to <=k pairs per stratum:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"row_number window leaked into the sampler:\n${p.take(3000)}")
  }

  test("a18 autocorr: lag window and stats agg share ONE event_type exchange") {
    val df = Relational.a18Autocorr(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected 1 shared event_type exchange, got $exchanges:\n${p.take(3000)}")
    assert(!p.contains("Join"), s"autocorr must be join-free:\n${p.take(3000)}")
  }

  test("w18 attribution: join-free, single user_id exchange, filter after window only") {
    val df = Relational.w18Attribution(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"),
      s"attribution must be a window, not a purchase x click self-join:\n${p.take(3000)}")
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.startsWith("user_id")),
      s"non-user_id exchange in attribution plan: $keys\n${p.take(3000)}")
  }

  test("mvMergeDelta: exchanges keyed on the MV group key only — group-scale, not row-scale") {
    val ev = Tables(spark, sf0001, "events")
    val cut = org.apache.spark.sql.functions.lit("2024-01-25 00:10:00")
    val M = graft.operators.MergeOps
    val df = M.mvMergeDelta(
      M.mvPartials(ev.filter(org.apache.spark.sql.functions.col("ts") < cut)),
      M.mvPartials(ev.filter(org.apache.spark.sql.functions.col("ts") >= cut)))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.startsWith("event_type")),
      s"merge must shuffle on the MV key, got: $keys\n${p.take(3000)}")
    // partial aggregation: raw event rows combine map-side before the
    // group-key exchange, so the exchange carries group-scale rows
    assert(p.contains("partial_count"),
      s"MV partials must combine map-side:\n${p.take(3000)}")
  }

  test("p5 unpivot: generator melts inline — join-free, one group exchange") {
    val df = Relational.p5Unpivot(Tables(spark, sf0001, "lineitem"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"melt must not join:\n${p.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"melt + agg must share ONE exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("w19 percent-rank: all three windows share ONE event_type exchange") {
    val df = Relational.w19PercentRank(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"must be join-free:\n${p.take(3000)}")
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.size == 1 && keys.head.startsWith("event_type"),
      s"expected one shared event_type exchange, got: $keys\n${p.take(3000)}")
  }

  test("a20 chi-square: margins broadcast back — no sort-merge join of cells") {
    val df = Relational.a20Chisq(Tables(spark, sf0001, "documents"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"),
      s"margins must broadcast, not shuffle-join:\n${p.take(3000)}")
    assert(p.contains("partial_count"),
      s"cell counts must combine map-side:\n${p.take(3000)}")
  }

  test("q10 returned items: the returnflag filter reaches the parquet scan") {
    val p = plan(Relational.q10ReturnedItems(
      Tables(spark, sf0001, "customer"), Tables(spark, sf0001, "orders"),
      Tables(spark, sf0001, "lineitem")))
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag not pushed to the scan:\n${p.take(3000)}")
  }

  test("MIPS ranker uses bounded TopKAgg: partial agg, no Window, corpus-side broadcast") {
    val e = Tables(spark, sf0001, "embeddings")
    val df = graft.operators.SimilarityOps.mipsTopK(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") % 25 === 0), 5)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("partial_top_k_agg"),
      s"MIPS must rank through the bounded aggregate:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"row_number window leaked into MIPS ranking:\n${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set must broadcast (corpus never shuffles):\n${p.take(3000)}")
  }

  test("covariance: one narrow cov_grid pass, no row expansion, no keyed shuffle") {
    val df = graft.operators.SimilarityOps.covarianceMatrix(
      Tables(spark, sf0001, "embeddings"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the native grid accumulator replaces the d²-rows-per-vector
    // posexplode: the partial grid combines map-side, one grid per
    // partition crosses a SinglePartition exchange, and the only
    // Generate is the output-scale cell expansion AFTER the aggregate
    assert(p.contains("partial_cov_grid"),
      s"grid must combine map-side:\n${p.take(3000)}")
    assert(!p.contains("posexplode"),
      s"no per-vector pair expansion belongs here:\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"margins live inside the grid state now:\n${p.take(3000)}")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyed == 0,
      s"only the SinglePartition merge may shuffle, got $keyed keyed exchanges:\n${p.take(3000)}")
    assert(p.indexOf("Generate explode") < p.indexOf("partial_cov_grid"),
      s"the cell explode must sit ABOVE the aggregate (output-scale):\n${p.take(3000)}")
  }

  test("length buckets: join-free, single bucket-key exchange") {
    val df = graft.operators.PipelineOps.lengthBuckets(
      Tables(spark, sf0001, "documents"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"must be join-free:\n${p.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"bucket census must shuffle once, got $exchanges:\n${p.take(3000)}")
  }

  test("q4/q21/q22: exists compiles to semi, not-exists to anti, scans pruned") {
    val q4 = Relational.q4OrderPriority(
      Tables(spark, sf0001, "orders"), Tables(spark, sf0001, "lineitem"))
    q4.collect()
    val p4 = plan(q4).split("== Initial Plan ==").head
    assert(p4.contains("LeftSemi"), s"Q4 EXISTS must be a semi join:\n${p4.take(2000)}")
    // the semi probe reads exactly the join key + the two predicate
    // columns — an EXISTS must never widen the probe scan
    assert(p4.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp"),
      s"Q4 probe scan must prune to (orderkey, shipdate):\n${p4.take(3000)}")

    val q21 = Relational.q21WaitingSupplier(
      Tables(spark, sf0001, "supplier"), Tables(spark, sf0001, "orders"),
      Tables(spark, sf0001, "lineitem"))
    q21.collect()
    val p21 = plan(q21).split("== Initial Plan ==").head
    // per-order census form: the EXISTS/NOT-EXISTS pair folds into
    // supplier/late-supplier counts over ONE lineitem-orders join —
    // no semi/anti joins, no re-derived late fact, map-side partials
    assert(!p21.contains("LeftSemi") && !p21.contains("LeftAnti"),
      s"Q21 census form must not re-derive the late fact as " +
        s"semi/anti self-joins:\n${p21.take(2000)}")
    assert(p21.contains("partial_"),
      s"Q21 folds must partially aggregate map-side:\n${p21.take(2000)}")
    val liScans21 = "l_orderkey:bigint,l_suppkey:bigint".r
      .findAllIn(p21).size
    assert(liScans21 == 1,
      s"Q21 must scan lineitem exactly once, saw $liScans21:\n${p21.take(3000)}")

    val q22 = Relational.q22IdleCustomers(
      Tables(spark, sf0001, "customer"), Tables(spark, sf0001, "orders"))
    q22.collect()
    val p22 = plan(q22).split("== Initial Plan ==").head
    assert(p22.contains("LeftAnti"), s"Q22 NOT EXISTS must be an anti join:\n${p22.take(2000)}")
    assert(p22.contains("GreaterThan(o_totalprice,400000"),
      s"the high-value predicate must reach the orders scan:\n${p22.take(3000)}")
    assert(p22.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double"),
      s"the anti probe must prune to (custkey, totalprice):\n${p22.take(3000)}")
  }

  test("q14/q8: share pairs fold in ONE fact pass, dims broadcast") {
    val q14 = Relational.q14PromoRevenue(
      Tables(spark, sf0001, "part"), Tables(spark, sf0001, "lineitem"))
    q14.collect()
    val p14 = plan(q14).split("== Initial Plan ==").head
    assert(p14.contains("BroadcastHashJoin"),
      s"part dim must broadcast:\n${p14.take(2000)}")
    assert(!p14.contains("SortMergeJoin"),
      s"Q14 must never shuffle the fact for its dim join:\n${p14.take(2000)}")
    // conditional + total revenue fold in the SAME grouped aggregate:
    // exactly one exchange (the month rollup), no self-join
    val ex14 = "Exchange (hash|range)partitioning".r.findAllIn(p14).size
    assert(ex14 <= 2,
      s"Q14 is one rollup + output sort, saw $ex14 shuffles:\n${p14.take(3000)}")

    val q8 = Relational.q8MarketShare(
      Tables(spark, sf0001, "region"), Tables(spark, sf0001, "nation"),
      Tables(spark, sf0001, "supplier"), Tables(spark, sf0001, "customer"),
      Tables(spark, sf0001, "part"), Tables(spark, sf0001, "orders"),
      Tables(spark, sf0001, "lineitem"))
    q8.collect()
    val p8 = plan(q8).split("== Initial Plan ==").head
    assert(p8.contains("BroadcastHashJoin"),
      s"Q8 dimensions must broadcast:\n${p8.take(2000)}")
    assert(!p8.contains("CartesianProduct"))
    // the only shuffle join permitted is fact-x-fact on the orderkey;
    // every dimension (part semi, market-cust semi, supplier-nation)
    // rides a broadcast
    val smj8 = "SortMergeJoin".r.findAllIn(p8).size
    assert(smj8 <= 1,
      s"only the orderkey fact join may sort-merge, saw $smj8:\n${p8.take(3000)}")
  }

  test("q6/q12: Q6 predicate pushes to the scan; Q12 joins on the orderkey with pruned sides") {
    val q6 = Relational.q6ForecastRevenue(Tables(spark, sf0001, "lineitem"))
    q6.collect()
    val p6 = plan(q6).split("== Initial Plan ==").head
    assert(!p6.contains("Join"), s"Q6 is scan+agg only:\n${p6.take(2000)}")
    // the ship-date range and the quantity cap must reach the parquet
    // reader as pushed filters — Q6 is a scan-throughput probe, and a
    // post-scan filter would read every row group
    assert(p6.contains("PushedFilters") && p6.contains("l_shipdate") &&
      p6.contains("LessThan(l_quantity,24"),
      s"Q6 predicate must push to the scan:\n${p6.take(3000)}")
    assert(p6.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:timestamp"),
      s"Q6 scan must prune to its four columns:\n${p6.take(3000)}")

    val q12 = Relational.q12ShipLatencyPriority(
      Tables(spark, sf0001, "orders"), Tables(spark, sf0001, "lineitem"))
    q12.collect()
    val p12 = plan(q12).split("== Initial Plan ==").head
    // fact-x-fact on the orderkey — the natural co-partition key; the
    // lineitem side must carry only (orderkey, shipdate) into the
    // shuffle and orders only (orderkey, orderdate, priority)
    assert(p12.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp"),
      s"Q12 lineitem scan must prune to (orderkey, shipdate):\n${p12.take(3000)}")
    assert(p12.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp") &&
      p12.contains("o_orderpriority:string>"),
      s"Q12 orders scan must prune to its three columns:\n${p12.take(3000)}")
    assert(p12.contains("partial_"),
      s"Q12 band counts must partially aggregate map-side:\n${p12.take(2000)}")
  }

  test("tfidfTopTerms: bounded string-keyed heap, no per-doc Window") {
    val df = graft.operators.TextOps.tfidfTopTerms(
      Tables(spark, sf0001, "documents"), 5, eager = false)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("partial_top_k_str_pay_agg"),
      s"per-doc top-K must combine map-side (bounded heap):\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"no doc-partitioned ranking window allowed — it would shuffle and " +
        s"sort every (doc, term) row:\n${p.take(3000)}")
    // tf/df ride in the heap payload: the only broadcasts are the
    // vocabulary-bounded dfreq table and the single-row n_docs — the
    // docs-scale selection must never be broadcast back
    val nBroadcasts = "BroadcastExchange".r.findAllIn(p).size
    assert(nBroadcasts <= 2,
      s"expected only the bounded dfreq + n_docs broadcasts, " +
        s"got $nBroadcasts:\n${p.take(3000)}")
  }

  test("invertedIndex: bounded heap aggregate, no Window, df fused in the same pass") {
    val df = graft.operators.TextOps.invertedIndex(
      Tables(spark, sf0001, "documents"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("partial_top_k_agg"),
      s"postings must combine map-side (bounded heap):\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"no per-term ranking window allowed — a stopword term would sort " +
        s"its whole posting universe:\n${p.take(3000)}")
    assert(!p.contains("collect_list"),
      s"no unbounded per-term array state allowed:\n${p.take(3000)}")
    // the fused word_term_freqs kernel already emits per-doc tf, so
    // the whole index build is ONE term-keyed exchange: df and the
    // bounded heap come out of the same aggregate, and no (term,
    // doc_id) pre-aggregation shuffle may exist
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.size == 1 && exchanges.head.startsWith("term#"),
      s"expected exactly the one term-keyed index exchange, " +
        s"got $exchanges:\n${p.take(3000)}")
  }

  test("w26 DOW profile: no window — peak day via max(struct), partial agg") {
    val df = Relational.w26DowProfile(Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Window"),
      s"peak-day argmax must be the max(struct) aggregate, not a " +
        s"ranking window:\n${p.take(3000)}")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(3000)}")
  }

  test("rakeKeywords: every window is doc-keyed — no global sort anywhere") {
    val df = graft.operators.TextOps.rakeKeywords(
      Tables(spark, sf0001, "documents"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    val specs = "windowspecdefinition\\(doc_id".r.findAllIn(p).size
    val all = "windowspecdefinition\\(".r.findAllIn(p).size
    assert(all > 0 && specs == all,
      s"found a window not partitioned by doc_id ($specs/$all):\n${p.take(3000)}")
    // the per-doc argmax is max(struct) — no ranking window, and the
    // only collect_list is the phrase assembly (bounded by doc length)
    assert(!p.contains("row_number"), s"no ranking window:\n${p.take(3000)}")
  }

  test("graph_link_predict: keyed joins only — no cartesian wedge expansion") {
    val li = Tables(spark, sf0001, "lineitem")
    val pairs = li.as("a").join(li.as("b"),
        org.apache.spark.sql.functions.col("a.l_orderkey") ===
          org.apache.spark.sql.functions.col("b.l_orderkey") &&
        org.apache.spark.sql.functions.col("a.l_partkey") <
          org.apache.spark.sql.functions.col("b.l_partkey"))
      .select(org.apache.spark.sql.functions.col("a.l_partkey").as("doc_a"),
        org.apache.spark.sql.functions.col("b.l_partkey").as("doc_b"))
    // pin the LAZY pipeline — the public wrapper returns a checkpoint
    // scan that hides the join shapes
    import org.apache.spark.sql.functions.{least, greatest}
    val norm = pairs.select(
      least(pairs("doc_a"), pairs("doc_b")).cast("long").as("x"),
      greatest(pairs("doc_a"), pairs("doc_b")).cast("long").as("y")).distinct()
    val df = graft.operators.GraphOps.commonNeighborsLazy(norm, 64, 2)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"),
      s"wedge join must be keyed on the center:\n${p.take(3000)}")
    assert(p.contains("LeftAnti"),
      s"existing edges must drop via anti-join:\n${p.take(3000)}")
  }

  test("targetEncodeLoo: category stats broadcast back over the row scan") {
    val df = graft.operators.PipelineOps.targetEncodeLoo(
      Tables(spark, sf0001, "events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"group sums must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"no row-scale sort-merge for a bounded category table:\n${p.take(3000)}")
  }

  test("modularity: keyed aggregates only — no cartesian, no per-group arrays") {
    val pairs = graft.operators.DedupOps.minhashLsh(
      Tables(spark, sf0001, "documents")).select("doc_a", "doc_b")
    val df = graft.operators.GraphOps.modularity(pairs)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"),
      s"only the single-row m broadcast may cross:\n${p.take(3000)}")
    assert(!p.contains("collect_list"),
      s"no unbounded per-community state:\n${p.take(3000)}")
  }
  test("q20: per-part totals ride ONE exchange on l_partkey (window, not self-join)") {
    val df = Relational.q20DominantSupplier(
      Tables(spark, sf0001, "nation"), Tables(spark, sf0001, "supplier"),
      Tables(spark, sf0001, "lineitem"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the (part, supplier) aggregate must NOT re-exchange into an
    // aggregate+self-join: part_qty/k come from a window partitioned
    // by l_partkey on the same frame. Exchanges: (l_partkey,
    // l_suppkey) for the aggregate, l_partkey for the window, and
    // l_suppkey for the dominant-rows census — the former r9 plan
    // paid a fourth (re-exchanging perPs into a self-join).
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"expected agg + window + census exchanges only, got $exchanges:\n${p.take(3000)}")
    assert(p.contains("Window"), s"per-part totals must be a window:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"no data-scale self-join allowed:\n${p.take(3000)}")
  }

  test("a39/a60 rank passes: no unpartitioned data-scale window survives") {
    // the two-pass partition-offset rank replaces the single-partition
    // row_number/ntile frame. Since r11 the range exchange executes
    // INSIDE globalRowNumber's lazy localCheckpoint (one pinned
    // layout for both its consumers — see the scaladoc there), so the
    // final plan reads the checkpointed RDD; assert that pinned scan
    // is present and that nothing downstream re-collapsed to a single
    // partition. The range repartition itself is structural
    // (globalRowNumber literally calls repartitionByRange; semantics
    // pinned by RankHelpersSpec across shuffle.partitions 1/2/7/64).
    for (df <- Seq(
        Relational.a39ParetoShare(Tables(spark, sf0001, "events")),
        Relational.a60Lorenz(Tables(spark, sf0001, "orders")))) {
      df.collect()
      val p = plan(df).split("== Initial Plan ==").head
      assert(p.contains("ExistingRDD"),
        s"rank must read globalRowNumber's pinned range-partitioned " +
          s"checkpoint:\n${p.take(3000)}")
      // scalar aggregates legitimately combine partials on a single
      // partition; what must NOT appear is a Sort or Window CONSUMING
      // a single-partition exchange — that is the one-task sort the
      // two-pass rank exists to avoid
      // 7 lines of look-behind: AQE can interpose WholeStageCodegen /
      // InputAdapter / AQEShuffleRead / ShuffleQueryStage wrappers
      // between the consumer and its exchange
      val lines = p.linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          val parents = lines.slice(math.max(0, i - 7), i)
          assert(!parents.exists(l =>
              l.contains("Sort [") || l.contains("Window [")),
            s"one-task sort/window over a SinglePartition exchange:\n" +
              lines.slice(math.max(0, i - 8), i + 1).mkString("\n"))
        }
    }
  }
}
