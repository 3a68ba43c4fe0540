package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.operators.Multimodal.Media

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or the
  * LLM-pipeline extension set), expressed as a declarative DataFrame
  * pipeline over the driver-provisioned parquet tables; `oracleSql`
  * carries the equivalent DuckDB SQL. Column names and numeric types are
  * aligned on both sides (exact decimal accumulation for aggregated
  * doubles) so the driver's hash compare is deterministic.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(Tables(spark, "/root/testdata/sf0.001", "lineitem"))

  // Deterministic constants shared by Spark pipelines and oracle SQL.
  private val Watermark = "1998-06-01 00:00:00"
  private val SchedulerNow = "2024-01-31 00:10:00"

  /** One shared materialization per (session, sf dir, source
    * generation), built on first use. A superseded generation's key can
    * never recur, so its value is evicted and released here rather than
    * accumulating storage; [[clear]] releases them all.
    */
  private final class GenMemo[V](sourceFile: String, release: V => Unit) {
    private val memo = scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String, Long), V]
    def apply(s: SparkSession, d: String)(build: => V): V = {
      val gen = sourceGen(d, sourceFile)
      memo.keys.filter(k => k._1 == s && k._2 == d && k._3 != gen)
        .foreach(memo.remove(_).foreach(release))
      memo.getOrElseUpdate((s, d, gen), build)
    }
    def clear(): Unit = {
      memo.values.foreach(release)
      memo.clear()
    }
  }

  private def persisted(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[persisted]] and counted: a lazy persist caches nothing. */
  private def materialized(df: DataFrame): DataFrame = {
    val p = persisted(df)
    p.count()
    p
  }

  private val unpersistBoth: ((DataFrame, DataFrame)) => Unit = {
    case (a, b) => a.unpersist(false); b.unpersist(false)
  }

  /** The co-order basket graph, built ONCE per (session, sf-dir) and
    * persisted — `graph_ktruss`, `graph_link_predict` and
    * `j11_assoc_rules` all derive from the same lineitem self-join, and
    * rebuilding it per query tripled the most expensive shuffle of the
    * suite. `items` is the distinct (order, part) incidence list;
    * `pairCounts` is the distinct ordered part pair with its exact
    * co-order count (n_ab) — the graph consumers project the pair
    * columns (already distinct), the association-rule scorer keeps the
    * counts. persist, not localCheckpoint: nothing here is iterative,
    * and the cache shares clean lineage with every consumer instead of
    * paying an eager materialize + serialized round trip per query.
    */
  private[graft] object BasketGraph {
    // keyed by source mtime: regenerated testdata in a live session
    // must not serve a stale pair graph
    private val graph = new GenMemo[(DataFrame, DataFrame)]("lineitem.parquet", unpersistBoth)
    def itemsAndPairs(s: SparkSession, d: String): (DataFrame, DataFrame) =
      graph(s, d) {
        val items = persisted(Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ord"), col("l_partkey").as("item"))
          .distinct())
        val pairCounts = persisted(items.as("a").join(items.as("b"),
            col("a.ord") === col("b.ord") && col("a.item") < col("b.item"))
          .groupBy(col("a.item").as("part_a"), col("b.item").as("part_b"))
          .agg(count(lit(1)).as("n_ab")))
        (items, pairCounts)
      }
    /** Distinct (doc_a, doc_b) co-order part pairs — the graph view. */
    def pairs(s: SparkSession, d: String): DataFrame =
      itemsAndPairs(s, d)._2
        .select(col("part_a").as("doc_a"), col("part_b").as("doc_b"))
    // basket-profile sidecar: the per-item distinct-order counts and
    // the single-row order total that the association-rule scorer
    // joins against. Both are keyed aggregates over the persisted
    // incidence list; memoized per generation so the scorer costs
    // only its candidate-scale joins per invocation.
    private val stats = new GenMemo[(DataFrame, DataFrame)]("lineitem.parquet", unpersistBoth)
    def itemStats(s: SparkSession, d: String): (DataFrame, DataFrame) =
      stats(s, d) {
        val (items, _) = itemsAndPairs(s, d)
        (materialized(items.groupBy(col("item")).agg(count(lit(1)).as("ni"))),
          materialized(items.select(col("ord")).distinct()
            .agg(count(lit(1)).as("n_orders"))))
      }
    private[graft] def reset(): Unit = {
      graph.clear()
      stats.clear()
    }
  }

  /** Verified near-dup pair graphs, built ONCE per (session, sf-dir)
    * — the same shared-materialization discipline as the basket graph:
    * ~20 registered queries consume the MinHash-LSH or SimHash pair
    * set (components, survivors, triangles, PageRank, LPA, censuses…),
    * and each re-running the full signature + band-join + verify
    * pipeline re-did the suite's second-biggest shuffle per query.
    * This is also the honest production shape — a dedup pipeline
    * computes the pair graph once and every report reads it. The
    * cached frames are the operators' own eagerly-checkpointed
    * outputs (candidate-scale), so the cache holds pair lists, never
    * corpus-scale state.
    */
  private[graft] object DedupGraph {
    // mh frames are the operator's own eagerly-localCheckpoint'd
    // outputs, for which unpersist is a no-op — the shim walks their
    // LogicalRDDs and drops the checkpoint blocks deterministically
    // instead of waiting on the ContextCleaner
    private val mh = new GenMemo[DataFrame]("documents.parquet",
      org.apache.spark.sql.graft.CheckpointCleanupShim.unpersistBlocks)
    private val sh = new GenMemo[DataFrame]("documents.parquet", _.unpersist(false))
    // blocked Jaro-Winkler match pairs: three registered ER consumers
    // (pair report, entity closure, golden-record fusion) — the
    // production ER pipeline scores matches once and every downstream
    // step reads them
    private val jw = new GenMemo[DataFrame]("documents.parquet", _.unpersist(false))
    def minhashPairs(s: SparkSession, d: String): DataFrame =
      mh(s, d)(operators.DedupOps.minhashLsh(Tables(s, d, "documents")))
    def jwPairs(s: SparkSession, d: String): DataFrame =
      jw(s, d)(materialized(
        operators.DedupOps.jaroWinklerPairsLazy(Tables(s, d, "documents"))))
    // simhashPairs returns a LAZY plan (its one join pipeline has no
    // internal materialization): without the eager persist every
    // consumer would re-run the band join
    def simhashPairs(s: SparkSession, d: String): DataFrame =
      sh(s, d)(materialized(operators.DedupOps.simhashPairs(Tables(s, d, "documents"))))
    private[graft] def reset(): Unit = {
      sh.clear()
      jw.clear()
      mh.clear()
    }
  }

  /** Source-generation tag for the shared caches: the parquet file's
    * mtime, 0 when absent (synthetic spec inputs). Same freshness
    * discipline as [[stagingTag]].
    */
  private def sourceGen(d: String, sourceFile: String): Long = {
    val p = java.nio.file.Paths.get(s"$d/$sourceFile")
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.getLastModifiedTime(p).toMillis
    else 0L
  }

  /** Drop every shared per-(session, dir) materialization, so the next
    * consumer rebuilds the pair graphs and re-runs their probes cold;
    * `SharedCacheSpec` resets between its memoization checks. Bench
    * deliberately does NOT reset: the suite models one pipeline run,
    * where shared materialization is the production shape.
    */
  private[graft] def resetSharedCaches(): Unit = {
    DedupGraph.reset()
    BasketGraph.reset()
  }


  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, d) => Relational.q1Agg(t(s, d)("lineitem"))),
    "q3_join" -> ((s, d) =>
      Relational.q3Join(t(s, d)("customer"), t(s, d)("orders"), t(s, d)("lineitem"))),
    "q5_broadcast_join" -> ((s, d) =>
      Relational.q5BroadcastJoin(t(s, d)("region"), t(s, d)("nation"), t(s, d)("customer"))),
    "p1_projection" -> ((s, d) => Relational.p1Projection(t(s, d)("customer"))),
    "p2_drop_rule" -> ((s, d) => Relational.p2DropRule(t(s, d)("orders"))),
    "p3_struct_flatten" -> ((s, d) => Relational.p3StructFlatten(t(s, d)("customer"))),
    "f1_where" -> ((s, d) => Relational.f1Where(t(s, d)("lineitem"))),
    "f2_watermark" -> ((s, d) => Relational.f2Watermark(t(s, d)("orders"), Watermark)),
    "f3_softdelete" -> ((s, d) => Relational.f3SoftDelete(t(s, d)("events"))),
    "f5_due_filter" -> ((s, d) => Relational.f5DueFilter(t(s, d)("events"), SchedulerNow)),
    "l1_limit" -> ((s, d) => Relational.l1Limit(t(s, d)("part"), 25)),
    "a1_count" -> ((s, d) => Relational.a1Count(t(s, d)("lineitem"))),
    "a2_max_watermark" -> ((s, d) => Relational.a2MaxWatermark(t(s, d)("events"))),
    "t1_csv_encode" -> ((s, d) => Relational.t1CsvEncode(t(s, d)("events"))),
    "t6_ts_format" -> ((s, d) => Relational.t6TsFormat(t(s, d)("orders"))),
    "w1_running_sum" -> ((s, d) => Relational.w1RunningSum(t(s, d)("events"))),
    "w2_rollup" -> ((s, d) => Relational.w2Rollup(t(s, d)("lineitem"))),
    "w3_topn_per_group" -> ((s, d) => Relational.w3TopNPerGroup(t(s, d)("orders"), 3)),
    "w3_topn_agg" -> ((s, d) => Relational.w3TopNAgg(t(s, d)("orders"), 3)),
    "set1_symmetric_diff" -> ((s, d) => Relational.set1SymmetricDiff(t(s, d)("orders"))),
    "a5_distinct_count" -> ((s, d) => Relational.a5DistinctCount(t(s, d)("events"))),
    "w6_grouping_sets" -> ((s, d) => Relational.w6GroupingSets(t(s, d)("lineitem"))),
    "w4_sessionize" -> ((s, d) => Relational.w4Sessionize(t(s, d)("events"), 30)),
    // p50/p90/max of per-session first-to-last spans (exact micros)
    "w23_session_duration" -> ((s, d) =>
      Relational.w23SessionDuration(t(s, d)("events"), 30)),
    // first-view -> first-purchase lag distribution (funnel latency)
    "w24_conversion_lag" -> ((s, d) =>
      Relational.w24ConversionLag(t(s, d)("events"))),
    // per-user recency-decayed engagement score (max-ts anchored)
    "w25_decay_score" -> ((s, d) =>
      Relational.w25DecayScore(t(s, d)("events"))),
    "w5_cube" -> ((s, d) => Relational.w5Cube(t(s, d)("lineitem"))),
    "p4_pivot" -> ((s, d) => Relational.p4Pivot(t(s, d)("events"))),
    "a4_percentiles" -> ((s, d) => Relational.a4Percentiles(t(s, d)("lineitem"))),
    "a11_winsorize" -> ((s, d) => Relational.a11Winsorize(t(s, d)("lineitem"))),
    "w14_trailing_count" -> ((s, d) => Relational.w14TrailingCount(t(s, d)("events"))),
    "j5_range_join" -> ((s, d) =>
      Relational.j5RangeJoin(t(s, d)("lineitem"), t(s, d)("orders"))),
    "j6_salted_skew_join" -> ((s, d) =>
      Relational.j6SaltedSkewJoin(t(s, d)("lineitem"), t(s, d)("orders"))),
    // bloom-filter runtime semi-join reduction: sketch-broadcast
    // pre-filter ahead of the exact semi join (plan pinned in PlansSpec)
    "j8_bloom_semijoin" -> ((s, d) =>
      Relational.j8BloomSemiJoin(t(s, d)("lineitem"), t(s, d)("orders"))),
    // co-located bucketed join: both facts bucketed+sorted on the key,
    // the join plans zero exchanges (pinned in BucketingSpec/PlansSpec)
    "j10_bucketed_join" -> ((s, d) => FileOps.bucketedJoin(s,
      t(s, d)("lineitem"), t(s, d)("orders"),
      stagingTag(d, "bucketjoin", "lineitem.parquet"))),
    // bounded-window EWMA, integer 2^j weights → exact decimal numerator
    "w16_ewma" -> ((s, d) => Relational.w16Ewma(t(s, d)("events"))),
    // adjacent view→click→purchase triple within 24 h (sequence pattern)
    "w17_pattern_match" -> ((s, d) => Relational.w17PatternMatch(t(s, d)("events"))),
    // fixed-width 20-bin histogram over the broadcast [min,max] range
    "a14_histogram" -> ((s, d) => Relational.a14Histogram(t(s, d)("events"))),
    // order-free Pearson correlation from exact decimal sufficient stats
    "a15_corr" -> ((s, d) => Relational.a15Corr(t(s, d)("lineitem"))),
    // pointwise mutual information (type × hour), exact-count cells
    "a16_pmi" -> ((s, d) => Relational.a16Pmi(t(s, d)("events"))),
    // streaming per-event anomaly flags vs each user's running baseline
    "stream_anomaly" -> ((s, d) => streamAnomalyQuery(s, d)),
    "w7_gap_fill" -> ((s, d) => Relational.w7GapFill(t(s, d)("events"))),
    // hive-partitioned write + partition-pruned read-back (plan pinned
    // in PlansSpec)
    "s8_partitioned_roundtrip" -> ((s, d) => FileOps.partitionedRoundTrip(s,
      t(s, d)("events"), scratchDir(d, "layout"),
      "2024-01-08", "2024-01-14")),
    // two writer generations with different schemas, one merged read:
    // gen-1 rows surface the added column as NULL (oracle predicts the
    // merged result straight from the source table)
    "s10_schema_evolution" -> ((s, d) => FileOps.schemaEvolutionRoundTrip(s,
      t(s, d)("orders"), scratchDir(d, "evolve"))),
    // schema drift report over the evolution staging (gen=1 vs gen=2)
    "s13_schema_diff" -> ((s, d) => {
      val dir = scratchDir(d, "evolve")
      // (re)stage the two generations (the writes inside run eagerly;
      // the returned merged read stays lazy and unused), then diff
      // footers only
      FileOps.schemaEvolutionRoundTrip(s, t(s, d)("orders"), dir)
      FileOps.schemaDiff(s, s"$dir/gen=1", s"$dir/gen=2")
        .orderBy("column_name")
    }),
    // small-files compaction round trip: deliberately fragment the
    // events table (64 shards), compact to 4 right-sized files, read
    // back — oracle is the original content (count pinned in spec)
    "s9_compact_roundtrip" -> ((s, d) => {
      // mtime-keyed (fragments materialize events) and guarded on the
      // writer's own _SUCCESS marker, not bare dir existence — a
      // crashed fragment write self-heals via the overwrite
      val base = stagingTag(d, "compact", "events.parquet")
      val frag = base + "/frag"
      if (!new java.io.File(frag, "_SUCCESS").exists())
        t(s, d)("events").repartition(64).write.mode("overwrite").parquet(frag)
      FileOps.compactSmallFiles(s, frag, base + "/compacted", 4)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),
    "a8_profile" -> ((s, d) => Relational.a8ProfileColumns(t(s, d)("lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"))),
    // sketch aggregates: the sketch values are algorithm-specific, so
    // the driver-checked form is the error-bound INVARIANT (booleans
    // hash-matched against a constant-true oracle); the raw sketch
    // operators stay in Relational + BreadthOpsSpec
    "a6_approx_distinct" -> ((s, d) => Relational.a6ApproxDistinctCheck(t(s, d)("events"))),
    "a7_approx_quantile" -> ((s, d) => Relational.a7ApproxQuantilesCheck(t(s, d)("lineitem"))),
    // custom TypedImperativeAggregate: one count-min sketch of the
    // table, probed per key, CMS bounds emitted as booleans
    "a9_cms_count" -> ((s, d) => Relational.a9CmsCheck(t(s, d)("events"))),
    // native bloom_filter_agg probed via might_contain: no-false-
    // negative exact invariant + bounded false-positive rate
    "a10_bloom" -> ((s, d) => Relational.a10BloomCheck(t(s, d)("events"))),
    // the profiler's bounded-memory mode vs its exact twin, as
    // error-bound booleans (same trick as a6/a7/a9)
    "a8_profile_approx" -> ((s, d) => {
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_returnflag", "l_shipdate")
      val li = t(s, d)("lineitem")
      val exact = Relational.a8ProfileColumns(li, cols)
        .select(col("column_name"), col("n_distinct").as("exact_nd"))
      val approx = Relational.a8ProfileColumns(li, cols, approx = true)
        .select(col("column_name"), col("n_distinct").as("approx_nd"))
      // HLL++ rsd 2% is one sigma: 5 sigma + 1 never fires spuriously
      exact.join(approx, "column_name")
        .select(col("column_name"),
          (abs(col("approx_nd") - col("exact_nd")).cast("double") <=
            lit(5 * 0.02) * col("exact_nd") + lit(1.0)).as("within_bound"))
        .orderBy("column_name")
    }),
    "w8_ntile" -> ((s, d) => Relational.w8NtileStats(t(s, d)("orders"))),
    // 5-row rolling median per event type over fixed-point cents
    "w13_rolling_median" -> ((s, d) =>
      Relational.w13RollingMedian(t(s, d)("events"))),
    // robust (median/MAD) per-type outlier score, 1e-6 fixed point
    "w15_robust_z" -> ((s, d) => Relational.w15RobustZ(t(s, d)("events"))),
    // JSON properties column → typed field (codegen'd per-row parse)
    "t8_json_extract" -> ((s, d) => Relational.t8JsonExtract(t(s, d)("events"))),
    "text_bigram_freq" -> ((s, d) => TextOps.bigramFreq(t(s, d)("documents"), 20)),
    // custom whole-operator path: LogicalPlan + Strategy + SparkPlan
    // feature-store point-in-time join: each purchase reads the
    // user's SCD2 status AS OF its timestamp through the custom as-of
    // plan — the training-label correctness pattern (a plain join to
    // is_current leaks the future into features)
    "pipe_point_in_time" -> ((s, d) => {
      val ev = t(s, d)("events")
      val dim = MergeOps.scd2History(ev.filter(col("event_type") =!= "purchase"))
        // unique (user, valid_from): simultaneous status flips pick
        // the bytewise-largest status on both engines
        .groupBy(col("user_id").as("d_user"), col("valid_from"))
        .agg(max(col("status")).as("status"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      graft.plans.AsofJoin.asof(facts, dim,
          Seq("user_id"), Seq("d_user"), "ts", "valid_from")
        .select("purchase_id", "user_id", "status", "valid_from")
        .orderBy("purchase_id")
    }),
    // banded non-equi self-join: value-collision pairs within eps via
    // bucket replication (right side emits bucket and bucket-1, pairs
    // ordered lo<=hi match at exactly ONE replica) — the scale pattern
    // for |a-b|<=eps joins; hot buckets would salt at 100 TB
    "j12_band_join" -> ((s, d) =>
      Relational.j12BandJoin(t(s, d)("events"))),
    "asof_join" -> ((s, d) => {
      val ev = t(s, d)("events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      // right side deduped to unique (user, ts) so "latest at-or-before"
      // is well-defined under ties in BOTH engines
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .agg(max("event_id").as("purchase_id"))
      graft.plans.AsofJoin.asof(clicks, purchases,
          Seq("user_id"), Seq("p_user"), "click_ts", "purchase_ts")
        .select("click_id", "user_id", "purchase_id", "purchase_ts")
        .orderBy("click_id")
    }),
    // tolerance variant of the custom exec: the latest at-or-before
    // match only counts within a 24 h staleness budget (the production
    // PIT-join rule — a week-old feature row is NOT "the" feature);
    // left-outer keeps every probe, stale matches null out
    "asof_join_tolerance" -> ((s, d) => {
      val ev = t(s, d)("events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .agg(max("event_id").as("purchase_id"))
      val j = graft.plans.AsofJoin.asof(clicks, purchases,
        Seq("user_id"), Seq("p_user"), "click_ts", "purchase_ts",
        leftOuter = true)
      val fresh = col("purchase_ts").isNotNull &&
        (unix_millis(col("click_ts")) - unix_millis(col("purchase_ts"))
          <= lit(86400000L))
      j.select(col("click_id"), col("user_id"),
          when(fresh, col("purchase_id")).as("purchase_id"),
          when(fresh, col("purchase_ts")).as("purchase_ts"))
        .orderBy("click_id")
    }),
    // forward direction of the custom operator: FIRST purchase
    // at-or-after each click (the attribution shape), same single-pass
    // merge exec with the direction flag flipped
    "asof_join_forward" -> ((s, d) => {
      val ev = t(s, d)("events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .agg(max("event_id").as("purchase_id"))
      graft.plans.AsofJoin.asof(clicks, purchases,
          Seq("user_id"), Seq("p_user"), "click_ts", "purchase_ts",
          forward = true)
        .select("click_id", "user_id", "purchase_id", "purchase_ts")
        .orderBy("click_id")
    }),
    // nearest direction of the custom as-of operator: |Δt|-minimizing
    // match, ties to at-or-before — same single-pass merge exec
    "asof_join_nearest" -> ((s, d) => {
      val ev = t(s, d)("events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .agg(max("event_id").as("purchase_id"))
      graft.plans.AsofJoin.asof(clicks, purchases,
          Seq("user_id"), Seq("p_user"), "click_ts", "purchase_ts",
          nearest = true)
        .select("click_id", "user_id", "purchase_id", "purchase_ts")
        .orderBy("click_id")
    }),
    // mergeable bottom-k distinct sketch: daily sketches merged per
    // type must EQUAL the direct global bottom-k (mergeability proof)
    "a12_kmv_rollup" -> ((s, d) => Relational.a12KmvRollup(t(s, d)("events"))),
    "j1_merge_upsert" -> ((s, d) => mergeQuery(s, d)),
    "j2_anti_delete" -> ((s, d) => antiDeleteQuery(s, d)),
    "j4_dedup_lastwins" -> ((s, d) => dedupLastWinsQuery(s, d)),
    "c1_incremental_2step" -> ((s, d) => incremental2StepQuery(s, d)),
    "c2_zero_delta" -> ((s, d) => zeroDeltaQuery(s, d)),
    "c10_drift_check" -> ((s, d) => driftCheckQuery(s, d)),
    // LLM-data-pipeline extension set (BASELINE.json north star)
    "text_tokens" -> ((s, d) => TextOps.tokenCount(t(s, d)("documents"))),
    // BPE-ish pre-tokenizer piece count + ceil(len/4) subword estimate
    "text_tokens_bpe" -> ((s, d) => TextOps.bpeTokenCount(t(s, d)("documents"))),
    "text_quality" -> ((s, d) => TextOps.qualityScore(t(s, d)("documents"))),
    // linear model-based quality filter (classifier dot-product shape)
    "text_quality_model" -> ((s, d) =>
      TextOps.qualityModelScore(t(s, d)("documents"))),
    "text_langid" -> ((s, d) => TextOps.languageId(t(s, d)("documents"))),
    // lang-ID eval: confusion census of predicted vs labeled language
    "text_lang_confusion" -> ((s, d) =>
      TextOps.languageId(t(s, d)("documents"))
        .groupBy(col("lang_label"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang_label", "lang_pred")),
    // chance-corrected classifier audit of the lang-ID heuristic
    "text_langid_kappa" -> ((s, d) => TextOps.langIdKappa(t(s, d)("documents"))),
    // Heaps'-law vocabulary-growth fit (log-log OLS over 32 cuts)
    "text_heaps_law" -> ((s, d) => TextOps.heapsLaw(t(s, d)("documents"))),
    // per-source JSD against the corpus unigram mix (drift screen)
    "text_js_drift" -> ((s, d) => TextOps.jsSourceDrift(t(s, d)("documents"))),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprint(t(s, d)("documents"))),
    "text_tfidf" -> ((s, d) =>
      TextOps.tfidfTopTerms(t(s, d)("documents"), 5).orderBy("doc_id", "rnk")),
    "text_pii_mask" -> ((s, d) => TextOps.piiMask(t(s, d)("documents"))
      .orderBy("doc_id")),
    "text_repetition" -> ((s, d) => TextOps.repetitionRatio(t(s, d)("documents"))),
    // token-distribution Shannon entropy (vocabulary diversity signal)
    "text_entropy" -> ((s, d) => TextOps.tokenEntropy(t(s, d)("documents"))),
    // Zipf rank-frequency OLS fit over the bounded top-256 terms
    "text_zipf_slope" -> ((s, d) => TextOps.zipfSlope(t(s, d)("documents"))),
    // Hill tail-index over top-100 bigram frequencies (power-law health)
    "text_hill_tail" -> ((s, d) => TextOps.hillTailIndex(t(s, d)("documents"))),
    // held-out n-gram coverage across the md5 split (orders 1 and 2)
    "text_split_coverage" -> ((s, d) =>
      TextOps.splitNgramCoverage(t(s, d)("documents"))),
    // Church-Gale burstiness (VMR incl. zero docs) over top bigrams
    "text_burstiness" -> ((s, d) =>
      TextOps.termBurstiness(t(s, d)("documents"))),
    // RAKE: each doc's best stopword-free phrase by corpus-wide
    // degree/frequency word scores (the keyword tagger)
    "text_keywords" -> ((s, d) => TextOps.rakeKeywords(t(s, d)("documents"))),
    // day-of-week chi-square vs uniform + peak day per event type
    "w26_dow_profile" -> ((s, d) => Relational.w26DowProfile(t(s, d)("events"))),
    "text_normalize" -> ((s, d) => TextOps.normalizeUnicode(t(s, d)("documents"))),
    // perplexity proxy: occurrence share outside the top-20 corpus vocab
    "text_oov" -> ((s, d) => TextOps.oovRatio(t(s, d)("documents"), 20)),
    // Unicode script mix by explicit BMP codepoint ranges
    "text_script" -> ((s, d) => TextOps.scriptMix(t(s, d)("documents"))),
    // tokenizer artifact: top-50 vocab -> (pos, token_id) encoding
    "text_vocab_encode" -> ((s, d) =>
      TextOps.vocabEncode(t(s, d)("documents"), 50)),
    // real BPE merge learning: 3 steps of pair-count -> argmax -> merge
    "text_bpe_train" -> ((s, d) =>
      TextOps.bpeTrainMerges(t(s, d)("documents"), 3)),
    // sliding-window chunking: 40-token chunks, stride 20 (50% overlap)
    "pipe_chunk_overlap" -> ((s, d) =>
      PipelineOps.chunkSliding(t(s, d)("documents"), 40, 20)),
    // data-mixture weights: per-lang sample fractions for a 20k-token
    // budget at 50/20/10% en/de/zh (fr/es deliberately unlisted -> 0)
    "pipe_mixture" -> ((s, d) => PipelineOps.mixtureWeights(
      t(s, d)("documents"), 20000L,
      Map("en" -> 0.5, "de" -> 0.2, "zh" -> 0.1))),
    "pipe_sample_stratified" -> ((s, d) => PipelineOps.stratifiedSample(
      t(s, d)("documents"), Map("en" -> 0.5, "de" -> 0.9))),
    "dedup_exact" -> ((s, d) => TextOps.dedupExact(t(s, d)("documents"))),
    // span-level first-occurrence dedup + document reassembly
    "dedup_span_exact" -> ((s, d) => TextOps.spanDedup(t(s, d)("documents"))),
    // corpus unigram-LM mean logprob (the perplexity-filter primitive)
    "text_unigram_lm" -> ((s, d) => TextOps.unigramLogProb(t(s, d)("documents"))),
    // interpolated bigram LM (0.7 MLE bigram + 0.3 smoothed unigram)
    "text_bigram_lm" -> ((s, d) => TextOps.bigramLogProb(t(s, d)("documents"))),
    // per-type OLS trend: slope/intercept from exact decimal sums
    "a17_linear_fit" -> ((s, d) => Relational.a17LinearFit(t(s, d)("events"))),
    // plain text-file source round trip (tab-keyed line records)
    "s14_textfile_roundtrip" -> ((s, d) => FileOps.textRoundTrip(s,
      t(s, d)("documents"), stagingTag(d, "textrt", "documents.parquet"))),
    // two-pass Misra-Gries heavy hitters: bounded-memory candidates,
    // exact recount (oracle = plain GROUP BY ... HAVING)
    "a13_heavy_hitters" -> ((s, d) => TextOps.heavyHitterTokens(t(s, d)("documents"))),
    // feature-hashing sparse doc vectors (no vocab pass, fixed width)
    "text_hashed_features" -> ((s, d) => TextOps.hashedFeatures(t(s, d)("documents"))),
    // SCD Type-2 effective-dated status history per user
    "c11_scd2" -> ((s, d) => MergeOps.scd2History(t(s, d)("events"))),
    // lag-1 autocorrelation per event type (exact sufficient stats)
    "a18_autocorr" -> ((s, d) => Relational.a18Autocorr(t(s, d)("events"))),
    // last-touch attribution: purchase ← last prior click within 7 d
    "w18_attribution" -> ((s, d) => Relational.w18Attribution(t(s, d)("events"))),
    // incremental MV maintenance: parquet-stored snapshot of the base's
    // partial aggregates + mid-day delta, merged WITHOUT rescanning the
    // base; oracle is the full recompute the merge must equal
    // snapshot reconciliation census: one pk-keyed full outer join
    "c13_snapshot_diff" -> ((s, d) => {
      val o = t(s, d)("orders")
      val v2 = o.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      operators.MergeOps.snapshotDiff(o, v2, "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
    }),
    "c12_mv_maintain" -> ((s, d) => {
      val mvDir = stagingTag(d, "mv", "events.parquet")
      val ev = t(s, d)("events")
      val cut = "2024-01-25 00:10:00"
      MergeOps.mvPartials(ev.filter(col("ts") < lit(cut)))
        .write.mode("overwrite").parquet(mvDir)
      MergeOps.mvMergeDelta(s.read.parquet(mvDir),
        MergeOps.mvPartials(ev.filter(col("ts") >= lit(cut))))
    }),
    // exact-k deterministic per-language sample: bottom-k by md5
    // priority through the bounded TopKAgg (no corpus-wide sort)
    "pipe_sample_bottomk" -> ((s, d) =>
      PipelineOps.bottomKSample(t(s, d)("documents"))),
    // unpivot/melt wide measures to long rows (inverse of p4_pivot)
    "p5_unpivot" -> ((s, d) => Relational.p5Unpivot(t(s, d)("lineitem"))),
    // percent_rank + cume_dist from integer rank/peer components
    "w19_percent_rank" -> ((s, d) => Relational.w19PercentRank(t(s, d)("events"))),
    // gaps-and-islands: maximal consecutive-active-day runs per user
    "w20_islands" -> ((s, d) => Relational.w20Islands(t(s, d)("events"))),
    // deterministic per-user modal event type (lexicographic ties)
    "a19_mode" -> ((s, d) => Relational.a19Mode(t(s, d)("events"))),
    // chi-square contingency cells (lang × source): observed/expected/contrib
    "a20_chisq" -> ((s, d) => Relational.a20Chisq(t(s, d)("documents"))),
    // Gini concentration of value per type (rank-sum, exact decimals)
    "a21_gini" -> ((s, d) => Relational.a21Gini(t(s, d)("events"))),
    // per-group min-max [0,1] scaling (broadcast thresholds, no fact shuffle)
    "w21_minmax_scale" -> ((s, d) => Relational.w21MinMaxScale(t(s, d)("events"))),
    // running distinct-user growth curve (no distinct-over-window)
    "w22_cumulative_distinct" -> ((s, d) =>
      Relational.w22CumulativeDistinct(t(s, d)("events"))),
    // Benford first-digit screen (decimal-string digits, never float log)
    "a22_benford" -> ((s, d) => Relational.a22Benford(t(s, d)("orders"))),
    // per-day Shannon entropy of the event-type mix (decimal term sums)
    "a23_type_entropy" -> ((s, d) => Relational.a23TypeEntropy(t(s, d)("events"))),
    // two-sample KS distribution-shift statistic (click vs view)
    "a24_ks_test" -> ((s, d) => Relational.a24KsTest(t(s, d)("events"))),
    // Welch's t over every type pair from exact decimal sufficient stats
    "a25_welch_t" -> ((s, d) => Relational.a25WelchT(t(s, d)("events"))),
    // Cramér's V effect size summarizing the chi-square cell report
    "a26_cramers_v" -> ((s, d) => Relational.a26CramersV(t(s, d)("documents"))),
    // rank-based two-sample drift test (heavy-tail-robust twin of
    // Welch t), tie-corrected via doubled integer ranks
    "a27_mann_whitney" -> ((s, d) => Relational.a27MannWhitney(t(s, d)("events"))),
    // the production retrain-trigger drift gate: binned PSI with
    // add-one smoothing over observed bins
    "a28_psi" -> ((s, d) => Relational.a28Psi(t(s, d)("events"))),
    // Spearman rank correlation (exact doubled tie-average ranks)
    "a29_spearman" -> ((s, d) => Relational.a29Spearman(t(s, d)("events"))),
    // robust trend: median time-ordered step (linear Theil-Sen flavor)
    "a30_robust_trend" -> ((s, d) => Relational.a30RobustTrend(t(s, d)("events"))),
    // one-way ANOVA F across event types (k-group mean-difference test)
    "a31_anova_f" -> ((s, d) => Relational.a31AnovaF(t(s, d)("events"))),
    // mutual information between event type and a coarse value band
    "a32_mutual_info" -> ((s, d) => Relational.a32MutualInfo(t(s, d)("events"))),
    // k-group rank test: is ANY event type's value distribution
    // shifted (the non-parametric ANOVA)
    "a33_kruskal_wallis" -> ((s, d) =>
      Relational.a33KruskalWallis(t(s, d)("events"))),
    // rank correlation off the joint histogram — the scalable
    // restatement of the O(N²) concordant-pair walk
    "a34_kendall_tau" -> ((s, d) =>
      Relational.a34KendallTau(t(s, d)("lineitem"))),
    // code-vs-prose routing signal (indent + symbol density)
    "text_code_detect" -> ((s, d) => TextOps.codeDetect(t(s, d)("documents"))),
    // TPC-H Q18-shaped large-volume orders (having-on-agg + multi-join)
    "q18_large_orders" -> ((s, d) => Relational.q18LargeOrders(
      t(s, d)("customer"), t(s, d)("orders"), t(s, d)("lineitem"))),
    // TPC-H Q7-shaped cross-nation shipping volume rollup
    "q7_nation_volume" -> ((s, d) => Relational.q7NationVolume(
      t(s, d)("nation"), t(s, d)("supplier"), t(s, d)("customer"),
      t(s, d)("orders"), t(s, d)("lineitem"))),
    // TPC-H Q10-shaped returned-item customer revenue ranking
    "q10_returned_items" -> ((s, d) => Relational.q10ReturnedItems(
      t(s, d)("customer"), t(s, d)("orders"), t(s, d)("lineitem"))),
    // TPC-H Q17-shaped decorrelated per-part-threshold filter
    "q17_small_quantity" -> ((s, d) => Relational.q17SmallQuantity(
      t(s, d)("part"), t(s, d)("lineitem"))),
    // TPC-H Q4-shaped semi-join priority census (late-line EXISTS)
    "q4_order_priority" -> ((s, d) => Relational.q4OrderPriority(
      t(s, d)("orders"), t(s, d)("lineitem"))),
    // TPC-H Q13-shaped outer-join order-count histogram
    "q13_order_histogram" -> ((s, d) => Relational.q13OrderHistogram(
      t(s, d)("customer"), t(s, d)("orders"))),
    // TPC-H Q21-shaped sole-late-supplier census (semi + anti self-joins)
    "q21_waiting_supplier" -> ((s, d) => Relational.q21WaitingSupplier(
      t(s, d)("supplier"), t(s, d)("orders"), t(s, d)("lineitem"))),
    // promo revenue share per ship month (conditional/total sum pair)
    "q14_promo_revenue" -> ((s, d) => Relational.q14PromoRevenue(
      t(s, d)("part"), t(s, d)("lineitem"))),
    // interval's top supplier(s) by revenue (scalar-max broadcast, ties kept)
    "q15_top_supplier" -> ((s, d) => Relational.q15TopSupplier(
      t(s, d)("supplier"), t(s, d)("lineitem"))),
    // disjunctive brand/size/quantity pricing predicate
    "q19_discounted_revenue" -> ((s, d) => Relational.q19DiscountedRevenue(
      t(s, d)("part"), t(s, d)("lineitem"))),
    // scan-only forecast revenue (full predicate pushed to the scan)
    "q6_forecast_revenue" -> ((s, d) => Relational.q6ForecastRevenue(
      t(s, d)("lineitem"))),
    // ship-latency band x order-priority conditional-count census
    "q12_ship_latency" -> ((s, d) => Relational.q12ShipLatencyPriority(
      t(s, d)("orders"), t(s, d)("lineitem"))),
    // one nation's market share in one region for one product type
    "q8_market_share" -> ((s, d) => Relational.q8MarketShare(
      t(s, d)("region"), t(s, d)("nation"), t(s, d)("supplier"),
      t(s, d)("customer"), t(s, d)("part"), t(s, d)("orders"),
      t(s, d)("lineitem"))),
    // TPC-H Q22-shaped never-ordered wealthy-customer census (anti join)
    "q22_idle_customers" -> ((s, d) => Relational.q22IdleCustomers(
      t(s, d)("customer"), t(s, d)("orders"))),
    // type-token ratio lexical-diversity screen
    "text_ttr" -> ((s, d) => TextOps.typeTokenRatio(t(s, d)("documents"))),
    // Flesch-style readability profile (terminator runs / vowel groups)
    "text_readability" -> ((s, d) => TextOps.readability(t(s, d)("documents"))),
    "text_inverted_index" -> ((s, d) => TextOps.invertedIndex(t(s, d)("documents"))),
    "text_sentence_stats" -> ((s, d) => TextOps.sentenceStats(t(s, d)("documents"))),
    // power-of-two length-bucket census (integer bit-length, no float log)
    "pipe_length_buckets" -> ((s, d) =>
      PipelineOps.lengthBuckets(t(s, d)("documents"))),
    // Efraimidis-Spirakis deterministic weighted sample (global TopKAgg)
    "pipe_weighted_sample" -> ((s, d) =>
      PipelineOps.weightedSample(t(s, d)("documents"))),
    // temperature-scaled (share^0.3) multilingual mixture weights
    "pipe_mix_temperature" -> ((s, d) =>
      PipelineOps.temperatureMixture(t(s, d)("documents"))),
    "dedup_minhash_lsh" -> ((s, d) => DedupGraph.minhashPairs(s, d)),
    // banding recall census: every exact pair >= t the banded candidate
    // generation missed, counted against the all-pairs exact ground
    // truth — the quantified honesty check behind "LSH finds the dups"
    "dedup_lsh_recall" -> ((s, d) => {
      val docs = t(s, d)("documents")
      val lsh = DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b")
      val exact = DedupOps.ngramJaccard(docs, 0.5).select("doc_a", "doc_b")
      val missed = exact.join(lsh, Seq("doc_a", "doc_b"), "left_anti")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
    }),
    // the census that itself survives 100×: exact ground truth only
    // for pairs touching a deterministic 10% doc sample (probe-side
    // shingle join — cost scales with the sample), vs the LSH pairs
    // restricted to the same stratum; unbiased recall estimate
    "dedup_lsh_recall_sampled" -> ((s, d) => {
      val docs = t(s, d)("documents")
      val lsh = DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b")
        .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
      val exact = DedupOps.ngramJaccardSampled(docs, 0.5, 10)
        .select("doc_a", "doc_b")
      val missed = exact.join(lsh, Seq("doc_a", "doc_b"), "left_anti")
      exact.agg(count(lit(1)).as("n_exact_s"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh_s")))
        .crossJoin(missed.agg(count(lit(1)).as("n_missed_s")))
    }),
    "dedup_ngram_jaccard" -> ((s, d) => DedupOps.ngramJaccard(t(s, d)("documents"), 0.3)),
    // same exact semantics, prefix-filtered candidate generation — the
    // scale-credible exact path at production thresholds (t=0.7: each
    // doc blocks on only its ~30% rarest shingles, so boilerplate hub
    // buckets never enter the candidate join; at low t the prefix
    // covers most of the doc and all-pairs is the better shape)
    "dedup_jaccard_prefix" -> ((s, d) => DedupOps.ngramJaccardPrefix(t(s, d)("documents"), 0.7)),
    // "same article, minor edits": Levenshtein over leading content,
    // blocked on (lang, exact 10-char prefix)
    "dedup_edit_distance" -> ((s, d) => DedupOps.editDistancePairs(t(s, d)("documents"))),
    "er_jaro_pairs" -> ((s, d) =>
      DedupGraph.jwPairs(s, d).orderBy("doc_a", "doc_b")),
    // records -> entity ids: transitive closure over the blocked
    // Jaro-Winkler matches; unmatched records are their own entity
    "er_entities" -> ((s, d) => {
      val docs = t(s, d)("documents")
      val cc = GraphOps.connectedComponents(
        DedupGraph.jwPairs(s, d).select("doc_a", "doc_b"))
      docs.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("entity_id"))
        .orderBy("doc_id")
    }),
    // estimator honesty: signature-agreement Jaccard vs exact shingle
    // Jaccard per LSH pair — may "12/16 agree" stand in for J≈0.75?
    "dedup_minhash_calibration" -> ((s, d) =>
      DedupOps.minhashCalibration(t(s, d)("documents"),
        DedupGraph.minhashPairs(s, d))),
    // pair/cluster/survivor sensitivity at three Jaccard cuts (one
    // LSH+verify pass; per-cut components via the union-find path)
    "dedup_threshold_sweep" -> ((s, d) => DedupOps.thresholdSweep(
      t(s, d)("documents"), DedupGraph.minhashPairs(s, d))),
    // LSH bucket-occupancy histogram (banding health monitor)
    "dedup_lsh_buckets" -> ((s, d) =>
      DedupOps.lshBucketCensus(t(s, d)("documents"))),
    // which provider feeds the duplicate mass: near-dup rate by source
    "dedup_rate_by_source" -> ((s, d) => DedupOps.dupRateBySource(
      t(s, d)("documents"), DedupGraph.minhashPairs(s, d))),
    // does dedup skew the length distribution? dup rate by length decile
    "dedup_length_bias" -> ((s, d) => DedupOps.dupRateByLength(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // syndication census: near-dup pair mass within vs across sources
    "dedup_cross_source" -> ((s, d) => DedupOps.crossSourcePairs(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // chaining pathology dial: closure pairs vs verified pairs
    "dedup_transitive_inflation" -> ((s, d) => DedupOps.transitiveInflation(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // did dedup change the source mixture? share before/after + delta
    "pipe_mixture_shift" -> ((s, d) => PipelineOps.mixtureShift(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // what did dedup COST, token-weighted: tokens lost per source
    "pipe_token_loss" -> ((s, d) => PipelineOps.tokenLoss(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // after ER: fuse each cluster to ONE canonical record (mode per
    // categorical, ties bytewise-smallest; no per-entity arrays)
    "er_golden_record" -> ((s, d) => GraphOps.goldenRecords(
      t(s, d)("documents"),
      DedupGraph.jwPairs(s, d).select("doc_a", "doc_b"))),
    // asymmetric quote/containment dedup: |A∩B|/|A| per direction
    "dedup_containment" -> ((s, d) => DedupOps.containmentPairs(t(s, d)("documents"), 0.6)),
    // sub-document curation signal: fraction of each doc's shingles
    // first seen in that doc (by doc_id ingestion order)
    "text_novelty" -> ((s, d) => DedupOps.shingleNovelty(t(s, d)("documents"))),
    // retrieval primitive: BM25 top-10 docs for a fixed query
    "text_bm25" -> ((s, d) => TextOps.bm25TopDocs(t(s, d)("documents"),
      Seq("join", "filter", "customer"))),
    "dedup_simhash" -> ((s, d) => DedupOps.simhash(t(s, d)("documents"))),
    "dedup_simhash64" -> ((s, d) => DedupOps.simhash64(t(s, d)("documents"))),
    "dedup_simhash_pairs" -> ((s, d) => DedupGraph.simhashPairs(s, d)),
    // do the two near-dup definitions even agree? pair-set Jaccard of
    // the MinHash-verified vs SimHash pair graphs (both shared caches)
    "dedup_scheme_agreement" -> ((s, d) => DedupOps.pairSetAgreement(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"),
      DedupGraph.simhashPairs(s, d).select("doc_a", "doc_b"))),
    // cluster density of the near-dup graph: exact triangle count
    "dedup_triangles" -> ((s, d) => graft.operators.GraphOps
      .triangleCount(DedupGraph.simhashPairs(s, d))),
    // degree histogram of the near-dup graph (skew-guard census)
    "dedup_degree_hist" -> ((s, d) => graft.operators.GraphOps
      .degreeHistogram(DedupGraph.simhashPairs(s, d)
        .select("doc_a", "doc_b"))),
    // triangle-closure rate of the near-dup graph (chain-vs-clique)
    "dedup_clustering_coeff" -> ((s, d) => graft.operators.GraphOps
      .clusteringCoefficient(DedupGraph.simhashPairs(s, d)
        .select("doc_a", "doc_b"))),
    // hub-pairing tendency of the near-dup graph (boilerplate alarm)
    "dedup_assortativity" -> ((s, d) => graft.operators.GraphOps
      .assortativity(DedupGraph.simhashPairs(s, d)
        .select("doc_a", "doc_b"))),
    // HyperBall-style 2-hop ball sizes (bottom-k KMV registers)
    "dedup_ball2_kmv" -> ((s, d) => graft.operators.GraphOps
      .kmvBall(DedupGraph.simhashPairs(s, d)
        .select("doc_a", "doc_b"))),
    // per-cluster quality report: nodes/pairs/triangles per component
    "dedup_clique_density" -> ((s, d) => graft.operators.GraphOps
      .cliqueDensity(DedupGraph.simhashPairs(s, d)
        .select("doc_a", "doc_b"))),
    // hub-document centrality over the near-dup graph (3 power steps)
    "dedup_pagerank" -> ((s, d) => graft.operators.GraphOps
      .pageRank(DedupGraph.simhashPairs(s, d)
        .select("doc_a", "doc_b"))),
    // personalized PageRank from the curated seed set (doc_id%50==0)
    "dedup_ppr" -> ((s, d) => graft.operators.GraphOps
      .personalizedPageRank(DedupGraph.simhashPairs(s, d)
        .select("doc_a", "doc_b"))),
    // pairs → clusters → survivors: the transitive-closure step that
    // turns LSH candidate pairs into an actual deduped corpus
    "dedup_components" -> ((s, d) => GraphOps.connectedComponents(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))
      .orderBy("doc_id")),
    // end-to-end dedup run report: corpus → banded pairs → clusters →
    // survivor census, the one-row summary a pipeline operator reads
    "pipe_dedup_report" -> ((s, d) => {
      val docs = t(s, d)("documents")
      val pairs = DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b")
      val comps = GraphOps.connectedComponents(pairs)
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
        .crossJoin(comps.agg(countDistinct("component").as("n_clusters"),
          count(lit(1)).as("n_paired")))
        .withColumn("n_survivors",
          col("n_docs") - (col("n_paired") - col("n_clusters")))
        .withColumn("pct_kept",
          round(col("n_survivors").cast("double") / col("n_docs"), 6))
    }),
    // bounded k-core peel: mutually-dense near-dup clusters (template
    // farms) survive; hubs with one-off matches peel away
    "dedup_kcore" -> ((s, d) => GraphOps.kCore(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // edge-grained core over the co-order basket graph: an edge
    // survives only with >= k-2 triangle witnesses (the minhash graph
    // is the WRONG input — its clusters are 2-3-doc cliques, so every
    // k >= 4 truss is empty by construction; k = 12 on the basket
    // graph peels 115k edges to a ~2.5k dense co-purchase core)
    "graph_ktruss" -> ((s, d) =>
      GraphOps.kTruss(BasketGraph.pairs(s, d), k = 12)
        .withColumnRenamed("doc_a", "part_a")
        .withColumnRenamed("doc_b", "part_b")),
    // which communities bridge into which: edge counts per label pair
    "dedup_community_edges" -> ((s, d) => GraphOps.communityEdges(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // deterministic 3-round label propagation: communities inside the
    // near-dup graph (frequency vote, ties to smallest label)
    "dedup_lpa" -> ((s, d) => GraphOps.labelPropagation(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // per-community modularity census over the LPA vote: did the vote
    // find real structure (Q >> 0) before a dedup policy acts on it?
    "dedup_modularity" -> ((s, d) => GraphOps.modularity(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // common-neighbor link prediction over the part co-order graph
    // (parts sharing an order are edges): non-edge part pairs sharing
    // >= 2 co-order partners are the "bought together by proxy"
    // recommendation candidates. The minhash near-dup graph is the
    // WRONG input here — its components are complete cliques by
    // construction (verified empty at sf0.01), so the basket graph
    // with real wedge structure is what exercises the operator.
    // Hub centers capped at degree 64: a part in every basket is no
    // evidence (and the cap is what bounds the wedge expansion).
    // the shared basket pairs are already normalized (part_a < part_b)
    // and distinct, so the lazy wedge pipeline runs straight off the
    // persisted cache — no re-distinct, no second persist, no eager
    // checkpoint round trip. The hub guard here is the degree-64
    // center cap inside the wedge expansion (array-free).
    "graph_link_predict" -> ((s, d) =>
      GraphOps.commonNeighborsLazy(
          BasketGraph.pairs(s, d)
            .select(col("doc_a").as("x"), col("doc_b").as("y")),
          maxDegree = 64, minCommon = 2)
        .withColumnRenamed("doc_a", "part_a")
        .withColumnRenamed("doc_b", "part_b")),
    // survivor policy twin: keep the LONGEST doc per near-dup cluster
    // (ties to lowest id) instead of the lowest-id convention
    "dedup_survivors_rank" -> ((s, d) => GraphOps.dedupSurvivorsBy(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"),
      "n_chars").orderBy("doc_id")),
    // SemDeDup: k-means clusters gate the pair predicate; exact cosine
    // verify within clusters only
    "dedup_semantic" -> ((s, d) =>
      SimilarityOps.semanticNearDup(t(s, d)("embeddings"), 0.463)),
    "dedup_survivors" -> ((s, d) => GraphOps.dedupSurvivors(t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))
      .orderBy("doc_id")),
    // incremental shape with the FULL production index lifecycle: ONE
    // signature pass over the corpus is WRITTEN TO PARQUET as the index
    // artifact, read back file-backed, and both sides (new slice =
    // doc_id % 10 == 0, index = the rest) slice the read-back frame —
    // the slice filters push down to the parquet scan. Per-doc
    // signatures are identical to an in-memory pass, so the oracle is
    // unchanged; what this adds is the persist→reload→join round trip
    // a growing corpus actually runs (you never re-LSH 100 TB to admit
    // a day's crawl — you join the day against the stored index).
    "dedup_incremental" -> ((s, d) => {
      val idxDir = scratchDir(d, "minhash_index")
      DedupOps.minhashSignatures(t(s, d)("documents"), 16)
        .write.mode("overwrite").parquet(idxDir)
      val sigs = s.read.parquet(idxDir)
      DedupOps.minhashLshIncremental(
        sigs.filter(col("doc_id") % 10 === 0),
        sigs.filter(col("doc_id") % 10 =!= 0))
    }),
    "dedup_embedding_cosine" -> ((s, d) =>
      SimilarityOps.cosineNearDup(t(s, d)("embeddings"), 0.463)
        .select("vec_a", "vec_b")),
    "sim_topk_brute" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.bruteForceTopK(e, e.filter(col("vec_id") % 25 === 0), 5)
        .select("query_id", "neighbor_id", "rnk")
    }),
    // filtered vector search: the label predicate gates candidates
    // BEFORE ranking (post-filtering an unfiltered top-k under-fills)
    "sim_filtered_topk" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.filteredTopK(e, e.filter(col("vec_id") % 25 === 0), 5)
        .select("query_id", "neighbor_id", "rnk")
    }),
    // weekly-structure screen: week-ago forecast MAE vs lag-1 naive
    "a37_seasonal_error" -> ((s, d) =>
      Relational.a37SeasonalError(t(s, d)("events"))),
    // experiment readout: per-user conversion by deterministic arm,
    // pooled-variance two-proportion z
    "a38_ab_conversion" -> ((s, d) =>
      Relational.a38AbConversion(t(s, d)("events"))),
    // whales readout: top-1%/top-10% user share of total value
    "a39_pareto_share" -> ((s, d) =>
      Relational.a39ParetoShare(t(s, d)("events"))),
    // exact tie-corrected ROC-AUC: does value separate purchases?
    "a40_auc" -> ((s, d) => Relational.a40Auc(t(s, d)("events"))),
    // weekly DAU/WAU stickiness (engagement depth next to retention)
    "w29_stickiness" -> ((s, d) => Relational.w29Stickiness(t(s, d)("events"))),
    // MAD-robust outlier census (median-of-cents, 3x MAD cut)
    "a42_mad_outliers" -> ((s, d) =>
      Relational.a42MadOutliers(t(s, d)("events"))),
    // inter-arrival gap percentiles per type (burstiness profile)
    "w31_interarrival" -> ((s, d) =>
      Relational.w31Interarrival(t(s, d)("events"))),
    // pre-join key-skew probe (mean/p99/max per-key counts, skew ratio)
    "j15_skew_probe" -> ((s, d) => Relational.j15SkewProbe(t(s, d)("lineitem"))),
    // FD violation census: a true key and a false one, both verdicts
    "j16_fd_profile" -> ((s, d) => Relational.j16FdProfile(t(s, d)("orders"))),
    // day-of-week variance explained over daily volumes
    "a44_seasonality" -> ((s, d) =>
      Relational.a44SeasonalityStrength(t(s, d)("events"))),
    // largest before/after mean-volume gap: when did traffic shift?
    "a45_changepoint" -> ((s, d) =>
      Relational.a45Changepoint(t(s, d)("events"))),
    // deterministic Poisson bootstrap: replicate means -> 95% CI for
    // the mean purchase value (integer hash weights, no RNG)
    "a41_bootstrap_ci" -> ((s, d) =>
      Relational.a41BootstrapCi(t(s, d)("events"))),
    // dedup run report chart #1: cluster-size histogram
    "dedup_cluster_sizes" -> ((s, d) => GraphOps.clusterSizeHistogram(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // exact mean pairwise cosine per label pair via the sum-vector
    // identity — the O(N²) census at O(labels²·dim) cost
    "sim_separability" -> ((s, d) =>
      SimilarityOps.labelSeparability(t(s, d)("embeddings"))),
    // structural confidence per near-dup edge: do the endpoints'
    // neighborhoods agree too?
    "dedup_node_jaccard" -> ((s, d) => GraphOps.nodeJaccard(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // max-inner-product serving scorer (dot, no norms), bounded top-k
    "sim_mips_topk" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.mipsTopK(e, e.filter(col("vec_id") % 25 === 0), 5)
        .select("query_id", "neighbor_id", "rnk")
    }),
    // exact integer-grid feature covariance (upper triangle, d² cells)
    "sim_covariance" -> ((s, d) =>
      SimilarityOps.covarianceMatrix(t(s, d)("embeddings"))),
    // top principal component: distributed CovGrid + driver power
    // iteration in order-free fixed-point (oracle unrolls the loop)
    "sim_pca_power" -> ((s, d) =>
      SimilarityOps.pcaTopComponent(t(s, d)("embeddings"))),
    // recall@k quality gate: approximate rankers vs the exact ranker,
    // invariant booleans vs a constant-true oracle (a6/a7/a9 trick)
    // two-stage PQ serving gate: exact rerank of the ADC shortlist
    // must clear the calibrated floor AND beat raw PQ (measured
    // recall@5, PqProbe sf0.01/sf0.1: pq 0.090/0.028, rerank x8
    // 0.360/0.130; floor at ~half the worst rerank value)
    "sim_pq_rerank" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      val q = e.filter(col("vec_id") % 25 === 0)
      val exact = SimilarityOps.bruteForceTopK(e, q, 5)
      val pqR = SimilarityOps.annRecall(exact, SimilarityOps.pqTopK(e, q, 5))
        .select(col("mean_recall").as("pq_recall"))
      val rrR = SimilarityOps.annRecall(exact,
        SimilarityOps.pqRerankTopK(e, q, 5, shortlistFactor = 8))
        .select(col("mean_recall").as("rr_recall"))
      pqR.crossJoin(rrR).select(lit(5).as("k"),
        (col("rr_recall") >= 0.06).as("rerank_recall_ok"),
        (col("rr_recall") >= col("pq_recall")).as("rerank_beats_pq"))
    }),
    "sim_recall_check" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.annRecallCheck(e, e.filter(col("vec_id") % 25 === 0), 5)
    }),
    "sim_lsh_topk" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.lshTopK(e, e.filter(col("vec_id") % 25 === 0), 5)
        .select("query_id", "neighbor_id", "rnk")
    }),
    // multiprobe LSH: +numPlanes Hamming-1 probes per query, same
    // single-table index — the zero-extra-storage recall amplifier
    "sim_multiprobe_topk" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.multiprobeTopK(e, e.filter(col("vec_id") % 25 === 0), 5)
        .select("query_id", "neighbor_id", "rnk")
    }),
    "sim_ivf_topk" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.ivfTopK(e, e.filter(col("vec_id") % 25 === 0), 5)
        .select("query_id", "neighbor_id", "rnk")
    }),
    "sim_neardup_lsh" -> ((s, d) =>
      SimilarityOps.lshNearDup(t(s, d)("embeddings"), 0.463)),
    // cosine histogram over the LSH candidates (threshold calibration)
    "sim_cosine_census" -> ((s, d) =>
      SimilarityOps.cosineBandCensus(t(s, d)("embeddings"))),
    // ε-ball retrieval: ALL corpus vectors within the cosine radius of
    // each query (broadcast queries, no corpus shuffle)
    "sim_range_search" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.rangeSearch(e, e.filter(col("vec_id") % 25 === 0), 0.4)
    }),
    // embedding-quality probe: own label vs majority label of the 5
    // cosine-nearest neighbors (ties to the smallest label)
    "sim_knn_label" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.knnLabelAgreement(e, e.filter(col("vec_id") % 25 === 0), 5)
    }),
    // trained IVF path: 2 Lloyd iterations, deterministic init
    "sim_kmeans" -> ((s, d) =>
      SimilarityOps.kmeansAssign(t(s, d)("embeddings")).orderBy("vec_id")),
    // per-label norm profile (embedding-drift check)
    "sim_norm_stats" -> ((s, d) =>
      SimilarityOps.normStats(t(s, d)("embeddings"))),
    // symmetric int8 quantization, exploded for the scalar oracle
    "sim_quantize_int8" -> ((s, d) =>
      SimilarityOps.quantizeInt8(t(s, d)("embeddings"))),
    // product-quantization index build: 4 subspaces, 8-centroid
    // codebooks, exact L2 argmin per (vector, subspace)
    "sim_pq_encode" -> ((s, d) =>
      SimilarityOps.pqEncode(t(s, d)("embeddings"))),
    // PQ calibration: per-subspace reconstruction MSE of the codebook
    "sim_pq_distortion" -> ((s, d) =>
      SimilarityOps.pqDistortion(t(s, d)("embeddings"))),
    // PQ serving: ADC lookup over the codes, fixed-point sums
    "sim_pq_topk" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.pqTopK(e, e.filter(col("vec_id") % 25 === 0), 5)
    }),
    // quantized-domain ANN: cosine top-k over the int8 codes
    "sim_int8_topk" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      // serve from the PERSISTED quantized index (built once per sf
      // dir, mtime-keyed) — the production quantized-ANN lifecycle
      SimilarityOps.int8TopK(e, e.filter(col("vec_id") % 25 === 0), 5,
        indexDir = Some(stagingTag(d, "int8idx", "embeddings.parquet")))
    }),
    // REAL decode of all three modalities from staged files (PNG via
    // javax.imageio, WAV via javax.sound.sampled, MP4 via the box
    // walker) — the oracle predicts every field from the staging rule,
    // so a fake or broken decoder cannot pass
    "mm_decode_meta" -> ((s, d) => mmDecodeMetaQuery(s, d)),
    // real decode → nearest-neighbor thumbnail → pixel digest; the
    // oracle predicts the digest from the staged gradient formula
    "mm_image_resize" -> ((s, d) =>
      Multimodal.resizeImages(media(s, d, Media.Png)).orderBy("doc_id")),
    // lossy-codec path: real baseline-JPEG decode, full-raster
    // tolerance gate against the flat-block gradient + exact dims
    "mm_jpeg_decode" -> ((s, d) =>
      Multimodal.decodeJpegCheck(media(s, d, Media.Jpg)).orderBy("doc_id")),
    // full-raster pixel stats over the real decode — the oracle
    // predicts the exact per-image sum from the gradient formula, so
    // header-only or sampled decoders cannot pass
    "mm_pixel_stats" -> ((s, d) =>
      Multimodal.pixelStats(media(s, d, Media.Png)).orderBy("doc_id")),
    // per-image tonal entropy over the real decode (flat-frame screen)
    "mm_image_entropy" -> ((s, d) => Multimodal.imageEntropy(media(s, d, Media.Png))),
    // letterbox/frame screen: border-ring vs interior brightness over
    // the real decode
    "mm_border_contrast" -> ((s, d) =>
      Multimodal.borderContrast(media(s, d, Media.Png))),
    // 16-band grayscale tone census over the real PNG decode
    "mm_gray_histogram" -> ((s, d) =>
      Multimodal.grayHistogram(media(s, d, Media.Png))),
    // 2×2 tile brightness over the real decode: the letterbox/blank-
    // region localization probe (raster twin of the audio band energy)
    "mm_tile_brightness" -> ((s, d) =>
      Multimodal.tileBrightness(media(s, d, Media.Png))),
    // perceptual dHash fingerprints over the real PNG decode
    "mm_dhash" -> ((s, d) =>
      Multimodal.imageDHash(media(s, d, Media.Png)).orderBy("doc_id")),
    // perceptual near-dup image pairs (banded Hamming over dHash)
    "mm_dhash_neardup" -> ((s, d) => Multimodal.imageNearDup(media(s, d, Media.Png))),
    // cross-modal join: image near-dup pairs scored by caption
    // agreement (fingerprint equality + distinct-token Jaccard) — the
    // duplicated-image / conflicting-caption labeling census
    "mm_caption_integrity" -> ((s, d) =>
      Multimodal.captionIntegrity(media(s, d, Media.Png), t(s, d)("documents"))),
    // perceptual audio fingerprints over the real PCM decode
    "mm_audio_hash" -> ((s, d) =>
      Multimodal.audioDHash(media(s, d, Media.Wav)).orderBy("doc_id")),
    // RIFF header fields over the real audio decode
    "mm_audio_meta" -> ((s, d) =>
      Multimodal.decodeAudioMeta(media(s, d, Media.Wav)).orderBy("doc_id")),
    // full-stream PCM sample stats over the real audio decode
    "mm_audio_stats" -> ((s, d) =>
      Multimodal.audioStats(media(s, d, Media.Wav)).orderBy("doc_id")),
    // quarter-band Σv² energy over the real PCM decode (trim signal)
    "mm_audio_energy" -> ((s, d) =>
      Multimodal.audioBandEnergy(media(s, d, Media.Wav))),
    // near-full-scale sample census over the real PCM decode
    "mm_audio_clipping" -> ((s, d) =>
      Multimodal.audioClipping(media(s, d, Media.Wav))),
    // integer-exact zero-crossing census over the real PCM decode
    "mm_audio_zcr" -> ((s, d) => Multimodal.audioZcr(media(s, d, Media.Wav))),
    // NN resample of channel-0 PCM to a fixed 64-point grid + digest
    "mm_audio_resample" -> ((s, d) =>
      Multimodal.resampleAudio(media(s, d, Media.Wav)).orderBy("doc_id")),
    // real ISO-BMFF metadata parse over staged MP4 containers
    "mm_video_meta" -> ((s, d) =>
      Multimodal.decodeVideoMeta(media(s, d, Media.Mp4)).orderBy("doc_id")),
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.decodeVideoMeta(media(s, d, Media.Mp4)))),
    // S4+K4+T2: staged CSV round trip in the reference dialect
    "s4_csv_roundtrip" -> ((s, d) => FileOps.csvRoundTrip(s,
      t(s, d)("part"), scratchDir(d, "s4")).orderBy("p_partkey")),
    "s11_jsonl_roundtrip" -> ((s, d) => FileOps.jsonlRoundTrip(s,
      t(s, d)("documents"), scratchDir(d, "s11")).orderBy("doc_id")),
    // planted-corruption permissive read: bad lines must land in
    // _corrupt_record, never vanish or half-parse
    "s15_jsonl_permissive" -> ((s, d) => FileOps.jsonlPermissiveCensus(s,
      t(s, d)("documents"), scratchDir(d, "s15"))),
    "s12_orc_roundtrip" -> ((s, d) => FileOps.orcRoundTrip(s,
      t(s, d)("supplier"), scratchDir(d, "s12")).orderBy("s_suppkey")),
    // S5: JDBC catalog scan (embedded Derby stands in for PG's
    // information_schema; rows-only check — DuckDB cannot reach it)
    "s5_jdbc_catalog" -> ((s, _) => {
      val url = "jdbc:derby:memory:graftcat;create=true"
      FileOps.seedDerbyCatalogDemo(url, "CATDEMO")
      FileOps.jdbcCatalogColumns(s, url, "CATDEMO")
    }),
    // K2+C4: assembled truncate-and-load of a bulk job into Derby, then
    // the loaded table read back — oracle is the same rows from parquet
    "k2_bulk_load" -> ((s, d) => k2BulkLoadQuery(s, d)),
    // K5 result verification: a real uploadWithResults run through the
    // mock bulk transport (fresh per invocation — batch/job counters
    // restart, so the census is run-deterministic), failing every 7th
    // record per batch; the per-batch success/created/failure census
    // is row-arithmetic the oracle restates from the same slice
    "k5_upload_results" -> ((s, d) =>
      graft.reverse.BulkUpload.uploadResultCensus(
        t(s, d)("customer").select(col("c_custkey"), col("c_name"))
          .filter(col("c_custkey") % 3 === 0),
        "c_custkey", "Customer", new graft.reverse.MockUploadTransport(failEvery = 7),
        maxRecords = 50)),
    // fixed-size set-sketch state: streaming KMV distinct (complete
    // mode, no watermark needed — the sketch never grows)
    "stream_kmv" -> ((s, d) => streamKmvQuery(s, d)),
    // streaming GK quantile sketch (complete mode, fixed-size state);
    // verified by the batch rank gate
    "stream_quantile" -> ((s, d) => streamQuantileQuery(s, d)),
    // Structured Streaming end-to-end: file-source readStream over the
    // events table → watermarked sliding-window aggregation →
    // Trigger.AvailableNow → memory sink; oracle is the batch-SQL
    // restatement of the same sliding windows
    "stream_windowed_agg" -> ((s, d) => streamWindowedAggQuery(s, d)),
    // streaming drift monitor: tumbling-day type counts in the stream
    // (bounded windowed state), entropy finalized group-scale over the
    // sink — oracle is the batch restatement over the same day windows
    "stream_entropy" -> ((s, d) => streamEntropyQuery(s, d)),
    // per-window PSI vs the static corpus baseline (the retrain gate)
    "stream_drift" -> ((s, d) => streamDriftQuery(s, d)),
    "stream_dedup" -> ((s, d) => streamDedupQuery(s, d)),
    "stream_join" -> ((s, d) => streamJoinQuery(s, d)),
    // left-outer stream-stream join: null-padded rows flush when the
    // sentinel-advanced watermark proves no match can arrive
    "stream_join_outer" -> ((s, d) => streamJoinOuterQuery(s, d)),
    // the reference's CDC loop itself as a two-batch stream replay
    "stream_cdc_merge" -> ((s, d) => streamCdcMergeQuery(s, d)),
    // streaming MV maintenance: 3 chronological micro-batches merge
    // into a group-scale snapshot; oracle = full batch recompute
    "stream_mv_maintain" -> ((s, d) => streamMvMaintainQuery(s, d)),
    "stream_session" -> ((s, d) => streamSessionQuery(s, d)),
    // the PRODUCTION sessionizer (EventTimeTimeout, emit-once,
    // state-evicting) under the oracle gate: a sentinel file closes
    // the watermark over every real session — see streamSessionEvictQuery
    "stream_session_evict" -> ((s, d) => streamSessionEvictQuery(s, d)),
    "stream_topk" -> ((s, d) => streamTopKQuery(s, d)),
    // the NATIVE session_window twin, batch and streaming: built-in
    // beats custom state when the semantics fit (SURVEY §7.3 rule)
    "w9_session_window" -> ((s, d) => graft.streaming.StreamingSync
      .sessionizeNative(t(s, d)("events"), "30 minutes", None)
      .orderBy("user_id", "session_start")),
    // ordered funnel: furthest view -> click -> purchase step per user,
    // each step strictly after the user's earliest prior-step time
    "w10_funnel" -> ((s, d) => Relational.funnelSteps(
      t(s, d)("events"), Seq("view", "click", "purchase"))),
    // retention matrix: distinct users per (first-event cohort day,
    // day offset)
    "w11_retention" -> ((s, d) =>
      Relational.cohortRetention(t(s, d)("events"))),
    // first-order Markov transition matrix over per-user sequences
    // R/F/M quartile codes per customer off one keyed aggregate
    "a35_rfm_segments" -> ((s, d) =>
      Relational.a35RfmSegments(t(s, d)("orders"))),
    // support/confidence/lift over co-ordered part pairs, top-20 by
    // lift via TakeOrdered (bounded, no global window state)
    "j11_assoc_rules" -> ((s, d) => {
      val (_, pairCounts) = BasketGraph.itemsAndPairs(s, d)
      val (itemCnt, totalOrders) = BasketGraph.itemStats(s, d)
      Relational.j11ScoreRules(pairCounts, itemCnt, totalOrders)
    }),
    // argmax-transition hit rate off the transition counts — the
    // sanity gate for "predicted next action" features
    "w27_markov_accuracy" -> ((s, d) =>
      Relational.w27MarkovAccuracy(t(s, d)("events"))),
    // weekly cohort retention matrix (first-week cohorts, age cells)
    "w28_retention" -> ((s, d) => Relational.w28Retention(t(s, d)("events"))),
    // per-label centroid cosine vs the global centroid (embedding
    // drift screen; fixed-point component sums)
    "sim_centroid_drift" -> ((s, d) =>
      SimilarityOps.centroidDrift(t(s, d)("embeddings"))),
    // label coherence: per-label nearest-centroid self-classification
    "sim_nearest_centroid" -> ((s, d) =>
      SimilarityOps.nearestCentroid(t(s, d)("embeddings"))),
    // cluster-quality census: centroid silhouette per label
    "sim_silhouette" -> ((s, d) =>
      SimilarityOps.silhouette(t(s, d)("embeddings"))),
    // long-run event mix implied by the transition matrix (power iter)
    "a47_markov_stationary" -> ((s, d) =>
      Relational.a47MarkovStationary(s, t(s, d)("events"))),
    // value vs hour-of-day correlation, day-of-week partialled out
    "a48_partial_corr" -> ((s, d) =>
      Relational.a48PartialCorr(t(s, d)("events"))),
    // single-event-session share + events/session over 30-min gaps
    "w33_bounce_rate" -> ((s, d) =>
      Relational.w33BounceRate(t(s, d)("events"))),
    "w12_transitions" -> ((s, d) =>
      Relational.eventTransitions(t(s, d)("events"))),
    // interval-overlap self-join: concurrent same-part shipments from
    // distinct suppliers, equi-key blocked on l_partkey
    "j7_interval_overlap" -> ((s, d) =>
      Relational.j7IntervalOverlap(t(s, d)("lineitem"))),
    // sentence-granularity dedup: drop sentences shared by >= 3 docs,
    // reassemble the survivors in order
    "text_boilerplate" -> ((s, d) =>
      TextOps.removeBoilerplate(t(s, d)("documents"), 3L)),
    "stream_session_native" -> ((s, d) => streamSessionNativeQuery(s, d)),
    // windowed funnel through evicting per-user state (sentinel-closed)
    "stream_funnel" -> ((s, d) => streamFunnelQuery(s, d)),
    // dataset-assembly: deterministic hash splits, context-window
    // chunking, fixed-budget sequence packing
    "pipe_split_assign" -> ((s, d) => PipelineOps.splitAssign(t(s, d)("documents"))),
    // contamination-safe split: hash the near-dup component root so a
    // test doc's near-twin can never land in train
    // how much pair mass straddles a split boundary, per scheme: the
    // naive hash split leaks, the component-hashed split audits to 0
    "pipe_split_leakage_audit" -> ((s, d) => PipelineOps.splitLeakageAudit(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    "pipe_split_leakage_safe" -> ((s, d) => PipelineOps.splitLeakageSafe(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // leave-one-out smoothed mean encoding (the label-leak-free
    // categorical feature)
    "pipe_target_encode" -> ((s, d) =>
      PipelineOps.targetEncodeLoo(t(s, d)("events"))),
    // reproducible training-order shuffle (affine hash → shard + pos)
    "pipe_shuffle_shards" -> ((s, d) =>
      PipelineOps.shardShuffle(t(s, d)("documents"))),
    // Morton-interleaved (user, time-of-day) layout key + file bucket
    "pipe_zorder_layout" -> ((s, d) =>
      PipelineOps.zorderEvents(t(s, d)("events"))),
    // quality-quartile curriculum phases (broadcast thresholds)
    "pipe_curriculum" -> ((s, d) =>
      PipelineOps.curriculumPhases(t(s, d)("documents"))),
    "pipe_chunk_tokens" -> ((s, d) =>
      PipelineOps.chunkTokens(t(s, d)("documents"), 50)
        .withColumn("chunk_id", col("chunk_id").cast("long"))),
    "pipe_pack_budget" -> ((s, d) =>
      PipelineOps.packByBudget(t(s, d)("documents"), 2000L)),
    // how much of the packed budget is actually filled, per source
    "pipe_pack_efficiency" -> ((s, d) =>
      PipelineOps.packEfficiency(t(s, d)("documents"), 2000L)),
    // which provider is OOD under the corpus bigram LM, per source
    "text_source_perplexity" -> ((s, d) =>
      TextOps.sourcePerplexity(t(s, d)("documents"))),
    // flagship composition: quality gates + language-ID + exact-dedup
    // survivorship fused into a single-shuffle clean
    "pipe_clean_corpus" -> ((s, d) => PipelineOps.cleanCorpus(t(s, d)("documents"))),
    // one-query corpus release card: volume, dup mass, median length,
    // language shares as (metric, value) rows
    "pipe_dataset_card" -> ((s, d) => PipelineOps.datasetCard(t(s, d)("documents"))),
    // order-invariant content digest per source (dataset versioning)
    "pipe_dataset_hash" -> ((s, d) => PipelineOps.datasetHash(t(s, d)("documents"))),
    // diagonal-variance effective dimensionality of the embedding space
    "sim_participation_ratio" -> ((s, d) =>
      SimilarityOps.participationRatio(t(s, d)("embeddings"))),
    // k-occurrence histogram of the LSH kNN graph (hubness pathology)
    "sim_hubness" -> ((s, d) =>
      SimilarityOps.hubnessCensus(t(s, d)("embeddings"))),
    // deterministic source-mixture interleave: src0 at 2x, src1 at 4x
    // the base rate — the data-mixing order of a training stream
    "pipe_interleave" -> ((s, d) => PipelineOps.interleaveBySource(
      t(s, d)("documents"), Map("src0" -> 2.0, "src1" -> 4.0))),
    // epoch-style upsampling: src0 documents repeat 3x per pass
    "pipe_repeat_upsample" -> ((s, d) => PipelineOps.repeatUpsample(
      t(s, d)("documents"), Map("src0" -> 3, "src2" -> 2))),
    // per-domain cap: the 50 longest docs per source (integer-ordered ranks)
    "pipe_cap_per_source" -> ((s, d) =>
      PipelineOps.capPerSource(t(s, d)("documents"), 50)),
    // relative quality gate: keep docs at/above their own source's
    // p25 token count (binary-fraction q → IEEE-exact threshold)
    "pipe_quantile_filter" -> ((s, d) =>
      PipelineOps.qualityQuantileFilter(t(s, d)("documents"), 0.25)),
    // benchmark decontamination: corpus docs sharing >= 5 trigram
    // shingles with the eval slice (doc_id % 37 == 0)
    "pipe_decontaminate" -> ((s, d) => {
      val docs = t(s, d)("documents")
      PipelineOps.decontaminate(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0))
    }),
    // stream-static join: arriving docs looked up against the static
    // fingerprint index (stateless streaming, broadcast static side)
    "stream_index_lookup" -> ((s, d) => streamIndexLookupQuery(s, d)),
    // ingest-time fuzzy-ER gate: streamed docs blocked + Jaro-Winkler-
    // verified against the static corpus index (batch pair oracle)
    "stream_er_pairs" -> ((s, d) => streamErPairsQuery(s, d)),
    // the full dataset build in one declarative pipeline: clean →
    // decontaminate → split → pack (eval slice = doc_id % 37 == 0)
    "pipe_build_corpus" -> ((s, d) => {
      val docs = t(s, d)("documents")
      PipelineOps.buildCorpus(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0))
    }),
    // does order volume lead revenue? Pearson r at day lags 0..7
    "w30_xcorr" -> ((s, d) => Relational.w30Xcorr(s, t(s, d)("orders"))),
    // additive inequality decomposition of event value over types
    "a49_theil" -> ((s, d) => Relational.a49Theil(t(s, d)("events"))),
    // Wald-Wolfowitz randomness test on the daily-revenue series
    "a50_runs_test" -> ((s, d) => Relational.a50RunsTest(t(s, d)("orders"))),
    // token-budget epoch allocation per source (repetition plan)
    "pipe_epoch_plan" -> ((s, d) => PipelineOps.epochPlan(t(s, d)("documents"))),
    // Hill-number diversity triple (richness / exp-H / inv-Simpson)
    "text_diversity" -> ((s, d) =>
      TextOps.diversityProfile(t(s, d)("documents"))),
    // repetition-aware multiset Jaccard over the verified pair graph
    "dedup_weighted_jaccard" -> ((s, d) => DedupOps.weightedJaccard(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // per-stage marginal catch of the exact→simhash→minhash cascade
    "dedup_cascade" -> ((s, d) => DedupOps.cascadePolicy(
      t(s, d)("documents"),
      DedupGraph.simhashPairs(s, d),
      DedupGraph.minhashPairs(s, d))),
    // recall cost of keeping only the 16 highest-variance dims
    "sim_dim_prune" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.dimPruneRecall(e, e.filter(col("vec_id") % 25 === 0))
    }),
    // pieces-per-word and chars-per-piece tokenizer economics
    "text_fertility" -> ((s, d) =>
      TextOps.tokenizerFertility(t(s, d)("documents"))),
    // ARCH-effect probe: returns vs squared-returns lag-1 autocorr
    "w34_volatility" -> ((s, d) =>
      Relational.w34Volatility(t(s, d)("orders"))),
    // watermark-sizing lateness bands off a hash-shuffled replay
    "w35_late_arrival" -> ((s, d) =>
      Relational.w35LateArrival(t(s, d)("events"))),
    // leading/trailing silence trim census over the real PCM decode
    "mm_audio_silence" -> ((s, d) => Multimodal.audioSilence(media(s, d, Media.Wav))),
    // radius-1/2/3 reachability balls from modulus-sampled seeds
    "graph_bfs_ball" -> ((s, d) =>
      GraphOps.bfsBall(BasketGraph.pairs(s, d))),
    // per-subspace PQ codebook utilization (effective codes)
    "sim_pq_code_util" -> ((s, d) =>
      SimilarityOps.pqCodeUtil(t(s, d)("embeddings"))),
    // lowest-id vs longest-doc survivor disagreement census
    "pipe_survivor_policy" -> ((s, d) => PipelineOps.survivorPolicySensitivity(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // Chapman two-capture estimate of the unseen near-dup pair mass
    "dedup_capture_recapture" -> ((s, d) => DedupOps.captureRecapture(
      DedupGraph.minhashPairs(s, d), DedupGraph.simhashPairs(s, d))),
    // marginal novel-shingle rate per collection batch
    "pipe_novelty_curve" -> ((s, d) =>
      PipelineOps.noveltyCurve(t(s, d)("documents"))),
    // cumulative value per user by cohort age (the LTV curve)
    "w36_cohort_ltv" -> ((s, d) =>
      Relational.w36CohortLtv(t(s, d)("events"))),
    // Lo-MacKinlay random-walk test on daily log revenue
    "a53_variance_ratio" -> ((s, d) =>
      Relational.a53VarianceRatio(t(s, d)("orders"))),
    // 1-bit minhash estimator accuracy on the verified pair list
    "dedup_bbit" -> ((s, d) => DedupOps.bbitMinhashCalibration(
      t(s, d)("documents"), DedupGraph.minhashPairs(s, d))),
    // digit-normalized template-sentence share per source
    "text_templates" -> ((s, d) =>
      TextOps.templateDetect(t(s, d)("documents"))),
    // x-gradient sharpness census over the real PNG decode
    "mm_gradient_energy" -> ((s, d) =>
      Multimodal.gradientEnergy(media(s, d, Media.Png))),
    // period-7 Goertzel amplitude of demeaned daily revenue
    "a54_spectral_peak" -> ((s, d) =>
      Relational.a54SpectralPeak(t(s, d)("orders"))),
    // H(next | current) vs H(next): the next-action predictability gap
    "a55_entropy_rate" -> ((s, d) =>
      Relational.a55EntropyRate(t(s, d)("events"))),
    // 28-day rolling count-revenue Pearson (regime-shift screen)
    "w37_rolling_corr" -> ((s, d) =>
      Relational.w37RollingCorr(t(s, d)("orders"))),
    // LSH recall@{1,5,10} vs brute force off one max-k ranking
    "sim_recall_curve" -> ((s, d) => {
      val e = t(s, d)("embeddings")
      SimilarityOps.recallCurve(e, e.filter(col("vec_id") % 25 === 0))
    }),
    // deterministic 1-in-5 reviewer sample with all measures attached
    "dedup_review_queue" -> ((s, d) => DedupOps.reviewQueue(
      t(s, d)("documents"), DedupGraph.minhashPairs(s, d))),
    // TPC-H Q9 shape: margin by supplier nation x order year
    "q9_nation_margin" -> ((s, d) => Relational.q9NationMargin(
      t(s, d)("nation"), t(s, d)("supplier"), t(s, d)("part"),
      t(s, d)("orders"), t(s, d)("lineitem"))),
    // chained-merge depth census over the near-dup components
    "dedup_component_ecc" -> ((s, d) => GraphOps.componentEccentricity(
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // straggler predictor: token-mass balance across training shards
    "pipe_shard_balance" -> ((s, d) =>
      PipelineOps.shardBalance(t(s, d)("documents"))),
    // TPC-H Q2 shape: observed min-unit-cost supplier per part
    "q2_min_cost_supplier" -> ((s, d) => Relational.q2MinCostSupplier(
      t(s, d)("region"), t(s, d)("nation"), t(s, d)("supplier"),
      t(s, d)("part"), t(s, d)("lineitem"))),
    // TPC-H Q11 shape: parts above 2x the uniform value share
    "q11_important_share" -> ((s, d) => Relational.q11ImportantShare(
      t(s, d)("nation"), t(s, d)("supplier"), t(s, d)("lineitem"),
      t(s, d)("region"))),
    // TPC-H Q16 shape: distinct shipping suppliers per (brand, size)
    "q16_supplier_variety" -> ((s, d) => Relational.q16SupplierVariety(
      t(s, d)("part"), t(s, d)("lineitem"))),
    // TPC-H Q20 shape: suppliers holding >50% of any part's quantity
    "q20_dominant_supplier" -> ((s, d) => Relational.q20DominantSupplier(
      t(s, d)("nation"), t(s, d)("supplier"), t(s, d)("lineitem"))),
    // skew/kurtosis/JB normality screen on daily revenue
    "a57_jarque_bera" -> ((s, d) =>
      Relational.a57JarqueBera(t(s, d)("orders"))),
    // Box-Jenkins order table: ACF + PACF at lags 1-3
    "a58_pacf" -> ((s, d) => Relational.a58Pacf(t(s, d)("orders"))),
    // ER precision knob dose-response off the cached JW pair list
    "er_threshold_sweep" -> ((s, d) =>
      DedupOps.erThresholdSweep(DedupGraph.jwPairs(s, d))),
    // truncation-waste pricing per candidate context window
    "pipe_context_census" -> ((s, d) =>
      PipelineOps.contextWindowCensus(t(s, d)("documents"))),
    // macro-redundancy: cosine between source unigram profiles
    "text_source_similarity" -> ((s, d) =>
      TextOps.sourceSimilarity(t(s, d)("documents"))),
    // priced quality-filter tradeoff: docs/tokens kept per cutoff
    "pipe_quality_sweep" -> ((s, d) =>
      PipelineOps.qualitySweep(t(s, d)("documents"))),
    // Poisson overdispersion index of daily arrivals per weekday
    "a59_dispersion" -> ((s, d) =>
      Relational.a59Dispersion(t(s, d)("orders"))),
    // signature-width vs estimate-accuracy table on verified pairs
    "dedup_k_sensitivity" -> ((s, d) => DedupOps.minhashKSensitivity(
      t(s, d)("documents"), DedupGraph.minhashPairs(s, d))),
    // does one raw coordinate leak the label? one-way ANOVA F
    "sim_dim_leakage" -> ((s, d) =>
      SimilarityOps.dimLabelAnova(t(s, d)("embeddings"))),
    // which revenue deciles carry the book (Lorenz curve points)
    "a60_lorenz" -> ((s, d) => Relational.a60Lorenz(t(s, d)("orders"))),
    // direction of the id-policy survivor bias (length census)
    "pipe_survivor_bias" -> ((s, d) => PipelineOps.survivorBias(
      t(s, d)("documents"),
      DedupGraph.minhashPairs(s, d).select("doc_a", "doc_b"))),
    // staging-integrity manifest: REAL staged file counts per
    // modality vs the doc_id % 3 routing rule the oracle predicts
    "mm_manifest" -> ((s, d) =>
      Seq(Media.Mp4, Media.Png, Media.Wav).map { m =>
        media(s, d, m).agg(count(lit(1)).as("n_files"))
          .select(lit(m.ext).as("modality"), col("n_files"))
      }.reduce(_ unionAll _).orderBy("modality")),
  )

  /** K2 end-to-end: two Completed batches (odd/even split of `part`)
    * plus a NotProcessed chunking artifact, filtered by
    * `BulkManifest.loadableBatches` (F4) and streamed into
    * `BulkLoad.refresh` over embedded Derby (truncate + load + C4
    * `__sync` registration at the landed modstamp, in one transaction),
    * verified by reading the destination's `part` columns back over
    * JDBC.
    */
  private def k2BulkLoadQuery(s: SparkSession, d: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.TimestampType
    import graft.sources.salesforce.{BatchInfo, BulkManifest}
    val url = "jdbc:derby:memory:graftk2" +
      d.replaceAll("[^a-zA-Z0-9]", "_") + ";create=true"
    val part = t(s, d)("part").select("p_partkey", "p_name", "p_retailprice")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        // idempotent re-run (bench executes the query several times)
        try st.execute("""DROP TABLE "k2part"""")
        catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
        st.execute("""CREATE TABLE "k2part" (
          |"p_partkey" BIGINT, "p_name" VARCHAR(128), "p_retailprice" DOUBLE,
          |"modstamp" TIMESTAMP
          |)""".stripMargin)
      } finally st.close()
      val state = new graft.sync.SyncStateStore(conn)
      state.install()
      val modstamp = java.sql.Timestamp.valueOf("2024-03-01 09:30:00")
      val batches = BulkManifest.loadableBatches(Seq(
        BatchInfo("b-orig", BulkManifest.NotProcessed),
        BatchInfo("b-odd", BulkManifest.Completed),
        BatchInfo("b-even", BulkManifest.Completed)))
      graft.sync.BulkLoad.refresh(
        graft.sync.SyncConfig("k2part", "p_partkey", "modstamp"),
        conn, new graft.sink.DerbyDialect, state,
        part.schema.add("modstamp", TimestampType),
        batches.iterator.flatMap(b => part.filter(
            col("p_partkey") % 2 === (if (b.id == "b-odd") 1 else 0))
          .toLocalIterator().asScala.map(r => Row.fromSeq(r.toSeq :+ modstamp))))
    } finally conn.close()
    s.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "\"k2part\"")
      .load()
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")
  }

  /** Streaming KMV driver query: AvailableNow replay of the events
    * table into the fixed-size set sketch; the final state gets the
    * same rank/estimate restatement as batch `a12_kmv_rollup` — and
    * shares its partitioning-agnostic oracle (micro-batch boundaries
    * are just another partitioning min-k is exact under).
    */
  private def streamKmvQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "events", "events")
      val sk = graft.streaming.StreamingSync.kmvDistinct(stream, 8)
      val res = runToMemorySink(s, sk, "stream_kmv", "complete")
      val k = 8
      val twoP52 = 4503599627370496.0 // 2^52
      res
        .withColumn("est_distinct",
          when(size(col("sk")) < k, size(col("sk")).cast("long"))
            .otherwise(floor(lit((k - 1) * twoP52)
              / element_at(col("sk"), k).getField("id")).cast("long")))
        .select(col("event_type"), posexplode(col("sk")), col("est_distinct"))
        .select(col("event_type"), (col("pos") + 1).as("rnk"),
          col("col.id").as("h"), col("est_distinct"))
        .orderBy("event_type", "rnk")
    }

  /** A real streaming run, not a batch restatement: the events parquet
    * is consumed by the file SOURCE (so the plan is a StreamingRelation
    * with micro-batch planning), aggregated with an event-time watermark
    * and 1h/30m sliding windows, and drained to completion with
    * Trigger.AvailableNow. Complete output mode keeps every window in
    * the memory sink, making the result equal to the batch aggregation
    * the DuckDB oracle computes. At scale the same pipeline pointed at
    * a growing directory is the production incremental aggregation; the
    * state store holds only open windows once append mode + watermark
    * expiry apply.
    */
  private def streamWindowedAggQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "events", "events")
      val agg = graft.streaming.StreamingSync
        .windowedCounts(stream, "1 hour", "30 minutes", "1 hour")
      runToMemorySink(s, agg, "stream_win_agg", "complete")
        .orderBy("window_start", "event_type")
    }

  /** Streaming quantile monitor: the per-group GK summary accumulates
    * across micro-batches in the state store; verification is the
    * [[Relational.a7ApproxQuantilesCheck]] rank gate re-aimed at the
    * stream's final sketch — the approx values are re-ranked against
    * the batch table and must sit within ±1/accuracy of their target
    * quantiles (constant-true oracle), which holds because the GK
    * error bound survives the micro-batch merge tree.
    */
  private def streamQuantileQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val accuracy = 1000
      val stream = replayStream(s, d, "events", "events")
      val agg = graft.streaming.StreamingSync.approxQuantiles(stream, accuracy)
      val sink = runToMemorySink(s, agg, "stream_quantile", "complete")
      val eps = 1.0 / accuracy
      def okFor(q: Double, v: String) =
        (sum(when(col("value") <= col(v), 1L).otherwise(0L)) >=
          (lit(q - eps) * count(lit(1)) - 1.0)) &&
        (sum(when(col("value") < col(v), 1L).otherwise(0L)) <=
          (lit(q + eps) * count(lit(1)) + 1.0))
      t(s, d)("events").select("event_type", "value")
        .join(broadcast(sink), "event_type")
        .groupBy("event_type")
        .agg(okFor(0.5, "p50_approx").as("p50_ok"),
          okFor(0.95, "p95_approx").as("p95_ok"))
        .orderBy("event_type")
    }

  /** Streaming drift monitor: the stream runs ONLY the stateful part
    * (tumbling 24 h window × type counts — watermarked, bounded
    * state); the entropy finalization is a narrow group-scale batch
    * pass over the memory sink via [[Relational.entropyOverCells]] —
    * the split that holds at 100 TB stream volume (per-window cell
    * counts are vocabulary-bounded).
    */
  private def streamEntropyQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "events", "events")
      val agg = graft.streaming.StreamingSync
        .windowedCounts(stream, "24 hours", "24 hours", "1 hour")
      val sink = runToMemorySink(s, agg, "stream_entropy", "complete")
      operators.Relational.entropyOverCells(
        sink.select(col("window_start"), col("event_type"), col("n_events")),
        groupCol = "window_start", countCol = "n_events")
    }

  /** Streaming drift monitor: the stream holds ONLY the bounded
    * stateful part (per-window value-bin counts — bin cardinality is
    * range-bounded, state evicts at the watermark); the PSI-vs-static-
    * baseline finalization is a group-scale batch pass over the memory
    * sink. Every day's histogram is compared against the full-corpus
    * baseline on the BASELINE's bin set (a day's bins are a subset by
    * construction), with the [[operators.Relational.a28Psi]] add-one
    * smoothing and round-12 decimal term sum.
    */
  private def streamDriftQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      import org.apache.spark.sql.types.DecimalType
      val stream = replayStream(s, d, "events", "events")
      val agg = graft.streaming.StreamingSync
        .windowedValueBins(stream, "24 hours", "1 hour")
      val sink = runToMemorySink(s, agg, "stream_drift", "complete")
      val base = t(s, d)("events")
        .groupBy(floor(col("value") / lit(10.0)).cast("long").as("bin"))
        .agg(count(lit(1)).as("cb"))
      val nb = base.agg(sum(col("cb")).as("n_b"), count(lit(1)).as("n_bins"))
      // aliases mint fresh attribute ids — the sink appears on both
      // sides of the day-grid join, and same-id references across a
      // self-join fail analysis
      val days = sink.select(col("window_start").as("ws")).distinct()
      val grid = days
        .crossJoin(broadcast(base.select(col("bin").as("bbin"), col("cb"))))
        .join(sink,
          col("ws") === col("window_start") && col("bbin") === col("bin"),
          "left")
        .select(col("ws").as("window_start"), col("bbin").as("bin"),
          col("cb"), coalesce(col("c"), lit(0L)).as("c"))
      val nw = grid.groupBy("window_start").agg(sum(col("c")).as("n_w"))
      val pa = (col("c") + 1).cast("double") /
        (col("n_w") + col("n_bins")).cast("double")
      val pb = (col("cb") + 1).cast("double") /
        (col("n_b") + col("n_bins")).cast("double")
      grid.join(nw, "window_start")
        .crossJoin(broadcast(nb)) // single-row totals
        .withColumn("term",
          round((pa - pb) * log(pa / pb), 12).cast(DecimalType(24, 14)))
        .groupBy("window_start")
        .agg(max(col("n_w")).as("n_events"),
          sum(col("term")).cast("double").as("psi"))
        .orderBy("window_start")
    }

  /** Streaming exact dedup driver query: the staged source directory
    * holds the events table PLUS a deterministic duplicate shard (every
    * 7th event re-delivered, as a poll-overlap would). A huge watermark
    * delay keeps all dedup state live for the bounded replay, so the
    * output is exactly the original table — which is the oracle.
    */
  private def streamDedupQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "dedup", "events", frames = Seq(
        Tables.rawEvents(s, s"$d/events.parquet").filter(col("event_id") % 7 === 0)))
      val deduped = graft.streaming.StreamingSync
        .dedupWithinWatermark(stream, "ts", "3650 days", Seq("event_id"))
      runToMemorySink(s, deduped, "stream_dedup_sink", "append")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }

  /** Stage `df` as one single parquet FILE at `dest` (the streaming
    * file source replays whole files as micro-batches): write to a
    * temp dir, move the single part file into place ATOMICALLY so a
    * crash mid-staging can never leave a partial file that a later
    * run's existence check would trust.
    */
  private def writeSingleFile(df: DataFrame, dest: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft_stage1")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part = try listing.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.findFirst().get()
    finally listing.close()
    Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp) // _SUCCESS/.crc leftovers must not accumulate in /tmp
  }

  /** [[queries]] narrowed by `SPARK_GRAFT_ONLY` (comma-separated query
    * subset for targeted iteration), parsed ONCE for Verify, Bench and
    * PlanProfile so the contract cannot drift: unknown names fail fast —
    * a typo must not run an empty set that looks like a clean pass.
    */
  def selectedQueries(): Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => queries
      case Some(names) =>
        val unknown = names.diff(queries.keySet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
        queries.filter { case (k, _) => names(k) }
    }

  /** Idempotent symlink staging for the stream-source dirs. The naive
    * `if (!Files.exists(link)) createSymbolicLink` guard FOLLOWS the
    * link: a dangling link from a prior run (its testdata target
    * deleted or moved) reads as "absent", and the create then throws
    * FileAlreadyExistsException forever. Probe the link itself
    * (NOFOLLOW) and delete a dangling one so a stale /tmp staging
    * self-heals.
    */
  private def ensureLink(link: java.nio.file.Path,
      target: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, LinkOption}
    if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) &&
        Files.isSymbolicLink(link) && !Files.exists(link))
      Files.delete(link) // dangling: re-point below
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
      Files.createSymbolicLink(link, target)
  }

  /** Stage a parquet `target` — a single FILE (the testdata shape) or
    * a DIRECTORY of part files — into a streaming source dir as flat
    * `<prefix>*.parquet` symlinks. A directory target must be linked
    * file-by-file: the streaming file source silently skips a
    * directory symlink. Part links keep the target's mtime (symlink
    * stat follows the link), so mtime-ordered staging (events before
    * sentinel) holds. Returns the number of files staged — the single
    * source for trigger sizing.
    */
  private def linkParquetFiles(srcDir: java.nio.file.Path, prefix: String,
      target: java.nio.file.Path): Int = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(target)) {
      // sweep prior generations first: a target re-staged with FEWER
      // parts would otherwise leave dangling high-index links that the
      // stream's directory listing still returns (FileNotFound
      // mid-replay) — only the mtime keying of SOME call sites hides
      // that today, and this helper must not depend on it
      val old = Files.list(srcDir)
      try old.iterator().asScala
        .filter(_.getFileName.toString.startsWith(s"${prefix}_part"))
        .toSeq.foreach(Files.delete)
      finally old.close()
      val listing = Files.list(target)
      val parts = try listing.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }.toSeq.sortBy(_.getFileName.toString)
      finally listing.close()
      parts.zipWithIndex.foreach { case (p, i) =>
        ensureLink(srcDir.resolve(
          f"${prefix}_part$i%05d.parquet"), p)
      }
      parts.size
    } else {
      ensureLink(srcDir.resolve(s"$prefix.parquet"), target)
      1
    }
  }

  /** The local scratch dir of query staging `tag` over sf dir `d`,
    * under the JVM's temp dir (`java.io.tmpdir`).
    */
  private def scratchDir(d: String, tag: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_" + d.replaceAll("[^a-zA-Z0-9]", "_")).getPath

  /** [[scratchDir]] keyed to its SOURCE file's mtime: when the testdata
    * is regenerated, the key changes and staging rebuilds from the new
    * data instead of silently serving stale artifacts (worse than stale
    * content, a cached file with an OLD mtime would invert the file
    * source's mtime-ordered micro-batching).
    */
  private def stagingTag(d: String, tag: String, sourceFile: String): String = {
    val m = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$d/$sourceFile")).toMillis
    val base = new java.io.File(scratchDir(d, tag) + "_m")
    val prefix = base.getName
    // GC stale generations while here: a sibling keyed to an older
    // source mtime can never be read again (its key cannot recur), so
    // /tmp must not accumulate one staging per testdata regeneration
    val stale = base.getParentFile.listFiles()
    if (stale != null) stale.foreach { f =>
      val n = f.getName
      // match "<prefix><digits>" and "<prefix><digits>.tmp" (in-flight
      // render dirs from an older generation), sparing the current gen
      val suffix = n.drop(prefix.length).stripSuffix(".tmp")
      if (n.startsWith(prefix) && n != s"$prefix$m" &&
          n != s"$prefix$m.tmp" &&
          suffix.nonEmpty && suffix.forall(_.isDigit))
        deleteTree(f.toPath)
    }
    s"$base$m"
  }

  /** Recursive delete; no-op when absent. */
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }

  /** Stateful streaming queries get a small shuffle fan-out for the
    * duration of the run: each stateful operator materializes one state
    * store PER shuffle partition PER micro-batch, so 32 partitions over
    * a bounded replay is pure fixed overhead (measured ~9 s across the
    * four streaming queries). Fresh checkpoints every invocation make
    * the narrowing safe; a production deployment sizes this to key
    * cardinality instead.
    *
    * 2 partitions (r14 sweep at sf0.1/32 cpus with the per-batch
    * durationMs breakdown that `PlanProfile` prints for stream queries,
    * same session back-to-back): the per-batch cost of the heavy
    * stateful queries is store-commit fixed overhead × partitions, not
    * parallel work — family sample totals 13.3 s at p=2 vs 15.6 at p=4,
    * 24.2 at p=8, 33.8 at p=16; p=1 loses the actual work's parallelism
    * (16.1 s). KB-scale state at bench SF is exactly the regime the
    * scaladoc above describes.
    */
  private def withStreamShuffle[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Drain a bounded streaming query into a memory sink and return the
    * sink table — the shared tail of every streaming driver query
    * (AvailableNow trigger, run to completion, read the sink back).
    */
  private def runToMemorySink(s: SparkSession, df: DataFrame,
      sink: String, mode: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(sink).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(sink)
  }

  /** Replay `table` of sf dir `d` as a file stream: the one staging
    * behind every `stream_*` query. The stream dir, keyed like
    * [[stagingTag]], holds the table's parquet files as links when
    * `linkTable`, plus `frames`, each materialized once as a single
    * file at a pinned mtime; the mtimes ascend after the links, and the
    * file source orders micro-batches by mtime. With `frameBatches`
    * the links are micro-batch 0 and each frame follows in a batch of
    * its own; without it the whole dir is one batch. An events replay
    * gets [[Tables.normalizeEventsTs]], as [[Tables.apply]] does.
    */
  private def replayStream(s: SparkSession, d: String, tag: String,
      table: String, linkTable: Boolean = true, frameBatches: Boolean = false,
      frames: => Seq[DataFrame] = Nil): DataFrame = {
    import java.nio.file.{Files, Paths}
    val source = s"$d/$table.parquet"
    val dir = Paths.get(stagingTag(d, s"replay_$tag", s"$table.parquet"))
    // completion-marked (the file source skips '_'-files): a crash
    // mid-staging must not leave a half-staged dir a later run trusts
    val staged = dir.resolve("_STAGED")
    if (!Files.exists(staged)) {
      deleteTree(dir)
      Files.createDirectories(dir)
      val fs = frames
      val now = System.currentTimeMillis()
      fs.zipWithIndex.foreach { case (df, i) =>
        val dest = dir.resolve(s"frame$i.parquet")
        writeSingleFile(df, dest)
        Files.setLastModifiedTime(dest, java.nio.file.attribute.FileTime
          .fromMillis(now - (fs.size - 1 - i) * 60000L))
      }
      Files.createFile(staged)
    }
    val links = if (linkTable) linkParquetFiles(dir, table, Paths.get(source)) else 0
    val schemaOf = if (linkTable) source else dir.resolve("frame0.parquet").toString
    val reader = s.readStream.schema((if (table == "events") Tables.rawEvents(s, schemaOf)
      else s.read.parquet(schemaOf)).schema)
    // "links, THEN each frame": every linked file must land in batch 0 —
    // a directory-shaped table's parts are not time-ordered, so one
    // file per batch would advance a watermark off the first part and
    // LATE-DROP older events still waiting in later parts
    val stream = (if (frameBatches) reader.option("maxFilesPerTrigger",
      math.max(links, 1).toString) else reader).parquet(dir.toString)
    if (table == "events") Tables.normalizeEventsTs(stream) else stream
  }

  /** One far-future (2100-01-01) event of user −1 — per entry of
    * `types` when given: multi-watermark queries filter by event_type
    * before their watermark operators, and each branch needs its own
    * far-future row. Replayed after the events, it pushes the event-
    * time watermark past every real session and window close, and the
    * trailing no-data batch flushes all engine state.
    */
  private def sentinelEvents(s: SparkSession, d: String,
      types: Seq[String] = Nil): DataFrame = {
    val raw = Tables.rawEvents(s, s"$d/events.parquet")
    val one = raw.limit(1)
      .withColumn("user_id", lit(-1L).cast(raw.schema("user_id").dataType))
      .withColumn("ts", raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => lit(4102444800000000000L)
        case dt => lit("2100-01-01 00:00:00").cast(dt)
      })
    if (types.isEmpty) one
    else types.map(t => one.withColumn("event_type", lit(t))).reduce(_ unionAll _)
  }

  /** Real-decode multimodal metadata for ALL THREE modalities, one
    * row per doc in the unified [[Multimodal.mediaMetaSchema]]:
    * image-typed docs decode as PNGs with `javax.imageio`, audio-typed
    * docs as WAVs with `javax.sound.sampled`, video-typed docs as MP4
    * containers with the box walker. `n_bytes` is the
    * decode-verifiable size per modality (image w·h·3, audio PCM
    * frames·ch·2, video w·h·3·frames); width/height report 0 for
    * audio (not applicable, kept non-null for the unified schema).
    */
  private def mmDecodeMetaQuery(s: SparkSession, d: String): DataFrame = {
    val images = Multimodal.decodeImageMeta(media(s, d, Media.Png))
    val audio = Multimodal.decodeAudioMeta(media(s, d, Media.Wav))
      .select(col("doc_id"), col("pcm_bytes").as("n_bytes"),
        lit("audio").as("media_type"), lit(0).as("width"),
        lit(0).as("height"), col("n_frames").cast("int").as("n_frames"))
    val video = Multimodal.decodeVideoMeta(media(s, d, Media.Mp4))
      .select(col("doc_id"),
        (col("width").cast("long") * col("height") * 3L * col("n_frames"))
          .as("n_bytes"),
        lit("video").as("media_type"), col("width"), col("height"),
        col("n_frames"))
    images.unionByName(audio).unionByName(video).orderBy("doc_id")
  }

  /** The sf dir's staged `m` files as (doc_id, content) rows, rendered
    * once per documents generation: the files materialize doc_ids, so
    * regenerated documents must re-render, not reuse a stale staging.
    */
  private def media(s: SparkSession, d: String, m: Media): DataFrame =
    Multimodal.staged(s, t(s, d)("documents"),
      stagingTag(d, m.ext, "documents.parquet"), m)

  /** Stateless stream-static join driven to completion: the documents
    * table replayed as a stream, each arriving doc fingerprinted and
    * looked up in the STATIC fingerprint index of the same corpus
    * (every doc hits at least itself; exact dups hit their twins). The
    * oracle is the batch fingerprint self-join.
    */
  private def streamIndexLookupQuery(s: SparkSession, d: String): DataFrame = {
    val index = t(s, d)("documents").select(
      md5(expr("array_join(regexp_extract_all(lower(text), '[a-z0-9]+', 0), ' ')"))
        .as("fp"),
      col("doc_id").as("index_id"))
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "documents", "documents")
      val hits = graft.streaming.StreamingSync.streamIndexLookup(stream, index)
      runToMemorySink(s, hits, "stream_idx_sink", "append")
        .orderBy("doc_id", "index_id")
    }
  }

  /** Stateless streaming ER gate driven to completion: the documents
    * table replayed as a stream, each arriving doc blocked and
    * Jaro-Winkler-verified against the STATIC corpus index. The
    * `index_id < doc_id` guard makes the full replay emit exactly the
    * batch jaroWinklerPairs set, so the batch oracle gates it.
    */
  private def streamErPairsQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "documents", "documents")
      val pairs = graft.streaming.StreamingSync
        .streamErPairs(stream, t(s, d)("documents"))
      runToMemorySink(s, pairs, "stream_er_sink", "append")
        .orderBy("doc_a", "doc_b")
    }

  /** Stream-stream interval self-join driven to completion: clicks ⋈
    * purchases per user within 30 minutes, both sides watermarked so
    * join state is evictable. AvailableNow + append-mode memory sink =
    * exactly the batch join the oracle states.
    */
  private def streamJoinQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "events", "events")
      val joined = graft.streaming.StreamingSync
        .clickPurchaseJoin(stream, maxLagSeconds = 1800L)
      runToMemorySink(s, joined, "stream_join_sink", "append")
        .orderBy("click_id", "purchase_id")
    }

  /** Keyed-state sessionization driven to completion: the
    * mapGroupsWithState state machine (gap 30 min, micro-second session
    * bounds) over the event stream; update-mode memory sink. The oracle
    * is the batch gaps-and-islands restatement.
    */
  private def streamSessionQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "events", "events")
      val sessions = graft.streaming.StreamingSync
        .sessionize(s, stream, gapSeconds = 1800L)
      runToMemorySink(s, sessions, "stream_session_sink", "update")
        .orderBy("user_id", "session_start")
    }

  /** Stream-stream LEFT OUTER join under the oracle gate: matched
    * click→purchase pairs emit immediately; a click with no in-window
    * purchase emits null-padded only once the (min-of-both-sides)
    * watermark proves no match can arrive — which the sentinel batch
    * (one far-future click AND purchase, so BOTH branch watermarks
    * advance) forces for every real click. Oracle = the batch LEFT
    * JOIN restatement.
    */
  private def streamJoinOuterQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val types = Seq("click", "purchase")
      val stream = replayStream(s, d, "sentinel_click_purchase", "events",
        frameBatches = true, frames = Seq(sentinelEvents(s, d, types)))
      val joined = graft.streaming.StreamingSync
        .clickPurchaseJoin(stream, maxLagSeconds = 1800L,
          watermarkDelay = "2 hours", joinType = "left_outer")
      runToMemorySink(s, joined, "stream_join_outer_sink", "append")
        .filter(col("user_id") =!= -1L)
        .orderBy("click_id", "purchase_id")
    }

  /** The CDC merge LOOP as a stream, under the oracle gate: the base
    * snapshot arrives as micro-batch 1 (bootstrap merge into empty),
    * the delta as micro-batch 2 (upsert + soft-delete), through
    * [[graft.streaming.StreamingSync.mergeStream]]'s foreachBatch sink
    * with its versioned-snapshot state. Base/delta are the SAME
    * deterministic orders-derived frames as j1_merge_upsert, so the
    * final snapshot must hash-match the j1 oracle. State + checkpoint
    * reset per invocation for a clean two-batch replay.
    */
  private def streamCdcMergeQuery(s: SparkSession, d: String): DataFrame = {
    val cols = OrderCols.map(col) :+ col("is_deleted")
    // base batch, THEN delta batch
    val delta = replayStream(s, d, "cdc", "orders", linkTable = false,
      frameBatches = true, frames = Seq(
        baseSnapshot(s, d).withColumn("is_deleted", lit(false)).select(cols: _*),
        deltaBatch(s, d, 2, 1.1, 1).select(cols: _*)))
    val stateDir = freshStateDir(d, "stream_cdc")
    withStreamShuffle(s) {
      val q = graft.streaming.StreamingSync.mergeStream(delta,
        s"$stateDir/state", "o_orderkey", "o_orderdate",
        Some("is_deleted"), Some(s"$stateDir/ckpt"))
      try q.processAllAvailable() finally q.stop()
    }
    graft.streaming.StreamingSync.currentState(s, s"$stateDir/state").get
      .orderBy("o_orderkey")
  }

  /** Streaming MV maintenance under the oracle gate: the events table
    * replayed as three chronological micro-batches (the middle cut
    * falls inside a day, so a group is PROVABLY split across batches),
    * each batch merged into the versioned group-scale snapshot; the
    * oracle is the full batch recompute the final snapshot must equal
    * bit-for-bit (decimal addition is associative — any slicing
    * converges).
    */
  private def streamMvMaintainQuery(s: SparkSession, d: String): DataFrame = {
    // mid-day cuts: day 2024-01-11 (and -21) straddles two batches
    val stream = replayStream(s, d, "mv", "events", linkTable = false,
      frameBatches = true, frames = {
        val ev = t(s, d)("events")
        Seq(ev.filter(col("ts") < "2024-01-11 12:00:00"),
          ev.filter(col("ts") >= "2024-01-11 12:00:00" &&
            col("ts") < "2024-01-21 12:00:00"),
          ev.filter(col("ts") >= "2024-01-21 12:00:00"))
      })
    val stateDir = freshStateDir(d, "stream_mv")
    withStreamShuffle(s) {
      val q = graft.streaming.StreamingSync.mvMaintainStream(
        stream, s"$stateDir/state", Some(s"$stateDir/ckpt"))
      try q.processAllAvailable() finally q.stop()
    }
    MergeOps.mvFinalize(
      graft.streaming.StreamingSync.currentState(s, s"$stateDir/state").get)
  }

  /** An emptied [[scratchDir]] for a replay's snapshot state and
    * checkpoint: every run starts from no state, the replay is the test.
    */
  private def freshStateDir(d: String, tag: String): String = {
    val dir = scratchDir(d, tag)
    deleteTree(java.nio.file.Paths.get(dir))
    dir
  }

  /** The production sessionizer ([[graft.streaming.StreamingSync
    * .sessionizeEvicting]]) under the oracle gate. Staged sentinel
    * replay (trigger sized to the event-file count): the whole events
    * table is micro-batch 1 (watermark still at epoch — nothing
    * closes), then the SENTINEL file (one far-future event from
    * user −1) is micro-batch 2
    * and pushes the event-time watermark past every real session's
    * `end + gap`; the trailing no-data batch fires the EventTimeTimeout
    * for every remaining key, so each real session emits EXACTLY ONCE
    * through the state-evicting path. The sentinel's own session stays
    * open (delay > gap ⇒ watermark never reaches it) and is filtered
    * from the result. Oracle = the batch gaps-and-islands restatement
    * in milliseconds, real users only.
    */
  private def streamSessionEvictQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "sentinel", "events",
        frameBatches = true, frames = Seq(sentinelEvents(s, d)))
      val sessions = graft.streaming.StreamingSync
        .sessionizeEvicting(s, stream, gapSeconds = 1800L,
          watermarkDelay = "2 hours")
      runToMemorySink(s, sessions, "stream_sessevict_sink", "append")
        .filter(col("user_id") =!= -1L)
        .orderBy("user_id", "session_start_ms")
    }

  /** Streaming windowed heavy hitters under the sentinel harness: the
    * bounded [[graft.functions.TopKAgg]] aggregate inside tumbling
    * event-time windows, append mode — each window's ranked set emits
    * exactly once when the watermark closes it, and window state
    * (k pairs per (window, type) group, never the window's rows)
    * evicts. The sentinel's far-future row lands in its own window,
    * filtered by window_start; the oracle is the batch
    * time_bucket + ROW_NUMBER restatement.
    */
  private def streamTopKQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "sentinel", "events",
        frameBatches = true, frames = Seq(sentinelEvents(s, d)))
      val out = graft.streaming.StreamingSync
        .windowedTopK(stream, "1 hour", "1 hour", 3)
      runToMemorySink(s, out, "stream_topk_sink", "append")
        .filter(col("window_start") < lit("2099-01-01").cast("timestamp"))
        .orderBy("window_start", "event_type", "rnk")
    }

  /** The streaming windowed funnel under the sentinel harness: the
    * sentinel batch pushes the watermark past every real user's
    * anchor + horizon + lateness, so each user's funnel closes, emits
    * once through the state-evicting path, and the oracle is the
    * batch windowed-funnel restatement (steps strictly ordered inside
    * [first view, first view + 3 days]).
    */
  private def streamFunnelQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "sentinel", "events",
        frameBatches = true, frames = Seq(sentinelEvents(s, d)))
      val out = graft.streaming.StreamingSync.funnelEvicting(s, stream,
        Seq("view", "click", "purchase"), horizonMs = 3L * 24 * 3600 * 1000,
        watermarkDelay = "2 hours", allowedLatenessMs = 2L * 3600 * 1000)
      runToMemorySink(s, out, "stream_funnel_sink", "append")
        .filter(col("user_id") =!= -1L)
        .orderBy("user_id")
    }

  /** Streaming anomaly flags under the sentinel harness: the real
    * events arrive in micro-batch 1 (the fold sorts them in
    * (ts, event_id) order per user), the sentinel batch advances the
    * watermark; emit is immediate per event (enrichment, not a
    * windowed aggregate), so the oracle is the batch running-window
    * restatement of the same all-integer 3σ test.
    */
  private def streamAnomalyQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "sentinel", "events",
        frameBatches = true, frames = Seq(sentinelEvents(s, d)))
      val out = graft.streaming.StreamingSync
        .anomalyFlags(s, stream, watermarkDelay = "2 hours")
      runToMemorySink(s, out, "stream_anomaly_sink", "append")
        .filter(col("user_id") =!= -1L)
        .orderBy("user_id", "event_id")
    }

  /** The NATIVE session_window sessionizer under the same sentinel
    * harness: watermark + append mode close and emit each session
    * window exactly once with engine-managed state eviction.
    */
  private def streamSessionNativeQuery(s: SparkSession, d: String): DataFrame =
    withStreamShuffle(s) {
      val stream = replayStream(s, d, "sentinel", "events",
        frameBatches = true, frames = Seq(sentinelEvents(s, d)))
      val sessions = graft.streaming.StreamingSync
        .sessionizeNative(stream, "30 minutes", Some("2 hours"))
      runToMemorySink(s, sessions, "stream_sessnative_sink", "append")
        .filter(col("user_id") =!= -1L)
        .orderBy("user_id", "session_start")
    }

  // ---- CDC merge pipelines (base/delta derived deterministically from
  // ---- `orders` so the DuckDB oracle can reconstruct them).

  private val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate")

  private def baseSnapshot(s: SparkSession, d: String): DataFrame =
    t(s, d)("orders").filter(col("o_orderkey") % 4 =!= 0)
      .select(OrderCols.map(col): _*)

  /** A delta batch: updated price, advanced CDC timestamp, soft-delete
    * flag on every 20th key.
    */
  private def deltaBatch(s: SparkSession, d: String, everyN: Int,
      priceFactor: Double, plusDays: Int): DataFrame =
    t(s, d)("orders").filter(col("o_orderkey") % everyN === 0)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") * priceFactor).as("o_totalprice"),
        (col("o_orderdate") + expr(s"INTERVAL $plusDays DAY")).as("o_orderdate"),
        (col("o_orderkey") % 20 === 0).as("is_deleted"))

  // 2x-audit note (`j1_merge_upsert`, ~0.16 s oracle, ~0.62 s
  // fresh-artifact): one key-partitioned exchange feeding the
  // last-wins dedup + merge window — the minimal CDC-merge shape; the
  // residual is the suite's 0.4-0.7 s fixed job floor.
  private def mergeQuery(s: SparkSession, d: String): DataFrame =
    MergeOps.merge(baseSnapshot(s, d), deltaBatch(s, d, 2, 1.1, 1),
        "o_orderkey", "o_orderdate", Some("is_deleted"))
      .orderBy("o_orderkey")

  private def antiDeleteQuery(s: SparkSession, d: String): DataFrame = {
    val deletes = t(s, d)("orders")
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey").as("del_key"))
    baseSnapshot(s, d)
      .join(deletes, col("o_orderkey") === col("del_key"), "left_anti")
      .orderBy("o_orderkey")
  }

  private def dedupLastWinsQuery(s: SparkSession, d: String): DataFrame =
    MergeOps.dedupLastWins(t(s, d)("events"), "user_id", "ts", Seq("event_id"))
      .select("user_id", "event_id", "event_type", "ts")
      .orderBy("user_id")

  private def incremental2StepQuery(s: SparkSession, d: String): DataFrame = {
    val base = baseSnapshot(s, d)
    val m1 = MergeOps.merge(base, deltaBatch(s, d, 2, 1.05, 1).drop("is_deleted"),
      "o_orderkey", "o_orderdate")
    MergeOps.merge(m1, deltaBatch(s, d, 3, 1.1, 2).drop("is_deleted"),
        "o_orderkey", "o_orderdate")
      .orderBy("o_orderkey")
  }

  /** CDC drift check between `orders` and a deterministically-perturbed
    * "synced" copy: one chunk family gets a content change (+1.0 on
    * totalprice), one loses rows (delete), one gains rows that the
    * source never had (orderkey + 10M) — exercising all three drift
    * statuses. Doubles are decimal-cast inside the hashed string so
    * both engines render identical text (see MergeOps.chunkDigests).
    */
  private def driftCheckQuery(s: SparkSession, d: String): DataFrame = {
    val src = t(s, d)("orders")
    val tgt = src
      // row-level deletes (count drift) + one WHOLE missing chunk (7)
      .filter(!(col("o_orderkey") % 700 === 5) &&
        !(expr("o_orderkey div 100") === 7))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 500 === 3, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .unionByName(src.filter(col("o_orderkey") % 900 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val hashCols = Seq(col("o_orderkey").cast("string"),
      col("o_custkey").cast("string"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(15,2)").cast("string"))
    MergeOps.driftCheck(src, tgt, "o_orderkey", hashCols, 100L)
  }

  private def zeroDeltaQuery(s: SparkSession, d: String): DataFrame =
    MergeOps.mergeIfNonEmpty(
        baseSnapshot(s, d),
        deltaBatch(s, d, 2, 1.1, 1).filter(lit(false)),
        "o_orderkey", "o_orderdate", Some("is_deleted"))
      .orderBy("o_orderkey")

  // ---- DuckDB oracles -------------------------------------------------

  private val BaseCte =
    """base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
      |  FROM orders WHERE o_orderkey % 4 <> 0
      |)""".stripMargin

  private def deltaCte(name: String, everyN: Int, priceFactor: Double,
      plusDays: Int): String =
    s"""$name AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |         o_totalprice * $priceFactor AS o_totalprice,
       |         o_orderdate + INTERVAL $plusDays DAY AS o_orderdate,
       |         (o_orderkey % 20 = 0) AS is_deleted
       |  FROM orders WHERE o_orderkey % $everyN = 0
       |)""".stripMargin

  /** One unrolled PageRank power step (mirrors `GraphOps.pageRank`'s
    * loop body: fixed-point BIGINT ranks in 1e-15 units — floor
    * divisions and integer sums only, so the reduction is
    * order-independent and bit-exact across engines by construction).
    */
  private def pprStep(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT COALESCE(c.u, t.u) AS u,
       |    COALESCE(t.tele, 0) + (85 * COALESCE(c.s, 0)) // 100 AS r
       |  FROM (
       |    SELECT e.v AS u, CAST(sum(r.r // d.deg) AS BIGINT) AS s
       |    FROM edges e JOIN $prev r ON r.u = e.u JOIN deg d ON d.u = e.u
       |    GROUP BY e.v) c
       |  FULL OUTER JOIN tele t ON c.u = t.u)""".stripMargin

  private def prStep(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT e.v AS u,
       |    150000000000000 // (SELECT n FROM nv)
       |      + (85 * CAST(sum(r.r // d.deg) AS BIGINT)) // 100 AS r
       |  FROM edges e JOIN $prev r ON r.u = e.u JOIN deg d ON d.u = e.u
       |  GROUP BY e.v)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    "q5_broadcast_join" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "p1_projection" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey",
    "p2_drop_rule" ->
      """SELECT 'ord-' || o_orderkey AS durable_id, o_custkey, o_orderstatus
        |FROM orders ORDER BY durable_id""".stripMargin,
    "p3_struct_flatten" ->
      """SELECT c_custkey, c_name AS profile_name, c_nationkey AS profile_nation,
        |  c_mktsegment AS profile_segment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "f1_where" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 30 AND l_discount <= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "f2_watermark" ->
      s"""SELECT o_orderkey, o_orderdate, o_totalprice
         |FROM orders WHERE o_orderdate > TIMESTAMP '$Watermark'
         |ORDER BY o_orderkey""".stripMargin,
    "f3_softdelete" ->
      """SELECT event_id, user_id, event_type
        |FROM events WHERE NOT (event_type = 'error')
        |ORDER BY event_id""".stripMargin,
    "f5_due_filter" ->
      s"""SELECT user_id, MAX(ts) AS last_refresh,
         |  CAST(user_id % 60 + 1 AS INTEGER) AS refresh_minutes
         |FROM events
         |GROUP BY user_id
         |HAVING MAX(ts) + (user_id % 60 + 1) * INTERVAL 1 MINUTE < TIMESTAMP '$SchedulerNow'
         |ORDER BY user_id""".stripMargin,
    "l1_limit" ->
      "SELECT * FROM part ORDER BY p_partkey LIMIT 25",
    "a1_count" ->
      "SELECT COUNT(*) AS total_size FROM lineitem",
    "a2_max_watermark" ->
      "SELECT MAX(ts) AS syncuntil, COUNT(*) AS n_landed FROM events",
    "t1_csv_encode" ->
      """SELECT event_id,
        |  CASE WHEN event_type = 'purchase' THEN 't' ELSE 'f' END AS bool_enc,
        |  REPLACE(props, ' ', '') AS clean_props,
        |  COALESCE(props, '') AS null_enc
        |FROM events ORDER BY event_id""".stripMargin,
    "t6_ts_format" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // composed clean: same signal definitions as text_quality /
    // text_langid / dedup_exact, dedup survivor chosen among ALL docs,
    // then the quality + language gates
    // 48-bit md5-prefix row hashes, order-free exact sums per source
    "pipe_dataset_hash" ->
      """WITH h AS (SELECT source,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      i -> (strpos('0123456789abcdef', substr(md5(
        |        CAST(doc_id AS VARCHAR) || '|' || COALESCE(lang, '\N')
        |        || '|' || COALESCE(source, '\N')
        |        || '|' || CAST(n_chars AS VARCHAR) || '|' || md5(text)),
        |        i, 1)) - 1) * power(16, 12 - i))) AS BIGINT) AS h
        |  FROM documents),
        |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    SUM(CAST(h AS HUGEINT)) AS digest FROM h GROUP BY 1)
        |SELECT source, n_rows, CAST(digest AS VARCHAR) AS digest FROM ps
        |UNION ALL
        |SELECT '__all__', CAST(SUM(n_rows) AS BIGINT),
        |  CAST(SUM(digest) AS VARCHAR) FROM ps
        |ORDER BY source""".stripMargin,
    "pipe_dataset_card" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_toks,
        |    md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
        |  FROM documents),
        |base AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |         CAST(SUM(n_toks) AS DOUBLE) AS n_tokens,
        |         CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE) AS dup_docs,
        |         CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS p50_chars
        |  FROM t)
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM base
        |  UNION ALL SELECT 'dup_docs', dup_docs FROM base
        |  UNION ALL SELECT 'p50_chars', p50_chars FROM base
        |  UNION ALL
        |  SELECT 'share_' || lang,
        |    CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM t) AS DOUBLE)
        |  FROM t GROUP BY lang)
        |ORDER BY metric""".stripMargin,
    "pipe_clean_corpus" -> {
      val scoreCols = TextOpsOracle.langScoreCols("ws")
      val caseChain = TextOpsOracle.langCaseChain
      s"""WITH base AS (
         |  SELECT doc_id, source, text,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, source,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
         |      / len(text) AS punct_ratio,
         |    md5(array_to_string(ws, ' ')) AS fp,
         |    $scoreCols
         |  FROM base),
         |p AS (
         |  SELECT *, CASE $caseChain ELSE 'und' END AS lang_pred,
         |    MIN(doc_id) OVER (PARTITION BY fp) AS surv
         |  FROM s)
         |SELECT doc_id, source, n_tokens, punct_ratio, lang_pred
         |FROM p
         |WHERE doc_id = surv AND n_tokens >= 10
         |  AND punct_ratio <= 0.30 AND lang_pred <> 'und'
         |ORDER BY doc_id""".stripMargin
    },
    "pipe_interleave" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
        |      AS src_rank
        |  FROM documents)
        |SELECT doc_id, source, src_rank,
        |  CAST(src_rank AS DOUBLE) /
        |    CAST(CASE source WHEN 'src0' THEN 2.0 WHEN 'src1' THEN 4.0
        |         ELSE 1.0 END AS DOUBLE) AS mix_key
        |FROM r ORDER BY mix_key, source, doc_id""".stripMargin,
    "pipe_repeat_upsample" ->
      """SELECT doc_id, source,
        |  CAST(unnest(generate_series(1,
        |    CASE source WHEN 'src0' THEN 3 WHEN 'src2' THEN 2 ELSE 1 END)) AS INT)
        |    AS epoch
        |FROM documents ORDER BY doc_id, epoch""".stripMargin,
    "pipe_decontaminate" ->
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |bsh AS (SELECT DISTINCT s.sh FROM sh s WHERE s.doc_id % 37 = 0)
         |SELECT s.doc_id, count(*) AS n_shared
         |FROM sh s JOIN bsh b ON s.sh = b.sh
         |WHERE s.doc_id % 37 <> 0
         |GROUP BY s.doc_id
         |HAVING count(*) >= 5
         |ORDER BY doc_id""".stripMargin,
    // stream-static lookup ≡ the batch fingerprint self-join (every doc
    // hits at least itself; exact dups hit their twins)
    "stream_index_lookup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
        |  FROM documents)
        |SELECT a.doc_id, b.doc_id AS index_id
        |FROM f a JOIN f b ON a.fp = b.fp
        |ORDER BY a.doc_id, index_id""".stripMargin,
    "pipe_build_corpus" -> {
      val scoreCols = TextOpsOracle.langScoreCols("ws")
      val caseChain = TextOpsOracle.langCaseChain
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |base AS (
         |  SELECT doc_id, source, text,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         |  FROM documents WHERE doc_id % 37 <> 0),
         |sc AS (
         |  SELECT doc_id, source,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
         |      / len(text) AS punct_ratio,
         |    md5(array_to_string(ws, ' ')) AS fp,
         |    $scoreCols
         |  FROM base),
         |p AS (
         |  SELECT *, CASE $caseChain ELSE 'und' END AS lang_pred,
         |    MIN(doc_id) OVER (PARTITION BY fp) AS surv
         |  FROM sc),
         |cleaned AS (
         |  SELECT doc_id, source, n_tokens, lang_pred
         |  FROM p
         |  WHERE doc_id = surv AND n_tokens >= 10
         |    AND punct_ratio <= 0.30 AND lang_pred <> 'und'),
         |bsh AS (SELECT DISTINCT g.sh FROM sh g WHERE g.doc_id % 37 = 0),
         |flagged AS (
         |  SELECT g.doc_id
         |  FROM sh g JOIN bsh b ON g.sh = b.sh
         |  WHERE g.doc_id % 37 <> 0
         |  GROUP BY g.doc_id HAVING count(*) >= 5),
         |sp AS (
         |  SELECT c.doc_id, c.source, c.n_tokens, c.lang_pred,
         |    CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |            + (strpos('0123456789abcdef', substr(md5(CAST(c.doc_id AS VARCHAR)), 2, 1)) - 1) < 204
         |         THEN 'train'
         |         WHEN (strpos('0123456789abcdef', substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |            + (strpos('0123456789abcdef', substr(md5(CAST(c.doc_id AS VARCHAR)), 2, 1)) - 1) < 230
         |         THEN 'val' ELSE 'test' END AS split
         |  FROM cleaned c
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM flagged))
         |SELECT doc_id, source, n_tokens, lang_pred, split,
         |  CAST(floor(COALESCE(SUM(n_tokens) OVER (PARTITION BY split, source
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    / 2000.0) AS BIGINT) AS batch_id
         |FROM sp ORDER BY doc_id""".stripMargin
    },
    // first md5 byte of the decimal doc_id → uniform bucket 0..255;
    // thresholds 204/230 give the ~80/10/10 split
    "pipe_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 204 THEN 'train'
        |       WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // same md5 buckets, but hashed over the near-dup component root
    // (transitive closure of the banded pairs) — unpaired docs hash
    // their own id
    // both assignments recomputed; crossing pairs counted per scheme
    "pipe_split_leakage_audit" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |na AS (SELECT doc_id,
         |  CASE WHEN (strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 204
         |      THEN 'train'
         |    WHEN (strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 230
         |      THEN 'val' ELSE 'test' END AS split
         |  FROM documents),
         |sf AS (SELECT g.doc_id,
         |  CASE WHEN (strpos('0123456789abcdef',
         |        substr(md5(CAST(g.group_key AS VARCHAR)), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef',
         |        substr(md5(CAST(g.group_key AS VARCHAR)), 2, 1)) - 1) < 204
         |      THEN 'train'
         |    WHEN (strpos('0123456789abcdef',
         |        substr(md5(CAST(g.group_key AS VARCHAR)), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef',
         |        substr(md5(CAST(g.group_key AS VARCHAR)), 2, 1)) - 1) < 230
         |      THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
         |    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id) g),
         |cn AS (SELECT 'naive' AS scheme, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_cross
         |  FROM pairs JOIN na a ON a.doc_id = pairs.doc_a
         |  JOIN na b ON b.doc_id = pairs.doc_b),
         |cs AS (SELECT 'component_hashed' AS scheme,
         |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_cross
         |  FROM pairs JOIN sf a ON a.doc_id = pairs.doc_a
         |  JOIN sf b ON b.doc_id = pairs.doc_b)
         |SELECT scheme, n_pairs, n_cross,
         |  CASE WHEN n_pairs = 0 THEN 0.0
         |    ELSE round(CAST(n_cross AS DOUBLE) / CAST(n_pairs AS DOUBLE), 9)
         |    END AS cross_rate
         |FROM (SELECT * FROM cn UNION ALL SELECT * FROM cs)
         |ORDER BY scheme""".stripMargin,
    "pipe_split_leakage_safe" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |g AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |b AS (SELECT doc_id, group_key,
         |  (strpos('0123456789abcdef', substr(md5(CAST(group_key AS VARCHAR)), 1, 1)) - 1) * 16
         |  + (strpos('0123456789abcdef', substr(md5(CAST(group_key AS VARCHAR)), 2, 1)) - 1)
         |    AS bucket
         |  FROM g)
         |SELECT doc_id, group_key,
         |  CASE WHEN bucket < 204 THEN 'train'
         |       WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    // exact decimal group/global sums; the per-row LOO formula keeps
    // the identical double expression shape on both engines
    "pipe_target_encode" ->
      """WITH grp AS (SELECT event_type,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS s_c, COUNT(*) AS n_c
        |  FROM events GROUP BY 1),
        |gt AS (SELECT SUM(CAST(value AS DECIMAL(18,2))) AS s_g,
        |    COUNT(*) AS n_g FROM events)
        |SELECT e.event_id, e.event_type,
        |  round((CAST(grp.s_c - CAST(e.value AS DECIMAL(18,2)) AS DOUBLE)
        |      + 20.0 * (CAST(gt.s_g AS DOUBLE) / CAST(gt.n_g AS DOUBLE)))
        |    / (CAST(grp.n_c - 1 AS DOUBLE) + 20.0), 9) AS enc_loo
        |FROM events e
        |JOIN grp ON grp.event_type = e.event_type
        |CROSS JOIN gt
        |ORDER BY event_id""".stripMargin,
    // affine hash key, shard = key mod 8, pos = within-shard rank —
    // integer arithmetic only, so the training order is engine-exact
    "pipe_shuffle_shards" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    ((doc_id % 1000003) * 1103515245 + 12345) % 2147483648 AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key, shuffle_key % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY shuffle_key % 8
        |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin,
    // same unrolled Morton generator as the Spark plan, with DuckDB's
    // `//` integer division — integer arithmetic only, engine-exact
    "pipe_zorder_layout" ->
      s"""WITH d AS (
         |  SELECT event_id, user_id % 256 AS du,
         |    ((hour(ts) * 60 + minute(ts)) * 256) // 1440 AS dt
         |  FROM events),
         |z AS (
         |  SELECT event_id, du, dt,
         |    ${graft.operators.PipelineOps.zvalExprText("du", "dt", 8, "//")} AS zval
         |  FROM d)
         |SELECT event_id, du, dt, zval, zval // 1024 AS zfile
         |FROM z ORDER BY zval, event_id""".stripMargin,
    // fixed-point score domain (floor(score*1e12) BIGINT) so quartile
    // cuts are engine-exact; same feature CTE as text_quality_model
    "pipe_curriculum" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |    CAST(len(text) AS BIGINT) AS n_chars_measured,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> t IN ('the','a','and','of','to'))) AS BIGINT) AS n_stop,
        |    CAST(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> len(t))) AS BIGINT) AS total_len
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CAST(n_punct AS DOUBLE) / n_chars_measured AS punct_ratio,
        |    CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN n_tokens > 0 THEN CAST(total_len AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len
        |  FROM q),
        |s AS (
        |  SELECT doc_id,
        |    CAST(floor((1.5 * stop_ratio - punct_ratio + 0.02 * mean_token_len)
        |      * 1000000000000.0) AS BIGINT) AS score_e12
        |  FROM f),
        |th AS (
        |  SELECT quantile_cont(score_e12, 0.75) AS q75,
        |    quantile_cont(score_e12, 0.5) AS q50,
        |    quantile_cont(score_e12, 0.25) AS q25
        |  FROM s)
        |SELECT doc_id, score_e12,
        |  CASE WHEN score_e12 >= q75 THEN 1 WHEN score_e12 >= q50 THEN 2
        |       WHEN score_e12 >= q25 THEN 3 ELSE 4 END AS phase
        |FROM s CROSS JOIN th ORDER BY doc_id""".stripMargin,
    "pipe_chunk_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents),
        |ks AS (
        |  SELECT doc_id, ws, unnest(range(CAST(ceil(len(ws) / 50.0) AS BIGINT))) AS k
        |  FROM toks)
        |SELECT doc_id, k AS chunk_id,
        |  array_to_string(list_slice(ws, k * 50 + 1, k * 50 + 50), ' ') AS chunk_text,
        |  len(list_slice(ws, k * 50 + 1, k * 50 + 50)) AS n_chunk_tokens
        |FROM ks ORDER BY doc_id, chunk_id""".stripMargin,
    "pipe_cap_per_source" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_tokens DESC, doc_id) AS rnk
        |  FROM s)
        |SELECT doc_id, source, n_tokens, rnk FROM r
        |WHERE rnk <= 50 ORDER BY source, doc_id""".stripMargin,
    "pipe_quantile_filter" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source, n_tokens,
        |    quantile_cont(n_tokens, 0.25) OVER (PARTITION BY source) AS thr
        |  FROM s)
        |SELECT doc_id, source, n_tokens FROM q
        |WHERE n_tokens >= thr ORDER BY doc_id""".stripMargin,
    "pipe_pack_budget" ->
      """SELECT doc_id, source,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
        |  CAST(floor(COALESCE(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |    OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
        |    AS BIGINT) AS batch_id
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    // rollup over the packer's assignment; batch ids are dense so
    // n_batches = max + 1 — mirrors packEfficiency
    "pipe_pack_efficiency" ->
      """WITH pk AS (SELECT doc_id, source,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
        |    CAST(floor(COALESCE(
        |      SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |        OVER (PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) / 2000.0) AS BIGINT) AS batch_id
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MAX(batch_id) + 1 AS n_batches,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  round(CAST(SUM(n_tokens) AS DOUBLE)
        |    / (CAST(MAX(batch_id) + 1 AS DOUBLE) * 2000.0), 6) AS fill_rate
        |FROM pk GROUP BY source ORDER BY source""".stripMargin,
    // batch restatement of the 1h/30m sliding windows: each event lands
    // in exactly two 30-min-aligned windows (k = 0, 1); time_bucket's
    // 2000-01-01 origin is a whole multiple of 30 min past the epoch,
    // so alignment matches Spark's epoch-aligned window()
    "stream_windowed_agg" ->
      """SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * (INTERVAL 30 MINUTE) AS window_start,
        |  time_bucket(INTERVAL 30 MINUTE, ts) - k * (INTERVAL 30 MINUTE) + INTERVAL 60 MINUTE AS window_end,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events, (VALUES (0), (1)) t(k)
        |GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    // batch restatement of the tumbling-day streaming entropy monitor:
    // day windows are UTC-midnight aligned on both engines
    "stream_entropy" ->
      """WITH cells AS (
        |  SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS window_start,
        |    event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT window_start, CAST(SUM(c) AS BIGINT) AS n
        |  FROM cells GROUP BY 1)
        |SELECT cells.window_start, MAX(n) AS n,
        |  CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
        |    AS DECIMAL(24,14))) AS DOUBLE) AS entropy
        |FROM cells JOIN d USING (window_start) GROUP BY 1 ORDER BY 1""".stripMargin,
    // daily histograms vs the full-corpus baseline on the baseline's
    // bin grid; a28Psi smoothing, round-12 decimal term sum
    "stream_drift" ->
      """WITH base AS (SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
        |    COUNT(*) AS cb FROM events GROUP BY 1),
        |nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS n_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_bins FROM base),
        |cells AS (SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS window_start,
        |    CAST(floor(value / 10.0) AS BIGINT) AS bin, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT window_start FROM cells),
        |grid AS (SELECT d.window_start, b.bin, b.cb, COALESCE(cells.c, 0) AS c
        |  FROM days d CROSS JOIN base b
        |  LEFT JOIN cells ON cells.window_start = d.window_start
        |    AND cells.bin = b.bin),
        |nw AS (SELECT window_start, CAST(SUM(c) AS BIGINT) AS n_w
        |  FROM grid GROUP BY 1)
        |SELECT g.window_start, MAX(nw.n_w) AS n_events,
        |  CAST(SUM(CAST(round(
        |    ((CAST(g.c + 1 AS DOUBLE) / CAST(nw.n_w + nb.n_bins AS DOUBLE))
        |      - (CAST(g.cb + 1 AS DOUBLE) / CAST(nb.n_b + nb.n_bins AS DOUBLE)))
        |    * ln((CAST(g.c + 1 AS DOUBLE) / CAST(nw.n_w + nb.n_bins AS DOUBLE))
        |      / (CAST(g.cb + 1 AS DOUBLE) / CAST(nb.n_b + nb.n_bins AS DOUBLE))),
        |    12) AS DECIMAL(24,14))) AS DOUBLE) AS psi
        |FROM grid g JOIN nw USING (window_start) CROSS JOIN nb
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the staged stream re-delivers every 7th event; dedup collapses
    // the input back to exactly the original table
    "stream_dedup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,
    "stream_session" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        |x AS (
        |  SELECT user_id, tus,
        |    CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |g AS (
        |  SELECT user_id, tus,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM x)
        |SELECT user_id, MIN(tus) AS session_start, MAX(tus) AS session_end,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin,
    // same gaps-and-islands restatement in MILLISECONDS (the evicting
    // sessionizer's state granularity); the sentinel user the Spark
    // side injects never emits and is filtered there, so the oracle
    // sees real users only
    "stream_topk" ->
      """SELECT window_start, event_type, event_id, value, rnk FROM (
        |  SELECT time_bucket(INTERVAL 60 MINUTE, ts) AS window_start,
        |    event_type, event_id, value,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY time_bucket(INTERVAL 60 MINUTE, ts), event_type
        |      ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |WHERE rnk <= 3 ORDER BY window_start, event_type, rnk""".stripMargin,
    "stream_session_evict" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms FROM events),
        |x AS (
        |  SELECT user_id, tms,
        |    CASE WHEN lag(tms) OVER w IS NULL OR tms - lag(tms) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
        |g AS (
        |  SELECT user_id, tms,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tms ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM x)
        |SELECT user_id, MIN(tms) AS session_start_ms, MAX(tms) AS session_end_ms,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start_ms""".stripMargin,
    // native session_window semantics: window end = last event + gap,
    // STRICT merge (an event exactly gap after the last starts a new
    // session — hence >= in the break condition, unlike stream_session)
    "w9_session_window" -> SessionWindowOracle,
    "stream_session_native" -> SessionWindowOracle,
    "w1_running_sum" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "w2_rollup" ->
      """SELECT coalesce(l_returnflag, '_ALL_') AS returnflag,
        |  coalesce(l_linestatus, '_ALL_') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "w3_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders
        |) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "w3_topn_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders
        |) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "set1_symmetric_diff" ->
      """SELECT o_orderkey FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
        |  UNION
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
        |)
        |EXCEPT
        |(SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
        | INTERSECT
        | SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    "a5_distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "w6_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '_ALL_') AS returnflag,
        |  coalesce(l_linestatus, '_ALL_') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY returnflag, linestatus""".stripMargin,
    // same gap-session assignment, folded to the one-row engagement
    // headline — mirrors w33BounceRate
    "w33_bounce_rate" ->
      """WITH q AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM (SELECT user_id, event_id, ts,
        |          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events)),
        |ps AS (SELECT user_id, session_seq, COUNT(*) AS n_events
        |  FROM q GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS bounce_rate,
        |  round(CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
        |    AS events_per_session
        |FROM ps""".stripMargin,
    "w4_sessionize" ->
      """SELECT user_id, event_id, CAST(session_seq AS BIGINT) AS session_seq FROM (
        |  SELECT user_id, event_id,
        |    SUM(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM (SELECT user_id, event_id, ts,
        |          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events))
        |ORDER BY user_id, event_id""".stripMargin,
    "w23_session_duration" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts,
        |    SUM(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM (SELECT user_id, event_id, ts,
        |          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events)),
        |d AS (
        |  SELECT user_id, session_seq,
        |    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
        |  FROM s GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  round(quantile_cont(dur_us, 0.5) / 1000000.0, 6) AS p50_s,
        |  round(quantile_cont(dur_us, 0.9) / 1000000.0, 6) AS p90_s,
        |  round(CAST(MAX(dur_us) AS DOUBLE) / 1000000.0, 6) AS max_s
        |FROM d""".stripMargin,
    // full 7-day grid per type (absent days contribute (0-e)^2/e);
    // round-6 decimal terms; peak ties to the smallest day
    "w26_dow_profile" ->
      """WITH cells AS (SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
        |  FROM cells GROUP BY 1),
        |grid AS (SELECT t.event_type, t.n, d.dow, COALESCE(cells.c, 0) AS c
        |  FROM tot t CROSS JOIN unnest(range(0, 7)) AS d(dow)
        |  LEFT JOIN cells ON cells.event_type = t.event_type
        |    AND cells.dow = d.dow),
        |agg AS (SELECT event_type, MAX(n) AS n,
        |  CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_days_seen,
        |  CAST(SUM(CAST(round(
        |    (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / 7.0)
        |      * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / 7.0)
        |      / (CAST(n AS DOUBLE) / 7.0), 6) AS DECIMAL(24,14)))
        |    AS DOUBLE) AS chi2_uniform
        |  FROM grid GROUP BY 1),
        |pk AS (SELECT event_type, CAST(dow AS INT) AS peak_dow,
        |    CAST(c AS BIGINT) AS peak_count
        |  FROM (SELECT event_type, dow, c, ROW_NUMBER() OVER (
        |      PARTITION BY event_type ORDER BY c DESC, dow) AS rn
        |    FROM grid) WHERE rn = 1)
        |SELECT agg.event_type, n, n_days_seen, chi2_uniform,
        |  peak_dow, peak_count
        |FROM agg JOIN pk ON pk.event_type = agg.event_type
        |ORDER BY 1""".stripMargin,
    "w25_decay_score" ->
      """WITH r AS (SELECT MAX(ts) AS ref_ts FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(round(value * exp(
        |    -(CAST(epoch_us(ref_ts) - epoch_us(ts) AS DOUBLE)
        |      / 86400000000.0) * 0.6931471805599453 / 7.0), 9)
        |    AS DECIMAL(24,12))) AS DOUBLE) AS score
        |FROM events CROSS JOIN r GROUP BY 1 ORDER BY 1""".stripMargin,
    "w24_conversion_lag" ->
      """WITH f AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT epoch_us(first_purchase) - epoch_us(first_view) AS lag_us
        |  FROM f
        |  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        |    AND first_purchase >= first_view)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  round(quantile_cont(lag_us, 0.5) / 1000000.0, 6) AS p50_s,
        |  round(quantile_cont(lag_us, 0.9) / 1000000.0, 6) AS p90_s
        |FROM l""".stripMargin,
    "w5_cube" ->
      """SELECT coalesce(l_returnflag, '_ALL_') AS returnflag,
        |  coalesce(l_linestatus, '_ALL_') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "p4_pivot" -> {
      val cols = Seq("click", "view", "purchase", "signup", "error").map(t =>
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS $t")
      s"""SELECT user_id,
         |  ${cols.mkString(",\n  ")}
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "w7_gap_fill" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
        |ty AS (SELECT DISTINCT event_type FROM hourly)
        |SELECT ty.event_type, CAST(spine.hr AS VARCHAR) AS hr,
        |  COALESCE(h.n, 0) AS n_events
        |FROM spine CROSS JOIN ty
        |LEFT JOIN hourly h ON h.event_type = ty.event_type AND h.hr = spine.hr
        |ORDER BY ty.event_type, hr""".stripMargin,
    "s8_partitioned_roundtrip" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the merged read predicted straight from the source: odd keys are
    // generation 1 (no status column → NULL), even keys generation 2
    // constant report predicted from the staging construction (same
    // pattern as the s5 VALUES oracle): gen=2 adds o_orderstatus
    "s13_schema_diff" ->
      ("SELECT * FROM (VALUES " +
        "('o_custkey', 'bigint', 'bigint', 'unchanged'), " +
        "('o_orderkey', 'bigint', 'bigint', 'unchanged'), " +
        "('o_orderstatus', CAST(NULL AS VARCHAR), 'string', 'added'), " +
        "('o_totalprice', 'double', 'double', 'unchanged')) " +
        "AS t(column_name, old_type, new_type, status) ORDER BY column_name"),
    "s10_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END AS gen
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "a8_profile" -> Seq("l_orderkey", "l_linenumber", "l_quantity",
      "l_returnflag", "l_shipdate").map { c =>
      s"""SELECT '$c' AS column_name, COUNT($c) AS n_notnull,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),
    // constant-true oracles: the Spark side emits bound-check booleans
    // (see Relational.a6ApproxDistinctCheck/a7ApproxQuantilesCheck); a
    // broken sketch flips a boolean and the hash mismatches
    "a6_approx_distinct" ->
      """SELECT event_type, TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a7_approx_quantile" ->
      """SELECT l_returnflag, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a9_cms_count" ->
      """SELECT event_type, TRUE AS lower_ok, TRUE AS upper_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a10_bloom" -> "SELECT TRUE AS all_present, TRUE AS fp_ok",
    "a8_profile_approx" ->
      """SELECT column_name, TRUE AS within_bound FROM (VALUES
        | ('l_linenumber'), ('l_orderkey'), ('l_quantity'),
        | ('l_returnflag'), ('l_shipdate')) t(column_name)
        |ORDER BY column_name""".stripMargin,
    "t8_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "w8_ntile" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // fixed-point cents domain + exact q=0.5 interpolation over ints
    // (IEEE-exact both engines); bounded ROWS frame, unique ordering
    "w13_rolling_median" ->
      """WITH c AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_id, event_type, cents,
        |  quantile_cont(cents, 0.5) OVER (PARTITION BY event_type
        |    ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |    AS med_cents
        |FROM c ORDER BY event_type, event_id""".stripMargin,
    "a4_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // identical fixed-point + op-chain on both sides; quantile_cont
    // is Spark percentile's interpolation twin (a4 precedent)
    "w15_robust_z" ->
      """WITH b AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vi
        |  FROM events),
        |m AS (SELECT event_type, quantile_cont(vi, 0.5) AS med
        |      FROM b GROUP BY event_type),
        |s AS (SELECT b.event_type, any_value(m.med) AS med,
        |        quantile_cont(abs(b.vi - m.med), 0.5) AS mad
        |      FROM b JOIN m USING (event_type) GROUP BY b.event_type)
        |SELECT b.event_id, b.vi,
        |  CASE WHEN s.mad = 0 THEN 0
        |    ELSE CAST(floor((b.vi - s.med) / s.mad * 1000000.0) AS BIGINT)
        |  END AS z_e6
        |FROM b JOIN s USING (event_type) ORDER BY event_id""".stripMargin,
    "w14_trailing_count" ->
      """SELECT event_id, user_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS n_trailing
        |FROM events ORDER BY event_id""".stripMargin,
    "a11_winsorize" ->
      """WITH th AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_quantity, 0.05) AS lo_v,
        |    quantile_cont(l_quantity, 0.95) AS hi_v
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  greatest(least(l.l_quantity, th.hi_v), th.lo_v) AS qty_w
        |FROM lineitem l JOIN th USING (l_returnflag)
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
    "j5_range_join" ->
      """WITH months AS (
        |  SELECT DISTINCT date_trunc('month', o_orderdate) AS m FROM orders)
        |SELECT l_orderkey, l_linenumber, count(*) AS n_month_starts
        |FROM lineitem JOIN months
        |  ON m BETWEEN l_shipdate AND l_shipdate + INTERVAL 60 DAY
        |GROUP BY l_orderkey, l_linenumber
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "text_bigram_freq" ->
      s"""WITH $ToksCte,
         |bg AS (
         |  SELECT ws[i] || ' ' || ws[i+1] AS bigram
         |  FROM toks, unnest(range(1, greatest(len(ws), 1))) t(i)
         |  WHERE len(ws) >= 2)
         |SELECT bigram, count(*) AS n FROM bg
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    // SCD2 over non-purchase activity (same lag/filter as c11), then
    // DuckDB's native ASOF for the latest valid_from <= purchase ts
    "pipe_point_in_time" ->
      """WITH nd AS (SELECT user_id, event_type, ts, event_id FROM events
        |  WHERE event_type <> 'purchase'),
        |d0 AS (SELECT user_id, event_type AS status, ts AS valid_from,
        |    LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
        |  FROM nd),
        |d1 AS (SELECT user_id, status, valid_from FROM d0
        |  WHERE prev_t IS NULL OR status <> prev_t),
        |dim AS (SELECT user_id, valid_from, MAX(status) AS status
        |  FROM d1 GROUP BY 1, 2),
        |f AS (SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT f.purchase_id, f.user_id, dim.status, dim.valid_from
        |FROM f ASOF JOIN dim
        |  ON f.user_id = dim.user_id AND f.ts >= dim.valid_from
        |ORDER BY purchase_id""".stripMargin,
    // identical bucket replication and float comparisons; the lo<=hi
    // pair ordering guarantees exactly one replica match per pair
    "j12_band_join" ->
      """WITH base AS (SELECT event_id, event_type, value,
        |    CAST(floor(value / 0.01) AS BIGINT) AS bucket FROM events),
        |hi AS (SELECT event_type AS t_hi, event_id AS id_hi,
        |    value AS v_hi, bucket - r AS bucket
        |  FROM base, unnest([0, 1]) t(r))
        |SELECT lo.event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM base lo JOIN hi ON hi.bucket = lo.bucket
        |  AND hi.t_hi = lo.event_type
        |  AND (lo.value < hi.v_hi
        |    OR (lo.value = hi.v_hi AND lo.event_id < hi.id_hi))
        |  AND hi.v_hi - lo.value <= 0.01
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "asof_join" ->
      """WITH p AS (
        |  SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id AS click_id, c.user_id, p.purchase_id, p.purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
        |ORDER BY click_id""".stripMargin,
    // native ASOF LEFT JOIN + the same epoch-ms staleness guard
    "asof_join_tolerance" ->
      """WITH p AS (
        |  SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |j AS (
        |  SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        |    p.purchase_id, p.purchase_ts
        |  FROM (SELECT * FROM events WHERE event_type = 'click') c
        |  ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.purchase_ts)
        |SELECT click_id, user_id,
        |  CASE WHEN purchase_ts IS NOT NULL
        |    AND epoch_ms(click_ts) - epoch_ms(purchase_ts) <= 86400000
        |    THEN purchase_id END AS purchase_id,
        |  CASE WHEN purchase_ts IS NOT NULL
        |    AND epoch_ms(click_ts) - epoch_ms(purchase_ts) <= 86400000
        |    THEN purchase_ts END AS purchase_ts
        |FROM j ORDER BY click_id""".stripMargin,
    // forward variant restated with a window (engine-agnostic; no
    // dependence on the oracle's ASOF direction support)
    "asof_join_forward" ->
      """WITH p AS (
        |  SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |j AS (
        |  SELECT c.event_id AS click_id, c.user_id, p.purchase_id, p.purchase_ts,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY p.purchase_ts) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'click') c
        |  JOIN p ON p.user_id = c.user_id AND p.purchase_ts >= c.ts)
        |SELECT click_id, user_id, purchase_id, purchase_ts FROM j WHERE rn = 1
        |ORDER BY click_id""".stripMargin,
    // nearest restated with abs-distance ranking, direction tiebreak
    // to the at-or-before side (epoch_us keeps the Δ integral)
    "asof_join_nearest" ->
      """WITH p AS (
        |  SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |j AS (
        |  SELECT c.event_id AS click_id, c.user_id, p.purchase_id, p.purchase_ts,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_id
        |      ORDER BY abs(epoch_us(p.purchase_ts) - epoch_us(c.ts)),
        |        CASE WHEN p.purchase_ts <= c.ts THEN 0 ELSE 1 END) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'click') c
        |  JOIN p ON p.user_id = c.user_id)
        |SELECT click_id, user_id, purchase_id, purchase_ts FROM j WHERE rn = 1
        |ORDER BY click_id""".stripMargin,
    // direct global bottom-8: equals the Spark side's merged daily
    // sketches — the oracle never sees the daily partitioning, which
    // is exactly the mergeability property under test
    "a12_kmv_rollup" -> KmvOracle,
    // the STREAMING sketch shares the oracle verbatim: micro-batch
    // boundaries are just another partitioning min-k is exact under
    "stream_kmv" -> KmvOracle,
    "stream_quantile" ->
      """SELECT DISTINCT event_type, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM events ORDER BY event_type""".stripMargin,
    // BPE training unrolled: per step one pair-count CTE, one argmax
    // CTE, one merge rewrite via the shared leftmost-non-overlapping
    // replace(' l r ', ' lr ') on sentinel-spaced symbol strings
    "text_bpe_train" -> {
      def pair(pn: String, sn: String) =
        s"""$pn AS (
           |  SELECT t[i] AS l, t[i + 1] AS r, SUM(freq) AS pf FROM (
           |    SELECT t, freq, unnest(range(1, len(t))) AS i FROM (
           |      SELECT string_split(trim(s), ' ') AS t, freq FROM $sn))
           |  GROUP BY 1, 2)""".stripMargin
      def best(bn: String, pn: String) =
        s"$bn AS (SELECT l, r, pf FROM $pn ORDER BY pf DESC, l, r LIMIT 1)"
      def merge(sn: String, prev: String, bn: String) =
        s"""$sn AS (
           |  SELECT replace(s, ' ' || b.l || ' ' || b.r || ' ',
           |    ' ' || b.l || b.r || ' ') AS s, freq FROM $prev, $bn b)""".stripMargin
      s"""WITH w AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |    FROM documents) GROUP BY w),
         |s0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s, freq FROM w),
         |${pair("p1", "s0")},
         |${best("b1", "p1")},
         |${merge("s1", "s0", "b1")},
         |${pair("p2", "s1")},
         |${best("b2", "p2")},
         |${merge("s2", "s1", "b2")},
         |${pair("p3", "s2")},
         |${best("b3", "p3")}
         |SELECT CAST(step AS INT) AS step, l AS merge_left, r AS merge_right,
         |  CAST(pf AS BIGINT) AS pair_freq
         |FROM (
         |  SELECT 1 AS step, * FROM b1
         |  UNION ALL SELECT 2, * FROM b2
         |  UNION ALL SELECT 3, * FROM b3)
         |ORDER BY step""".stripMargin
    },
    // vocab ids 1..V by (freq desc, term); OOV encodes as 0
    "text_vocab_encode" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, unnest(toks) AS term,
        |    generate_subscripts(toks, 1) - 1 AS pos
        |  FROM tk),
        |v AS (
        |  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY count(*) DESC, term) AS INT)
        |    AS token_id
        |  FROM t GROUP BY term ORDER BY count(*) DESC, term LIMIT 50)
        |SELECT doc_id, CAST(pos AS INT) AS pos,
        |  coalesce(v.token_id, 0) AS token_id
        |FROM t LEFT JOIN v USING (term) ORDER BY doc_id, pos""".stripMargin,
    // sliding chunker: same regex tokens, same stride grid + appended
    // tail start, same slices; chunk_id = position in the sorted
    // distinct start list
    "pipe_chunk_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |ss AS (
        |  SELECT doc_id, toks,
        |    list_sort(list_distinct(list_append(
        |      range(0, greatest(len(toks) - 40, 0) + 1, 20),
        |      greatest(len(toks) - 40, 0)))) AS starts
        |  FROM tk),
        |st AS (
        |  SELECT doc_id, toks,
        |    unnest(starts) AS start,
        |    generate_subscripts(starts, 1) - 1 AS chunk_id
        |  FROM ss)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  array_to_string(toks[start + 1 : start + 40], ' ') AS chunk_text,
        |  CAST(len(toks[start + 1 : start + 40]) AS BIGINT) AS n_chunk_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "j1_merge_upsert" -> J1MergeOracle,
    // the streamed two-batch replay lands on the SAME final snapshot
    "stream_cdc_merge" -> J1MergeOracle,
    // identical to c12_mv_maintain: the streaming merge must land on
    // the exact batch recompute regardless of batch slicing
    "stream_mv_maintain" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_join_outer" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,
    "j2_anti_delete" ->
      s"""WITH $BaseCte
         |SELECT * FROM base
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 20 = 0)
         |ORDER BY o_orderkey""".stripMargin,
    "j4_dedup_lastwins" ->
      """SELECT user_id, event_id, event_type, ts FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "c1_incremental_2step" ->
      s"""WITH $BaseCte,
         |${deltaCte("d1", 2, 1.05, 1)},
         |${deltaCte("d2", 3, 1.1, 2)},
         |unioned AS (
         |  SELECT *, 0 AS pri FROM base
         |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, 1 AS pri FROM d1
         |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, 2 AS pri FROM d2
         |)
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pri DESC) AS rn
         |  FROM unioned
         |) WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,
    "c2_zero_delta" ->
      s"""WITH $BaseCte
         |SELECT * FROM base ORDER BY o_orderkey""".stripMargin,
    "c10_drift_check" ->
      """WITH tgt AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 500 = 3 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 700 <> 5 AND o_orderkey // 100 <> 7
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 900 = 7),
        |sd AS (
        |  SELECT o_orderkey // 100 AS chunk,
        |    SUM(CAST(('0x' || substr(md5(
        |      coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || '|'
        |      || coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || '|'
        |      || coalesce(o_orderstatus, chr(1)) || '|'
        |      || coalesce(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR),
        |           chr(1))), 1, 8))
        |      AS BIGINT)) AS digest_src,
        |    COUNT(*) AS n_src
        |  FROM orders GROUP BY 1),
        |td AS (
        |  SELECT o_orderkey // 100 AS chunk,
        |    SUM(CAST(('0x' || substr(md5(
        |      coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || '|'
        |      || coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || '|'
        |      || coalesce(o_orderstatus, chr(1)) || '|'
        |      || coalesce(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR),
        |           chr(1))), 1, 8))
        |      AS BIGINT)) AS digest_tgt,
        |    COUNT(*) AS n_tgt
        |  FROM tgt GROUP BY 1)
        |SELECT chunk, coalesce(n_src, 0) AS n_src, coalesce(n_tgt, 0) AS n_tgt,
        |  CASE WHEN digest_src IS NULL THEN 'missing_in_source'
        |       WHEN digest_tgt IS NULL THEN 'missing_in_target'
        |       ELSE 'content_drift' END AS status
        |FROM sd FULL OUTER JOIN td USING (chunk)
        |WHERE digest_src IS NULL OR digest_tgt IS NULL
        |   OR digest_src <> digest_tgt OR n_src <> n_tgt
        |ORDER BY chunk""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |  CAST(len(text) AS BIGINT) AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH $ToksCte,
         |t AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS tok
         |      FROM toks WHERE len(ws) >= 1),
         |f AS (SELECT doc_id, n, tok, count(*) AS tf FROM t GROUP BY doc_id, n, tok)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(max(tf) AS BIGINT) AS max_tf,
         |  CAST(max(tf) AS DOUBLE) / n AS rep_ratio
         |FROM f GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    // per-term contribution is the identical IEEE expression rounded
    // to 12 decimals (absorbs JVM-vs-libm log ulp differences), then
    "text_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize(substr(text, 1, 60) || 'e' || chr(769)) AS norm,
        |  length(nfc_normalize(substr(text, 1, 60) || 'e' || chr(769))) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    // decimal-summed — associative, hash-stable (see TextOps scaladoc)
    // positional token walk -> stopword-boundary phrase runs -> word
    // deg/freq scores (round-6 decimal) -> per-doc best phrase; score
    // ties break to the bytewise-largest phrase on both engines
    "text_keywords" ->
      s"""WITH $ToksCte,
         |tk AS (SELECT doc_id, i AS pos, ws[i] AS w
         |  FROM toks, unnest(range(1, len(ws) + 1)) t(i)),
         |fl AS (SELECT doc_id, pos, w,
         |  CASE WHEN w IN ('the','a','an','and','of','to','in','is','on',
         |    'for','with','that','it','as','was','at','by','or')
         |    THEN 1 ELSE 0 END AS stop
         |  FROM tk),
         |ph AS (SELECT doc_id, pos, w, stop,
         |  SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_seq
         |  FROM fl),
         |pw AS (SELECT doc_id, phrase_seq, pos, w,
         |  COUNT(*) OVER (PARTITION BY doc_id, phrase_seq) AS plen
         |  FROM ph WHERE stop = 0),
         |sc AS (SELECT w, CAST(round(CAST(SUM(plen) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS wsc
         |  FROM pw GROUP BY 1),
         |ps AS (SELECT pw.doc_id, pw.phrase_seq,
         |  string_agg(pw.w, ' ' ORDER BY pw.pos) AS phrase,
         |  SUM(sc.wsc) AS score
         |  FROM pw JOIN sc ON sc.w = pw.w GROUP BY 1, 2),
         |best AS (SELECT doc_id, phrase, score,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, phrase DESC) AS rn FROM ps)
         |SELECT doc_id, phrase, CAST(score AS DOUBLE) AS score
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "text_zipf_slope" ->
      s"""WITH $ToksCte,
         |t AS (SELECT unnest(ws) AS tok FROM toks),
         |tf AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
         |rk AS (SELECT c,
         |  ROW_NUMBER() OVER (ORDER BY c DESC,
         |    CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS rnk
         |  FROM tf),
         |xy AS (SELECT CAST(round(ln(rnk), 9) AS DECIMAL(18,9)) AS x,
         |              CAST(round(ln(c), 9) AS DECIMAL(18,9)) AS y
         |       FROM rk WHERE rnk <= 256),
         |s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |  SUM(x*x) AS sxx, SUM(x*y) AS sxy FROM xy)
         |SELECT n AS n_terms,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS slope,
         |  round((CAST(sy AS DOUBLE)
         |      - round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
         |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 9) AS intercept
         |FROM s WHERE n >= 3""".stripMargin,
    "text_hill_tail" ->
      s"""WITH $ToksCte,
         |t AS (SELECT ws[i] || ' ' || ws[i+1] AS tok
         |  FROM toks, unnest(range(1, greatest(len(ws), 1))) t(i)
         |  WHERE len(ws) >= 2),
         |tf AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
         |rk AS (SELECT c,
         |  ROW_NUMBER() OVER (ORDER BY c DESC,
         |    CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS rnk
         |  FROM tf),
         |ft AS (SELECT c AS f_tail FROM rk WHERE rnk = 101),
         |terms AS (SELECT f_tail,
         |    CAST(round(ln(CAST(c AS DOUBLE) / CAST(f_tail AS DOUBLE)), 9)
         |      AS DECIMAL(18,9)) AS t
         |  FROM rk CROSS JOIN ft WHERE rnk <= 100),
         |s AS (SELECT f_tail, CAST(COUNT(*) AS BIGINT) AS k_used,
         |    SUM(t) AS s FROM terms GROUP BY 1)
         |SELECT k_used, f_tail,
         |  round(CAST(s AS DOUBLE) / CAST(k_used AS DOUBLE), 9) AS hill_mean,
         |  CASE WHEN round(CAST(s AS DOUBLE) / CAST(k_used AS DOUBLE), 9) > 0
         |       THEN round(CAST(1.0 AS DOUBLE)
         |         / round(CAST(s AS DOUBLE) / CAST(k_used AS DOUBLE), 9), 9)
         |       ELSE CAST(0.0 AS DOUBLE) END AS alpha
         |FROM s""".stripMargin,
    // integer-exact (doc,bigram) counts -> term rollup -> VMR with the
    // zero-doc mass folded analytically — mirrors termBurstiness
    "text_burstiness" ->
      s"""WITH $ToksCte,
         |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS term
         |  FROM toks, unnest(range(1, greatest(len(ws), 1))) t(i)
         |  WHERE len(ws) >= 2),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM bg GROUP BY 1, 2),
         |tm AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         |    CAST(SUM(tf) AS BIGINT) AS total_tf,
         |    CAST(SUM(tf * tf) AS BIGINT) AS sum_tf2
         |  FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT term, df, total_tf,
         |  round((CAST(sum_tf2 AS DOUBLE)
         |    - CAST(total_tf AS DOUBLE) * CAST(total_tf AS DOUBLE)
         |      / CAST(n_docs AS DOUBLE))
         |    / CAST(total_tf AS DOUBLE), 9) AS vmr
         |FROM tm CROSS JOIN nd
         |ORDER BY total_tf DESC, term LIMIT 20""".stripMargin,
    // per-ngram presence flags over the md5-bucket split, folded to
    // one row per order — mirrors splitNgramCoverage (duplicates
    // can't move a MAX flag, so no per-doc distinct is needed)
    "text_split_coverage" ->
      s"""WITH $ToksCte,
         |tagged AS (SELECT
         |    ((strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) < 204
         |      AS is_train,
         |    ws FROM toks),
         |u1 AS (SELECT is_train, unnest(ws) AS g FROM tagged),
         |c1 AS (SELECT g,
         |    MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
         |    MAX(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_heldout
         |  FROM u1 GROUP BY 1),
         |r1 AS (SELECT 1 AS ngram_order,
         |    CAST(COUNT(*) AS BIGINT) AS n_heldout_distinct,
         |    CAST(SUM(in_train) AS BIGINT) AS n_covered
         |  FROM c1 WHERE in_heldout = 1),
         |u2 AS (SELECT is_train, ws[i] || ' ' || ws[i+1] AS g
         |  FROM tagged, unnest(range(1, greatest(len(ws), 1))) t(i)
         |  WHERE len(ws) >= 2),
         |c2 AS (SELECT g,
         |    MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
         |    MAX(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_heldout
         |  FROM u2 GROUP BY 1),
         |r2 AS (SELECT 2 AS ngram_order,
         |    CAST(COUNT(*) AS BIGINT) AS n_heldout_distinct,
         |    CAST(SUM(in_train) AS BIGINT) AS n_covered
         |  FROM c2 WHERE in_heldout = 1)
         |SELECT ngram_order, n_heldout_distinct, n_covered,
         |  round(CAST(n_covered AS DOUBLE)
         |    / CAST(n_heldout_distinct AS DOUBLE), 9) AS coverage
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
         |ORDER BY ngram_order""".stripMargin,
    "text_entropy" ->
      s"""WITH $ToksCte,
         |t AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
         |f AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
         |p AS (SELECT doc_id,
         |        CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY doc_id) AS DOUBLE) AS p
         |      FROM f)
         |SELECT doc_id,
         |  CAST(-SUM(CAST(ROUND(p * LN(p) / LN(2.0), 12) AS DECIMAL(18,14))) AS DOUBLE)
         |    AS entropy
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |    CAST(len(text) AS BIGINT) AS n_chars_measured,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> t IN ('the','a','and','of','to'))) AS BIGINT) AS n_stop,
        |    CAST(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> len(t))) AS BIGINT) AS total_len
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_chars_measured, n_punct, n_stop,
        |  CAST(n_punct AS DOUBLE) / n_chars_measured AS punct_ratio,
        |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
        |  CASE WHEN n_tokens > 0 THEN CAST(total_len AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len
        |FROM q ORDER BY doc_id""".stripMargin,
    // same regex in RE2: alternation/class-only pattern, leftmost-
    // first semantics in both engines; '' escapes the quote, and
    // DuckDB strings pass backslashes through unprocessed
    "text_tokens_bpe" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text,
         |    '${graft.operators.TextOps.BpePattern.replace("'", "''")}')) AS BIGINT) AS n_bpe,
         |  CAST(COALESCE(list_sum(list_transform(regexp_extract_all(text,
         |    '${graft.operators.TextOps.BpePattern.replace("'", "''")}'),
         |    p -> (len(p) + 3) // 4)), 0) AS BIGINT) AS n_est
         |FROM documents ORDER BY doc_id""".stripMargin,
    // linear classifier dot product over the quality features — same
    // feature CTE as text_quality, then fixed weights in one IEEE
    // chain: ((1.5*stop - punct) + 0.02*mean_len), threshold 0.2
    "text_quality_model" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |    CAST(len(text) AS BIGINT) AS n_chars_measured,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> t IN ('the','a','and','of','to'))) AS BIGINT) AS n_stop,
        |    CAST(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> len(t))) AS BIGINT) AS total_len
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(n_punct AS DOUBLE) / n_chars_measured AS punct_ratio,
        |    CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN n_tokens > 0 THEN CAST(total_len AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len
        |  FROM q)
        |SELECT doc_id,
        |  1.5 * stop_ratio - punct_ratio + 0.02 * mean_token_len AS q_score,
        |  (1.5 * stop_ratio - punct_ratio + 0.02 * mean_token_len >= 0.2
        |   AND n_tokens >= 5) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "text_langid" -> {
      val scoreCols = TextOpsOracle.langScoreCols(
        "regexp_extract_all(lower(text), '[a-z0-9]+')")
      val caseChain = TextOpsOracle.langCaseChain
      s"""WITH s AS (
         |  SELECT doc_id, lang AS lang_label,
         |    $scoreCols
         |  FROM documents)
         |SELECT doc_id, lang_label,
         |  CASE $caseChain ELSE 'und' END AS lang_pred,
         |  score_en, score_de, score_es, score_fr, score_zh
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "text_langid_kappa" -> {
      val scoreCols = TextOpsOracle.langScoreCols(
        "regexp_extract_all(lower(text), '[a-z0-9]+')")
      val caseChain = TextOpsOracle.langCaseChain
      s"""WITH s AS (
         |  SELECT doc_id, lang AS lang_label,
         |    $scoreCols
         |  FROM documents),
         |conf AS (SELECT lang_label,
         |    CASE $caseChain ELSE 'und' END AS lang_pred, COUNT(*) AS c
         |  FROM s GROUP BY 1, 2),
         |rows_ AS (SELECT lang_label AS l, SUM(c) AS rn FROM conf GROUP BY 1),
         |cols_ AS (SELECT lang_pred AS l, SUM(c) AS cn FROM conf GROUP BY 1),
         |ag AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN lang_label = lang_pred THEN c ELSE 0 END)
         |      AS BIGINT) AS diag
         |  FROM conf),
         |pe AS (SELECT COALESCE(SUM(CAST(rn AS HUGEINT) * cn),
         |    CAST(0 AS HUGEINT)) AS rc
         |  FROM rows_ JOIN cols_ USING (l))
         |SELECT n, diag,
         |  round(CASE WHEN CAST(rc AS DOUBLE) =
         |      CAST(n AS DOUBLE) * CAST(n AS DOUBLE) THEN 0.0
         |    ELSE (CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
         |        - CAST(rc AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         |      / (1.0 - CAST(rc AS DOUBLE)
         |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END, 9) AS kappa
         |FROM ag CROSS JOIN pe""".stripMargin
    },
    // per-source vs corpus unigram JSD; absent mass folded analytically
    "text_js_drift" ->
      """WITH toks AS (
        |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |    AS term
        |  FROM documents),
        |bs AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |st AS (SELECT source, SUM(c) AS ns FROM bs GROUP BY 1),
        |g AS (SELECT term, SUM(c) AS g FROM bs GROUP BY 1),
        |gt AS (SELECT SUM(g) AS ng FROM g),
        |j AS (SELECT bs.source, st.ns,
        |    CAST(round((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
        |      * ln((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
        |        / ((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
        |          + CAST(g AS DOUBLE) / CAST(ng AS DOUBLE)) / 2.0))
        |      / ln(2.0), 12) AS DECIMAL(24,14)) AS cp,
        |    CAST(round((CAST(g AS DOUBLE) / CAST(ng AS DOUBLE))
        |      * ln((CAST(g AS DOUBLE) / CAST(ng AS DOUBLE))
        |        / ((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
        |          + CAST(g AS DOUBLE) / CAST(ng AS DOUBLE)) / 2.0))
        |      / ln(2.0), 12) AS DECIMAL(24,14)) AS cq,
        |    CAST(round(CAST(g AS DOUBLE) / CAST(ng AS DOUBLE), 12)
        |      AS DECIMAL(24,14)) AS qp
        |  FROM bs JOIN g USING (term) JOIN st USING (source) CROSS JOIN gt)
        |SELECT source, CAST(MAX(ns) AS BIGINT) AS n_tokens,
        |  round(0.5 * CAST(SUM(cp) AS DOUBLE)
        |    + 0.5 * (CAST(SUM(cq) AS DOUBLE)
        |      + (1.0 - CAST(SUM(qp) AS DOUBLE))), 9) AS jsd_bits
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // first-seen vocabulary + token mass at 32 id-range cuts, log-log
    // OLS in the a17 sufficient-statistic shape (round-12 ln barriers)
    "text_heaps_law" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |nv AS (SELECT (fd * 32) // (mx + 1) AS bucket, COUNT(*) AS v_new
        |  FROM (SELECT term, MIN(doc_id) AS fd FROM tf GROUP BY 1)
        |  CROSS JOIN mx GROUP BY 1),
        |nt AS (SELECT (doc_id * 32) // (mx + 1) AS bucket, SUM(tf) AS t_new
        |  FROM tf CROSS JOIN mx GROUP BY 1),
        |pts AS (SELECT bucket,
        |    SUM(t_new) OVER w AS cum_t, SUM(COALESCE(v_new, 0)) OVER w AS cum_v
        |  FROM nt LEFT JOIN nv USING (bucket)
        |  WINDOW w AS (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |xy AS (SELECT cum_t, cum_v,
        |    round(ln(CAST(cum_t AS DOUBLE)), 12) AS x,
        |    round(ln(CAST(cum_v AS DOUBLE)), 12) AS y
        |  FROM pts WHERE cum_t > 0 AND cum_v > 0),
        |sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |    CAST(MAX(cum_t) AS BIGINT) AS total_tokens,
        |    CAST(MAX(cum_v) AS BIGINT) AS total_vocab,
        |    SUM(CAST(x AS DECIMAL(24,14))) AS sx,
        |    SUM(CAST(y AS DECIMAL(24,14))) AS sy,
        |    SUM(CAST(round(x * x, 12) AS DECIMAL(24,14))) AS sxx,
        |    SUM(CAST(round(x * y, 12) AS DECIMAL(24,14))) AS sxy
        |  FROM xy),
        |b AS (SELECT *, round(
        |    (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
        |    + CAST(0.0 AS DOUBLE) AS beta
        |  FROM sums)
        |SELECT n_points, total_tokens, total_vocab, beta,
        |  round(exp((CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE))
        |    / CAST(n_points AS DOUBLE)), 6) AS k
        |FROM b""".stripMargin,
    "text_lang_confusion" -> {
      val scoreCols = TextOpsOracle.langScoreCols(
        "regexp_extract_all(lower(text), '[a-z0-9]+')")
      val caseChain = TextOpsOracle.langCaseChain
      s"""WITH s AS (
         |  SELECT doc_id, lang AS lang_label,
         |    $scoreCols
         |  FROM documents),
         |p AS (SELECT lang_label,
         |  CASE $caseChain ELSE 'und' END AS lang_pred FROM s)
         |SELECT lang_label, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp_full,
        |  md5(array_to_string(list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 3), ' ')) AS fp_head
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_edit_distance" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(substr(a.text,1,40), substr(b.text,1,40)) AS BIGINT) AS edit_dist
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND substr(a.text,1,10) = substr(b.text,1,10)
        |  AND a.doc_id < b.doc_id
        |WHERE levenshtein(substr(a.text,1,40), substr(b.text,1,40)) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,
    "er_jaro_pairs" -> ErJaroPairsOracle,
    "er_entities" ->
      """WITH RECURSIVE h AS (SELECT doc_id, lang, substr(text,1,32) AS head,
        |             substr(text,1,4) AS blk FROM documents),
        |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM h a JOIN h b
        |    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
        |  WHERE round(jaro_winkler_similarity(a.head, b.head), 6) >= 0.92),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
        |  UNION SELECT doc_b, doc_a FROM prs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u)
        |SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS entity_id
        |FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // the full stream replay emits exactly the batch pair set
    "stream_er_pairs" -> ErJaroPairsOracle,
    // same ER closure, then per-entity attribute fusion: mode via
    // max-count + MIN tie-break, mirrored exactly
    "er_golden_record" ->
      """WITH RECURSIVE h AS (SELECT doc_id, lang, substr(text,1,32) AS head,
        |             substr(text,1,4) AS blk FROM documents),
        |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM h a JOIN h b
        |    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
        |  WHERE round(jaro_winkler_similarity(a.head, b.head), 6) >= 0.92),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
        |  UNION SELECT doc_b, doc_a FROM prs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u),
        |t AS (SELECT d.doc_id, d.lang, d.source, d.n_chars,
        |  COALESCE(comp.component, d.doc_id) AS entity_id
        |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id),
        |base AS (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  MIN(doc_id) AS canonical_doc, MAX(n_chars) AS max_chars
        |  FROM t GROUP BY 1),
        |lc AS (SELECT entity_id, lang, COUNT(*) AS n FROM t GROUP BY 1, 2),
        |lm AS (SELECT entity_id, MIN(lang) AS lang FROM (
        |  SELECT entity_id, lang, n,
        |    MAX(n) OVER (PARTITION BY entity_id) AS mx FROM lc)
        |  WHERE n = mx GROUP BY 1),
        |sc AS (SELECT entity_id, source, COUNT(*) AS n FROM t GROUP BY 1, 2),
        |sm AS (SELECT entity_id, MIN(source) AS source FROM (
        |  SELECT entity_id, source, n,
        |    MAX(n) OVER (PARTITION BY entity_id) AS mx FROM sc)
        |  WHERE n = mx GROUP BY 1)
        |SELECT base.entity_id, n_members, canonical_doc, lang, source,
        |  max_chars
        |FROM base JOIN lm ON lm.entity_id = base.entity_id
        |JOIN sm ON sm.entity_id = base.entity_id
        |ORDER BY 1""".stripMargin,
    // literals mirror the Spark side UNFOLDED ((1.2 + 1.0), not 2.2):
    // both engines then run the identical IEEE op sequence, and the
    // round(…,6) absorbs ln/accumulation-order last-bit noise
    "text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('join', 'filter', 'customer') GROUP BY 1, 2),
        |stats AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
        |  CAST((SELECT count(*) FROM toks) AS DOUBLE) AS total_tokens),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (total_tokens / n_docs)))), 6) AS bm25
        |  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
        |  JOIN dfreq USING (term) CROSS JOIN stats
        |  GROUP BY 1)
        |SELECT doc_id, bm25,
        |  CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rnk
        |FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
        |  ORDER BY df DESC, term LIMIT 2097152),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, COALESCE(df, 1) AS df,
        |    round(tf * ln((n_docs + 1.0) / (COALESCE(df, 1) + 1.0)), 6) AS tfidf
        |  FROM tf LEFT JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf, rnk FROM (
        |  SELECT doc_id, term, tf, df, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,
    "text_pii_mask" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g'), '<NUM>')) AS BIGINT) AS n_nums,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS text_masked
        |FROM documents ORDER BY doc_id""".stripMargin,
    "pipe_sample_stratified" ->
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |        * power(16, 8 - i))) AS BIGINT) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, lang FROM u
        |WHERE u < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 0.9 ELSE 1.0 END)
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp,
        |  MIN(doc_id) AS survivor_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY survivor_id""".stripMargin,
    "dedup_span_exact" ->
      s"""WITH $ToksCte, px AS (
         |  SELECT doc_id, ws,
         |    CAST(unnest(range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) AS INT) AS pos
         |  FROM toks
         |), sp AS (
         |  SELECT doc_id, pos,
         |    array_to_string(list_slice(ws, pos*10 + 1, pos*10 + 10), ' ') AS span
         |  FROM px
         |), k AS (
         |  SELECT doc_id, pos, span,
         |    ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
         |  FROM sp
         |), keep AS (SELECT doc_id, pos, span FROM k WHERE rn = 1),
         |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id),
         |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
         |        string_agg(span, ' ' ORDER BY pos) AS kept_text FROM keep GROUP BY doc_id)
         |SELECT tot.doc_id AS doc_id, tot.n_spans, COALESCE(agg.n_kept, 0) AS n_kept,
         |       COALESCE(agg.kept_text, '') AS kept_text
         |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
         |ORDER BY 1""".stripMargin,
    "text_hashed_features" ->
      s"""WITH $ToksCte, tk AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
         |h AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(range(1, 9), i ->
         |      (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1) * power(16, 8 - i)))
         |      AS BIGINT) % 32 AS bucket
         |  FROM tk)
         |SELECT doc_id, bucket, COUNT(*) AS cnt
         |FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin,
    "c11_scd2" ->
      """WITH ch AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
        |  FROM events),
        |f AS (SELECT user_id, event_type, ts, event_id FROM ch
        |      WHERE prev_t IS NULL OR event_type <> prev_t)
        |SELECT user_id, event_type AS status, ts AS valid_from,
        |  lead(ts, 1) OVER w AS valid_to,
        |  (lead(ts, 1) OVER w IS NULL) AS is_current
        |FROM f
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from""".stripMargin,
    "a13_heavy_hitters" ->
      s"""WITH $ToksCte, tk AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
         |tot AS (SELECT COUNT(*) AS n_total FROM tk)
         |SELECT tok, COUNT(*) AS cnt
         |FROM tk CROSS JOIN tot
         |GROUP BY tok, n_total
         |HAVING COUNT(*) * 50 > n_total
         |ORDER BY cnt DESC, tok""".stripMargin,
    "text_bigram_lm" ->
      s"""WITH $ToksCte, px AS (
         |  SELECT doc_id, ws, CAST(unnest(range(0, len(ws))) AS INT) AS pos FROM toks
         |), pairs AS (
         |  SELECT doc_id, ws[pos] AS wprev, ws[pos+1] AS w FROM px WHERE pos >= 1
         |), c2 AS (SELECT wprev, w, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2
         |  ORDER BY c2 DESC, wprev, w LIMIT 2097152),
         |tk AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
         |c1 AS (SELECT tok, COUNT(*) AS c1 FROM tk GROUP BY tok),
         |st AS (SELECT SUM(c1) AS n_total, COUNT(*) AS v FROM c1)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CAST(round(ln(
         |      CASE WHEN c2.c2 IS NULL THEN 0.0
         |        ELSE 0.7 * (CAST(c2.c2 AS DOUBLE) / CAST(cp.c1 AS DOUBLE)) END +
         |        0.3 * (CAST(cw.c1 + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE))), 12)
         |      AS DECIMAL(24,14))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_logprob2
         |FROM pairs
         |LEFT JOIN c2 USING (wprev, w)
         |JOIN c1 cw ON cw.tok = pairs.w
         |JOIN c1 cp ON cp.tok = pairs.wprev
         |CROSS JOIN st
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the same LM scoring wrapped in a CTE, rolled up per source with
    // a round-9 DECIMAL barrier; perplexity off the ROUNDED mean
    "text_source_perplexity" ->
      s"""WITH $ToksCte, px AS (
         |  SELECT doc_id, ws, CAST(unnest(range(0, len(ws))) AS INT) AS pos FROM toks
         |), pairs AS (
         |  SELECT doc_id, ws[pos] AS wprev, ws[pos+1] AS w FROM px WHERE pos >= 1
         |), c2 AS (SELECT wprev, w, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2
         |  ORDER BY c2 DESC, wprev, w LIMIT 2097152),
         |tk AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
         |c1 AS (SELECT tok, COUNT(*) AS c1 FROM tk GROUP BY tok),
         |st AS (SELECT SUM(c1) AS n_total, COUNT(*) AS v FROM c1),
         |ds AS (SELECT doc_id,
         |  CAST(SUM(CAST(round(ln(
         |      CASE WHEN c2.c2 IS NULL THEN 0.0
         |        ELSE 0.7 * (CAST(c2.c2 AS DOUBLE) / CAST(cp.c1 AS DOUBLE)) END +
         |        0.3 * (CAST(cw.c1 + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE))), 12)
         |      AS DECIMAL(24,14))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS avg_logprob2
         |  FROM pairs
         |  LEFT JOIN c2 USING (wprev, w)
         |  JOIN c1 cw ON cw.tok = pairs.w
         |  JOIN c1 cp ON cp.tok = pairs.wprev
         |  CROSS JOIN st
         |  GROUP BY doc_id),
         |sr AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_scored,
         |    SUM(CAST(round(avg_logprob2, 9) AS DECIMAL(18,9))) AS s
         |  FROM ds JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT source, n_scored,
         |  round(CAST(s AS DOUBLE) / CAST(n_scored AS DOUBLE), 9)
         |    AS mean_logprob,
         |  round(exp(-round(CAST(s AS DOUBLE) / CAST(n_scored AS DOUBLE), 9)),
         |    6) AS perplexity
         |FROM sr ORDER BY source""".stripMargin,
    "a17_linear_fit" -> LinearFitOracleSql,
    "a18_autocorr" ->
      """WITH p AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS y,
        |    lag(CAST(value AS DECIMAL(18,2)), 1)
        |      OVER (PARTITION BY event_type ORDER BY ts, event_id) AS yl
        |  FROM events),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(y) AS sy, SUM(yl) AS syl, SUM(y*y) AS syy,
        |    SUM(yl*yl) AS syll, SUM(y*yl) AS syp
        |  FROM p WHERE yl IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n,
        |  round((CAST(n AS DOUBLE)*CAST(syp AS DOUBLE)
        |       - CAST(sy AS DOUBLE)*CAST(syl AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))
        |         * (CAST(n AS DOUBLE)*CAST(syll AS DOUBLE)
        |          - CAST(syl AS DOUBLE)*CAST(syl AS DOUBLE))), 12)
        |    AS autocorr_1
        |FROM s ORDER BY event_type""".stripMargin,
    "w18_attribution" ->
      """WITH t AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'click' THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_touch_ts
        |  FROM events)
        |SELECT event_id, user_id, ts, last_touch_ts,
        |  (last_touch_ts IS NOT NULL
        |   AND last_touch_ts >= ts - INTERVAL 7 DAY) AS attributed
        |FROM t WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,
    "c13_snapshot_diff" ->
      """WITH v2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 101 = 0),
        |d AS (
        |  SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |    WHEN b.o_orderkey IS NULL THEN 'removed'
        |    WHEN a.o_totalprice <> b.o_totalprice
        |      OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
        |    ELSE 'unchanged' END AS change_type
        |  FROM orders a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
        |SELECT change_type, COUNT(*) AS n FROM d
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c12_mv_maintain" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pipe_sample_bottomk" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      AS priority
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, priority,
        |    row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id)
        |      AS rnk
        |  FROM h)
        |SELECT lang, rnk, doc_id, priority FROM r WHERE rnk <= 40
        |ORDER BY lang, rnk""".stripMargin,
    "p5_unpivot" ->
      """WITH longf AS (
        |  SELECT l_returnflag, 'discount' AS measure, l_discount AS mval FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'quantity', l_quantity FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax', l_tax FROM lineitem)
        |SELECT l_returnflag, measure,
        |  CAST(SUM(CAST(mval AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS n_rows
        |FROM longf GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "w19_percent_rank" ->
      """WITH r AS (
        |  SELECT event_id, event_type,
        |    CAST(rank() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY value
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peers_le,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM events)
        |SELECT event_id, event_type,
        |  CASE WHEN n = 1 THEN 0.0
        |    ELSE round(CAST(rnk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE), 12) END AS pct_rank,
        |  round(CAST(peers_le AS DOUBLE) / CAST(n AS DOUBLE), 12) AS cume
        |FROM r ORDER BY event_id""".stripMargin,
    "w20_islands" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
        |  FROM days)
        |SELECT user_id, MIN(day) AS island_start, MAX(day) AS island_end,
        |  COUNT(*) AS n_days
        |FROM g GROUP BY user_id, grp ORDER BY user_id, island_start""".stripMargin,
    "a19_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |  row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
        |  FROM c)
        |SELECT user_id, event_type AS mode_type, n AS n_mode
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "a20_chisq" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS observed FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, SUM(observed) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT source, SUM(observed) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT SUM(observed) AS n FROM cells)
        |SELECT lang, source, observed,
        |  round(CAST(r AS DOUBLE) * c / n, 6) AS expected,
        |  round((CAST(observed AS DOUBLE) - CAST(r AS DOUBLE) * c / n)
        |      * (CAST(observed AS DOUBLE) - CAST(r AS DOUBLE) * c / n)
        |      / (CAST(r AS DOUBLE) * c / n), 6) AS contrib
        |FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot
        |ORDER BY lang, source""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250.0)
        |SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,
    "q7_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q17_small_quantity" ->
      """WITH pk AS (
        |  SELECT p_partkey FROM part
        |  WHERE p_brand = 'Brand#4' AND p_size <= 15),
        |li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem SEMI JOIN pk ON l_partkey = p_partkey),
        |avgq AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |  FROM li GROUP BY 1)
        |SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM li JOIN avgq USING (l_partkey)
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_order_histogram" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(month(l_shipdate) AS INT) AS ship_month,
        |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS promo_share,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2))
        |    BETWEEN CAST('0.04' AS DECIMAL(4,2))
        |    AND CAST('0.06' AS DECIMAL(4,2))
        |  AND l_quantity < 24""".stripMargin,
    "q12_ship_latency" ->
      """SELECT
        |  CAST(FLOOR(date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) / 30.0) AS BIGINT) AS delay_band,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_discounted_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q8_market_share" ->
      """WITH mkt_cust AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |promo_parts AS (
        |  SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(SUM(CASE WHEN n_name = 'NATION_7'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS mkt_share,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev
        |FROM lineitem
        |SEMI JOIN promo_parts ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |SEMI JOIN mkt_cust ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH late AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.sk = s_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.ok AND l2.l_suppkey <> l1.sk)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM late l3
        |    WHERE l3.ok = l1.ok AND l3.sk <> l1.sk)
        |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin,
    "q22_idle_customers" ->
      """WITH cust AS (
        |  SELECT * FROM customer WHERE c_nationkey <= 10),
        |avg_bal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_bal
        |  FROM cust WHERE c_acctbal > 0)
        |SELECT c_nationkey,
        |  COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM cust, avg_bal
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_ttr" ->
      s"""WITH $ToksCte
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
         |  CASE WHEN len(ws) = 0 THEN 0.0
         |    ELSE round(CAST(len(list_distinct(ws)) AS DOUBLE)
         |      / CAST(len(ws) AS DOUBLE), 6) END AS ttr
         |FROM toks ORDER BY doc_id""".stripMargin,
    "text_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    greatest(CAST(len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS BIGINT), 1) AS n_words,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sents,
        |    greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT), 1) AS n_vgroups
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_vgroups,
        |  round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)
        |    - 84.6 * CAST(n_vgroups AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS flesch
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_inverted_index" ->
      """WITH tf AS (
        |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |    FROM documents) GROUP BY 1, 2),
        |agg AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |ranked AS (
        |  SELECT term, doc_id, tf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS BIGINT) AS rnk
        |  FROM tf)
        |SELECT r.term, a.df, r.rnk, r.doc_id, r.tf
        |FROM ranked r JOIN agg a USING (term)
        |WHERE a.df >= 2 AND r.rnk <= 8
        |ORDER BY term, rnk""".stripMargin,
    "text_sentence_stats" ->
      """WITH s AS (
        |  SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(text, '[.!?]+'), s -> trim(s)),
        |    s -> len(s) > 0) AS ss
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_sent,
        |    list_transform(ss, s -> CAST(len(s) AS BIGINT)) AS lens FROM s)
        |SELECT doc_id, n_sent,
        |  CASE WHEN n_sent = 0 THEN 0.0
        |    ELSE round(CAST(list_sum(lens) AS DOUBLE) / CAST(n_sent AS DOUBLE), 6)
        |  END AS avg_sent_chars,
        |  CAST(COALESCE(list_max(lens), 0) AS BIGINT) AS max_sent_chars
        |FROM m ORDER BY doc_id""".stripMargin,
    "pipe_length_buckets" ->
      s"""WITH $ToksCte,
         |n AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM toks),
         |b AS (SELECT doc_id, n_tokens,
         |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (CAST(1 AS BIGINT) << (length(bin(n_tokens)) - 1)) END AS bucket
         |  FROM n)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipe_weighted_sample" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef',
        |              substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |           * power(16, 8 - i))) AS BIGINT) AS h32
        |  FROM documents),
        |k AS (
        |  SELECT doc_id,
        |    round(ln((CAST(h32 AS DOUBLE) + 1.0) / 4294967296.0)
        |      / greatest(CAST(n_chars AS DOUBLE), 1.0), 12) AS es_key
        |  FROM h)
        |SELECT doc_id, rnk, es_key FROM (
        |  SELECT doc_id, es_key,
        |    ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rnk FROM k)
        |WHERE rnk <= 200 ORDER BY rnk""".stripMargin,
    "pipe_mix_temperature" ->
      """WITH c AS (
        |  SELECT lang, CAST(SUM(length(text) // 4) AS BIGINT) AS est_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(est_tokens) AS BIGINT) AS total_tokens FROM c),
        |pa AS (
        |  SELECT lang, est_tokens, total_tokens,
        |    round(pow(CAST(est_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE),
        |      0.3), 12) AS pa
        |  FROM c, tot),
        |z AS (SELECT CAST(SUM(CAST(pa AS DECIMAL(24,14))) AS DOUBLE) AS z FROM pa)
        |SELECT lang, est_tokens,
        |  round(CAST(est_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 12)
        |    AS p_raw,
        |  round(pa / z, 12) AS p_temp
        |FROM pa, z ORDER BY lang""".stripMargin,
    "s14_textfile_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    "text_unigram_lm" ->
      s"""WITH $ToksCte, tk AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
         |tf AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
         |st AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM tf)
         |SELECT doc_id, COUNT(*) AS n_toks,
         |  CAST(SUM(CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE)), 12)
         |           AS DECIMAL(24,14))) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS avg_logprob
         |FROM tk JOIN tf USING (tok) CROSS JOIN st
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $MinhashPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    // both pair pipelines spliced (CTE namespaces are disjoint:
    // minhash uses toks/sh/hashed/mh/bands/cand/sizes/inter/pairs,
    // simhash uses tok/h/bits/s/sig)
    "dedup_scheme_agreement" ->
      s"""WITH $MinhashPairsCtes,
         |$SimhashSigCte,
         |shp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |c AS (SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_minhash,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM shp) AS n_simhash,
         |  (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM pairs p JOIN shp USING (doc_a, doc_b)) AS n_both)
         |SELECT n_minhash, n_simhash, n_both,
         |  CASE WHEN n_minhash + n_simhash - n_both = 0 THEN CAST(1.0 AS DOUBLE)
         |       ELSE round(CAST(n_both AS DOUBLE)
         |         / CAST(n_minhash + n_simhash - n_both AS DOUBLE), 6)
         |  END AS pair_jaccard
         |FROM c""".stripMargin,
    "dedup_lsh_recall" ->
      s"""WITH $MinhashPairsCtes,
         |ex AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |epairs AS (
         |  SELECT doc_a, doc_b
         |  FROM ex
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5)
         |SELECT (SELECT COUNT(*) FROM epairs) AS n_exact,
         |  (SELECT COUNT(*) FROM pairs) AS n_lsh,
         |  (SELECT COUNT(*) FROM epairs e
         |   LEFT JOIN pairs p ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b
         |   WHERE p.doc_a IS NULL) AS n_missed""".stripMargin,
    "dedup_lsh_recall_sampled" ->
      s"""WITH $MinhashPairsCtes,
         |exs AS (
         |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         |    greatest(a.doc_id, b.doc_id) AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id <> a.doc_id
         |    AND (b.doc_id % 10 <> 0 OR a.doc_id < b.doc_id)
         |  GROUP BY 1, 2),
         |eps AS (
         |  SELECT doc_a, doc_b
         |  FROM exs
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
         |lshs AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE doc_a % 10 = 0 OR doc_b % 10 = 0)
         |SELECT (SELECT COUNT(*) FROM eps) AS n_exact_s,
         |  (SELECT COUNT(*) FROM lshs) AS n_lsh_s,
         |  (SELECT COUNT(*) FROM eps e
         |   LEFT JOIN lshs p ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b
         |   WHERE p.doc_a IS NULL) AS n_missed_s""".stripMargin,
    // pairs + mh come from the same CTE family; 16 unrolled equality
    // terms, exact-Jaccard round-9 decimal mean per agreement level
    "dedup_minhash_calibration" -> {
      val terms = (0 until 16)
        .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)")
        .mkString("\n         |    + ")
      s"""WITH $MinhashPairsCtes,
         |est AS (SELECT p.doc_a, p.doc_b, p.jaccard,
         |    CAST($terms AS BIGINT) AS n_match
         |  FROM pairs p
         |  JOIN mh a ON a.doc_id = p.doc_a
         |  JOIN mh b ON b.doc_id = p.doc_b)
         |SELECT n_match, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  round(CAST(SUM(CAST(round(jaccard, 9) AS DECIMAL(24,12)))
         |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS avg_jaccard
         |FROM est GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "dedup_components" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, least(u, min(v)) AS component
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    "pipe_dedup_report" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |np AS (SELECT COUNT(*) AS n_pairs FROM pairs),
         |cl AS (SELECT COUNT(DISTINCT component) AS n_clusters,
         |  COUNT(*) AS n_paired FROM comp)
         |SELECT n_docs, n_pairs, n_clusters, n_paired,
         |  n_docs - (n_paired - n_clusters) AS n_survivors,
         |  round(CAST(n_docs - (n_paired - n_clusters) AS DOUBLE) / n_docs, 6)
         |    AS pct_kept
         |FROM nd CROSS JOIN np CROSS JOIN cl""".stripMargin,
    // three explicit vote rounds — the SQL image of labelPropagation's
    // bounded loop (most-frequent neighbor label, ties to smallest)
    "dedup_lpa" ->
      s"""WITH $MinhashPairsCtes,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT u, u AS label FROM e),
         |v1 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l0 l ON l.u = e.v GROUP BY 1, 2),
         |l1 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v1) WHERE rn = 1),
         |v2 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l1 l ON l.u = e.v GROUP BY 1, 2),
         |l2 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v2) WHERE rn = 1),
         |v3 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l2 l ON l.u = e.v GROUP BY 1, 2),
         |l3 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v3) WHERE rn = 1)
         |SELECT u AS doc_id, label FROM l3 ORDER BY doc_id""".stripMargin,
    // the same three vote rounds, then per-community sufficient stats:
    // internal edges, degree sum, and the two-term modularity formula
    // behind a round(...,12) barrier
    "dedup_modularity" ->
      s"""WITH $MinhashPairsCtes,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT u, u AS label FROM e),
         |v1 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l0 l ON l.u = e.v GROUP BY 1, 2),
         |l1 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v1) WHERE rn = 1),
         |v2 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l1 l ON l.u = e.v GROUP BY 1, 2),
         |l2 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v2) WHERE rn = 1),
         |v3 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l2 l ON l.u = e.v GROUP BY 1, 2),
         |l3 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v3) WHERE rn = 1),
         |deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
         |ns AS (SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  CAST(SUM(deg.d) AS BIGINT) AS deg_sum
         |  FROM l3 l JOIN deg ON deg.u = l.u GROUP BY 1),
         |ein AS (SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_in
         |  FROM pairs p
         |  JOIN l3 la ON la.u = p.doc_a
         |  JOIN l3 lb ON lb.u = p.doc_b AND lb.label = la.label
         |  GROUP BY 1),
         |m AS (SELECT COUNT(*) AS m FROM pairs)
         |SELECT ns.label, ns.n_nodes, COALESCE(ein.e_in, 0) AS e_in,
         |  ns.deg_sum,
         |  round(CAST(COALESCE(ein.e_in, 0) AS DOUBLE) / m.m
         |    - power(CAST(ns.deg_sum AS DOUBLE) / (m.m * 2), 2), 12) AS contrib
         |FROM ns LEFT JOIN ein ON ein.label = ns.label CROSS JOIN m
         |ORDER BY 1""".stripMargin,
    // wedge join with the SAME degree-capped centers as the operator,
    // minus the real edge list = never-co-ordered recommendation pairs
    "graph_link_predict" ->
      """WITH p AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
        |    greatest(a.l_partkey, b.l_partkey) AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT x AS u, y AS v FROM p UNION ALL SELECT y, x FROM p),
        |c AS (SELECT u FROM e GROUP BY u HAVING COUNT(*) <= 64),
        |adj AS (SELECT e.u, e.v FROM e JOIN c ON c.u = e.u),
        |cnc AS (SELECT l.v AS doc_a, r.v AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT cnc.doc_a AS part_a, cnc.doc_b AS part_b, cnc.n_common FROM cnc
        |LEFT JOIN p ON p.x = cnc.doc_a AND p.y = cnc.doc_b
        |WHERE p.x IS NULL
        |ORDER BY 1, 2""".stripMargin,
    // three explicit peel rounds — the SQL image of kTruss's bounded
    // loop: support(x,y) = common-neighbor count over the surviving
    // symmetric edge set, edges keep >= k-2 = 10 witnesses
    "graph_ktruss" -> {
      def round(i: Int): String = {
        val prev = s"e$i"
        val n = i + 1
        s"""s$n AS MATERIALIZED (SELECT x AS u, y AS v FROM $prev
           |  UNION ALL SELECT y, x FROM $prev),
           |e$n AS MATERIALIZED (SELECT e.x, e.y FROM $prev e
           |  JOIN s$n a ON a.u = e.x
           |  JOIN s$n b ON b.u = e.y AND b.v = a.v
           |  GROUP BY e.x, e.y HAVING COUNT(*) >= 10)""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
         |    greatest(a.l_partkey, b.l_partkey) AS y
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |${round(0)},
         |${round(1)},
         |${round(2)}
         |SELECT x AS part_a, y AS part_b FROM e3
         |ORDER BY part_a, part_b""".stripMargin
    },
    // the LPA vote's community-pair edge census (intra: comm_a=comm_b)
    "dedup_community_edges" ->
      s"""WITH $MinhashPairsCtes,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT u, u AS label FROM e),
         |v1 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l0 l ON l.u = e.v GROUP BY 1, 2),
         |l1 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v1) WHERE rn = 1),
         |v2 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l1 l ON l.u = e.v GROUP BY 1, 2),
         |l2 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v2) WHERE rn = 1),
         |v3 AS (SELECT e.u, l.label AS vl, COUNT(*) AS n
         |  FROM e JOIN l2 l ON l.u = e.v GROUP BY 1, 2),
         |l3 AS (SELECT u, vl AS label FROM (
         |  SELECT u, vl, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, vl) AS rn
         |  FROM v3) WHERE rn = 1)
         |SELECT least(la.label, lb.label) AS comm_a,
         |  greatest(la.label, lb.label) AS comm_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_edges
         |FROM pairs p
         |JOIN l3 la ON la.u = p.doc_a
         |JOIN l3 lb ON lb.u = p.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // three explicit peel rounds — the SQL image of kCore's bounded loop
    "dedup_kcore" ->
      s"""WITH $MinhashPairsCtes,
         |e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |v1 AS (SELECT u FROM e0 GROUP BY u HAVING COUNT(*) >= 2),
         |e1 AS MATERIALIZED (SELECT e.u, e.v FROM e0 e
         |  JOIN v1 a ON e.u = a.u JOIN v1 b ON e.v = b.u),
         |v2 AS (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 2),
         |e2 AS MATERIALIZED (SELECT e.u, e.v FROM e1 e
         |  JOIN v2 a ON e.u = a.u JOIN v2 b ON e.v = b.u),
         |v3 AS (SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 2),
         |e3 AS (SELECT e.u, e.v FROM e2 e
         |  JOIN v3 a ON e.u = a.u JOIN v3 b ON e.v = b.u)
         |SELECT u AS doc_id, COUNT(*) AS deg
         |FROM e3 GROUP BY u ORDER BY doc_id""".stripMargin,
    // longest-doc survivor policy over the same component labeling
    "dedup_survivors_rank" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |best AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, ROW_NUMBER() OVER (PARTITION BY c.component
         |      ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |    FROM comp c JOIN documents d ON d.doc_id = c.doc_id) WHERE rn = 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM comp)
         |UNION ALL SELECT doc_id FROM best
         |ORDER BY doc_id""".stripMargin,
    // SemDeDup: the k-means assignment CTE gates the pair join; exact
    // cosine verify within clusters (cross-cluster pairs missed by
    // construction on BOTH engines)
    "dedup_semantic" ->
      s"""WITH $KmeansCtes,
         |km AS (SELECT vec_id, cluster FROM a2)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |FROM km a JOIN km b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |JOIN embeddings ea ON ea.vec_id = a.vec_id
         |JOIN embeddings eb ON eb.vec_id = b.vec_id
         |WHERE ${duckCosine("ea.embedding", "eb.embedding")} >= 0.463
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_survivors" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
         |ORDER BY doc_id""".stripMargin,
    "dedup_incremental" -> {
      val agreeSql = (0 until 16)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      def bandsOf(src: String) = (0 until 8).map { j =>
        s"SELECT doc_id, $j AS band, CAST(m${2 * j} AS VARCHAR) || '_' || " +
          s"CAST(m${2 * j + 1} AS VARCHAR) AS band_key FROM $src"
      }.mkString("\n  UNION ALL ")
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |$HashedMhCtes,
         |newmh AS (SELECT * FROM mh WHERE doc_id % 10 = 0),
         |idxmh AS (SELECT * FROM mh WHERE doc_id % 10 <> 0),
         |nbands AS (
         |  ${bandsOf("newmh")}),
         |ibands AS (
         |  ${bandsOf("idxmh")}),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS corpus_id
         |  FROM nbands n JOIN ibands i
         |    ON n.band = i.band AND n.band_key = i.band_key AND n.doc_id <> i.doc_id)
         |SELECT new_id, corpus_id, ($agreeSql) / 16.0 AS est_jaccard
         |FROM cand c
         |JOIN mh a ON a.doc_id = c.new_id
         |JOIN mh b ON b.doc_id = c.corpus_id
         |WHERE ($agreeSql) / 16.0 >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin
    },
    "dedup_ngram_jaccard" ->
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
         |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // prefix filtering changes only candidate generation; the exact
    // pair set (and thus the oracle) is identical to the all-pairs join
    "dedup_jaccard_prefix" ->
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
         |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |sc AS (
         |  SELECT doc_a, doc_b, i, sa.n AS na, sb.n AS nb
         |  FROM pairs
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b),
         |dirs AS (
         |  SELECT doc_a AS doc_contained, doc_b AS doc_container,
         |    CAST(i AS DOUBLE) / na AS containment FROM sc
         |  UNION ALL
         |  SELECT doc_b, doc_a, CAST(i AS DOUBLE) / nb FROM sc)
         |SELECT doc_contained, doc_container, containment
         |FROM dirs WHERE containment >= 0.6
         |ORDER BY doc_contained, doc_container""".stripMargin,
    "text_oov" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(ws) AS term FROM toks),
         |vocab AS (SELECT term FROM (
         |  SELECT term, count(*) AS freq FROM tok GROUP BY term
         |  ORDER BY freq DESC, term LIMIT 20)),
         |agg AS (
         |  SELECT t.doc_id, count(*) AS n_tokens,
         |    count(*) FILTER (v.term IS NULL) AS n_oov
         |  FROM tok t LEFT JOIN vocab v USING (term)
         |  GROUP BY t.doc_id)
         |SELECT doc_id, n_tokens, n_oov,
         |  CAST(n_oov AS DOUBLE) / n_tokens AS oov_ratio
         |FROM agg ORDER BY doc_id""".stripMargin,
    // script counts by the same explicit BMP ranges via the
    // length-difference trick; the 'g' flag makes regexp_replace
    // global like Spark's
    "text_script" -> {
      def cnt(cls: String, as: String) =
        s"CAST(len(text) - len(regexp_replace(text, '$cls', '', 'g')) AS BIGINT) AS $as"
      s"""WITH c AS (SELECT doc_id, len(text) AS n_total,
         |  ${cnt("[A-Za-z]", "n_latin")},
         |  ${cnt("[\\x{0400}-\\x{04FF}]", "n_cyrillic")},
         |  ${cnt("[\\x{0370}-\\x{03FF}]", "n_greek")},
         |  ${cnt("[\\x{4E00}-\\x{9FFF}]", "n_cjk")},
         |  ${cnt("[0-9]", "n_digit")},
         |  ${cnt("[ \\t\\n\\r]", "n_space")}
         |FROM documents)
         |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_digit, n_space,
         |  CAST(n_total AS BIGINT) AS n_total,
         |  CAST(n_total - n_latin - n_cyrillic - n_greek - n_cjk - n_digit
         |    - n_space AS BIGINT) AS n_other
         |FROM c ORDER BY doc_id""".stripMargin
    },
    // mixture weights: exact BIGINT token sums, one double division
    "pipe_mixture" ->
      """WITH tk AS (SELECT lang, CAST(SUM(len(text) // 4) AS BIGINT) AS est_tokens
        |  FROM documents GROUP BY lang),
        |sh(lang, share) AS (VALUES
        |  ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
        |  ('zh', CAST(0.1 AS DOUBLE)))
        |SELECT t.lang, est_tokens,
        |  coalesce(share, 0.0) AS target_share,
        |  least(1.0, 20000.0 * coalesce(share, 0.0) / est_tokens) AS weight
        |FROM tk t LEFT JOIN sh USING (lang) ORDER BY lang""".stripMargin,
    "text_novelty" ->
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |fo AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
         |SELECT s.doc_id, count(*) AS n_shingles,
         |  count(*) FILTER (f.first_doc = s.doc_id) AS n_novel,
         |  CAST(count(*) FILTER (f.first_doc = s.doc_id) AS DOUBLE)
         |    / count(*) AS novelty
         |FROM sh s JOIN fo f USING (sh)
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,
    "dedup_simhash64" ->
      s"""WITH $ToksCte,
         |$Simhash64SigCte
         |SELECT doc_id, simhash_hi, simhash_lo FROM sig ORDER BY doc_id""".stripMargin,
    "j10_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "j8_bloom_semijoin" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "w16_ewma" -> EwmaOracleSql,
    "w17_pattern_match" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts,
        |    lead(event_type, 1) OVER w AS e1,
        |    lead(event_type, 2) OVER w AS e2,
        |    lead(ts, 2) OVER w AS t2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, COUNT(*) AS n_matches FROM r
        |WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
        |  AND epoch_us(t2) - epoch_us(ts) <= 86400000000
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a14_histogram" ->
      """WITH mm AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
        |SELECT LEAST(CAST(floor((value - lo) * 20.0 / (hi - lo)) AS BIGINT), 19) AS bin,
        |       COUNT(*) AS n
        |FROM events CROSS JOIN mm GROUP BY 1 ORDER BY 1""".stripMargin,
    "a15_corr" -> CorrOracleSql,
    "a16_pmi" ->
      """WITH b AS (SELECT event_type, CAST(hour(ts) AS INT) AS hod FROM events),
        |cxy AS (SELECT event_type, hod, COUNT(*) AS n_xy FROM b GROUP BY 1,2),
        |cx AS (SELECT event_type, COUNT(*) AS n_x FROM b GROUP BY 1),
        |cy AS (SELECT hod, COUNT(*) AS n_y FROM b GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_tot FROM b)
        |SELECT cxy.event_type, cxy.hod, n_xy,
        |  round(ln(CAST(n_xy * n_tot AS DOUBLE) / CAST(n_x * n_y AS DOUBLE)), 12) AS pmi
        |FROM cxy JOIN cx USING (event_type) JOIN cy USING (hod) CROSS JOIN tot
        |ORDER BY event_type, hod""".stripMargin,
    "stream_anomaly" ->
      """WITH c AS (SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
        |r AS (SELECT user_id, event_id, vc,
        |    COUNT(*) OVER wprev AS n_prev,
        |    COALESCE(SUM(vc) OVER wprev, 0) AS s_prev,
        |    COALESCE(SUM(vc * vc) OVER wprev, 0) AS ss_prev
        |  FROM c
        |  WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id,
        |  CASE WHEN n_prev >= 5 AND
        |    (vc * n_prev - s_prev) * (vc * n_prev - s_prev)
        |      > 9 * (n_prev * ss_prev - s_prev * s_prev)
        |  THEN true ELSE false END AS is_anomaly
        |FROM r ORDER BY user_id, event_id""".stripMargin,
    "j6_salted_skew_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN l_orderkey % 4 = 0 THEN 0 ELSE l_orderkey % 500 END AS k,
        |         l_quantity
        |  FROM lineitem),
        |d AS (
        |  SELECT o_orderkey % 500 AS dk,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS dim_total
        |  FROM orders GROUP BY 1)
        |SELECT k, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       MAX(dim_total) AS dim_total
        |FROM f JOIN d ON f.k = d.dk
        |GROUP BY k ORDER BY k""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_triangles" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte,
         |edges AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
         |SELECT count(*) AS n_triangles
         |FROM edges e1 JOIN edges e2 ON e1.b = e2.a
         |JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    "dedup_degree_hist" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte,
         |prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |sym AS (SELECT doc_a AS v FROM prs UNION ALL SELECT doc_b FROM prs),
         |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM sym GROUP BY 1)
         |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vertices
         |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_clustering_coeff" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte,
         |edges AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
         |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sym AS (SELECT a AS u FROM edges UNION ALL SELECT b FROM edges),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
         |w AS (SELECT CAST(COALESCE(SUM(CAST(d AS HUGEINT) * (d - 1)), 0) // 2
         |    AS BIGINT) AS n_wedges FROM deg)
         |SELECT n_triangles, n_wedges,
         |  CASE WHEN n_wedges = 0 THEN 0.0
         |    ELSE round(3.0 * CAST(n_triangles AS DOUBLE)
         |      / CAST(n_wedges AS DOUBLE), 9) END AS gcc
         |FROM tri CROSS JOIN w""".stripMargin,
    "dedup_assortativity" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte,
         |prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |sym AS (SELECT doc_a AS u, doc_b AS v FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
         |stats AS (
         |  SELECT COUNT(*) AS m,
         |    SUM(CAST(da.d AS HUGEINT)) AS sx, SUM(CAST(db.d AS HUGEINT)) AS sy,
         |    SUM(CAST(da.d AS HUGEINT) * da.d) AS ssx,
         |    SUM(CAST(db.d AS HUGEINT) * db.d) AS ssy,
         |    SUM(CAST(da.d AS HUGEINT) * db.d) AS sp
         |  FROM sym JOIN deg da ON sym.u = da.u JOIN deg db ON sym.v = db.u)
         |SELECT m AS n_directed_edges,
         |  CASE WHEN m = 0 OR (CAST(m AS DOUBLE) * CAST(ssx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(m AS DOUBLE) * CAST(ssy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0 THEN 0.0
         |    ELSE round((CAST(m AS DOUBLE) * CAST(sp AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / sqrt((CAST(m AS DOUBLE) * CAST(ssx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * (CAST(m AS DOUBLE) * CAST(ssy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 12)
         |  END AS assortativity
         |FROM stats""".stripMargin,
    // exact ball materialization + bottom-8 per vertex: the bottom-k
    // union morphism makes the engine's register iteration equal this
    // bit-for-bit (quadratic membership is oracle-only)
    "dedup_ball2_kmv" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte,
         |prs AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |sym AS (SELECT u, v FROM prs UNION ALL SELECT v, u FROM prs),
         |b1 AS (SELECT u, v FROM sym UNION SELECT DISTINCT u, u FROM sym),
         |b2 AS (SELECT b1.u, s.v FROM b1 JOIN sym s ON b1.v = s.u
         |  UNION SELECT u, v FROM b1),
         |hh AS (SELECT DISTINCT u,
         |  CAST(('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13)) AS BIGINT) AS h
         |  FROM b2),
         |r AS (SELECT u, h,
         |  ROW_NUMBER() OVER (PARTITION BY u ORDER BY h) AS rnk,
         |  COUNT(*) OVER (PARTITION BY u) AS nd FROM hh)
         |SELECT u AS doc_id,
         |  CASE WHEN MAX(nd) < 8 THEN MAX(nd)
         |    ELSE CAST(floor(7 * 4503599627370496.0 / MAX(h)) AS BIGINT)
         |  END AS ball_est
         |FROM r WHERE rnk <= 8 GROUP BY u ORDER BY u""".stripMargin,
    "dedup_clique_density" ->
      s"""WITH RECURSIVE $ToksCte,
         |$SimhashSigCte,
         |prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
         |  UNION SELECT doc_b, doc_a FROM prs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |nodes AS (SELECT component, count(*) AS n_docs FROM comp GROUP BY 1),
         |pe AS (
         |  SELECT c.component, count(*) AS n_pairs
         |  FROM prs p JOIN comp c ON c.doc_id = p.doc_a GROUP BY 1),
         |tri AS (
         |  SELECT c.component, count(*) AS n_triangles
         |  FROM prs e1 JOIN prs e2 ON e1.doc_b = e2.doc_a
         |  JOIN prs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
         |  JOIN comp c ON c.doc_id = e1.doc_a
         |  GROUP BY 1)
         |SELECT component, n_docs, n_pairs,
         |  COALESCE(n_triangles, 0) AS n_triangles
         |FROM nodes JOIN pe USING (component) LEFT JOIN tri USING (component)
         |ORDER BY component""".stripMargin,
    // 3 unrolled fixed-point power steps (BIGINT ranks in 1e-15
    // units): floor divisions + integer sums are order-independent,
    // so the hash compare is exact with no float hand-shake
    "dedup_pagerank" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte,
         |prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
         |nv AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT u, 1000000000000000 // (SELECT n FROM nv) AS r FROM deg),
         |${prStep("r0", "r1")},
         |${prStep("r1", "r2")},
         |${prStep("r2", "r3")}
         |SELECT u AS doc_id, r AS pr_rank_e15,
         |  CAST(r AS DOUBLE) / 1000000000000000.0 AS pr_rank
         |FROM r3 ORDER BY doc_id""".stripMargin,
    "dedup_ppr" ->
      s"""WITH $ToksCte,
         |$SimhashSigCte,
         |prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
         |ns AS (SELECT count(*) AS n FROM deg WHERE u % 50 = 0),
         |tele AS (SELECT u, 150000000000000 // (SELECT n FROM ns) AS tele
         |  FROM deg WHERE u % 50 = 0),
         |r0 AS (SELECT u, 1000000000000000 // (SELECT n FROM ns) AS r
         |  FROM deg WHERE u % 50 = 0),
         |${pprStep("r0", "r1")},
         |${pprStep("r1", "r2")},
         |${pprStep("r2", "r3")}
         |SELECT u AS doc_id, r AS ppr_e15,
         |  CAST(r AS DOUBLE) / 1000000000000000.0 AS ppr
         |FROM r3 ORDER BY doc_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.463
         |ORDER BY vec_a, vec_b""".stripMargin,
    "sim_range_search" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 25 = 0)
         |SELECT query_id, vec_id AS neighbor_id
         |FROM embeddings CROSS JOIN q
         |WHERE vec_id <> query_id
         |  AND ${duckCosine("qe", "embedding")} >= 0.4
         |ORDER BY query_id, neighbor_id""".stripMargin,
    "sim_knn_label" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS own_label
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |scored AS (
         |  SELECT query_id, own_label, vec_id, label, ${duckCosine("qe", "embedding")} AS sim
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
         |topk AS (
         |  SELECT query_id, own_label, label FROM (
         |    SELECT query_id, own_label, label,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |    FROM scored)
         |  WHERE rnk <= 5),
         |votes AS (
         |  SELECT query_id, own_label, label, count(*) AS cnt
         |  FROM topk GROUP BY query_id, own_label, label)
         |SELECT query_id, own_label, label AS knn_label,
         |  CAST(own_label = label AS INT) AS agree
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cnt DESC, label) AS rn
         |  FROM votes)
         |WHERE rn = 1 ORDER BY query_id""".stripMargin,
    "w10_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
        |u AS (SELECT user_id FROM s1 UNION ALL SELECT user_id FROM s2
        |  UNION ALL SELECT user_id FROM s3)
        |SELECT user_id, CAST(count(*) AS INT) AS steps_reached
        |FROM u GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the batch windowed-funnel restatement of the evicting streaming
    // funnel: steps strictly ordered inside [first view, +3 days]
    "stream_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t
        |    AND e.ts <= s1.t + INTERVAL 3 DAY GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |    AND e.ts <= s1.t + INTERVAL 3 DAY GROUP BY e.user_id),
        |u AS (SELECT user_id FROM s1 UNION ALL SELECT user_id FROM s2
        |  UNION ALL SELECT user_id FROM s3)
        |SELECT user_id, CAST(count(*) AS INT) AS steps_reached
        |FROM u GROUP BY user_id ORDER BY user_id""".stripMargin,
    "j7_interval_overlap" ->
      """SELECT a.l_partkey AS l_partkey, count(*) AS n_overlaps
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        |  AND a.l_shipdate <= b.l_shipdate + INTERVAL 7 DAY
        |  AND b.l_shipdate <= a.l_shipdate + INTERVAL 7 DAY
        |GROUP BY a.l_partkey ORDER BY l_partkey""".stripMargin,
    "w11_retention" ->
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id),
        |a AS (SELECT DISTINCT c.cohort_day,
        |    date_diff('day', c.cohort_day, d.day) AS day_offset, d.user_id
        |  FROM d JOIN c ON d.user_id = c.user_id)
        |SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
        |  count(*) AS n_users
        |FROM a GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // windows rank the DECIMAL metrics (cast to double only in the
    // final projection, so tile boundaries cannot drift)
    "a35_rfm_segments" ->
      """WITH per AS (SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |    COUNT(*) AS frequency,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY 1),
        |q AS (SELECT o_custkey, frequency, monetary,
        |    NTILE(4) OVER (ORDER BY last_order, o_custkey) AS r,
        |    NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f,
        |    NTILE(4) OVER (ORDER BY monetary, o_custkey) AS m
        |  FROM per)
        |SELECT o_custkey, CAST(frequency AS BIGINT) AS frequency,
        |  CAST(monetary AS DOUBLE) AS monetary,
        |  CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
        |  CAST(r*100 + f*10 + m AS INT) AS rfm_code
        |FROM q ORDER BY o_custkey""".stripMargin,
    // integer-exact pair/item/order counts; rounded lift + pair id as
    // the deterministic top-20 sort key
    "j11_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ord, l_partkey AS item
        |  FROM lineitem),
        |pc AS (SELECT a.item AS part_a, b.item AS part_b, COUNT(*) AS n_ab
        |  FROM items a JOIN items b ON a.ord = b.ord AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |ic AS (SELECT item, COUNT(*) AS ni FROM items GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(DISTINCT ord) AS BIGINT) AS n_orders
        |  FROM items)
        |SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE), 9)
        |    AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(na.ni AS DOUBLE), 9)
        |    AS conf_a_to_b,
        |  round(CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |    / (CAST(na.ni AS DOUBLE) * CAST(nb.ni AS DOUBLE)), 9) AS lift
        |FROM pc
        |JOIN ic na ON na.item = pc.part_a
        |JOIN ic nb ON nb.item = pc.part_b
        |CROSS JOIN tot
        |ORDER BY lift DESC, part_a, part_b LIMIT 20""".stripMargin,
    // same transition cells; hits = argmax cell, steps = row sum —
    // ties cannot move the accuracy, only the reported label (MIN)
    // fixed-point cents, integer-domain medians, 3x MAD integer cut
    "a42_mad_outliers" ->
      """WITH c AS (SELECT event_type, floor(value * 100 + 0.5) AS c
        |  FROM events),
        |med AS (SELECT event_type, quantile_cont(c, 0.5) AS med
        |  FROM c GROUP BY 1),
        |dev AS (SELECT c.event_type, abs(CAST(c.c AS DOUBLE) - med) AS ad
        |  FROM c JOIN med USING (event_type)),
        |mad AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT dev.event_type, MAX(mad.n) AS n, MAX(med.med) AS med,
        |  MAX(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN ad > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type) JOIN med USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact daily counts; identical squared-deviation shapes, decimal
    // day-scale sums, strength pinned 0.0 on a constant series
    "a44_seasonality" ->
      """WITH daily AS (SELECT (CAST(ts AS DATE) - DATE '2024-01-01') AS d,
        |    COUNT(*) AS c FROM events GROUP BY 1),
        |dw AS (SELECT d, c, d % 7 AS dow FROM daily),
        |dm AS (SELECT dow, CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS m_dow FROM dw GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m_all
        |  FROM dw),
        |terms AS (SELECT n_days,
        |    CAST(round((CAST(c AS DOUBLE) - m_dow)
        |      * (CAST(c AS DOUBLE) - m_dow), 9) AS DECIMAL(24,10)) AS w,
        |    CAST(round((CAST(c AS DOUBLE) - m_all)
        |      * (CAST(c AS DOUBLE) - m_all), 9) AS DECIMAL(24,10)) AS t
        |  FROM dw JOIN dm USING (dow) CROSS JOIN tt)
        |SELECT n_days, round(CAST(SUM(w) AS DOUBLE), 6) AS sse_within,
        |  round(CAST(SUM(t) AS DOUBLE), 6) AS ss_total,
        |  CASE WHEN CAST(SUM(t) AS DOUBLE) = 0.0 THEN 0.0
        |    ELSE round(1.0 - CAST(SUM(w) AS DOUBLE) / CAST(SUM(t) AS DOUBLE),
        |      9) END AS strength
        |FROM terms GROUP BY 1""".stripMargin,
    // cumulative day-scale sums; argmax gap with ties to earliest day
    "a45_changepoint" ->
      """WITH daily AS (SELECT (CAST(ts AS DATE) - DATE '2024-01-01') AS d,
        |    COUNT(*) AS c FROM events GROUP BY 1),
        |tt AS (SELECT SUM(c) AS s_all, COUNT(*) AS n_all FROM daily),
        |sc AS (SELECT d,
        |    COALESCE(SUM(c) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s1,
        |    COALESCE(COUNT(*) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
        |  FROM daily),
        |gaps AS (SELECT d,
        |    round(abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(s_all - s1 AS DOUBLE) / CAST(n_all - n1 AS DOUBLE)), 9)
        |      AS gap
        |  FROM sc CROSS JOIN tt WHERE n1 > 0 AND n1 < n_all),
        |sel AS (SELECT d, gap,
        |    ROW_NUMBER() OVER (ORDER BY gap DESC, d) AS rn FROM gaps),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_splits FROM gaps)
        |SELECT n_splits, CAST(d AS BIGINT) AS change_day, gap AS mean_gap
        |FROM sel CROSS JOIN n WHERE rn = 1""".stripMargin,
    // per-key counts -> bounded summary; skew ratio in one double shape
    "j15_skew_probe" ->
      """WITH pk AS (SELECT l_orderkey, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    quantile_cont(cnt, 0.99) AS p99,
        |    CAST(MAX(cnt) AS BIGINT) AS max_cnt
        |  FROM pk)
        |SELECT n_keys, n_rows,
        |  round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 9)
        |    AS mean_cnt,
        |  p99, max_cnt,
        |  round(CAST(max_cnt AS DOUBLE)
        |    / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 6)
        |    AS skew_ratio
        |FROM s""".stripMargin,
    // per-FD keyed countDistinct + bounded rollup; both verdicts
    "j16_fd_profile" ->
      """WITH f1 AS (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nd
        |  FROM orders GROUP BY 1),
        |a1 AS (SELECT 'o_custkey->o_orderpriority' AS fd,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating
        |  FROM f1),
        |f2 AS (SELECT o_orderkey, COUNT(DISTINCT o_orderstatus) AS nd
        |  FROM orders GROUP BY 1),
        |a2 AS (SELECT 'o_orderkey->o_orderstatus' AS fd,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating
        |  FROM f2)
        |SELECT fd, n_groups, n_violating,
        |  round(CAST(n_violating AS DOUBLE) / CAST(n_groups AS DOUBLE), 6)
        |    AS violation_rate
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
        |ORDER BY fd""".stripMargin,
    // exact integer micro gaps off one type-keyed LAG; round-6 summary
    "w31_interarrival" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap, 0.5) / 1000000.0, 6) AS p50_s,
        |  round(quantile_cont(gap, 0.95) / 1000000.0, 6) AS p95_s,
        |  round(CAST(MAX(gap) AS DOUBLE) / 1000000.0, 6) AS max_s
        |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact distinct (week, day, user) projections; one final division
    "w29_stickiness" ->
      """WITH du AS (SELECT DISTINCT
        |    (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk,
        |    (CAST(ts AS DATE) - DATE '2024-01-01') AS d, user_id
        |  FROM events),
        |w AS (SELECT wk, COUNT(DISTINCT user_id) AS wau,
        |    COUNT(DISTINCT d) AS n_days, COUNT(*) AS day_users
        |  FROM du GROUP BY 1)
        |SELECT wk, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(wau AS BIGINT) AS wau,
        |  round(CAST(day_users AS DOUBLE) / CAST(n_days AS DOUBLE), 9)
        |    AS dau_avg,
        |  round(CAST(day_users AS DOUBLE)
        |    / (CAST(n_days AS DOUBLE) * CAST(wau AS DOUBLE)), 9) AS stickiness
        |FROM w ORDER BY wk""".stripMargin,
    // integer week offsets (days // 7) from a fixed epoch; exact counts
    "w28_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk FROM events),
        |coh AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY 1),
        |sizes AS (SELECT cohort_wk, COUNT(DISTINCT user_id) AS n_cohort
        |  FROM coh GROUP BY 1),
        |cells AS (SELECT c.cohort_wk, u.wk - c.cohort_wk AS age_wk,
        |    COUNT(*) AS n_active
        |  FROM uw u JOIN coh c USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_wk, age_wk, CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_cohort AS BIGINT) AS n_cohort,
        |  round(CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE), 9)
        |    AS retention
        |FROM cells JOIN sizes USING (cohort_wk) ORDER BY 1, 2""".stripMargin,
    "w27_markov_accuracy" ->
      """WITH tr AS (SELECT src_type, dst_type, COUNT(*) AS n FROM (
        |    SELECT event_type AS src_type,
        |      LEAD(event_type) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        |    FROM events)
        |  WHERE dst_type IS NOT NULL GROUP BY 1, 2),
        |mx AS (SELECT src_type, CAST(MAX(n) AS BIGINT) AS n_hits,
        |  CAST(SUM(n) AS BIGINT) AS n_steps FROM tr GROUP BY 1),
        |pr AS (SELECT tr.src_type, MIN(dst_type) AS predicted
        |  FROM tr JOIN mx ON mx.src_type = tr.src_type AND tr.n = mx.n_hits
        |  GROUP BY 1)
        |SELECT mx.src_type, n_steps, predicted, n_hits,
        |  round(CAST(n_hits AS DOUBLE) / CAST(n_steps AS DOUBLE), 9)
        |    AS accuracy
        |FROM mx JOIN pr ON pr.src_type = mx.src_type ORDER BY 1""".stripMargin,
    // fixed-point component sums (floor(x*1e12) HUGEINT), double
    // centroids in the identical shape, round-12 decimal product terms
    // d^2 = |v|^2 - 2 v.c + |c|^2 off the same centroid cells; a = own
    // label, b = nearest other; round-9 barriers, DECIMAL(18,9) means
    "sim_silhouette" ->
      """WITH c AS (SELECT label AS c_label, i AS pos,
        |    SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12) AS HUGEINT))
        |      AS s,
        |    CAST(COUNT(*) AS BIGINT) AS nl
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)
        |  GROUP BY 1, 2),
        |m AS (SELECT c_label, pos,
        |    CAST(s AS DOUBLE) / CAST(nl AS DOUBLE) / 1e12 AS m FROM c),
        |nm AS (SELECT c_label,
        |    SUM(CAST(round(m * m, 12) AS DECIMAL(38,18))) AS n2
        |  FROM m GROUP BY 1),
        |ev AS (SELECT vec_id, label, i AS pos,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)),
        |v2 AS (SELECT vec_id,
        |    SUM(CAST(round(x * x, 12) AS DECIMAL(38,18))) AS v2
        |  FROM ev GROUP BY 1),
        |tv AS (SELECT ev.vec_id, ev.label, m.c_label,
        |    SUM(CAST(round(ev.x * m.m, 12) AS DECIMAL(38,18))) AS dot
        |  FROM ev JOIN m USING (pos) GROUP BY 1, 2, 3),
        |dm AS (SELECT vec_id, label, tv.c_label,
        |    round(sqrt(greatest(CAST(v2.v2 AS DOUBLE)
        |      - 2.0 * CAST(dot AS DOUBLE) + CAST(n2 AS DOUBLE),
        |      CAST(0.0 AS DOUBLE))), 9) AS d
        |  FROM tv JOIN nm USING (c_label) JOIN v2 USING (vec_id)),
        |pv AS (SELECT vec_id, label,
        |    MIN(CASE WHEN c_label = label THEN d END) AS a,
        |    MIN(CASE WHEN c_label <> label THEN d END) AS b
        |  FROM dm GROUP BY 1, 2),
        |sl AS (SELECT label,
        |    CASE WHEN b IS NULL OR greatest(a, b) = 0 THEN CAST(0.0 AS DOUBLE)
        |         ELSE round((b - a) / greatest(a, b), 9) END AS sil
        |  FROM pv)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  round(CAST(SUM(CAST(sil AS DECIMAL(18,9))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS mean_silhouette
        |FROM sl GROUP BY 1 ORDER BY 1""".stripMargin,
    // fixed-point centroid cells -> per-(vec,label) round-12 decimal
    // dots -> round-9 score argmax (ties to lowest label) -> accuracy
    "sim_nearest_centroid" ->
      """WITH c AS (SELECT label AS c_label, i AS pos,
        |    SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12) AS HUGEINT))
        |      AS s,
        |    CAST(COUNT(*) AS BIGINT) AS nl
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)
        |  GROUP BY 1, 2),
        |m AS (SELECT c_label, pos,
        |    CAST(s AS DOUBLE) / CAST(nl AS DOUBLE) / 1e12 AS m FROM c),
        |nm AS (SELECT c_label,
        |    SUM(CAST(round(m * m, 12) AS DECIMAL(38,18))) AS n2
        |  FROM m GROUP BY 1),
        |ev AS (SELECT vec_id, label, i AS pos,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)),
        |tv AS (SELECT ev.vec_id, ev.label, m.c_label,
        |    SUM(CAST(round(ev.x * m.m, 12) AS DECIMAL(38,18))) AS dot
        |  FROM ev JOIN m USING (pos) GROUP BY 1, 2, 3),
        |sc AS (SELECT vec_id, label, tv.c_label,
        |    round(CAST(dot AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 9)
        |      AS score
        |  FROM tv JOIN nm USING (c_label)),
        |pr AS (SELECT vec_id, label, c_label AS pred,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score DESC, c_label) AS rk
        |  FROM sc)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  round(CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
        |FROM pr WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_centroid_drift" ->
      """WITH c AS (SELECT label, i AS pos,
        |    SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12) AS HUGEINT))
        |      AS s,
        |    CAST(COUNT(*) AS BIGINT) AS nl
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)
        |  GROUP BY 1, 2),
        |g AS (SELECT pos, SUM(s) AS gs, SUM(nl) AS gn FROM c GROUP BY 1),
        |t AS (SELECT label, nl,
        |    CAST(round((CAST(s AS DOUBLE) / CAST(nl AS DOUBLE) / 1e12)
        |      * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE) / 1e12), 12)
        |      AS DECIMAL(38,18)) AS t_dot,
        |    CAST(round((CAST(s AS DOUBLE) / CAST(nl AS DOUBLE) / 1e12)
        |      * (CAST(s AS DOUBLE) / CAST(nl AS DOUBLE) / 1e12), 12)
        |      AS DECIMAL(38,18)) AS t_l2,
        |    CAST(round((CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE) / 1e12)
        |      * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE) / 1e12), 12)
        |      AS DECIMAL(38,18)) AS t_g2
        |  FROM c JOIN g USING (pos))
        |SELECT label, MAX(nl) AS n_vecs,
        |  round(CAST(SUM(t_dot) AS DOUBLE)
        |    / (sqrt(CAST(SUM(t_l2) AS DOUBLE))
        |      * sqrt(CAST(SUM(t_g2) AS DOUBLE))), 9) AS cos_to_global
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // one exact-decimal sums pass -> three round-12 Pearson r's ->
    // the partial-corr recursion in double behind a round-9
    "a48_partial_corr" ->
      """WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(z * z) AS szz,
        |    SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz
        |  FROM (SELECT CAST(value AS DECIMAL(18,2)) AS x,
        |      CAST(hour(ts) AS DECIMAL(18,2)) AS y,
        |      CAST(dayofweek(ts) AS DECIMAL(18,2)) AS z
        |    FROM events)),
        |r AS (SELECT n,
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 12) AS r_xy,
        |    round((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
        |        - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 12) AS r_xz,
        |    round((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
        |        - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 12) AS r_yz
        |  FROM s)
        |SELECT n, r_xy, r_xz, r_yz,
        |  round((r_xy - r_xz * r_yz)
        |    / sqrt((CAST(1.0 AS DOUBLE) - r_xz * r_xz)
        |      * (CAST(1.0 AS DOUBLE) - r_yz * r_yz)), 9) AS partial_r
        |FROM r""".stripMargin,
    // the same 24 power-iteration rounds as the Spark driver loop,
    // unrolled as DECIMAL(18,12) CTEs (exact decimal arithmetic on
    // both engines at every intermediate state — converged or not)
    "a47_markov_stationary" -> {
      val iters = 24
      // MATERIALIZED per round: without it DuckDB inlines the whole
      // 24-deep chain into one plan and optimization time explodes
      // (measured ~625 s inlined vs ms materialized at sf0.01)
      val iterCtes = (1 to iters).map { k =>
        s"""it$k AS MATERIALIZED (SELECT p.dst_type AS t,
           |    CAST(round(SUM(i.pi * p.p), 12) AS DECIMAL(18,12)) AS pi
           |  FROM it${k - 1} i JOIN p ON i.t = p.src_type GROUP BY 1)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH tr AS (SELECT src_type, dst_type, count(*) AS n FROM (
         |    SELECT event_type AS src_type,
         |      LEAD(event_type) OVER (
         |        PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
         |    FROM events)
         |  WHERE dst_type IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT src_type, SUM(n) AS tot FROM tr GROUP BY 1),
         |p AS MATERIALIZED (SELECT src_type, dst_type,
         |    CAST(round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 12)
         |      AS DECIMAL(18,12)) AS p
         |  FROM tr JOIN rt USING (src_type)),
         |ty AS (SELECT DISTINCT t FROM
         |  (SELECT src_type AS t FROM tr UNION SELECT dst_type FROM tr)),
         |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ty),
         |it0 AS (SELECT t,
         |    CAST(round(CAST(1.0 AS DOUBLE) / CAST(k AS DOUBLE), 12)
         |      AS DECIMAL(18,12)) AS pi
         |  FROM ty CROSS JOIN kk),
         |$iterCtes
         |SELECT ty.t AS event_type,
         |  CAST(COALESCE(f.pi, 0) AS DOUBLE) AS stationary_p
         |FROM ty LEFT JOIN it$iters f ON ty.t = f.t
         |ORDER BY event_type""".stripMargin
    },
    "w12_transitions" ->
      """SELECT src_type, dst_type, count(*) AS n FROM (
        |  SELECT event_type AS src_type,
        |    LEAD(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        |  FROM events)
        |WHERE dst_type IS NOT NULL
        |GROUP BY src_type, dst_type
        |ORDER BY src_type, dst_type""".stripMargin,
    "text_boilerplate" ->
      """WITH parts AS (
        |  SELECT doc_id, part, idx FROM (
        |    SELECT doc_id, string_split(text, '. ') AS ps FROM documents),
        |    LATERAL (SELECT unnest(ps) AS part,
        |      generate_subscripts(ps, 1) AS idx) u),
        |boiler AS (SELECT part FROM parts GROUP BY part
        |  HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT * FROM parts
        |  WHERE part NOT IN (SELECT part FROM boiler))
        |SELECT doc_id, string_agg(part, '. ' ORDER BY idx) AS clean_text
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "sim_pq_rerank" ->
      "SELECT 5 AS k, true AS rerank_recall_ok, true AS rerank_beats_pq",
    "sim_recall_check" ->
      "SELECT 5 AS k, true AS lsh_recall_ok, true AS ivf_recall_ok",
    // label predicate inside the candidate join, same rank tie-break
    "sim_filtered_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |scored AS (
         |  SELECT query_id, vec_id, ${duckCosine("qe", "embedding")} AS sim
         |  FROM embeddings CROSS JOIN q
         |  WHERE vec_id <> query_id AND label = ql)
         |SELECT query_id, vec_id AS neighbor_id, rnk FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // exact decimal user totals, ceil(n*p) integer cutoffs, round-9
    // shares — the ranking window runs over the USER aggregate
    "a39_pareto_share" ->
      """WITH per AS (SELECT user_id,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, SUM(v) AS total
        |  FROM per),
        |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC, user_id) AS rnk
        |  FROM per)
        |SELECT t.n_users, CAST(t.total AS DOUBLE) AS total_value,
        |  round(CAST(SUM(CASE WHEN rnk <= ceil(t.n_users * 0.01)
        |      THEN v ELSE 0 END) AS DOUBLE) / CAST(t.total AS DOUBLE), 9)
        |    AS top1_share,
        |  round(CAST(SUM(CASE WHEN rnk <= ceil(t.n_users * 0.10)
        |      THEN v ELSE 0 END) AS DOUBLE) / CAST(t.total AS DOUBLE), 9)
        |    AS top10_share
        |FROM r CROSS JOIN t GROUP BY 1, 2""".stripMargin,
    // doubled tie-averaged ranks (integral), Mann-Whitney normalization
    "a40_auc" ->
      """WITH cells AS (SELECT value AS v, COUNT(*) AS t,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS tp
        |  FROM events GROUP BY 1),
        |rk AS (SELECT t, tp,
        |  2 * COALESCE(SUM(t) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS dr
        |  FROM cells)
        |SELECT CAST(SUM(tp) AS BIGINT) AS n_pos,
        |  CAST(SUM(t - tp) AS BIGINT) AS n_neg,
        |  round((CAST(SUM(CAST(tp AS HUGEINT) * dr) AS DOUBLE)
        |      - CAST(SUM(tp) AS DOUBLE) * (CAST(SUM(tp) AS DOUBLE) + 1))
        |    / (2.0 * CAST(SUM(tp) AS DOUBLE) * CAST(SUM(t - tp) AS DOUBLE)),
        |    9) AS auc
        |FROM rk""".stripMargin,
    // identical integer Poisson thresholds, fixed-point value sums,
    // explicit rank interpolation for the CI
    "a41_bootstrap_ci" -> {
      val ladder = graft.operators.Relational.BootstrapCumP.zipWithIndex
        .map { case (t, k) => s"WHEN h < $t THEN $k" }.mkString(" ")
      def pos(q: String) = s"((CAST(nb AS DOUBLE) - 1.0) * $q)"
      def interp(q: String) =
        s"""round(SUM(CASE
           |    WHEN rk = CAST(floor(${pos(q)}) AS BIGINT) + 1
           |      THEN boot_mean * (1.0 - (${pos(q)} - floor(${pos(q)})))
           |    WHEN rk = CAST(floor(${pos(q)}) AS BIGINT) + 2
           |      THEN boot_mean * (${pos(q)} - floor(${pos(q)}))
           |    ELSE 0.0 END), 9)""".stripMargin
      s"""WITH p AS (SELECT event_id, CAST(floor(value * 1e6) AS BIGINT) AS v6
         |  FROM events WHERE event_type = 'purchase'),
         |reps AS (SELECT event_id, v6, r FROM p, unnest(range(0, 32)) t(r)),
         |u AS (SELECT v6, r, CAST(list_sum(list_transform(range(1, 9),
         |    i -> (strpos('0123456789abcdef', substr(md5(
         |      CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), i, 1))
         |      - 1) * power(16, 8 - i))) AS BIGINT) AS h
         |  FROM reps),
         |w AS (SELECT v6, r, CASE $ladder ELSE 8 END AS w FROM u),
         |means AS (SELECT r,
         |    round(CAST(SUM(CAST(w * v6 AS HUGEINT)) AS DOUBLE) / 1e6
         |      / CAST(SUM(w) AS DOUBLE), 9) AS boot_mean
         |  FROM w GROUP BY r HAVING SUM(w) > 0),
         |rk AS (SELECT r, boot_mean,
         |    ROW_NUMBER() OVER (ORDER BY boot_mean, r) AS rk,
         |    COUNT(*) OVER () AS nb
         |  FROM means)
         |SELECT CAST(MAX(nb) AS BIGINT) AS n_reps,
         |  ${interp("0.025")} AS ci_lo,
         |  ${interp("0.975")} AS ci_hi
         |FROM rk""".stripMargin
    },
    // verified pair ids broadcast back onto the corpus; per-source rate
    "dedup_rate_by_source" ->
      s"""WITH $MinhashPairsCtes,
         |touched AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_a AS doc_id FROM pairs
         |  UNION ALL SELECT doc_b FROM pairs)),
         |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |dp AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dup_docs
         |  FROM documents JOIN touched USING (doc_id) GROUP BY 1)
         |SELECT ps.source, n_docs, COALESCE(n_dup_docs, 0) AS n_dup_docs,
         |  round(CAST(COALESCE(n_dup_docs, 0) AS DOUBLE)
         |    / CAST(n_docs AS DOUBLE), 9) AS dup_rate
         |FROM ps LEFT JOIN dp ON dp.source = ps.source
         |ORDER BY ps.source""".stripMargin,
    // closure sizes off the recursive comp CTE; sz(sz-1) always even
    // so // 2 is exact on both engines — mirrors transitiveInflation
    "dedup_transitive_inflation" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |szs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM comp GROUP BY 1),
         |cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |    MAX(sz) AS max_cluster,
         |    CAST(SUM(sz * (sz - 1)) // 2 AS BIGINT) AS n_closure
         |  FROM szs),
         |dp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_direct FROM pairs)
         |SELECT n_direct, n_closure, n_clusters, max_cluster,
         |  CASE WHEN n_direct = 0 THEN CAST(1.0 AS DOUBLE)
         |       ELSE round(CAST(n_closure AS DOUBLE)
         |         / CAST(n_direct AS DOUBLE), 6) END AS inflation
         |FROM dp CROSS JOIN cl""".stripMargin,
    // candidate-scale pairs joined twice to the source map, bounded
    // source-pair rollup — mirrors crossSourcePairs
    "dedup_cross_source" ->
      s"""WITH $MinhashPairsCtes,
         |ps AS (SELECT least(da.source, db.source) AS src_lo,
         |    greatest(da.source, db.source) AS src_hi
         |  FROM pairs p JOIN documents da ON p.doc_a = da.doc_id
         |  JOIN documents db ON p.doc_b = db.doc_id)
         |SELECT src_lo, src_hi,
         |  CASE WHEN src_lo = src_hi THEN 0 ELSE 1 END AS is_cross,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM ps GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // loser set left-joined onto per-doc token counts, source rollup
    // — mirrors tokenLoss
    "pipe_token_loss" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |losers AS (SELECT doc_id FROM comp WHERE doc_id <> component),
         |tk AS (SELECT d.source,
         |    len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS n_tokens,
         |    l.doc_id IS NOT NULL AS lost
         |  FROM documents d LEFT JOIN losers l USING (doc_id))
         |SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
         |  CAST(SUM(CASE WHEN lost THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS tokens_lost,
         |  round(CAST(SUM(CASE WHEN lost THEN n_tokens ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(n_tokens) AS DOUBLE), 9) AS loss_rate
         |FROM tk GROUP BY source ORDER BY source""".stripMargin,
    // survivor components -> per-source before/after counts + shares;
    // share delta computed from the rounded shares on both engines
    "pipe_mixture_shift" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |losers AS (SELECT doc_id FROM comp WHERE doc_id <> component),
         |j AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_before,
         |    CAST(SUM(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_after
         |  FROM documents d LEFT JOIN losers l USING (doc_id) GROUP BY 1),
         |t AS (SELECT SUM(n_before) AS t_before, SUM(n_after) AS t_after
         |  FROM j)
         |SELECT source, n_before, n_after,
         |  round(CAST(n_before AS DOUBLE) / CAST(t_before AS DOUBLE), 9)
         |    AS share_before,
         |  round(CAST(n_after AS DOUBLE) / CAST(t_after AS DOUBLE), 9)
         |    AS share_after,
         |  round(round(CAST(n_after AS DOUBLE) / CAST(t_after AS DOUBLE), 9)
         |    - round(CAST(n_before AS DOUBLE) / CAST(t_before AS DOUBLE), 9),
         |    9) AS share_shift
         |FROM j CROSS JOIN t ORDER BY source""".stripMargin,
    // exact interpolated decile boundaries over integer n_chars, CASE
    // ladder bucket, endpoint-set left join — mirrors dupRateByLength
    "dedup_length_bias" ->
      s"""WITH $MinhashPairsCtes,
         |dup AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_a AS doc_id FROM pairs
         |  UNION ALL SELECT doc_b FROM pairs)),
         |b AS (SELECT
         |  ${(1 to 9).map(i => s"quantile_cont(n_chars, 0.$i) AS b$i")
              .mkString(", ")}
         |  FROM documents),
         |t AS (SELECT doc_id,
         |    CASE ${(1 to 9).map(i => s"WHEN n_chars <= b$i THEN ${i - 1}")
              .mkString(" ")} ELSE 9 END AS bucket
         |  FROM documents CROSS JOIN b)
         |SELECT CAST(bucket AS INT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup,
         |  round(CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
         |FROM t LEFT JOIN dup USING (doc_id)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    // band the signatures, count bucket sizes, histogram occupancy
    "dedup_lsh_buckets" ->
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |$HashedMhCtes,
         |bands AS (
         |  $MinhashBandsSql),
         |bk AS (SELECT band, band_key, COUNT(*) AS sz FROM bands
         |  GROUP BY 1, 2)
         |SELECT band, CAST(sz AS BIGINT) AS bucket_size,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets
         |FROM bk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // one LSH+verify pair pass, three filtered recursive closures —
    // the sensitivity table at probed-in-range Jaccard cuts
    "dedup_threshold_sweep" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |e95 AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |    WHERE jaccard >= CAST(0.95 AS DOUBLE)
         |  UNION SELECT doc_b, doc_a FROM pairs
         |    WHERE jaccard >= CAST(0.95 AS DOUBLE)),
         |reach95 AS (SELECT u, v FROM e95
         |  UNION SELECT r.u, e.v FROM reach95 r JOIN e95 e ON r.v = e.u),
         |comp95 AS (SELECT u, least(u, min(v)) AS c
         |  FROM reach95 GROUP BY u),
         |st95 AS (SELECT CAST(0.95 AS DOUBLE) AS threshold,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
         |      WHERE jaccard >= CAST(0.95 AS DOUBLE)) AS n_pairs,
         |    CAST(COUNT(DISTINCT c) AS BIGINT) AS n_clusters,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
         |      - (CAST(COUNT(*) AS BIGINT) - CAST(COUNT(DISTINCT c) AS BIGINT))
         |      AS n_survivors
         |  FROM comp95),
         |e97 AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |    WHERE jaccard >= CAST(0.97 AS DOUBLE)
         |  UNION SELECT doc_b, doc_a FROM pairs
         |    WHERE jaccard >= CAST(0.97 AS DOUBLE)),
         |reach97 AS (SELECT u, v FROM e97
         |  UNION SELECT r.u, e.v FROM reach97 r JOIN e97 e ON r.v = e.u),
         |comp97 AS (SELECT u, least(u, min(v)) AS c
         |  FROM reach97 GROUP BY u),
         |st97 AS (SELECT CAST(0.97 AS DOUBLE) AS threshold,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
         |      WHERE jaccard >= CAST(0.97 AS DOUBLE)) AS n_pairs,
         |    CAST(COUNT(DISTINCT c) AS BIGINT) AS n_clusters,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
         |      - (CAST(COUNT(*) AS BIGINT) - CAST(COUNT(DISTINCT c) AS BIGINT))
         |      AS n_survivors
         |  FROM comp97),
         |e985 AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |    WHERE jaccard >= CAST(0.985 AS DOUBLE)
         |  UNION SELECT doc_b, doc_a FROM pairs
         |    WHERE jaccard >= CAST(0.985 AS DOUBLE)),
         |reach985 AS (SELECT u, v FROM e985
         |  UNION SELECT r.u, e.v FROM reach985 r JOIN e985 e ON r.v = e.u),
         |comp985 AS (SELECT u, least(u, min(v)) AS c
         |  FROM reach985 GROUP BY u),
         |st985 AS (SELECT CAST(0.985 AS DOUBLE) AS threshold,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
         |      WHERE jaccard >= CAST(0.985 AS DOUBLE)) AS n_pairs,
         |    CAST(COUNT(DISTINCT c) AS BIGINT) AS n_clusters,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
         |      - (CAST(COUNT(*) AS BIGINT) - CAST(COUNT(DISTINCT c) AS BIGINT))
         |      AS n_survivors
         |  FROM comp985)
         |SELECT * FROM st95 UNION ALL SELECT * FROM st97
         |UNION ALL SELECT * FROM st985
         |ORDER BY threshold""".stripMargin,
    // recursive component closure -> size histogram
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |szs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM comp GROUP BY 1)
         |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM szs GROUP BY 1 ORDER BY 1""".stripMargin,
    // banded candidate pairs -> per-query top-5 -> k-occurrence census
    "sim_hubness" ->
      s"""WITH $lshBandedCandSql,
         |sc AS (SELECT vec_a, vec_b,
         |    ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.vec_a
         |  JOIN embeddings b ON b.vec_id = cand.vec_b),
         |dir AS (SELECT vec_a AS query_id, vec_b AS vec_id, sim FROM sc
         |  UNION ALL SELECT vec_b, vec_a, sim FROM sc),
         |topk AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM dir) WHERE rn <= 5),
         |occ AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS k_occurrence
         |  FROM topk GROUP BY 1),
         |hist AS (SELECT k_occurrence, CAST(COUNT(*) AS BIGINT) AS n_vectors
         |  FROM occ GROUP BY 1)
         |SELECT k_occurrence, n_vectors FROM hist
         |UNION ALL
         |SELECT CAST(0 AS BIGINT),
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
         |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM occ)
         |WHERE (SELECT COUNT(*) FROM embeddings) > (SELECT COUNT(*) FROM occ)
         |ORDER BY k_occurrence""".stripMargin,
    // fixed-point per-dim variance sums; PR closed in one double shape
    "sim_participation_ratio" ->
      """WITH c AS (SELECT i AS pos,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS HUGEINT) AS x6
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)),
        |per AS (SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x6) AS s1, SUM(x6 * x6) AS s2 FROM c GROUP BY 1),
        |v AS (SELECT round(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) / 1e12
        |    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
        |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6), 12) AS v
        |  FROM per),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
        |    SUM(CAST(v AS DECIMAL(24,14))) AS sv,
        |    SUM(CAST(round(v * v, 12) AS DECIMAL(24,14))) AS svv
        |  FROM v)
        |SELECT n_dims,
        |  round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
        |    / CAST(svv AS DOUBLE), 9) AS pr,
        |  round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
        |    / CAST(svv AS DOUBLE) / CAST(n_dims AS DOUBLE), 9) AS pr_ratio
        |FROM s""".stripMargin,
    // the same fixed-point normalized component sums (1e6 scale — the
    // pair cell SQUARES the sum scale, so 1e12 would overflow HUGEINT
    // headroom past ~1e6 vectors/label), then the sum-vector identity
    // per label pair (self-pairs subtract n)
    "sim_separability" ->
      """WITH nrm AS (SELECT label, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(
        |      range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))
        |    AS eh
        |  FROM embeddings),
        |c AS (SELECT label, i AS pos,
        |    SUM(CAST(floor(eh[i] * 1e6) AS HUGEINT)) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS nl
        |  FROM nrm, unnest(range(1, len(eh) + 1)) t(i)
        |  GROUP BY 1, 2),
        |cells AS (SELECT a.label AS label_a, b.label AS label_b,
        |    SUM(a.s * b.s) AS d, MAX(a.nl) AS n_a, MAX(b.nl) AS n_b
        |  FROM c a JOIN c b ON a.pos = b.pos AND a.label <= b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b, n_a, n_b,
        |  CASE WHEN label_a = label_b AND n_a > 1 THEN
        |    round((CAST(d AS DOUBLE) / 1e12 - CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)
        |        - CAST(n_a AS DOUBLE)), 9)
        |  WHEN label_a = label_b THEN 0.0
        |  ELSE round((CAST(d AS DOUBLE) / 1e12)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 9) END AS mean_cos
        |FROM cells ORDER BY 1, 2""".stripMargin,
    // one user-keyed aggregate + conditional pivot; z in the identical
    // double shape, degenerate pools pinned
    "a38_ab_conversion" ->
      """WITH per AS (SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY 1),
        |r AS (SELECT
        |  CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n0,
        |  CAST(SUM(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END)
        |    AS BIGINT) AS c0,
        |  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n1,
        |  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END)
        |    AS BIGINT) AS c1
        |  FROM per)
        |SELECT n0, c0, n1, c1,
        |  round(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS rate_a,
        |  round(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 9) AS rate_b,
        |  CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN 0.0 ELSE
        |    round((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |        - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |        * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 9)
        |    END AS z
        |FROM r""".stripMargin,
    // adjacency-agreement per verified pair: COUNT-based intersection
    // over the symmetric edge set, endpoints in the union only
    "dedup_node_jaccard" ->
      s"""WITH $MinhashPairsCtes,
         |p AS (SELECT DISTINCT least(doc_a, doc_b) AS x,
         |    greatest(doc_a, doc_b) AS y FROM pairs),
         |e AS (SELECT x AS u, y AS v FROM p UNION ALL SELECT y, x FROM p),
         |d AS (SELECT u, COUNT(*) AS dg FROM e GROUP BY 1),
         |i AS (SELECT p.x, p.y, COUNT(*) AS inter
         |  FROM p JOIN e a ON a.u = p.x JOIN e b ON b.u = p.y AND b.v = a.v
         |  GROUP BY 1, 2)
         |SELECT p.x AS doc_a, p.y AS doc_b,
         |  round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
         |    / CAST(dx.dg + dy.dg - COALESCE(i.inter, 0) AS DOUBLE), 6)
         |    AS nbr_jaccard
         |FROM p
         |LEFT JOIN i ON i.x = p.x AND i.y = p.y
         |JOIN d dx ON dx.u = p.x
         |JOIN d dy ON dy.u = p.y
         |ORDER BY 1, 2""".stripMargin,
    // daily cells only: lag-1 window + day-7 self-join, exact integer
    // |diff| sums, round-9 ratios, zero-naive pinned to 0.0
    "a37_seasonal_error" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    COUNT(*) AS c FROM events GROUP BY 1, 2),
        |nv AS (SELECT event_type, SUM(ABS(c - prev)) AS nsum,
        |    CAST(COUNT(*) AS BIGINT) AS nn FROM (
        |  SELECT event_type, c, LAG(c) OVER (
        |    PARTITION BY event_type ORDER BY day) AS prev FROM daily)
        |  WHERE prev IS NOT NULL GROUP BY 1),
        |sz AS (SELECT a.event_type, SUM(ABS(a.c - b.c)) AS ssum,
        |    CAST(COUNT(*) AS BIGINT) AS sn
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day = b.day + 7
        |  GROUP BY 1)
        |SELECT nv.event_type, nn, sn,
        |  round(CAST(nsum AS DOUBLE) / CAST(nn AS DOUBLE), 9) AS naive_mae,
        |  round(CAST(ssum AS DOUBLE) / CAST(sn AS DOUBLE), 9) AS seasonal_mae,
        |  CASE WHEN nsum = 0 THEN 0.0 ELSE
        |    round((CAST(ssum AS DOUBLE) / CAST(sn AS DOUBLE))
        |      / (CAST(nsum AS DOUBLE) / CAST(nn AS DOUBLE)), 9) END AS mase
        |FROM nv JOIN sz ON sz.event_type = nv.event_type
        |ORDER BY 1""".stripMargin,
    "sim_topk_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 25 = 0),
         |scored AS (
         |  SELECT query_id, vec_id, ${duckCosine("qe", "embedding")} AS sim
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id)
         |SELECT query_id, vec_id AS neighbor_id, rnk FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "sim_mips_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 25 = 0),
         |scored AS (
         |  SELECT query_id, vec_id,
         |    list_sum(list_transform(range(1, len(qe) + 1),
         |      i -> CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS sim
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id)
         |SELECT query_id, vec_id AS neighbor_id, rnk FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "sim_covariance" ->
      s"WITH $CovCellsCtes\nSELECT i, j, cov FROM ccells ORDER BY i, j",
    "sim_pca_power" -> pcaPowerOracle,
    "sim_lsh_topk" ->
      s"""WITH $LshSigCte,
         |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM sig WHERE vec_id % 25 = 0),
         |cand AS (
         |  SELECT q.query_id, s.vec_id, q.qe, s.embedding
         |  FROM sig s JOIN q ON s.bucket = q.bucket AND s.vec_id <> q.query_id),
         |scored AS (SELECT query_id, vec_id, ${duckCosine("qe", "embedding")} AS sim FROM cand)
         |SELECT query_id, vec_id AS neighbor_id, rnk FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "sim_multiprobe_topk" ->
      s"""WITH $LshSigCte,
         |qb AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM sig WHERE vec_id % 25 = 0),
         |q AS (
         |  SELECT query_id, qe,
         |    unnest(list_prepend(bucket, list_transform(range(0, 8), j ->
         |      xor(bucket, 1::BIGINT << CAST(j AS INT))))) AS bucket
         |  FROM qb),
         |cand AS (
         |  SELECT q.query_id, s.vec_id, q.qe, s.embedding
         |  FROM sig s JOIN q ON s.bucket = q.bucket AND s.vec_id <> q.query_id),
         |scored AS (SELECT query_id, vec_id, ${duckCosine("qe", "embedding")} AS sim FROM cand)
         |SELECT query_id, vec_id AS neighbor_id, rnk FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "sim_ivf_topk" ->
      s"""WITH nn AS (SELECT GREATEST(1, COUNT(*) // 64) AS step FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings, nn
         |      WHERE vec_id % step = 0),
         |assign AS (
         |  SELECT vec_id, cent_id, embedding FROM (
         |    SELECT e.vec_id, c.cent_id, e.embedding,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCosine("e.embedding", "c.ce")} DESC, c.cent_id DESC) AS rn
         |    FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 25 = 0),
         |probe AS (
         |  SELECT query_id, cent_id, qe FROM (
         |    SELECT q.query_id, c.cent_id, q.qe,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY ${duckCosine("q.qe", "c.ce")} DESC, c.cent_id) AS rn
         |    FROM q CROSS JOIN c) WHERE rn <= 4),
         |scored AS (
         |  SELECT p.query_id, a.vec_id, ${duckCosine("p.qe", "a.embedding")} AS sim
         |  FROM assign a JOIN probe p ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id)
         |SELECT query_id, vec_id AS neighbor_id, rnk FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "sim_neardup_lsh" ->
      s"""WITH $lshBandedCandSql
         |SELECT c.vec_a, c.vec_b
         |FROM cand c
         |JOIN embeddings a ON a.vec_id = c.vec_a
         |JOIN embeddings b ON b.vec_id = c.vec_b
         |WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.463
         |ORDER BY vec_a, vec_b""".stripMargin,
    "sim_cosine_census" ->
      s"""WITH $lshBandedCandSql,
         |c AS (
         |  SELECT CAST(floor(${duckCosine("a.embedding", "b.embedding")}
         |    * 20.0) AS BIGINT) AS band
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.vec_a
         |  JOIN embeddings b ON b.vec_id = cand.vec_b)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_kmeans" -> KmeansOracle,
    // norms are bit-exact per row (ordered double accumulation +
    // correctly-rounded sqrt); the cross-row mean goes fixed-point
    "sim_norm_stats" ->
      """WITH nr AS (
        |  SELECT label, sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs, min(nrm) AS min_norm, max(nrm) AS max_norm,
        |  CAST(sum(CAST(floor(nrm * 1000000000000.0) AS BIGINT)) AS BIGINT)
        |    // count(*) AS mean_norm_e12
        |FROM nr GROUP BY label ORDER BY label""".stripMargin,
    // floor(x + 0.5), never round(): floor of a bit-identical double
    // is engine-independent; round()'s halfway convention is not
    "sim_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END AS scale
        |  FROM s),
        |ex AS (
        |  SELECT vec_id, scale, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM sc)
        |SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
        |  CAST(floor(CAST(embedding[i] AS DOUBLE) * scale + 0.5) AS INTEGER) AS code,
        |  scale
        |FROM ex ORDER BY vec_id, pos""".stripMargin,
    // PQ assignment restated: same slices, same 2·dot − |c|² argmax
    // (score DESC, cid tiebreak), dots with the vec_dot cast shape
    // ||s-c||^2 per assigned pair off the shared PQ CTEs; round-12
    // decimal terms so the cross-vector sum is order-free
    "sim_pq_distortion" ->
      s"""WITH $PqCtes
         |SELECT CAST(s.j AS INT) AS subspace,
         |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  round(CAST(SUM(CAST(round(
         |      ${PqDot("s.sub", "s.sub")} - 2 * ${PqDot("s.sub", "c.ce")}
         |        + ${PqDot("c.ce", "c.ce")}, 12) AS DECIMAL(38,18)))
         |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS mean_sq_err
         |FROM sub s
         |JOIN codes k ON k.vec_id = s.vec_id AND k.j = s.j
         |JOIN cent c ON c.cid = k.cid AND c.j = s.j
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_pq_encode" ->
      s"""WITH $PqCtes
         |SELECT vec_id, CAST(j AS INT) AS subspace, CAST(cid AS INT) AS code
         |FROM codes ORDER BY vec_id, subspace""".stripMargin,
    // ADC serving restated: per-query distance tables, code lookup,
    // 1e-9 fixed-point subspace sums (order-free on both engines)
    "sim_pq_topk" ->
      s"""WITH $PqCtes,
         |q1 AS (
         |  SELECT vec_id AS query_id, embedding, len(embedding) // 4 AS sd,
         |    unnest(range(0, 4)) AS j
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |qsub AS (SELECT query_id, j,
         |  embedding[j * sd + 1 : (j + 1) * sd] AS sub FROM q1),
         |adc AS (
         |  SELECT q.query_id, q.j, c.cid,
         |    CAST(floor((2 * ${PqDot("q.sub", "c.ce")} - ${PqDot("c.ce", "c.ce")})
         |      * 1000000000.0) AS BIGINT) AS se9
         |  FROM qsub q JOIN cent c ON q.j = c.j),
         |sc AS (
         |  SELECT a.query_id, k.vec_id, SUM(a.se9) AS sim
         |  FROM codes k JOIN adc a
         |    ON k.j = a.j AND k.cid = a.cid AND k.vec_id <> a.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, vec_id AS neighbor_id, rnk FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // cosine over int8 codes: every dot/norm is exact integer
    // arithmetic in doubles (≤ 127²·dim ≪ 2^53), so the ranking is
    // bit-deterministic cross-engine
    "sim_int8_topk" ->
      s"""WITH a AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |c AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) *
         |      (CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END) + 0.5)) AS ec
         |  FROM a),
         |nz AS (
         |  SELECT vec_id, ec FROM c
         |  WHERE list_sum(list_transform(range(1, len(ec) + 1), i -> ec[i] * ec[i])) > 0),
         |q AS (SELECT vec_id AS query_id, ec AS qc FROM nz WHERE vec_id % 25 = 0),
         |scored AS (
         |  SELECT query_id, vec_id, ${duckCosine("qc", "ec")} AS sim
         |  FROM nz CROSS JOIN q WHERE vec_id <> query_id)
         |SELECT query_id, vec_id AS neighbor_id, rnk FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // image rows state what a CORRECT png decode must read back (the
    // staging rule: w = id%64+1, h = id%48+1, n_bytes = decoded w·h·3);
    // audio/video rows restate the byte-derived fake
    // every field predicted from the per-modality staging rule's
    // doc_id arithmetic — only REAL decoders of the staged containers
    // (png dims, RIFF header, ISO-BMFF boxes) can match
    // integer NN resample of the staged gradient ((id + 31x + 7y) % 256):
    // the oracle computes the thumbnail digest the real decoder must hit
    "mm_image_resize" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, i.i, j.j
        |  FROM m, (SELECT unnest(range(0,16)) AS i) i,
        |          (SELECT unnest(range(0,12)) AS j) j)
        |SELECT doc_id, w AS width, h AS height, 16 AS out_w, 12 AS out_h,
        |  CAST(SUM((doc_id + ((i*w)//16)*31 + ((j*h)//12)*7) % 256) AS BIGINT)
        |    AS checksum
        |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // ring/interior classification over the gradient formula; means
    // and contrast from the same rounded integers as the real decode
    "mm_border_contrast" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, i.i, j.j,
        |    CASE WHEN i.i = 0 OR i.i = w - 1 OR j.j = 0 OR j.j = h - 1
        |         THEN 1 ELSE 0 END AS is_border,
        |    (doc_id + i.i*31 + j.j*7) % 256 AS v
        |  FROM m, (SELECT unnest(range(0,64)) AS i) i,
        |          (SELECT unnest(range(0,48)) AS j) j
        |  WHERE i.i < w AND j.j < h),
        |a AS (SELECT doc_id, w, h,
        |    CAST(SUM(CASE WHEN is_border = 1 THEN v ELSE 0 END) AS BIGINT)
        |      AS border_sum,
        |    CAST(SUM(is_border) AS BIGINT) AS n_border,
        |    CAST(SUM(CASE WHEN is_border = 0 THEN v ELSE 0 END) AS BIGINT)
        |      AS interior_sum,
        |    CAST(SUM(1 - is_border) AS BIGINT) AS n_interior
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, w AS width, h AS height,
        |  round(CAST(border_sum AS DOUBLE) / CAST(n_border AS DOUBLE), 6)
        |    AS border_mean,
        |  CASE WHEN n_interior > 0 THEN
        |    round(CAST(interior_sum AS DOUBLE) / CAST(n_interior AS DOUBLE), 6)
        |  END AS interior_mean,
        |  CASE WHEN n_interior > 0 THEN
        |    round(round(CAST(border_sum AS DOUBLE) / CAST(n_border AS DOUBLE), 6)
        |      - round(CAST(interior_sum AS DOUBLE) / CAST(n_interior AS DOUBLE), 6),
        |      6)
        |  ELSE CAST(0.0 AS DOUBLE) END AS contrast
        |FROM a ORDER BY doc_id""".stripMargin,
    "mm_pixel_stats" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, i.i, j.j
        |  FROM m, (SELECT unnest(range(0,64)) AS i) i,
        |          (SELECT unnest(range(0,48)) AS j) j
        |  WHERE i.i < w AND j.j < h)
        |SELECT doc_id, w AS width, h AS height,
        |  CAST(SUM((doc_id + i*31 + j*7) % 256) AS BIGINT) AS px_sum,
        |  CAST(MIN((doc_id + i*31 + j*7) % 256) AS INT) AS px_min,
        |  CAST(MAX((doc_id + i*31 + j*7) % 256) AS INT) AS px_max
        |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // tile census restated from the Media.Png formula: tile =
    // (2j // h)·2 + 2i // w, integer-exact sums, round-6 means
    "mm_tile_brightness" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, i.i, j.j
        |  FROM m, (SELECT unnest(range(0,64)) AS i) i,
        |          (SELECT unnest(range(0,48)) AS j) j
        |  WHERE i.i < w AND j.j < h)
        |SELECT doc_id, CAST((j*2 // h) * 2 + i*2 // w AS INT) AS tile,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM((doc_id + i*31 + j*7) % 256) AS BIGINT) AS px_sum,
        |  round(CAST(SUM((doc_id + i*31 + j*7) % 256) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_px
        |FROM px GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // tone census restated from the Media.Png formula: band =
    // ((id + 31i + 7j) % 256) >> 4 over every in-raster (i, j)
    // same staged-pixel formula, per-doc band census -> Shannon entropy
    "mm_image_entropy" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, i.i, j.j
        |  FROM m, (SELECT unnest(range(0,64)) AS i) i,
        |          (SELECT unnest(range(0,48)) AS j) j
        |  WHERE i.i < w AND j.j < h),
        |pb AS (SELECT doc_id,
        |    CAST(((doc_id + i*31 + j*7) % 256) // 16 AS INT) AS band,
        |    COUNT(*) AS n_px
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(n_px) AS np FROM pb GROUP BY 1),
        |ct AS (SELECT pb.doc_id, np,
        |    round((CAST(n_px AS DOUBLE) / CAST(np AS DOUBLE))
        |      * ln(CAST(n_px AS DOUBLE) / CAST(np AS DOUBLE)) / ln(2.0), 12)
        |      AS contrib
        |  FROM pb JOIN tot USING (doc_id))
        |SELECT doc_id, CAST(MAX(np) AS BIGINT) AS n_pixels,
        |  CAST(-SUM(CAST(contrib AS DECIMAL(18,14))) AS DOUBLE) AS entropy16
        |FROM ct GROUP BY 1 ORDER BY 1""".stripMargin,
    "mm_gray_histogram" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, i.i, j.j
        |  FROM m, (SELECT unnest(range(0,64)) AS i) i,
        |          (SELECT unnest(range(0,48)) AS j) j
        |  WHERE i.i < w AND j.j < h)
        |SELECT CAST(((doc_id + i*31 + j*7) % 256) // 16 AS INT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_pixels
        |FROM px GROUP BY 1 ORDER BY 1""".stripMargin,
    // gray formula from Media.Png: (id + 31·sx + 7·sy) % 256 at the
    // 9×8 NN sample grid sx = x·w//9, sy = y·h//8; per-row bytes
    // compose MSB-first into the 16-hex dhash (bit63 stays unsigned)
    "mm_dhash" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |bits AS (
        |  SELECT doc_id, w, h, y.y, x.x,
        |    (doc_id + ((x.x * w) // 9) * 31 + ((y.y * h) // 8) * 7) % 256 AS g1,
        |    (doc_id + (((x.x + 1) * w) // 9) * 31 + ((y.y * h) // 8) * 7) % 256 AS g2
        |  FROM m, (SELECT unnest(range(0,8)) AS x) x,
        |          (SELECT unnest(range(0,8)) AS y) y),
        |rows_ AS (
        |  SELECT doc_id, w, h, y,
        |    CAST(SUM(CASE WHEN g2 > g1 THEN 1 << x ELSE 0 END) AS INT) AS rb
        |  FROM bits GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, w AS width, h AS height,
        |  string_agg(printf('%02x', rb), '' ORDER BY y DESC) AS dhash
        |FROM rows_ GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // exact all-pairs twin of the banded join: per-row dhash bytes
    // xor'd and popcounted — banding is pigeonhole-exact at <= 3, so
    // the pair sets are identical by construction
    "mm_dhash_neardup" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |bits AS (
        |  SELECT doc_id, y.y, x.x,
        |    (doc_id + ((x.x * w) // 9) * 31 + ((y.y * h) // 8) * 7) % 256 AS g1,
        |    (doc_id + (((x.x + 1) * w) // 9) * 31 + ((y.y * h) // 8) * 7) % 256 AS g2
        |  FROM m, (SELECT unnest(range(0,8)) AS x) x,
        |          (SELECT unnest(range(0,8)) AS y) y),
        |rows_ AS (
        |  SELECT doc_id, y,
        |    CAST(SUM(CASE WHEN g2 > g1 THEN 1 << x ELSE 0 END) AS INT) AS rb
        |  FROM bits GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(SUM(bit_count(xor(a.rb, b.rb))) AS BIGINT) AS hamming
        |  FROM rows_ a JOIN rows_ b ON a.y = b.y AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM pairs
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    // the dhash pair CTEs above, extended by the caption join — the
    // oracle re-derives the near-dup pairs from the gradient formula,
    // then scores caption agreement per pair
    "mm_caption_integrity" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |bits AS (
        |  SELECT doc_id, y.y, x.x,
        |    (doc_id + ((x.x * w) // 9) * 31 + ((y.y * h) // 8) * 7) % 256 AS g1,
        |    (doc_id + (((x.x + 1) * w) // 9) * 31 + ((y.y * h) // 8) * 7) % 256 AS g2
        |  FROM m, (SELECT unnest(range(0,8)) AS x) x,
        |          (SELECT unnest(range(0,8)) AS y) y),
        |rows_ AS (
        |  SELECT doc_id, y,
        |    CAST(SUM(CASE WHEN g2 > g1 THEN 1 << x ELSE 0 END) AS INT) AS rb
        |  FROM bits GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(SUM(bit_count(xor(a.rb, b.rb))) AS BIGINT) AS hamming
        |  FROM rows_ a JOIN rows_ b ON a.y = b.y AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cap AS (SELECT doc_id,
        |    list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks,
        |    md5(array_to_string(
        |      regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
        |  FROM documents),
        |j AS (
        |  SELECT doc_a, doc_b, hamming, ca.fp = cb.fp AS same_caption,
        |    len(list_intersect(ca.toks, cb.toks)) AS ni,
        |    len(ca.toks) + len(cb.toks)
        |      - len(list_intersect(ca.toks, cb.toks)) AS nu
        |  FROM pairs
        |  JOIN cap ca ON ca.doc_id = pairs.doc_a
        |  JOIN cap cb ON cb.doc_id = pairs.doc_b
        |  WHERE hamming <= 3)
        |SELECT doc_a, doc_b, hamming, same_caption,
        |  CASE WHEN nu = 0 THEN CAST(1.0 AS DOUBLE)
        |       ELSE round(CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE), 6)
        |  END AS caption_jaccard
        |FROM j ORDER BY doc_a, doc_b""".stripMargin,
    // the 65-point NN resample grid over the staged PCM formula: the
    // oracle reconstructs every sampled amplitude, so the fingerprint
    // proves the decoder streamed real sample data
    "mm_audio_hash" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS BIGINT) * CAST(doc_id % 2 + 1 AS BIGINT)
        |      AS ns
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 1),
        |pts AS (
        |  SELECT doc_id, ns, y.y, x.x, (y.y * 8 + x.x) AS i FROM m,
        |    (SELECT unnest(range(0,8)) AS x) x,
        |    (SELECT unnest(range(0,8)) AS y) y),
        |sv AS (
        |  SELECT doc_id, y, x,
        |    ((doc_id + (2*((i*ns)//65)+1)*31) % 256 - 128) * 256
        |      + ((doc_id + 2*((i*ns)//65)*31) % 256 - 128 + 256) % 256 AS s1,
        |    ((doc_id + (2*(((i+1)*ns)//65)+1)*31) % 256 - 128) * 256
        |      + ((doc_id + 2*(((i+1)*ns)//65)*31) % 256 - 128 + 256) % 256 AS s2
        |  FROM pts),
        |rows_ AS (
        |  SELECT doc_id, y,
        |    CAST(SUM(CASE WHEN s2 > s1 THEN 1 << x ELSE 0 END) AS INT) AS rb
        |  FROM sv GROUP BY 1, 2)
        |SELECT doc_id, ns AS n_samples,
        |  string_agg(printf('%02x', rb), '' ORDER BY y DESC) AS ahash
        |FROM rows_ JOIN m USING (doc_id) GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // PCM byte formula from Media.Wav: byte i = (id + 31i) % 256 - 128;
    // 16-bit LE sample j = hi(2j+1)*256 + unsigned lo(2j)
    "mm_audio_resample" ->
      """WITH a AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS BIGINT) AS f,
        |    CAST(doc_id % 2 + 1 AS BIGINT) AS ch
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 1),
        |sm AS (
        |  SELECT doc_id, f,
        |    ((doc_id + (((j*f)//64)*ch*2 + 1)*31) % 256 - 128) * 256
        |      + (doc_id + ((j*f)//64)*ch*2*31 + 128) % 256 AS v
        |  FROM a, unnest(range(0, 64)) t(j))
        |SELECT doc_id, f AS n_frames, CAST(64 AS INT) AS out_n,
        |  CAST(SUM(v) AS BIGINT) AS rs_sum
        |FROM sm GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "mm_audio_stats" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS BIGINT) * CAST(doc_id % 2 + 1 AS BIGINT)
        |      AS ns
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 1),
        |sm AS (
        |  SELECT doc_id, ns,
        |    ((doc_id + (2*j+1)*31) % 256 - 128) * 256
        |      + ((doc_id + 2*j*31) % 256 - 128 + 256) % 256 AS v
        |  FROM m, unnest(range(0, ns)) t(j))
        |SELECT doc_id, ns AS n_samples, CAST(SUM(v) AS BIGINT) AS s_sum,
        |  CAST(MIN(v) AS INT) AS s_min, CAST(MAX(v) AS INT) AS s_max
        |FROM sm GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // sign changes over the regenerated sample walk (LAG window);
    // integer-exact, rate behind round(...,9)
    // |sample| >= 30000 census from the staged PCM formula
    "mm_audio_clipping" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS BIGINT) * CAST(doc_id % 2 + 1 AS BIGINT)
        |      AS ns
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 1),
        |sm AS (
        |  SELECT doc_id, ns, j,
        |    ((doc_id + (2*j+1)*31) % 256 - 128) * 256
        |      + ((doc_id + 2*j*31) % 256 - 128 + 256) % 256 AS v
        |  FROM m, unnest(range(0, ns)) t(j))
        |SELECT doc_id, ns AS n_samples,
        |  CAST(SUM(CASE WHEN v >= 30000 OR v <= -30000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clipped,
        |  round(CAST(SUM(CASE WHEN v >= 30000 OR v <= -30000 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(ns AS DOUBLE), 9) AS clip_ratio
        |FROM sm GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "mm_audio_zcr" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS BIGINT) * CAST(doc_id % 2 + 1 AS BIGINT)
        |      AS ns
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 1),
        |sm AS (
        |  SELECT doc_id, ns, j,
        |    CASE WHEN ((doc_id + (2*j+1)*31) % 256 - 128) * 256
        |      + ((doc_id + 2*j*31) % 256 - 128 + 256) % 256 >= 0
        |      THEN 1 ELSE 0 END AS s
        |  FROM m, unnest(range(0, ns)) t(j)),
        |sg AS (SELECT doc_id, ns, s,
        |    LAG(s) OVER (PARTITION BY doc_id ORDER BY j) AS sp
        |  FROM sm)
        |SELECT doc_id, ns AS n_samples,
        |  CAST(SUM(CASE WHEN sp IS NOT NULL AND s <> sp THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_cross,
        |  round(CAST(SUM(CASE WHEN sp IS NOT NULL AND s <> sp THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(ns - 1 AS DOUBLE), 9) AS zcr
        |FROM sg GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "mm_audio_energy" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS BIGINT) * CAST(doc_id % 2 + 1 AS BIGINT)
        |      AS ns
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 1),
        |sm AS (
        |  SELECT doc_id, ns, j,
        |    ((doc_id + (2*j+1)*31) % 256 - 128) * 256
        |      + ((doc_id + 2*j*31) % 256 - 128 + 256) % 256 AS v
        |  FROM m, unnest(range(0, ns)) t(j))
        |SELECT doc_id, CAST((j * 4) // ns AS INT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy
        |FROM sm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a21_gini" ->
      """WITH r AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS BIGINT) AS i
        |  FROM events),
        |a AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x*i) AS six
        |  FROM r GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN sx = 0 THEN 0.0
        |    ELSE round(CAST(2*six - (n+1)*sx AS DOUBLE)
        |      / CAST(n*sx AS DOUBLE), 9) END AS gini
        |FROM a ORDER BY event_type""".stripMargin,
    "w22_cumulative_distinct" ->
      """WITH fd AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |pd AS (SELECT day, COUNT(*) AS n_new FROM fd GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM pd ORDER BY day""".stripMargin,
    "w21_minmax_scale" ->
      """WITH s AS (
        |  SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type,
        |  CASE WHEN vmax = vmin THEN 0.5
        |    ELSE round((value - vmin) / (vmax - vmin), 9) END AS scaled
        |FROM events e JOIN s USING (event_type) ORDER BY event_id""".stripMargin,
    "a22_benford" ->
      """WITH c AS (
        |  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
        |      AS digit,
        |    COUNT(*) AS n
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS observed_p,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_p
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    "a23_type_entropy" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT day, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1)
        |SELECT cells.day, MAX(n) AS n,
        |  CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
        |    AS DECIMAL(24,14))) AS DOUBLE) AS entropy
        |FROM cells JOIN d USING (day) GROUP BY 1 ORDER BY 1""".stripMargin,
    "a24_ks_test" ->
      """WITH cells AS (
        |  SELECT value,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
        |  FROM cells),
        |cum AS (
        |  SELECT
        |    CAST(SUM(ca) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
        |    CAST(SUM(cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
        |  FROM cells)
        |SELECT n_a, n_b,
        |  MAX(round(abs(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE)), 12)) AS d_stat
        |FROM cum CROSS JOIN t
        |WHERE n_a > 0 AND n_b > 0 GROUP BY 1, 2""".stripMargin,
    "a25_welch_t" ->
      """WITH s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sx,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx
        |  FROM events GROUP BY 1 HAVING COUNT(*) > 1)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  a.n AS n_a, b.n AS n_b,
        |  round((CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    / sqrt(
        |      ((CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)
        |          / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1.0))
        |        / CAST(a.n AS DOUBLE)
        |      + ((CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE)
        |          / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1.0))
        |        / CAST(b.n AS DOUBLE)), 9) AS t_stat
        |FROM s a JOIN s b ON a.event_type < b.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "a26_cramers_v" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS observed FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, SUM(observed) AS rsum FROM cells GROUP BY 1),
        |ct AS (SELECT source, SUM(observed) AS csum FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells),
        |grid AS (
        |  SELECT rt.lang, ct.source, rsum, csum, n,
        |    COALESCE(observed, CAST(0 AS BIGINT)) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.lang = rt.lang AND cells.source = ct.source
        |  CROSS JOIN tot),
        |cc AS (SELECT lang, source, n,
        |    round((CAST(o AS DOUBLE) - CAST(rsum AS DOUBLE) * csum / n)
        |        * (CAST(o AS DOUBLE) - CAST(rsum AS DOUBLE) * csum / n)
        |        / (CAST(rsum AS DOUBLE) * csum / n), 6) AS contrib
        |  FROM grid)
        |SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS c,
        |  MAX(n) AS n,
        |  CAST(SUM(CAST(contrib AS DECIMAL(24,14))) AS DOUBLE) AS chi2,
        |  round(sqrt(CAST(SUM(CAST(contrib AS DECIMAL(24,14))) AS DOUBLE)
        |    / (CAST(MAX(n) AS DOUBLE)
        |       * CAST(LEAST(COUNT(DISTINCT lang), COUNT(DISTINCT source)) - 1
        |           AS DOUBLE))), 9) AS v
        |FROM cc""".stripMargin,
    "a27_mann_whitney" ->
      """WITH cells AS (
        |  SELECT value,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |r AS (
        |  SELECT ca, cb,
        |    COALESCE(CAST(SUM(ca + cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      CAST(0 AS BIGINT)) AS cbefore
        |  FROM cells),
        |s AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(ca * (2 * cbefore + ca + cb + 1)) AS BIGINT) AS r2
        |  FROM r)
        |SELECT n_a, n_b,
        |  CAST(r2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
        |  CAST(n_a * n_b AS DOUBLE)
        |    - CAST(r2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_b,
        |  round((CAST(r2 - n_a * (n_a + 1) AS DOUBLE) / 2.0)
        |    / CAST(n_a * n_b AS DOUBLE), 9) AS auc
        |FROM s WHERE n_a > 0 AND n_b > 0""".stripMargin,
    "a28_psi" ->
      """WITH binned AS (
        |  SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |  CAST(SUM(cb) AS BIGINT) AS n_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_bins FROM binned),
        |terms AS (
        |  SELECT n_a, n_b, n_bins,
        |    round((CAST(ca + 1 AS DOUBLE) / CAST(n_a + n_bins AS DOUBLE)
        |         - CAST(cb + 1 AS DOUBLE) / CAST(n_b + n_bins AS DOUBLE))
        |      * ln((CAST(ca + 1 AS DOUBLE) / CAST(n_a + n_bins AS DOUBLE))
        |          / (CAST(cb + 1 AS DOUBLE) / CAST(n_b + n_bins AS DOUBLE))), 12)
        |      AS term
        |  FROM binned CROSS JOIN tot)
        |SELECT n_bins, n_a, n_b,
        |  CAST(SUM(CAST(term AS DECIMAL(24,14))) AS DOUBLE) AS psi
        |FROM terms GROUP BY 1, 2, 3""".stripMargin,
    // doubled tie-average ranks (min+max of consecutive row_numbers in
    // a tie group = 2·avg rank) keep every rank an exact integer;
    // HUGEINT sums mirror the Spark side's DECIMAL(38,0) exactness
    "a30_robust_trend" ->
      """WITH c AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |d AS (
        |  SELECT event_type, cents - LAG(cents) OVER (
        |    PARTITION BY event_type ORDER BY ts, event_id) AS d
        |  FROM c)
        |SELECT event_type, COUNT(d) AS n_steps,
        |  CAST(median(d) AS DOUBLE) AS med_step_cents
        |FROM d WHERE d IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "a31_anova_f" ->
      """WITH s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sx_g,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx_g
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT n_g, sx_g,
        |    CAST(round(CAST(sxx_g AS DOUBLE)
        |      - CAST(sx_g AS DOUBLE) * CAST(sx_g AS DOUBLE)
        |        / CAST(n_g AS DOUBLE), 6) AS DECIMAL(28,10)) AS ssw_g,
        |    CAST(round(CAST(sx_g AS DOUBLE) * CAST(sx_g AS DOUBLE)
        |      / CAST(n_g AS DOUBLE), 6) AS DECIMAL(28,10)) AS sb_g
        |  FROM s),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |    SUM(sx_g) AS sx_tot, SUM(ssw_g) AS ssw, SUM(sb_g) AS sb
        |  FROM g)
        |SELECT k, n,
        |  round(((CAST(sb AS DOUBLE)
        |      - CAST(sx_tot AS DOUBLE) * CAST(sx_tot AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
        |    / (CAST(ssw AS DOUBLE)
        |      / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 9) AS f_stat
        |FROM t WHERE k > 1 AND n > k""".stripMargin,
    "a32_mutual_info" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS band,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS rx
        |  FROM cells GROUP BY 1),
        |co AS (SELECT band, CAST(SUM(c) AS BIGINT) AS cy
        |  FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        |k AS (
        |  SELECT n, CAST(round(
        |    (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
        |        / (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)
        |    AS DECIMAL(24,14)) AS contrib
        |  FROM cells JOIN r USING (event_type) JOIN co USING (band)
        |  CROSS JOIN t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells, MAX(n) AS n,
        |  CAST(SUM(contrib) AS DOUBLE) AS mi_nats
        |FROM k""".stripMargin,
    // same doubled-rank ladder as a27, extended to k groups; per-type
    // R'²/n terms cross a round(...,4) decimal barrier before the sum
    "a33_kruskal_wallis" ->
      """WITH cells AS (SELECT value AS v, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |bv AS (SELECT v, SUM(c) AS t FROM cells GROUP BY 1),
        |rk AS (SELECT v, t,
        |  2 * COALESCE(SUM(t) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS dr
        |  FROM bv),
        |pt AS (SELECT event_type, SUM(c) AS n_i,
        |    SUM(CAST(c AS HUGEINT) * dr) AS r2
        |  FROM cells JOIN rk USING (v) GROUP BY 1),
        |tm AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |  SUM(CAST(round(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
        |    / CAST(n_i AS DOUBLE), 4) AS DECIMAL(38,4))) AS term_sum FROM pt),
        |tt AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_sum,
        |  CAST(SUM(t) AS HUGEINT) AS n FROM bv)
        |SELECT k, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN CAST(tie_sum AS DOUBLE) =
        |      CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)
        |        - CAST(n AS DOUBLE)
        |    THEN 0.0
        |    ELSE (3.0 * CAST(term_sum AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
        |      - 3.0 * (CAST(n AS DOUBLE) + 1))
        |      / (1.0 - CAST(tie_sum AS DOUBLE)
        |        / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)
        |          - CAST(n AS DOUBLE)))
        |    END, 9) AS h
        |FROM tm CROSS JOIN tt""".stripMargin,
    // concordant/discordant counts off the B² cell-pair join of the
    // joint histogram; `//` integer halving keeps tie terms exact
    "a34_kendall_tau" ->
      """WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS y,
        |    COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |pr AS (SELECT
        |    SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
        |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS conc,
        |    SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
        |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS disc
        |  FROM cells a JOIN cells b
        |    ON a.x < b.x OR (a.x = b.x AND a.y < b.y)),
        |xm AS (SELECT SUM(tx * (tx - 1) // 2) AS n1 FROM
        |  (SELECT CAST(SUM(c) AS HUGEINT) AS tx FROM cells GROUP BY x)),
        |ym AS (SELECT SUM(ty * (ty - 1) // 2) AS n2 FROM
        |  (SELECT CAST(SUM(c) AS HUGEINT) AS ty FROM cells GROUP BY y)),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(SUM(c) AS HUGEINT) * (CAST(SUM(c) AS HUGEINT) - 1) // 2 AS n0
        |  FROM cells)
        |SELECT n, CAST(conc AS BIGINT) AS concordant,
        |  CAST(disc AS BIGINT) AS discordant,
        |  round(CAST(conc - disc AS DOUBLE)
        |    / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 9)
        |    AS tau_b
        |FROM pr CROSS JOIN xm CROSS JOIN ym CROSS JOIN tot""".stripMargin,
    "a29_spearman" ->
      """WITH r AS (
        |  SELECT event_type, value, ts,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rxr,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS ryr
        |  FROM events),
        |r2 AS (
        |  SELECT event_type,
        |    MIN(rxr) OVER (PARTITION BY event_type, value)
        |      + MAX(rxr) OVER (PARTITION BY event_type, value) AS rx2,
        |    MIN(ryr) OVER (PARTITION BY event_type, ts)
        |      + MAX(ryr) OVER (PARTITION BY event_type, ts) AS ry2
        |  FROM r),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(rx2 AS HUGEINT)) AS sx, SUM(CAST(ry2 AS HUGEINT)) AS sy,
        |    SUM(CAST(rx2 AS HUGEINT) * rx2) AS ssx,
        |    SUM(CAST(ry2 AS HUGEINT) * ry2) AS ssy,
        |    SUM(CAST(rx2 AS HUGEINT) * ry2) AS sp
        |  FROM r2 GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(ssx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(ssy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0 THEN 0.0
        |    ELSE round((CAST(n AS DOUBLE) * CAST(sp AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(ssx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(ssy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 12)
        |  END AS spearman
        |FROM s ORDER BY event_type""".stripMargin,
    "text_code_detect" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(l, '^(\t|  )'))) AS BIGINT) AS n_indent,
        |    CAST(length(regexp_replace(text, '[^{}()\[\];=<>]', '', 'g'))
        |      AS BIGINT) AS n_sym,
        |    CAST(length(text) AS BIGINT) AS n_chars_m
        |  FROM documents),
        |s AS (SELECT doc_id, n_lines,
        |  CASE WHEN n_lines = 0 THEN 0.0
        |    ELSE round(CAST(n_indent AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
        |    END AS indent_ratio,
        |  CASE WHEN n_chars_m = 0 THEN 0.0
        |    ELSE round(CAST(n_sym AS DOUBLE) / CAST(n_chars_m AS DOUBLE), 6)
        |    END AS symbol_ratio
        |  FROM m)
        |SELECT doc_id, n_lines, indent_ratio, symbol_ratio,
        |  (indent_ratio >= 0.2 AND n_lines >= 3) OR symbol_ratio >= 0.05
        |    AS is_code
        |FROM s ORDER BY doc_id""".stripMargin,
    "mm_jpeg_decode" ->
      """SELECT doc_id,
        |  CAST(doc_id % 56 + 8 AS INT) AS width,
        |  CAST(doc_id % 40 + 8 AS INT) AS height,
        |  TRUE AS decode_ok
        |FROM documents
        |WHERE octet_length(encode(text)) % 3 = 0
        |ORDER BY doc_id""".stripMargin,
    "mm_decode_meta" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) % 3 AS mod3 FROM documents)
        |SELECT doc_id,
        |  CASE mod3
        |    WHEN 0 THEN CAST((doc_id % 64 + 1) * (doc_id % 48 + 1) * 3 AS BIGINT)
        |    WHEN 1 THEN CAST((doc_id % 50 + 10) * (doc_id % 2 + 1) * 2 AS BIGINT)
        |    ELSE CAST((doc_id % 128 + 16) * (doc_id % 96 + 16) * 3
        |              * (doc_id % 24 + 1) AS BIGINT) END AS n_bytes,
        |  CASE CAST(mod3 AS INT)
        |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CASE mod3 WHEN 0 THEN CAST(doc_id % 64 + 1 AS INT)
        |    WHEN 1 THEN 0 ELSE CAST(doc_id % 128 + 16 AS INT) END AS width,
        |  CASE mod3 WHEN 0 THEN CAST(doc_id % 48 + 1 AS INT)
        |    WHEN 1 THEN 0 ELSE CAST(doc_id % 96 + 16 AS INT) END AS height,
        |  CASE mod3 WHEN 0 THEN 1
        |    WHEN 1 THEN CAST(doc_id % 50 + 10 AS INT)
        |    ELSE CAST(doc_id % 24 + 1 AS INT) END AS n_frames
        |FROM m ORDER BY doc_id""".stripMargin,
    // ISO-BMFF staging rule: w = id%128+16 (tkhd 16.16), h = id%96+16,
    // frames = id%24+1 (summed over a SPLIT stts table), timescale
    // 12800, duration = frames·512
    "mm_video_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 128 + 16 AS INT) AS width,
        |  CAST(doc_id % 96 + 16 AS INT) AS height,
        |  CAST(doc_id % 24 + 1 AS INT) AS n_frames,
        |  12800 AS timescale,
        |  CAST((doc_id % 24 + 1) * 512 AS BIGINT) AS duration
        |FROM documents WHERE octet_length(encode(text)) % 3 = 2
        |ORDER BY doc_id""".stripMargin,
    // audio twin: header fields follow Media.Wav's doc_id arithmetic
    // (rate = 8000 + id%3·4000, channels = id%2+1, frames = id%50+10,
    // pcm_bytes = frames·channels·2)
    "mm_audio_meta" ->
      """SELECT doc_id,
        |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS INT) AS n_channels,
        |  CAST(doc_id % 50 + 10 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 50 + 10) * (doc_id % 2 + 1) * 2 AS BIGINT) AS pcm_bytes
        |FROM documents WHERE octet_length(encode(text)) % 3 = 1
        |ORDER BY doc_id""".stripMargin,
    "s4_csv_roundtrip" ->
      "SELECT * FROM part ORDER BY p_partkey",
    // round-trip identity: a lossless JSONL write+read must equal the
    // source table byte for byte (multi-script text included)
    "s11_jsonl_roundtrip" ->
      "SELECT * FROM documents ORDER BY doc_id",
    "s12_orc_roundtrip" ->
      "SELECT * FROM supplier ORDER BY s_suppkey",
    // the corruption rule is doc_id-arithmetic, so the census is
    // analytically predictable — a dropped or half-parsed corrupt
    // line breaks n_total/n_corrupt/the good-id checksum
    "s15_jsonl_permissive" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_good,
        |  CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(SUM(CASE WHEN doc_id % 13 <> 0 THEN doc_id ELSE 0 END)
        |    AS BIGINT) AS sum_good_ids
        |FROM documents""".stripMargin,
    "s9_compact_roundtrip" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // the Derby catalog demo is seeded by the query itself, so its
    // information_schema projection is a deterministic constant — a
    // VALUES oracle upgrades it from rows-only to a full hash match
    "s5_jdbc_catalog" ->
      ("SELECT * FROM (VALUES ('Id', 1), ('Name', 2), ('Amount', 3), " +
        "('SystemModstamp', 4)) AS t(column_name, ordinal_position) " +
        "ORDER BY ordinal_position"),
    "k2_bulk_load" ->
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey",
    // chunk boundaries every 50 ordered rows; the mock transport fails
    // record positions (pos+1) % 7 == 0 within each batch — pure
    // row-number arithmetic over the same source slice
    "k5_upload_results" ->
      """WITH r AS (SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS rn
        |  FROM customer WHERE c_custkey % 3 = 0),
        |f AS (SELECT CAST(rn // 50 + 1 AS INT) AS batch_ord,
        |    CASE WHEN (rn % 50 + 1) % 7 = 0 THEN 1 ELSE 0 END AS fail
        |  FROM r)
        |SELECT batch_ord, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(1 - fail) AS BIGINT) AS n_success,
        |  CAST(SUM(1 - fail) AS BIGINT) AS n_created,
        |  CAST(SUM(fail) AS BIGINT) AS n_failed,
        |  MAX(CASE WHEN fail = 1 THEN 'MOCK_FAILURE:row rejected'
        |    ELSE '' END) AS err
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // n_frames comes from the REAL stts parse of the staged MP4s,
    // predicted here from the staging rule (id%24+1)
    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(doc_id % 24 + 1 AS INT) AS n_frames
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 2)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(f AS VARCHAR)) AS frame_fp
        |FROM m, unnest(range(0, n_frames, 7)) t(f)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // exact BIGINT/DECIMAL sufficient statistics per lag; double math
    // only on the final 8 rows (mirrors w30Xcorr exactly)
    "w30_xcorr" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT CAST(UNNEST(range(0, 8)) AS INTEGER) AS lag),
        |j AS (SELECT l.lag, CAST(x.cnt AS DECIMAL(18,0)) AS x,
        |    CAST(x.cnt AS DOUBLE) AS xd, y.rev, CAST(y.rev AS DOUBLE) AS yd
        |  FROM daily x CROSS JOIN l
        |  JOIN daily y ON y.d = x.d + l.lag),
        |s AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(rev) AS sy,
        |    SUM(CAST(ROUND(xd * xd, 4) AS DECIMAL(38,4))) AS sxx,
        |    SUM(CAST(ROUND(yd * yd, 4) AS DECIMAL(38,4))) AS syy,
        |    SUM(CAST(ROUND(xd * yd, 4) AS DECIMAL(38,4))) AS sxy
        |  FROM j GROUP BY 1)
        |SELECT lag, n AS n_days,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS r
        |FROM s ORDER BY lag""".stripMargin,
    // per-term round-9 DECIMAL(28,9) staging of v*ln(v) (order-free
    // sums); group/total folds mirror a49Theil's expression tree
    "a49_theil" ->
      """WITH g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS s_g,
        |    SUM(CAST(ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE)
        |      * LN(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE)), 9)
        |      AS DECIMAL(28,9))) AS t_g
        |  FROM events WHERE value > 0 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS DECIMAL(28,2)) AS s,
        |    CAST(SUM(t_g) AS DECIMAL(38,9)) AS t FROM g),
        |per AS (SELECT n, s, t,
        |    CAST(ROUND((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
        |      * LN((CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))
        |        / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 12)
        |      AS DECIMAL(18,14)) AS bt,
        |    CAST(ROUND((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
        |      * (CAST(t_g AS DOUBLE) / (CAST(n_g AS DOUBLE)
        |          * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)))
        |        - LN(CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))), 12)
        |      AS DECIMAL(18,14)) AS wt
        |  FROM g CROSS JOIN tot)
        |SELECT n AS n_events,
        |  round(CAST(t AS DOUBLE) / (CAST(n AS DOUBLE)
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |    - LN(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS theil_total,
        |  round(CAST(SUM(bt) AS DOUBLE), 9) AS theil_between,
        |  round(CAST(SUM(wt) AS DOUBLE), 9) AS theil_within
        |FROM per GROUP BY n, s, t""".stripMargin,
    // pure integer counts -> one double z formula; ties at the exact-
    // decimal mean fall to "below" on both engines
    "a50_runs_test" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |mu AS (SELECT CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
        |  FROM daily),
        |sg AS (SELECT d, CASE WHEN CAST(rev AS DOUBLE) > mu THEN 1 ELSE 0 END AS sgn
        |  FROM daily CROSS JOIN mu),
        |r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(sgn) AS BIGINT) AS n_above,
        |    CAST(SUM(1 - sgn) AS BIGINT) AS n_below,
        |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs
        |  FROM (SELECT sgn, LAG(sgn) OVER (ORDER BY d) AS prev FROM sg))
        |SELECT n_days, n_above, n_below, runs,
        |  round((CAST(runs AS DOUBLE)
        |      - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
        |    / sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2))
        |      / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 9) AS z_score
        |FROM (SELECT n_days, n_above, n_below, runs,
        |    CAST(n_above AS DOUBLE) AS n1, CAST(n_below AS DOUBLE) AS n2
        |  FROM r)""".stripMargin,
    // IEEE-exact plan arithmetic (no transcendentals): the division/
    // least/floor chain mirrors epochPlan's op order term for term
    "pipe_epoch_plan" ->
      """WITH t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |      AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_sources FROM t)
        |SELECT source, n_docs, tokens,
        |  round(LEAST(4.0, (CAST(2 * total_tokens AS DOUBLE)
        |      / CAST(n_sources AS DOUBLE)) / CAST(tokens AS DOUBLE)), 9)
        |    AS epochs,
        |  CAST(FLOOR(LEAST(4.0, (CAST(2 * total_tokens AS DOUBLE)
        |      / CAST(n_sources AS DOUBLE)) / CAST(tokens AS DOUBLE))
        |    * CAST(tokens AS DOUBLE)) AS BIGINT) AS realized_tokens,
        |  round(FLOOR(LEAST(4.0, (CAST(2 * total_tokens AS DOUBLE)
        |      / CAST(n_sources AS DOUBLE)) / CAST(tokens AS DOUBLE))
        |    * CAST(tokens AS DOUBLE)) / CAST(2 * total_tokens AS DOUBLE), 9)
        |    AS budget_share
        |FROM t CROSS JOIN tot ORDER BY source""".stripMargin,
    // per-term round-12 DECIMAL(28,12) staging of c*ln(c) (the
    // tokenEntropy discipline); D2 folds from pure-integer sums
    "text_diversity" ->
      """WITH tk AS (SELECT source,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
        |tf AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(ws) AS tok FROM tk) GROUP BY 1, 2),
        |p AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS d0_richness,
        |    SUM(CAST(c * c AS DECIMAL(38,0))) AS sum_c2,
        |    SUM(CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)), 12)
        |      AS DECIMAL(28,12))) AS clnc
        |  FROM tf GROUP BY 1)
        |SELECT source, n_tokens, d0_richness,
        |  round(LN(CAST(n_tokens AS DOUBLE))
        |    - CAST(clnc AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) AS shannon_h,
        |  round(EXP(LN(CAST(n_tokens AS DOUBLE))
        |    - CAST(clnc AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6) AS d1_exp_h,
        |  round(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)
        |    / CAST(sum_c2 AS DOUBLE), 9) AS d2_inv_simpson
        |FROM p ORDER BY source""".stripMargin,
    // candidate pairs from the shared minhash CTE chain; only the
    // inner token join is built (sum_max folds from per-doc totals)
    "dedup_weighted_jaccard" ->
      s"""WITH $MinhashPairsCtes,
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM toks) GROUP BY 1, 2),
         |tots AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
         |im AS (SELECT p.doc_a, p.doc_b,
         |    CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS sum_min
         |  FROM pairs p
         |  JOIN tf a ON a.doc_id = p.doc_a
         |  JOIN tf b ON b.doc_id = p.doc_b AND b.tok = a.tok
         |  GROUP BY 1, 2)
         |SELECT im.doc_a, im.doc_b, sum_min,
         |  round(CAST(sum_min AS DOUBLE)
         |    / CAST(ta.n + tb.n - sum_min AS DOUBLE), 9) AS w_jaccard
         |FROM im
         |JOIN tots ta ON ta.doc_id = im.doc_a
         |JOIN tots tb ON tb.doc_id = im.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    // all three scheme pipelines share one WITH (their CTE namespaces
    // are disjoint: minhash = toks/sh/hashed/mh/bands/cand/sizes/
    // inter/pairs, simhash = tok/h/bits/s/sig); marginal catch via
    // NOT EXISTS against the cheaper stages
    "dedup_cascade" ->
      s"""WITH $MinhashPairsCtes,
         |$SimhashSigCte,
         |sp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |fps AS (SELECT doc_id,
         |    md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
         |  FROM documents),
         |ep AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |mp AS (SELECT doc_a, doc_b FROM pairs),
         |spn AS (SELECT doc_a, doc_b FROM sp
         |  WHERE NOT EXISTS (SELECT 1 FROM ep
         |    WHERE ep.doc_a = sp.doc_a AND ep.doc_b = sp.doc_b)),
         |mpn AS (SELECT doc_a, doc_b FROM mp
         |  WHERE NOT EXISTS (SELECT 1 FROM ep
         |    WHERE ep.doc_a = mp.doc_a AND ep.doc_b = mp.doc_b)
         |  AND NOT EXISTS (SELECT 1 FROM sp
         |    WHERE sp.doc_a = mp.doc_a AND sp.doc_b = mp.doc_b))
         |SELECT * FROM (
         |  SELECT 1 AS stage_order, 'exact' AS stage,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ep) AS n_pairs,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ep) AS n_new
         |  UNION ALL SELECT 2, 'simhash',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sp),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM spn)
         |  UNION ALL SELECT 3, 'minhash',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM mp),
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM mpn))
         |ORDER BY stage_order""".stripMargin,
    // variance scores from round-12 decimal component sums -> the
    // same deterministic dim ranking; both top-5 searches restated
    // as ROW_NUMBER windows; recall joins the two query x k lists
    "sim_dim_prune" ->
      s"""WITH comp AS (SELECT CAST(i AS INT) - 1 AS pos,
         |    CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)),
         |stats AS (SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(ROUND(v, 12) AS DECIMAL(28,12))) AS sv,
         |    SUM(CAST(ROUND(v * v, 12) AS DECIMAL(28,12))) AS svv
         |  FROM comp GROUP BY 1),
         |sc AS (SELECT pos, CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
         |    - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) AS score FROM stats),
         |dims AS (SELECT list(pos ORDER BY pos) AS dims
         |  FROM (SELECT pos FROM sc ORDER BY score DESC, pos LIMIT 16)),
         |pe AS (SELECT vec_id, embedding,
         |    list_transform(dims, i -> embedding[i + 1]) AS p
         |  FROM embeddings CROSS JOIN dims),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, p AS qp
         |  FROM pe WHERE vec_id % 25 = 0),
         |fullsc AS (SELECT query_id, vec_id,
         |    ${duckCosine("qe", "embedding")} AS sim
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
         |fullt AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |    FROM fullsc) WHERE rnk <= 5),
         |prsc AS (SELECT query_id, p2.vec_id,
         |    ${duckCosine("qp", "p")} AS sim
         |  FROM pe p2 CROSS JOIN q WHERE p2.vec_id <> query_id
         |    AND ${duckDot("p", "p")} > 0 AND ${duckDot("qp", "qp")} > 0),
         |prt AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |    FROM prsc) WHERE rnk <= 5)
         |SELECT f.query_id, CAST(COUNT(p.vec_id) AS BIGINT) AS n_overlap,
         |  round(CAST(COUNT(p.vec_id) AS DOUBLE) / 5.0, 9) AS recall
         |FROM fullt f LEFT JOIN prt p
         |  ON p.query_id = f.query_id AND p.vec_id = f.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact BIGINT sums of the same two regex counts; ratios divide
    // the sums in double at the end
    "text_fertility" ->
      s"""WITH f AS (SELECT source,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws,
         |    CAST(len(regexp_extract_all(text,
         |      '${graft.operators.TextOps.BpePattern.replace("'", "''")}')) AS BIGINT) AS bpe,
         |    CAST(len(text) AS BIGINT) AS chars
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ws) AS BIGINT) AS n_ws, CAST(SUM(bpe) AS BIGINT) AS n_bpe,
         |  round(CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE), 9)
         |    AS fertility,
         |  round(CAST(SUM(chars) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE), 9)
         |    AS chars_per_piece
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // returns divide exact day revenues in double; every Pearson
    // term stages as round-12 DECIMAL(28,12) (order-free sums)
    "w34_volatility" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |rets AS (SELECT d,
        |    (CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE)) / CAST(prev AS DOUBLE) AS r
        |  FROM (SELECT d, rev, LAG(rev) OVER (ORDER BY d) AS prev FROM daily)
        |  WHERE prev IS NOT NULL),
        |p AS (SELECT r AS a, rn AS b, r * r AS a2, rn * rn AS b2
        |  FROM (SELECT r, LEAD(r) OVER (ORDER BY d) AS rn FROM rets)
        |  WHERE rn IS NOT NULL),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(ROUND(a, 12) AS DECIMAL(28,12))) AS r_sa,
        |    SUM(CAST(ROUND(b, 12) AS DECIMAL(28,12))) AS r_sb,
        |    SUM(CAST(ROUND(a * b, 12) AS DECIMAL(28,12))) AS r_sab,
        |    SUM(CAST(ROUND(a * a, 12) AS DECIMAL(28,12))) AS r_saa,
        |    SUM(CAST(ROUND(b * b, 12) AS DECIMAL(28,12))) AS r_sbb,
        |    SUM(CAST(ROUND(a2, 12) AS DECIMAL(28,12))) AS q_sa,
        |    SUM(CAST(ROUND(b2, 12) AS DECIMAL(28,12))) AS q_sb,
        |    SUM(CAST(ROUND(a2 * b2, 12) AS DECIMAL(28,12))) AS q_sab,
        |    SUM(CAST(ROUND(a2 * a2, 12) AS DECIMAL(28,12))) AS q_saa,
        |    SUM(CAST(ROUND(b2 * b2, 12) AS DECIMAL(28,12))) AS q_sbb
        |  FROM p)
        |SELECT n AS n_pairs,
        |  round((CAST(n AS DOUBLE) * CAST(r_sab AS DOUBLE)
        |      - CAST(r_sa AS DOUBLE) * CAST(r_sb AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(r_saa AS DOUBLE)
        |        - CAST(r_sa AS DOUBLE) * CAST(r_sa AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(r_sbb AS DOUBLE)
        |        - CAST(r_sb AS DOUBLE) * CAST(r_sb AS DOUBLE))), 9)
        |    AS r1_returns,
        |  round((CAST(n AS DOUBLE) * CAST(q_sab AS DOUBLE)
        |      - CAST(q_sa AS DOUBLE) * CAST(q_sb AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(q_saa AS DOUBLE)
        |        - CAST(q_sa AS DOUBLE) * CAST(q_sa AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(q_sbb AS DOUBLE)
        |        - CAST(q_sb AS DOUBLE) * CAST(q_sb AS DOUBLE))), 9)
        |    AS r1_sq_returns
        |FROM s""".stripMargin,
    // per-user running-max event time over the deterministic
    // hash-shuffled replay order; micros lateness in watermark bands
    "w35_late_arrival" ->
      """WITH l AS (SELECT GREATEST(0, COALESCE(mx - tu, 0)) AS late_us
        |  FROM (SELECT epoch_us(ts) AS tu,
        |      MAX(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY md5(CAST(event_id AS VARCHAR))
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |    FROM events)),
        |b AS (SELECT CASE WHEN late_us = 0 THEN 0
        |    WHEN late_us <= 60000000 THEN 1
        |    WHEN late_us <= 600000000 THEN 2
        |    WHEN late_us <= 3600000000 THEN 3
        |    ELSE 4 END AS bucket_order FROM l),
        |g AS (SELECT bucket_order, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM b GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM g)
        |SELECT bucket_order,
        |  (['on_time', 'le_1m', 'le_10m', 'le_1h', 'gt_1h'])[bucket_order + 1]
        |    AS bucket,
        |  n_events,
        |  round(CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE), 9) AS share
        |FROM g CROSS JOIN tot ORDER BY bucket_order""".stripMargin,
    // integer-exact silence runs predicted from the staged PCM
    // formula (the mm_audio_zcr sample expression)
    "mm_audio_silence" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 50 + 10 AS BIGINT) * CAST(doc_id % 2 + 1 AS BIGINT)
        |      AS ns
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 1),
        |sm AS (SELECT doc_id, ns, j,
        |    ((doc_id + (2*j+1)*31) % 256 - 128) * 256
        |      + ((doc_id + 2*j*31) % 256 - 128 + 256) % 256 AS v
        |  FROM m, unnest(range(0, ns)) t(j))
        |SELECT doc_id, ns AS n_samples,
        |  CAST(COALESCE(MIN(j) FILTER (WHERE abs(v) >= 4096), ns) AS BIGINT)
        |    AS lead_silence,
        |  CAST(COALESCE(ns - 1 - MAX(j) FILTER (WHERE abs(v) >= 4096), ns)
        |    AS BIGINT) AS trail_silence,
        |  CAST(COUNT(*) FILTER (WHERE abs(v) < 4096) AS BIGINT) AS n_silent
        |FROM sm GROUP BY doc_id, ns ORDER BY doc_id""".stripMargin,
    // three explicit frontier expansions over the co-order pair list
    // (the iterative joins restated); balls exclude the seed itself
    "graph_bfs_ball" ->
      """WITH p AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
        |    greatest(a.l_partkey, b.l_partkey) AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS MATERIALIZED (SELECT x AS u, y AS v FROM p
        |  UNION ALL SELECT y, x FROM p),
        |seeds AS (SELECT DISTINCT u AS s FROM e WHERE u % 997 = 0),
        |b1 AS MATERIALIZED (SELECT DISTINCT s.s, e.v
        |  FROM seeds s JOIN e ON e.u = s.s),
        |b2 AS MATERIALIZED (SELECT DISTINCT s, v FROM (
        |    SELECT s, v FROM b1
        |    UNION ALL SELECT f.s, g.v FROM b1 f JOIN e g ON f.v = g.u)
        |  WHERE v <> s),
        |b3 AS MATERIALIZED (SELECT DISTINCT s, v FROM (
        |    SELECT s, v FROM b2
        |    UNION ALL SELECT f.s, g.v FROM b2 f JOIN e g ON f.v = g.u)
        |  WHERE v <> s)
        |SELECT n1.s AS seed, n1.n AS n_r1, n2.n AS n_r2, n3.n AS n_r3,
        |  round(CAST(n3.n AS DOUBLE) / CAST(n1.n AS DOUBLE), 9) AS expansion
        |FROM (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM b1 GROUP BY 1) n1
        |JOIN (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM b2 GROUP BY 1) n2
        |  ON n2.s = n1.s
        |JOIN (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM b3 GROUP BY 1) n3
        |  ON n3.s = n1.s
        |ORDER BY seed""".stripMargin,
    // code-usage counts off the same stored-index CTE; utilization
    // folds from pure-integer sums
    "sim_pq_code_util" ->
      s"""WITH $PqCtes,
         |u AS (SELECT j, cid, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM codes GROUP BY 1, 2)
         |SELECT CAST(j AS INT) AS subspace,
         |  CAST(SUM(c) AS BIGINT) AS n_vecs,
         |  CAST(COUNT(*) AS BIGINT) AS codes_used,
         |  round(CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)
         |    / CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE), 9)
         |    AS eff_codes,
         |  round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 9)
         |    AS top_code_share
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // transitive-closure components; longest-doc pick restated as the
    // max-len + min-id two-step (identical to max(struct) ties)
    "pipe_survivor_policy" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |cm AS (SELECT c.component, c.doc_id, d.n_chars
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         |byid AS (SELECT component, MIN(doc_id) AS s_min FROM cm GROUP BY 1),
         |mx AS (SELECT component, MAX(n_chars) AS mc FROM cm GROUP BY 1),
         |byq AS (SELECT cm.component, MIN(cm.doc_id) AS s_q
         |  FROM cm JOIN mx ON cm.component = mx.component
         |    AND cm.n_chars = mx.mc
         |  GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_components,
         |  CAST(SUM(CASE WHEN s_min <> s_q THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_disagree,
         |  round(CAST(SUM(CASE WHEN s_min <> s_q THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 9) AS disagree_share
         |FROM byid JOIN byq ON byq.component = byid.component""".stripMargin,
    // both scheme chains in one WITH (disjoint CTE namespaces, as in
    // dedup_cascade); Chapman folds from the three exact counts
    "dedup_capture_recapture" ->
      s"""WITH $MinhashPairsCtes,
         |$SimhashSigCte,
         |sp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |mp AS (SELECT doc_a, doc_b FROM pairs),
         |c AS (SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM mp) AS n_minhash,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sp) AS n_simhash,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM mp
         |      WHERE EXISTS (SELECT 1 FROM sp
         |        WHERE sp.doc_a = mp.doc_a AND sp.doc_b = mp.doc_b))
         |      AS n_overlap)
         |SELECT n_minhash, n_simhash, n_overlap,
         |  round((CAST(n_minhash AS DOUBLE) + 1.0)
         |    * (CAST(n_simhash AS DOUBLE) + 1.0)
         |    / (CAST(n_overlap AS DOUBLE) + 1.0) - 1.0, 9) AS chapman_est,
         |  round(CAST(n_minhash AS DOUBLE) / ((CAST(n_minhash AS DOUBLE) + 1.0)
         |    * (CAST(n_simhash AS DOUBLE) + 1.0)
         |    / (CAST(n_overlap AS DOUBLE) + 1.0) - 1.0), 9)
         |    AS coverage_minhash,
         |  round(CAST(n_simhash AS DOUBLE) / ((CAST(n_minhash AS DOUBLE) + 1.0)
         |    * (CAST(n_simhash AS DOUBLE) + 1.0)
         |    / (CAST(n_overlap AS DOUBLE) + 1.0) - 1.0), 9)
         |    AS coverage_simhash
         |FROM c""".stripMargin,
    // first-occurrence bucket per distinct (bucket, shingle); the
    // bucket boundary is one broadcast max (integer div on both sides)
    "pipe_novelty_curve" ->
      s"""WITH $ToksCte,
         |$ShinglesCte,
         |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
         |b AS (SELECT DISTINCT
         |    CAST(LEAST(9, (doc_id * 10) // (mx + 1)) AS INT) AS bucket, sh
         |  FROM sh CROSS JOIN mx),
         |pb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |  FROM b GROUP BY 1),
         |nv AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_novel FROM (
         |    SELECT sh, MIN(bucket) AS bucket FROM b GROUP BY 1)
         |  GROUP BY 1)
         |SELECT pb.bucket, pb.n_shingles,
         |  COALESCE(nv.n_novel, 0) AS n_novel,
         |  round(CAST(COALESCE(nv.n_novel, 0) AS DOUBLE)
         |    / CAST(pb.n_shingles AS DOUBLE), 9) AS novelty_rate
         |FROM pb LEFT JOIN nv ON nv.bucket = pb.bucket
         |ORDER BY pb.bucket""".stripMargin,
    // exact decimal value sums through the grid AND the cumulative
    // window; one division at the end (the w28 cohort convention)
    "w36_cohort_ltv" ->
      """WITH base AS (SELECT user_id,
        |    (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM base GROUP BY 1),
        |sizes AS (SELECT cohort_wk,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_cohort
        |  FROM cohort GROUP BY 1),
        |cells AS (SELECT c.cohort_wk, b.wk - c.cohort_wk AS age_wk,
        |    SUM(b.v) AS wk_value
        |  FROM base b JOIN cohort c ON c.user_id = b.user_id
        |  GROUP BY 1, 2),
        |cum AS (SELECT cohort_wk, age_wk,
        |    SUM(wk_value) OVER (PARTITION BY cohort_wk ORDER BY age_wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_value
        |  FROM cells)
        |SELECT cum.cohort_wk, cum.age_wk, s.n_cohort,
        |  CAST(cum.cum_value AS DOUBLE) AS cum_value,
        |  round(CAST(cum.cum_value AS DOUBLE) / CAST(s.n_cohort AS DOUBLE), 9)
        |    AS ltv_per_user
        |FROM cum JOIN sizes s ON s.cohort_wk = cum.cohort_wk
        |ORDER BY cum.cohort_wk, cum.age_wk""".stripMargin,
    // per-day ln(revenue) staged once behind round-12; q-period
    // returns difference the staged values; round-12 decimal sums
    "a53_variance_ratio" -> {
      def varCte(q: Int) =
        s"""v$q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_$q,
           |    SUM(CAST(ROUND(r, 12) AS DECIMAL(28,12))) AS s_$q,
           |    SUM(CAST(ROUND(r * r, 12) AS DECIMAL(28,12))) AS ss_$q
           |  FROM (SELECT l - LAG(l, $q) OVER (ORDER BY d) AS r FROM ld)
           |  WHERE r IS NOT NULL)""".stripMargin
      def variance(q: Int) =
        s"""((CAST(ss_$q AS DOUBLE) - CAST(s_$q AS DOUBLE)
           | * CAST(s_$q AS DOUBLE) / CAST(n_$q AS DOUBLE))
           | / CAST(n_$q AS DOUBLE))""".stripMargin.replace("\n", "")
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
         |  FROM orders GROUP BY 1),
         |ld AS (SELECT d, ROUND(LN(CAST(rev AS DOUBLE)), 12) AS l FROM daily),
         |${varCte(1)},
         |${varCte(2)},
         |${varCte(4)},
         |${varCte(8)}
         |SELECT q, n_returns, vr FROM (
         |  SELECT 2 AS q, n_2 AS n_returns,
         |    round(${variance(2)} / (2.0 * ${variance(1)}), 9) AS vr
         |  FROM v1 CROSS JOIN v2
         |  UNION ALL SELECT 4, n_4,
         |    round(${variance(4)} / (4.0 * ${variance(1)}), 9)
         |  FROM v1 CROSS JOIN v4
         |  UNION ALL SELECT 8, n_8,
         |    round(${variance(8)} / (8.0 * ${variance(1)}), 9)
         |  FROM v1 CROSS JOIN v8)
         |ORDER BY q""".stripMargin
    },
    // low bit of each of the 16 minhashes; the debiased 1-bit
    // estimator unrolls as 16 literal comparisons on both engines
    "dedup_bbit" -> {
      val agreeSql = (0 until 16)
        .map(i => s"CASE WHEN a.m$i % 2 = b.m$i % 2 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $MinhashPairsCtes
         |SELECT p.doc_a, p.doc_b, p.jaccard,
         |  round(CAST($agreeSql AS DOUBLE) * 2.0 / 16.0 - 1.0, 9) AS bbit_est,
         |  round(abs(p.jaccard
         |    - (CAST($agreeSql AS DOUBLE) * 2.0 / 16.0 - 1.0)), 9) AS abs_err
         |FROM pairs p
         |JOIN mh a ON a.doc_id = p.doc_a
         |JOIN mh b ON b.doc_id = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin
    },
    // digit runs normalized to '#' before the document-frequency
    // count; census joins back per source
    "text_templates" ->
      """WITH parts AS (SELECT doc_id, source,
        |    regexp_replace(unnest(string_split(text, '. ')),
        |      '[0-9]+', '#', 'g') AS tpl
        |  FROM documents),
        |tpls AS (SELECT tpl FROM parts GROUP BY tpl
        |  HAVING COUNT(DISTINCT doc_id) >= 5),
        |hit AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_templated FROM (
        |    SELECT DISTINCT p.doc_id, p.source
        |    FROM parts p JOIN tpls t ON t.tpl = p.tpl)
        |  GROUP BY 1),
        |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1)
        |SELECT ps.source, ps.n_docs,
        |  COALESCE(hit.n_templated, 0) AS n_templated,
        |  round(CAST(COALESCE(hit.n_templated, 0) AS DOUBLE)
        |    / CAST(ps.n_docs AS DOUBLE), 9) AS templated_share
        |FROM ps LEFT JOIN hit ON hit.source = ps.source
        |ORDER BY ps.source""".stripMargin,
    // |p(x+1,y) - p(x,y)| summed over the Media.Png ramp formula;
    // width-1 images keep their zero row via the LEFT JOIN
    "mm_gradient_energy" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(doc_id % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents WHERE octet_length(encode(text)) % 3 = 0),
        |px AS (
        |  SELECT doc_id, i.i, j.j
        |  FROM m, (SELECT unnest(range(0,64)) AS i) i,
        |          (SELECT unnest(range(0,48)) AS j) j
        |  WHERE i.i < w - 1 AND j.j < h),
        |g AS (SELECT doc_id,
        |    CAST(SUM(abs((doc_id + (i+1)*31 + j*7) % 256
        |      - (doc_id + i*31 + j*7) % 256)) AS BIGINT) AS gs
        |  FROM px GROUP BY 1)
        |SELECT m.doc_id, m.w AS width, m.h AS height,
        |  CAST(m.w - 1 AS BIGINT) * m.h AS n_pairs,
        |  COALESCE(g.gs, 0) AS grad_sum,
        |  CASE WHEN (m.w - 1) * m.h > 0 THEN
        |      round(CAST(COALESCE(g.gs, 0) AS DOUBLE)
        |        / CAST(CAST(m.w - 1 AS BIGINT) * m.h AS DOUBLE), 9)
        |    ELSE 0.0 END AS mean_grad
        |FROM m LEFT JOIN g ON g.doc_id = m.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // demeaned Goertzel bin: each x*cos / x*sin / x*x term staged as
    // round-6 DECIMAL(28,6); the amplitude folds on the exact sums
    "a54_spectral_peak" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |mu AS (SELECT CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
        |  FROM daily),
        |xt AS (SELECT CAST(rev AS DOUBLE) - mu AS x,
        |    CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS DOUBLE)
        |      * (2.0 * pi() / 7) AS th
        |  FROM daily CROSS JOIN mu),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(ROUND(x * cos(th), 6) AS DECIMAL(28,6))) AS c,
        |    SUM(CAST(ROUND(x * sin(th), 6) AS DECIMAL(28,6))) AS sn,
        |    SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS xx
        |  FROM xt)
        |SELECT n AS n_days,
        |  round(sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
        |      + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))
        |    * 2.0 / CAST(n AS DOUBLE), 6) AS amp_week,
        |  round(sqrt(CAST(xx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS std_daily,
        |  round((sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
        |      + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))
        |    * 2.0 / CAST(n AS DOUBLE))
        |    / sqrt(CAST(xx AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS amp_over_std
        |FROM st""".stripMargin,
    // per-term round-12 DECIMAL(18,14) staging of both entropies
    // (the tokenEntropy discipline over the type^2 transition table)
    "a55_entropy_rate" ->
      """WITH tr AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_sd FROM (
        |    SELECT event_type AS src, LEAD(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |    FROM events)
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |bs AS (SELECT src, CAST(SUM(n_sd) AS BIGINT) AS n_s FROM tr GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_sd) AS BIGINT) AS n FROM tr),
        |hr AS (SELECT n, SUM(CAST(ROUND(
        |      -(CAST(n_sd AS DOUBLE) / CAST(n AS DOUBLE))
        |        * LN(CAST(n_sd AS DOUBLE) / CAST(n_s AS DOUBLE)), 12)
        |      AS DECIMAL(18,14))) AS h_rate
        |  FROM tr JOIN bs USING (src) CROSS JOIN tot GROUP BY n),
        |h0 AS (SELECT SUM(CAST(ROUND(
        |      -(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE))
        |        * LN(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)), 12)
        |      AS DECIMAL(18,14))) AS h0
        |  FROM (SELECT dst, CAST(SUM(n_sd) AS BIGINT) AS n_d
        |    FROM tr GROUP BY 1) CROSS JOIN tot)
        |SELECT n AS n_transitions,
        |  round(CAST(h_rate AS DOUBLE), 9) AS entropy_rate,
        |  round(CAST(h0 AS DOUBLE), 9) AS marginal_entropy,
        |  round(CAST(h0 AS DOUBLE) - CAST(h_rate AS DOUBLE), 9) AS info_gain
        |FROM hr CROSS JOIN h0""".stripMargin,
    // five round-12 decimal sufficient statistics inside ONE 28-row
    // date window; emitted once the window is full
    "w37_rolling_corr" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT d, COUNT(*) OVER w AS n,
        |    SUM(CAST(ROUND(CAST(cnt AS DOUBLE), 12) AS DECIMAL(28,12)))
        |      OVER w AS sx,
        |    SUM(CAST(ROUND(CAST(rev AS DOUBLE), 12) AS DECIMAL(28,12)))
        |      OVER w AS sy,
        |    SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * CAST(rev AS DOUBLE), 12)
        |      AS DECIMAL(28,12))) OVER w AS sxy,
        |    SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE), 12)
        |      AS DECIMAL(28,12))) OVER w AS sxx,
        |    SUM(CAST(ROUND(CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE), 12)
        |      AS DECIMAL(28,12))) OVER w AS syy
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
        |SELECT d AS day,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS rolling_r
        |FROM r WHERE n = 28 ORDER BY day""".stripMargin,
    // both rankers restated at k = 10; per-k overlaps fold from the
    // one joined rank-pair list
    "sim_recall_curve" ->
      s"""WITH $LshSigCte,
         |qr AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |bsc AS (SELECT query_id, vec_id, ${duckCosine("qe", "embedding")} AS sim
         |  FROM embeddings CROSS JOIN qr WHERE vec_id <> query_id),
         |bt AS (SELECT query_id, vec_id, rnk FROM (
         |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |    FROM bsc) WHERE rnk <= 10),
         |qb AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM sig
         |  WHERE vec_id % 25 = 0),
         |cand AS (SELECT qb.query_id, s.vec_id, qb.qe, s.embedding
         |  FROM sig s JOIN qb ON s.bucket = qb.bucket
         |    AND s.vec_id <> qb.query_id),
         |lsc AS (SELECT query_id, vec_id,
         |    ${duckCosine("qe", "embedding")} AS sim FROM cand),
         |lt AS (SELECT query_id, vec_id, rnk FROM (
         |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
         |    FROM lsc) WHERE rnk <= 10),
         |j AS (SELECT b.query_id, b.rnk AS b_rnk, l.rnk AS l_rnk
         |  FROM bt b JOIN lt l
         |    ON l.query_id = b.query_id AND l.vec_id = b.vec_id),
         |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qr),
         |h AS (SELECT
         |    CAST(SUM(CASE WHEN b_rnk <= 1 AND l_rnk <= 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS h1,
         |    CAST(SUM(CASE WHEN b_rnk <= 5 AND l_rnk <= 5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS h5,
         |    CAST(SUM(CASE WHEN b_rnk <= 10 AND l_rnk <= 10 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS h10
         |  FROM j)
         |SELECT k, n_queries, recall FROM (
         |  SELECT 1 AS k, n_queries,
         |    round(CAST(h1 AS DOUBLE) / (1.0 * CAST(n_queries AS DOUBLE)), 9)
         |      AS recall FROM h CROSS JOIN nq
         |  UNION ALL SELECT 5, n_queries,
         |    round(CAST(h5 AS DOUBLE) / (5.0 * CAST(n_queries AS DOUBLE)), 9)
         |  FROM h CROSS JOIN nq
         |  UNION ALL SELECT 10, n_queries,
         |    round(CAST(h10 AS DOUBLE) / (10.0 * CAST(n_queries AS DOUBLE)), 9)
         |  FROM h CROSS JOIN nq)
         |ORDER BY k""".stripMargin,
    // affine-sampled pair subset; weighted-Jaccard inner join runs
    // only on the sample; lengths join back from documents
    "dedup_review_queue" ->
      s"""WITH $MinhashPairsCtes,
         |sampled AS (SELECT doc_a, doc_b, jaccard FROM pairs
         |  WHERE ((((doc_a % 1000003) * 131071 + doc_b % 1000003)
         |    % 2147483648) * 1103515245 + 12345) % 2147483648 % 5 = 0),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM toks) GROUP BY 1, 2),
         |tots AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
         |im AS (SELECT p.doc_a, p.doc_b,
         |    CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS sum_min
         |  FROM sampled p
         |  JOIN tf a ON a.doc_id = p.doc_a
         |  JOIN tf b ON b.doc_id = p.doc_b AND b.tok = a.tok
         |  GROUP BY 1, 2)
         |SELECT s.doc_a, s.doc_b, s.jaccard,
         |  round(CAST(im.sum_min AS DOUBLE)
         |    / CAST(ta.n + tb.n - im.sum_min AS DOUBLE), 9) AS w_jaccard,
         |  CAST(da.n_chars AS BIGINT) AS len_a,
         |  CAST(db.n_chars AS BIGINT) AS len_b
         |FROM sampled s
         |JOIN im ON im.doc_a = s.doc_a AND im.doc_b = s.doc_b
         |JOIN tots ta ON ta.doc_id = s.doc_a
         |JOIN tots tb ON tb.doc_id = s.doc_b
         |JOIN documents da ON da.doc_id = s.doc_a
         |JOIN documents db ON db.doc_id = s.doc_b
         |ORDER BY s.doc_a, s.doc_b""".stripMargin,
    // every decimal intermediate is exactly representable on both
    // engines (rev at scale 4, cost at scale 3 x integer qty), so no
    // precision-capping path is ever taken
    "q9_nation_margin" ->
      """WITH j AS (SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |        * CAST(1 - CAST(l.l_discount AS DECIMAL(18,2)) AS DECIMAL(6,2))
        |      AS DECIMAL(38,6))
        |    - CAST(CAST(CAST(0.80 AS DECIMAL(4,2))
        |          * CAST(p.p_retailprice AS DECIMAL(18,2)) AS DECIMAL(20,3))
        |        * CAST(l.l_quantity AS DECIMAL(4,0)) AS DECIMAL(38,6)) AS m
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey)
        |SELECT n_name AS nation, o_year,
        |  CAST(SUM(m) AS DOUBLE) AS margin,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM j GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    // transitive-closure components, then four unrolled BFS hops from
    // each root; ecc = first ball that covers the component
    "dedup_component_ecc" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS MATERIALIZED (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM comp GROUP BY 1),
         |roots AS (SELECT DISTINCT component AS s FROM comp),
         |b1 AS MATERIALIZED (SELECT DISTINCT r.s, e.v
         |  FROM roots r JOIN edges e ON e.u = r.s),
         |b2 AS MATERIALIZED (SELECT DISTINCT s, v FROM (
         |    SELECT s, v FROM b1
         |    UNION ALL SELECT f.s, g.v FROM b1 f JOIN edges g ON g.u = f.v)
         |  WHERE v <> s),
         |b3 AS MATERIALIZED (SELECT DISTINCT s, v FROM (
         |    SELECT s, v FROM b2
         |    UNION ALL SELECT f.s, g.v FROM b2 f JOIN edges g ON g.u = f.v)
         |  WHERE v <> s),
         |b4 AS MATERIALIZED (SELECT DISTINCT s, v FROM (
         |    SELECT s, v FROM b3
         |    UNION ALL SELECT f.s, g.v FROM b3 f JOIN edges g ON g.u = f.v)
         |  WHERE v <> s),
         |c1 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n1 FROM b1 GROUP BY 1),
         |c2 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n2 FROM b2 GROUP BY 1),
         |c3 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n3 FROM b3 GROUP BY 1),
         |c4 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n4 FROM b4 GROUP BY 1),
         |ecc AS (SELECT c1.s,
         |    CASE WHEN n1 = sz - 1 THEN 1 WHEN n2 = sz - 1 THEN 2
         |      WHEN n3 = sz - 1 THEN 3 WHEN n4 = sz - 1 THEN 4
         |      ELSE 5 END AS root_ecc, sz
         |  FROM c1 JOIN c2 ON c2.s = c1.s JOIN c3 ON c3.s = c1.s
         |  JOIN c4 ON c4.s = c1.s JOIN sz ON sz.component = c1.s)
         |SELECT root_ecc, CAST(COUNT(*) AS BIGINT) AS n_components,
         |  CAST(SUM(sz) AS BIGINT) AS n_docs
         |FROM ecc GROUP BY 1 ORDER BY 1""".stripMargin,
    // the shardShuffle affine key reduced mod nShards; exact token
    // sums, one division against the uniform share
    "pipe_shard_balance" ->
      """WITH k AS (SELECT
        |    ((doc_id % 1000003) * 1103515245 + 12345) % 2147483648 % 8
        |      AS shard,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS tok
        |  FROM documents),
        |p AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(tok) AS BIGINT) AS tokens FROM k GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM p)
        |SELECT shard, n_docs, tokens,
        |  round(CAST(tokens AS DOUBLE) / (CAST(total AS DOUBLE) / 8.0), 9)
        |    AS load_ratio
        |FROM p CROSS JOIN tot ORDER BY shard""".stripMargin,
    // observed-cost Q2: per-(part, supplier) exact decimal sums, cost
    // divides in double, argmin = (cost, suppkey) lexicographic min
    "q2_min_cost_supplier" ->
      """WITH rs AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        |  FROM supplier s
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |  WHERE r.r_name = 'EUROPE'),
        |ps AS (SELECT l.l_partkey, l.l_suppkey,
        |    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS cost
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size = 15
        |  JOIN rs ON rs.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2),
        |mc AS (SELECT l_partkey, MIN(cost) AS mcost FROM ps GROUP BY 1),
        |am AS (SELECT ps.l_partkey, MIN(ps.l_suppkey) AS s_suppkey,
        |    MIN(ps.cost) AS cost
        |  FROM ps JOIN mc ON mc.l_partkey = ps.l_partkey
        |    AND ps.cost = mc.mcost
        |  GROUP BY 1)
        |SELECT am.l_partkey AS p_partkey, am.s_suppkey,
        |  rs.s_name, rs.s_acctbal, rs.n_name,
        |  round(am.cost, 9) AS unit_cost
        |FROM am JOIN rs ON rs.s_suppkey = am.s_suppkey
        |ORDER BY p_partkey""".stripMargin,
    // relative-threshold Q11: share > 2/n_parts of the nation's value
    "q11_important_share" ->
      """WITH ns AS (SELECT s_suppkey FROM supplier s
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |  WHERE r.r_name = 'ASIA'),
        |pp AS (SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS value
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM ns)
        |  GROUP BY 1),
        |tot AS (SELECT SUM(value) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_parts FROM pp)
        |SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS value,
        |  round(CAST(value AS DOUBLE) / CAST(total AS DOUBLE), 9) AS share
        |FROM pp CROSS JOIN tot
        |WHERE round(CAST(value AS DOUBLE) / CAST(total AS DOUBLE), 9)
        |  > 2.0 / CAST(n_parts AS DOUBLE)
        |ORDER BY p_partkey""".stripMargin,
    // observed-relation Q16: distinct shippers per (brand, size)
    "q16_supplier_variety" ->
      """SELECT p.p_brand, p.p_size,
        |  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#45'
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    // fair-share-relative Q20: supplier share x supplier count > 3
    "q20_dominant_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, SUM(qty) AS part_qty,
        |    CAST(COUNT(*) AS BIGINT) AS k FROM ps GROUP BY 1),
        |dom AS (SELECT ps.l_suppkey, CAST(COUNT(*) AS BIGINT)
        |    AS n_dominant_parts
        |  FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey
        |  WHERE CAST(ps.qty AS DOUBLE) / CAST(pt.part_qty AS DOUBLE)
        |    * CAST(pt.k AS DOUBLE) > 3.0
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, n.n_name, dom.n_dominant_parts
        |FROM dom
        |JOIN supplier s ON s.s_suppkey = dom.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |ORDER BY s.s_suppkey""".stripMargin,
    // centered powers staged as round-6 DECIMAL(38,6) moment terms
    "a57_jarque_bera" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |mu AS (SELECT CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mu FROM daily),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(ROUND((CAST(rev AS DOUBLE) - mu)
        |      * (CAST(rev AS DOUBLE) - mu), 6) AS DECIMAL(38,6))) AS m2s,
        |    SUM(CAST(ROUND((CAST(rev AS DOUBLE) - mu)
        |      * (CAST(rev AS DOUBLE) - mu)
        |      * (CAST(rev AS DOUBLE) - mu), 6) AS DECIMAL(38,6))) AS m3s,
        |    SUM(CAST(ROUND((CAST(rev AS DOUBLE) - mu)
        |      * (CAST(rev AS DOUBLE) - mu)
        |      * (CAST(rev AS DOUBLE) - mu)
        |      * (CAST(rev AS DOUBLE) - mu), 6) AS DECIMAL(38,6))) AS m4s
        |  FROM daily CROSS JOIN mu)
        |SELECT n AS n_days,
        |  round((CAST(m3s AS DOUBLE) / CAST(n AS DOUBLE))
        |    / pow(CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 9)
        |    AS skewness,
        |  round((CAST(m4s AS DOUBLE) / CAST(n AS DOUBLE))
        |    / ((CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0, 9)
        |    AS excess_kurtosis,
        |  round(CAST(n AS DOUBLE) / 6.0
        |    * (((CAST(m3s AS DOUBLE) / CAST(n AS DOUBLE))
        |        / pow(CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE), 1.5))
        |      * ((CAST(m3s AS DOUBLE) / CAST(n AS DOUBLE))
        |        / pow(CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE), 1.5))
        |      + ((CAST(m4s AS DOUBLE) / CAST(n AS DOUBLE))
        |          / ((CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE))
        |            * (CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0)
        |        * ((CAST(m4s AS DOUBLE) / CAST(n AS DOUBLE))
        |          / ((CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE))
        |            * (CAST(m2s AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0)
        |        / 4.0), 9) AS jarque_bera
        |FROM m""".stripMargin,
    // round-9 autocorrelations feed the same Durbin-Levinson doubles
    "a58_pacf" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |mu AS (SELECT CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mu FROM daily),
        |xs AS (SELECT d, CAST(rev AS DOUBLE) - mu AS x
        |  FROM daily CROSS JOIN mu),
        |ls AS (SELECT x, LEAD(x, 1) OVER (ORDER BY d) AS x1,
        |    LEAD(x, 2) OVER (ORDER BY d) AS x2,
        |    LEAD(x, 3) OVER (ORDER BY d) AS x3
        |  FROM xs),
        |cs AS (SELECT
        |    SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS c0,
        |    SUM(CAST(ROUND(x * x1, 6) AS DECIMAL(38,6))) AS c1,
        |    SUM(CAST(ROUND(x * x2, 6) AS DECIMAL(38,6))) AS c2,
        |    SUM(CAST(ROUND(x * x3, 6) AS DECIMAL(38,6))) AS c3
        |  FROM ls),
        |rs AS (SELECT
        |    round(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE), 9) AS r1,
        |    round(CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE), 9) AS r2,
        |    round(CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE), 9) AS r3
        |  FROM cs),
        |dl AS (SELECT r1, r2, r3,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22 FROM rs),
        |dl2 AS (SELECT r1, r2, r3, p22, r1 - p22 * r1 AS p21 FROM dl)
        |SELECT lag, acf, pacf FROM (
        |  SELECT 1 AS lag, r1 AS acf, r1 AS pacf FROM dl2
        |  UNION ALL SELECT 2, r2, round(p22, 9) FROM dl2
        |  UNION ALL SELECT 3, r3, round(
        |    (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2), 9)
        |  FROM dl2)
        |ORDER BY lag""".stripMargin,
    // the blocked JW join runs once; every sweep point is a count
    "er_threshold_sweep" ->
      """WITH h AS (SELECT doc_id, lang, substr(text,1,32) AS head,
        |             substr(text,1,4) AS blk FROM documents),
        |p AS (SELECT round(jaro_winkler_similarity(a.head, b.head), 6) AS jw
        |  FROM h a JOIN h b
        |    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
        |  WHERE round(jaro_winkler_similarity(a.head, b.head), 6) >= 0.92),
        |t AS (SELECT UNNEST([0.92, 0.94, 0.96, 0.98]) AS threshold)
        |SELECT t.threshold, CAST(COUNT(p.jw) AS BIGINT) AS n_pairs
        |FROM t LEFT JOIN p ON p.jw >= t.threshold
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // one token-count pass, conditional sums per window limit
    "pipe_context_census" ->
      """WITH td AS (SELECT CAST(len(regexp_extract_all(lower(text),
        |      '[a-z0-9]+')) AS BIGINT) AS tok FROM documents),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |    CAST(SUM(CASE WHEN tok > 512 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
        |    CAST(SUM(CASE WHEN tok > 512 THEN tok - 512 ELSE 0 END)
        |      AS BIGINT) AS w1,
        |    CAST(SUM(CASE WHEN tok > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS o2,
        |    CAST(SUM(CASE WHEN tok > 2048 THEN tok - 2048 ELSE 0 END)
        |      AS BIGINT) AS w2,
        |    CAST(SUM(CASE WHEN tok > 8192 THEN 1 ELSE 0 END) AS BIGINT) AS o3,
        |    CAST(SUM(CASE WHEN tok > 8192 THEN tok - 8192 ELSE 0 END)
        |      AS BIGINT) AS w3
        |  FROM td)
        |SELECT w AS window_len, n_over, share_over, waste_share FROM (
        |  SELECT 512 AS w, o1 AS n_over,
        |    round(CAST(o1 AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
        |      AS share_over,
        |    round(CAST(w1 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9)
        |      AS waste_share FROM a
        |  UNION ALL SELECT 2048, o2,
        |    round(CAST(o2 AS DOUBLE) / CAST(n_docs AS DOUBLE), 9),
        |    round(CAST(w2 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9)
        |  FROM a
        |  UNION ALL SELECT 8192, o3,
        |    round(CAST(o3 AS DOUBLE) / CAST(n_docs AS DOUBLE), 9),
        |    round(CAST(w3 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9)
        |  FROM a)
        |ORDER BY window_len""".stripMargin,
    // the doc_id % 3 routing rule predicts every staged file count
    "mm_manifest" ->
      """SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_files FROM (
        |  SELECT CASE octet_length(encode(text)) % 3
        |      WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS modality
        |  FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // token-keyed profile self-join (vocab x source^2 bounded);
    // exact BIGINT-in-DECIMAL dot/norm sums
    "text_source_similarity" ->
      """WITH tf AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source, unnest(regexp_extract_all(lower(text),
        |      '[a-z0-9]+')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |norms AS (SELECT source,
        |    SUM(CAST(c * c AS DECIMAL(38,0))) AS n2 FROM tf GROUP BY 1),
        |dots AS (SELECT a.source AS source_a, b.source AS source_b,
        |    SUM(CAST(a.c * b.c AS DECIMAL(38,0))) AS dot
        |  FROM tf a JOIN tf b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT d.source_a, d.source_b,
        |  round(CAST(d.dot AS DOUBLE)
        |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 9)
        |    AS cosine
        |FROM dots d
        |JOIN norms na ON na.source = d.source_a
        |JOIN norms nb ON nb.source = d.source_b
        |ORDER BY d.source_a, d.source_b""".stripMargin,
    // the text_quality_model score shape, swept as conditional sums
    "pipe_quality_sweep" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |    CAST(len(text) AS BIGINT) AS n_chars_measured,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> t IN ('the','a','and','of','to'))) AS BIGINT) AS n_stop,
        |    CAST(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      t -> len(t))) AS BIGINT) AS total_len
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_tokens,
        |    1.5 * (CASE WHEN n_tokens > 0
        |        THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
        |      - CAST(n_punct AS DOUBLE) / n_chars_measured
        |      + 0.02 * (CASE WHEN n_tokens > 0
        |        THEN CAST(total_len AS DOUBLE) / n_tokens ELSE 0.0 END)
        |      AS q_score
        |  FROM q),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(SUM(CASE WHEN q_score >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS k0,
        |    CAST(SUM(CASE WHEN q_score >= 0.1 THEN n_tokens ELSE 0 END) AS BIGINT) AS t0,
        |    CAST(SUM(CASE WHEN q_score >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
        |    CAST(SUM(CASE WHEN q_score >= 0.2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(SUM(CASE WHEN q_score >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
        |    CAST(SUM(CASE WHEN q_score >= 0.3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(SUM(CASE WHEN q_score >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
        |    CAST(SUM(CASE WHEN q_score >= 0.4 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3
        |  FROM f)
        |SELECT cutoff, n_kept, doc_share, token_share FROM (
        |  SELECT CAST(0.1 AS DOUBLE) AS cutoff, k0 AS n_kept,
        |    round(CAST(k0 AS DOUBLE) / CAST(n_docs AS DOUBLE), 9) AS doc_share,
        |    round(CAST(t0 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9)
        |      AS token_share FROM a
        |  UNION ALL SELECT CAST(0.2 AS DOUBLE), k1,
        |    round(CAST(k1 AS DOUBLE) / CAST(n_docs AS DOUBLE), 9),
        |    round(CAST(t1 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9) FROM a
        |  UNION ALL SELECT CAST(0.3 AS DOUBLE), k2,
        |    round(CAST(k2 AS DOUBLE) / CAST(n_docs AS DOUBLE), 9),
        |    round(CAST(t2 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9) FROM a
        |  UNION ALL SELECT CAST(0.4 AS DOUBLE), k3,
        |    round(CAST(k3 AS DOUBLE) / CAST(n_docs AS DOUBLE), 9),
        |    round(CAST(t3 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9) FROM a)
        |ORDER BY cutoff""".stripMargin,
    // exact BIGINT count moments per weekday (a44 epoch convention)
    "a59_dispersion" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |g AS (SELECT ((d - DATE '1996-01-01') % 7 + 7) % 7 AS weekday,
        |    CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(c * c) AS BIGINT) AS sc2
        |  FROM daily GROUP BY 1)
        |SELECT CAST(weekday AS INT) AS weekday, n_days,
        |  round(CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE), 9) AS mean_count,
        |  round((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |      / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE), 9)
        |    AS var_count,
        |  round(((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |      / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE))
        |    / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)), 9) AS dispersion
        |FROM g ORDER BY weekday""".stripMargin,
    // first-k agree counts unroll per k; per-pair errors stage as
    // round-12 decimals before the order-free means
    "dedup_k_sensitivity" -> {
      def agree(k: Int) = (0 until k)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      def errSum(k: Int) =
        s"""SUM(CAST(ROUND(abs(p.jaccard
           | - CAST($${AG$k} AS DOUBLE) / $k.0), 12) AS DECIMAL(18,14)))"""
          .stripMargin.replace("\n", "")
          .replace(s"$${AG$k}", agree(k))
      s"""WITH $MinhashPairsCtes,
         |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    ${errSum(4)} AS e4,
         |    ${errSum(8)} AS e8,
         |    ${errSum(16)} AS e16
         |  FROM pairs p
         |  JOIN mh a ON a.doc_id = p.doc_a
         |  JOIN mh b ON b.doc_id = p.doc_b)
         |SELECT k, n_pairs, mae FROM (
         |  SELECT 4 AS k, n_pairs,
         |    round(CAST(e4 AS DOUBLE) / CAST(n_pairs AS DOUBLE), 9) AS mae
         |  FROM e
         |  UNION ALL SELECT 8, n_pairs,
         |    round(CAST(e8 AS DOUBLE) / CAST(n_pairs AS DOUBLE), 9) FROM e
         |  UNION ALL SELECT 16, n_pairs,
         |    round(CAST(e16 AS DOUBLE) / CAST(n_pairs AS DOUBLE), 9) FROM e)
         |ORDER BY k""".stripMargin
    },
    // coordinate 0 staged at round-9 feeds the a31 fold
    "sim_dim_leakage" ->
      """WITH x AS (SELECT label,
        |    round(CAST(embedding[1] AS DOUBLE), 9) AS x
        |  FROM embeddings),
        |g AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    SUM(CAST(ROUND(x, 12) AS DECIMAL(28,12))) AS sx_g,
        |    SUM(CAST(ROUND(x * x, 12) AS DECIMAL(28,12))) AS sxx_g
        |  FROM x GROUP BY 1),
        |p AS (SELECT n_g, sx_g,
        |    CAST(ROUND(CAST(sxx_g AS DOUBLE)
        |      - CAST(sx_g AS DOUBLE) * CAST(sx_g AS DOUBLE)
        |        / CAST(n_g AS DOUBLE), 6) AS DECIMAL(28,10)) AS ssw_g,
        |    CAST(ROUND(CAST(sx_g AS DOUBLE) * CAST(sx_g AS DOUBLE)
        |      / CAST(n_g AS DOUBLE), 6) AS DECIMAL(28,10)) AS sb_g
        |  FROM g),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(n_g) AS BIGINT) AS n, SUM(sx_g) AS sx_tot,
        |    SUM(ssw_g) AS ssw, SUM(sb_g) AS sb FROM p)
        |SELECT k AS n_labels, n AS n_vecs,
        |  CASE WHEN ssw > 0 THEN
        |    round(((CAST(sb AS DOUBLE)
        |        - CAST(sx_tot AS DOUBLE) * CAST(sx_tot AS DOUBLE)
        |          / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
        |      / (CAST(ssw AS DOUBLE)
        |        / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 9)
        |  ELSE NULL END AS f_stat
        |FROM t WHERE k > 1 AND n > k""".stripMargin,
    // identical total order (rev, custkey) -> identical ntile fronts;
    // exact decimal shares divide once in double
    "a60_lorenz" ->
      """WITH pc AS (SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |dt AS (SELECT ntile(10) OVER (ORDER BY rev, o_custkey) AS decile, rev
        |  FROM pc),
        |bd AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |    SUM(rev) AS drev FROM dt GROUP BY 1),
        |tot AS (SELECT CAST(SUM(drev) AS DECIMAL(38,2)) AS total FROM bd),
        |cm AS (SELECT decile, n_customers, drev,
        |    SUM(drev) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crev
        |  FROM bd)
        |SELECT decile, n_customers,
        |  round(CAST(drev AS DOUBLE) / CAST(total AS DOUBLE), 9) AS rev_share,
        |  round(CAST(crev AS DOUBLE) / CAST(total AS DOUBLE), 9) AS cum_share
        |FROM cm CROSS JOIN tot ORDER BY decile""".stripMargin,
    // transitive-closure components; population tag via left join
    "pipe_survivor_bias" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |tagged AS (SELECT CAST(d.n_chars AS BIGINT) AS len,
         |    CASE WHEN c.component IS NULL THEN 'untouched'
         |      WHEN c.doc_id = c.component THEN 'survivor'
         |      ELSE 'dropped' END AS pop
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT pop, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  round(CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         |    AS mean_chars
         |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin,
  )

  /** The J1 merge result (base FULL OUTER delta, delta wins, deletes
    * dropped) — shared by the batch merge query and its streamed
    * two-batch CDC replay, which must land on the same snapshot.
    */
  private lazy val J1MergeOracle: String =
    s"""WITH $BaseCte, ${deltaCte("delta", 2, 1.1, 1)}
       |SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
       |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_custkey ELSE b.o_custkey END AS o_custkey,
       |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
       |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
       |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderdate ELSE b.o_orderdate END AS o_orderdate
       |FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
       |WHERE NOT coalesce(d.is_deleted, false)
       |ORDER BY o_orderkey""".stripMargin

  /** Gaps-and-islands restatement of Spark's native session_window:
    * strict merge (>= breaks), end = last event + gap. Shared by the
    * batch (w9) and streaming (sentinel-closed) variants — identical
    * results by construction, one oracle.
    */
  private val SessionWindowOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
      |x AS (
      |  SELECT user_id, t,
      |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      |g AS (
      |  SELECT user_id, t,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM x)
      |SELECT user_id, MIN(t) AS session_start,
      |  MAX(t) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
      |FROM g GROUP BY user_id, grp
      |ORDER BY user_id, session_start""".stripMargin

  /** DuckDB twin of [[Relational.w16Ewma]] (k = 8, alpha = 1/2): the
    * frame's integer 2^j weights expressed as explicit lag terms —
    * decimal × bit-shifted-integer products, an exact decimal sum, and
    * one trailing double division, mirroring the Spark side op-for-op.
    */
  private val EwmaOracleSql: String = {
    val k = 8
    val lags = (0 until k)
      .map(j => s"lag(vc, $j) OVER w AS lag$j").mkString(",\n    ")
    val terms = (0 until k).map(j =>
      s"(CASE WHEN $j < m THEN lag$j * CAST(1 << (m-1-$j) AS BIGINT) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END)").mkString(" + ")
    s"""WITH v AS (
       |  SELECT user_id, event_id, ts, CAST(value AS DECIMAL(18,2)) AS vc
       |  FROM events
       |), r AS (
       |  SELECT user_id, event_id,
       |    CAST(LEAST(ROW_NUMBER() OVER w, $k) AS INT) AS m,
       |    $lags
       |  FROM v
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |)
       |SELECT user_id, event_id,
       |  CAST(($terms) AS DOUBLE) / (power(2, m) - 1) AS ewma
       |FROM r ORDER BY user_id, event_id""".stripMargin
  }

  /** DuckDB twin of [[Relational.a15Corr]]: the same five exact
    * decimal sufficient statistics combined in the SAME double
    * expression tree — generated so the IEEE op order cannot drift
    * from the Spark side.
    */
  private val CorrOracleSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val sums = (
      cols.map(c => s"SUM(CAST($c AS DECIMAL(12,2))) AS s_$c") ++
      cols.map(c =>
        s"SUM(CAST($c AS DECIMAL(12,2)) * CAST($c AS DECIMAL(12,2))) AS ss_$c") ++
      pairs.map { case (a, b) =>
        s"SUM(CAST($a AS DECIMAL(12,2)) * CAST($b AS DECIMAL(12,2))) AS sp_${a}_$b" })
      .mkString(", ")
    def dd(x: String) = s"CAST($x AS DOUBLE)"
    def corr(a: String, b: String) =
      s"round((${dd("n")} * ${dd(s"sp_${a}_$b")} - ${dd(s"s_$a")} * ${dd(s"s_$b")}) / " +
        s"sqrt((${dd("n")} * ${dd(s"ss_$a")} - ${dd(s"s_$a")} * ${dd(s"s_$a")}) * " +
        s"(${dd("n")} * ${dd(s"ss_$b")} - ${dd(s"s_$b")} * ${dd(s"s_$b")})), 12)"
    val branches = pairs.map { case (a, b) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, ${corr(a, b)} AS corr_v FROM s"
    }.mkString(" UNION ALL ")
    s"WITH s AS (SELECT COUNT(*) AS n, $sums FROM lineitem) " +
      s"SELECT col_a, col_b, corr_v FROM ($branches) ORDER BY col_a, col_b"
  }

  /** DuckDB twin of [[Relational.a17LinearFit]]: identical sufficient
    * sums and the identical rounded double combine — the slope
    * expression is spliced (not recomputed) into the intercept so the
    * ROUNDED slope feeds it on both engines.
    */
  private val LinearFitOracleSql: String = {
    def dd(x: String) = s"CAST($x AS DOUBLE)"
    val slope =
      s"round((${dd("n")} * ${dd("sty")} - ${dd("st")} * ${dd("sy")}) / " +
        s"(${dd("n")} * ${dd("stt")} - ${dd("st")} * ${dd("st")}), 12)"
    s"""WITH t0 AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events),
       |b AS (SELECT event_type,
       |        CAST(epoch_us(ts) - t0 AS DECIMAL(18,0)) AS t,
       |        CAST(value AS DECIMAL(18,2)) AS y
       |      FROM events CROSS JOIN t0),
       |s AS (SELECT event_type, COUNT(*) AS n, SUM(t) AS st,
       |             -- widen one operand: DECIMAL(18)x(18) runs in
       |             -- int64 in DuckDB and overflows on us-scale t^2;
       |             -- (19)x(18) takes the exact int128 path
       |             SUM(CAST(t AS DECIMAL(19,0)) * t) AS stt,
       |             SUM(y) AS sy, SUM(CAST(t AS DECIMAL(19,0)) * y) AS sty
       |      FROM b GROUP BY event_type)
       |SELECT event_type, n, $slope AS slope,
       |  round((${dd("sy")} - $slope * ${dd("st")}) / ${dd("n")}, 12) AS intercept
       |FROM s ORDER BY event_type""".stripMargin
  }

  /** DuckDB-side tokenizer CTE (mirrors TextOps.toksCol). */
  private val ToksCte =
    """toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
      |)""".stripMargin

  /** Blocked Jaro-Winkler ER pairs — one oracle for the batch operator
    * and its streaming replay twin (same pair set by construction).
    */
  private val ErJaroPairsOracle =
    """WITH h AS (SELECT doc_id, lang, substr(text,1,32) AS head,
      |             substr(text,1,4) AS blk FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(jaro_winkler_similarity(a.head, b.head), 6) AS jw
      |FROM h a JOIN h b
      |  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE round(jaro_winkler_similarity(a.head, b.head), 6) >= 0.92
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact integer-grid covariance cells (i, j, cov) — shared by the
    * sim_covariance oracle and the power-iteration oracle built on it.
    */
  private val CovCellsCtes =
    """ds AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |ex AS (SELECT vec_id,
      |  CAST(generate_subscripts(q, 1) - 1 AS BIGINT) AS dim, unnest(q) AS x
      |  FROM ds),
      |cells AS (
      |  SELECT a.dim AS i, b.dim AS j, SUM(a.x * b.x) AS spq, COUNT(*) AS n
      |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      |  GROUP BY 1, 2),
      |dims AS (SELECT dim, SUM(x) AS s FROM ex GROUP BY 1),
      |ccells AS (
      |  SELECT i, j,
      |    round(CAST(n * spq - di.s * dj.s AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000000000.0, 9) AS cov
      |  FROM cells JOIN dims di ON di.dim = i JOIN dims dj ON dj.dim = j)""".stripMargin

  /** Unrolled fixed-point power iteration over the covariance grid —
    * the SQL twin of `SimilarityOps.pcaTopComponent`: same half-up
    * floor quantization, 128-bit integer matvec sums (order-free),
    * max-abs renormalization with sign routed through magnitude-only
    * integer division (floor-vs-truncate can never disagree).
    */
  private val pcaPowerOracle: String = {
    val steps = (1 to 8).map { k =>
      s"""t$k AS (
         |  SELECT a.i AS dim, SUM(a.v * v.val) AS t
         |  FROM amat a JOIN v${k - 1} v ON a.j = v.dim GROUP BY 1),
         |m$k AS (SELECT MAX(ABS(t)) AS m FROM t$k),
         |v$k AS (
         |  SELECT dim, CASE WHEN m = 0 THEN CAST(0 AS HUGEINT)
         |    WHEN t < 0 THEN -((CAST(-t AS HUGEINT) * 1000000) // m)
         |    ELSE (CAST(t AS HUGEINT) * 1000000) // m END AS val
         |  FROM t$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${CovCellsCtes.replace("ccells AS (", "ccells AS MATERIALIZED (")},
       |amat AS MATERIALIZED (
       |  SELECT i, j, CAST(floor(cov * 1000000.0 + 0.5) AS BIGINT) AS v FROM ccells
       |  UNION ALL
       |  SELECT j AS i, i AS j, CAST(floor(cov * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM ccells WHERE i <> j),
       |v0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS HUGEINT) AS val FROM ccells),
       |$steps
       |SELECT dim, CAST(val AS DOUBLE) / 1000000.0 AS loading
       |FROM v8 ORDER BY dim""".stripMargin
  }

  /** DuckDB-side random-hyperplane LSH bucket (mirrors
    * SimilarityOps.hyperplaneSignature: `numPlanes` planes starting at
    * plane id `offset`).
    */
  /** Shared DuckDB fragments for the language-ID scoring, used by the
    * text_langid oracle and the composed corpus-clean oracle (marker
    * lists mirror TextOps.LangMarkers).
    */
  private object TextOpsOracle {
    private val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of", "is"),
      "de" -> Seq("der", "die", "und", "ist", "das"),
      "es" -> Seq("el", "la", "y", "es", "de"),
      "fr" -> Seq("le", "la", "et", "est", "un"),
      "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

    /** per-language score columns over a token-list SQL expression */
    def langScoreCols(toksSql: String): String = markers.map { case (language, words) =>
      s"CAST(len(list_filter($toksSql, " +
        s"t -> t IN (${words.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS score_$language"
    }.mkString(",\n    ")

    val langCaseChain: String = {
      val greatestAll = markers.map(m => s"score_${m._1}").mkString("greatest(", ", ", ")")
      markers.map { case (language, _) =>
        s"WHEN score_$language = $greatestAll AND score_$language > 0 THEN '$language'"
      }.mkString("\n    ")
    }
  }

  private def lshSigCte(name: String, numPlanes: Int, offset: Int): String =
    s"""$name AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(0, $numPlanes), i ->
       |      CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), d ->
       |          CAST(embedding[d] AS DOUBLE) *
       |          (((i + $offset) * 1009 + (d - 1)) * 2654435761 % 1000 / 500.0 - 1.0))) > 0
       |        THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM embeddings)""".stripMargin

  private val LshSigCte = lshSigCte("sig", 8, 0)

  /** Adaptive banded-LSH candidate CTEs mirroring
    * SimilarityOps.bandedCandidatePairs: 8 tables at a FIXED 8-plane
    * stride (sig$t holds the full 8-bit slice at plane offset t*8),
    * active planes = the low-p bits masked off with a COUNT(*)-derived
    * mask — the same integer ladder as SimilarityOps.adaptivePlanes,
    * so both engines band identically at every corpus size.
    */
  private def lshBandedCandSql: String = {
    val tables = (0 until 8).map(t => lshSigCte(s"sig$t", 8, t * 8))
    val unions = (0 until 8).map(t =>
      s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM sig$t a " +
        s"JOIN sig$t b ON (a.bucket & (SELECT mask FROM params)) = " +
        s"(b.bucket & (SELECT mask FROM params)) AND a.vec_id < b.vec_id")
      .mkString("\n    UNION ALL ")
    s"""${tables.mkString(",\n")},
       |params AS (SELECT CASE WHEN COUNT(*) <= 512 THEN 15
       |  WHEN COUNT(*) <= 1024 THEN 31 WHEN COUNT(*) <= 2048 THEN 63
       |  WHEN COUNT(*) <= 4096 THEN 127 ELSE 255 END AS mask FROM embeddings),
       |cand AS (SELECT DISTINCT vec_a, vec_b FROM (
       |    $unions))""".stripMargin
  }

  /** DuckDB-side minhash: the same (a*H + b) mod P family as
    * DedupOps.minhashParams(16), unrolled from the same constants.
    */
  private val MinhashMinsSql =
    graft.operators.DedupOps.minhashParams(16).zipWithIndex.map {
      case ((a, b), i) => s"min((h32 * $a + $b) % ${graft.operators.DedupOps.MinhashP}) AS m$i"
    }.mkString(",\n    ")

  /** DuckDB-side LSH bands: 8 bands of 2 consecutive minhashes (mirrors
    * the `stack` unpivot in DedupOps.minhashLsh).
    */
  private val MinhashBandsSql = (0 until 8).map { j =>
    s"SELECT doc_id, $j AS band, CAST(m${2 * j} AS VARCHAR) || '_' || " +
      s"CAST(m${2 * j + 1} AS VARCHAR) AS band_key FROM mh"
  }.mkString("\n  UNION ALL ")

  /** DuckDB-side MinHash+LSH pipeline through the verified pair set
    * (mirrors DedupOps.minhashLsh, threshold 0.5), shared by the
    * minhash-LSH, connected-components, and survivors oracles. Ends in
    * a `pairs(doc_a, doc_b, jaccard)` CTE.
    */
  /** DuckDB-side shingle-hash + minhash-signature CTEs (end in `mh`),
    * shared by the pairs pipeline and the incremental-index oracle.
    */
  private lazy val HashedMhCtes =
    s"""hashed AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
       |    i -> (strpos('0123456789abcdef', substr(md5(sh), i, 1)) - 1) * power(16, 8 - i)))
       |    AS BIGINT) AS h32
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id,
       |    $MinhashMinsSql
       |  FROM hashed GROUP BY doc_id)""".stripMargin

  private lazy val MinhashPairsCtes =
    s"""$ToksCte,
       |$ShinglesCte,
       |$HashedMhCtes,
       |bands AS (
       |  $MinhashBandsSql),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
       |  GROUP BY c.doc_a, c.doc_b),
       |pairs AS (
       |  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5)""".stripMargin

  /** DuckDB-side distinct word-trigram shingles (mirrors DedupOps.shingles). */
  private val ShinglesCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM toks, unnest(range(1, greatest(len(ws) - 1, 1))) t(i)
      |  WHERE len(ws) >= 3
      |)""".stripMargin

  /** DuckDB-side 32-bit simhash signature (mirrors DedupOps.simhash). */
  private val SimhashSigCte =
    """tok AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(ws) AS tok FROM toks)),
      |h AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(1, 9),
      |    i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1) * power(16, 8 - i)))
      |    AS BIGINT) AS h
      |  FROM tok),
      |bits AS (SELECT doc_id, h, unnest(range(0, 32)) AS b FROM h),
      |s AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM bits GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM s GROUP BY doc_id)""".stripMargin

  /** DuckDB-side 64-bit simhash as two exact 32-bit halves (mirrors
    * DedupOps.simhash64: h1 = md5(tok), h2 = md5('x'||tok)).
    */
  private val Simhash64SigCte = {
    def h32(arg: String) =
      s"CAST(list_sum(list_transform(range(1, 9), i -> " +
        s"(strpos('0123456789abcdef', substr(md5($arg), i, 1)) - 1) * power(16, 8 - i))) AS BIGINT)"
    s"""tok AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(ws) AS tok FROM toks)),
       |h AS (
       |  SELECT doc_id, ${h32("tok")} AS h1, ${h32("'x' || tok")} AS h2
       |  FROM tok),
       |bits AS (SELECT doc_id, h1, h2, unnest(range(0, 32)) AS b FROM h),
       |s AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h1 >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s1,
       |    sum(CASE WHEN (h2 >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s2
       |  FROM bits GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s1 > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash_hi,
       |    CAST(sum(CASE WHEN s2 > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash_lo
       |  FROM s GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB-side k-means restatement (mirrors
    * SimilarityOps.kmeansAssign: k=8, 2 Lloyd iterations, `% 23`
    * lowest-id init, 6-decimal quantization, DECIMAL-exact mean
    * accumulation, argmax of 2·dot−|c|² with lowest-cid tiebreak).
    */
  /** The vec_dot cast shape as a DuckDB list fold (per-element DOUBLE
    * cast, sequential accumulation — bit-exact vs the codegen'd
    * kernel).
    */
  private def PqDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** PQ CTE chain: 4-subspace slices, 8-row sampled codebooks, exact
    * 2·dot − |c|² argmin assignment — `codes` holds (vec_id, j, cid),
    * `cent` holds (cid, j, ce). Shared by the encode oracle and the
    * ADC serving oracle.
    */
  private lazy val PqCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding, len(embedding) // 4 AS sd FROM embeddings),
       |s1 AS (SELECT vec_id, embedding, sd, unnest(range(0, 4)) AS j FROM e),
       |sub AS (SELECT vec_id, j,
       |  embedding[j * sd + 1 : (j + 1) * sd] AS sub FROM s1),
       |cb AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding,
       |    len(embedding) // 4 AS sd
       |  FROM (SELECT * FROM embeddings WHERE vec_id % 23 = 0
       |        ORDER BY vec_id LIMIT 8)),
       |c1 AS (SELECT cid, embedding, sd, unnest(range(0, 4)) AS j FROM cb),
       |cent AS (SELECT cid, j,
       |  embedding[j * sd + 1 : (j + 1) * sd] AS ce FROM c1),
       |pqa AS (
       |  SELECT s.vec_id, s.j, c.cid,
       |    2 * ${PqDot("s.sub", "c.ce")} - ${PqDot("c.ce", "c.ce")} AS score
       |  FROM sub s JOIN cent c ON s.j = c.j),
       |codes AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT vec_id, j, cid, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id, j ORDER BY score DESC, cid) AS rn
       |    FROM pqa) WHERE rn = 1)""".stripMargin

  /** Direct global bottom-8 KMV — shared by the batch rollup (merged
    * daily sketches) and the streaming sketch (merged micro-batches):
    * both must equal it exactly.
    */
  private lazy val KmvOracle: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
      |  FROM events),
      |r AS (
      |  SELECT event_type, h,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rnk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nd
      |  FROM h),
      |b AS (SELECT * FROM r WHERE rnk <= 8)
      |SELECT event_type, CAST(rnk AS INT) AS rnk, h,
      |  CASE WHEN nd < 8 THEN nd
      |    ELSE CAST(floor(7 * 4503599627370496.0 /
      |      MAX(h) OVER (PARTITION BY event_type)) AS BIGINT)
      |  END AS est_distinct
      |FROM b ORDER BY event_type, rnk""".stripMargin

  private val KmeansOracle: String =
    s"""WITH $KmeansCtes
       |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster
       |FROM a2 ORDER BY vec_id""".stripMargin

  /** The k-means CTE chain (deterministic init, 2 Lloyd iterations);
    * final assignment lands in `a2` — shared by the sim_kmeans oracle
    * and the SemDeDup candidate generator.
    */
  private lazy val KmeansCtes: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, e, cid AS cluster FROM (
         |    SELECT q.vec_id, q.e, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY 2 * ${dot("q.e", "c.ce")} - ${dot("c.ce", "c.ce")} DESC,
         |          c.cid) AS rn
         |    FROM q CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def update(mName: String, cName: String, aName: String) =
      s"""$mName AS (
         |  SELECT cluster, i,
         |    round(CAST(SUM(CAST(e[i] AS DECIMAL(21,6))) AS DOUBLE) / COUNT(*), 6) AS m
         |  FROM $aName, unnest(range(1, len(e) + 1)) t(i)
         |  GROUP BY cluster, i),
         |$cName AS (SELECT cluster AS cid, list(m ORDER BY i) AS ce
         |  FROM $mName GROUP BY cluster)""".stripMargin
    s"""q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS e
       |  FROM embeddings),
       |c0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
       |  FROM (SELECT vec_id, e FROM q WHERE vec_id % 23 = 0 ORDER BY vec_id LIMIT 8)),
       |${assign("a0", "c0")},
       |${update("m1", "c1", "a0")},
       |${assign("a1", "c1")},
       |${update("m2", "c2", "a1")},
       |${assign("a2", "c2")}""".stripMargin
  }

  /** DuckDB-side cosine over two FLOAT[] columns — same element-wise
    * double cast + sequential accumulation as SimilarityOps.cosineExpr.
    */
  private def duckDot(x: String, y: String): String =
    s"list_sum(list_transform(range(1, len($x) + 1), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"

  private def duckCosine(a: String, b: String): String =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
}
