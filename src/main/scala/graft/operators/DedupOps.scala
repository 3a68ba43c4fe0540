package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** Near-duplicate detection for training-data pipelines: MinHash+LSH,
  * SimHash, and exact n-gram Jaccard. Built entirely from codegen'd
  * built-in functions (md5 as the cross-engine hash primitive).
  *
  * Scale posture (the whole point of LSH): candidate generation is a
  * self-equi-join on band keys — rows shuffle once on the band hash,
  * and only documents sharing a band collide, so the join never goes
  * quadratic. Exact pairwise verification runs only on that candidate
  * set. At 100 TB the shingle explode is a narrow map; the band join is
  * the single shuffle; skewed bands (boilerplate docs) are handled by
  * AQE skew-join splitting.
  */
object DedupOps {

  /** doc_id + distinct word-trigram shingle rows, each row carrying the
    * doc's total shingle count `n`. `n` is computed narrowly from the
    * per-doc array BEFORE the explode, so Jaccard denominators ride
    * along with the rows — no separate sizes aggregation and no
    * sizes joins downstream. NOT persisted here: multi-consumer
    * pipelines ([[minhashLsh]]) persist it themselves with an explicit
    * unpersist after materializing — an anonymous persist inside a
    * helper pins storage memory for the JVM's lifetime (CacheManager
    * holds a strong reference until unpersist), which under a long
    * bench suite is a slow leak.
    */
  private[graft] def shingleRows(documents: DataFrame): DataFrame =
    documents
      // entry repartition: the shingle build + explode amplifies each
      // doc ~50x, so parallelism must come from the row count, not the
      // scan's split count (a single parquet file = one task, and the
      // whole pipeline serializes before its first shuffle). Shuffling
      // raw text once is proportional to input and buys a full-width
      // stage for the expansion.
      .repartition(col("doc_id"))
      // fused codegen'd tokenize→trigram→distinct kernel: one pass per
      // doc wherever the optimizer places (or clones) it — the HOF
      // formulation re-ran the tokenizer regex per array element,
      // interpreted, inside a pushed-down InferFiltersFromGenerate
      // predicate (see WordShingles scaladoc for the autopsy).
      .select(col("doc_id"),
        graft.functions.GraftFunctions.word_shingles(col("text"), 3).as("shs"))
      // >=1 shingle ≡ >=3 tokens, the old pre-filter
      .filter(size(col("shs")) >= 1)
      .select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("sh"))

  /** MinHash prime modulus (2^31 - 1) and the derived universal-hash
    * family h_i(H) = (a_i * H + b_i) mod P. Each shingle is hashed ONCE
    * (md5 hex prefix → 32-bit int, the cross-engine primitive); the k
    * per-function values are then pure arithmetic — no k-way row
    * explode, no k md5 calls per shingle. a_i < 2^30 keeps a*H < 2^62
    * (no 64-bit overflow for H < 2^32). Constants are a fixed LCG
    * unrolled at plan-build time, identical in the SQL oracle.
    */
  private[graft] val MinhashP = 2147483647L
  private[graft] def minhashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (1103515245L * (i + 1) + 12345L) % 1073741822L + 1L
      val b = (134775813L * (i + 7) + 2531011L) % MinhashP
      (a, b)
    }

  /** MinHash signatures as one row per doc with columns m0..m{k-1}:
    * min over the shingle set of each derived hash function. One
    * narrow md5 per shingle + a single groupBy(doc_id) whose k `min`
    * aggregates combine map-side — the shuffle carries one row per
    * (partition, doc), not per (shingle, seed).
    */
  def minhashSignatures(documents: DataFrame, numHashes: Int): DataFrame =
    signaturesFrom(shingleRows(documents), numHashes)

  /** Signatures over an already-built shingle frame (possibly persisted
    * by the caller — [[minhashLsh]] reuses one materialization for both
    * the signature and the verify pass).
    */
  private[graft] def signaturesFrom(sh: DataFrame, numHashes: Int): DataFrame = {
    val hashed = sh.select(col("doc_id"),
      conv(substring(md5(col("sh")), 1, 8), 16, 10).cast("long").as("h32"))
    val mins = minhashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((col("h32") * a + b) % MinhashP).as(s"m$i")
    }
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash+LSH near-dup pairs: band the signature (rowsPerBand
    * consecutive minhashes per band key), bucket-join on (band, key),
    * then verify candidates with exact shingle Jaccard >= threshold.
    * Output: (doc_a, doc_b, jaccard).
    */
  def minhashLsh(documents: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 2, threshold: Double = 0.5): DataFrame = {
    // the shingle set is read twice (signatures + verify): persist ONE
    // materialization, eagerly materialize the (pair-set-sized) result
    // with a localCheckpoint, then release the cache — the explicit
    // lifecycle keeps repeated invocations (a bench suite, a scheduler
    // loop) from pinning storage memory forever. Checkpoint blocks are
    // freed by the ContextCleaner when the result frame is collected.
    val sh = shingleRows(documents).persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = signaturesFrom(sh, numHashes)
    val numBands = numHashes / rowsPerBand
    // unpivot the k min columns into (band, band_key) rows — a narrow
    // generator, no aggregation needed to build band keys
    val bands = bandsOf(sigs, numHashes, rowsPerBand)
    // candidates materialize eagerly (pair-set-sized): the verify stage
    // broadcasts two projections of them, and without a materialization
    // each broadcast exchange would re-run the whole signature+band
    // pipeline from scratch
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(true)
    val out = verifyJaccard(sh, candidates, threshold).localCheckpoint(true)
    sh.unpersist(blocking = false)
    out
  }

  /** Unpivot the k min-hash columns into (band, band_key) rows — the
    * banding step shared by [[minhashLsh]] and the bucket census.
    */
  private def bandsOf(sigs: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val stackArgs = (0 until numBands).map { j =>
      val key = (0 until rowsPerBand)
        .map(r => s"m${j * rowsPerBand + r}").mkString(", '_', ")
      s"$j, concat($key)"
    }.mkString(", ")
    sigs.selectExpr("doc_id",
      s"stack($numBands, $stackArgs) AS (band, band_key)")
  }

  /** LSH bucket-occupancy census — the banding-health monitor every
    * production LSH index watches: per band, how many buckets exist at
    * each occupancy (a fat bucket tail means the band key is too weak
    * for the corpus and the candidate join is about to go quadratic —
    * THE early-warning signal for re-deriving the banding parameters,
    * the same failure mode the hyperplane ladder guards on the
    * embedding side). Two keyed integer aggregates; output is bounded
    * by bands × distinct occupancies, never corpus-scale.
    */
  def lshBucketCensus(documents: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    val sh = shingleRows(documents)
    val bands = bandsOf(signaturesFrom(sh, numHashes), numHashes, rowsPerBand)
    bands.groupBy("band", "band_key").agg(count(lit(1)).as("sz"))
      .groupBy(col("band"), col("sz").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .orderBy("band", "bucket_size")
  }

  /** Near-dup rate per source — the first table of a dedup run report
    * read per PROVIDER: which source is feeding the duplicate mass
    * (a crawler re-ingesting a mirror shows up here long before the
    * corpus-level rate moves). Docs touched by any verified LSH pair,
    * counted against each source's size. The pair set is
    * candidate-scale, so the touched-id frame broadcasts onto the
    * corpus scan; one source-keyed count each side.
    */
  def dupRateBySource(documents: DataFrame, verified: DataFrame): DataFrame = {
    val touched = verified.select(col("doc_a").as("doc_id"))
      .unionByName(verified.select(col("doc_b").as("doc_id")))
      .distinct()
    val perSource = documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val dup = documents.select(col("doc_id"), col("source"))
      // touched is candidate-pair-derived (output-bounded, not corpus-
      // bounded): the unconditional broadcast carries the same fail-
      // loudly contract as the ngramJaccardPrefix id broadcasts — if
      // the dup mass ever exceeds broadcast limits, the banding
      // parameters are wrong for the corpus and the job should fail,
      // not silently degrade to a corpus-wide shuffle
      .join(broadcast(touched), Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup_docs"))
    perSource.join(dup, Seq("source"), "left")
      .na.fill(0L, Seq("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs").cast("double"),
          9).as("dup_rate"))
      .orderBy("source")
  }

  /** Dedup-threshold sensitivity sweep — the calibration table a
    * dedup policy decision reads: pair mass, cluster count, and
    * surviving-corpus size at several Jaccard cuts, from ONE LSH +
    * verify pass (the pairs carry their exact Jaccard, so each cut is
    * a filter over the checkpointed pair list, never a re-run of the
    * banded join). Components per cut ride
    * [[GraphOps.connectedComponents]] (candidate-scale graphs take its
    * union-find fast path). Thresholds sit inside the planted-dup
    * similarity range of the corpus (probed 0.95/0.97/0.985 split the
    * sf0.01 pair set 24/18/8) so the sweep shows real sensitivity, not
    * three identical rows. Output is |thresholds| rows at any corpus
    * size.
    */
  def thresholdSweep(documents: DataFrame, verified: DataFrame,
      thresholds: Seq[Double] = Seq(0.95, 0.97, 0.985)): DataFrame = {
    val pairs = verified.select(col("doc_a"), col("doc_b"), col("jaccard"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    thresholds.map { th =>
      val pt = pairs.filter(col("jaccard") >= th).select("doc_a", "doc_b")
      val cc = GraphOps.connectedComponents(pt)
      pt.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(cc.agg(countDistinct(col("component")).as("n_clusters"),
          count(lit(1)).as("n_paired")))
        .crossJoin(broadcast(nDocs))
        .select(lit(th).as("threshold"), col("n_pairs"), col("n_clusters"),
          (col("n_docs") - (col("n_paired") - col("n_clusters")))
            .as("n_survivors"))
    }.reduce(_ unionByName _).orderBy("threshold")
  }

  /** MinHash estimator calibration census: for every verified LSH
    * pair, the SIGNATURE-AGREEMENT Jaccard estimate (matching
    * minhashes / k — what [[minhashLshIncremental]] trusts in
    * production, where shingle sets are gone) is binned against the
    * EXACT shingle Jaccard, emitting per-agreement-level pair counts
    * and mean exact similarity. This is the honesty check that says
    * whether "12/16 hashes agree" may stand in for "J ≈ 0.75" on THIS
    * corpus before the incremental path relies on it. ≤ k+1 rows out;
    * exact Jaccards cross a round(…,9) decimal barrier before the
    * order-free mean. One pair-keyed join against the signature frame
    * per side — candidate-scale, not corpus-scale.
    *
    * `pairsIn` is an ALREADY-BUILT verified pair set, the shared-pair
    * convention of the other consumers ([[thresholdSweep]],
    * [[dupRateBySource]]). It must be [[minhashLsh]] output under the
    * SAME `numHashes` (the signature join below re-derives the per-pair
    * agreement against exactly that family), which the shared cache
    * guarantees.
    */
  def minhashCalibration(documents: DataFrame, pairsIn: DataFrame,
      numHashes: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pairs = pairsIn.select("doc_a", "doc_b", "jaccard")
    val sigs = minhashSignatures(documents, numHashes)
    def side(tag: String) = sigs.toDF(sigs.columns
      .map(c => if (c == "doc_id") s"doc_$tag" else s"${tag}_$c"): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .withColumn("n_match", matches.cast("long"))
      .groupBy("n_match")
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard"), 9).cast(DecimalType(24, 12))).as("sj"))
      .select(col("n_match"), col("n_pairs"),
        round(col("sj").cast("double") / col("n_pairs").cast("double"), 9)
          .as("avg_jaccard"))
      .orderBy("n_match")
  }

  /** Incremental near-dup: a slice of NEW documents against the
    * signature INDEX of an existing corpus — the production shape for
    * growing corpora (you never re-LSH 100 TB to admit a day's crawl;
    * you persist [[minhashSignatures]] as the index and join the new
    * slice's bands against it). Candidates come from a new×index band
    * equi-join — never index×index, so cost scales with the SLICE — and
    * are verified by SIGNATURE AGREEMENT (matching minhashes / k, the
    * standard unbiased Jaccard estimator) because an index retains
    * signatures, not shingle sets.
    *
    * `index`: a [[minhashSignatures]]-shaped frame (doc_id, m0..m{k-1})
    * — typically read back from storage. Returns
    * (new_id, corpus_id, est_jaccard) pairs with est_jaccard ≥ minAgree.
    * `newSignatures` is the new slice's [[minhashSignatures]] under
    * the same `numHashes`; both sides may be sliced from ONE signature
    * pass over a combined corpus, which halves the dominant
    * tokenize+hash cost vs two independent passes.
    */
  def minhashLshIncremental(newSignatures: DataFrame, index: DataFrame,
      numHashes: Int = 16, rowsPerBand: Int = 2,
      minAgree: Double = 0.5): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // both signature frames feed two consumers (bands + verify): one
    // materialization each, released after the eager result checkpoint
    // (same lifecycle discipline as minhashLsh). Ownership-aware: a
    // frame the CALLER already persisted is used as-is (persisting at
    // a different level would throw, and unpersisting here would evict
    // the caller's cache under it); only frames we persisted ourselves
    // are released.
    def persistOwned(df: DataFrame): (DataFrame, Boolean) =
      if (df.storageLevel == StorageLevel.NONE)
        (df.persist(StorageLevel.MEMORY_AND_DISK), true)
      else (df, false)
    val (newSigs, ownNew) = persistOwned(newSignatures)
    val (idxSigs, ownIdx) = persistOwned(index)
    val stackArgs = (0 until numBands).map { j =>
      val key = (0 until rowsPerBand)
        .map(r => s"m${j * rowsPerBand + r}").mkString(", '_', ")
      s"$j, concat($key)"
    }.mkString(", ")
    def bands(sigs: DataFrame) = sigs.selectExpr("doc_id",
      s"stack($numBands, $stackArgs) AS (band, band_key)")
    val cand = bands(newSigs).as("n").join(bands(idxSigs).as("i"),
        col("n.band") === col("i.band") &&
        col("n.band_key") === col("i.band_key") &&
        col("n.doc_id") =!= col("i.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("i.doc_id").as("corpus_id"))
      .distinct()
    val agree = (0 until numHashes)
      .map(i => when(col(s"ns.m$i") === col(s"ix.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val out = cand
      .join(newSigs.as("ns"), col("new_id") === col("ns.doc_id"))
      .join(idxSigs.as("ix"), col("corpus_id") === col("ix.doc_id"))
      .select(col("new_id"), col("corpus_id"),
        (agree.cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minAgree)
      .orderBy("new_id", "corpus_id")
      .localCheckpoint(true)
    if (ownNew) newSigs.unpersist(blocking = false)
    if (ownIdx) idxSigs.unpersist(blocking = false)
    out
  }

  /** Exact word-trigram Jaccard over a candidate pair set. Denominators
    * na/nb ride along with the shingle rows (see [[shingles]]), so the
    * whole verify is two joins + one aggregate — no sizes table.
    * Grouping keys include na/nb, which are functionally dependent on
    * the doc ids — no extra group cardinality.
    */
  private def verifyJaccard(sh: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    // the candidate pair set is post-banding, i.e. output-bound and
    // orders of magnitude smaller than the corpus: broadcast its two
    // doc-id projections and semi-join-filter the shingle set BEFORE
    // the intersection joins — the wide (doc, sh) shuffle then carries
    // only candidate docs' shingles, not the whole corpus's. The
    // broadcast() hint is honored UNCONDITIONALLY: a pathological
    // corpus whose candidate id set exceeds the broadcast hard limits
    // (8 GB / 512 M rows) fails the job rather than silently degrading
    // — at that point the banding parameters are wrong for the corpus
    // (the candidate set should be output-sized) and failing loudly
    // beats a quadratic shuffled fallback.
    val aIds = candidates.select(col("doc_a").as("doc_id")).distinct()
    val bIds = candidates.select(col("doc_b").as("doc_id")).distinct()
    val shA = sh.join(broadcast(aIds), Seq("doc_id"), "left_semi")
    val shB = sh.join(broadcast(bIds), Seq("doc_id"), "left_semi")
    // Witness-row shape, NOT per-pair array_intersect: pair i joins shA
    // on doc_a (one row per shingle of A), then shB on (doc_b, sh) — the
    // matching rows ARE the intersection, so the aggregate's input is
    // Σ_pairs n_a codegen'd hash-join rows and the count-by-group costs
    // nothing per row. An r13 attempt replaced this with per-doc
    // collect_list arrays + one array_intersect per pair; it profiled
    // FASTER for the high-threshold prefix path but regressed this
    // shared minhash verify ~15× at sf0.1 (the t=0.5 banding admits a
    // large weak-overlap candidate set, and ArrayIntersect allocates a
    // fresh hash set per PAIR over na+nb strings — measured ~39 s build
    // vs ~2.7 s for this shape, with the join duplicating every doc
    // array per pair and the GC churn poisoning neighboring queries).
    // Row-shaped witnesses keep cost proportional to candidate×shingle
    // volume through vectorized joins — the shape that survives a weak
    // candidate set, which is exactly what a 100 TB banding emits.
    candidates
      .join(shA.select(col("doc_id").as("doc_a"), col("n").as("na"), col("sh")), "doc_a")
      .join(shB.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("sh")),
        Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("i"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard all-pairs via sparse shared-shingle join
    * (docs sharing zero shingles never meet — the join IS the blocking;
    * background sharing is what limits scale, which is why minhashLsh
    * is the 100 TB path).
    *
    * 2x-audit note (`dedup_ngram_jaccard`, ~2.2 s engine time at
    * sf0.1 — the ratio against its DuckDB oracle swings 2-4x purely
    * with the oracle sweep's page-cache state): the cost is the TRUE
    * exact-census candidate mass Σ C(df, 2) over every shared shingle
    * — already minimal at two shuffles (bucket + pair fold) with the
    * lazy PairExplode generator, no O(k²) arrays, no sizes-table
    * join. Nothing removable without changing exactness; the bounded
    * production path is [[minhashLsh]] (banded candidates + verify),
    * and the scale-sane census variant is [[ngramJaccardSampled]].
    */
  def ngramJaccard(documents: DataFrame, threshold: Double): DataFrame = {
    // bucket (doc, n) per shingle and expand ordered pairs in-place: one
    // shuffle of the shingle set instead of the self-join's two
    // exchanges + sort-merge; pair counts are identical by construction.
    // Jaccard denominators ride with the rows (shingleRows), so the
    // whole operator is two shuffles total — no sizes table, no joins.
    // Single consumer of the shingle set: no persist needed.
    // Width-spread (the kTruss discipline): the bucket stage's OUTPUT
    // bytes are tiny but its continuation expands Σ C(df,2) pairs —
    // work AQE's byte-based coalescing cannot see. Its 1 MB
    // minPartitionSize floor packed the bucket+expand stage onto 2
    // tasks (profiled 6.0 CPU-s serialized into 4.6 s of wall at
    // sf0.1); an explicit-width repartition on the SAME key replaces
    // the aggregate's own exchange (no extra shuffle) and pins the
    // expansion at cluster width.
    shingleRows(documents)
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("sh"))
      .groupBy("sh")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
      .filter(size(col("ds")) > 1)
      // lazy custom generator: one row per in-bucket pair, no O(k²)
      // array materialization, no interpreted lambda per element
      // (graft.functions.PairExplode)
      .select(graft.functions.GraftFunctions.pair_explode(col("ds"))
        .as(Seq("a", "b")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard pairs TOUCHING a deterministic doc sample
    * (doc_id ≡ 0 mod `mod`) — the census primitive that lets the LSH
    * recall check itself survive scale: the full census's ground truth
    * is an all-pairs shared-shingle join (cost tracks Σ C(df, 2) over
    * every shingle), while this one joins only the SAMPLE's shingle
    * rows against the corpus, so candidate work drops by the sample
    * factor and the estimate is unbiased over sample-touching pairs.
    * Pair orientation is canonicalized (least/greatest); when BOTH
    * ends are sampled, only the lower id acts as the probe side, so
    * no pair is double-counted. Same exact Jaccard semantics as
    * [[ngramJaccard]].
    */
  def ngramJaccardSampled(documents: DataFrame, threshold: Double,
      mod: Int): DataFrame = {
    val rows = shingleRows(documents)
    val probe = rows.filter(col("doc_id") % mod === 0)
      .select(col("sh"), col("doc_id").as("sid"), col("n").as("sn"))
    probe
      .join(rows.select(col("sh"), col("doc_id").as("oid"),
        col("n").as("on")), Seq("sh"))
      .filter(col("oid") =!= col("sid") &&
        // both-sampled pairs appear under each probe doc: keep only
        // the lower-id probe's copy
        (col("oid") % mod =!= 0 || col("sid") < col("oid")))
      .select(
        when(col("sid") < col("oid"),
          struct(col("sid").as("d"), col("sn").as("n")))
          .otherwise(struct(col("oid").as("d"), col("on").as("n"))).as("a"),
        when(col("sid") < col("oid"),
          struct(col("oid").as("d"), col("on").as("n")))
          .otherwise(struct(col("sid").as("d"), col("sn").as("n"))).as("b"))
      .groupBy(col("a.d").as("doc_a"), col("b.d").as("doc_b"))
      .agg(count(lit(1)).as("i"), max(col("a.n")).as("na"),
        max(col("b.n")).as("nb"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram Jaccard via PREFIX FILTERING (the PPJoin family's
    * core lemma): order every doc's shingle set by one global canonical
    * order — ascending document frequency, ties by shingle — and keep
    * only each doc's first n−⌈t·n⌉+1 shingles as its prefix. Any pair
    * with Jaccard ≥ t must share a PREFIX shingle (if all common
    * shingles sat in x's suffix, the overlap would be ≤ ⌈t·nx⌉−1 <
    * t·nx ≤ t·|x∪y|), so bucketing on prefix shingles alone finds
    * every qualifying pair — same exact output as [[ngramJaccard]],
    * verified by the same full-intersection pass.
    *
    * Why this is the exact path that SURVIVES scale while the all-pairs
    * bucket join does not: the rarest-first order pushes boilerplate
    * shingles (the huge buckets that go quadratic) out of prefixes —
    * a doc lands in a hub bucket only when it has almost nothing rarer
    * — so candidate count tracks true near-dup density instead of
    * background shingle sharing. A (na,nb) length filter prunes the
    * remainder before the verify joins. Extra cost over all-pairs: one
    * df aggregation + one per-doc sort — both linear, both map-side
    * combinable.
    *
    * Measured tradeoff (sf0.1, t=0.7): candidate pairs drop 12×
    * (~1.2M bucket pairs → 105k), but the join-back verify plus the
    * extra df/prefix stages cost ~3 s of fixed stage time the in-bucket
    * counting of [[ngramJaccard]] never pays — so BELOW ~10⁶ docs the
    * all-pairs shape is faster (1.4 s vs 5 s), and this corpus's
    * template-generated text (mean shingle df ≈ 10; natural text ≈ 1)
    * further mutes the prefix win. The crossover favors prefixes
    * precisely where all-pairs dies: high-df boilerplate at corpus
    * scale, where Σ C(df,2) explodes quadratically while prefix
    * candidates stay near-dup-density-bounded.
    *
    * Both regimes are MEASURED (r13), one probe mode each. Uniform
    * 10× (`SCALE_PROBE.json`; vowel-permuted copies hold per-shingle
    * df CONSTANT, so Σ C(df,2) grows linearly): all-pairs ratio ~1.4
    * vs prefix ~2.5–2.9 — corpus growth alone never triggers the
    * crossover, exactly as the df-constant analysis above predicts;
    * the prefix twin's fixed stages amortize but its verify join
    * tracks the same linear candidate mass. Boilerplate flood
    * (`SCALE_PROBE_BOILER.json`; one shared 20-token sentence on
    * ~1.6k docs = 18 shingles at df≈1.6k, identical corpus size):
    * all-pairs pays 1.87× for ~24.5M extra bucket-pair rows of pure
    * sub-threshold candidate mass, prefix 0.88× (≈1.0 within noise) —
    * the rarest-first order keeps every boilerplate shingle out of
    * every prefix, so the flood never reaches the verify. The
    * crossover driver is DF GROWTH, not corpus growth; at corpus
    * scale, where boilerplate df grows with N, C(df,2) dominates and
    * this is the exact path that survives.
    */
  def ngramJaccardPrefix(documents: DataFrame, threshold: Double): DataFrame = {
    val width = documents.sparkSession.sparkContext.defaultParallelism
    // three consumers of the shingle set (df counts, prefix build,
    // verify): one persisted materialization, released after the eager
    // result checkpoint — same lifecycle as minhashLsh
    val sh = shingleRows(documents).persist(StorageLevel.MEMORY_AND_DISK)
    // the trigram df table is CORPUS-scale (distinct shingles grow
    // ~linearly with tokens, unlike tf-idf's saturating unigram vocab)
    // — so it must NOT broadcast; the shuffled equi-join on sh keeps
    // the freq lookup valid at any corpus size, and measured the same
    // locally as the broadcast variant
    val df = sh.groupBy("sh").agg(count(lit(1)).as("freq"))
    val prefixLen = (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int")
    // width-spread (the ngramJaccard discipline): the per-doc rarest-
    // first sort + prefix explode amplify CPU far beyond their input
    // bytes, and AQE's byte-based coalescing packed the stage onto 3
    // tasks (r14 PlanProfile stage table) — the explicit-
    // width repartition on the aggregate's own key replaces its
    // exchange, exempt from coalescing, cluster-derived width
    val prefixes = sh.join(df, "sh")
      .repartition(width, col("doc_id"), col("n"))
      .groupBy("doc_id", "n")
      .agg(sort_array(collect_list(struct(col("freq"), col("sh")))).as("ordered"))
      .select(col("doc_id"), col("n"),
        explode(slice(col("ordered.sh"), lit(1), prefixLen)).as("sh"))
    val candidates = prefixes
      .repartition(width, col("sh"))
      .groupBy("sh")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(graft.functions.GraftFunctions.pair_explode(col("ds"))
        .as(Seq("a", "b")))
      // length filter: J ≥ t forces t·max(na,nb) ≤ min(na,nb)
      .filter(col("b.n") * threshold <= col("a.n") &&
        col("a.n") * threshold <= col("b.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(true)
    val out = verifyJaccardByArrays(sh, candidates, threshold)
      .localCheckpoint(true)
    sh.unpersist(blocking = false)
    out
  }

  /** Exact word-trigram Jaccard over a candidate pair set, ARRAY shape:
    * one shingle array per candidate doc, one `array_intersect` size
    * per pair. The r14 twin of [[verifyJaccard]] for PREFIX-pruned
    * candidate sets only — the high-threshold prefix blocking emits an
    * output-bound, strong-overlap candidate set (~105 k pairs at sf0.1,
    * t=0.7), where the per-pair set intersection costs ~100 string
    * compares and the witness-row shape's 7.5 M-row (doc_b, sh)
    * hash-join probes dominate instead (r14 JprefProbe: 0.40 s vs
    * 1.41 s for the identical 256-row result). The minhash family
    * KEEPS the witness shape: its t=0.5 banding admits a weak-overlap
    * candidate flood where per-pair array materialization regressed
    * ~15× (r13 autopsy on [[verifyJaccard]]). |A ∩ B| over the distinct
    * per-doc shingle sets is the same integer either way, so the
    * output is bit-identical.
    */
  private def verifyJaccardByArrays(sh: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    // candidate ids are output-bound: semi-filter the shingle set before
    // building per-doc arrays, so the array build stays candidate-scale
    // (same unconditional-broadcast contract as verifyJaccard)
    val ids = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id"))).distinct()
    val arrs = sh.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .groupBy("doc_id", "n")
      .agg(collect_list(col("sh")).as("arr"))
    candidates
      .join(arrs.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("arr").as("aa")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("arr").as("ab")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        size(array_intersect(col("aa"), col("ab"))).as("i"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-scheme dedup agreement census — MinHash-LSH (verified
    * Jaccard) vs SimHash (Hamming ≤ 3) pair sets compared as sets:
    * counts of each, their intersection, and the pair-set Jaccard.
    * The calibration readout an engineer checks before trusting ONE
    * scheme's dup-rate number: a near-zero agreement (as on this
    * corpus, where SimHash's 32-bit collision cliques dwarf the
    * verified MinHash matches) says the two "near-dup" definitions
    * are measuring different things and the pipeline must pick by
    * intent, not convenience. Inputs are the shared cached pair
    * graphs, so the census costs one candidate-scale equi-join plus
    * two counts; two empty sets agree at 1.0.
    */
  def pairSetAgreement(mh: DataFrame, sh: DataFrame): DataFrame = {
    val both = mh.join(sh, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_both"))
    val na = mh.agg(count(lit(1)).as("n_minhash"))
    val nb = sh.agg(count(lit(1)).as("n_simhash"))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(both))
      .select(col("n_minhash"), col("n_simhash"), col("n_both"),
        when(col("n_minhash") + col("n_simhash") - col("n_both") === 0,
          lit(1.0d))
          .otherwise(round(col("n_both").cast("double")
            / (col("n_minhash") + col("n_simhash") - col("n_both"))
              .cast("double"), 6))
          .as("pair_jaccard"))
  }

  /** Transitive-closure inflation of the near-dup pair graph — how
    * many doc pairs does CLUSTER-level dedup treat as duplicates
    * (Σ C(|cluster|,2)) versus the pairs the similarity join actually
    * verified? A high ratio is the chaining pathology: A≈B and B≈C
    * pull A and C into one cluster though they were never compared —
    * the readout that decides between cluster-collapse and
    * pairwise-verified dedup policies at a given threshold. Plan:
    * components over the candidate-scale pair graph (union-find fast
    * path under the size gate), one component-size count, one bounded
    * rollup; sz·(sz−1) is always even so `div 2` is exact integer
    * arithmetic on both engines.
    */
  def transitiveInflation(pairs: DataFrame): DataFrame = {
    val direct = pairs.agg(count(lit(1)).as("n_direct"))
    val cl = graft.operators.GraphOps.connectedComponents(pairs)
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_clusters"),
        max(col("sz")).as("max_cluster"),
        sum(col("sz") * (col("sz") - lit(1L))).as("s2"))
    direct.crossJoin(broadcast(cl)) // two single-row aggregates
      .select(col("n_direct"),
        expr("s2 div 2").as("n_closure"),
        col("n_clusters"), col("max_cluster"))
      .select(col("n_direct"), col("n_closure"), col("n_clusters"),
        col("max_cluster"),
        when(col("n_direct") === 0L, lit(1.0d))
          .otherwise(round(col("n_closure").cast("double")
            / col("n_direct").cast("double"), 6)).as("inflation"))
  }

  /** Near-dup pair census by source relationship — the syndication
    * detector: how much of the duplicate mass is WITHIN one provider
    * (that provider re-serves its own content) vs ACROSS providers
    * (the same article syndicated through several feeds)? Cross-source
    * duplication is the case per-source dedup misses entirely, so a
    * pipeline that shards its dedup by source needs this census to
    * know what it's leaving on the table. Source pairs are emitted
    * unordered (least/greatest) so A↔B and B↔A collapse. Plan: the
    * candidate-scale cached pair list joined twice against the
    * (doc_id, source) projection — AQE broadcasts the projection
    * while it's small, shuffles when it isn't (never a forced
    * broadcast of a corpus-scale map: the tfidf lesson) — then one
    * |sources|²-bounded count aggregate.
    */
  def crossSourcePairs(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("src_lo"), col("src_hi"),
        when(col("src_lo") === col("src_hi"), lit(0))
          .otherwise(lit(1)).as("is_cross"),
        col("n_pairs"))
      .orderBy("src_lo", "src_hi")
  }

  /** Near-dup incidence by document-length decile — "are my
    * duplicates concentrated in short docs?", the length-bias screen
    * that decides whether a dedup policy silently skews the corpus's
    * length distribution (boilerplate stubs duplicate far more than
    * long-form text). Decile boundaries come from ONE exact
    * interpolated-percentile aggregate over the integer n_chars
    * domain (bounded state, engine-identical to quantile_cont — never
    * a global ntile sort of the corpus), broadcast back as a single
    * row; dup membership is the distinct endpoint set of the shared
    * pair graph (candidate-scale). One doc-keyed left join + one
    * 10-bucket aggregate.
    */
  def dupRateByLength(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val boundCols = (1 to 9).map(i =>
      expr(s"percentile(n_chars, 0.${i}D)").as(s"b$i"))
    val bounds = documents.agg(boundCols.head, boundCols.tail: _*)
    val dup = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .select(col("doc_id"), lit(1L).as("is_dup"))
    val bucket = (1 to 9).reverse
      .foldLeft(lit(9): Column) { case (acc, i) =>
        when(col("n_chars") <= col(s"b$i"), lit(i - 1)).otherwise(acc)
      }
    documents.select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(bounds))
      .select(col("doc_id"), bucket.cast("int").as("bucket"))
      // no broadcast hint: the endpoint set is candidate-scale but
      // corpus-growing — AQE broadcasts it while it's small (the r9
      // tfidf lesson: never force a broadcast that scales with data)
      .join(dup, Seq("doc_id"), "left")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
      .select(col("bucket"), col("n_docs"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
      .orderBy("bucket")
  }

  /** Edit-distance near-dup pairs over each document's LEADING content
    * (first `headLen` chars — the cheap proxy for "same article, minor
    * edits": near-dups rarely diverge in their opening). Blocked
    * equi-join: candidates must agree on (lang, first `blockLen`
    * chars), so Levenshtein — O(headLen²) per comparison, the budget
    * item — runs only within blocks that share an exact leading run.
    *
    * Scale shape: the block key is a plain equi-join key (one shuffle,
    * co-partitioned, AQE-splittable if one leading run is boilerplate-
    * hot); `levenshtein` is Spark's codegen'd built-in. The contract is
    * explicitly the BLOCKED semantics (a pair that differs inside the
    * first `blockLen` chars is by definition not a match) — that is
    * what makes the operator linear-ish at corpus scale instead of an
    * all-pairs O(n²·headLen²).
    */
  def editDistancePairs(documents: DataFrame, headLen: Int = 40,
      blockLen: Int = 10, maxDist: Int = 10): DataFrame = {
    val t = documents.select(col("doc_id"), col("lang"),
      substring(col("text"), 1, headLen).as("head"),
      substring(col("text"), 1, blockLen).as("blk"))
    t.as("a").join(t.as("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.head"), col("b.head")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** Jaro-Winkler near-dup pairs over document heads — the second leg
    * of the ER verifier battery next to [[editDistancePairs]]:
    * Levenshtein prices every edit equally, Jaro-Winkler discounts
    * transpositions and rewards the shared opening that near-identical
    * records almost always keep — so the two catch different edit
    * shapes (swapped tokens vs inserted runs). Same blocked-equi-join
    * scale contract as the edit-distance leg: candidates must agree on
    * (lang, first `blockLen` chars), the O(headLen²)-ish scoring runs
    * only within blocks, the block key is one co-partitioned shuffle
    * (AQE-splittable when a leading run is boilerplate-hot), and the
    * scorer is the codegen'd [[graft.functions.JaroWinkler]] kernel —
    * a UDF here would drop the whole self-join out of codegen. Scores
    * round to 6 dp on both engines (the kernel is semantics-identical
    * to the oracle's, rounding just removes double-formatting drift).
    */
  def jaroWinklerPairs(documents: DataFrame, headLen: Int = 32,
      blockLen: Int = 4, threshold: Double = 0.92): DataFrame =
    jaroWinklerPairsLazy(documents, headLen, blockLen, threshold)
      .orderBy("doc_a", "doc_b") // presentation order only

  /** The unsorted match-pair pipeline — split out so the shared ER
    * pair cache (`SparkEntry.DedupGraph.jwPairs`) and the closure /
    * fusion consumers can read the candidate-scale pair list without
    * paying a presentation sort none of them needs.
    */
  private[graft] def jaroWinklerPairsLazy(documents: DataFrame,
      headLen: Int = 32, blockLen: Int = 4,
      threshold: Double = 0.92): DataFrame = {
    val t = documents.select(col("doc_id"), col("lang"),
      substring(col("text"), 1, headLen).as("head"),
      substring(col("text"), 1, blockLen).as("blk"))
    t.as("a").join(t.as("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(graft.functions.GraftFunctions.jaro_winkler(
          col("a.head"), col("b.head")), 6).as("jw"))
      .filter(col("jw") >= threshold)
  }

  /** MinHash signature-size sensitivity: on the verified pair list,
    * the mean absolute error of the k-hash Jaccard estimate
    * (agreeing minhashes / k, using the FIRST k of the 16 stored
    * functions) against the exact shingle Jaccard, for k ∈ 4/8/16 —
    * the storage-vs-accuracy table that justifies (or shrinks) the
    * signature width. One pair-bounded signature join; every k reads
    * the same row (unrolled literal comparisons), per-pair errors
    * stage as round-12 decimals so the means are order-free.
    */
  def minhashKSensitivity(documents: DataFrame, pairs: DataFrame,
      ks: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val sigs = minhashSignatures(documents, ks.max)
    def side(s: String) = sigs.select(
      col("doc_id").as(s"doc_$s") +:
        (0 until ks.max).map(i => col(s"m$i").as(s"$s$i")): _*)
    def est(k: Int) = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(k.toDouble)
    def d12(c: Column) = round(c, 12).cast(DecimalType(18, 14))
    val joined = broadcast(pairs.select(col("doc_a"), col("doc_b"),
        col("jaccard")))
      .join(side("a"), Seq("doc_a"))
      .join(side("b"), Seq("doc_b"))
    val sums = count(lit(1)).as("n_pairs") +:
      ks.map(k => sum(d12(abs(col("jaccard") - est(k)))).as(s"e$k"))
    val agg = joined.agg(sums.head, sums.tail: _*)
    val rows = ks.map(k => struct(lit(k).as("k"),
      round(col(s"e$k").cast("double") / col("n_pairs").cast("double"), 9)
        .as("mae")))
    agg.select(col("n_pairs"), explode(array(rows: _*)).as("r"))
      .select(col("r.k").as("k"), col("n_pairs"), col("r.mae").as("mae"))
      .orderBy("k")
  }

  /** ER match-count sweep over the Jaro–Winkler threshold — the
    * precision knob's dose-response curve, read before anyone commits
    * to a cutoff (match counts should fall SMOOTHLY as the threshold
    * rises; a cliff means the score distribution is bimodal and the
    * knob is safe, a plateau means it isn't doing anything). Pure
    * cut-filters over the already-verified cached pair list — the
    * [[graft.operators]] threshold-sweep discipline: the blocked join
    * runs once, every sweep point is a conditional count.
    */
  def erThresholdSweep(pairs: DataFrame,
      thresholds: Seq[Double] = Seq(0.92, 0.94, 0.96, 0.98)): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val t = thresholds.toDF("threshold")
    broadcast(t)
      .join(pairs.select(col("jw")), col("jw") >= col("threshold"),
        "left_outer")
      .groupBy(col("threshold"))
      .agg(count(col("jw")).as("n_pairs"))
      .orderBy("threshold")
  }

  /** SimHash (32-bit here; 64-bit in production — 32 keeps the value
    * inside an exactly-representable SQL BIGINT for oracle parity):
    * per distinct token, a 32-bit hash from the md5 hex prefix; each
    * bit contributes +1/-1; signature bit b set iff the sum is
    * positive. Narrow map + one groupBy(doc) shuffle.
    */
  def simhash(documents: DataFrame): DataFrame =
    simhashSig(documents).orderBy("doc_id") // presentation order only

  private def simhashSig(documents: DataFrame): DataFrame = {
    // per-bit ±1 contributions as 32 COLUMNS of the token rows — the
    // groupBy's sums partial-aggregate map-side, so the shuffle carries
    // one 32-int row per (partition, doc) instead of 32 exploded rows
    // per token; the signature fold is then row-local arithmetic
    val bitCols = (0 until 32).map(b =>
      when(expr(s"shiftright(h, $b) & 1") === 1, 1).otherwise(-1).as(s"c$b"))
    val sums = (0 until 32).map(b => sum(col(s"c$b")).as(s"s$b"))
    documents
      // distinct tokens via the fused kernel (n=1 shingles) — same set
      // and order as array_distinct(regex tokens), one codegen'd pass
      .select(col("doc_id"), explode(graft.functions.GraftFunctions
        .word_shingles(col("text"), 1)).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .select(col("doc_id") +: bitCols: _*)
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** 64-bit SimHash (the production width noted on [[simhash]]): 64
    * independent hyperplane bits from TWO 32-bit token hashes —
    * md5(tok) for the high half, md5('x'||tok) for the low half. The
    * halves stay separate columns (simhash_hi, simhash_lo) so every
    * value is an exactly-representable non-negative BIGINT on both
    * engines (a packed 64-bit value would wrap signed and the SQL
    * oracle's double-based list_sum loses exactness past 2^53).
    * Hamming distance = bit_count(xor(hi)) + bit_count(xor(lo)).
    * Same plan shape as [[simhash]]: narrow map + ONE groupBy whose 64
    * sums partial-aggregate map-side.
    */
  def simhash64(documents: DataFrame): DataFrame = {
    def bits(h: String, p: String) = (0 until 32).map(b =>
      when(expr(s"shiftright($h, $b) & 1") === 1, 1).otherwise(-1).as(s"$p$b"))
    val sums = (Seq("a", "b").flatMap(p => (0 until 32).map(b =>
      sum(col(s"$p$b")).as(s"s$p$b"))))
    def fold(p: String) = (0 until 32)
      .map(b => when(col(s"s$p$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    documents
      // distinct tokens via the fused kernel (n=1 shingles) — same set
      // and order as array_distinct(regex tokens), one codegen'd pass
      .select(col("doc_id"), explode(graft.functions.GraftFunctions
        .word_shingles(col("text"), 1)).as("tok"))
      .withColumn("h1", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .withColumn("h2",
        conv(substring(md5(concat(lit("x"), col("tok"))), 1, 8), 16, 10).cast("long"))
      .select(col("doc_id") +: (bits("h1", "a") ++ bits("h2", "b")): _*)
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fold("a").as("simhash_hi"), fold("b").as("simhash_lo"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: 4 bands of 8 bits as LSH keys — any pair
    * within Hamming distance 3 differs in at most 3 bands, so at least
    * one band matches (pigeonhole): banding is EXACT for distance<=3,
    * not probabilistic. Verification = bit_count(xor) on candidates.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sig = simhashSig(documents) // unsorted — no wasted sort mid-pipeline
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("band_key", expr("shiftright(simhash, band * 8) & 255"))
    // A close pair collides in up to 4 bands; instead of a distinct
    // (a full shuffle of every surviving pair) each pair is emitted
    // exactly once — only from its FIRST matching band, which both
    // sides can decide locally from the signature XOR. The verify
    // (cheap bit_count) and the first-band predicate run inside the
    // join's codegen stage, so the whole operator has no post-join
    // shuffle at all. No final orderBy either: the result is
    // pair-set-sized (output-bound already) and a global sort of it
    // would be the single largest stage — consumers needing order sort
    // the (small) slice they keep.
    val firstMatchingBand = expr(
      """CASE WHEN (xr & 255) = 0 THEN 0
        |     WHEN (shiftright(xr, 8) & 255) = 0 THEN 1
        |     WHEN (shiftright(xr, 16) & 255) = 0 THEN 2
        |     ELSE 3 END""".stripMargin)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .withColumn("xr", col("x.simhash").bitwiseXOR(col("y.simhash")))
      .filter(bit_count(col("xr")) <= maxHamming &&
        col("x.band") === firstMatchingBand)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("xr")).cast("long").as("hamming"))
  }

  /** Generic banded Hamming-pair join over ANY 64-bit signature
    * column (doc_id, h) — the [[simhashPairs]] machinery lifted out
    * for other fingerprint families (perceptual image dHash, audio
    * chroma hashes): 4 bands of 16 bits as LSH keys, EXACT for
    * Hamming ≤ 3 by pigeonhole (≤ 3 differing bits touch ≤ 3 bands,
    * so one band always matches cleanly). Each pair emits exactly
    * once — from its FIRST matching band, decided locally from the
    * signature XOR — so there is no post-join distinct shuffle; the
    * verify and the first-band predicate run inside the join's
    * codegen stage. Result is pair-set-sized and unsorted (callers
    * order the slice they keep).
    */
  def bandedHamming64(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4x16 banding is pigeonhole-exact only for Hamming <= 3")
    val bands = sig.select(col("doc_id"), col("h"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("band_key", expr("shiftright(h, band * 16) & 65535"))
    val firstMatchingBand = expr(
      """CASE WHEN (xr & 65535) = 0 THEN 0
        |     WHEN (shiftright(xr, 16) & 65535) = 0 THEN 1
        |     WHEN (shiftright(xr, 32) & 65535) = 0 THEN 2
        |     ELSE 3 END""".stripMargin)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .withColumn("xr", col("x.h").bitwiseXOR(col("y.h")))
      .filter(bit_count(col("xr")) <= maxHamming &&
        col("x.band") === firstMatchingBand)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("xr")).cast("long").as("hamming"))
  }

  /** Exact shingle-CONTAINMENT pairs: |sh(A) ∩ sh(B)| / |sh(A)| ≥ t,
    * emitted as (doc_contained, doc_container, containment). The
    * asymmetric twin of [[ngramJaccard]] — it catches "doc A is quoted
    * inside doc B" duplication that symmetric Jaccard dilutes to
    * nothing when the container is much longer, which is exactly the
    * quote/aggregator-page shape a pretraining dedup pass must see.
    * Deliberately NO length-ratio filter: a tiny doc contained in a
    * huge one is the interesting case.
    *
    * Same two-shuffle bucket shape as [[ngramJaccard]]: group shingles,
    * expand in-bucket pairs lazily (PairExplode), count intersections
    * once per unordered pair, then test BOTH directions locally — the
    * direction split is a narrow explode over the counted pair row, so
    * asymmetry costs nothing extra. Constant-factor discipline on the
    * pair stream (the measured cost center): buckets collect UNSORTED
    * (orientation is a per-pair least/greatest instead of a per-bucket
    * sort), the intersection count groups on the two doc ids alone
    * (the lengths ride along as max — they are functionally dependent
    * on the ids), and the direction explode runs only on pairs that
    * already pass the one-sided bound i ≥ t·min(na, nb). Scale path
    * mirrors the prefix lemma one-sided: containment(A→B) ≥ t means
    * A's rarest-first prefix of ⌊(1−t)·na⌋+1 shingles must hit sh(B),
    * so the [[ngramJaccardPrefix]] blocking carries over with prefixes
    * built only on the contained side (documented, not needed at this
    * SF).
    */
  def containmentPairs(documents: DataFrame, threshold: Double): DataFrame = {
    // width-spread before the bucket+pair-expand stage — see the
    // [[ngramJaccard]] note (same shape, same AQE-coalescing pathology)
    shingleRows(documents)
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("sh"))
      .groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(graft.functions.GraftFunctions.pair_explode(col("ds"))
        .as(Seq("x", "y")))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      // explicit repartition BEFORE the aggregate: a pair recurs once
      // per shared shingle, but those recurrences live in different
      // shingle partitions (~1/P co-located), so map-side partial
      // aggregation compresses ~nothing and just hashes the stream
      // twice; shuffling raw pairs and aggregating once is strictly
      // less work at every scale (an SMJ self-join restatement of the
      // pair expansion was A/B-measured at 1.4x this shape's wall —
      // the sort-per-side and the doubled shingle derivation lose to
      // the in-bucket lazy generator)
      .repartition(col("a.doc_id"), col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"), max(col("a.n")).as("na"),
        max(col("b.n")).as("nb"))
      // one-sided prefilter: max(i/na, i/nb) = i/min(na, nb) — only
      // qualifying pairs reach the 2-way direction explode
      .filter((col("i").cast("double") / least(col("na"), col("nb")))
        >= threshold)
      .select(explode(array(
        struct(col("doc_a").as("doc_contained"),
          col("doc_b").as("doc_container"),
          (col("i").cast("double") / col("na")).as("containment")),
        struct(col("doc_b").as("doc_contained"),
          col("doc_a").as("doc_container"),
          (col("i").cast("double") / col("nb")).as("containment"))))
        .as("r"))
      .select(col("r.doc_contained"), col("r.doc_container"),
        col("r.containment"))
      .filter(col("containment") >= threshold)
      .orderBy("doc_contained", "doc_container")
  }

  /** Per-document shingle NOVELTY: the fraction of a doc's distinct
    * shingles whose FIRST owner (minimum doc_id over all docs carrying
    * the shingle) is the doc itself — a sub-document-granularity
    * curation signal: low novelty means the doc is stitched from text
    * the corpus already has even when no single pair clears a dedup
    * threshold. doc_id order stands in for ingestion order.
    *
    * Skew posture: a boilerplate shingle shared by millions of docs
    * must NOT accumulate per-group state proportional to its owners
    * — so there is no collect_list anywhere, and no join
    * back onto the shingle stream either: because each doc's shingles
    * are DISTINCT, n_novel(doc) is just the number of rows in the
    * min-owner-per-shingle table whose owner is the doc. The plan is
    * two scalar map-side-combinable aggregates — per-doc shingle
    * count (exchange-free: shingleRows is already doc_id-partitioned)
    * and min-owner-per-shingle (O(1) state however hot the shingle)
    * re-aggregated by owner — closed by one doc-scale join. Data-
    * scale work touches the shingle stream exactly once per side;
    * everything after the min-owner agg is distinct-shingle-scale.
    *
    * 2x-audit note (`text_novelty`, ~0.15 s oracle, ~0.47 s
    * fresh-artifact): the shingle exchange above is the only shuffle;
    * the residual is the suite's 0.4-0.7 s fixed job floor — no
    * removable stage.
    */
  def shingleNovelty(documents: DataFrame): DataFrame = {
    val rows = shingleRows(documents)
    val perDoc = rows.groupBy("doc_id").agg(max(col("n")).cast("long").as("n_shingles"))
    val novel = rows.groupBy("sh").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_shingles")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Weighted (multiset) Jaccard over an already-verified candidate
    * pair list: Σ_t min(c_a,c_b) / Σ_t max(c_a,c_b), where c are raw
    * token COUNTS — the repetition-aware refinement of set Jaccard
    * that separates "same vocabulary" from "same text" (a doc and its
    * tripled concatenation share set-J = 1 but weighted-J = 1/3).
    * Identity Σmax = N_a + N_b − Σmin (min+max = c_a+c_b per token,
    * absent = 0) means only the INNER token join is ever built: the
    * small pair list broadcasts onto the (doc, token, c) counts to
    * pull each left side's tokens, and that pair-token-scale frame
    * equi-joins the counts once more on (doc_b, tok) — both joins are
    * candidate-bounded, never corpus×corpus, so the operator inherits
    * the pair graph's scale posture. All arithmetic is integer until
    * the final per-pair double division.
    */
  def weightedJaccard(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(TextOps.toksCol).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val totals = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    val interMin = broadcast(pairs.select(col("doc_a"), col("doc_b")))
      .join(tf.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("c", "ca"), Seq("doc_a"))
      .join(tf.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("c", "cb"), Seq("doc_b", "tok"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("ca"), col("cb"))).as("sum_min"))
    interMin
      .join(totals.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na"), Seq("doc_a"))
      .join(totals.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sum_min"),
        round(col("sum_min").cast("double") /
          (col("na") + col("nb") - col("sum_min")).cast("double"), 9)
          .as("w_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Dedup-cascade marginal-value census: runs the three schemes in
    * production cost order — exact fingerprint (cheapest), SimHash
    * Hamming ≤ 3, MinHash-LSH Jaccard ≥ 0.5 — and counts, per stage,
    * the pairs it catches that NO earlier (cheaper) stage caught.
    * This is the table a pipeline owner reads before deciding whether
    * the expensive band-join stage earns its cost: if n_new at stage
    * 3 is negligible, drop the stage. The sim/min pair lists arrive
    * as the suite's shared verified caches (candidate-scale); exact
    * pairs self-join on the fingerprint key — the standard exact-dup
    * shuffle; a pathologically hot fingerprint would square there, at
    * which point the production fix is pairing each dup to the group
    * survivor instead (the [[exactDedup]] shape), not all-pairs.
    * Anti-joins run at candidate scale on (doc_a, doc_b).
    */
  def cascadePolicy(documents: DataFrame, simhashPairs: DataFrame,
      minhashPairs: DataFrame): DataFrame = {
    val fp = documents.select(col("doc_id"),
      md5(expr("array_join(regexp_extract_all(lower(text), '[a-z0-9]+', 0), ' ')"))
        .as("fp"))
    val ep = fp.as("a")
      .join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val sp = simhashPairs.select("doc_a", "doc_b")
    val mp = minhashPairs.select("doc_a", "doc_b")
    val keys = Seq("doc_a", "doc_b")
    val spNew = sp.join(ep, keys, "left_anti")
    val mpNew = mp.join(ep, keys, "left_anti").join(sp, keys, "left_anti")
    def cnt(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as(name))
    def stage(order: Int, name: String, all: DataFrame, fresh: DataFrame) =
      cnt(all, "n_pairs").crossJoin(cnt(fresh, "n_new")) // 1x1 rows
        .select(lit(order).as("stage_order"), lit(name).as("stage"),
          col("n_pairs"), col("n_new"))
    stage(1, "exact", ep, ep)
      .unionAll(stage(2, "simhash", sp, spNew))
      .unionAll(stage(3, "minhash", mp, mpNew))
      .orderBy("stage_order")
  }

  /** Capture-recapture coverage estimate: treating the MinHash and
    * SimHash pair sets as two independent "captures" of the true
    * near-dup pair population, the Chapman estimator
    * N̂ = (n1+1)(n2+1)/(m+1) − 1 bounds how many near-dup pairs BOTH
    * schemes are missing — the ecology-standard answer to "what's our
    * dedup recall, absent ground truth". Three candidate-scale counts
    * (two sizes + the semi-join overlap) fold into one row; the
    * estimator and per-scheme coverage divide exact integers in
    * double. Assumes capture independence (the schemes hash different
    * views: shingle sets vs token bit-votes), stated so the reader
    * prices the bias.
    */
  def captureRecapture(minhashPairs: DataFrame,
      simhashPairs: DataFrame): DataFrame = {
    val keys = Seq("doc_a", "doc_b")
    val mp = minhashPairs.select(keys.map(col): _*)
    val sp = simhashPairs.select(keys.map(col): _*)
    val both = mp.join(sp, keys, "left_semi")
    def cnt(df: DataFrame, name: String) = df.agg(count(lit(1)).as(name))
    val n1 = col("n_minhash").cast("double")
    val n2 = col("n_simhash").cast("double")
    val m = col("n_overlap").cast("double")
    val chapman = (n1 + lit(1.0)) * (n2 + lit(1.0)) / (m + lit(1.0)) -
      lit(1.0)
    cnt(mp, "n_minhash").crossJoin(cnt(sp, "n_simhash")) // 1x1 rows
      .crossJoin(cnt(both, "n_overlap"))
      .select(col("n_minhash"), col("n_simhash"), col("n_overlap"),
        round(chapman, 9).as("chapman_est"),
        round(n1 / chapman, 9).as("coverage_minhash"),
        round(n2 / chapman, 9).as("coverage_simhash"))
  }

  /** b-bit minhash calibration (b = 1, Li & König's storage trick):
    * keep only the LOW BIT of each of the 16 minhash values — 2 bytes
    * per signature instead of 128 — and check, on the verified pair
    * list, how well the debiased 1-bit estimator
    * Ĵ = 2·(agreeing bits / 16) − 1 tracks the exact shingle Jaccard.
    * The table that decides whether the compact index is accurate
    * enough to serve. Signature join is pair-bounded (broadcast pair
    * list onto the signature frame twice); the estimator is integer
    * arithmetic over 16 literal bit comparisons, unrolled so the
    * whole row stays in codegen.
    */
  def bbitMinhashCalibration(documents: DataFrame, pairs: DataFrame,
      numHashes: Int = 16): DataFrame = {
    val sigs = minhashSignatures(documents, numHashes)
    def bits(side: String) = sigs.select(
      col("doc_id").as(s"doc_$side") +:
        (0 until numHashes).map(i => (col(s"m$i") % 2).as(s"$side$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = agree.cast("double") * lit(2.0) / lit(numHashes.toDouble) -
      lit(1.0)
    broadcast(pairs.select(col("doc_a"), col("doc_b"), col("jaccard")))
      .join(bits("a"), Seq("doc_a"))
      .join(bits("b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(est, 9).as("bbit_est"),
        round(abs(col("jaccard") - est), 9).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Human-review queue: a deterministic 1-in-`modulus` sample of the
    * verified pair list, enriched with every similarity measure a
    * reviewer reads side by side — shingle Jaccard (set), weighted
    * token Jaccard (repetition-aware), and both documents' lengths.
    * The affine sampling key is pure BIGINT arithmetic (the
    * pipe_shuffle_shards generator, mod-reduced so no intermediate
    * exceeds 2^62), so the SAME pairs land in the queue on every
    * engine and every run — an auditable sample, not a random one.
    * Everything is pair-bounded: the sample filters the cached pair
    * list, [[weightedJaccard]] runs only on the sampled subset.
    */
  def reviewQueue(documents: DataFrame, pairs: DataFrame,
      modulus: Int = 5): DataFrame = {
    val k1 = ((col("doc_a") % 1000003L) * 131071L +
      col("doc_b") % 1000003L) % 2147483648L
    val key = (k1 * 1103515245L + 12345L) % 2147483648L
    val sampled = pairs.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .filter(key % modulus === 0)
    val wj = weightedJaccard(documents,
      sampled.select(col("doc_a"), col("doc_b")))
      .select(col("doc_a"), col("doc_b"), col("w_jaccard"))
    val len = documents.select(col("doc_id"), col("n_chars"))
    sampled
      .join(wj, Seq("doc_a", "doc_b"))
      .join(len.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_chars", "len_a"), Seq("doc_a"))
      .join(len.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_chars", "len_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("w_jaccard"),
        col("len_a").cast("long").as("len_a"),
        col("len_b").cast("long").as("len_b"))
      .orderBy("doc_a", "doc_b")
  }
}
