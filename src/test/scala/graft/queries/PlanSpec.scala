package graft.queries

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality guards: these assertions encode the 100 TB
  * design intent (SURVEY §4 / builder notes) so a regression in plan
  * shape fails CI even while results stay correct.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // pruned read schema: only the referenced columns
    assert(!p.contains("l_comment"), "scan must not read unreferenced columns")
  }

  test("q04: dimension join is broadcast, fact side not shuffled by join") {
    val p = plan("q04_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q05: star join uses broadcast for all dimension tables") {
    val p = plan("q05_multi_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts\n$p")
  }

  test("q07: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q07_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), "global sort must not appear for order+limit")
  }

  test("q01: aggregation is partial (map-side) + final") {
    val p = plan("q01_agg")
    assert(p.contains("partial_"), s"expected partial aggregation\n$p")
  }

  test("q11/q12: EXISTS / NOT EXISTS plan as semi/anti joins") {
    assert(plan("q11_semi_join").contains("LeftSemi"), "left semi expected")
    assert(plan("q12_anti_join").contains("LeftAnti"), "left anti expected")
  }

  test("q38: ANN brute force broadcasts the query side") {
    val p = plan("q38_cosine_topk")
    assert(p.contains("Broadcast"), p)
  }

  test("q16: band rewrite yields a hash join — no BNLJ, no broadcast of the modulo side") {
    val p = plan("q16_theta_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the BandJoinRule bucketization must be in effect (equi join on bucket)
    assert(p.contains("__band_bucket") || p.contains("HashJoin") ||
      p.contains("SortMergeJoin"), p)
  }

  test("posting index: ONE exchange for the shared build; q35/q108 reuse the same persist") {
    graft.CacheRegistry.releaseAll() // fresh memo
    val idx = graft.queries.Dedup.PostingIndex.postings(spark, dir, normalized = false)
    val p = idx.queryExecution.executedPlan.toString
    // the only hash exchange is the df-cap's hot-key aggregate; the
    // postings themselves are never reshuffled (hot list broadcasts
    // back as a left-anti join)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"the shared posting build must cost one exchange\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // the memo hands the SAME persisted plan to repeated callers —
    // one build per (dir, variant) for the whole query batch
    val again = graft.queries.Dedup.PostingIndex.postings(spark, dir, normalized = false)
    assert(idx eq again, "repeated queries must share one posting build")
    // q35 reads postings through the shared InMemoryRelation
    val p35 = plan("q35_ngram_jaccard")
    assert(p35.contains("InMemoryTableScan") || p35.contains("InMemoryRelation"),
      s"q35 must read the persisted posting index\n$p35")
    graft.CacheRegistry.releaseAll()
    val fresh = graft.queries.Dedup.PostingIndex.postings(spark, dir, normalized = false)
    assert(!(fresh eq idx), "releaseAll must invalidate the memo with the persist")
    graft.CacheRegistry.releaseAll()
  }

  test("shingle base: q35/q36/q110 share ONE raw text scan; q108 adds only its normalized variant") {
    graft.CacheRegistry.releaseAll()
    val raw = graft.queries.Dedup.ShingleBase.base(spark, dir, normalized = false)
    assert(raw eq graft.queries.Dedup.ShingleBase.base(spark, dir, normalized = false),
      "one raw base build per dir")
    // the signature view derives from the SAME object the posting view
    // reads — the raw shingle arrays are computed once for all three
    graft.queries.Dedup.PostingIndex.postings(spark, dir, normalized = false)
    graft.queries.Dedup.SignatureIndex.shingleAndBands(spark, dir)
    graft.queries.Dedup.PostingIndex.postings(spark, dir, normalized = true)
    Seq("q35_ngram_jaccard", "q36_minhash_lsh",
      "q108_crosslingual_neardup", "q110_incremental_dedup").foreach { q =>
      val p = plan(q)
      // an InMemoryRelation PRINTS its original (cached) child, so each
      // substituted site legitimately shows one text FileScan inside its
      // relation dump — a REAL re-scan is any text FileScan beyond those
      val textScans = p.linesIterator.count(l =>
        (l.contains("Scan parquet") || l.contains("FileScan")) && l.contains("text"))
      val cachedSites = p.linesIterator.count(_.contains("InMemoryRelation"))
      assert(cachedSites > 0, s"$q must read the persisted base\n$p")
      assert(textScans <= cachedSites,
        s"$q re-scans documents text instead of the shared shingle base " +
          s"($textScans text scans > $cachedSites cached sites)\n$p")
    }
    graft.CacheRegistry.releaseAll()
  }

  test("signature index: q36/q110 share one shingle+band build; bands read from cache") {
    graft.CacheRegistry.releaseAll()
    val (sh1, b1) = graft.queries.Dedup.SignatureIndex.shingleAndBands(spark, dir)
    val (sh2, b2) = graft.queries.Dedup.SignatureIndex.shingleAndBands(spark, dir)
    assert((sh1 eq sh2) && (b1 eq b2), "one signature build per dir")
    // both q36 and q110 must read the persisted band projection, not
    // recompute minhash signatures per subtree
    val p36 = plan("q36_minhash_lsh")
    assert(p36.contains("InMemoryTableScan"), s"q36 must read the cached asset\n$p36")
    val p110 = plan("q110_incremental_dedup")
    assert(p110.contains("InMemoryTableScan"), s"q110 must read the cached asset\n$p110")
    graft.CacheRegistry.releaseAll()
    val (sh3, _) = graft.queries.Dedup.SignatureIndex.shingleAndBands(spark, dir)
    assert(!(sh3 eq sh1), "releaseAll must invalidate the signature memo")
    graft.CacheRegistry.releaseAll()
  }

  test("q108: cross-lingual near-dup is a posting equi join + top-k — never all-pairs") {
    val p = plan("q108_crosslingual_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // global top-20 must be TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // the df-cap's hot-shingle drop is a broadcast anti join on the
    // posting side (no extra posting shuffle)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("q39: tiled all-pairs join is an equi join — no nested loop, no corpus broadcast") {
    val p = plan("q39_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q45: as-of join plans as one shuffle + window, no join operator") {
    val p = plan("q45_asof_join")
    assert(!p.contains("Join"), s"as-of must be union+window, not a join\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q46/q49: per-document signals and sampling stay shuffle-light") {
    // q46 is scan-project (+1 range exchange for the total ORDER BY);
    // q49 is scan-filter-project
    val p46 = plan("q46_repetition")
    assert("Exchange".r.findAllIn(p46).length <= 1, p46)
    val p49 = plan("q49_stratified_sample")
    assert("Exchange".r.findAllIn(p49).length <= 1, p49)
  }

  test("q87: BPE counting is scan-local — one range exchange for ORDER BY only") {
    // (codegen'd execution of bpe_count itself is pinned in BpeSpec)
    val p = plan("q87_bpe_tokens")
    assert("Exchange".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q88: semantic dedup pair search is a cluster equi join — nothing all-pairs") {
    val p = plan("q88_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q90: weighted reservoir sample is per-partition top-k — no shuffle, no global sort") {
    val p = plan("q90_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"keys are scan-local; nothing may shuffle\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q47: both session windows share one user_id shuffle") {
    val p = plan("q47_sessionize")
    // 1 hash exchange (windows) + 1 (session agg) + at most 1 range (sort)
    assert("Exchange".r.findAllIn(p).length <= 3, p)
    assert(!p.contains("Join"), "sessionization must not join")
  }

  test("q54: decontamination applies as a left anti join, no pairwise blowup in the output path") {
    val p = plan("q54_decontaminate")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q56: k-means assignment pass is a pure scan — no join, no aggregate, sort-only exchange") {
    val p = plan("q56_kmeans")
    assert(!p.contains("Join"), s"assignment must not join (centroids are a plan literal)\n$p")
    assert(!p.contains("HashAggregate"), s"final assignment must not aggregate\n$p")
    // the only exchange is the output ORDER BY's range partitioning
    assert(!p.contains("hashpartitioning"), s"no hash shuffle in the assignment pass\n$p")
  }

  test("q57: one gram scan, codegen'd bitmask aggregate, no shuffled joins") {
    val p = plan("q57_source_overlap")
    assert("text:string".r.findAllIn(p).length == 1,
      s"document text must be scanned exactly once\n$p")
    assert(p.contains("bit_or"), s"per-gram source sets must be bitmasks\n$p")
    assert(!p.contains("ObjectHashAggregate(keys=[gram"),
      s"no per-gram collect_set — that object agg was the q57 bottleneck\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"only 1-row broadcasts may join\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3,
      s"gram + mask + pair shuffles only (the last two are tiny)\n$p")
  }

  test("q69: constructing the DataFrame launches no data job (vocab is in-plan)") {
    // parquet footer schema inference (Tables.load) legitimately runs a
    // tiny listing job at construction for EVERY query; what must NOT
    // happen is a data pass (the old eager top-10 vocab collect)
    @volatile var dataJobs = List[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val names = js.stageInfos.map(_.name)
        if (!names.forall(_.startsWith("parquet at "))) dataJobs ::= names.mkString(",")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q69_rare_word_ratio")(spark, dir).queryExecution.executedPlan
      // listener delivery is async; a job submitted during construction
      // would surface well inside this grace window
      Thread.sleep(500)
      assert(dataJobs.isEmpty,
        s"q69 construction must be lazy, saw data jobs: ${dataJobs.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q03: a second build of the DataFrame starts no Spark job (broadcast gate memoized)") {
    // the first build counts orders for the broadcast gate (and lists
    // the parquet footers); a rebuild must reuse both
    SparkEntry.queries("q03_join_agg")(spark, dir)
    @volatile var jobs = List[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs ::= js.stageInfos.map(_.name).mkString(",")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q03_join_agg")(spark, dir).queryExecution.executedPlan
      // listener delivery is async, as in the q69 pin
      Thread.sleep(500)
      assert(jobs.isEmpty, s"q03 rebuild must start no job, saw: ${jobs.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q91: PQ encoding is a pure scan — codebook in-plan, sort-only exchange") {
    val p = plan("q91_pq_encode")
    assert(!p.contains("Join"), s"codebook must ride as a plan literal, not a join\n$p")
    assert(!p.contains("HashAggregate"), s"encoding must not aggregate\n$p")
    assert(!p.contains("hashpartitioning"), s"no hash shuffle in the encode pass\n$p")
  }

  test("q93: exact quantiles aggregate partially map-side, no joins") {
    val p = plan("q93_length_quantiles")
    assert(p.contains("partial_"), s"expected map-side partial aggregation\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q94: domain cap is two-level — salted window before the per-source window") {
    val p = plan("q94_domain_cap")
    assert(!p.contains("Join"), p)
    // stage-1 (source, salt) hash exchange + stage-2 (source) hash
    // exchange + output ORDER BY range exchange — and nothing else
    assert("Exchange".r.findAllIn(p).length <= 3, p)
    assert(p.contains("salt"),
      s"stage-1 window must partition by the hash salt (skew spreading)\n$p")
  }

  test("q95: IVF-PQ candidate join is broadcast-probe — corpus never shuffled by a join") {
    val p = plan("q95_ivfpq_search")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate scoring must join broadcast probes to the encoded corpus\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must not be shuffled for the join\n$p")
    // hash exchanges may only carry bounded keys: qid (top-k windows,
    // nq x nprobe candidates) and label/pos (k x dim centroid training).
    // Corpus rows must never be shuffled — no vec_id-keyed exchange.
    assert("hashpartitioning\\(vec_id".r.findAllIn(p).isEmpty,
      s"corpus rows must not be hash-shuffled\n$p")
  }

  private def logicalJoins(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.length

  test("q97: PageRank steps are ONE broadcast join each; no per-step degree re-attach") {
    val df = SparkEntry.queries("q97_copurchase_pagerank")(spark, dir)
    // exactly 3 joins in the iteration tree — one per step. The one-time
    // dst_deg attach lives inside the cached edge build (an
    // InMemoryRelation leaf here); the old shape re-attached deg per
    // step for 6 iteration joins.
    assert(logicalJoins(df) == 3,
      s"expected 3 step joins, got ${logicalJoins(df)}\n${df.queryExecution.optimizedPlan}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"node state must broadcast — edges never shuffled by a join\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"edges must come from the cached single-scan build, not per-iteration rescans\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("LessThan(l_shipdate"),
      s"ship-window filter must push to the parquet scan\n$p")
  }

  test("q97: past the node-count gate, state joins fall back to shuffle (no state broadcast)") {
    // force the fallback with a zero gate and auto-broadcast off (at
    // sf0.001 Catalyst would otherwise legitimately pick broadcast from
    // size stats — at the gate's real scale it cannot); expose the
    // cached edge partitioning to the planner so iterations reuse it
    val priorB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val cacheKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val priorC = spark.conf.get(cacheKey)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(cacheKey, "false")
    // drop the broadcast-mode test's caches: sameResult ignores join
    // hints, so its hinted edge build would otherwise substitute in here
    spark.catalog.clearCache()
    graft.CacheRegistry.releaseAll()
    try {
      val df = graft.queries.Mining.pagerank(spark, dir, 0L)
      assert(logicalJoins(df) == 3,
        s"expected 3 step joins, got ${logicalJoins(df)}\n${df.queryExecution.optimizedPlan}")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"fallback must not broadcast node state\n$p")
      assert(p.contains("ShuffledHashJoin"),
        s"fallback steps must be shuffled hash joins (state build side)\n$p")
      // the edge table is pre-partitioned by src at persist time: every
      // step join must stream DIRECTLY from the cached scan — no
      // re-exchange, no sort on the edge side
      val direct = "ShuffledHashJoin [^\\n]*\\n[^\\n]*:- InMemoryTableScan".r.findAllIn(p).length
      assert(direct == 3,
        s"all 3 step joins must stream the cached edges with no re-exchange, got $direct\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorB)
      spark.conf.set(cacheKey, priorC)
    }
  }

  test("q100: three-stage curation funnel fuses into one pass — no joins, bounded exchanges") {
    val p = plan("q100_curation_pipeline")
    assert(!p.contains("Join"),
      s"survivor flags + conditional agg must avoid stage joins\n$p")
    // content_fp window + source window + agg + output sort — nothing more
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 4, s"expected <=4 exchanges, got $exchanges\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the corpus must be scanned exactly once\n$p")
  }

  test("q106: split assignment is scan-local — no join, one small agg") {
    val p = plan("q106_stable_split")
    assert(!p.contains("Join"), s"split assignment must not join\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"documents must be scanned exactly once\n$p")
  }

  test("q107: novelty curve co-locates postings ONCE — no pair join, one scan") {
    val p = plan("q107_novelty_curve")
    assert(!p.contains("Join"),
      s"first-occurrence must come from a window min, not a self-join\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"documents must be scanned exactly once\n$p")
    // shingle window + doc agg + output sort — nothing more
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges\n$p")
  }

  test("q109: DSIR scoring pass is scan-local — no join, no shuffle before the top-k") {
    val p = plan("q109_dsir_weights")
    assert(!p.contains("Join"),
      s"scoring must fold against the 256-double literal, not join a weight table\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"the scoring pass must not shuffle the corpus\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the scoring pass scans documents exactly once\n$p")
  }

  test("q118: tokenize-and-pack is scan-local encode + one window shuffle, no joins") {
    val p = plan("q118_tokenize_pack")
    assert(!p.contains("Join"),
      s"id mapping must fold against the 42-token plan literal, not join a vocabulary\n$p")
    assert(!p.contains("Explode"),
      s"tokenization must stay array-local (no token explode)\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"documents must be scanned exactly once\n$p")
    // the sharded packing window + the output sort — nothing more
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$p")
  }

  test("q110: incremental dedup joins new-batch bands to corpus bands — never all-pairs") {
    val p = plan("q110_incremental_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // every text read comes from the persisted signature asset (the
    // shared bands cache ×2 — whose not-yet-materialized build plan
    // embeds its own shingle-cache read in the plan string — + the
    // verify fetches ×2); the only LIVE parquet scan is the final
    // new-batch attach, column-pruned to doc_id
    // (plan-string counts include the caches' embedded build plans, so
    // the live-scan count is not directly assertable here; the doc_id
    // ReadSchema below pins the one live attach scan's pruning)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 4,
      s"band build and verify joins must read the signature caches\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"the new-batch attach scan must prune to doc_id only\n$p")
  }

  test("q121: substring dedup is skew-safe — partial-agg gram df, postings shuffle reused") {
    val df = graft.SparkEntry.queries("q121_substring_dedup")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // df comes from a two-phase aggregate (map-side combine bounds any
    // boilerplate gram), NOT a window (which would materialize a hot
    // gram's whole posting list in one task)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
    // the postings' gh-shuffle feeds both the aggregate and the join
    // probe: the second consumer must reuse, not re-shuffle
    df.write.format("noop").mode("overwrite").save()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") ||
      "Exchange hashpartitioning\\(gh".r.findAllIn(executed).length <= 2, executed)
  }

  test("q126: substring removal keeps q121's postings spine — no Window, no pair join, scan-local cleanup") {
    val df = graft.SparkEntry.queries("q126_substring_removal")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // first-occurrence-wins comes from min(struct) inside the SAME
    // partial-agg'd groupBy as df — NOT a per-gram Window (which would
    // materialize a boilerplate gram's posting list in one task)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count") && p.contains("partial_min"), p)
    // the postings' gh-shuffle feeds both the stats aggregate and the
    // join probe: the second consumer must reuse, not re-shuffle
    df.write.format("noop").mode("overwrite").save()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") ||
      "Exchange hashpartitioning\\(gh".r.findAllIn(executed).length <= 2, executed)
  }

  test("q125: cube-write read-back is one zarr scan + cell-bounded sort — no joins") {
    val df = graft.SparkEntry.queries("q125_zarr_cube_write")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the build pipeline ran inside ensureCubeStore (memoized); the
    // REGISTERED query plan must be the DSv2 scan + ORDER BY only
    assert(p.contains("BatchScan"), p)
    assert(!p.contains("Join"), s"cube read-back must not join\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1, s"only the sort may shuffle\n$p")
  }

  test("q123: embedding diversity is two bounded aggregates — no pair join, no corpus broadcast") {
    val p = plan("q123_embedding_diversity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the one-pass E||x||^2 - ||mu||^2 identity: the corpus is scanned,
    // aggregated on (label, pos) / label keys, and ONLY label-keyed
    // aggregate rows meet in the final join (broadcast-size)
    assert(p.contains("partial_"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3, p)
  }

  test("q111: Zipf fit is count-shuffle + vocab window + 5-sum agg — no join") {
    val p = plan("q111_zipf_fit")
    assert(!p.contains("Join"), s"OLS sums must aggregate in place, not join\n$p")
    assert(p.contains("partial_"), s"word counts must combine map-side\n$p")
    // (source, word) count + source rank window + source sums + output
    // ORDER BY — nothing else may shuffle
    assert("Exchange".r.findAllIn(p).length <= 4, p)
  }

  test("q116: grouped heavy hitters broadcast the candidate table — vocabulary never shuffle-joined") {
    val p = plan("q116_heavy_hitters_by_source")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate filter must be a broadcast join onto the token stream\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the token stream must never be shuffled by a join\n$p")
    assert(p.contains("mg_heavy") && p.contains("partial_"),
      s"pass 1 must be the map-side-combined MG aggregate\n$p")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // AQE finalizes codegen stages only on execution
    val df = SparkEntry.queries("q02_filter_project")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" in the final plan
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
  }

  test("q130: PII redaction is scan-local — one pruned scan, the only exchange is the ORDER BY") {
    val p = plan("q130_pii_redact")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"redaction must add no shuffle beyond the final sort\n$p")
    assert(p.contains("rangepartitioning"), p)
    // column pruning: only doc_id + text reach the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read exactly doc_id+text\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }
}
