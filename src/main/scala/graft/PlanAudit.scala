package graft
import org.apache.spark.sql.SparkSession

/** Audits every registered query's executed plan for scale smells:
  * cartesian products, broadcast-nested-loop joins, and missing
  * codegen — one finding line each. Callable from the spec suite
  * (PlanAuditSpec enforces an empty finding list every `sbt test`)
  * and from the CLI main for ad-hoc runs. */
object PlanAudit {
  // cartesian/BNLJ are legitimate only where the operator IS a cross
  // product or an intentionally-bounded theta join; llm_tfidf crosses
  // a 1-row broadcast count scalar, llm_interleave_sources crosses a
  // <=#sources-row broadcast counts dim — both O(1)-size build sides
  // ts_gapfill crosses the generated hour spine with the <=5-value
  // event-type dim — another O(1)-size build side
  // llm_kmeans broadcasts the k=8-row centroid table — O(1) build side
  val allowCross = Set("join_cross", "join_theta_range", "llm_knn_cosine",
  // ivf_exact is llm_knn_ivf at nProbe=K — same probe-broadcast shape
    "llm_knn_ivf", "llm_knn_ivf_exact",
    "agg_pivot", "llm_tfidf", "llm_interleave_sources",
  // agg_hll_sketch / agg_hll_portable_merge / scan_csv_malformed
  // cross 1-row aggregates — O(1) both sides; the histogram quantile
  // crosses the 1-row stats and the 256-row counter table
    "agg_hll_portable_merge", "agg_quantile_histogram",
  // ts_interpolate shares ts_gapfill's spine × event-type-dim cross;
  // hybrid search crosses the 1-row corpus-stats scalar and the
  // 5-probe broadcast; MMR's top-20 stage is the same probe cross
    "ts_gapfill", "ts_interpolate", "llm_kmeans", "agg_hll_sketch",
  // ivf_pruned keeps llm_knn_ivf's probe × centroid broadcast cross
    "scan_csv_malformed", "llm_hybrid_search", "llm_rerank_mmr",
  // semantic decontamination crosses the broadcast benchmark-sized
  // eval slice against the corpus scan — eval sets stay small no
  // matter how big the corpus, the same justification as knn probes
  // source_drift crosses the 50-row broadcast top-token list and the
  // 1-row corpus total against the sources dim — O(1) build sides
    "llm_knn_ivf_pruned", "llm_knn_ivf_pruned20", "llm_knn_ivf_append",
    "llm_semantic_decontaminate", "llm_source_drift",
  // q22 compares every selected customer against the broadcast 1-row
  // segment average with an INEQUALITY, so the cross join cannot fold
  // to an equi-join the way q15's tie filter does — O(1) build side
    "q22_idle_customers",
  // df-prune crosses the vocab-bounded df table with the broadcast
  // 1-row corpus doc count for the stopword threshold — O(1) build
    "llm_doc_freq_prune",
  // the GLOBAL Quantiles.exactQuantiles path: the constant pseudo-group
  // key folds away, so its broadcast joins (1-row stats, <=nShards
  // offset rows, <=|qs| position rows) surface as BNLJ — every build
  // side is O(1) regardless of data size; the grouped form
  // (agg_percentile_exact) keeps real keys and stays a hash join
    "agg_approx_quantile", "agg_quantile_twopass", "agg_stats",
  // graph_pagerank joins the broadcast 1-row node count N into each
  // iteration (no driver collect); graph_triangles meets its three
  // single-row aggregates in 1-row broadcast crosses
    "graph_pagerank", "graph_triangles",
  // unigram segmentation: each unrolled path step joins the
  // ≤(alphabet+VocabMulti)-row broadcast piece table on a
  // substring-match expression (inherently non-equi) — O(1) build
  // side at any corpus size, the same class as llm_kmeans' centroid
  // cross; the vocab key additionally crosses the 1-row normalizer
    "llm_unigram_vocab", "llm_unigram_encode")

  /** Keys whose CONSTRUCTION legitimately runs Spark jobs before the
    * driver's own action (r4 verdict item 3): every entry is a
    * documented bounded-driver-state collect or a write-then-read
    * layout the operator exists to demonstrate. Anything not listed
    * here must build its DataFrame without triggering a single job —
    * a construction-time action is how an accidental `.collect()`
    * driver loop sneaks into an operator. */
  val allowConstructionJobs: Map[String, String] = Map(
    // --- bounded iterative driver state (documented collects) ---
    "llm_kmeans" -> "Lloyd rounds materialize K×dim centroids per iter",
    "llm_knn_ivf" -> "k-means quantizer + partitioned list layout write",
    "llm_knn_ivf_exact" -> "same IVF layout path at nProbe=K",
    "llm_knn_ivf_pruned" -> "same IVF layout + centroid collect for pruning",
    "llm_knn_ivf_pruned20" -> "same IVF layout + centroid collect for pruning",
    "llm_knn_ivf_append" -> ("base-slice quantizer train + base layout " +
      "write + delta append + centroid collect for pruning"),
    "llm_knn_pq" -> "codebook training collects M×K subvector centroids",
    "llm_bpe_train" -> "one 1-row argmax collect per merge round",
    "llm_bpe_encode" -> ("reads the content-keyed stored merge table " +
      "(trains it on first touch of new content) + a 6-row collect — " +
      "the merge table IS the tokenizer"),
    "llm_tokenizer_fertility" ->
      "reads the same stored merge table + 6-row collect as llm_bpe_encode",
    "llm_dedup_cluster" -> "label-propagation rounds converge via count()",
    "graph_components" -> ("same CC kernel on the trade subgraph — " +
      "per-round localCheckpoint + 1-value convergence count"),
    "graph_sssp" -> ("fixed 4-round BFS: per-round frontier " +
      "localCheckpoint (node-sized frames), CC-kernel pattern"),
    "llm_embed_neardup" -> ("k-means cells + K-row radius agg + cell-pair " +
      "pruning on the driver (all K-bounded); assignment localCheckpoint"),
    "llm_source_drift" -> ("token counts localCheckpoint'd once, reused by " +
      "top-50/source-total/chi-square consumers"),
    // --- write-then-read: the storage layout IS the operator ---
    "source_csv_roundtrip" -> "stages the CSV it then reads",
    "source_json_roundtrip" -> "stages the JSON it then reads",
    "source_orc_roundtrip" -> "stages the ORC it then reads",
    "source_text_roundtrip" -> "stages the text file it then reads",
    "sink_partitioned_scan" -> "writes the partitioned layout it scans",
    "scan_csv_malformed" -> "stages the malformed CSV it then reads",
    "scan_schema_evolution" -> ("stages two schema generations, then " +
      "mergeSchema-reads them (footer inference is the semantics here)"),
    "join_bucketed_colocated" -> "saves both bucketed tables before the join",
    "join_dpp" -> "writes the partitioned fact layout the DPP scan prunes",
    "join_bloom_prefilter" -> "builds the bounded bloom filter from the dim",
    "join_skew_aqe" -> "stages the skewed fact layout the AQE split needs",
    "etl_compaction" -> "writes the small-file layout it compacts",
    "etl_zorder" -> "writes the interleaved layout it range-scans",
    "etl_cdc_apply" -> "applies the changelog to a staged table",
    "etl_upsert" -> "merges into a staged target table",
    "etl_incremental_agg" -> "maintains a staged running-aggregate table",
    "etl_dynamic_partition_overwrite" ->
      "overwrites hit partitions of a staged layout",
    "etl_gdpr_delete" -> "rewrites the hit buckets of the staged layout",
    "mm_decode_features" -> "stages the binary-asset table it decodes",
    "etl_snapshot_read" ->
      "builds the two-version manifest table it then snapshot-reads",
    "etl_time_travel" -> "same staged manifest table, older version",
    "etl_snapshot_diff" -> "same staged manifest table, unit-diff read",
    "etl_snapshot_compact" ->
      "rewrites the staged units into one and commits the new version",
    "etl_snapshot_merge" -> ("builds its own staged table, discovers the " +
      "touched buckets (<=NBuckets ints collected), rewrites them COW"),
    "etl_snapshot_vacuum" ->
      "builds the staged table it then vacuums and reads",
    "etl_snapshot_prune" -> ("writes the stats-annotated units, computing " +
      "per-unit min/max as a writer does at file close"),
    "etl_snapshot_add_column" ->
      "stages the two-schema-generation table it then reconciles",
    "etl_snapshot_clone" ->
      "ensures the source table it then shallow-clones by reference",
    "etl_snapshot_restore" ->
      "builds the staged table whose log tail it then rolls back",
    "etl_snapshot_log" -> ("builds the 9-commit delta-action log fixture " +
      "(slices + checkpoints + compaction) it then resolves through"),
    // --- staged microstructure enrichment (r8 verdict #7) ---
    "ts_effective_spread" -> ("first touch of new content stages the " +
      "trades-with-mid enrichment (native as-of join) it then reads — " +
      "the production tick-store shape, shared with trade_sign/ofi"),
    "ts_trade_sign" -> "reads the shared staged trades-with-mid enrichment",
    "ts_ofi" -> "reads the shared staged trades-with-mid enrichment",
    "ts_kyle_lambda" -> "reads the shared staged trades-with-mid enrichment",
    // the store-contract key IS a write-then-read: first touch of new
    // content publishes the K-row rollup artifact it then reads back
    "etl_index_store" -> ("stages the fingerprint-keyed rollup artifact " +
      "it then reads — the staged-artifact contract is the operator"),
    "llm_incremental_neardup" -> ("first touch of new content stages the " +
      "base corpus's MinHash banding index (band keys + signature store) " +
      "it then bands the delta against — the persisted index IS the key"),
    "mm_phash_incremental" -> ("first touch of new content stages the base " +
      "media corpus's phash band index (bands + hash store) it then bands " +
      "the delta against — the media-side leg of the same pattern"),
    "llm_unigram_vocab" -> ("first touch of new content trains and stores " +
      "the unigram piece vocabulary (10% sample) it then reads back"),
    "llm_unigram_encode" -> ("reads the same stored unigram vocabulary " +
      "artifact (training it on first touch of new content)"),
    // --- derive-once localCheckpoints (r14 optimization round) ---
    // the gram/signature frame feeds candidate generation AND both
    // verify-side attachments; checkpointing it once replaced 4-6
    // re-scans + native-kernel re-evaluations per query (the
    // llm_source_drift / unigram precedent). The construction job is
    // that single materialization pass.
    "llm_ngram_jaccard" -> "gram frame localCheckpoint (derive once, 6 scans -> 1)",
    "llm_containment" -> "gram frame localCheckpoint (derive once, 5 scans -> 1)",
    "llm_near_dedup" -> "sig + gram frame localCheckpoints (derive once)",
    "llm_near_dedup_exact" -> "sig + gram frame localCheckpoints (derive once)",
    "llm_minhash_portable" -> "signature frame localCheckpoint (derive once, 3 scans -> 1)",
    "llm_decontaminate" ->
      "repartitioned docs localCheckpoint (derive once for eval + train)")

  /** Keys whose RETURNED plan legitimately has no WholeStageCodegen
    * span. `join_skew_aqe` executes the real (codegen'd, skew-split)
    * join during construction — PlanContractSpec asserts
    * OptimizeSkewedJoin fired in [[graft.operators.Extras2.lastSkewJoinPlan]]
    * — and returns that execution's 11 rows as a LocalTableScan
    * instead of lazily re-running the whole join a second time under
    * session confs (r14). */
  val allowCodegenAbsent: Set[String] = Set("join_skew_aqe")

  /** For keys whose returned plan is a construction-result local
    * relation, the plan the audit should actually grade (r15, ADVICE):
    * without this substitution the smell scan and shuffle budget for
    * `join_skew_aqe` would audit a LocalTableScan — vacuously clean.
    * The captured plan is the skew-split join the key exists to run;
    * reading it releases it, so call this once per construction. */
  def constructionPlan(name: String)
      : Option[org.apache.spark.sql.execution.SparkPlan] = name match {
    case "join_skew_aqe" => operators.Extras2.takeSkewJoinExec()
    case _ => None
  }

  /** Count the shuffles (Exchange operators) the executed plan
    * actually ran, walking through AQE wrappers and query stages and
    * into subqueries. ReusedExchange is NOT counted — it reads a
    * sibling's shuffle output instead of shuffling again, which is
    * the thing a budget should reward. */
  def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    var n = 0
    def walk(x: SparkPlan): Unit = {
      x match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ReusedExchangeExec => return
        case s: ShuffleExchangeLike => n += 1
        case _ =>
      }
      x.children.foreach(walk)
      x.subqueries.foreach(walk)
    }
    walk(p)
    n
  }

  /** Keys whose entire REASON TO EXIST is proving scan pushdown —
    * their plans must carry non-empty PushedFilters on a parquet scan
    * (r6 verdict #7; asserted structurally on scan metadata, not on a
    * possibly-truncated plan string). */
  val mustPushFilters = Set("scan_filter_pushdown", "join_dpp")

  /** True iff some parquet scan in the plan pushed at least one
    * filter into the reader. */
  def hasPushedFilters(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    var found = false
    def walk(x: SparkPlan): Unit = {
      x match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case f: FileSourceScanExec =>
          if (f.metadata.get("PushedFilters").exists(v => v != "[]")) found = true
        case _ =>
      }
      x.children.foreach(walk)
      x.subqueries.foreach(walk)
    }
    walk(p)
    found
  }

  /** Execute every non-streaming registered query at `d` and return
    * one "SMELL key: ..." / "ERROR key: ..." line per finding. Empty
    * result = audit clean. Construction-time Spark jobs (any job
    * started by `fn` itself, before the audit's own collect) are a
    * smell unless the key is in [[allowConstructionJobs]]. Each key's
    * executed shuffle count is checked against [[ShuffleBudgets.map]]
    * — over budget is a smell, and so is a missing budget entry, so
    * every new operator must declare its shuffle budget when it
    * lands (r6 verdict #7: "minimal shuffle" as a failing test, not
    * prose). */
  def audit(spark: SparkSession, d: String): Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (name.startsWith("stream_")) Nil
      else try {
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(listener)
        val df =
          try { fn(spark, d) }
          finally {
            // the bus is async: drain before reading the counter
            org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(listener)
          }
        val constructionJobs = jobs.get()
        df.collect()
        // audit the captured construction plan where the returned plan
        // is just the construction result's local relation (r15)
        val auditPlan =
          constructionPlan(name).getOrElse(df.queryExecution.executedPlan)
        val p = auditPlan.toString
        val nShuf = countShuffles(auditPlan)
        val budget = ShuffleBudgets.map.get(name)
        val smells = Seq(
          "CartesianProduct" -> p.contains("CartesianProduct"),
          "BroadcastNestedLoopJoin" -> p.contains("BroadcastNestedLoopJoin"),
          "codegen-absent" -> (!p.contains("*(") && !name.startsWith("mm_") &&
            !allowCodegenAbsent.contains(name)),
          s"driver-action-in-construction ($constructionJobs jobs)" ->
            (constructionJobs > 0 && !allowConstructionJobs.contains(name)),
          s"shuffles $nShuf over budget ${budget.getOrElse(-1)}" ->
            budget.exists(nShuf > _),
          "no shuffle budget declared" -> budget.isEmpty,
          "pushdown-absent" ->
            (mustPushFilters.contains(name) &&
              !hasPushedFilters(df.queryExecution.executedPlan)))
          .collect { case (s, true) => s }
        val crossOk = allowCross.contains(name)
        val bad = smells.filterNot(s =>
          crossOk && (s == "CartesianProduct" || s == "BroadcastNestedLoopJoin"))
        if (bad.nonEmpty) Seq(s"SMELL $name: ${bad.mkString(", ")}") else Nil
      } catch { case e: Throwable =>
        Seq(s"ERROR $name: ${String.valueOf(e.getMessage).take(100)}")
      }
    }

  /** Core count the audit, its shuffle budgets and the shared test
    * session run under. [[Tables.parallelizeKernel]] repartitions a
    * scan only when it is narrower than a quarter of the session's
    * cores, so one key can plan a different number of exchanges on
    * 4, 8 and 32 cores; [[ShuffleBudgets]] hold at this count. */
  val AuditCores = 8

  /** `runMain graft.PlanAudit` prints one line per smell;
    * `... counts` prints every key's shuffle count as budget entries;
    * `... explain <outDir> <suffix> <key1,key2,...> <sfDir>` writes
    * each key's formatted plan to `<outDir>/<key>_<suffix>.txt`. */
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("explain")) explain(args.tail)
    else auditMain(args)

  private def auditMain(args: Array[String]): Unit = {
    val spark = GraftSession.local(AuditCores)
    if (args.contains("counts")) {
      // budget (re)generation mode: print the measured shuffle count
      // per key as ready-to-paste map entries (same execution path the
      // audit gate uses, so the numbers can't diverge from it)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (!name.startsWith("stream_")) {
          try {
            val df = fn(spark, "/root/testdata/sf0.001")
            df.collect()
            println(s"""    "$name" -> ${countShuffles(df.queryExecution.executedPlan)},""")
          } catch { case e: Throwable =>
            println(s"// ERROR $name: ${String.valueOf(e.getMessage).take(80)}")
          }
        }
      }
    } else audit(spark, "/root/testdata/sf0.001").foreach(println)
    println(s"AUDIT DONE (local[$AuditCores])")
    spark.stop()
  }

  /** Writes `.explain("formatted")` of registry keys to files, the
    * before/after plan evidence of an optimization (plans/r{N}/). Runs
    * under the Bench session width, [[GraftSession.cores]], so the
    * dumped plan is the benched plan. Streaming keys are skipped:
    * invoking one RUNS the query, and the returned frame is a sink
    * read-back whose plan says nothing about the streaming execution. */
  private def explain(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanAudit explain <outDir> <suffix> <keys> <sfDir>")
    val Array(outDir, suffix, keyList, d) = args
    val keys = keyList.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.local(GraftSession.cores)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { key =>
      require(SparkEntry.queries.contains(key), s"unknown key $key")
      if (key.startsWith("stream_")) {
        System.err.println(s"[explain] $key skipped (streaming)")
      } else {
        val txt = SparkEntry.queries(key)(spark, d).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val out = java.nio.file.Paths.get(s"$outDir/${key}_$suffix.txt")
        java.nio.file.Files.write(out, txt.getBytes("UTF-8"))
        println(s"[explain] wrote $out (${txt.count(_ == '\n')} lines)")
      }
    }
    spark.stop()
  }
}

/** Committed per-key shuffle budgets at the audit scale (sf0.001,
  * `local[PlanAudit.AuditCores]` = local[8], AQE on — the
  * PlanContractSpec environment). Measured by
  * `runMain graft.PlanAudit counts` and pasted here verbatim; the
  * audit fails any key that EXCEEDS its number (a new shuffle slipped
  * into the plan) or that has NO entry (new operators must declare
  * their budget). Running UNDER budget is fine — tighten when seen.
  * These are plan-shape regression gates, not performance numbers:
  * a budget of 3 means "this operator's 100 TB story tolerates three
  * data-sized repartitions and no more". */
object ShuffleBudgets {
  val map: Map[String, Int] = Map(
    // r8 portable LSH family: sign-LSH = candidate distinct + window
    // top-k + final sort (probes broadcast, codes a per-row
    // projection); portable minhash = band-bucket self-join feeding
    // the pair distinct (signature joins fold to broadcasts at audit
    // scale)
    "llm_knn_signlsh" -> 3,
    "llm_minhash_portable" -> 2,
    // ingestion near-dedup: 2 candidate distincts (vs stored index,
    // vs prior delta) + 2 verdict groupBys + the delta/verdict join +
    // presentation sort — every shuffle on narrow key/id rows; the
    // base side arrives pre-signed from the stored index
    "llm_incremental_neardup" -> 6,
    // same pipeline shape over phash bands (media leg)
    "mm_phash_incremental" -> 6,
    // unigram vocab: the stored-artifact read + presentation sort
    "llm_unigram_vocab" -> 1,
    // encode: distinct-words shuffle + per-doc groupBy + first-word
    // join + presentation sort (segmentation itself is broadcast-only)
    "llm_unigram_encode" -> 4,
    // encode = per-row fuse chain + the presentation sort; training
    // happens in construction (stored-artifact read after first touch)
    "llm_bpe_encode" -> 1,
    // final plan reads the last round's localCheckpoint: two size
    // groupBys + the presentation sort
    "graph_components" -> 4,
    // the shard window's hash exchange + the presentation sort — the
    // global-shuffle-for-training plan IS those two exchanges
    "llm_global_shuffle" -> 2,
    // hourly pre-agg + the event_type rolling window + final sort
    "ts_anomaly" -> 3,
    // r8s5 quant composites: quote summary = bar pre-agg + sort;
    // autocorr = pre-agg + lag window + grouped moments (AQE folds the
    // tiny final sort); beta = pre-agg + broadcast market join +
    // rolling window + sort
    "ts_bidask_spread" -> 2,
    "ts_autocorr" -> 3,
    "ts_rolling_beta" -> 4,
    // pre-agg + lag window + rank/count window + grouped tail + sort
    "ts_var_es" -> 5,
    // consumers read the staged trades-with-mid enrichment (built
    // once per dataset via IndexStore.cachedDir — the quote-dedup agg
    // and the native as-of's key exchanges live in the build job):
    // hour agg + presentation sort
    "ts_effective_spread" -> 2,
    "ts_trade_sign" -> 2,
    "ts_ofi" -> 2,
    // hour-of-day pre-agg + the 24-row-per-symbol rank window + sort
    "ts_intraday_profile" -> 3,
    // r9 microstructure estimators: bar pre-agg + per-symbol series
    // window + grouped moments (Roll/Amihud); Kyle reads the staged
    // enrichment, so its plan is two bar aggs + the 1-partition
    // series window over the #bars joined frame
    "ts_roll_spread" -> 3,
    "ts_amihud" -> 3,
    // hi/lo bar pre-agg + per-symbol lag window + grouped means (AQE
    // folds the 5-row presentation sort)
    "ts_corwin_schultz" -> 3,
    // one per-symbol tick window (both lag scales) + grouped sums
    // (AQE folds the 5-row presentation sort)
    "ts_tsrv" -> 2,
    // per-row encode fold + ONE |langs|-grain agg + presentation sort
    "llm_tokenizer_fertility" -> 2,
    "ts_kyle_lambda" -> 3,
    "ts_variance_ratio" -> 3,
    // bigram count table + the vocab²-bounded marginal windows
    // (same-key windows share the exchange; top-50 is TakeOrdered)
    "llm_collocations" -> 2,
    // df build (2-phase distinct) + broadcast kept-vocab + per-doc
    // re-agg with a distinct (2-phase) + presentation sort
    "llm_doc_freq_prune" -> 6,
    // existing-fingerprint distinct + the anti-join/first-occurrence
    // window exchange + presentation sort
    "llm_incremental_dedup" -> 3,
    // r8 portable HLL: distinct pre-agg + register fold + per-group
    // harmonic sum + the exact-count twin column (2-phase distinct)
    "agg_approx_distinct" -> 6,
    // merged + direct registers + exact twin: three aggregate chains
    // over the distinct (day, user) pre-agg; every post-register frame
    // is ≤ m rows
    "agg_hll_portable_merge" -> 8,
    // two scan-aggregate passes + the 256-row histogram + 4 quantile
    // probes over the bounded frame
    "agg_quantile_histogram" -> 4,
    // +2 since r9: the oracle'd rank_ok contract column adds a
    // 3-group rank-count aggregation (grouped count + its exchange)
    // on top of the sketch agg and the exact-twin two-pass
    "agg_approx_quantile" -> 10,
    "agg_cms" -> 3,
    "agg_ttest_welch" -> 1,
    "agg_distinct" -> 3,
    "agg_heavy_hitters" -> 2,
    "agg_hll_sketch" -> 4,
    "agg_modern_fillins" -> 2,
    "agg_percentile_exact" -> 9,
    "agg_pivot" -> 3,
    "agg_pricing_summary" -> 2,
    "agg_quantile_twopass" -> 8,
    "agg_retention_cohort" -> 5,
    "agg_rollup_cube_sets" -> 2,
    "agg_salted_skew" -> 3,
    "agg_sessionize" -> 2,
    "agg_stats" -> 8,
    "agg_string_agg" -> 2,
    "agg_udaf_wmid" -> 2,
    "dq_checks" -> 7,
    "dq_outliers" -> 2,
    // per-order line rollup + the orderkey-co-partitioned header join
    // + status groupBy (AQE folds the 3-row presentation sort;
    // measured 3, one exchange of headroom for AQE broadcast flips)
    "dq_reconcile" -> 4,
    "etl_cdc_apply" -> 2,
    "etl_compaction" -> 2,
    "etl_dynamic_partition_overwrite" -> 2,
    "etl_gdpr_delete" -> 3,
    "etl_incremental_agg" -> 4,
    "etl_scd2" -> 2,
    "etl_snapshot_compact" -> 1,
    "etl_snapshot_diff" -> 3,
    "etl_snapshot_add_column" -> 1,
    "etl_snapshot_clone" -> 1,
    "etl_snapshot_merge" -> 1,
    "etl_snapshot_restore" -> 1,
    "etl_snapshot_prune" -> 1,
    "etl_snapshot_read" -> 1,
    "etl_snapshot_vacuum" -> 1,
    "etl_time_travel" -> 1,
    "etl_upsert" -> 3,
    "etl_zorder" -> 2,
    "expr_custom" -> 1,
    "filter_conj" -> 1,
    "filter_null_semantics" -> 1,
    "fn_array" -> 1,
    "fn_bitwise_hash" -> 1,
    "fn_collation" -> 1,
    "fn_cond" -> 1,
    "fn_date" -> 1,
    "fn_json" -> 1,
    "fn_map" -> 1,
    "fn_mask" -> 1,
    "fn_math" -> 1,
    "fn_string" -> 1,
    "fn_struct" -> 1,
    "fn_try_safe" -> 1,
    "fn_ts_arith" -> 1,
    "fn_url" -> 1,
    "fn_variant" -> 1,
    "fn_xml" -> 1,
    "graph_degree" -> 4,
    "graph_pagerank" -> 8,
    // final plan reads the checkpointed per-hop frontiers: the
    // histogram groupBy + presentation sort (BFS rounds run in
    // construction, CC-kernel style). Note: the final-horizon round
    // stays LAZY in the result plan, but at audit scale the frontier
    // exhausts at hop 3 (early exit), so that branch's extra distinct
    // exchange never appears here — if the audit graph ever deepens
    // past the horizon, expect +2 (distinct + anti-join probe side)
    "graph_sssp" -> 2,
    "graph_triangles" -> 5,
    // variant equi-join (self-join reuses one exchange) + pair
    // distinct; the presentation sort rides AQE's reuse at audit scale
    "join_fuzzy_blocked" -> 3,
    // per-user lag window exchange + match groupBy + presentation sort
    "ts_cep_pattern" -> 3,
    "join_asof" -> 2,
    "join_asof_forward" -> 2,
    "join_asof_native" -> 3,
    "join_asof_forward_native" -> 3,
    "join_asof_nearest_native" -> 3,
    "join_asof_tolerance_native" -> 3,
    "etl_snapshot_log" -> 1,
    // reads the K-row staged rollup + presentation sort
    "etl_index_store" -> 1,
    "join_asof_nearest" -> 2,
    "join_asof_tolerance" -> 2,
    "join_bloom_prefilter" -> 2,
    "join_broadcast" -> 2,
    "join_bucketed_colocated" -> 2,
    "join_cross" -> 1,
    "join_dpp" -> 3,
    "join_inner_equi" -> 2,
    "join_interval" -> 2,
    "join_left_right_full" -> 4,
    "join_multiway" -> 3,
    "join_null_safe" -> 2,
    "join_range_bucketed" -> 5,
    "join_semi_anti" -> 1,
    "join_shuffle_hash" -> 4,
    // r15: the audited plan is now the CAPTURED construction-time
    // skew join (see constructionPlan) — broadcast is disabled inside
    // its conf scope, so the dim side shuffles too: fact repartition +
    // both SMJ sides + final sort = 4 (the old 3 graded the lazy
    // session-conf rebuild, where the dim folded to a broadcast)
    "join_skew_aqe" -> 4,
    "join_theta_prefix" -> 3,
    "join_theta_range" -> 2,
    "limit_topk" -> 0,
    "llm_bpe_train" -> 1,
    "llm_chunk_docs" -> 1,
    "llm_containment" -> 3,
    "llm_corpus_pipeline" -> 6,
    "llm_decontaminate" -> 3,
    "llm_dedup_cluster" -> 2,
    "llm_embed_centroid" -> 2,
    "llm_embed_neardup" -> 3,
    "llm_embed_normalize" -> 2,
    "llm_exact_dedup" -> 2,
    "llm_feature_hash" -> 2,
    "llm_fingerprint" -> 1,
    // +1 (r15): Tables.parallelizeKernel's hash repartition of the
    // single-file documents scan ahead of the tokenize + explode
    "llm_hybrid_search" -> 13,
    "llm_interleave_sources" -> 2,
    "llm_kmeans" -> 3,
    "llm_knn_cosine" -> 2,
    "llm_knn_ivf" -> 4,
    "llm_knn_ivf_exact" -> 4,
    "llm_knn_ivf_pruned" -> 3,
    "llm_knn_ivf_pruned20" -> 3,
    "llm_knn_ivf_append" -> 3,
    "llm_knn_pq" -> 4,
    "llm_lang_id" -> 1,
    "llm_lm_score" -> 4,
    "llm_multimodal_join" -> 1,
    // +7/+3 in r10: shuffle_hash hints on every signature/gram payload
    // attachment (the 300× rung showed SMJ sort-spilling the array
    // payload past local disk) pin those joins as hash exchanges —
    // they no longer fold to broadcasts at audit scale. The payload
    // still moves exactly once per attachment; the extra exchanges
    // ARE the declared plan shape, not a regression.
    "llm_near_dedup" -> 9,
    "llm_near_dedup_exact" -> 5,
    "llm_ngram_jaccard" -> 3,
    "llm_ngram_lm" -> 2,
    "llm_ngram_windows" -> 1,
    // pure per-row projection; the single shuffle is the output sort
    "llm_pii_scrub" -> 1,
    "llm_pack_sequences" -> 5,
    "llm_quality_score" -> 1,
    "llm_repetition" -> 5,
    "llm_rerank_mmr" -> 3,
    "llm_sample_stratified" -> 2,
    "llm_semantic_decontaminate" -> 2,
    "llm_simhash" -> 2,
    "llm_source_drift" -> 4,
    "llm_span_dedup" -> 3,
    "llm_text_stats" -> 3,
    "llm_tfidf" -> 7,
    "llm_token_count" -> 1,
    "mm_decode_features" -> 1,
    "mm_frame_sample" -> 1,
    "mm_audio_window" -> 1,
    // band self-join exchange + pair distinct (hash attachments fold
    // to broadcasts at audit scale; the sort rides the distinct), +1
    // (r15) for Tables.parallelizeKernel's hash repartition of the
    // single-file documents scan ahead of the decode
    "mm_phash_neardup" -> 3,
    // same pipeline at the 128-bit operating point — same two
    // exchanges (band self-join + pair distinct)
    "mm_phash_wide" -> 2,
    // (band,bval) partial-agg exchange + band re-agg + output sort
    "mm_phash_band_stats" -> 3,
    "mm_modality_dispatch" -> 1,
    "project_arith" -> 1,
    "q10_returned_items" -> 1,
    "q18_large_orders" -> 1,
    "q21_suppliers_waiting" -> 4,
    "q3_shipping_priority" -> 1,
    // r8 TPC-H completion set (Composite2): at audit scale AQE folds
    // most dim joins to broadcasts, so the counts are the agg/sort
    // exchanges plus the one fact-fact shuffle where the probe side
    // is too big to fold (q13's left join keeps the outer exchange;
    // q15's aggregate view feeds both the max and the tie filter;
    // q17's decorrelated avg shares the part-filtered slice)
    // r8 s4: quantize = explode-agg + scale join-back agg + sort;
    // temperature = stratum count + stratum window rank + final agg
    // (the allot frame broadcasts)
    "llm_emb_quantize" -> 3,
    "llm_sample_temperature" -> 3,
    "q4_priority_exists" -> 2,
    "q6_forecast_revenue" -> 1,
    "q12_late_shipments" -> 2,
    "q13_customer_distribution" -> 3,
    "q14_promo_revenue" -> 1,
    "q15_top_supplier" -> 4,
    "q17_small_quantity" -> 3,
    "q19_disjunctive_predicates" -> 1,
    "q22_idle_customers" -> 3,
    "q5_local_supplier_volume" -> 1,
    "q7_volume_shipping" -> 2,
    "q8_market_share" -> 2,
    "scan_csv_malformed" -> 2,
    "scan_filter_pushdown" -> 2,
    "scan_parquet" -> 1,
    "scan_pruned" -> 1,
    "scan_schema_evolution" -> 2,
    "set_except_intersect" -> 3,
    "set_union_all" -> 4,
    "sink_partitioned_scan" -> 2,
    "sort_multi" -> 1,
    "source_csv_roundtrip" -> 2,
    "source_json_roundtrip" -> 2,
    "source_orc_roundtrip" -> 2,
    "source_text_roundtrip" -> 1,
    "subquery_family" -> 2,
    "ts_corr_types" -> 3,
    "ts_drawdown" -> 2,
    "ts_ewma" -> 3,
    "ts_gapfill" -> 4,
    "ts_interpolate" -> 4,
    "ts_linreg_trend" -> 2,
    "ts_ohlc_bars" -> 2,
    "ts_realized_vol" -> 2,
    "ts_twap" -> 2,
    "ts_vwap" -> 2,
    "udf_scalar" -> 1,
    "unpivot_melt" -> 1,
    "win_analytic" -> 2,
    "win_frame_range" -> 2,
    "win_frame_rows" -> 2,
    "win_funnel" -> 7,
    "win_percentiles" -> 2,
    "win_rank" -> 2,
    "win_topk" -> 2)
}
