package graft.operators

import graft.{KeySpec, QFn, Tables}
import graft.functions.CosineSimF
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity / dedup operators over documents and embeddings
  * (SURVEY.md §2.9): brute-force and LSH-bucketed cosine k-NN, MinHash
  * LSH near-dedup, SimHash, exact n-gram Jaccard, embedding near-dup,
  * and the multimodal documents⋈embeddings join.
  *
  * Scale design — nothing here is O(n²) on the full corpus:
  *  - k-NN broadcasts the handful of probe vectors; the corpus side
  *    streams through one codegen'd projection + per-partition top-k;
  *  - MinHash candidates come from band-bucket equi-joins (the LSH
  *    banding shuffle), never an all-pairs product;
  *  - SimHash pairs come from 16-bit chunk buckets (pigeonhole: any
  *    pair within Hamming ≤ 3 of 64 bits shares one of 4 chunks);
  *  - exact n-gram Jaccard runs as a prefix-filtered inverted-index
  *    set-similarity join (rarest-gram postings equi-join, exact
  *    verification on candidates); embedding near-dup is *blocked*
  *    by admissible quantizer-cell pairs — the bounded variant;
  *  - the multimodal join is a plain equi-join, broadcast-able when
  *    one side is a dimension.
  *
  * r9 round audit note: the round(sim/dist, 4|6|9) columns here are
  * RETAINED as round, not converted to Det.fq — the cosine / ADC /
  * Jaccard folds are engineered as the same left-to-right IEEE
  * sequence in both engines (aggregate↔list_sum over identically
  * ordered elements), so their doubles are bit-identical and either
  * quantizer works; round additionally absorbs an ulp IF a future
  * DuckDB version reorders a list fold, which fq would not. The
  * residual half-up-tie exposure needs a sim landing within an ulp
  * of a 6-dp midpoint — none of these statistics sit on decimal
  * grids, and every ranking tie-breaks by id. */
object LlmSimilarity {

  // ---------------------------------------------------------------- utils

  private val words = split(col("text"), " ")

  /** Distinct word-bigram shingles of `text`. Guarded for single-token
    * documents: `sequence(1, 0)` is DESCENDING `[1, 0]` in Spark, and
    * `element_at(w, 0)` throws — so docs with fewer than two tokens get
    * an empty gram set (matching DuckDB's `range(n-1)` → empty list). */
  private def bigrams(c: Column): Column = {
    val w = split(c, " ")
    when(size(w) >= 2,
      array_distinct(transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit("_"), element_at(w, i + 1)))))
      .otherwise(array().cast("array<string>"))
  }

  // ------------------------------------------------------------- knn

  /** The probe vectors / documents every k-NN and retrieval key queries. */
  private[operators] val ProbeIds = Seq(1L, 2L, 3L, 4L, 5L)

  /** The probe ids as a SQL `IN` list, for the oracles. Initialized
    * before `permConsts` below starts LlmLsh, whose specs read it. */
  private[operators] val ProbeInSql: String = ProbeIds.mkString("IN (", ", ", ")")

  /** The probe rows of `emb` as (probe_id, `vec`); `vec` is by default
    * the probe's embedding as `probe_vec`, the column [[cosineTopK]]
    * scores. */
  private[operators] def probeFrame(emb: DataFrame,
      vec: Column = col("embedding").as("probe_vec")): DataFrame =
    emb.filter(col("vec_id").isin(ProbeIds: _*))
      .select(col("vec_id").as("probe_id"), vec)

  /** Cosine top-k per probe, the one scoring kernel of the k-NN family:
    * every (probe_id, probe_vec) × (vec_id, embedding) candidate row
    * but a probe's own is scored with the round-6 [[CosineSimF]],
    * ranked per probe by (sim desc, vec_id), and the first `k` ranks
    * are kept with their `sim` and `rk`. Callers differ only in the
    * candidate set: all pairs, the probed IVF lists, or the sign-LSH
    * bucket collisions. */
  private[operators] def cosineTopK(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    cands.filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim", round(CosineSimF(col("probe_vec"), col("embedding")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** The k-NN keys' result: [[cosineTopK]] at k = 5 as
    * (probe_id, rk, vec_id, sim) in probe and rank order. */
  private[operators] def knnRows(cands: DataFrame): DataFrame =
    cosineTopK(cands, 5)
      .select("probe_id", "rk", "vec_id", "sim")
      .orderBy("probe_id", "rk")

  /** All-pairs candidates: the probes broadcast against every corpus
    * row, so the corpus is scanned once. */
  private def allPairs(emb: DataFrame): DataFrame =
    emb.crossJoin(broadcast(probeFrame(emb)))

  /** Brute-force cosine top-5 for 5 probe vectors: probes broadcast,
    * corpus scanned once, per-probe top-k via window. At 100 TB the
    * same plan holds — the corpus never shuffles except the final
    * k-rows-per-probe aggregation. */
  val llmKnnCosine: QFn = (s, d) => knnRows(allPairs(Tables.embeddings(s, d)))

  /** IVF-bucketed ANN with a REAL k-means coarse quantizer: 64
    * centroids from six distributed Lloyd iterations
    * ([[Clustering.kmeans]] — trained once, the way a production IVF
    * index trains its quantizer offline); every vector is assigned
    * to its nearest centroid (one broadcast join + argmax — a single
    * corpus scan), and each probe searches only the nProbe = 20
    * nearest inverted lists (31% of the lists; the ratio is the
    * knob, and FINER lists beat coarser at the same scan fraction —
    * K 16→64 at a fixed ~1/4 ratio lifted recall@5 0.72 → 0.92, and
    * nProbe 16→20 lifts it 0.92 → ≥0.96 while staying ≤ 35% scan;
    * a sweep showed extra Lloyd rounds buy nothing here). At
    * 100 TB the corpus would be written bucket-partitioned so a probe
    * reads only its lists' files. The spec asserts recall@5 ≥ 0.95
    * and prints the measured scan fraction. */
  val llmKnnIvf: QFn = (s, d) =>
    ivfSearch(ivfQuantizer(s, d), Tables.embeddings(s, d), IvfNProbe)

  /** The IVF machinery in EXACT mode: nProbe = K searches every
    * inverted list, so the index must reproduce the brute-force top-k
    * bit-for-bit — the same quantizer training, list assignment,
    * probe routing, and scoring path as [[llmKnnIvf]], one config knob
    * away, but ORACLED against the all-pairs cosine SQL. The
    * approximate default stays spec-class (recall@5 gate)
    * legitimately; this key pins the machinery. */
  val llmKnnIvfExact: QFn = (s, d) =>
    ivfSearch(ivfQuantizer(s, d), Tables.embeddings(s, d), IvfK)

  /** IVF tuning: K inverted lists, nProbe probed per query, and the
    * Lloyd rounds that train the coarse quantizer. Shared by every IVF
    * key, their oracles AND the recall spec's scan-budget assertion,
    * so the spec gate tracks the real constants instead of a literal. */
  val IvfK = 64
  val IvfNProbe = 20
  val IvfIters = 6

  /** Centroids as a broadcastable (cent_id, cent_vec) frame — back to
    * float so the same codegen'd float-array cosine kernel scores
    * vectors and centroids alike. */
  private def centFrame(s: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat)) }.toSeq
      .toDF("cent_id", "cent_vec")
  }

  /** The trained coarse quantizer of the IVF keys. */
  private def ivfQuantizer(s: SparkSession, d: String): DataFrame =
    centFrame(s, Clustering.kmeans(s, d, iters = IvfIters, K = IvfK)._2)

  /** n nearest centroids per row — one flat (vector × centroid)
    * broadcast join: the cosine runs in ONE codegen'd expression per
    * pair; argmax via windowed top-n. */
  private def ivfNearest(cents: DataFrame, src: DataFrame, vecCol: String,
      idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(idCol)
      .orderBy(col("cent_sim").desc, col("cent_id"))
    src.join(broadcast(cents))
      .withColumn("cent_sim", round(CosineSimF(col(vecCol), col("cent_vec")), 6))
      .withColumn("cent_rk", row_number().over(w))
      .filter(col("cent_rk") <= n)
  }

  /** Each (vec_id, embedding) row of `src` with its list, the nearest
    * centroid, as `cluster`. */
  private def ivfAssign(cents: DataFrame, src: DataFrame): DataFrame =
    ivfNearest(cents, src, "embedding", "vec_id", 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cluster"))

  /** Each probe once per list it searches: its `nProbe` nearest
    * centroids as `search_cluster`. */
  private def ivfProbes(cents: DataFrame, emb: DataFrame,
      nProbe: Int): DataFrame =
    ivfNearest(cents, probeFrame(emb), "probe_vec", "probe_id", nProbe)
      .select(col("probe_id"), col("probe_vec"), col("cent_id").as("search_cluster"))

  /** The IVF candidate set: each probe against the
    * (cluster, vec_id, embedding) rows of the lists it searches. */
  private def ivfCandidates(corpus: DataFrame, probes: DataFrame): DataFrame =
    corpus.join(broadcast(probes), col("cluster") === col("search_cluster"))

  /** The list layout at `path` read through a partition filter on the
    * lists the probes search, so the scan touches only their files.
    * The list set is ≤ 5 probes × nProbe ids of driver state — the
    * only thing that leaves the cluster. */
  private def probedLists(s: SparkSession, path: String,
      probes: DataFrame): DataFrame = {
    val searched = probes.select("search_cluster").distinct()
      .collect().map(_.getLong(0))
    s.read.parquet(path).filter(col("cluster").isin(searched: _*))
  }

  /** IVF search over `emb` freshly assigned to the lists of `cents`,
    * nProbe of them probed. The scan fraction is ~nProbe/K; recall
    * rises with both nProbe/K and quantizer quality. */
  private def ivfSearch(cents: DataFrame, emb: DataFrame, nProbe: Int): DataFrame =
    knnRows(ivfCandidates(ivfAssign(cents, emb), ivfProbes(cents, emb, nProbe)))

  /** Published location of the cluster-partitioned IVF layout for a
    * dataset, building it if absent. The layout is a deterministic
    * function of (dataset CONTENT, quantizer), and the quantizer is
    * itself content-memoized, so it is written once PER MACHINE
    * ([[IndexStore.cachedDir]]: built into a tmp dir, atomically
    * renamed into place, keyed by the embeddings table's content
    * fingerprint) and every later session re-probes the same files,
    * exactly like a deployed IVF index (built offline, probed many
    * times). Exposed so diagnostics (ScaleRecallSpec's list-skew
    * readout) inspect the SAME layout the pruned key probes instead
    * of guessing a path. */
  def ivfLayoutPath(s: SparkSession, d: String): String = {
    val emb = Tables.embeddings(s, d)
    val cents = ivfQuantizer(s, d)
    val fp = graft.IndexStore.fingerprint(s"$d/embeddings.parquet")
    graft.IndexStore.cachedDir(s"ivf_layout_v1_${fp}_${IvfK}_$IvfIters") { tmp =>
      ivfAssign(cents, emb).write.mode("overwrite").partitionBy("cluster").parquet(tmp)
    }
  }

  /** The approximate pruned probe (nProbe = [[IvfNProbe]]) — what the
    * specs drive for the recall gate and the measured scan fraction
    * ([[ivfPrunedScan]]). */
  val llmKnnIvfPruned: QFn = (s, d) => llmKnnIvfPrunedWith(s, d, IvfNProbe)

  /** The REGISTERED pruned key runs the same partition-filtered
    * layout read in EXACT mode (nProbe = K, the `llm_knn_ivf_exact`
    * config pin): every list is probed, so the result must reproduce
    * the brute-force top-k bit-for-bit and the key is driver-oracled
    * against the all-pairs cosine SQL — the layout build, the
    * partition-filter read path, and the scoring are the production
    * machinery, one knob from the approximate default. The SELECTIVE
    * pruning demonstration stays spec-pinned on the nProbe = 20
    * variant above. */
  val llmKnnIvfPrunedExact: QFn = (s, d) => llmKnnIvfPrunedWith(s, d, IvfK)

  /** The IVF STORAGE story made literal: the assigned corpus is
    * WRITTEN cluster-partitioned (`partitionBy(cluster)` — one
    * directory per inverted list), and the probe batch reads back
    * through a partition filter on its searched clusters, so Spark's
    * scan touches only the probed lists' files — the `PartitionFilters`
    * line in the plan, not a full-scan-then-filter. Same quantizer,
    * probes, and scoring as [[llmKnnIvf]], so the results are
    * IDENTICAL (spec-pinned); only the physical access path changes.
    * This is exactly how a 100 TB IVF index deploys on a data lake:
    * list = partition, probe = partition-pruned scan. */
  private def llmKnnIvfPrunedWith(s: SparkSession, d: String,
      nProbe: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = ivfQuantizer(s, d)
    val path = ivfLayoutPath(s, d)
    val probes = ivfProbes(cents, emb, nProbe)
    knnRows(ivfCandidates(probedLists(s, path, probes), probes))
  }

  /** What the approximate pruned probe ([[llmKnnIvfPruned]]) reads:
    * (layout files read through the partition filter, layout files in
    * all, candidate rows scored across all probes, probes × corpus
    * rows). The last two give the average per-probe scan fraction —
    * the IVF cost knob the specs print. It costs extra Spark jobs, so
    * only the specs call it. */
  private[graft] def ivfPrunedScan(s: SparkSession, d: String): (Long, Long, Long, Long) = {
    val emb = Tables.embeddings(s, d)
    val path = ivfLayoutPath(s, d)
    val probes = ivfProbes(ivfQuantizer(s, d), emb, IvfNProbe)
    val corpus = probedLists(s, path, probes)
    (corpus.inputFiles.length.toLong, s.read.parquet(path).inputFiles.length.toLong,
      ivfCandidates(corpus, probes).count(),
      probes.select("probe_id").distinct().count() * emb.count())
  }

  /** INGESTION-MODE IVF maintenance — the corpus-append path a
    * production index runs between retrains: the coarse quantizer is
    * trained ONCE on the BASE corpus (vec_id % 10 ≠ [[IvfAppendMod]],
    * the pre-existing index), persisted ([[graft.IndexStore]]), and
    * the delta batch (vec_id % 10 = [[IvfAppendMod]], the day's
    * ingest) is assigned to the FIXED stored centroids and appended
    * into the same cluster-partitioned list layout — `mode("append")`
    * + `partitionBy(cluster)`: new files inside existing list
    * directories, no retraining, no rewrite of the base layout. The
    * query then probes the union through the same partition filter as
    * [[llmKnnIvfPruned]]. Pairs with `llm_incremental_dedup` as the
    * 100 TB ingestion story: at scale the delta is a day's batch and
    * the append touches only its assigned list directories.
    *
    * Fully driver-oracled AT THE PRODUCTION OPERATING POINT
    * (nProbe = [[IvfNProbe]]): base-slice training is the same
    * integer-exact Lloyd unroll ([[Clustering.lloydCtes]] over the
    * filtered `emb` CTE — `ivfOracleSql`'s trainWhere parameter), and
    * assignment to fixed centroids is deterministic, so the SQL
    * replays train-on-base → assign-union → probe → re-rank and
    * hash-matches end to end. IvfAppendSpec pins the maintenance
    * contract: append-then-query ≡ the retrain-free one-shot query
    * over the union. */
  val IvfAppendMod = 7

  private def ivfAppendCents(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(10)) =!= IvfAppendMod)
      .select(col("vec_id"), col("embedding"))
    val fp = graft.IndexStore.fingerprint(s"$d/embeddings.parquet")
    // train-once on the base slice, content-memoized like the main
    // quantizer; the append path below must never retrain
    centFrame(s, graft.IndexStore.cached(
      s"ivf_append_quantizer_v1_${fp}_${IvfK}_$IvfIters") {
      Clustering.kmeansOn(s, base, iters = IvfIters, K = IvfK)._2
    })
  }

  /** Base layout written once, delta appended once — both against the
    * same stored centroids; content-keyed like [[ivfLayoutPath]]. */
  def ivfAppendLayoutPath(s: SparkSession, d: String): String = {
    val emb = Tables.embeddings(s, d)
    val cents = ivfAppendCents(s, d)
    val fp = graft.IndexStore.fingerprint(s"$d/embeddings.parquet")
    graft.IndexStore.cachedDir(s"ivf_append_layout_v1_${fp}_${IvfK}_$IvfIters") { tmp =>
      // the pre-existing index: base corpus, cluster-partitioned
      ivfAssign(cents, emb.filter(pmod(col("vec_id"), lit(10)) =!= IvfAppendMod))
        .write.mode("overwrite").partitionBy("cluster").parquet(tmp)
      // the ingest batch: assigned to the SAME fixed centroids and
      // APPENDED — new files land inside existing list directories
      ivfAssign(cents, emb.filter(pmod(col("vec_id"), lit(10)) === IvfAppendMod))
        .write.mode("append").partitionBy("cluster").parquet(tmp)
    }
  }

  /** Spec comparator for the maintenance contract: the same probes and
    * scoring over the union assigned in ONE shot against the stored
    * base-trained quantizer — no layout, no append step.
    * [[llmKnnIvfAppend]] must equal this exactly (IvfAppendSpec). */
  private[graft] def ivfAppendOneShot(s: SparkSession, d: String): DataFrame =
    ivfSearch(ivfAppendCents(s, d), Tables.embeddings(s, d), IvfNProbe)

  val llmKnnIvfAppend: QFn = (s, d) => {
    val cents = ivfAppendCents(s, d)
    val probes = ivfProbes(cents, Tables.embeddings(s, d), IvfNProbe)
    knnRows(ivfCandidates(probedLists(s, ivfAppendLayoutPath(s, d), probes), probes))
  }

  /** PQ tuning: m subspaces × dsub dims, `codes`-entry codebooks,
    * [[PqRounds]] joint Lloyd rounds, [[PqShortlist]] ADC candidates
    * re-ranked exactly. Object-scoped so the DuckDB oracle below is
    * generated from the SAME constants the key runs with. */
  private val PqM = 8; private val PqDsub = 8; private val PqCodes = 16
  private val PqRounds = 3; private val PqShortlist = 100

  /** Product-quantization ANN with ASYMMETRIC DISTANCE COMPUTATION —
    * the memory-side companion to IVF: each 64-dim float vector
    * (256 B) is encoded as m = 8 sub-codes from a 16-entry codebook
    * per 8-dim subspace (32× compression; codebooks train on the same
    * Lloyd kernel as the coarse quantizer, m × 16 × 8 doubles of
    * driver state). A probe never decodes the corpus: it builds a
    * per-probe lookup table of subvector→codeword distances (m × 16
    * values, broadcast) and scores every candidate as the SUM of m
    * table lookups — here the relational form (codes ⋈ LUT on
    * (sub, code), one map-side-combined groupBy), which at 100 TB is
    * a scan of 1-byte codes instead of 4-byte floats. The ADC pass
    * SHORTLISTS 100 candidates per probe; only those rows read
    * their full float vectors for an exact re-rank to top-5 — the
    * production IVF-PQ shape (compressed scan, exact tail). ADC alone
    * lands recall@5 ≈ 0.28 on this corpus; the 100-candidate exact
    * re-rank recovers what the shortlist retains — recall@5 0.92
    * (spec-gated ≥ 0.85). Approximate by construction (quantization
    * error) — but FULLY ORACLED anyway: the codebook
    * training is exact integer arithmetic and the ADC fold is
    * order-pinned, so [[pqOracleSql]] re-derives the same approximate
    * two-stage ranking in DuckDB and the key hash-matches. The spec
    * additionally measures recall@5 against exact L2 (the quality
    * gate the hash-match can't express). */
  val llmKnnPq: QFn = (s, d) => {
    val m = PqM; val dsub = PqDsub; val codes = PqCodes
    val emb = Tables.embeddings(s, d)
    import s.implicits._
    def subvectors(src: DataFrame, idCol: String): DataFrame =
      src.select(col(idCol),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
        .select(col(idCol), col("sub"),
          expr(s"slice(embedding, sub * $dsub + 1, $dsub)").as("sv"))
    // train all m sub-codebooks JOINTLY on Clustering's Lloyd kernel —
    // per round ONE corpus pass assigns every (vector, subspace) pair
    // against its subspace's codebook and ONE micro-unit integer
    // aggregate (m × codes × dsub rows) updates every codebook. m
    // separate kmeansOn loops cost m× the driver-synchronized jobs for
    // the same math (7.2 s → ~2.5 s at sf0.1); exact integer means
    // keep the result executor-count-invariant like k-means.
    val subvAll = subvectors(emb, "vec_id")
    val wAsg = Window.partitionBy("vec_id", "sub").orderBy("d2", "code")
    def assignWith(books: Array[(Int, Int, Array[Double])]): DataFrame =
      subvAll.join(broadcast(books.toSeq.toDF("sub", "code", "cvec")), Seq("sub"))
        .withColumn("d2", graft.functions.SqEuclidFD(col("sv"), col("cvec")))
        .withColumn("rk", row_number().over(wAsg)).filter(col("rk") === 1)
    // codebooks are content-keyed and persisted: a fresh session reads
    // the trained books instead of re-running the 3-round joint
    // training — the offline-index production shape.
    // Rows flatten as [sub, code, v...]; IEEE bits round-trip exactly.
    val fp = graft.IndexStore.fingerprint(s"$d/embeddings.parquet")
    val flat = graft.IndexStore.cached(s"pq_books_v1_${fp}_${m}_$codes") {
      // seeds: the k-means seed vectors, sliced per subspace
      var cents: Array[(Int, Int, Array[Double])] = Clustering.seedVectors(emb, codes)
        .zipWithIndex.flatMap { case (v, code) =>
          (0 until m).map(sub => (sub, code, v.slice(sub * dsub, (sub + 1) * dsub)))
        }
      (0 until PqRounds).foreach { _ =>
        val next = cents.map { case (s0, c0, v) => ((s0, c0), v.clone) }.toMap
        Clustering.lloydMeans(assignWith(cents), Seq("sub", "code"), "sv")
          .foreach { case (Seq(s0, c0), p, mean) => next((s0, c0))(p) = mean }
        cents = next.toArray.map { case ((s0, c0), v) => (s0, c0, v) }
          .sortBy(t => (t._1, t._2))
      }
      cents.map { case (s0, c0, v) => s0.toDouble +: (c0.toDouble +: v) }
    }
    val cents: Array[(Int, Int, Array[Double])] =
      flat.map(r => (r(0).toInt, r(1).toInt, r.drop(2)))
    val bookDf = broadcast(cents.toSeq.toDF("sub", "code", "cvec"))
    // encode: argmin codeword per (vector, subspace) — the final
    // assignment pass against the trained books
    val encoded = assignWith(cents).select("vec_id", "sub", "code")
    // per-probe ADC lookup tables: m × 16 distances each
    val luts = subvectors(probeFrame(emb, col("embedding")), "probe_id")
      .join(bookDf, Seq("sub"))
      .select(col("probe_id"), col("sub"), col("code"),
        graft.functions.SqEuclidFD(col("sv"), col("cvec")).as("dlut"))
    val wAdc = Window.partitionBy("probe_id").orderBy("adc", "vec_id")
    // ADC score: the m per-subspace LUT distances summed in PINNED
    // sub order (sort + sequential HOF fold) instead of an unordered
    // sum — a plain sum's partial-merge order varies with
    // partitioning, and the DuckDB oracle replays this exact
    // sub-0..m-1 left fold
    val shortlist = encoded.join(broadcast(luts), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("sub"), col("dlut")))),
        lit(0.0), (acc, x) => acc + x.getField("dlut")), 6).as("adc"))
      .withColumn("adc_rk", row_number().over(wAdc))
      .filter(col("adc_rk") <= PqShortlist)
      .select("probe_id", "vec_id", "adc")
    // exact re-rank: only the 100-row shortlist touches full vectors
    val probeVecs = probeFrame(emb, col("embedding").cast("array<double>").as("pv"))
    val wTop = Window.partitionBy("probe_id").orderBy("d2", "vec_id")
    shortlist
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(probeVecs), "probe_id")
      .withColumn("d2", round(graft.functions.SqEuclidFD(col("embedding"), col("pv")), 6))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select("probe_id", "rk", "vec_id", "d2", "adc")
      .orderBy("probe_id", "rk")
  }

  /** HYBRID retrieval — the RAG-stack shape: BM25 lexical scoring
    * (query = each probe document's term set) and cosine vector
    * scoring run independently, each yields a top-20 list, and
    * reciprocal-rank fusion (Σ 1/(60 + rank)) merges them into the
    * final top-5 per probe. Cross-engine exactness: every BM25 term
    * contribution and the fused score use literal double constants
    * mirrored verbatim in the oracle, per-term contributions go
    * through the decimal sum, and both ranks order by round-6 scores
    * with doc_id tiebreaks — so even the two-stage ranking
    * hash-matches. Scale shape: postings equi-join on term for the
    * lexical side (df/avgdl are broadcast dims), broadcast probes for
    * the vector side, and the fusion joins two ≤(probes × 20)-row
    * lists. */
  val llmHybridSearch: QFn = (s, d) => {
    // parallelizeKernel: the tokenize + explode feeding the tf table
    // would run on the single-task local scan (18 single-task
    // stages); a no-op at production split counts
    val docs = Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), words.as("w"))
    val terms = docs.select(col("doc_id"), explode(col("w")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).cast("double").as("tf"))
    val dl = docs.select(col("doc_id"), size(col("w")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (graft.Det.dsum2(col("dl")) / count(lit(1))).as("avgdl"))
    val dfreq = terms.groupBy("t").agg(count(lit(1)).cast("double").as("df"))
    val qterms = terms.filter(col("doc_id").isin(ProbeIds: _*))
      .select(col("doc_id").as("probe_id"), col("t")).distinct()
    val scored = qterms
      .join(terms, "t")
      .filter(col("doc_id") =!= col("probe_id"))
      .join(broadcast(dfreq), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("c",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("probe_id", "doc_id")
      .agg(graft.Det.dsum6(col("c")).as("bm25"))
    val wLex = Window.partitionBy("probe_id").orderBy(col("bm25").desc, col("doc_id"))
    val lex = scored.withColumn("lex_rk", row_number().over(wLex))
      .filter(col("lex_rk") <= 20).select("probe_id", "doc_id", "lex_rk")
    val vec = cosineTopK(allPairs(Tables.embeddings(s, d)), 20)
      .select(col("probe_id"), col("vec_id").as("doc_id"), col("rk").as("vec_rk"))
    val wFuse = Window.partitionBy("probe_id").orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("probe_id", "doc_id"), "full_outer")
      .select(col("probe_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60.0) + col("lex_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rk")), lit(0.0))).as("rrf"))
      .withColumn("rk", row_number().over(wFuse))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("doc_id"), round(col("rrf"), 9).as("rrf"))
      .orderBy("probe_id", "rk")
  }

  /** MMR re-rank — the diversification tail of the retrieval stack:
    * from each probe's cosine top-20, greedily pick 5 maximizing
    * λ·sim(q, d) − (1−λ)·max_sim(d, already-picked) with λ = 0.7.
    * The greedy loop is inherently sequential PER PROBE but the
    * groups are bounded (20 candidates), so `flatMapGroups` over
    * (probe → candidates) is the honest distributed shape: state
    * never exceeds 20 vectors per group, probes process in parallel,
    * and the corpus-side work (the top-20) is the same broadcast scan
    * as [[llmKnnCosine]]. Greedy selection is not SQL-expressible —
    * no oracle; the spec pins membership, the top-1 anchor, and that
    * diversity strictly improves on the plain top-5. */
  val llmRerankMmr: QFn = (s, d) => {
    val lambda = 0.7
    val top20 = cosineTopK(allPairs(Tables.embeddings(s, d)), 20)
      .select(col("probe_id"), col("vec_id"), col("sim"), col("embedding"))
    import s.implicits._
    def cosLocal(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    top20.as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (probe, it) =>
        val pool = scala.collection.mutable.ArrayBuffer(
          it.toArray.sortBy(c => (-c._3, c._2)): _*)
        val picked = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double)] // (vec_id, rank, mmr)
        val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        while (picked.size < 5 && pool.nonEmpty) {
          val scoredPool = pool.map { c =>
            val penalty =
              if (pickedVecs.isEmpty) 0.0
              else pickedVecs.map(v => cosLocal(c._4, v)).max
            (c, lambda * c._3 - (1 - lambda) * penalty)
          }
          val (best, mmr) = scoredPool.minBy { case (c, m) => (-m, c._2) }
          picked += ((best._2, picked.size + 1L, math.rint(mmr * 1e6) / 1e6))
          pickedVecs += best._4
          pool -= best
        }
        picked.iterator.map { case (v, rk, m) => (probe, rk, v, m) }
      }
      .toDF("probe_id", "rk", "vec_id", "mmr")
      .orderBy("probe_id", "rk")
  }

  // ------------------------------------------------------- minhash LSH

  import LlmLsh.{MersennePrime, MinhashBands, MinhashPerms, gramJaccard, sigAgreement}

  /** Fixed (a, b) permutation constants — deterministic seed. */
  private val permConsts = LlmLsh.minhashPerms(42)

  /** (doc_id, sig) — sig is the 64-long MinHash signature array,
    * computed by the native MinhashSigs expression in ONE per-row pass
    * (no explode, no shuffle — the earlier explode → 64×min-aggregate
    * form pushed a 1M-row intermediate through a groupBy). */
  def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    val (as, bs) = permConsts.unzip
    // HashedBigrams → MinhashSigs: BOTH native codegen'd expressions,
    // so the whole signature projection is one fused per-row pass (the
    // composed transform() chain was CodegenFallback and re-tokenized
    // the document once per gram)
    // parallelizeKernel (r15): that fused pass still ran on the
    // single-task local scan — one core of 32; no-op at scale
    Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id").select(
      col("doc_id"),
      graft.functions.MinhashSigs(
        graft.functions.HashedBigrams(col("text"), MersennePrime),
        as.toArray, bs.toArray, MersennePrime).as("sig"))
  }

  /** (doc_id, band, band_key) LSH bucket keys: the 64-perm signature
    * cut into `bands` equal slices, each hashed to one 8-byte key.
    * Pairs agreeing on any full slice share that band's key — the
    * banding equi-join that replaces the all-pairs product. */
  private def lshBandKeys(sigs: DataFrame, bands: Int): DataFrame = {
    val rows = MinhashPerms / bands
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => xxhash64(concat_ws("_", j.cast("string"),
          slice(col("sig"), j * rows + 1, lit(rows)).cast("string"))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  /** Deduped (a < b) candidate id-pairs from an LSH band-bucket
    * self-join ([[LlmLsh.bandCandidates]]). */
  private def lshCandidates(sigs: DataFrame, bands: Int): DataFrame = {
    val keys = lshBandKeys(sigs, bands)
    LlmLsh.bandCandidates(keys, keys, "band_key", ("a", "b"), Some(_ < _))
  }

  /** MinHash LSH near-dedup: candidate pairs from band buckets, scored
    * by signature agreement (est. Jaccard) and exact bigram Jaccard.
    * Emits pairs with est ≥ 0.35.
    *
    * PERMANENTLY no-oracle, by one irreducible reason (r9 verdict #5
    * adjudication): `est_jaccard` derives from xxhash64-hashed grams
    * and the native 64-perm signatures, and DuckDB ships no xxhash64 —
    * no SQL twin can recompute the estimates, and because 16×4 banding
    * recall at J≈0.7 is ~98.8% (not 1), even the emitted pair SET is
    * seed-dependent near the threshold. The same pipeline re-based on
    * md5 gram hashes IS fully oracled as `llm_minhash_portable`, and
    * the seed-free pair set as `llm_near_dedup_exact`; this key's
    * contract is precisely the production fast-hash path. The spec
    * checks recall of high-Jaccard pairs and estimate error;
    * [[llmNearDedupExact]] is the oracle-checkable twin. */
  val llmNearDedup: QFn = (s, d) => {
    // shuffle_hash on every signature/gram attachment — same payload-
    // sort-spill reasoning as [[llmNearDedupExact]] (the 300× rung).
    // localCheckpoint (r14): sigs feed the band keys AND both estimate
    // joins — four signature derivations (HashedBigrams + MinhashSigs
    // over every doc) in the uncheckpointed plan; derive once.
    // Reclamation note (r15, ADVICE — applies to every derive-once
    // checkpoint in this file): the persisted MEMORY_AND_DISK blocks
    // are released by the ContextCleaner when the frame's RDD becomes
    // unreachable (each invocation builds a fresh frame, so the
    // previous pass's blocks are garbage by then). An explicit
    // unpersist is deliberately NOT done: a localCheckpointed frame
    // cannot recompute after unpersist (lineage is truncated), and
    // the returned DataFrame's lifetime is the caller's — eager
    // unpersist would poison any consumer that re-collects (specs
    // do). Blocks are small (sig/gram frames, MBs at bench scale) and
    // bounded to ~1 generation between GCs; off local mode the same
    // executor-failure caveat as any localCheckpoint applies.
    val sigs = minhashSignatures(s, d).localCheckpoint().hint("shuffle_hash")
    val est = lshCandidates(sigs, MinhashBands)
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sa")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sb")), "b")
      .withColumn("est_jaccard", sigAgreement(col("sa"), col("sb")))
      .filter(col("est_jaccard") >= 0.35)
    // hashed gram sets: intersect/union counts over longs equal the
    // string-gram counts (no-collision assumption shared by the whole
    // gram pipeline), at a fraction of the compare cost
    val grams = Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), graft.functions.HashedBigrams(col("text")).as("grams"))
      .localCheckpoint() // derive once for both attachment sides (r14)
      .hint("shuffle_hash")
    est.join(grams.select(col("doc_id").as("a"), col("grams").as("ga")), "a")
      .join(grams.select(col("doc_id").as("b"), col("grams").as("gb")), "b")
      .withColumn("shared", graft.functions.IntersectCount(col("ga"), col("gb")))
      .select(col("a"), col("b"), round(col("est_jaccard"), 4).as("est_jaccard"),
        round(gramJaccard(col("shared"), col("ga"), col("gb")), 6).as("exact_jaccard"))
      .orderBy("a", "b")
  }

  /** The ORACLE-CHECKABLE near-dedup twin (SURVEY §2.9's suggested
    * partial oracle): LSH candidates filtered by EXACT hashed-bigram
    * Jaccard ≥ 0.5 — the emitted pairs are seed-independent, so DuckDB
    * can recompute them as the full all-pairs Jaccard join. Recall:
    * 32 bands × 2 rows catch a J = 0.5 pair with p = 1−(1−J²)³² ≈
    * 1−10⁻⁴ (and every planted pair in this corpus sits at J ≥ 0.7,
    * where the miss odds are ~4·10⁻¹⁰); the band keys are a strict
    * SUPERSET of the 16×4 keys the estimating key uses. Candidate
    * generation stays the banding equi-join — DuckDB's n² join is the
    * oracle's cost, not the engine's. */
  val llmNearDedupExact: QFn = (s, d) => {
    // localCheckpoint: the band-key self-join's sides do NOT share an
    // exchange at this size (one side folds to a broadcast), so the
    // signature kernel ran once per side — derive once (r14)
    val cands = lshCandidates(minhashSignatures(s, d).localCheckpoint(),
      bands = 32)
    // SHUFFLE_HASH on the gram attachment: sort-merge would SORT both
    // sides carrying the full hashed-gram ARRAY payload (~KB/row) —
    // at the 300× ladder rung (15 M docs, ~24 GB of gram arrays × two
    // joins) the UnsafeExternalSorter spill exceeded local disk and
    // killed the key. A hash join never sorts the payload; the build
    // side is one partition's grams (bounded by the doc-id shuffle),
    // which is also the right cluster shape — payload moves once,
    // no sort files.
    val grams = Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), graft.functions.HashedBigrams(col("text")).as("grams"))
      .localCheckpoint() // derive once for both attachment sides (r14)
      .hint("shuffle_hash")
    cands
      .join(grams.select(col("doc_id").as("a"), col("grams").as("ga")), "a")
      .join(grams.select(col("doc_id").as("b"), col("grams").as("gb")), "b")
      .withColumn("shared", graft.functions.IntersectCount(col("ga"), col("gb")))
      .withColumn("j", gramJaccard(col("shared"), col("ga"), col("gb")))
      .filter(col("j") >= 0.5)
      .select(col("a"), col("b"), round(col("j"), 6).as("exact_jaccard"))
      .orderBy("a", "b")
  }

  /** Seed-free exact near-dup pair memo: the 32-band LSH + exact-
    * Jaccard pass is the expensive half of both `llm_near_dedup_exact`
    * and `llm_dedup_cluster`; it is deterministic per dataset CONTENT,
    * so it is computed once per machine and persisted as a small
    * parquet ([[IndexStore.cachedDir]], content-fingerprint-keyed like
    * the quantizer/layout artifacts — r6 verdict #2): a fresh session
    * reads the pair set instead of re-running the LSH join. */
  private def exactPairs(s: SparkSession, d: String): DataFrame = {
    val fp = graft.IndexStore.fingerprint(s"$d/documents.parquet")
    val path = graft.IndexStore.cachedDir(s"neardup_pairs_v1_$fp") { tmp =>
      llmNearDedupExact(s, d).select("a", "b")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    s.read.schema("a BIGINT, b BIGINT").parquet(path)
  }

  /** Near-dup CLUSTERING: connected components over the near-dup pair
    * graph via iterative min-label propagation to a fixpoint
    * ([[connectedComponents]]: each doc starts as its own label and
    * takes the min label among itself and its neighbors). Output: every document with its cluster id and a keep
    * flag (minimum doc_id per cluster survives) — the final step that
    * turns pair detection into an actual dedup decision. Each round is
    * one join + groupBy on (doc, label): at 100 TB this is the
    * standard large-scale connected-components loop (no driver graph).
    * Its input is the seed-free exact pair set, so DuckDB replays the
    * whole clustering as a recursive closure. */
  val llmDedupCluster: QFn = (s, d) => {
    // cluster over the SEED-FREE pair set (32-band exact twin): the
    // pair graph is then engine-independent, which is what lets the
    // whole clustering be DuckDB-oracled (recursive-closure CC in SQL)
    // instead of spec-only — the r4 upgrade from r3's 16-band input.
    val pairs = exactPairs(s, d)
    val nodes = Tables.documents(s, d).select("doc_id")
    val (labels, _) = connectedComponents(s, nodes, pairs)
    val w = Window.partitionBy("label").orderBy("doc_id")
    labels.withColumn("keep", (row_number().over(w) === 1).cast("int"))
      .select(col("doc_id"), col("label").as("cluster_id"), col("keep"))
      .orderBy("doc_id")
  }

  /** Distributed connected components: min-label propagation PLUS a
    * per-round pointer shortcut (`label := label(label)` — the
    * hash-to-min doubling step), run to a fixpoint. Plain propagation
    * converges in diameter(graph) rounds, which is fine for the 2–3-hop
    * graphs near-dup clusters form but degenerates on an adversarial
    * chain (a 1000-link path = 1000 Spark jobs); the shortcut collapses
    * label chains geometrically, so a path of n nodes settles in
    * O(log n) rounds (DedupClusterDiameterSpec pins this). Labels only
    * ever decrease and always hold a doc_id of the same component, so
    * the fixpoint is the component-minimum labeling — same output as
    * plain propagation, fewer rounds. Per-round cost: two joins + one
    * groupBy, all on (doc, label) — no driver-side graph; driver state
    * is the 1-value convergence count. `edges0` is undirected input as
    * (a, b) pairs; returns (labels(doc_id, label), rounds).
    *
    * PRECONDITION (made explicit by the r12 own-label fold, which
    * widened the membership behavior the old labels-left-join
    * enforced): every edge endpoint must appear in `nodes`. An
    * endpoint outside `nodes` now CONTRIBUTES a labeled output row
    * (it enters the candidate union via the neighbor side), instead
    * of being silently restricted away — so a caller passing
    * unfiltered pair output with a node SUBSET would get extra rows.
    * All in-repo callers satisfy endpoints ⊆ nodes by construction
    * (pairs are generated from the same table that supplies nodes);
    * GraphSpec pins the contract with an explicit subset probe.
    *
    * r12 A/B record (don't re-run): at test scale the per-round wall
    * is ~90% AQE stage-JOB scheduling latency (measured: 82 one-stage
    * jobs / 7 rounds, 6.0 s of task time spread over a 4.3 s wall on
    * 32 threads). Two levers were measured NEGATIVE: (1) AQE off for
    * the loop only (edges pre-checkpointed) = 17–25 s vs 4.3–5.6 s on
    * — without runtime broadcast conversion every round pays 32-task
    * SMJ sorts; (2) AQE off globally via the bench knob = 14.7 s.
    * The two kept wins: the convergence agg fused into the checkpoint
    * action (−1 action/round, pinned by spec), and the own-label
    * union fold below (3 joins/round → 2; neutral at test scale where
    * scheduling dominates, kept because at real data sizes one fewer
    * node-sized exchange per round is the term that matters). */
  def connectedComponents(s: SparkSession, nodes: DataFrame,
      edges0: DataFrame, maxRounds: Int = 64,
      shortcutFrom: Int = 3): (DataFrame, Int) = {
    // undirected edge list both ways, materialized ONCE (truncates the
    // pair-generation lineage out of every round's plan)
    val edges = edges0
      .select(col(edges0.columns(0)).as("x"), col(edges0.columns(1)).as("y"))
      .unionByName(edges0
        .select(col(edges0.columns(1)).as("x"), col(edges0.columns(0)).as("y")))
      .localCheckpoint()
    var labels = nodes
      .select(col(nodes.columns(0)).as("doc_id"), col(nodes.columns(0)).as("label"))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      // one groupBy, one join (r12): the node's OWN label rides the
      // candidate union tagged `own`, so the aggregate yields both the
      // propagated min (l1 = min over own + neighbor labels) and the
      // previous label (old = the sole own row) — folding what used to
      // be a separate labels ⨝ neighborMin left-join into the same
      // shuffle. Two fewer exchanges per round; identical fixpoint.
      val nm = edges
        .join(labels.select(col("doc_id").as("y"), col("label").as("nl")), "y")
        .select(col("x").as("doc_id"), col("nl").as("cl"),
          lit(false).as("own"))
      val prop = labels
        .select(col("doc_id"), col("label").as("cl"), lit(true).as("own"))
        .unionByName(nm)
        .groupBy("doc_id")
        .agg(min("cl").as("l1"),
          min(when(col("own"), col("cl"))).as("old"))
      // pointer shortcut: follow the label one hop (label is itself a
      // doc_id of the same component, so its current label is a valid —
      // and no larger — label for this node). Default: enabled from
      // round 3 — dedup-typical 2–3-hop graphs converge before paying
      // the extra join. Deeper graphs (graph_components' trade
      // subgraph) pass shortcutFrom = 1: rounds are the cost unit
      // (each is ~0.5 s of harness-fixed localCheckpoint + job
      // latency at test scale, regardless of the 2.4k-row data), and
      // early doubling caps them at O(log diameter) — 7 rounds for
      // the sf0.1 trade graph; an A/B vs shortcutFrom = 3 measured
      // the same 7 rounds there (components are bushy, not chains),
      // so the early default is kept for the worst case, not a win.
      val shortcut =
        if (round < shortcutFrom)
          prop.select(col("doc_id"), col("old"), col("l1").as("label"))
        else {
          val ptr = prop.select(col("doc_id").as("pid"), col("l1").as("plabel"))
          prop.join(ptr, prop("l1") === ptr("pid"), "left")
            .select(col("doc_id"), col("old"),
              least(col("l1"), coalesce(col("plabel"), col("l1"))).as("label"))
        }
      // localCheckpoint each round: truncate lineage — otherwise round
      // k replans the whole k-deep join chain (quadratic planning)
      //
      // FUSED convergence check (r11 verdict #3): the changed-label
      // tally rides the SAME job that materializes the checkpoint — a
      // LongAccumulator bumped by the udf computing the `changed`
      // column — replacing the separate agg action each round used to
      // pay. Every action costs ~0.5 s of fixed job-scheduling latency
      // at test scale REGARDLESS of data size, so fusing halves the
      // per-round floor (jobs/round 2 → 1; pinned by the job-count
      // assertion in DedupClusterDiameterSpec). Accumulator caveats
      // don't bite here: a task retry can only OVER-count, and the
      // test is a zero-test — a genuinely-changed round stays nonzero
      // however often it retries, and a changeless round has nothing
      // to over-count. The udf is off the codegen path by nature, but
      // it touches one long per row per round — noise next to the two
      // joins, at any scale.
      val changedAcc = s.sparkContext.longAccumulator(s"graft_cc_changed_r$round")
      val tally = udf { ch: Long => if (ch > 0L) changedAcc.add(ch); ch }
      val next = shortcut
        .select(col("doc_id"), col("label"),
          tally(when(col("label") < col("old"), 1L).otherwise(0L)).as("changed"))
        .localCheckpoint()
      converged = changedAcc.value == 0L
      labels = next.drop("changed")
    }
    (labels, round)
  }

  /** SEMANTIC decontamination — the embedding-space twin of the
    * n-gram [[graft.operators.LlmText.llmDecontaminate]]: flag every
    * training vector whose cosine similarity to ANY held-out eval
    * vector (the first 100 of the deterministic vec_id % 10 slice,
    * standing in for a benchmark) reaches 0.4 — paraphrased leakage
    * that n-gram overlap misses. Scale shape: the eval side is capped
    * at a FIXED 100 vectors by construction (real benchmarks are
    * fixed-size no matter how big the corpus), so it BROADCASTS and
    * the training corpus is scanned once with a codegen'd cosine per
    * (train, eval) pair — no shuffle until the tiny per-hit
    * aggregate. Exact: rounded sims, count + max order-independent. */
  val llmSemanticDecontaminate: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val eval = emb.filter(col("vec_id") % 10 === 0)
      .orderBy("vec_id").limit(100)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    emb.filter(col("vec_id") % 10 =!= 0)
      .crossJoin(broadcast(eval))
      .withColumn("sim", round(CosineSimF(col("ev"), col("embedding")), 6))
      .filter(col("sim") >= 0.4)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), max("sim").as("max_sim"))
      .orderBy("vec_id")
  }

  /** SimHash: 64-bit fingerprint per document (sign of per-bit vote
    * sums over a 64-bit token hash), plus its 4×16-bit chunk keys —
    * the banding that finds Hamming ≤ 3 pairs without an all-pairs
    * join. The token hash is the LOWER 8 BYTES OF md5 (big-endian),
    * assembled from two 32-bit hex halves — a hash both engines can
    * compute bit-identically, which upgrades this key from
    * spec-validated to fully oracle'd (r6 verdict #6): DuckDB mirrors
    * `('0x'||substr(md5(w),17,8))::UBIGINT` etc. in
    * [[simhashOracleSql]]. md5-per-distinct-token costs ~2× xxhash64
    * here but the key stays sub-second at sf0.1; any 64-bit hash
    * gives the same Hamming-banding semantics. */
  val llmSimhash: QFn = (s, d) => {
    val md5hex = md5(col("w"))
    val tok = Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode(array_distinct(words)).as("w"))
      .withColumn("h",
        shiftleft(conv(substring(md5hex, 17, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(md5hex, 25, 8), 16, 10).cast("long")))
    val votes = (0 until 64).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1)).as(s"v$j")
    }
    val fp = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val outCols = Seq(col("doc_id"), col("simhash")) ++
      (0 until 4).map(c => col("simhash").bitwiseAND(lit(0xffffL << (16 * c)))
        .as(s"chunk$c"))
    tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .withColumn("simhash", fp)
      .select(outCols: _*)
      .orderBy("doc_id")
  }

  /** Exact word-bigram Jaccard ≥ 0.3 within the same source, via a
    * PREFIX-FILTERED inverted-index set-similarity join (the AllPairs /
    * SSJoin bound):
    *
    *  1. grams get a global total order: (document frequency, gram)
    *     ascending — rarest first, hottest LAST;
    *  2. each doc indexes only its first |A| − ⌈τ·|A|⌉ + 1 grams.
    *     Recall is complete by the prefix lemma: J(A,B) ≥ τ forces
    *     overlap o ≥ ⌈τ·|A|⌉ and o ≥ ⌈τ·|B|⌉, and the globally
    *     SMALLEST common gram has at least o − 1 overlap grams ranked
    *     after it in each doc, so its rank is ≤ |X| − o + 1 ≤ prefix
    *     length in BOTH docs — every qualifying pair collides in the
    *     prefix index;
    *  3. candidate (a, b) pairs from the prefix-postings self-join are
    *     verified EXACTLY via `array_intersect` on the full gram sets,
    *     so the output is identical to the unfiltered join (same
    *     DuckDB oracle).
    *
    * This is the 100 TB hot-gram answer, not a mitigation: a gram in
    * every document has maximal df, ranks last in every doc, and is
    * NEVER indexed — the skew axis of the naive postings self-join
    * (AQE skew-split only spreads it) is gone structurally, and the
    * candidate join touches ~(1−τ) of the postings volume. Document
    * frequency itself is one map-side-combined groupBy over postings;
    * prefix ranking is one (source, doc_id)-partitioned window. */
  val llmNgramJaccard: QFn = (s, d) =>
    // native single-pass gram hashing: the composed transform/xxhash64
    // chain was interpreted (HOFs are CodegenFallback) — 4.4 s per
    // evaluation at sf0.1 vs ~0.2 s for this expression.
    // localCheckpoint (r14, the unigram-key precedent): the gram frame
    // feeds postings AND both verify sides — 6 parquet scans + 6 gram
    // derivations in the uncheckpointed final plan. Materializing it
    // once turns those into in-memory reads: derive-once is also the
    // 100 TB shape (one corpus read + local-disk reuse vs six full
    // re-reads). Measured same-window A/B at sf0.1 (subset bench, N=3,
    // jaccard+containment together): see OPTIMIZATION_r14.md.
    // parallelizeKernel (r15): single-task local scan ran the gram
    // kernel on one core; no-op at production split counts
    ngramJaccardOn(Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("source"),
        graft.functions.HashedBigrams(col("text")).as("hg"))
      .localCheckpoint(), 0.3)

  /** Prefix-filtered Jaccard core over ANY (doc_id, source, hg) frame
    * — the property spec drives it with generated corpora at random
    * thresholds to pin the prefix lemma independent of the fixture. */
  def ngramJaccardOn(g: DataFrame, tau: Double): DataFrame =
    // exact verification on the (few) candidates: full gram arrays join
    // back on a / b — plain shuffle joins, AQE broadcasts when small
    prefixCandidates(g, tau, oneSided = false)
      .join(g.select(col("doc_id").as("a"), col("hg").as("hga")), "a")
      .join(g.select(col("doc_id").as("b"), col("hg").as("hgb")), "b")
      .withColumn("shared",
        graft.functions.IntersectCount(col("hga"), col("hgb")))
      .select(col("a"), col("b"), col("source"),
        gramJaccard(col("shared"), col("hga"), col("hgb")).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .orderBy("a", "b")

  /** Distinct same-source (a, b, source) candidates of the prefix
    * filter, the one index behind both set-similarity bounds. Grams are
    * ranked per source by (document frequency, gram), and each doc
    * keeps its first |A| − ⌈τ·|A|⌉ + 1 postings. Jaccard's bound is
    * two-sided, so a's prefix joins b's prefix, a < b. Containment's
    * (`oneSided`) bounds only the contained side, so a's prefix joins
    * b's FULL postings, both orders. */
  private def prefixCandidates(g: DataFrame, tau: Double, oneSided: Boolean): DataFrame = {
    val postings = g.select(col("source"), col("doc_id"),
      size(col("hg")).as("sz"), explode(col("hg")).as("gram"))
    val dfreq = postings.groupBy("source", "gram").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("source", "doc_id").orderBy("df", "gram")
    val prefix = postings.join(dfreq, Seq("source", "gram"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("sz") - ceil(lit(tau) * col("sz")) + lit(1))
      .select("source", "doc_id", "gram")
    val (other, idOrder) =
      if (oneSided) (postings, col("x.doc_id") =!= col("y.doc_id"))
      else (prefix, col("x.doc_id") < col("y.doc_id"))
    prefix.as("x").join(other.as("y"),
        col("x.source") === col("y.source") && col("x.gram") === col("y.gram") &&
          idOrder)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.source").as("source"))
      .distinct()
  }

  /** Asymmetric containment similarity c(A→B) = |A∩B| / |A|: finds
    * documents mostly CONTAINED in another (quotes, excerpts,
    * boilerplate wrappers) that symmetric Jaccard under-scores when
    * |B| ≫ |A|. Prefix-filtered like [[llmNgramJaccard]], but the
    * bound is ONE-SIDED: c(A→B) ≥ τ bounds overlap by ⌈τ·|A|⌉ alone
    * (|B| is unconstrained), so only the contained side's postings are
    * prefix-pruned — the containing side stays fully indexed, and the
    * smallest common gram still collides (it is in A's prefix by the
    * same rank argument, and in B's full postings trivially).
    * Candidates are verified exactly on the full gram arrays, both
    * (a, b) orders survive, and the denominator is the contained side. */
  val llmContainment: QFn = (s, d) =>
    // localCheckpoint: same derive-once rationale as llmNgramJaccard
    // (postings + both verify sides re-derived the grams 5× without it)
    containmentOn(Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("source"),
        graft.functions.HashedBigrams(col("text")).as("hg"))
      .localCheckpoint(), 0.5)

  /** Prefix-filtered containment core over ANY (doc_id, source, hg)
    * frame, beside [[ngramJaccardOn]] — the property spec drives both
    * with generated corpora at random thresholds. */
  def containmentOn(g: DataFrame, tau: Double): DataFrame =
    // exact verify on the full gram ARRAYS. A/B measured at the 30×
    // replica (2026-08-14) against a postings-count verify (count
    // shared grams on narrow (source, doc, gram) rows instead of
    // carrying both arrays per candidate): the narrow form expands to
    // Σ_cand |A| join rows and measured 133 s / 7.6 GB spill vs this
    // form's 14.6 s / 4.9 GB — array duplication per candidate is
    // cheaper than candidate-expanded postings re-joins at every
    // scale tried (6.5 s vs 2.8 s at sf0.1 too). The spill is
    // absorbed (telemetry in BASELINE.md); rejected like the r6
    // stream-harness A/Bs, kept here as the measured reason.
    //
    // Second rejected A/B (r8, 2026-08-14): a dense gram-DICTIONARY
    // re-encode (distinct (source, gram) → dense int id via a
    // two-phase bucket-rank prefix-sum; docs rebuilt as int arrays so
    // the candidate shuffle and verify exchanges carry half the
    // bytes) targeting the 4.9 GB spill recorded above. Measured on
    // the same 30× replica, same session shape, both heap sizes:
    // spill is 0 for BOTH shapes on the current replica (the 4.9 GB
    // premise no longer reproduces), and the re-encode's extra
    // full-postings re-aggregation + dictionary materialization cost
    // MORE than the byte savings — containment 26.3 → 48.5 s,
    // jaccard 53.2 → 64.4 s (100 GB heap; default heap similar).
    // Oracles stayed bit-identical, so the rejection is purely wall.
    prefixCandidates(g, tau, oneSided = true)
      .join(g.select(col("doc_id").as("a"), col("hg").as("hga")), "a")
      .join(g.select(col("doc_id").as("b"), col("hg").as("hgb")), "b")
      .select(col("a"), col("b"), col("source"),
        (graft.functions.IntersectCount(col("hga"), col("hgb"))
          / size(col("hga"))).as("containment"))
      .filter(col("containment") >= tau)
      .orderBy("a", "b")

  /** Embedding cosine near-dup (τ = 0.3, same-label pairs) — EXACT
    * angular-bound cell blocking, not an all-pairs product:
    *
    *  1. a k-means coarse quantizer ([[Clustering.kmeansOn]], K = 16)
    *     assigns every vector its nearest-by-cosine cell in one
    *     broadcast scan (the IVF assignment);
    *  2. each non-empty cell's angular RADIUS r_c = max angle(x, c) is
    *     one K-row aggregate (bounded driver state, like the
    *     centroids themselves);
    *  3. the K×K cell pairs are pruned on the driver by the triangle
    *     inequality on the unit sphere: a pair (x ∈ ci, y ∈ cj) can
    *     reach angle(x,y) ≤ acos τ only if
    *     θ(ci,cj) ≤ acos τ + r_i + r_j — every surviving pair of
    *     vectors provably lands in an ADMISSIBLE cell pair, so recall
    *     is complete BY CONSTRUCTION (unlike hyperplane LSH, which at
    *     τ = 0.3 ≈ 72° has near-coin-flip bit agreement and cannot be
    *     recall-complete);
    *  4. vectors join only through the admissible (cell, cell) list —
    *     the equi-join keys are (cell, label), so the comparison
    *     volume is Σ_admissible |ci|·|cj|, never n²/blocks.
    *
    * On clustered corpora (the real near-dup regime) the bound prunes
    * most cell pairs — EmbedNeardupSpec proves exactness + pruning on
    * a 3-cluster corpus. On THIS benchmark's near-uniform vectors
    * (max pairwise cos ≈ 0.51 at angles ≥ 60°) few cell pairs prune at
    * τ = 0.3 — that is a property of random data, not of the plan: the
    * candidate volume is still bounded by the admissible list, and the
    * same code at production thresholds (τ ≥ 0.8) prunes nearly all
    * of the K² pairs. Oracle unchanged (exact τ = 0.3 semantics). */
  val llmEmbedNeardup: QFn = (s, d) =>
    embedNeardupBlocked(s, Tables.embeddings(s, d), tau = 0.3, K = 16)._1

  /** The angular-bound blocked near-dup join; returns the pair frame
    * and the admissible cell-pair count (the spec asserts it prunes
    * below K² on clustered data). Exact for any input: recall follows
    * from the triangle inequality, precision from the final cosine
    * filter. */
  def embedNeardupBlocked(s: SparkSession, emb: DataFrame, tau: Double,
      K: Int): (DataFrame, Int) = {
    import s.implicits._
    val cents = Clustering.kmeansOn(s,
      emb.select(col("vec_id"), col("embedding")), iters = 2, K = K)._2
      // float-rounded like the broadcast cent_vec, so driver-side
      // centroid angles and executor-side assignment cosines agree
      .map(_.map(v => v.toFloat.toDouble))
    val centDf = broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq.toDF("cell", "cent_vec"))
    // nearest-by-cosine cell per vector + its angle to the centroid;
    // materialized once (localCheckpoint) — reused by the radius agg
    // and both sides of the pair join. At 100 TB this frame is the
    // cell-partitioned index layout the corpus would be WRITTEN in.
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell"))
    val assigned = emb.crossJoin(centDf)
      .withColumn("csim", least(greatest(CosineSimF(col("embedding"), col("cent_vec")),
        lit(-1.0)), lit(1.0)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("label"), col("cell"),
        acos(col("csim")).as("cang"))
      .localCheckpoint()
    // per-cell angular radius: K rows to the driver (bounded state)
    val radii: Map[Int, Double] = assigned.groupBy("cell")
      .agg(max("cang").as("r")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // driver-side admissibility over K² centroid pairs
    def angle(i: Int, j: Int): Double = {
      val (a, b) = (cents(i), cents(j))
      var dot = 0.0; var na = 0.0; var nb = 0.0; var p = 0
      while (p < a.length) { dot += a(p) * b(p); na += a(p) * a(p); nb += b(p) * b(p); p += 1 }
      math.acos(math.max(-1.0, math.min(1.0, dot / math.sqrt(na * nb))))
    }
    val maxAngle = math.acos(tau) + 1e-6
    val admissible = for {
      i <- radii.keys.toSeq; j <- radii.keys.toSeq
      if angle(i, j) <= maxAngle + radii(i) + radii(j)
    } yield (i, j)
    val admDf = broadcast(admissible.toDF("ca", "cb"))
    val x = assigned.select(col("vec_id").as("a"), col("embedding").as("ea"),
      col("label"), col("cell").as("ca"))
    val y = assigned.select(col("vec_id").as("b"), col("embedding").as("eb"),
      col("label").as("lb"), col("cell").as("cy"))
    // the merge hint keeps the planned sort-merge join: without it AQE
    // broadcasts y once y's shuffle stage finishes, and drops x's
    // exchange only if x's stage has not finished yet, so the same
    // code ran 2 or 3 shuffles from run to run
    val pairs = x.join(admDf, "ca")
      .join(y.hint("merge"), col("cb") === col("cy") && col("label") === col("lb") &&
        col("a") < col("b"))
      .withColumn("cos_sim", round(CosineSimF(col("ea"), col("eb")), 6))
      .filter(col("cos_sim") >= tau)
      .select(col("a"), col("b"), col("label"), col("cos_sim"))
      .orderBy("a", "b")
    (pairs, admissible.size)
  }

  /** Multimodal join: text + vector in one row, filtered by label and
    * a text predicate; emits exact decimal element-sum and the l2 norm
    * of the embedding alongside text stats. */
  val llmMultimodalJoin: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    docs.join(emb, col("doc_id") === col("vec_id"))
      .filter(col("label") < 5 && col("n_chars") > 200)
      .select(
        col("doc_id"), col("lang"), col("label"),
        size(words).as("n_words"),
        sum_of_elems(col("embedding")).as("emb_sum"),
        round(sqrt(aggregate(transform(col("embedding"),
          x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)), 6).as("emb_norm"))
      .orderBy("doc_id")
  }

  /** Exact element sum of a float array: each float is cast to
    * DECIMAL(20,8) (both engines round the same binary value), summed
    * exactly, returned as double. Order-independent → cluster-safe. */
  private def sum_of_elems(a: Column): Column =
    // sequential double fold — matches DuckDB's list_sum exactly on this
    // data (float→decimal casts do NOT agree across engines; double
    // arithmetic does). Within one row the fold order is fixed, so this
    // is deterministic on a cluster too (arrays never split).
    aggregate(transform(a, x => x.cast("double")), lit(0.0), (acc, x) => acc + x)

  /** DuckDB twin of the double-precision cosine fold ([[CosineSimF]]):
    * dot and norms accumulated over the 64 float elements of `a` and
    * `b` cast to double, in order, so the doubles match the codegen'd
    * loop bit-for-bit. The cast is a no-op on a DOUBLE list. The one
    * place the fold is written (GraftSessionSpec guards it). */
  private[operators] def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String): String =
      s"list_sum(list_transform(range(64), i -> CAST($x[i+1] AS DOUBLE) * CAST($y[i+1] AS DOUBLE)))"
    s"""(${dot(a, b)}
        / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"""
  }

  /** [[cosSql]] rounded to 6 places, like the engine's `sim` columns. */
  private[operators] def simSql(a: String, b: String): String =
    s"round(${cosSql(a, b)}, 6)"

  /** Twin of [[knnRows]]: the `sims` CTE scores every (probe `p`,
    * candidate `e`) row of `pairs` with [[simSql]], then the top-5 per
    * probe by (sim desc, vec_id) is selected in probe and rank order.
    * Closes a WITH clause. */
  private[operators] def probeTopKSql(pairs: String): String =
    s"""sims AS (
            SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
              ${simSql("p.embedding", "e.embedding")} AS sim
            FROM $pairs)
          SELECT probe_id, rk, vec_id, sim FROM (
            SELECT probe_id, vec_id, sim,
              CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS INT) AS rk
            FROM sims)
          WHERE rk <= 5 ORDER BY probe_id, rk"""

  /** All-pairs candidates of the brute-force twin: every probe `p`
    * against every other row `e`. */
  private val allPairsSql: String =
    s"embeddings p JOIN embeddings e ON e.vec_id <> p.vec_id WHERE p.vec_id $ProbeInSql"

  /** DuckDB twin of the FULL approximate IVF path: the coarse
    * quantizer's [[IvfIters]] Lloyd rounds are unrolled via
    * [[Clustering.lloydCtes]] (exact micro-unit integer means, so the
    * trained centroids are engine-reproducible constants DERIVED
    * inside the oracle rather than pasted), the trained double
    * centroids are cast to FLOAT exactly as [[centFrame]] does (IEEE
    * round-to-nearest in both engines), and then the probe routing
    * (top-nProbe lists by round-6 cosine), the corpus assignment
    * (top-1 list by the same cosine), the candidate equi-join, and the
    * round-6 float-cosine re-rank are replayed verbatim. Every double
    * is an order-pinned list fold, so the APPROXIMATE result itself
    * hash-matches — nProbe is a constant in the SQL, not a tolerance.
    *
    * `trainWhere` (the append key): an optional WHERE clause
    * restricting the Lloyd TRAINING corpus (`emb` CTE) to the base
    * slice, while assignment/probing/scoring still run over the full
    * `emball` — the SQL replay of train-on-base / assign-everything.
    * Empty (the default) makes emb ≡ emball: the original oracle. */
  private def ivfOracleSql(nProbe: Int, trainWhere: String = ""): String = {
    val (lloyd, lastCents) = Clustering.lloydCtes(IvfK, IvfIters)
    s"""WITH emball AS (SELECT vec_id, embedding FROM embeddings),
          emb AS (SELECT vec_id, embedding FROM emball $trainWhere),
          $lloyd,
          centf AS (
            SELECT cluster AS cent_id,
              list_transform(cent, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cvec
            FROM $lastCents),
          csim AS (
            SELECT e.vec_id, c.cent_id, ${simSql("e.embedding", "c.cvec")} AS cs
            FROM emball e CROSS JOIN centf c),
          assign AS (
            SELECT vec_id, cent_id AS cluster FROM (
              SELECT vec_id, cent_id,
                row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rk
              FROM csim) WHERE rk = 1),
          plists AS (
            SELECT vec_id AS probe_id, cent_id AS search_cluster FROM (
              SELECT vec_id, cent_id,
                row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rk
              FROM csim WHERE vec_id $ProbeInSql) WHERE rk <= $nProbe),
          cand AS (
            SELECT DISTINCT p.probe_id, a.vec_id
            FROM plists p JOIN assign a ON a.cluster = p.search_cluster
            WHERE a.vec_id <> p.probe_id),
          ${probeTopKSql("""cand
            JOIN emball p ON p.vec_id = cand.probe_id
            JOIN emball e ON e.vec_id = cand.vec_id""")}"""
  }

  /** DuckDB twin of the FULL IVF-PQ path: the joint codebook training
    * is unrolled — [[PqRounds]] rounds of (assign every (vector,
    * subspace) to its argmin codeword by the order-pinned d2 fold,
    * update each codeword by [[Clustering.updateSql]]) from the
    * k-means seed vectors ([[Clustering.seedCtes]]) — then the encode
    * pass, the per-probe LUT, the ADC sum in pinned sub order (the
    * engine's sort+fold), the top-[[PqShortlist]] shortlist, and the
    * exact float-double re-rank are replayed. Every double either
    * comes from exact integer math or an order-pinned list fold, so
    * the two-stage APPROXIMATE ranking hash-matches end to end. */
  private def pqOracleSql: String = {
    import Clustering.d2Sql
    def asgSql(books: String): String =
      s"""SELECT vec_id, sub, sv, code FROM (
            SELECT v.vec_id, v.sub, v.sv, b.code,
              row_number() OVER (PARTITION BY v.vec_id, v.sub
                ORDER BY ${d2Sql("v.sv", "b.cvec")}, b.code) AS rk
            FROM sv v JOIN $books b ON b.sub = v.sub) WHERE rk = 1"""
    val rounds = (1 to PqRounds).map { r =>
      val prev = if (r == 1) "books0" else s"books${r - 1}"
      s"""pasg$r AS (${asgSql(prev)}),
          books$r AS (${Clustering.updateSql(s"pasg$r", prev, Seq("sub", "code"), "cvec", "sv")})"""
    }.mkString(",\n          ")
    val lastBooks = s"books$PqRounds"
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
          subs AS (SELECT unnest(range($PqM)) AS sub),
          ${Clustering.seedCtes("pseed", "code", "v", PqCodes)},
          books0 AS (
            SELECT s.sub, p.code,
              list_slice(p.v, s.sub * $PqDsub + 1, s.sub * $PqDsub + $PqDsub) AS cvec
            FROM pseed p CROSS JOIN subs s),
          sv AS (
            SELECT e.vec_id, s.sub,
              list_slice(e.embedding, s.sub * $PqDsub + 1, s.sub * $PqDsub + $PqDsub) AS sv
            FROM emb e CROSS JOIN subs s),
          $rounds,
          enc AS (SELECT vec_id, sub, code FROM (${asgSql(lastBooks)})),
          lut AS (
            SELECT v.vec_id AS probe_id, v.sub, b.code,
              ${d2Sql("v.sv", "b.cvec")} AS dlut
            FROM sv v JOIN $lastBooks b ON b.sub = v.sub
            WHERE v.vec_id $ProbeInSql),
          adcs AS (
            SELECT l.probe_id, enc.vec_id,
              round(list_sum(list(l.dlut ORDER BY l.sub)), 6) AS adc
            FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
            WHERE enc.vec_id <> l.probe_id
            GROUP BY l.probe_id, enc.vec_id),
          short AS (
            SELECT probe_id, vec_id, adc FROM (
              SELECT probe_id, vec_id, adc,
                row_number() OVER (PARTITION BY probe_id ORDER BY adc, vec_id) AS ark
              FROM adcs) WHERE ark <= $PqShortlist),
          rer AS (
            SELECT s.probe_id, s.vec_id, s.adc,
              round(${d2Sql("e.embedding", "pe.embedding")}, 6) AS d2
            FROM short s
            JOIN emb e ON e.vec_id = s.vec_id
            JOIN emb pe ON pe.vec_id = s.probe_id)
          SELECT probe_id, rk, vec_id, d2, adc FROM (
            SELECT probe_id, vec_id, d2, adc,
              CAST(row_number() OVER (PARTITION BY probe_id ORDER BY d2, vec_id) AS INT) AS rk
            FROM rer) WHERE rk <= 5 ORDER BY probe_id, rk"""
  }

  /** All-pairs cosine top-5 per probe, recomputed in DOUBLE (DuckDB's
    * list_cosine_similarity is float32) with the same sequential fold
    * Spark's [[graft.functions]] cosine performs — shared by the
    * brute-force key and the exact-mode (nProbe = K) IVF keys, which
    * must produce the identical result set. */
  private val bruteForceTopKSql: String = s"WITH ${probeTopKSql(allPairsSql)}"

  /** DuckDB twin of [[llmSimhash]], generated (not hand-unrolled —
    * r4 ADVICE precedent: literals that must stay in sync with the
    * Spark code are derived from the same constants). Both engines
    * hash a token to the big-endian lower 8 bytes of md5; DuckDB
    * assembles the same two 32-bit hex halves, extracts bits by exact
    * HUGEINT division against a generated 2^j weights table (DuckDB's
    * `<<` overflow-checks at bit 63, so shifts can't build the
    * fingerprint), and converts the final UBIGINT to Spark's signed
    * long by the two's-complement identity. */
  private def simhashOracleSql: String = {
    val wts = (0 until 64)
      .map(j => s"($j, ${java.math.BigInteger.ONE.shiftLeft(j)}::HUGEINT)")
      .mkString(", ")
    def sg(x: String): String =
      s"""CASE WHEN $x >= 9223372036854775808::UBIGINT
            THEN (($x::HUGEINT) - 18446744073709551616::HUGEINT)::BIGINT
            ELSE $x::BIGINT END"""
    val chunks = (0 until 4).map { c =>
      val mask = java.math.BigInteger.valueOf(0xffffL).shiftLeft(16 * c)
      s"${sg(s"(u & $mask::UBIGINT)")} AS chunk$c"
    }.mkString(",\n            ")
    s"""WITH wts(j, wt) AS (VALUES $wts),
          toks AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents),
          hashed AS (
            SELECT doc_id,
              ('0x'||substr(md5(w),17,8))::UBIGINT * 4294967296
                + ('0x'||substr(md5(w),25,8))::UBIGINT AS h
            FROM toks),
          votes AS (
            SELECT doc_id, wt,
              sum(CASE WHEN (h::HUGEINT // wt) % 2 = 1 THEN 1 ELSE -1 END) AS v
            FROM hashed, wts GROUP BY doc_id, wt),
          fp AS (
            SELECT doc_id,
              CAST(sum(CASE WHEN v > 0 THEN wt ELSE 0::HUGEINT END) AS UBIGINT) AS u
            FROM votes GROUP BY doc_id)
          SELECT doc_id, ${sg("u")} AS simhash,
            $chunks
          FROM fp ORDER BY doc_id"""
  }

  /** Oracle of `llm_knn_ivf`, shared by `llm_knn_ivf_pruned20` (the
    * same search at the same nProbe through the pruned layout). */
  private val ivfProbeSql: String = ivfOracleSql(IvfNProbe)

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("llm_knn_cosine", llmKnnCosine, shuffles = 2, bruteForceTopKSql)
      .crossJoinOk("the 5-probe set broadcasts against the corpus scan"),
    KeySpec.batch("llm_knn_ivf", llmKnnIvf, shuffles = 4,
      // the APPROXIMATE default (nProbe = 20) is itself oracled: the
      // quantizer training is unrolled inside the SQL, so the oracle
      // derives the same centroids and replays the same pruned search
      ivfProbeSql)
      .crossJoinOk("probe × centroid broadcast cross")
      .constructionJobsOk("k-means quantizer + partitioned list layout write")
      // stages kmeans centroids + ivf_layout_v1 / pq_books_v1
      .reads("llm_knn_ivf"),
    KeySpec.batch("llm_knn_ivf_exact", llmKnnIvfExact, shuffles = 4,
      // nProbe = K searches every list, so the IVF path must equal the
      // brute-force oracle exactly — same SQL, zero tolerance
      bruteForceTopKSql)
      .crossJoinOk("llm_knn_ivf at nProbe=K — same probe-broadcast shape")
      .constructionJobsOk("same IVF layout path at nProbe=K")
      .reads("llm_knn_ivf"),
    KeySpec.batch("llm_knn_ivf_append", llmKnnIvfAppend, shuffles = 3,
      ivfOracleSql(IvfNProbe, s"WHERE vec_id % 10 <> $IvfAppendMod"))
      .crossJoinOk("keeps llm_knn_ivf's probe × centroid broadcast cross")
      .constructionJobsOk("base-slice quantizer train + base layout " +
        "write + delta append + centroid collect for pruning")
      // stages base-slice quantizer + ivf_append_layout_v1
      .reads("llm_knn_ivf", "llm_knn_ivf_append"),
    KeySpec.batch("llm_knn_ivf_pruned", llmKnnIvfPrunedExact, shuffles = 3,
      // exact mode (nProbe = K) through the partition-filtered layout
      // must also reproduce the brute-force top-k bit-for-bit
      bruteForceTopKSql)
      .crossJoinOk("keeps llm_knn_ivf's probe × centroid broadcast cross")
      .constructionJobsOk("same IVF layout + centroid collect for pruning")
      .reads("llm_knn_ivf"),
    // the APPROXIMATE pruned path (nProbe = IvfNProbe) as a
    // first-class oracled key: the partition-filtered layout read at
    // the production operating point, against the same unrolled-
    // training oracle as llm_knn_ivf — its result is spec-pinned
    // identical, so the SQL twin is shared
    KeySpec.batch("llm_knn_ivf_pruned20", llmKnnIvfPruned, shuffles = 3,
      // the pruned-layout physical path at the same nProbe: identical
      // result by construction (LlmSpec pins it), identical oracle
      ivfProbeSql)
      .crossJoinOk("keeps llm_knn_ivf's probe × centroid broadcast cross")
      .constructionJobsOk("same IVF layout + centroid collect for pruning")
      .reads("llm_knn_ivf"),
    KeySpec.batch("llm_knn_pq", llmKnnPq, shuffles = 4,
      // the APPROXIMATE IVF-PQ two-stage ranking is itself oracled: the
      // codebook training and the pinned-order ADC fold are unrolled in
      // the SQL (see pqOracleSql)
      pqOracleSql)
      .constructionJobsOk("codebook training collects M×K subvector centroids")
      .reads("llm_knn_pq"),
    KeySpec.batch("llm_hybrid_search", llmHybridSearch,
      // +1: Tables.parallelizeKernel's hash repartition of the
      // single-file documents scan ahead of the tokenize + explode
      shuffles = 13,
      // full BM25 + cosine + RRF in SQL — constants mirror the Spark
      // literals verbatim; contributions decimal-summed; ranks order
      // by round-6 scores with doc_id tiebreaks
      s"""WITH docs AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          terms AS (
            SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
            FROM (SELECT doc_id, unnest(w) AS t FROM docs) GROUP BY doc_id, t),
          dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM docs),
          stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
              ${graft.Det.sqlSum2("dl")} / count(*) AS avgdl
            FROM dl),
          dfreq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM terms GROUP BY t),
          q AS (
            SELECT DISTINCT doc_id AS probe_id, t FROM terms
            WHERE doc_id $ProbeInSql),
          contrib AS (
            SELECT q.probe_id, terms.doc_id,
              ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
                (terms.tf * 2.2) /
                (terms.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
            FROM q
            JOIN terms USING (t)
            JOIN dfreq USING (t)
            JOIN dl ON dl.doc_id = terms.doc_id, stats s
            WHERE terms.doc_id <> q.probe_id),
          bm AS (
            SELECT probe_id, doc_id, ${graft.Det.sqlSum6("c")} AS bm25
            FROM contrib GROUP BY probe_id, doc_id),
          lex AS (
            SELECT probe_id, doc_id, lex_rk FROM (
              SELECT probe_id, doc_id, row_number() OVER (
                PARTITION BY probe_id ORDER BY bm25 DESC, doc_id) AS lex_rk
              FROM bm)
            WHERE lex_rk <= 20),
          sims AS (
            SELECT p.vec_id AS probe_id, e.vec_id AS doc_id,
              ${simSql("p.embedding", "e.embedding")} AS sim
            FROM $allPairsSql),
          vec AS (
            SELECT probe_id, doc_id, vec_rk FROM (
              SELECT probe_id, doc_id, row_number() OVER (
                PARTITION BY probe_id ORDER BY sim DESC, doc_id) AS vec_rk
              FROM sims)
            WHERE vec_rk <= 20),
          fused AS (
            SELECT coalesce(l.probe_id, v.probe_id) AS probe_id,
              coalesce(l.doc_id, v.doc_id) AS doc_id,
              coalesce(CAST(1 AS DOUBLE) / (60.0 + CAST(l.lex_rk AS DOUBLE)), CAST(0 AS DOUBLE))
                + coalesce(CAST(1 AS DOUBLE) / (60.0 + CAST(v.vec_rk AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
            FROM lex l FULL OUTER JOIN vec v
              ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id)
          SELECT probe_id,
            CAST(row_number() OVER (PARTITION BY probe_id
              ORDER BY rrf DESC, doc_id) AS INT) AS rk,
            doc_id, round(rrf, 9) AS rrf
          FROM fused
          QUALIFY rk <= 5 ORDER BY probe_id, rk""")
      .crossJoinOk("crosses the 1-row corpus-stats scalar and the 5-probe broadcast"),
    KeySpec.batch("llm_rerank_mmr", llmRerankMmr, shuffles = 3,
      // the greedy MMR loop expressed as a recursive CTE: step k's row
      // per probe is the LATERAL argmax of 0.7·sim − 0.3·max-cos-to-
      // picked over the remaining top-20 pool (picked carried as a
      // list). Candidate sims use the rounded double cosine twin;
      // penalties the unrounded one — exactly the Scala flatMapGroups
      // kernel; final mmr replicates math.rint(m·1e6)/1e6 via
      // round_even at scale 0 (round_even(m, 6) scales differently
      // and diverges by 1 ulp at .5 boundaries).
      s"""WITH RECURSIVE
          cand AS (
            SELECT probe_id, vec_id, sim FROM (
              SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
                ${simSql("p.embedding", "e.embedding")} AS sim,
                row_number() OVER (PARTITION BY p.vec_id
                  ORDER BY ${simSql("p.embedding", "e.embedding")} DESC, e.vec_id) AS rk
              FROM $allPairsSql)
            WHERE rk <= 20),
          pairs AS (
            SELECT c1.probe_id, c1.vec_id AS a, c2.vec_id AS b,
              ${cosSql("e1.embedding", "e2.embedding")} AS cs
            FROM cand c1
            JOIN cand c2 ON c1.probe_id = c2.probe_id AND c1.vec_id <> c2.vec_id
            JOIN embeddings e1 ON e1.vec_id = c1.vec_id
            JOIN embeddings e2 ON e2.vec_id = c2.vec_id),
          sel AS (
            SELECT probe_id, 1 AS rk, vec_id, 0.7 * sim AS mmr, [vec_id] AS picked
            FROM (SELECT probe_id, vec_id, sim,
                    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS r
                  FROM cand) WHERE r = 1
            UNION ALL
            SELECT s.probe_id, s.rk + 1, x.vec_id, x.mmr, list_append(s.picked, x.vec_id)
            FROM sel s, LATERAL (
              SELECT c.vec_id,
                0.7 * c.sim - 0.3 * (SELECT max(p.cs) FROM pairs p
                                     WHERE p.probe_id = c.probe_id AND p.a = c.vec_id
                                       AND list_contains(s.picked, p.b)) AS mmr
              FROM cand c
              WHERE c.probe_id = s.probe_id AND NOT list_contains(s.picked, c.vec_id)
              ORDER BY mmr DESC, c.vec_id LIMIT 1) x
            WHERE s.rk < 5)
          SELECT probe_id, CAST(rk AS BIGINT) AS rk, vec_id,
            round_even(mmr * 1000000.0, 0) / 1000000.0 AS mmr
          FROM sel ORDER BY probe_id, rk""")
      .crossJoinOk("the top-20 stage is llm_hybrid_search's probe cross"),
    // no oracle (adjudicated): DuckDB has no xxhash64, so no SQL
    // twin recomputes the estimates — see llmNearDedup
    KeySpec("llm_near_dedup", llmNearDedup, oracle = None,
      // +7/+3 in r10: shuffle_hash hints on every signature/gram payload
      // attachment (the 300× rung showed SMJ sort-spilling the array
      // payload past local disk) pin those joins as hash exchanges —
      // they no longer fold to broadcasts at audit scale. The payload
      // still moves exactly once per attachment; the extra exchanges
      // ARE the declared plan shape, not a regression.
      shuffleBudget = Some(9))
      .constructionJobsOk("sig + gram frame localCheckpoints (derive once)")
      // stages neardup_pairs_v1
      .reads("llm_near_dedup"),
    KeySpec.batch("llm_near_dedup_exact", llmNearDedupExact, shuffles = 5,
      // the engine's emitted pairs are LSH candidates filtered by exact
      // Jaccard; the oracle recomputes the same seed-independent set as
      // an all-pairs join (affordable for DuckDB at oracle scale).
      // RECALL BOUND (r4 ADVICE): candidate generation is 32 bands × 2
      // rows, so a true pair at Jaccard J is missed with probability
      // (1−J²)³². At the J=0.5 threshold that is ~1e-4 per pair; the
      // current corpus' near-dup pairs sit well above threshold
      // (planted dups J≈1), where the miss probability is ≈0. If this
      // oracle ever goes red on a REGENERATED corpus, check first for
      // a borderline pair at J≈0.5 — that is a banding miss, not an
      // engine bug; the fix is more bands, not a logic change. The
      // same bound applies to llm_dedup_cluster's edge set below.
      """WITH sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(len(string_split(text,' '))-1),
               i -> string_split(text,' ')[i+1] || '_' || string_split(text,' ')[i+2])) AS grams
           FROM documents)
         SELECT a, b, round(j, 6) AS exact_jaccard FROM (
           SELECT x.doc_id AS a, y.doc_id AS b,
             CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
               / len(list_distinct(x.grams || y.grams)) AS j
           FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
         WHERE j >= 0.5 ORDER BY a, b""")
      .constructionJobsOk("sig + gram frame localCheckpoints (derive once)")
      .reads("llm_near_dedup"),
    KeySpec.batch("llm_dedup_cluster", llmDedupCluster, shuffles = 2,
      // connected components over the seed-free exact pair set as a
      // recursive reachability closure: every doc reaches every label
      // in its component (UNION dedups, so the closure terminates);
      // min reachable id = the propagation fixpoint the Spark loop
      // computes. Affordable at oracle scale (component² rows, and
      // dup components are small).
      """WITH RECURSIVE sh AS (
           SELECT doc_id,
             list_distinct(list_transform(range(len(string_split(text,' '))-1),
               i -> string_split(text,' ')[i+1] || '_' || string_split(text,' ')[i+2])) AS grams
           FROM documents),
         prs AS (
           SELECT a, b FROM (
             SELECT x.doc_id AS a, y.doc_id AS b,
               CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
                 / len(list_distinct(x.grams || y.grams)) AS j
             FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
           WHERE j >= 0.5),
         edges AS (SELECT a AS x, b AS y FROM prs UNION ALL SELECT b, a FROM prs),
         reach AS (
           SELECT doc_id AS doc, doc_id AS lab FROM documents
           UNION
           SELECT e.x AS doc, r.lab FROM edges e JOIN reach r ON r.doc = e.y),
         labels AS (SELECT doc, min(lab) AS cluster_id FROM reach GROUP BY doc)
         SELECT doc AS doc_id, cluster_id,
           CAST(CASE WHEN row_number() OVER (PARTITION BY cluster_id ORDER BY doc) = 1
                THEN 1 ELSE 0 END AS INT) AS keep
         FROM labels ORDER BY doc_id""")
      .constructionJobsOk("label-propagation rounds converge via count()")
      .reads("llm_near_dedup"),
    KeySpec.batch("llm_simhash", llmSimhash, shuffles = 2, simhashOracleSql),
    KeySpec.batch("llm_ngram_jaccard", llmNgramJaccard, shuffles = 3,
      """WITH sh AS (
           SELECT doc_id, source,
             list_distinct(list_transform(range(len(string_split(text,' '))-1),
               i -> string_split(text,' ')[i+1] || '_' || string_split(text,' ')[i+2])) AS grams
           FROM documents)
         SELECT a, b, source, jaccard FROM (
           SELECT x.doc_id AS a, y.doc_id AS b, x.source AS source,
             CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
               / len(list_distinct(x.grams || y.grams)) AS jaccard
           FROM sh x JOIN sh y ON x.source = y.source AND x.doc_id < y.doc_id)
         WHERE jaccard >= 0.3 ORDER BY a, b""")
      // the gram/signature frame feeds candidate generation AND both
      // verify-side attachments; checkpointing it once replaced 4-6
      // re-scans + native-kernel re-evaluations per query (the
      // llm_source_drift / unigram precedent). The construction job is
      // that single materialization pass.
      .constructionJobsOk("gram frame localCheckpoint (derive once, 6 scans -> 1)"),
    KeySpec.batch("llm_containment", llmContainment, shuffles = 3,
      """WITH sh AS (
           SELECT doc_id, source,
             list_distinct(list_transform(range(len(string_split(text,' '))-1),
               i -> string_split(text,' ')[i+1] || '_' || string_split(text,' ')[i+2])) AS grams
           FROM documents)
         SELECT a, b, source, containment FROM (
           SELECT x.doc_id AS a, y.doc_id AS b, x.source AS source,
             CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
               / len(x.grams) AS containment
           FROM sh x JOIN sh y ON x.source = y.source AND x.doc_id <> y.doc_id)
         WHERE containment >= 0.5 ORDER BY a, b""")
      .constructionJobsOk("gram frame localCheckpoint (derive once, 5 scans -> 1)"),
    KeySpec.batch("llm_embed_neardup", llmEmbedNeardup, shuffles = 3,
      s"""SELECT a, b, label, cos_sim FROM (
           SELECT x.vec_id AS a, y.vec_id AS b, x.label AS label,
             ${simSql("x.embedding", "y.embedding")} AS cos_sim
           FROM embeddings x JOIN embeddings y
             ON x.label = y.label AND x.vec_id < y.vec_id)
         WHERE cos_sim >= 0.3 ORDER BY a, b""")
      .constructionJobsOk("k-means cells + K-row radius agg + cell-pair " +
        "pruning on the driver (all K-bounded); assignment localCheckpoint"),
    KeySpec.batch("llm_semantic_decontaminate", llmSemanticDecontaminate, shuffles = 2,
      s"""WITH ev AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id % 10 = 0 ORDER BY vec_id LIMIT 100)
          SELECT t.vec_id, count(*) AS n_eval_hits, max(sim) AS max_sim
          FROM (
            SELECT t.vec_id,
              ${simSql("t.embedding", "e.embedding")} AS sim
            FROM embeddings t JOIN ev e ON t.vec_id % 10 <> 0) t
          WHERE sim >= 0.4
          GROUP BY t.vec_id ORDER BY t.vec_id""")
      .crossJoinOk("crosses the broadcast benchmark-sized eval slice against the corpus " +
        "scan — eval sets stay small no matter how big the corpus, the same " +
        "justification as knn probes"),
    KeySpec.batch("llm_multimodal_join", llmMultimodalJoin, shuffles = 1,
      """SELECT doc_id, lang, label,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS emb_sum,
           round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS emb_norm
         FROM documents JOIN embeddings ON doc_id = vec_id
         WHERE label < 5 AND n_chars > 200
         ORDER BY doc_id"""))
}
