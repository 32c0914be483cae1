package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{KeySpec, QFn, Tables}
import graft.functions.CosineSimF

/** PORTABLE locality-sensitive hashing — the two LSH families whose
  * APPROXIMATE output is itself DuckDB-reproducible, closing the last
  * conceptual gap between "approximate by design" and "hash-verified":
  *
  *  - [[llmKnnSignLsh]] `llm_knn_signlsh`: random-hyperplane (sign)
  *    LSH over the embedding column — the brief's "LSH-bucketed
  *    variant as the scale path" for similarity search, complementing
  *    the IVF family. Hyperplanes are ±1-weight vectors fixed in
  *    [[SignPlanes]]; dots run in exact integer micro-units
  *    (`floor(x·1e6)`, the same quantization the k-means / centroid
  *    keys use), so the bucket codes — and therefore the candidate
  *    set and the final top-k — are bit-identical in any engine and
  *    under any partitioning / summation order. The full pipeline
  *    (code → bucket join → exact cosine re-rank) has a driver
  *    oracle; recall vs the brute-force truth is measured in
  *    LlmLshSpec.
  *
  *  - [[llmMinhashPortable]] `llm_minhash_portable`: the MinHash+LSH
  *    near-dedup pipeline of `llm_near_dedup`, re-based on md5 gram
  *    hashing (the `llm_simhash` trick) and 64 fixed linear
  *    permutations over the Mersenne prime 2³¹−1, so the SIGNATURES —
  *    and hence the banding candidates and the estimated Jaccard —
  *    are reproducible in DuckDB SQL. `llm_near_dedup` keeps the
  *    native codegen'd signature path as the fast production twin
  *    (same algorithm, engine-specific hash); this key is the
  *    hash-verified contract for the estimate itself.
  *
  * Scale notes (100 TB): both keys are bucket-join shaped — the
  * corpus is scanned once to produce narrow (id, bucket) rows, joins
  * run on bucket equality (probes broadcast for the ANN key), and
  * nothing enumerates all pairs. The portable signature runs the same
  * native one-pass kernels as `llm_near_dedup`: the one bigram-hash
  * expression [[graft.functions.HashedBigrams]] (its md5 form) feeding
  * [[graft.functions.MinhashSigs]], so portability costs only the
  * gram hash.
  *
  * The near-duplicate pipeline's shared steps are stated once here and
  * used by the MinHash, pHash and gram-set keys of LlmSimilarity and
  * Multimodal too: the banded candidate join ([[bandCandidates]]),
  * the signature-agreement estimate ([[sigAgreement]]), the exact
  * hashed-gram Jaccard ([[gramJaccard]]), the permutation constants
  * ([[minhashPerms]]) and the delta-vs-base/prior verdict table
  * ([[deltaVerdicts]]). Each family keeps its own band-key builder.
  *
  * r9 round audit note: round(sim/est, 4|6) retained (not Det.fq) for
  * the same reason as LlmSimilarity — fold orders are engineered
  * bit-identical across engines, values sit nowhere near decimal
  * grids, and round buys ulp absorption if a dialect ever reorders a
  * list fold.
  */
object LlmLsh {

  // ---------------------------------------------------- sign-LSH ANN

  /** 64 hyperplanes = 8 groups × 8 bits; ±1 weights per dimension,
    * fixed by seed. Emitted verbatim into BOTH the Spark literal and
    * the oracle's VALUES table, so the two engines share constants by
    * construction. */
  private val SignGroups = 8
  private val SignBits = 8
  private val SignPlanes: Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(2026)
    Seq.fill(SignGroups * SignBits)(Seq.fill(64)(if (rnd.nextBoolean()) 1 else -1))
  }

  /** (vec_id, embedding, g, code): the 8 group codes per vector, each
    * an 8-bit integer whose bit j is sign(⟨vq, plane⟩ ≥ 0) — vq the
    * micro-unit quantized embedding, so every dot is an exact integer
    * and the code is summation-order independent. One narrow pass
    * over the corpus (all 64 dots in ONE native codegen'd projection,
    * [[graft.functions.SignLshCodes]]); 8 rows out per vector. */
  private def signCodes(emb: DataFrame): DataFrame = {
    val vq = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val codes = graft.functions.SignLshCodes(col("vq"),
      SignPlanes.flatten.toArray, dims = 64, groups = SignGroups, bits = SignBits)
    emb.withColumn("vq", vq)
      .withColumn("codes", codes)
      .select(col("vec_id"), col("embedding"),
        posexplode(col("codes")).as(Seq("g", "code")))
  }

  /** Deduped (probe_id, vec_id) bucket-collision candidates — the
    * measured scan set (spec gates its size: LSH must score a small
    * corpus fraction, not rediscover brute force). */
  private[graft] def signCandidates(s: SparkSession, d: String): DataFrame = {
    val codes = signCodes(Tables.embeddings(s, d))
    val probes = codes.filter(col("vec_id").isin(LlmSimilarity.ProbeIds: _*))
      .select(col("vec_id").as("probe_id"), col("g"), col("code"))
    codes.join(broadcast(probes), Seq("g", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
  }

  /** Sign-LSH bucketed cosine top-5 for the 5 probe vectors: probes'
    * (g, code) rows broadcast against the corpus codes, candidate ids
    * deduped NARROW (16-byte rows) before the embedding re-join, then
    * the exact codegen'd cosine re-rank — identical output columns to
    * `llm_knn_cosine`, but each probe scores only its bucket
    * collisions instead of the whole corpus. Deterministic end to
    * end, so the approximate result itself is the oracle contract.
    *
    * HONEST RECALL CONTRACT: 8 groups × 8 bits collide a pair with
    * p = 1 − (1 − (1 − θ/π)⁸)⁸ — near-certain for high-similarity
    * twins (cos ≥ 0.9 → p ≥ 0.98) at a ~3–4% measured scan fraction,
    * but deliberately blind to WEAK neighbors (this corpus' brute
    * top-5 sit at cos ≈ 0.2–0.3, where p ≈ 0.1–0.3 — measured
    * recall@5 0.08–0.28 across sf0.001–sf0.1). That asymmetry is the
    * device: sign-LSH is the bucketed scale path for near-duplicate /
    * high-similarity retrieval (LlmLshSpec plants cos ≈ 0.999 twins
    * and gates rank-1 retrieval at a ≤ 15% scan); for
    * moderate-similarity top-k the data-adaptive IVF family
    * (`llm_knn_ivf*`) is the production path. */
  val llmKnnSignLsh: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cands = signCandidates(s, d)
    val probeVecs = emb.filter(col("vec_id").isin(LlmSimilarity.ProbeIds: _*))
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id"))
    cands.join(emb, "vec_id")
      .join(broadcast(probeVecs), "probe_id")
      .withColumn("sim", round(CosineSimF(col("probe_vec"), col("embedding")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("probe_id", "rk", "vec_id", "sim")
      .orderBy("probe_id", "rk")
  }

  /** Oracle: same planes (as ±-strings, expanded per dimension), same
    * micro-unit integer dots, same bucket join, same double cosine
    * re-rank (sequential list_sum fold = the codegen'd loop). */
  private def signLshOracleSql: String = {
    val pw = SignPlanes.zipWithIndex
      .map { case (ws, pl) =>
        s"($pl, '${ws.map(w => if (w > 0) "+" else "-").mkString}')"
      }
      .mkString(", ")
    s"""WITH pw(pl, ws) AS (VALUES $pw),
          dims AS (SELECT unnest(range(64)) AS i),
          q AS (
            SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS vq
            FROM embeddings),
          dots AS (
            SELECT q.vec_id, pw.pl,
              sum(vq[dims.i + 1] *
                (CASE WHEN substr(pw.ws, dims.i + 1, 1) = '+' THEN 1 ELSE -1 END)) AS dot
            FROM q, pw, dims GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, pl // 8 AS g,
              sum(CASE WHEN dot >= 0 THEN (1 << (pl % 8)) ELSE 0 END) AS code
            FROM dots GROUP BY 1, 2),
          cand AS (
            SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS vec_id
            FROM codes p JOIN codes c ON p.g = c.g AND p.code = c.code
              AND c.vec_id <> p.vec_id
            WHERE p.vec_id IN (1, 2, 3, 4, 5)),
          sims AS (
            SELECT cand.probe_id, cand.vec_id,
              round(
                list_sum(list_transform(range(64), i -> CAST(p.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(range(64), i -> CAST(p.embedding[i+1] AS DOUBLE) * CAST(p.embedding[i+1] AS DOUBLE))))
                   * sqrt(list_sum(list_transform(range(64), i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE))))), 6) AS sim
            FROM cand
            JOIN embeddings p ON p.vec_id = cand.probe_id
            JOIN embeddings e ON e.vec_id = cand.vec_id)
          SELECT probe_id, rk, vec_id, sim FROM (
            SELECT probe_id, vec_id, sim,
              CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS INT) AS rk
            FROM sims)
          WHERE rk <= 5 ORDER BY probe_id, rk"""
  }

  // ------------------------------------------------ portable MinHash

  private[operators] val MinhashPerms = 64
  private[operators] val MinhashBands = 16 // 16 bands × 4 rows
  private[operators] val MersennePrime = 2147483647L // 2^31−1

  /** [[MinhashPerms]] fixed (a, b) permutation constants drawn from
    * `seed`, a ∈ [1, P), b ∈ [0, P) for P = [[MersennePrime]].
    * a·h ≤ 2³¹·2³¹ = 2⁶² — no 64-bit overflow in either engine. */
  private[operators] def minhashPerms(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(MinhashPerms)(
      (rnd.nextInt(Int.MaxValue - 1).toLong + 1L, rnd.nextInt(Int.MaxValue).toLong))
  }

  private val permConsts = minhashPerms(2027)

  /** (doc_id, hs, sig): hs the distinct md5-hashed word-bigram set
    * (lower 4 md5 bytes mod P — reproducible anywhere md5 exists),
    * sig the 64-perm MinHash signature min((a·h + b) mod P), computed
    * by the SAME native one-pass [[graft.functions.MinhashSigs]]
    * kernel `llm_near_dedup` uses — only the gram hash feeding it
    * differs (portable md5 vs the engine-native xxhash64). */
  private def portableSignatures(s: SparkSession, d: String): DataFrame =
    portableSignaturesOn(Tables.documents(s, d))

  /** The signature kernel over ANY (doc_id, text) frame — factored so
    * the distinct-payload scale probe (MinhashScaleSpec) drives the
    * PRODUCTION pipeline, not a copy (the PhashScaleSpec lesson, r11
    * ADVICE). */
  private[graft] def portableSignaturesOn(docs: DataFrame): DataFrame = {
    val (as, bs) = permConsts.unzip
    // HashedBigrams.md5 → MinhashSigs: both native codegen'd one-pass
    // kernels (llm_near_dedup's chain with the portable gram hash);
    // the composed md5 HOF pipeline measured 10× slower at sf0.1
    docs
      .withColumn("hs", graft.functions.HashedBigrams.md5(col("text"), MersennePrime))
      .filter(size(col("hs")) > 0)
      .withColumn("sig",
        graft.functions.MinhashSigs(col("hs"), as.toArray, bs.toArray, MersennePrime))
      .select("doc_id", "hs", "sig")
  }

  /** Band-key rows (doc_id, band, band_key) of a signature frame —
    * the exact banding the candidate join buckets on, public to the
    * probe so its bucket statistics measure the production extraction
    * rather than a re-derived slice expression. */
  private[graft] def minhashBandKeys(sigs: DataFrame): DataFrame = {
    val rows = MinhashPerms / MinhashBands
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(MinhashBands - 1)),
        b => concat_ws("_", transform(slice(col("sig"), b * rows + 1, lit(rows)),
          x => x.cast("string"))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  /** Banding + estimate + exact-Jaccard verify over ANY signature
    * frame — the tail of [[llmMinhashPortable]], factored for the
    * scale probe (same production-path reuse as Multimodal.phashPairs). */
  private[graft] def minhashPairsOn(sigs0: DataFrame): DataFrame = {
    // localCheckpoint (r14): sigs feed the band keys and both verify
    // attachments — three gram-hash + MinhashSigs derivations over
    // every doc without it; derive once (same-window A/B in
    // OPTIMIZATION_r14.md)
    val sigs = sigs0.localCheckpoint()
    val keys = minhashBandKeys(sigs)
    bandCandidates(keys, keys, "band_key", ("a", "b"), Some(_ < _))
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sa"), col("hs").as("ga")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sb"), col("hs").as("gb")), "b")
      .withColumn("est_jaccard", sigAgreement(col("sa"), col("sb")))
      .filter(col("est_jaccard") >= 0.35)
      .withColumn("shared", graft.functions.IntersectCount(col("ga"), col("gb")))
      .select(col("a"), col("b"), round(col("est_jaccard"), 4).as("est_jaccard"),
        round(gramJaccard(col("shared"), col("ga"), col("gb")), 6).as("exact_jaccard"))
      .orderBy("a", "b")
  }

  /** Distinct (l, r) doc-id pairs of two band-row frames — each
    * (doc_id, band, `key`) — that agree on some band's key: the banded
    * candidate join every LSH family in the package runs (xxhash'd
    * slice keys in `llm_near_dedup`, the portable slice strings here,
    * pHash bit bands in Multimodal; each builds its own keys).
    * `idOrder`, when given, further restricts (x.doc_id, y.doc_id) —
    * the id rule of a self-join. Pairs are deduped FIRST (cheap
    * 16-byte rows) so the signature / gram payloads never go through
    * the distinct's shuffle. */
  private[operators] def bandCandidates(x: DataFrame, y: DataFrame, key: String,
      names: (String, String),
      idOrder: Option[(Column, Column) => Column] = None): DataFrame = {
    val onBand = col("x.band") === col("y.band") && col(s"x.$key") === col(s"y.$key")
    x.as("x").join(y.as("y"),
        idOrder.fold(onBand)(o => onBand && o(col("x.doc_id"), col("y.doc_id"))))
      .select(col("x.doc_id").as(names._1), col("y.doc_id").as(names._2))
      .distinct()
  }

  /** MinHash estimate of J(A, B): the share of positions at which two
    * [[MinhashPerms]]-long signatures agree. matches / 64 is an exact
    * binary fraction, so gates and rounding agree across engines. */
  private[operators] def sigAgreement(sa: Column, sb: Column): Column =
    aggregate(zip_with(sa, sb, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / lit(MinhashPerms.toDouble)

  /** Exact Jaccard of two distinct hashed-gram sets from their
    * intersection size: |A∪B| = |A| + |B| − |A∩B| on distinct sets,
    * so one IntersectCount (`shared`) gives both counts. */
  private[operators] def gramJaccard(shared: Column, ga: Column, gb: Column): Column =
    shared.cast("double") / (size(ga) + size(gb) - shared)

  /** Portable MinHash+LSH near-dedup: band buckets (16×4, keys the
    * raw signature slices — no engine hash), deduped candidate pairs,
    * estimated Jaccard = matching positions / 64 gated at ≥ 0.35,
    * exact hashed-gram Jaccard alongside. Same output shape as
    * `llm_near_dedup`; unlike it, every value here — including the
    * ESTIMATE — hash-matches the DuckDB oracle. */
  val llmMinhashPortable: QFn = (s, d) =>
    minhashPairsOn(portableSignatures(s, d))

  /** Oracle: the same pipeline in DuckDB — md5 gram hashes, the same
    * 64 (a, b) constants via a VALUES table, min-per-perm signatures,
    * slice-string band keys, matches/64 estimate, hashed-gram exact
    * Jaccard. matches/64 is an exact binary fraction, so the ≥ 0.35
    * gate and round(·, 4) agree bit-for-bit across engines. */
  private def minhashPortableOracleSql: String =
    s"""WITH $permsCte,
          ${minhashCtes("documents")},
          cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bk x JOIN bk y
              ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
          est AS (
            SELECT c.a, c.b,
              CAST(sum(CASE WHEN sa.mv = sb.mv THEN 1 ELSE 0 END) AS DOUBLE)
                / ${MinhashPerms}.0 AS ej
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.a
            JOIN sig sb ON sb.doc_id = c.b AND sb.pi = sa.pi
            GROUP BY 1, 2),
          hsets AS (SELECT doc_id, list(hv) AS hv_set FROM h0 GROUP BY 1)
          SELECT est.a, est.b, round(ej, 4) AS est_jaccard,
            round(CAST(len(list_intersect(x.hv_set, y.hv_set)) AS DOUBLE)
              / (len(x.hv_set) + len(y.hv_set)
                 - len(list_intersect(x.hv_set, y.hv_set))), 6) AS exact_jaccard
          FROM est
          JOIN hsets x ON x.doc_id = est.a
          JOIN hsets y ON y.doc_id = est.b
          WHERE ej >= 0.35 ORDER BY est.a, est.b"""

  /** The oracles' `perms` CTE: the same 64 (a, b) constants the engine
    * runs, as a VALUES table. */
  private def permsCte: String = {
    val perms = permConsts.zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"perms(pi, a, b) AS (VALUES $perms)"
  }

  /** The oracles' md5 → MinHash → band-key CTE chain over `src`'s
    * (doc_id, text): toks, g (distinct word bigrams), h0 (md5 gram
    * hashes mod P), sig (min per perm, after [[permsCte]]) and bk (the
    * 16×4 slice-string band keys). */
  private def minhashCtes(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
          g AS (
            SELECT doc_id,
              unnest(list_distinct(list_transform(range(len(w) - 1),
                i -> w[i+1] || '_' || w[i+2]))) AS gram
            FROM toks WHERE len(w) >= 2),
          h0 AS (
            SELECT DISTINCT doc_id,
              ('0x' || substr(md5(gram), 25, 8))::UBIGINT::BIGINT % $MersennePrime AS hv
            FROM g),
          sig AS (
            SELECT doc_id, perms.pi, min((perms.a * hv + perms.b) % $MersennePrime) AS mv
            FROM h0, perms GROUP BY 1, 2),
          bk AS (
            SELECT doc_id, pi // 4 AS band,
              string_agg(mv::VARCHAR, '_' ORDER BY pi) AS key
            FROM sig GROUP BY 1, 2)"""

  // ------------------------------------ ingestion-mode near-dedup

  /** Base/delta source split shared with `llm_incremental_dedup`
    * (LlmCorpus.scala): sources 0–15 are the pre-existing corpus,
    * 16+ are the ingest batch being checked. */
  private val NeardupSplit = 16

  /** Near-duplicate DECISION gate: exact hashed-gram Jaccard ≥ 0.5
    * on banding candidates that already passed the cheap signature
    * estimate (≥ 0.35, the family's banding recall point). The
    * estimate prunes candidates from 64 ints; the exact verify reads
    * gram sets only for survivors — the two-stage cost shape a 100 TB
    * verify step needs. */
  private val NeardupExactJaccard = 0.5

  /** INGESTION-MODE near-dedup index (r12 verdict #1) — the third leg
    * of the production ingestion triptych (`llm_incremental_dedup`
    * checks exact lead fingerprints, `llm_knn_ivf_append` maintains
    * ANN lists; this persists the MinHash BANDING index a crawl
    * pipeline checks each day's delta against). Content-keyed like
    * the IVF layouts ([[graft.IndexStore.cachedDir]]); two parquet
    * components under one atomic publication:
    *
    *  - `keys/`: the exploded (doc_id, band, band_key) rows — the
    *    narrow index (16 short rows per document) the candidate
    *    equi-join buckets on; at 100 TB this is the only base-side
    *    table the daily check shuffles, never document bodies.
    *  - `sigs/`: the (doc_id, hs, sig) signature store — read only
    *    by the verify step, and only for candidate doc_ids.
    */
  def neardupIndexPath(s: SparkSession, d: String): String = {
    val fp = graft.IndexStore.fingerprint(s"$d/documents.parquet")
    graft.IndexStore.cachedDir(s"neardup_band_index_v1_$fp") { tmp =>
      val sigs = portableSignaturesOn(
        Tables.documents(s, d).filter(LlmCorpus.srcNum < NeardupSplit))
      sigs.write.mode("overwrite").parquet(s"$tmp/sigs")
      minhashBandKeys(sigs).write.mode("overwrite").parquet(s"$tmp/keys")
    }
  }

  /** The verdict kernel over a delta slice vs a base index — factored
    * so the registered key (stored index) and the spec's one-shot
    * comparator (fresh signatures over the union) run the SAME
    * decision logic, making IncrementalNeardupSpec a pure test of the
    * index persistence/roundtrip, the IvfAppendSpec pattern. The
    * verify estimates from signatures first (64-int compare) and
    * computes the exact hashed-gram Jaccard only on estimate
    * survivors. */
  private[graft] def incrementalNeardupOn(
      deltaDocs: DataFrame, deltaSigs: DataFrame,
      baseKeys: DataFrame, baseSigs: DataFrame): DataFrame =
    deltaVerdicts(deltaDocs, minhashBandKeys(deltaSigs), deltaSigs,
      baseKeys, baseSigs, "band_key",
      (sigs, id, t) => sigs.select(col("doc_id").as(id),
        col("sig").as(s"s$t"), col("hs").as(s"g$t")),
      _.withColumn("est", sigAgreement(col("sa"), col("sb")))
        .filter(col("est") >= 0.35)
        .withColumn("shared", graft.functions.IntersectCount(col("ga"), col("gb")))
        .filter(gramJaccard(col("shared"), col("ga"), col("gb")) >= NeardupExactJaccard))

  /** The delta-vs-base/prior verdict table of the ingestion near-dedup
    * keys (`llm_incremental_neardup` here, `mm_phash_incremental` in
    * Multimodal). Candidates are [[bandCandidates]] on `key`: each
    * delta doc against the base band index, and against every
    * lower-id delta doc. `side(frame, id, tag)` projects a payload
    * frame (doc_id + payload) to `id` and its payload columns tagged
    * `tag`; `verified` keeps the candidate rows — did with tag "a",
    * oid with tag "b" — that truly match.
    *
    * Decision contract (order-free, non-transitive, so it needs no
    * iteration and replays identically in any engine): a delta doc is
    * dropped iff it near-matches ANY base doc, or ANY lower-doc_id
    * delta doc; `dup_of` reports the lowest matching id across both
    * families, `kept` the survivor flag. */
  private[operators] def deltaVerdicts(deltaDocs: DataFrame,
      deltaBands: DataFrame, deltaPay: DataFrame,
      baseBands: DataFrame, basePay: DataFrame, key: String,
      side: (DataFrame, String, String) => DataFrame,
      verified: DataFrame => DataFrame): DataFrame = {
    def dups(cands: DataFrame, otherPay: DataFrame, name: String): DataFrame =
      verified(cands
        .join(side(deltaPay, "did", "a"), "did")
        .join(side(otherPay, "oid", "b"), "oid"))
        .groupBy("did").agg(min(col("oid")).as("dup"))
        .select(col("did").as("doc_id"), col("dup").as(name))
    val candBase = bandCandidates(deltaBands, baseBands, key, ("did", "oid"))
    val candPrior = bandCandidates(deltaBands, deltaBands, key, ("did", "oid"),
      Some((x, y) => y < x))
    deltaDocs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(dups(candBase, basePay, "dup_base"), Seq("doc_id"), "left")
      .join(dups(candPrior, deltaPay, "dup_prior"), Seq("doc_id"), "left")
      // explicit CASE, not bare least(): engines disagree on whether
      // least() skips or propagates NULL, so neither side relies on it
      .withColumn("dup_of",
        when(col("dup_base").isNotNull && col("dup_prior").isNotNull,
          least(col("dup_base"), col("dup_prior")))
          .otherwise(coalesce(col("dup_base"), col("dup_prior"))))
      .withColumn("kept", when(col("dup_of").isNull, 1).otherwise(0))
      .select("doc_id", "source", "n_chars", "dup_of", "kept")
      .orderBy("doc_id")
  }

  /** `llm_incremental_neardup`: the delta slice (sources 16+) banded
    * against the STORED base index — signatures computed only for the
    * delta, base side read back from [[neardupIndexPath]]. Verdict
    * per delta doc: (doc_id, source, n_chars, dup_of, kept). */
  val llmIncrementalNeardup: QFn = (s, d) => {
    val path = neardupIndexPath(s, d)
    val delta = Tables.documents(s, d).filter(LlmCorpus.srcNum >= NeardupSplit)
    incrementalNeardupOn(delta, portableSignaturesOn(delta),
      s.read.parquet(s"$path/keys"), s.read.parquet(s"$path/sigs"))
  }

  /** One-shot comparator (spec only): the same verdict with base
    * signatures computed FRESH in this session — no stored index.
    * Key ≡ one-shot is the index-persistence contract
    * (IncrementalNeardupSpec). */
  private[graft] def incrementalNeardupOneShot(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val baseSigs = portableSignaturesOn(docs.filter(LlmCorpus.srcNum < NeardupSplit))
    val delta = docs.filter(LlmCorpus.srcNum >= NeardupSplit)
    incrementalNeardupOn(delta, portableSignaturesOn(delta),
      minhashBandKeys(baseSigs), baseSigs)
  }

  /** Oracle: the full pipeline replayed in DuckDB over the same
    * base/delta WHERE split — md5 gram hashes, the shared perm
    * constants, banding, estimate gate, exact hashed-gram Jaccard
    * gate, min-id verdicts. Both gates compare exact binary fractions
    * / correctly-rounded single divisions, so the decision — and the
    * whole verdict table — hash-matches. */
  private def incrementalNeardupOracleSql: String =
    s"""WITH $permsCte,
          tagged AS (
            SELECT doc_id, source, n_chars, text,
              TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT) AS src_num
            FROM documents),
          ${minhashCtes("tagged")},
          base_ids AS (SELECT doc_id FROM tagged WHERE src_num < $NeardupSplit),
          delta AS (SELECT doc_id, source, n_chars FROM tagged
                    WHERE src_num >= $NeardupSplit),
          hsets AS (SELECT doc_id, list(hv) AS hv_set FROM h0 GROUP BY 1),
          cand AS (
            SELECT DISTINCT x.doc_id AS did, y.doc_id AS oid, 0 AS kind
            FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key
            JOIN delta dd ON dd.doc_id = x.doc_id
            JOIN base_ids bb ON bb.doc_id = y.doc_id
            UNION ALL
            SELECT DISTINCT x.doc_id, y.doc_id, 1
            FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key
              AND y.doc_id < x.doc_id
            JOIN delta dd ON dd.doc_id = x.doc_id
            JOIN delta d2 ON d2.doc_id = y.doc_id),
          est AS (
            SELECT c.did, c.oid, c.kind,
              CAST(sum(CASE WHEN sa.mv = sb.mv THEN 1 ELSE 0 END) AS DOUBLE)
                / ${MinhashPerms}.0 AS ej
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.did
            JOIN sig sb ON sb.doc_id = c.oid AND sb.pi = sa.pi
            GROUP BY 1, 2, 3),
          ver AS (
            SELECT e.did, e.oid, e.kind
            FROM est e
            JOIN hsets hx ON hx.doc_id = e.did
            JOIN hsets hy ON hy.doc_id = e.oid
            WHERE e.ej >= 0.35
              AND CAST(len(list_intersect(hx.hv_set, hy.hv_set)) AS DOUBLE)
                / CAST(len(hx.hv_set) + len(hy.hv_set)
                    - len(list_intersect(hx.hv_set, hy.hv_set)) AS DOUBLE)
                >= $NeardupExactJaccard),
          dup_base AS (
            SELECT did, min(oid) AS dup_base FROM ver WHERE kind = 0 GROUP BY 1),
          dup_prior AS (
            SELECT did, min(oid) AS dup_prior FROM ver WHERE kind = 1 GROUP BY 1)
          SELECT d.doc_id, d.source, d.n_chars,
            CASE WHEN b.dup_base IS NOT NULL AND p.dup_prior IS NOT NULL
                 THEN least(b.dup_base, p.dup_prior)
                 ELSE coalesce(b.dup_base, p.dup_prior) END AS dup_of,
            CASE WHEN b.dup_base IS NULL AND p.dup_prior IS NULL
                 THEN 1 ELSE 0 END AS kept
          FROM delta d
          LEFT JOIN dup_base b ON b.did = d.doc_id
          LEFT JOIN dup_prior p ON p.did = d.doc_id
          ORDER BY d.doc_id"""

  // ---------------------------------------------------- registration

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("llm_knn_signlsh", llmKnnSignLsh,
      // sign-LSH: candidate distinct + window top-k + final sort
      // (probes broadcast, codes a per-row projection)
      shuffles = 3, signLshOracleSql),
    KeySpec.batch("llm_minhash_portable", llmMinhashPortable,
      // band-bucket self-join feeding the pair distinct
      // (signature joins fold to broadcasts at audit scale)
      shuffles = 2, minhashPortableOracleSql)
      .constructionJobsOk("signature frame localCheckpoint (derive once, 3 scans -> 1)"),
    KeySpec.batch("llm_incremental_neardup", llmIncrementalNeardup,
      // ingestion near-dedup: 2 candidate distincts (vs stored index,
      // vs prior delta) + 2 verdict groupBys + the delta/verdict join +
      // presentation sort — every shuffle on narrow key/id rows; the
      // base side arrives pre-signed from the stored index
      shuffles = 6, incrementalNeardupOracleSql)
      .constructionJobsOk("first touch of new content stages the " +
        "base corpus's MinHash banding index (band keys + signature store) " +
        "it then bands the delta against — the persisted index IS the key")
      // stages neardup_band_index_v1
      .reads("llm_incremental_neardup"))
}
