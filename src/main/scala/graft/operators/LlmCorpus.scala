package graft.operators

import graft.{KeySpec, QFn, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics operators (round 8, session 5): collocation
  * extraction (PMI-ranked bigrams) and document-frequency vocabulary
  * pruning — the two corpus-analysis passes a tokenizer/filtering
  * pipeline runs before training, on top of the counting machinery
  * `llm_ngram_lm` / `llm_tfidf` already exercise.
  *
  * Determinism: both keys avoid `log`/float aggregation entirely.
  * Counts are exact integers; each ranking score is ONE double
  * expression over those integers, quantized with the `floor(x·1e6)`
  * micro-unit recipe (IEEE multiply/divide are correctly rounded, so
  * any engine computes the identical double and the identical
  * floor).
  */
object LlmCorpus {

  private val words = split(col("text"), " ")

  /** The number in a document's `source`: sources below 16 are the
    * base corpus and the rest the delta, for every incremental
    * ingestion key. */
  private[operators] val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")

  /** COLLOCATIONS — top-50 bigrams by pointwise mutual information.
    * One corpus pass through the native `bigram_pairs` generator
    * (no per-row UDF, no second tokenization) collapses the corpus
    * to the vocab²-bounded bigram count table; the marginals cx
    * (left-word count), cy (right-word count) and the total nn then
    * ride three window passes over that TINY table — at any corpus
    * scale the windows see at most |V|² rows, so the empty-partition
    * total window is bounded work, not a scale risk (same shape as
    * `llm_ngram_lm`'s n1 window, LlmText.scala). PMI = log of
    * nn·n12/(cx·cy); log is monotone, so ranking by the quantized
    * RATIO gives the exact PMI order without a cross-engine
    * transcendental. */
  val llmCollocations: QFn = (s, d) => {
    val big = Tables.documents(s, d)
      .select(graft.functions.NgramGen.bigramPairs(words))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val ratioQ = floor(
      col("n12").cast("double") * col("nn").cast("double") /
        (col("cx").cast("double") * col("cy").cast("double")) *
        1000000.0).cast("long")
    big
      .withColumn("cx", sum("n12").over(Window.partitionBy("w1")))
      .withColumn("cy", sum("n12").over(Window.partitionBy("w2")))
      .withColumn("nn", sum("n12").over(Window.partitionBy()))
      .select(col("w1"), col("w2"), col("n12"), col("cx"), col("cy"),
        ratioQ.as("pmi_ratio_q"))
      .orderBy(col("pmi_ratio_q").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** DOCUMENT-FREQUENCY vocabulary pruning — drop stopwords
    * (df > half the corpus) and hapax legomena (df = 1), then score
    * every document by how much of it survives. The df table reduces
    * to vocab size in ONE map-side-combinable pass (distinct-doc
    * count per token); the kept-vocab is vocab-bounded and
    * BROADCASTs back onto the token stream, so the corpus shuffles
    * once more only for the per-doc re-aggregation — the classic
    * "small dimension derived from the fact table" plan. The
    * stopword test is exact integer arithmetic (2·df ≤ n_docs), not
    * a float fraction. */
  val llmDocFreqPrune: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), explode(words).as("tok"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val kept = toks.groupBy("tok").agg(count_distinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 2 <= col("n_docs") && col("df") >= 2)
      .select(col("tok"), lit(1).as("keep"))
    toks.join(broadcast(kept), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("keep").cast("long"), lit(0L))).as("n_kept"),
        count_distinct(when(col("keep") === 1, col("tok"))).as("n_distinct_kept"))
      .withColumn("pruned_ratio_q", floor(
        (col("n_tokens") - col("n_kept")).cast("double") /
          col("n_tokens").cast("double") * 1000000.0).cast("long"))
      .select("doc_id", "n_tokens", "n_kept", "n_distinct_kept", "pruned_ratio_q")
      .orderBy("doc_id")
  }

  /** INCREMENTAL dedup — the ingestion-mode shape a 100 TB pipeline
    * actually runs: nobody re-deduplicates the whole corpus per
    * batch; the DELTA (here the last 4 of 20 sources, a deterministic
    * 20% split) is checked against the existing corpus's content
    * fingerprints and against itself. The fingerprint is the md5 of
    * the 16-word LEAD span — the re-crawl heuristic (a page update
    * keeps its lead while trailing content drifts; full-text md5
    * finds nothing on this corpus, where no doc repeats verbatim
    * across the split). Anti-join drops incoming docs whose lead
    * already exists; a first-occurrence window dedups the batch
    * internally (lowest doc_id wins, the `llm_exact_dedup`
    * convention). The existing side reduces to a DISTINCT fingerprint
    * column immediately — at production scale that fingerprint set is
    * the persisted dedup index and the anti-join shuffles on the
    * hash, never on document bodies; the banded MinHash variant
    * composes the same way on `llm_minhash_portable`'s band keys. */
  val llmIncrementalDedup: QFn = (s, d) => {
    val lead = md5(array_join(slice(split(col("text"), " "), 1, 16), " "))
    val docs = Tables.documents(s, d).withColumn("src_num", srcNum)
    val existingHashes = docs.filter(col("src_num") < 16)
      .select(lead.as("h")).distinct()
    val incoming = docs.filter(col("src_num") >= 16)
      .select(col("doc_id"), col("source"), col("n_chars"), lead.as("h"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    incoming
      .join(existingHashes, Seq("h"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("llm_collocations", llmCollocations,
      // bigram count table + the vocab²-bounded marginal windows
      // (same-key windows share the exchange; top-50 is TakeOrdered)
      shuffles = 2,
      """WITH toks AS (
           SELECT string_split(text, ' ') AS w FROM documents),
         idx AS (
           SELECT w, unnest(range(1, len(w))) AS i FROM toks),
         pairs AS (
           SELECT list_extract(w, CAST(i AS INT)) AS w1,
                  list_extract(w, CAST(i AS INT) + 1) AS w2
           FROM idx),
         big AS (SELECT w1, w2, count(*) AS n12 FROM pairs GROUP BY w1, w2),
         m AS (
           SELECT w1, w2, n12,
             CAST(sum(n12) OVER (PARTITION BY w1) AS BIGINT) AS cx,
             CAST(sum(n12) OVER (PARTITION BY w2) AS BIGINT) AS cy,
             CAST(sum(n12) OVER () AS BIGINT) AS nn
           FROM big)
         SELECT w1, w2, n12, cx, cy,
           CAST(floor(CAST(n12 AS DOUBLE) * CAST(nn AS DOUBLE) /
             (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS pmi_ratio_q
         FROM m ORDER BY pmi_ratio_q DESC, w1, w2 LIMIT 50"""),
    KeySpec.batch("llm_doc_freq_prune", llmDocFreqPrune,
      // df build (2-phase distinct) + broadcast kept-vocab + per-doc
      // re-agg with a distinct (2-phase) + presentation sort
      shuffles = 6,
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         kept AS (
           SELECT tok FROM (
             SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok), nd
           WHERE df * 2 <= n_docs AND df >= 2),
         flagged AS (
           SELECT t.doc_id, t.tok, k.tok IS NOT NULL AS keep
           FROM toks t LEFT JOIN kept k ON t.tok = k.tok),
         agg AS (
           SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             count(DISTINCT CASE WHEN keep THEN tok END) AS n_distinct_kept
           FROM flagged GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_kept, n_distinct_kept,
           CAST(floor(CAST(n_tokens - n_kept AS DOUBLE) /
             CAST(n_tokens AS DOUBLE) * 1000000.0) AS BIGINT) AS pruned_ratio_q
         FROM agg ORDER BY doc_id""")
      .crossJoinOk("crosses the vocab-bounded df table with the broadcast 1-row corpus " +
        "doc count for the stopword threshold — O(1) build"),
    KeySpec.batch("llm_incremental_dedup", llmIncrementalDedup,
      // existing-fingerprint distinct + the anti-join/first-occurrence
      // window exchange + presentation sort
      shuffles = 3,
      // TRY_CAST, not CAST: a digit-less source yields '' which plain
      // CAST raises on in DuckDB while Spark silently nulls — TRY_CAST
      // makes both engines treat it as null (r8 ADVICE latent-crash fix)
      """WITH tagged AS (
           SELECT doc_id, source, n_chars,
             md5(array_to_string(string_split(text, ' ')[1:16], ' ')) AS h,
             TRY_CAST(regexp_extract(source, '(\d+)', 1) AS INT) AS src_num
           FROM documents),
         existing AS (SELECT DISTINCT h FROM tagged WHERE src_num < 16),
         incoming AS (SELECT * FROM tagged WHERE src_num >= 16),
         fresh AS (
           SELECT i.doc_id, i.source, i.n_chars, i.h
           FROM incoming i ANTI JOIN existing e ON i.h = e.h),
         first_occ AS (
           SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
           FROM fresh)
         SELECT doc_id, source, n_chars FROM first_occ
         WHERE rn = 1 ORDER BY doc_id"""))
}
