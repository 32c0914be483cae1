package graft.operators

import graft.{KeySpec, QFn, Tables}
import graft.Det.{dsum6, fq}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline text operators (SURVEY.md §2.9 + driver-mandated
  * text analysis): exact dedup, token counting, corpus stats, TF-IDF,
  * quality scoring, language ID, document fingerprinting.
  *
  * Scale design: every operator is a hash-partitioned groupBy/window on
  * a high-cardinality key (doc hash, (source, term), doc_id) — no
  * driver-side collection, no O(n²). Exact dedup on a 100 TB corpus is
  * one shuffle of (hash → min(doc_id)); TF-IDF is two aggregations and
  * a broadcast-able DF join; fingerprints are pure per-row folds that
  * stay inside whole-stage codegen.
  */
object LlmText {

  private val words = split(col("text"), " ")

  /** Exact dedup by SHA-256 of normalized text. Output: one row per
    * distinct content — the kept (minimum) doc_id, copy count, and the
    * content hash (hex SHA-256 matches DuckDB's `sha256`). */
  val llmExactDedup: QFn = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Span-level exact dedup (the C4/RefinedWeb step BETWEEN doc-level
    * exact dedup and MinHash near-dup, ExactSubstr-lite): each doc is
    * cut into fixed 16-word spans, every span keeps only its GLOBAL
    * first occurrence (first by (doc_id, span_id) — deterministic
    * total order), and docs are reassembled from their surviving
    * spans. A doc duplicated wholesale loses every span; a doc that
    * merely quotes a boilerplate block loses just that block.
    *
    * Scale shape: posexplode → one wide shuffle partitioned BY THE
    * SPAN TEXT for the first-occurrence window (high-cardinality key,
    * shards evenly; the window per span is a few rows), then one
    * groupBy(doc_id) to reassemble — O(spans) end to end, no
    * collect, both shuffles on keys that grow with the data. */
  val llmSpanDedup: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val SpanW = 16
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(SpanW))))
      .withColumnRenamed("pos", "span_id")
      .withColumn("span_text",
        array_join(slice(col("toks"), col("col") + 1, lit(SpanW)), " "))
      .filter(col("span_text") =!= "")
      .select("doc_id", "span_id", "span_text")
    val w = Window.partitionBy("span_text").orderBy("doc_id", "span_id")
    spans
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("span_id"), col("span_text"))))),
          x => x.getField("span_text")), " ").as("joined"),
        count(when(col("rn") === 1, 1)).as("n_kept"),
        count(when(col("rn") > 1, 1)).as("n_dropped"))
      .select(col("doc_id"),
        when(col("n_kept") === 0, lit(null).cast("string"))
          .otherwise(col("joined")).as("clean_text"),
        col("n_kept"), col("n_dropped"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens, regex word-ish tokens (a
    * BPE-ish `[a-z]+|[0-9]+|punct` split), chars, and the chars/4
    * LLM-token heuristic. */
  val llmTokenCount: QFn = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(words).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
        .as("n_re_tokens"),
      length(col("text")).as("n_chars_measured"),
      ceil(length(col("text")) / lit(4.0)).as("approx_llm_tokens"))
      .orderBy("doc_id")

  /** Corpus stats: top-5 terms per source by frequency (explode →
    * count → windowed top-k; the per-group top-k idiom that scales). */
  val llmTextStats: QFn = (s, d) => {
    val w = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("term"))
    Tables.documents(s, d)
      .select(col("source"), explode(words).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy("source", "rk")
  }

  /** TF-IDF: top-3 terms per document by weight.
    * tf = term count / doc length; idf = ln(N / df); both sides compute
    * the identical double formula, rounded to 9 to absorb libm ulps. */
  val llmTfidf: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    // N as an IN-PLAN broadcast scalar (1-row agg, cross-joined): no
    // driver-side count() job fires at plan construction — at 100 TB a
    // driver count is a full extra corpus scan serialized before the
    // real query; here it folds into the same job DAG.
    val nDocs = broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs")))
    val tokens = docs.select(col("doc_id"), explode(words).as("term"))
    val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .join(tokens.groupBy("doc_id").agg(count(lit(1)).as("dlen")), "doc_id")
    val df_ = tokens.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("w").desc, col("term"))
    tf.join(df_, "term").crossJoin(nDocs)
      // round (not fq) retained: ln is the one transcendental here —
      // engines can land an ulp apart and round(9) absorbs it, both in
      // the emitted weight and the rank ORDER BY (r9 round audit)
      .withColumn("w", round((col("tc") / col("dlen")) * log(col("n_docs") / col("df")), 9))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "w")
      .orderBy("doc_id", "rk")
  }

  /** Quality scoring: length / uppercase / digit / stopword ratios and
    * a composite score — the cheap heuristics a corpus filter runs
    * before expensive model-based scoring. */
  val llmQualityScore: QFn = (s, d) => {
    val stop = Array("the", "a", "of", "and", "to", "in", "is", "on")
    val nWords = size(words)
    val nStop = size(filter(words, w => w.isin(stop: _*)))
    Tables.documents(s, d).select(
      col("doc_id"),
      col("n_chars"),
      nWords.as("n_words"),
      fq(length(col("text")).cast("double") / nWords, 6).as("avg_token_len"),
      fq(nStop.cast("double") / nWords, 6).as("stop_ratio"),
      fq(size(array_distinct(words)).cast("double") / nWords, 6).as("distinct_ratio"),
      fq(
        when(nWords.between(30, 1000), 0.5).otherwise(0.0)
          + when(nStop.cast("double") / nWords > 0.02, 0.25).otherwise(0.0)
          + when(size(array_distinct(words)).cast("double") / nWords > 0.2, 0.25).otherwise(0.0),
        2).as("quality"))
      .orderBy("doc_id")
  }

  /** Language ID: deterministic n-gram/stopword-profile scorer. Scores
    * each language profile by marker hits and char classes; returns
    * argmax (ties broken alphabetically). On this synthetic corpus the
    * vocabulary is shared across langs — the spec asserts determinism
    * and total coverage, not accuracy. */
  val llmLangId: QFn = (s, d) => {
    val profiles = Seq(
      "en" -> Seq("the", "and", "of"),
      "es" -> Seq("el", "la", "de"),
      "de" -> Seq("der", "und", "die"),
      "fr" -> Seq("le", "la", "et"),
      "zh" -> Seq.empty[String])
    val scores = profiles.map { case (lang, markers) =>
      val marker =
        if (lang == "zh") when(col("text").rlike("[\\u4e00-\\u9fff]"), 100).otherwise(0)
        else markers.map(m => size(filter(words, w => w === m))).reduce(_ + _)
      struct(marker.cast("long").as("score"), lit(lang).as("lang"))
    }
    Tables.documents(s, d).select(
      col("doc_id"), col("lang").as("true_lang"),
      // argmax: sort (score, lang) structs descending by score then
      // ascending lang — greatest() picks max struct lexicographically,
      // so negate… simpler: array_max over (score, reversed-lang) is
      // wrong for ties; use sort + element_at for an explicit tiebreak.
      element_at(
        reverse(array_sort(array(scores: _*))), 1).getField("lang").as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: polynomial rolling hash over token codes,
    * mod 1e9+7 — exact integer math, identical fold in both engines. */
  val llmFingerprint: QFn = (s, d) => {
    val p = 1000000007L
    val codes = transform(words, w => (length(w) * 17 + ascii(substring(w, 1, 1))).cast("long"))
    Tables.documents(s, d).select(
      col("doc_id"),
      aggregate(codes, lit(0L), (h, c) => pmod(h * 31 + c, lit(p))).as("fingerprint"),
      size(words).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Feature hashing (the hashing trick): tokens folded into a fixed
    * 32-bucket count vector per document — the bounded-width
    * featurization step before any linear/hashed-embedding model, and
    * collision-by-design (no vocabulary dictionary to build or ship,
    * which is what makes it viable at 100 TB: one explode + one
    * partial-agg shuffle, no global vocab state). Token hash is the
    * same engine-portable integer polynomial family as
    * [[llmFingerprint]]. */
  val llmFeatureHash: QFn = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(words).as("w"))
      .select(col("doc_id"),
        ((length(col("w")) * 17 +
          ascii(substring(col("w"), 1, 1)) * 31 +
          expr("ascii(substring(w, length(w), 1))") * 7) % 32).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "bucket")

  /** Bigram language-model statistics: conditional probability
    * p(w2|w1) = n(w1,w2)/n(w1·) for the 50 most frequent bigrams —
    * the co-occurrence table behind n-gram LMs, collocation mining
    * and tokenizer-merge candidates. ONE corpus pass: pairs come
    * from the native `BigramGen` generator (a Generate fan-out, no
    * shuffle, no CodegenFallback HOF chain), one partial-agg shuffle
    * builds n(w1,w2), and the context count n(w1·) = Σ_w2 n(w1,w2)
    * is derived from the already-aggregated (vocabulary-sized, not
    * corpus-sized) bigram table by a window over w1 — the second
    * corpus tokenization the round-3 profile flagged is gone.
    * p is an exact integer ratio in doubles, so no rounding is
    * needed for cross-engine parity. Single-token docs contribute
    * no pairs (same guard as the shingle pipeline). */
  val llmNgramLm: QFn = (s, d) => {
    val big = Tables.documents(s, d)
      .select(graft.functions.NgramGen.bigramPairs(words))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    big
      .withColumn("n1", sum("n12").over(
        org.apache.spark.sql.expressions.Window.partitionBy("w1")))
      .withColumn("p", col("n12").cast("double") / col("n1").cast("double"))
      .orderBy(col("n12").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Top-20 trigram windows via the custom `NgramGen` Catalyst
    * generator (functions/NgramGen.scala) — the UDTF surface: one doc
    * row fans out to its sliding windows inside a `Generate` node (no
    * shuffle), then a plain codegen'd hash-aggregate ranks the grams.
    */
  val llmNgramWindows: QFn = (s, d) =>
    Tables.documents(s, d)
      .select(graft.functions.NgramGen.ngramWindows(words, 3))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(20)

  /** Per-document LM quality score: every document scored by the
    * average conditional probability of its bigrams under the corpus's
    * OWN bigram LM — the n-gram language-model filtering signal
    * (CCNet/Gopher-style) that ranks fluent text above token soup.
    * Two STREAMING corpus scans (train the LM, then score), zero
    * corpus shuffles on the scoring side: the trained LM aggregates
    * down to a VOCABULARY-sized table and BROADCASTS, so scoring is
    * scan → native `BigramGen` fan-out → broadcast lookup → one
    * per-doc partial-agg shuffle. (Materializing the corpus-sized
    * pair stream to "scan once" would cost more than the second
    * columnar read — two scans is the right trade at 100 TB, where a
    * production LM table is additionally top-M-pruned.) Each p is
    * rounded to 6 decimals and averaged by exact decimal sum / count,
    * so the score is order-independent and engine-exact (the
    * established dsum pattern). Single-token docs have no bigrams and
    * drop out, like every shingle pipeline here. */
  val llmLmScore: QFn = (s, d) => {
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.NgramGen.bigramPairs(words))
    val lm = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      .withColumn("n1", sum("n12").over(Window.partitionBy("w1")))
      .select(col("w1"), col("w2"),
        fq(col("n12").cast("double") / col("n1").cast("double"), 6).as("p"))
    pairs.join(broadcast(lm), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double") / count(lit(1))).as("avg_p"))
      .orderBy("doc_id")
  }

  /** Source-mix drift: per-source chi-square divergence of the token
    * distribution against the corpus-wide distribution, over the 50
    * globally most frequent tokens — the mixing diagnostic a
    * multi-source pretraining pipeline watches to catch one feed
    * drifting (scraper change, encoding break) before it poisons the
    * mix. ONE corpus tokenization pass builds the (source, token)
    * count table (vocabulary × sources — checkpointed small); totals,
    * the top-50 list, and the expected counts all derive from it, so
    * at 100 TB the corpus is read once and everything downstream is
    * model-sized. Zero-observed cells contribute their full expected
    * term (the grid is sources × 50, built by cross join of two tiny
    * broadcast sides). Terms use only +,−,×,÷ on doubles (no pow/log
    * — engine-identical), each rounded to 6 decimals and decimal-
    * summed, so the statistic is order-independent and oracle-exact. */
  val llmSourceDrift: QFn = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("source"), explode(words).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val top = counts.groupBy("w").agg(sum("o").as("tok_n"))
      .orderBy(col("tok_n").desc, col("w")).limit(50)
    val srcTot = counts.groupBy("source").agg(sum("o").as("src_n"))
    val allRow = srcTot.agg(sum("src_n").as("all_n"))
    val dev = col("o").cast("double") - col("e")
    srcTot.crossJoin(broadcast(top))
      .join(counts, Seq("source", "w"), "left")
      .na.fill(0, Seq("o"))
      .crossJoin(broadcast(allRow))
      .withColumn("e",
        col("src_n").cast("double") * col("tok_n").cast("double")
          / col("all_n").cast("double"))
      .withColumn("term", fq(dev * dev / col("e"), 6))
      .groupBy("source")
      .agg(count(lit(1)).as("n_cells"), dsum6(col("term")).as("chi2"))
      .orderBy("source")
  }

  /** Repetition signals (the Gopher/MassiveText repetition filters):
    * per document, the fraction of tokens covered by the single most
    * frequent token, the duplicate-token fraction, and the duplicate-
    * bigram fraction — the three cheapest detectors of boilerplate /
    * generated-loop text. Pure integer ratios (IEEE-identical in any
    * engine) over one token explode and one native bigram fan-out;
    * both aggregations are map-side-combined groupBys, so at 100 TB
    * this is two partial-agg shuffles keyed by doc — no corpus-wide
    * state. Single-token docs have no bigrams → NULL bigram fraction
    * (same convention as the shingle pipelines). */
  val llmRepetition: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), explode(words).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_c"))
    val bg = docs
      .select(col("doc_id"), graft.functions.NgramGen.bigramPairs(words))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("bc"))
      .groupBy("doc_id").agg(
        sum("bc").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
    tok.join(bg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        fq(col("top_c").cast("double") / col("n_tokens"), 6)
          .as("top_token_frac"),
        fq(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("dup_token_frac"),
        fq(lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"), 6)
          .as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling: ~20% per language via modular
    * arithmetic on doc_id (seed-free, engine-portable, reproducible —
    * what a training pipeline needs for holdout splits; at 100 TB it
    * is a pure codegen'd filter, no shuffle). */
  val llmSampleStratified: QFn = (s, d) =>
    Tables.documents(s, d)
      .filter(pmod(col("doc_id") * 2654435761L, lit(100)) < 20)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("chars_sampled"))
      .orderBy("lang")

  /** Sequence packing: stream documents (doc_id order) into 4096-token
    * context windows by prefix-sum — pack_id = floor(cumsum_before /
    * capacity). The contiguous-fill strategy every large pretraining
    * pipeline uses (vs. NP-hard bin packing). The global prefix-sum is
    * computed DISTRIBUTED, in two passes: (1) cumsum inside contiguous
    * doc_id-range shards (a partitioned window — parallel), (2) each
    * shard's base offset = cumsum of the per-shard totals (a window
    * over #shards rows, joined back broadcast). No row ever passes
    * through a single-task global window; at 100 TB only the tiny
    * shard-totals table is serialized. */
  val llmPackSequences: QFn = (s, d) => {
    val capacity = 4096L
    // contiguous doc_id ranges → shard ids are monotone in doc_id, so
    // per-shard order + shard offsets reproduce the global order
    val sharded = Tables.documents(s, d)
      .select(col("doc_id"), size(words).as("n_tokens"),
        floor(col("doc_id") / 4096L).as("shard"))
    val wIn = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inShard = sharded.withColumn("cum_in_shard", sum("n_tokens").over(wIn))
    val wShard = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy("shard").agg(sum("n_tokens").as("shard_tokens"))
      .withColumn("base", coalesce(sum("shard_tokens").over(wShard), lit(0L)))
      .select("shard", "base")
    inShard.join(broadcast(offsets), "shard")
      .withColumn("cum_after", col("base") + col("cum_in_shard"))
      .withColumn("pack_id", floor((col("cum_after") - col("n_tokens")) / capacity))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
      .orderBy("pack_id")
  }

  /** Source mixing: deterministic round-robin interleave across
    * sources (rank within source, then order by (rank, source)) — the
    * data-mixing step that feeds a trainer a stable source ratio.
    * Emits the first 200 positions of the schedule.
    *
    * The global position is computed WITHOUT a global window: since
    * position ≥ rank_in_source, only rows with rank ≤ 200 can land in
    * the first 200 slots, and for those the rank-within-(rank, source)
    * order is closed-form — position(r, src) = 1 + Σ over sources s′ of
    * (how many of s′'s rows sort before (r, src)) = 1 + Σ_{s′}
    * (min(cnt_{s′}, r−1) + [s′ < src ∧ cnt_{s′} ≥ r]). One partitioned
    * window + one broadcast join against the per-source counts; every
    * stage is shuffle-parallel at any corpus size. */
  val llmInterleaveSources: QFn = (s, d) => {
    val w = Window.partitionBy("source").orderBy("doc_id")
    val ranked = Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= 200)
    // per-source row counts, capped at 200 — the cap never changes
    // min(cnt, r−1) or [cnt ≥ r] for r ≤ 200, and keeps the dim tiny
    val srcCounts = ranked.groupBy(col("source").as("src2"))
      .agg(count(lit(1)).as("cnt2"))
    ranked.join(broadcast(srcCounts))
      .groupBy("doc_id", "source", "rank_in_source")
      .agg((lit(1L) + sum(
        least(col("cnt2"), col("rank_in_source").cast("long") - 1L) +
          when(col("src2") < col("source") &&
            col("cnt2") >= col("rank_in_source"), 1L).otherwise(0L)))
        .as("position"))
      .filter(col("position") <= 200)
      .select(col("position").cast("int").as("position"), col("source"), col("doc_id"))
      .orderBy("position")
  }

  /** Fixed-size token chunking with overlap — the context-window
    * splitter every training pipeline runs before tokenization proper.
    * Chunk starts at multiples of (size − overlap); `slice` clamps the
    * tail. Pure per-row generate→explode: no shuffle, chunks stream
    * out of the scan, so a 100 TB corpus chunks at full scan
    * parallelism. */
  val llmChunkDocs: QFn = (s, d) => {
    val chunkSz = 64; val overlap = 16; val stride = chunkSz - overlap
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
      .select(
        col("doc_id"),
        col("pos").cast("int").as("chunk_id"),
        size(slice(col("toks"), col("col") + 1, lit(chunkSz))).as("n_tokens"),
        array_join(slice(col("toks"), col("col") + 1, lit(chunkSz)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-label embedding centroids (the k-means E-step / class
    * prototype): posexplode to (label, pos, x), one partial-agg
    * shuffle on the (label, pos) grain. Components are summed in
    * exact integer micro-units — `floor(x·1e6)` of the float widened
    * to double is the same IEEE value on every engine and executor
    * count, so the long sum is bit-deterministic where a double sum
    * would drift with partition order. */
  val llmEmbedCentroid: QFn = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        floor(col("col").cast("double") * 1000000.0).cast("long").as("q"))
      .groupBy("label", "pos")
      .agg(sum("q").as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), col("n"),
        // pure IEEE ops on exact integers — bit-identical on any
        // engine, so no round() (whose tie-breaking is repr-dependent)
        (col("sq").cast("double") / col("n").cast("double") / 1000000.0).as("c"))
      .orderBy("label", "pos")

  /** Per-dimension z-scoring of the embedding corpus — the feature
    * standardization step before clustering/ANN trains on raw
    * embeddings. Exactness trick shared with [[llmEmbedCentroid]]:
    * values quantize to integer micro-units, so the per-dimension
    * sum / sum-of-squares are EXACT integers and every engine derives
    * bit-identical mean/std (IEEE division and correctly-rounded
    * sqrt); z is rounded to absorb the final composition ulp. The
    * stats table is 64 rows (one per dimension) — a broadcast — so
    * normalization is one map-side-combined groupBy plus a broadcast
    * projection; emitted rows are the deterministic vec_id % 50
    * sample. */
  val llmEmbedNormalize: QFn = (s, d) => {
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        floor(col("col").cast("double") * 1000000.0).cast("long").as("q"))
    // sqq accumulates q² ≈ 1e12 per row: a LongType sum would wrap
    // silently past ~9e6 rows/dimension while the DuckDB oracle sums
    // BIGINT into HUGEINT exactly — accumulate as decimal(38,0) so
    // both engines compute the exact integer before the double cast
    // (r3 ADVICE).
    val st = ex.groupBy("pos").agg(
      sum("q").cast("double").as("sq"),
      sum((col("q") * col("q")).cast("decimal(38,0)")).cast("double").as("sqq"),
      count(lit(1)).cast("double").as("n"))
    ex.filter(col("vec_id") % 50 === 0)
      .join(broadcast(st), "pos")
      .select(col("vec_id"), col("pos"),
        round((col("q").cast("double") - col("sq") / col("n")) /
          sqrt(col("sqq") / col("n") - (col("sq") / col("n")) * (col("sq") / col("n"))),
          6).as("z"))
      .orderBy("vec_id", "pos")
  }

  /** Benchmark decontamination — the pre-training hygiene pass: flag
    * every training document that shares a word 3-gram with the eval
    * set (here, the deterministic doc_id % 10 == 0 slice stands in for
    * a held-out benchmark). Per flagged doc: how many distinct grams
    * leak and how many eval docs they touch.
    *
    * Scale shape: benchmarks are tiny next to a 100 TB corpus, so the
    * eval gram postings BROADCAST and the corpus side never shuffles
    * until the final per-doc aggregate — one scan of the training
    * data against an in-memory gram set, the same plan n-gram-overlap
    * decontamination runs in production pipelines. */
  val llmDecontaminate: QFn = (s, d) => {
    val grams3 = when(size(words) >= 3, array_distinct(transform(
        sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", slice(words, i + 1, lit(3))))))
      .otherwise(array().cast("array<string>"))
    // parallelizeKernel (r15): the 3-gram HOF chain is interpreted
    // (CodegenFallback) and ran on the single-task local scan — one
    // core of 32 (4 single-task stages, ~1.5 s serialized
    // jobwall); a no-op at production split counts. The repartitioned
    // docs frame is derived once: the eval and train filters would
    // otherwise push below the repartition and plan two exchanges
    // that Spark cannot reuse
    val docs = Tables.parallelizeKernel(s,
      Tables.documents(s, d).select("doc_id", "text"), "doc_id")
      .localCheckpoint()
    val evalG = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("eval_id"), explode(grams3).as("gram"))
    val trainG = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(grams3).as("gram"))
    trainG.join(broadcast(evalG), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")
  }

  /** The whole curation pipeline as ONE declarative plan — quality
    * gate ([[llmQualityScore]]'s formula ≥ 0.75) → language gate
    * (en/es) → exact content dedup (min-doc_id keeper, one shuffle)
    * → 512-token sequence packing. Output: one row per pack.
    *
    * The point is compositional: Catalyst fuses the two gates into
    * the parquet scan (pushed filters on lang + projected text), the
    * dedup is a single hash shuffle, and packing reuses the sharded
    * prefix-sum — no global window anywhere, so the one plan holds
    * from sf0.001 to a 1000-executor corpus run. */
  val llmCorpusPipeline: QFn = (s, d) => {
    val capacity = 512L
    val nWords = size(words)
    val stop = Array("the", "a", "of", "and", "to", "in", "is", "on")
    val quality =
      when(nWords.between(30, 1000), 0.5).otherwise(0.0) +
        when(size(filter(words, w => w.isin(stop: _*))).cast("double") / nWords > 0.02, 0.25)
          .otherwise(0.0) +
        when(size(array_distinct(words)).cast("double") / nWords > 0.2, 0.25)
          .otherwise(0.0)
    val kept = Tables.documents(s, d)
      .filter(col("lang").isin("en", "es") && quality >= 0.75)
      .select(col("doc_id"), nWords.cast("long").as("n_tokens"),
        sha2(lower(trim(col("text"))), 256).as("h"))
    val wDedup = Window.partitionBy("h").orderBy("doc_id")
    val uniq = kept.withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_tokens"), floor(col("doc_id") / 4096L).as("shard"))
    val wIn = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inShard = uniq.withColumn("cum_in_shard", sum("n_tokens").over(wIn))
    val wShard = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = uniq.groupBy("shard").agg(sum("n_tokens").as("shard_tokens"))
      .withColumn("base", coalesce(sum("shard_tokens").over(wShard), lit(0L)))
      .select("shard", "base")
    inShard.join(broadcast(offsets), "shard")
      .withColumn("cum_after", col("base") + col("cum_in_shard"))
      .withColumn("pack_id", floor((col("cum_after") - col("n_tokens")) / capacity))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
      .orderBy("pack_id")
  }

  /** PII detection + redaction — the scrub every training-data
    * pipeline runs before anything else sees the text. The corpus
    * text is synthetic (no real PII), so each row gets a
    * deterministically DERIVED contact block appended (the `fn_url`
    * synthesized-fixture precedent): an email keyed by doc_id, a
    * phone keyed by doc_id mod 10⁴, and a second email on even ids so
    * the counts aren't constant. Detection counts matches per class
    * (`regexp_extract_all` → size), redaction replaces them with
    * typed placeholders — both with patterns simple enough to behave
    * identically under Java regex (Spark) and RE2 (DuckDB), which is
    * what makes the key fully oracle-checkable.
    *
    * 100 TB shape: pure per-row projection — no shuffle at all before
    * the output sort; the regex work is embarrassingly parallel and
    * whole-stage-codegen'd. */
  val llmPiiScrub: QFn = (s, d) => {
    val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phone = "\\+1-555-[0-9]{4}"
    val raw = concat(
      substring(col("text"), 1, 80),
      lit(" contact u"), col("doc_id"), lit("@example.com"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" cc backup"), col("doc_id"), lit("@mail.org")))
        .otherwise(lit("")),
      lit(" or +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), raw.as("raw"))
      .select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("raw"), lit(email), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("raw"), lit(phone), lit(0)))
          .cast("long").as("n_phone"),
        regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
          phone, "<PHONE>").as("scrubbed"))
      .orderBy("doc_id")
  }

  /** GLOBAL SHUFFLE + split assignment — the step between a curated
    * corpus and a training run: every document gets a deterministic
    * pseudo-random shard (8-way), a train/val/test split tag
    * (96/2/2%), a sort position, and its rank within the shard. The
    * physical shape is hash-partition + within-partition sort — the
    * ONLY way to globally shuffle 100 TB (a true global sort by
    * random key is the same plan; a driver-side shuffle is
    * impossible), and the shard column is exactly what a
    * `partitionBy("shard")` training-data write consumes. Hashes are
    * md5-derived with distinct salts (the portable-hash idiom), so
    * the full assignment — shard, split, order — is reproducible in
    * any engine: no seed, no RNG state, rerun-stable by content. */
  val llmGlobalShuffle: QFn = (s, d) => {
    def h(salt: String): Column =
      conv(substring(md5(concat(lit(salt + ":"),
        col("doc_id").cast("string"))), 25, 8), 16, 10).cast("long")
    val w = Window.partitionBy("shard").orderBy(col("pos"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        (h("shard") % 8).cast("int").as("shard"),
        when(h("split") % 100 < 96, "train")
          .when(h("split") % 100 < 98, "val")
          .otherwise("test").as("split"),
        h("pos").as("pos"))
      .withColumn("rank_in_shard", row_number().over(w))
      .orderBy("doc_id")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("llm_global_shuffle", llmGlobalShuffle,
      // the shard window's hash exchange + the presentation sort — the
      // global-shuffle-for-training plan IS those two exchanges
      shuffles = 2,
      // same md5-salt hashes: the full shuffle assignment (shard, split,
      // order) reproduces in any engine with md5 — no seed, no RNG state
      """WITH a AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5('shard:' || doc_id), 25, 8))::UBIGINT % 8 AS INT) AS shard,
             CASE WHEN ('0x' || substr(md5('split:' || doc_id), 25, 8))::UBIGINT % 100 < 96 THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || doc_id), 25, 8))::UBIGINT % 100 < 98 THEN 'val'
                  ELSE 'test' END AS split,
             ('0x' || substr(md5('pos:' || doc_id), 25, 8))::UBIGINT::BIGINT AS pos
           FROM documents)
         SELECT doc_id, shard, split, pos,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY pos, doc_id) AS INT) AS rank_in_shard
         FROM a ORDER BY doc_id"""),
    KeySpec.batch("llm_pii_scrub", llmPiiScrub,
      // pure per-row projection; the single shuffle is the output sort
      shuffles = 1,
      // same derived contact block, same patterns; DuckDB regexp_replace
      // needs the explicit 'g' flag to match Spark's replace-all default
      """WITH raw AS (
           SELECT doc_id, source,
             substr(text, 1, 80) || ' contact u' || doc_id || '@example.com'
               || CASE WHEN doc_id % 2 = 0
                    THEN ' cc backup' || doc_id || '@mail.org' ELSE '' END
               || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS raw
           FROM documents)
         SELECT doc_id, source,
           CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phone,
           regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
         FROM raw ORDER BY doc_id"""),
    KeySpec.batch("llm_embed_normalize", llmEmbedNormalize, shuffles = 2,
      """WITH ex AS (
           SELECT vec_id, CAST(t.i AS INT) AS pos,
             CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
           FROM embeddings, range(64) t(i)),
         st AS (
           SELECT pos, CAST(sum(q) AS DOUBLE) AS sq,
             CAST(sum(q * q) AS DOUBLE) AS sqq,
             CAST(count(*) AS DOUBLE) AS n
           FROM ex GROUP BY pos)
         SELECT e.vec_id, e.pos,
           round((CAST(e.q AS DOUBLE) - st.sq / st.n)
             / sqrt(st.sqq / st.n - (st.sq / st.n) * (st.sq / st.n)), 6) AS z
         FROM ex e JOIN st USING (pos)
         WHERE e.vec_id % 50 = 0
         ORDER BY e.vec_id, e.pos"""),
    KeySpec.batch("llm_decontaminate", llmDecontaminate, shuffles = 3,
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g AS (
           SELECT DISTINCT doc_id, array_to_string(w[s + 1 : s + 3], ' ') AS gram
           FROM (
             SELECT doc_id, w,
               unnest(range(0, greatest(len(w) - 2, 0))) AS s
             FROM t))
         SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_shared_grams,
           count(DISTINCT ev.doc_id) AS n_eval_docs
         FROM g tr JOIN g ev ON tr.gram = ev.gram
         WHERE tr.doc_id % 10 <> 0 AND ev.doc_id % 10 = 0
         GROUP BY tr.doc_id ORDER BY tr.doc_id""")
      .constructionJobsOk("repartitioned docs localCheckpoint (derive once for eval + train)"),
    KeySpec.batch("llm_corpus_pipeline", llmCorpusPipeline, shuffles = 6,
      """WITH scored AS (
           SELECT doc_id, text, lang,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','on'))) AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
           FROM documents),
         kept AS (
           SELECT doc_id, text, CAST(n_words AS BIGINT) AS n_tokens
           FROM scored
           WHERE lang IN ('en', 'es')
             AND (CASE WHEN n_words BETWEEN 30 AND 1000 THEN 0.5 ELSE 0.0 END
                + CASE WHEN CAST(n_stop AS DOUBLE) / n_words > 0.02 THEN 0.25 ELSE 0.0 END
                + CASE WHEN CAST(n_distinct AS DOUBLE) / n_words > 0.2 THEN 0.25 ELSE 0.0 END)
               >= 0.75),
         uniq AS (
           SELECT doc_id, n_tokens,
             row_number() OVER (PARTITION BY sha256(lower(trim(text)))
               ORDER BY doc_id) AS rn
           FROM kept),
         packed AS (
           SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_after
           FROM uniq WHERE rn = 1)
         SELECT CAST(floor((cum_after - n_tokens) / 512.0) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         FROM packed GROUP BY 1 ORDER BY 1"""),
    KeySpec.batch("llm_chunk_docs", llmChunkDocs, shuffles = 1,
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         st AS (
           SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 48)) AS start
           FROM t)
         SELECT doc_id,
           CAST(start // 48 AS INT) AS chunk_id,
           CAST(len(toks[start + 1 : start + 64]) AS INT) AS n_tokens,
           array_to_string(toks[start + 1 : start + 64], ' ') AS chunk_text
         FROM st ORDER BY doc_id, chunk_id"""),
    KeySpec.batch("llm_embed_centroid", llmEmbedCentroid, shuffles = 2,
      """WITH ex AS (
           SELECT label, CAST(t.i AS INT) AS pos,
             CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
           FROM embeddings, range(64) t(i))
         SELECT label, pos, count(*) AS n,
           CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS c
         FROM ex GROUP BY label, pos ORDER BY label, pos"""),
    KeySpec.batch("llm_sample_stratified", llmSampleStratified, shuffles = 2,
      """SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS chars_sampled
         FROM documents WHERE (doc_id * 2654435761) % 100 < 20
         GROUP BY lang ORDER BY lang"""),
    KeySpec.batch("llm_pack_sequences", llmPackSequences, shuffles = 5,
      """WITH t AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             sum(CAST(len(string_split(text, ' ')) AS BIGINT))
               OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_after
           FROM documents)
         SELECT CAST(floor((cum_after - n_tokens) / 4096.0) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         FROM t GROUP BY 1 ORDER BY pack_id"""),
    KeySpec.batch("llm_interleave_sources", llmInterleaveSources, shuffles = 2,
      """SELECT position, source, doc_id FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (ORDER BY rank_in_source, source, doc_id) AS INT) AS position
           FROM (
             SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rank_in_source
             FROM documents))
         WHERE position <= 200 ORDER BY position""")
      .crossJoinOk("crosses a <=#sources-row broadcast counts dim — O(1) build side"),
    KeySpec.batch("llm_exact_dedup", llmExactDedup, shuffles = 2,
      """SELECT sha256(lower(trim(text))) AS h,
           min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id"""),
    KeySpec.batch("llm_span_dedup", llmSpanDedup, shuffles = 3,
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         sp AS (
           SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 16)) AS start
           FROM t),
         spans AS (
           SELECT doc_id, CAST(start // 16 AS INT) AS span_id,
             array_to_string(toks[start + 1 : start + 16], ' ') AS span_text
           FROM sp
           WHERE array_to_string(toks[start + 1 : start + 16], ' ') <> ''),
         r AS (
           SELECT doc_id, span_id, span_text,
             row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_id) AS rn
           FROM spans)
         SELECT doc_id,
           string_agg(span_text, ' ' ORDER BY span_id) FILTER (WHERE rn = 1) AS clean_text,
           count(*) FILTER (WHERE rn = 1) AS n_kept,
           count(*) FILTER (WHERE rn > 1) AS n_dropped
         FROM r GROUP BY doc_id ORDER BY doc_id"""),
    KeySpec.batch("llm_token_count", llmTokenCount, shuffles = 1,
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_re_tokens,
           CAST(length(text) AS INT) AS n_chars_measured,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
         FROM documents ORDER BY doc_id"""),
    KeySpec.batch("llm_text_stats", llmTextStats, shuffles = 3,
      """SELECT source, term, cnt, rk FROM (
           SELECT source, term, cnt,
             CAST(row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS INT) AS rk
           FROM (
             SELECT source, term, count(*) AS cnt FROM (
               SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
             GROUP BY source, term
           )) WHERE rk <= 5 ORDER BY source, rk"""),
    KeySpec.batch("llm_tfidf", llmTfidf, shuffles = 7,
      """WITH tokens AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (
           SELECT doc_id, term, count(*) AS tc FROM tokens GROUP BY doc_id, term),
         dlen AS (
           SELECT doc_id, count(*) AS dlen FROM tokens GROUP BY doc_id),
         df AS (
           SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tokens) GROUP BY term),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, rk, term, w FROM (
           SELECT tf.doc_id AS doc_id, tf.term AS term,
             round((CAST(tc AS DOUBLE) / dlen) * ln(CAST(n.n AS DOUBLE) / df), 9) AS w,
             CAST(row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY round((CAST(tc AS DOUBLE) / dlen) * ln(CAST(n.n AS DOUBLE) / df), 9) DESC,
                        tf.term) AS INT) AS rk
           FROM tf JOIN dlen ON tf.doc_id = dlen.doc_id
                JOIN df ON tf.term = df.term
                CROSS JOIN n)
         WHERE rk <= 3 ORDER BY doc_id, rk""")
      .crossJoinOk("crosses a 1-row broadcast count scalar — O(1) build side"),
    KeySpec.batch("llm_quality_score", llmQualityScore, shuffles = 1,
      """SELECT doc_id, n_chars,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           floor((CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))) * 1e6) / 1e6 AS avg_token_len,
           floor((CAST(len(list_filter(string_split(text, ' '),
             w -> list_contains(['the','a','of','and','to','in','is','on'], w))) AS DOUBLE)
             / len(string_split(text, ' '))) * 1e6) / 1e6 AS stop_ratio,
           floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' '))) * 1e6) / 1e6 AS distinct_ratio,
           floor((
             (CASE WHEN len(string_split(text, ' ')) BETWEEN 30 AND 1000 THEN 0.5 ELSE 0.0 END)
             + (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                  w -> list_contains(['the','a','of','and','to','in','is','on'], w))) AS DOUBLE)
                  / len(string_split(text, ' ')) > 0.02 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) > 0.2 THEN 0.25 ELSE 0.0 END)) * 1e2) / 1e2 AS quality
         FROM documents ORDER BY doc_id"""),
    KeySpec.batch("llm_lang_id", llmLangId, shuffles = 1,
      """SELECT doc_id, lang AS true_lang,
           (list_reverse(list_sort([
             {'score': CAST(len(list_filter(string_split(text,' '), w -> w='the')) +
                       len(list_filter(string_split(text,' '), w -> w='and')) +
                       len(list_filter(string_split(text,' '), w -> w='of')) AS BIGINT), 'lang': 'en'},
             {'score': CAST(len(list_filter(string_split(text,' '), w -> w='el')) +
                       len(list_filter(string_split(text,' '), w -> w='la')) +
                       len(list_filter(string_split(text,' '), w -> w='de')) AS BIGINT), 'lang': 'es'},
             {'score': CAST(len(list_filter(string_split(text,' '), w -> w='der')) +
                       len(list_filter(string_split(text,' '), w -> w='und')) +
                       len(list_filter(string_split(text,' '), w -> w='die')) AS BIGINT), 'lang': 'de'},
             {'score': CAST(len(list_filter(string_split(text,' '), w -> w='le')) +
                       len(list_filter(string_split(text,' '), w -> w='la')) +
                       len(list_filter(string_split(text,' '), w -> w='et')) AS BIGINT), 'lang': 'fr'},
             {'score': CAST(CASE WHEN regexp_matches(text, '[一-鿿]') THEN 100 ELSE 0 END AS BIGINT), 'lang': 'zh'}
           ]))[1]).lang AS pred_lang
         FROM documents ORDER BY doc_id"""),
    KeySpec.batch("llm_fingerprint", llmFingerprint, shuffles = 1,
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 w -> CAST(length(w) * 17 + ascii(substr(w, 1, 1)) AS BIGINT))),
             (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         FROM documents ORDER BY doc_id"""),
    KeySpec.batch("llm_feature_hash", llmFeatureHash, shuffles = 2,
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         SELECT doc_id,
           CAST((length(w) * 17 + ascii(substr(w, 1, 1)) * 31
                 + ascii(substr(w, length(w), 1)) * 7) % 32 AS INT) AS bucket,
           count(*) AS cnt
         FROM tok GROUP BY doc_id, bucket ORDER BY doc_id, bucket"""),
    KeySpec.batch("llm_ngram_lm", llmNgramLm, shuffles = 2,
      """WITH toks AS (
           SELECT string_split(text, ' ') AS w FROM documents),
         idx AS (
           SELECT w, unnest(range(1, len(w))) AS i FROM toks),
         pairs AS (
           SELECT list_extract(w, CAST(i AS INT)) AS w1,
                  list_extract(w, CAST(i AS INT) + 1) AS w2
           FROM idx),
         big AS (SELECT w1, w2, count(*) AS n12 FROM pairs GROUP BY w1, w2),
         uni AS (SELECT w1, count(*) AS n1 FROM pairs GROUP BY w1)
         SELECT b.w1, b.w2, n12, n1,
           CAST(n12 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p
         FROM big b JOIN uni u USING (w1)
         ORDER BY n12 DESC, w1, w2 LIMIT 50"""),
    KeySpec.batch("llm_ngram_windows", llmNgramWindows, shuffles = 1,
      """WITH toks AS (
           SELECT string_split(text, ' ') AS w FROM documents),
         idx AS (
           SELECT w, unnest(range(1, len(w) - 1)) AS i FROM toks),
         tri AS (
           SELECT list_extract(w, CAST(i AS INT)) || '_' ||
                  list_extract(w, CAST(i AS INT) + 1) || '_' ||
                  list_extract(w, CAST(i AS INT) + 2) AS gram
           FROM idx)
         SELECT gram, count(*) AS n FROM tri
         GROUP BY gram ORDER BY n DESC, gram LIMIT 20"""),
    KeySpec.batch("llm_lm_score", llmLmScore, shuffles = 4,
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         idx AS (
           SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
         prs AS (
           SELECT doc_id, list_extract(w, CAST(i AS INT)) AS w1,
                  list_extract(w, CAST(i AS INT) + 1) AS w2
           FROM idx),
         big AS (SELECT w1, w2, count(*) AS n12 FROM prs GROUP BY w1, w2),
         uni AS (SELECT w1, sum(n12) AS n1 FROM big GROUP BY w1),
         lm AS (
           SELECT w1, w2,
             floor((CAST(n12 AS DOUBLE) / CAST(n1 AS DOUBLE)) * 1e6) / 1e6 AS p
           FROM big JOIN uni USING (w1))
         SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(CAST(p AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_p
         FROM prs JOIN lm USING (w1, w2)
         GROUP BY doc_id ORDER BY doc_id"""),
    KeySpec.batch("llm_repetition", llmRepetition, shuffles = 5,
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
         t AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct, max(c) AS top_c
           FROM tc GROUP BY doc_id),
         toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         idx AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
         prs AS (
           SELECT doc_id, list_extract(w, CAST(i AS INT)) AS w1,
                  list_extract(w, CAST(i AS INT) + 1) AS w2
           FROM idx),
         bc AS (SELECT doc_id, w1, w2, count(*) AS bc FROM prs GROUP BY doc_id, w1, w2),
         b AS (
           SELECT doc_id, CAST(sum(bc) AS BIGINT) AS n_bigrams,
             count(*) AS n_distinct_bigrams
           FROM bc GROUP BY doc_id)
         SELECT t.doc_id, n_tokens,
           floor((CAST(top_c AS DOUBLE) / n_tokens) * 1e6) / 1e6 AS top_token_frac,
           floor((1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) * 1e6) / 1e6 AS dup_token_frac,
           floor((1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams) * 1e6) / 1e6 AS dup_bigram_frac
         FROM t LEFT JOIN b ON t.doc_id = b.doc_id
         ORDER BY t.doc_id"""),
    KeySpec.batch("llm_source_drift", llmSourceDrift, shuffles = 4,
      """WITH tok AS (
           SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         counts AS (SELECT source, w, count(*) AS o FROM tok GROUP BY source, w),
         top AS (
           SELECT w, CAST(sum(o) AS BIGINT) AS tok_n FROM counts
           GROUP BY w ORDER BY tok_n DESC, w LIMIT 50),
         src AS (SELECT source, CAST(sum(o) AS BIGINT) AS src_n FROM counts GROUP BY source),
         tot AS (SELECT CAST(sum(src_n) AS BIGINT) AS all_n FROM src),
         grid AS (
           SELECT s.source, t.w, s.src_n, t.tok_n,
             coalesce(c.o, 0) AS o, tot.all_n
           FROM src s CROSS JOIN top t
           LEFT JOIN counts c ON c.source = s.source AND c.w = t.w
           CROSS JOIN tot),
         terms AS (
           SELECT source,
             floor(((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e) * 1e6) / 1e6 AS term
           FROM (
             SELECT source, o,
               CAST(src_n AS DOUBLE) * CAST(tok_n AS DOUBLE) / CAST(all_n AS DOUBLE) AS e
             FROM grid))
         SELECT source, count(*) AS n_cells,
           CAST(sum(CAST(term AS DECIMAL(30,6))) AS DOUBLE) AS chi2
         FROM terms GROUP BY source ORDER BY source""")
      .crossJoinOk("crosses the 50-row broadcast top-token list and the 1-row corpus " +
        "total against the sources dim — O(1) build sides")
      .constructionJobsOk("token counts localCheckpoint'd once, reused by " +
        "top-50/source-total/chi-square consumers"))
}
