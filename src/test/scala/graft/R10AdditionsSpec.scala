package graft

/** Semantic invariants for the round-10 additions (`ts_corwin_schultz`,
  * `llm_tokenizer_fertility`) — as with QuantCorpusSpec, the DuckDB
  * oracle proves cross-engine hash equality; these prove the
  * statistics MEAN what they claim, independently recomputed in plain
  * Scala / through the already-oracled sibling key. */
class R10AdditionsSpec extends SparkTestBase {

  test("ts_corwin_schultz: per-symbol estimate matches a plain-Scala replay of the formula") {
    import org.apache.spark.sql.functions._
    val out = operators.TimeSeries.tsCorwinSchultz(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("cs_spread_raw"),
          r.getAs[Double]("cs_spread"))).toMap
    assert(out.nonEmpty)

    // independent replay: hourly hi/lo bars per symbol, consecutive
    // pairs, the published formula, round(6), exact decimal mean
    val bars = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("bar"), col("event_type"))
      .agg(max("value").as("hi"), min("value").as("lo"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("bar").getTime,
        r.getAs[Double]("hi"), r.getAs[Double]("lo")))
      .groupBy(_._1)
    val den = 3.0 - 2.0 * math.sqrt(2.0)
    bars.foreach { case (sym, rows) =>
      val series = rows.sortBy(_._2).map(t => (t._3, t._4))
      // mirror the engine's lp>0/lo>0 guard: a regenerated fixture
      // with a non-positive bar price must not NaN the replay
      val s6s = series.sliding(2).collect {
          case Array((hp, lp), (hi, lo)) if lp > 0 && lo > 0 =>
        val beta = math.pow(math.log(hp / lp), 2) + math.pow(math.log(hi / lo), 2)
        val gamma = math.pow(math.log(math.max(hi, hp) / math.min(lo, lp)), 2)
        val a = (math.sqrt(2 * beta) - math.sqrt(beta)) / den - math.sqrt(gamma / den)
        val sRaw = 2.0 * (math.exp(a) - 1.0) / (math.exp(a) + 1.0)
        BigDecimal(sRaw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.toSeq
      if (s6s.isEmpty) assert(!out.contains(sym), s"$sym: no pairs, no row")
      else {
        val (n, raw, clamped) = out(sym)
        assert(n == s6s.length, s"$sym pair count")
        // mirror the engine: exact decimal sum -> double, THEN divide
        def fq9(x: Double) = math.floor(x * 1e9) / 1e9
        assert(raw == fq9(s6s.sum.toDouble / n), s"$sym raw mean")
        assert(clamped ==
          fq9(s6s.map(_.max(BigDecimal(0))).sum.toDouble / n), s"$sym clamped mean")
        // the clamped estimator dominates the raw one by construction
        assert(clamped >= raw && clamped >= 0.0)
      }
    }
  }

  test("ts_tsrv: per-symbol statistics match a plain-Scala replay of the two-scale formula") {
    import org.apache.spark.sql.functions.{col, floor}
    val K = operators.TimeSeries.TsrvK
    val out = operators.TimeSeries.tsTsrv(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Double]("rv_all"), r.getAs[Double]("tsrv")))
      .toMap
    assert(out.nonEmpty)
    val ticks = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"),
        floor(col("value") * 1000.0).cast("long").as("q"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id"),
        r.getAs[Long]("q")))
      .groupBy(_._1)
    def fq9(x: Double) = math.floor(x * 1e9) / 1e9
    ticks.foreach { case (sym, rows) =>
      val q = rows.sortBy(t => (t._2, t._3)).map(_._4)
      val n = q.length
      if (n <= K) assert(!out.contains(sym))
      else {
        val rvAll = (1 until n).map(i => { val d = q(i) - q(i - 1); d * d }).sum
        val rvK = (K until n).map(i => { val d = q(i) - q(i - K); d * d }).sum
        val (no, ra, ts) = out(sym)
        assert(no == n, s"$sym tick count")
        assert(ra == fq9(rvAll.toDouble / 1e6), s"$sym rv_all")
        assert(ts == fq9((rvK.toDouble / K -
          ((n - K + 1).toDouble / K / n) * rvAll.toDouble) / 1e6), s"$sym tsrv")
        assert(ra >= 0.0, s"$sym: realized variance is a sum of squares")
      }
    }
  }

  test("mm_phash_neardup: banded output equals brute-force all-pairs (pigeonhole exactness)") {
    import org.apache.spark.sql.functions._
    val out = operators.Multimodal.mmPhashNeardup(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Int]("hamming"))
      .toMap
    assert(out.nonEmpty, "the corpus should yield at least one Hamming<=5 pair")
    // brute force through the SAME kernel: every pair at Hamming <= 5
    // must appear (banding is exact for tau <= 5 by pigeonhole), with
    // the same distance, and nothing else
    val hs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        operators.Multimodal.ahash32(r.getString(1).getBytes("UTF-8")))
      .sortBy(_._1)
    val brute = (for {
      i <- hs.indices.iterator; j <- (i + 1) until hs.length
      h = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2) if h <= 5
    } yield (hs(i)._1, hs(j)._1) -> h).toMap
    assert(out == brute, s"banded ${out.size} pairs vs brute ${brute.size}")
  }

  test("ahash32 kernel: known payloads hash as constructed") {
    // 32 equal blocks of 4 bytes: block mean > payload mean exactly
    // where the block carries the high byte
    val base = Array.fill(128)(10.toByte)
    assert(operators.Multimodal.ahash32(base) == 0L, "uniform payload: no bit set")
    val spiked = base.clone(); spiked(0) = 100.toByte // block 0 above mean
    assert(operators.Multimodal.ahash32(spiked) == 1L, "only block 0 set")
    val two = spiked.clone(); two(127) = 100.toByte   // + block 31
    assert(operators.Multimodal.ahash32(two) == (1L | (1L << 31)))
    assert(java.lang.Long.bitCount(
      operators.Multimodal.ahash32(spiked) ^ operators.Multimodal.ahash32(two)) == 1)
    assert(operators.Multimodal.ahash32(Array.emptyByteArray) == 0L)
  }

  test("llm_tokenizer_fertility: per-lang totals equal the oracled encode key's sums") {
    import org.apache.spark.sql.functions._
    val fert = operators.Clustering.llmTokenizerFertility(spark, sf).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tok"),
          r.getAs[Long]("total_chars"), r.getAs[Long]("fert_micro"))).toMap
    assert(fert.nonEmpty)
    // llm_bpe_encode is hash-oracled; summing ITS per-doc token counts
    // per language must reproduce the fertility totals exactly
    val viaEncode = operators.Clustering.llmBpeEncode(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok").cast("long")).as("tok"),
        sum("n_chars").as("chars"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("tok"), r.getAs[Long]("chars")))
    assert(viaEncode.nonEmpty && viaEncode.map(_._1).toSet == fert.keySet)
    viaEncode.foreach { case (lang, nd, tok, chars) =>
      val (n, t, c, f) = fert(lang)
      assert(n == nd && t == tok && c == chars, s"$lang totals")
      assert(f == t * 1000000L / c, s"$lang truncating fertility division")
      assert(f > 0 && f < 1000000L, "fertility: tokens per char in (0, 1)")
    }
  }
}
