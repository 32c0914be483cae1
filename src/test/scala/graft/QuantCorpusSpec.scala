package graft

import org.apache.spark.sql.Row

/** Semantic invariants for the market-microstructure keys (TimeSeries)
  * and LlmCorpus. The driver's DuckDB oracle proves cross-engine hash
  * equality; these assert the STATISTICS mean what they claim — the
  * class of bug a hash match against an identically-wrong SQL twin
  * would not catch. */
class QuantCorpusSpec extends SparkTestBase {

  test("ts_rolling_beta: the market's beta against itself is identically 1") {
    val rows = operators.TimeSeries.tsRollingBeta(spark, sf)
      .filter("event_type = 'purchase'").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => math.abs(r.getAs[Double]("beta") - 1.0) < 1e-9),
      "cov(m,m)/var(m) must be exactly 1 for the index series")
  }

  test("ts_autocorr: coefficients are true correlations (|r| <= 1), one row per (type, lag)") {
    val rows = operators.TimeSeries.tsAutocorr(spark, sf).collect()
    val types = rows.map(_.getAs[String]("event_type")).distinct
    assert(rows.length == types.length * 2, "lag 1 and lag 2 per event_type")
    assert(rows.forall(r => math.abs(r.getAs[Double]("autocorr")) <= 1.0 + 1e-9))
    // lag-2 has exactly one fewer pair than lag-1 on a gap-free series
    // (not asserted: sparse sf0.001 hours can gap) — but n must shrink
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val byLag = rs.map(r => r.getAs[Int]("lag") -> r.getAs[Long]("n")).toMap
      assert(byLag(2) <= byLag(1))
    }
  }

  test("ts_bidask_spread: micro-unit identities hold and only two-sided hours emit") {
    val rows = operators.TimeSeries.tsBidaskSpread(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bid") > 0 && r.getAs[Long]("n_ask") > 0)
      val bid = r.getAs[Long]("bid_micro"); val ask = r.getAs[Long]("ask_micro")
      assert(r.getAs[Long]("spread_micro") == ask - bid)
      assert(r.getAs[Long]("mid_micro") == (bid + ask) / 2)
    }
  }

  test("ts_bidask_spread: constructed boundary bar yields exact integer micro-units (r8 hash-mismatch regression)") {
    // r8's round(<derived double>, 6) output diverged from DuckDB on a
    // representation-boundary row. Pin the integer recipe on exactly
    // such a bar: bid avg 0.015 (binary double ...0.014999999999999999)
    // and a NEGATIVE spread bar exercising the sign·(abs div) contract
    // (integer division is only guaranteed engine-identical on
    // non-negative numerators, which the abs() guarantees).
    import java.sql.Timestamp
    val dir = scratchDir("bidask_boundary")
    val h1 = Timestamp.valueOf("2024-01-01 10:00:00")
    val h2 = Timestamp.valueOf("2024-01-01 11:00:00")
    val rows = Seq(
      // hour 1: bid cents {1,2} → avg 1.5 cents = 15000 micro; asks 100.10/100.15
      (1L, h1, 1L, "view", 0.01, "{}"),
      (2L, h1, 1L, "view", 0.02, "{}"),
      (3L, h1, 2L, "purchase", 100.10, "{}"),
      (4L, h1, 2L, "purchase", 100.15, "{}"),
      // hour 2: inverted market → negative spread
      (5L, h2, 1L, "view", 200.00, "{}"),
      (6L, h2, 2L, "purchase", 100.00, "{}"))
    import spark.implicits._
    // ts as bare epoch-µs longs: Tables.loadEvents' INT64_US footer
    // probe handles that shape (a Spark-default timestamp write can
    // land as INT96, which the loader rejects by design)
    rows.map { case (id, ts, uid, et, v, p) => (id, ts.getTime * 1000L, uid, et, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = operators.TimeSeries.tsBidaskSpread(spark, dir)
      .collect().sortBy(_.getAs[Timestamp]("bar").getTime)
    assert(out.length == 2)
    val b1 = out(0)
    assert(b1.getAs[Long]("bid_micro") == 15000L)        // (3 cents·1e4) div 2
    assert(b1.getAs[Long]("ask_micro") == 100125000L)    // (20025·1e4) div 2
    assert(b1.getAs[Long]("spread_micro") == 100110000L)
    assert(b1.getAs[Long]("mid_micro") == 50070000L)
    assert(b1.getAs[Long]("spread_bps_c") == 1999400L)   // floor(1.0011e14/5.007e7)
    val b2 = out(1)
    assert(b2.getAs[Long]("bid_micro") == 200000000L)
    assert(b2.getAs[Long]("ask_micro") == 100000000L)
    assert(b2.getAs[Long]("spread_micro") == -100000000L)
    assert(b2.getAs[Long]("mid_micro") == 150000000L)
    // sign·(abs div mid): -(1e14 div 1.5e8) = -666666 (a floor-style
    // signed division would give -666667 — the abs form pins trunc)
    assert(b2.getAs[Long]("spread_bps_c") == -666666L)
  }

  test("ts_roll_spread: spread only where serial covariance is negative, and equals 2*sqrt(-cov)") {
    val rows = operators.TimeSeries.tsRollSpread(spark, sfData).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cov = r.getAs[Double]("serial_cov")
      val spread = Option(r.getAs[Any]("roll_spread")).map(_.asInstanceOf[Double])
      if (cov < -1e-12) {
        assert(spread.isDefined, s"negative cov $cov must yield a spread")
        // fq quantization makes both sides grid-adjacent, not exact
        assert(math.abs(spread.get - 2.0 * math.sqrt(-cov)) < 1e-4,
          s"spread ${spread.get} vs 2*sqrt(-cov) ${2.0 * math.sqrt(-cov)}")
      } else assert(spread.isEmpty, "momentum regime must yield NULL spread")
    }
  }

  test("ts_amihud: illiquidity is positive and scales like impact-per-size") {
    val rows = operators.TimeSeries.tsAmihud(spark, sfData).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bars") > 0)
      assert(r.getAs[Double]("amihud_x1e6") >= 0.0)
    }
  }

  test("ts_kyle_lambda: one regression row over the joined bar frame") {
    val rows = operators.TimeSeries.tsKyleLambda(spark, sfData).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n") > 0)
  }

  test("ts_variance_ratio: VR(4) is positive and matches a driver-side recomputation") {
    val rows = operators.TimeSeries.tsVarianceRatio(spark, sfData).collect()
    assert(rows.nonEmpty)
    // recompute one symbol's VR from raw hourly bars on the driver
    val et = rows.head.getAs[String]("event_type")
    import org.apache.spark.sql.functions._
    val q = Tables.events(spark, sfData)
      .filter(col("event_type") === et)
      .groupBy(date_trunc("hour", col("ts")).as("bar"))
      .agg(graft.Det.davg2(col("value")).as("px"))
      .orderBy("bar")
      .select(floor(col("px") * 1000.0).cast("long"))
      .collect().map(_.getLong(0))
    def varOf(rs: Seq[Long]): Double = {
      val n = rs.length.toDouble
      (n * rs.map(r => r.toDouble * r).sum - math.pow(rs.map(_.toDouble).sum, 2)) / (n * n)
    }
    val r1 = q.sliding(2).map(p => p(1) - p(0)).toSeq
    val r4 = q.indices.drop(4).map(i => q(i) - q(i - 4))
    val want = varOf(r4) / (4.0 * varOf(r1))
    val got = rows.head.getAs[Double]("vr4")
    assert(rows.forall(_.getAs[Double]("vr4") > 0.0))
    assert(math.abs(got - want) < 1e-4, s"VR(4) $got vs recomputed $want")
  }

  test("ts_var_es: expected shortfall is at most VaR and both sit in the loss tail") {
    val rows = operators.TimeSeries.tsVarEs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[Double]("var95"); val es = r.getAs[Double]("es95")
      // ES is the mean of returns <= the 5th-percentile return
      assert(es <= v + 1e-9, s"ES $es must not exceed VaR $v")
      assert(r.getAs[Long]("n_returns") > 0)
    }
  }

  test("ts_effective_spread: enrichment builds on the native as-of SparkPlan, spreads non-negative") {
    val rows = operators.TimeSeries.tsEffectiveSpread(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_eff_spread") >= 0.0)
      assert(r.getAs[Long]("n_trades") > 0)
    }
    // the consumer reads the staged enrichment (tick-store shape); the
    // native as-of node lives in the BUILD plan, pinned here
    val p = operators.TimeSeries.enrichTrades(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoinExec") || p.contains("AsOfJoin"),
      s"expected the native as-of physical node in the build plan:\n$p")
  }

  test("ts_trade_sign: classes partition the classified trades; share matches the counts") {
    val rows = operators.TimeSeries.tsTradeSign(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("n_buy"); val sl = r.getAs[Long]("n_sell")
      val m = r.getAs[Long]("n_mid"); val tot = b + sl + m
      assert(tot > 0)
      assert(r.getAs[Long]("buy_share_q") ==
        math.floor(b.toDouble / tot.toDouble * 1000000.0).toLong)
    }
  }

  test("ts_ofi: imbalance is the signed-size flow over the classified volume") {
    val rows = operators.TimeSeries.tsOfi(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("buy_size"); val sl = r.getAs[Long]("sell_size")
      assert(r.getAs[Long]("ofi") == b - sl)
      if (b + sl > 0)
        assert(r.getAs[Long]("imbalance_q") ==
          math.floor((b - sl).toDouble / (b + sl).toDouble * 1000000.0).toLong)
      else assert(r.isNullAt(r.fieldIndex("imbalance_q")))
    }
  }

  test("llm_collocations: ranking equals exact-rational PMI order (cross-multiplication)") {
    val rows = operators.LlmCorpus.llmCollocations(spark, sf).collect()
    assert(rows.length == 50)
    // nn is constant across rows, so the exact PMI order reduces to
    // n12/(cx·cy) compared by integer cross-multiplication
    val rs = rows.map(r => (
      BigInt(r.getAs[Long]("n12")),
      BigInt(r.getAs[Long]("cx")) * BigInt(r.getAs[Long]("cy")),
      r.getAs[Long]("pmi_ratio_q")))
    rs.sliding(2).foreach { case Array((a1, b1, q1), (a2, b2, q2)) =>
      assert(q1 >= q2, "quantized score must be non-increasing")
      // a strictly larger quantized score must reflect a strictly
      // larger exact ratio (floor(x·1e6) is monotone)
      if (q1 > q2) assert(a1 * b2 > a2 * b1)
    }
  }

  test("stream_asof_enrich equals the batch as-of join row-for-row (cross-batch state)") {
    // the key's core claim: quote state carries ACROSS micro-batches,
    // so a trade in chunk k matches a quote from any earlier chunk —
    // asserted by full equality with the batch backward as-of on
    // max-value-deduplicated quotes, computed independently here
    import org.apache.spark.sql.functions._
    val streamed = streaming.Streaming.streamAsofEnrich(spark, sf)
      .collect().map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Double]("mid")).map(_.doubleValue)))
      .toMap
    val e = Tables.events(spark, sf)
    val quotes = e.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("q_uid"), col("ts").as("q_ts"))
      .agg(max("value").as("qv"))
    val trades = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val batch = plans.AsOfJoinPlans
      .asofJoin(trades, quotes, "user_id", "q_uid", "ts", "q_ts", "qv", "mid")
      .collect().map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Double]("mid")).map(_.doubleValue)))
      .toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch, "flushed temporal join diverged from the batch as-of")
    assert(streamed.values.exists(_.isDefined) && streamed.values.exists(_.isEmpty),
      "fixture must exercise both matched and no-quote-yet trades")
  }

  test("llm_incremental_dedup: survivors collide with neither the corpus nor each other") {
    import org.apache.spark.sql.functions._
    val lead = md5(array_join(slice(split(col("text"), " "), 1, 16), " "))
    val docs = Tables.documents(spark, sf)
      .withColumn("src_num", regexp_extract(col("source"), "(\\d+)", 1).cast("int"))
      .withColumn("h", lead)
    val existing = docs.filter(col("src_num") < 16).select("h").distinct()
      .collect().map(_.getString(0)).toSet
    val byId = docs.select("doc_id", "h").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val kept = operators.LlmCorpus.llmIncrementalDedup(spark, sf).collect()
      .map(_.getAs[Long]("doc_id"))
    val keptHashes = kept.map(byId)
    assert(keptHashes.forall(h => !existing.contains(h)),
      "a survivor's lead fingerprint exists in the corpus")
    assert(keptHashes.distinct.length == keptHashes.length,
      "two survivors share a lead fingerprint")
    val incoming = docs.filter(col("src_num") >= 16).count()
    assert(kept.length <= incoming && kept.nonEmpty)
  }

  test("llm_doc_freq_prune: stopwords and hapax are really gone; per-doc counts are consistent") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val nDocs = docs.count()
    val rows = operators.LlmCorpus.llmDocFreqPrune(spark, sf).collect()
    assert(rows.length == nDocs, "one row per document")
    rows.foreach { r =>
      val nt = r.getAs[Long]("n_tokens"); val nk = r.getAs[Long]("n_kept")
      assert(nk >= 0 && nk <= nt)
      val q = r.getAs[Long]("pruned_ratio_q")
      assert(q == math.floor((nt - nk).toDouble / nt * 1000000.0).toLong)
    }
    // recompute df directly: any token with 2*df<=nDocs and df>=2 is
    // kept, everything else pruned — cross-check aggregate totals
    val toks = docs.select($"doc_id",
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
    val df = toks.distinct().groupBy("tok").count()
    val keptVocab = df.filter($"count" * 2 <= nDocs && $"count" >= 2)
      .select("tok").as[String].collect().toSet
    val expectKept = toks.filter($"tok".isin(keptVocab.toSeq: _*)).count()
    assert(rows.map(_.getAs[Long]("n_kept")).sum == expectKept)
  }
}
