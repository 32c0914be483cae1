package graft

import org.apache.spark.sql.functions._

/** ANN recall gates re-measured at a scale replica (r4 verdict item
  * 5): the sf0.001 gates in [[LlmSpec]] prove the machinery; these
  * prove the CONSTANTS (K = 64 lists, nProbe = 20) still clear the
  * recall bar when the corpus is 40× that smoke corpus — the regime
  * where a bad quantizer or skewed lists would actually show.
  *
  * Gated on SPARK_GRAFT_SCALE_DIR (build one with
  * `runMain graft.Replicate /root/testdata/sf0.1 /tmp/graft_sf1 10`);
  * skips with info when absent so CI and the driver's suite run
  * unchanged. */
class ScaleRecallSpec extends SparkTestBase {

  private val scaleDir: Option[String] =
    sys.env.get("SPARK_GRAFT_SCALE_DIR")
      .filter(d => new java.io.File(d).isDirectory)

  test("llm_knn_ivf recall@5 >= 0.95 at <= 35% nominal scan on the scale corpus") {
    scaleDir match {
      case None =>
        info("SPARK_GRAFT_SCALE_DIR unset/absent — skipping scale recall")
      case Some(d) =>
        def pairs(df: org.apache.spark.sql.DataFrame) =
          df.select("probe_id", "vec_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val brute = pairs(operators.LlmSimilarity.llmKnnCosine(spark, d))
        val ivf = pairs(operators.LlmSimilarity.llmKnnIvf(spark, d))
        val recall = (brute & ivf).size.toDouble / brute.size
        val nominal =
          operators.LlmSimilarity.IvfNProbe.toDouble / operators.LlmSimilarity.IvfK
        // measured list skew from the persisted IVF layout — the thing
        // that turns a nominal 31% list budget into a larger row scan
        val (_, _, cand, denom) = operators.LlmSimilarity.ivfPrunedScan(spark, d)
        val layout = spark.read
          .parquet(operators.LlmSimilarity.ivfLayoutPath(spark, d))
          .groupBy("cluster").count().select("count")
          .collect().map(_.getLong(0))
        val (mx, avg) = (layout.max, layout.sum.toDouble / layout.length)
        info(f"scale corpus: recall@5 = $recall%.3f at nominal ${nominal * 100}%.0f%% scan")
        info(f"measured row-scan fraction = ${cand.toDouble / denom}%.3f; " +
          f"list skew: ${layout.length} non-empty lists, max/avg = ${mx / avg}%.2f " +
          f"(max $mx, avg $avg%.0f)")
        assert(recall >= 0.95, s"scale recall below the r4 gate: $recall")
        assert(nominal <= 0.35)
        assert(cand.toDouble / denom <= 0.5,
          f"row-scan fraction ${cand.toDouble / denom}%.3f — skew ate the pruning")
    }
  }

  test("llm_knn_pq recall@5 >= 0.85 on the scale corpus") {
    scaleDir match {
      case None =>
        info("SPARK_GRAFT_SCALE_DIR unset/absent — skipping scale recall")
      case Some(d) =>
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
        val probes = emb.filter(col("vec_id").isin(1L, 2L, 3L, 4L, 5L))
          .select(col("vec_id").as("probe_id"),
            col("embedding").cast("array<double>").as("pv"))
        val w = Window.partitionBy("probe_id").orderBy("d2", "vec_id")
        val truth = emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("d2", graft.functions.SqEuclidFD(col("embedding"), col("pv")))
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
          .select("probe_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val pq = operators.LlmSimilarity.llmKnnPq(spark, d)
          .select("probe_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (truth & pq).size.toDouble / truth.size
        info(f"scale corpus: PQ ADC recall@5 = $recall%.3f (100-candidate re-rank)")
        assert(recall >= 0.85, s"scale PQ recall below the r4 gate: $recall")
    }
  }
}
