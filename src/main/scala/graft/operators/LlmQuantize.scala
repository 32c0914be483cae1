package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft._

/** Round-8 session-4 training-data operators: embedding storage
  * quantization and temperature-scaled source mixing — both in the
  * exact-integer / md5-portable discipline so the APPROXIMATE
  * artifacts themselves hash-match DuckDB (the `agg_cms` /
  * `llm_knn_signlsh` trick: derive everything from integers and md5,
  * the two primitives both engines compute bit-identically).
  */
object LlmQuantize {

  /** `llm_emb_quantize` — symmetric int8 scalar quantization of the
    * embedding column, the storage-compression step a 100 TB
    * embedding corpus runs before ANN indexing (4× smaller than
    * float32, dot products stay integer). Per vector: scale =
    * max|component| in the micro-unit integer domain, code =
    * round-half-up(127·|m|/scale) with the sign restored — all exact
    * integer arithmetic (`DIV`), so codes, saturation counts, and the
    * squared reconstruction error (in (127·micro)² units) are
    * engine-bit-identical; no float rounding anywhere until nothing
    * is left to round.
    *
    * Scale shape: posexplode → two vec_id aggregations and one join
    * back; every frame is per-vector or per-component, nothing
    * global. The scale frame is |vectors| rows — AQE broadcasts it
    * while it fits and falls back to the co-partitioned join beyond
    * that; at any SF the heavy side shuffles on vec_id only. */
  val llmEmbQuantize: QFn = (s, d) => {
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        floor(col("col").cast("double") * 1000000.0).cast("long").as("m"))
    val sc = ex.groupBy("vec_id")
      .agg(greatest(max(abs(col("m"))), lit(1L)).as("scale"))
    ex.join(sc, "vec_id")
      .selectExpr("vec_id", "pos", "m", "scale",
        """CASE WHEN m >= 0 THEN (254 * m + scale) DIV (2 * scale)
                ELSE -((254 * -m + scale) DIV (2 * scale)) END AS qc""")
      .groupBy("vec_id", "scale")
      .agg(
        sum(col("qc") * (col("pos") + lit(1L))).as("code_checksum"),
        sum(when(abs(col("qc")) === 127, 1L).otherwise(0L)).as("n_saturated"),
        sum((lit(127L) * col("m") - col("qc") * col("scale")) *
          (lit(127L) * col("m") - col("qc") * col("scale"))).as("recon_err"))
      .orderBy("vec_id")
  }

  /** `llm_sample_temperature` — temperature-scaled source mixing
    * (α = 0.5), the data-mix rebalancing step of a pre-training run:
    * each stratum's allotment is min(count, ⌈K·√count⌉), so dominant
    * strata are cut ∝ √size while tail strata survive intact — the
    * flattened-multinomial shape of multilingual multi-source sampling,
    * with the normalization constant folded into K. α = 0.5 is chosen
    * deliberately: √ is IEEE-correctly-rounded in BOTH engines where
    * a general pow(x, α) is not, so the allotments are bit-exact.
    * Within a stratum, kept docs are the md5-least doc_ids — the
    * deterministic engine-portable stand-in for a seeded uniform
    * draw (same device as `llm_global_shuffle`).
    *
    * The mixing stratum is (lang, length band) — the shipped
    * `source` column is uniform by construction, and a skewed
    * stratum is what makes √-flattening observable (154-doc en-short
    * band keeps 50, 14-doc de-long band keeps all 14 at sf0.01).
    *
    * Scale shape: one count aggregation (|strata| rows, broadcast
    * back), one window rank per stratum — the same two exchanges at
    * any corpus size; no global sort, no driver state. */
  val llmSampleTemperature: QFn = (s, d) => {
    val K = 4.0
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("lang"), lit("_"),
          expr("n_chars DIV 400").cast("string")).as("stratum"))
    val allot = docs.groupBy("stratum")
      .agg(count(lit(1)).as("c_total"))
      .withColumn("allot",
        least(col("c_total"),
          ceil(lit(K) * sqrt(col("c_total").cast("double"))).cast("long")))
    val rk = row_number().over(Window.partitionBy("stratum")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
    docs.withColumn("rk", rk)
      .join(broadcast(allot), "stratum")
      .filter(col("rk") <= col("allot"))
      .groupBy("stratum", "c_total", "allot")
      .agg(count(lit(1)).as("kept"),
        sum(col("doc_id")).as("doc_checksum"))
      .orderBy("stratum")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("llm_emb_quantize", llmEmbQuantize,
      // explode-agg + scale join-back agg + sort
      shuffles = 3,
      """WITH ex AS (
           SELECT vec_id, CAST(t.i AS INT) AS pos,
             CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 1000000.0)
               AS BIGINT) AS m
           FROM embeddings, range(64) t(i)),
         sc AS (
           SELECT vec_id, greatest(max(abs(m)), 1) AS scale
           FROM ex GROUP BY 1),
         q AS (
           SELECT e.vec_id, e.pos, e.m, sc.scale,
             CASE WHEN e.m >= 0 THEN (254 * e.m + sc.scale) // (2 * sc.scale)
                  ELSE -((254 * -e.m + sc.scale) // (2 * sc.scale)) END AS qc
           FROM ex e JOIN sc USING (vec_id))
         SELECT vec_id, scale,
           CAST(sum(qc * (pos + 1)) AS BIGINT) AS code_checksum,
           CAST(sum(CASE WHEN abs(qc) = 127 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_saturated,
           CAST(sum((127 * m - qc * scale) * (127 * m - qc * scale))
             AS BIGINT) AS recon_err
         FROM q GROUP BY 1, 2 ORDER BY vec_id"""),
    KeySpec.batch("llm_sample_temperature", llmSampleTemperature,
      // stratum count + stratum window rank + final agg
      // (the allot frame broadcasts)
      shuffles = 3,
      """WITH docs AS (
           SELECT doc_id, lang || '_' || CAST(n_chars // 400 AS VARCHAR)
             AS stratum
           FROM documents),
         al AS (
           SELECT stratum, CAST(count(*) AS BIGINT) AS c_total,
             least(CAST(count(*) AS BIGINT),
               CAST(ceil(4.0 * sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
               AS allot
           FROM docs GROUP BY 1),
         r AS (
           SELECT stratum, doc_id,
             row_number() OVER (PARTITION BY stratum
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM docs)
         SELECT r.stratum, a.c_total, a.allot,
           CAST(count(*) AS BIGINT) AS kept,
           CAST(sum(r.doc_id) AS BIGINT) AS doc_checksum
         FROM r JOIN al a ON r.stratum = a.stratum
         WHERE r.rk <= a.allot
         GROUP BY 1, 2, 3 ORDER BY 1"""))
}
