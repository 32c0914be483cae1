package graft

import org.apache.spark.sql.functions._

/** `llm_bpe_train` (operators/Clustering.scala): merge determinism
  * under repartitioning and the corpus-shrink property of greedy
  * pair fusion; `llm_tokenizer_fertility`'s totals against the
  * oracled encode key. */
class BpeSpec extends SparkTestBase {

  test("merge table is invariant under input partitioning") {
    val m3 = operators.Clustering.bpeTrain(spark, sf, nMerges = 4, preShuffle = 3)
      .collect().toSeq
    val m8 = operators.Clustering.bpeTrain(spark, sf, nMerges = 4, preShuffle = 8)
      .collect().toSeq
    assert(m3 == m8, s"merge tables differ:\n$m3\nvs\n$m8")
    assert(m3.size == 4)
    m3.foreach(r => assert(r.getLong(3) > 0))
  }

  test("each learned merge has a strictly positive, non-increasing-rank count on the sample") {
    val m = operators.Clustering.bpeTrain(spark, sf, nMerges = 4).collect()
    // counts need not be monotone (a merge can create new frequent
    // pairs), but rank 1 must be the global max of round 1: check it
    // dominates a direct round-1 pair count
    val w = split(col("text"), " ")
    val direct = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(explode(when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => struct(element_at(w, i).as("a"), element_at(w, i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("pr"))
      .groupBy("pr.a", "pr.b").agg(count(lit(1)).as("n"))
      .agg(max("n")).collect().head.getLong(0)
    assert(m(0).getLong(3) == direct,
      s"rank-1 merge count ${m(0).getLong(3)} != round-1 max pair count $direct")
  }

  test("encode: covers every document, conserves tokens, and fuses real merges") {
    val enc = operators.Clustering.llmBpeEncode(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(enc.length == nDocs,
      s"encode must cover the FULL corpus (train-on-sample asymmetry): ${enc.length} vs $nDocs")
    // token conservation: each fuse removes exactly one boundary, so
    // raw count = encoded count + merged count, per document
    val raw = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_raw"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    enc.foreach { r =>
      assert(r.getInt(1) + r.getInt(2) == raw(r.getLong(0)),
        s"doc ${r.getLong(0)}: n_tok ${r.getInt(1)} + n_merged ${r.getInt(2)} != raw ${raw(r.getLong(0))}")
    }
    // the sample the merges were trained on must actually compress
    assert(enc.filter(r => r.getLong(0) % 10 == 0).map(_.getInt(2)).sum > 0,
      "no merge landed on the training sample — merge table is vacuous")
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
