package graft

import org.apache.spark.sql.functions.col

/** Distributed Lloyd k-means (operators/Clustering.scala): Lloyd
  * monotonicity, partitioning invariance (the quantized-integer
  * centroid updates are the load-bearing part), and full coverage. */
class KMeansSpec extends SparkTestBase {

  test("WSSSE is non-increasing across Lloyd iterations") {
    val w = (i: Int) => operators.Clustering.kmeans(spark, sf, iters = i)._1
      .collect().map(_.getDouble(2)).sum
    val w1 = w(1); val w2 = w(2); val w3 = w(3)
    assert(w2 <= w1 + 1e-9, s"iteration 2 increased WSSSE: $w1 -> $w2")
    assert(w3 <= w2 + 1e-9, s"iteration 3 increased WSSSE: $w2 -> $w3")
  }

  test("result is invariant under input partitioning") {
    // kmeansOn trains afresh on each input (no quantizer memo)
    val base = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val (r3, c3) = operators.Clustering.kmeansOn(spark, base.repartition(3), iters = 2)
    val (r8, c8) = operators.Clustering.kmeansOn(spark, base.repartition(8), iters = 2)
    assert(c3.map(_.toSeq).toSeq == c8.map(_.toSeq).toSeq,
      "centroids differ across partitionings")
    assert(r3.collect().toSeq == r8.collect().toSeq,
      "cluster stats differ across partitionings")
  }

  test("every vector is assigned exactly once") {
    val total = operators.Clustering.llmKmeans(spark, sf)
      .collect().map(_.getLong(1)).sum
    val n = Tables.embeddings(spark, sf).count()
    assert(total == n, s"assigned $total of $n vectors")
  }
}
