package graft

import org.scalatest.funsuite.AnyFunSuite

/** The key registry: the oracle coverage it declares, the invariants
  * [[KeySpec.validate]] enforces, and the warm-up set Bench derives
  * from it. */
class KeySpecSpec extends AnyFunSuite {

  private val specs = SparkEntry.specs

  test("only the two adjudicated keys have no oracle") {
    assert(specs.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("llm_near_dedup", "stream_late_data"))
  }

  test("validate rejects duplicates, unregistered staging keys and unbudgeted batch keys") {
    val fn: QFn = (s, _) => s.emptyDataFrame
    val a = KeySpec.batch("a", fn, shuffles = 1, "SELECT 1")
    val dup = intercept[IllegalArgumentException](KeySpec.validate(Seq(a, a)))
    assert(dup.getMessage.contains("duplicate keys: a"))
    val staged = intercept[IllegalArgumentException](
      KeySpec.validate(Seq(a.reads("absent"))))
    assert(staged.getMessage.contains("unregistered staging keys: absent"))
    val unbudgeted = intercept[IllegalArgumentException](
      KeySpec.validate(Seq(a.copy(shuffleBudget = None))))
    assert(unbudgeted.getMessage.contains("without a shuffle budget: a"))
    val stream = KeySpec.stream("stream_x", fn, "SELECT 1")
    assert(KeySpec.validate(Seq(a, stream.reads("a"))).size == 2)
  }

  test("keySubset: the names in order, and a misspelt or empty subset fails") {
    assert(SparkEntry.keySubset(" ts_ofi,win_rank,ts_ofi") == Seq("ts_ofi", "win_rank"))
    val typo = intercept[IllegalArgumentException](SparkEntry.keySubset("ts_ofi,win_rnak"))
    assert(typo.getMessage.contains("unknown key(s): win_rnak"))
    intercept[IllegalArgumentException](SparkEntry.keySubset(","))
  }

  test("Bench warm-up: a full run warms every staging key in first-reference order") {
    assert(Bench.warmupKeys(specs, None) == Seq(
      "ts_effective_spread", "stream_tumbling", "stream_foreach_batch",
      "stream_late_data_final", "llm_knn_ivf", "llm_knn_ivf_append",
      "llm_knn_pq", "llm_near_dedup", "llm_incremental_neardup",
      "mm_phash_incremental", "llm_bpe_encode", "llm_unigram_vocab"))
  }

  test("Bench warm-up: a key subset warms only the artifacts it reads") {
    def warm(keys: String*) = Bench.warmupKeys(specs, Some(keys.toSet))
    assert(warm("ts_ofi") == Seq("ts_effective_spread"))
    assert(warm("stream_dedup") ==
      Seq("stream_tumbling", "stream_foreach_batch", "stream_late_data_final"))
    assert(warm("llm_knn_ivf_append") == Seq("llm_knn_ivf", "llm_knn_ivf_append"))
    assert(warm("llm_dedup_cluster") == Seq("llm_near_dedup"))
    assert(warm("win_rank").isEmpty)
  }
}
