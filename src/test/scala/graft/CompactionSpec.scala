package graft

/** `etl_compaction`: the rewrite actually compacts — 64 fragment
  * files in, at most 4 parquet data files out (content equality is
  * the DuckDB oracle's job). */
class CompactionSpec extends SparkTestBase {

  test("compacted layout has at most 4 parquet files") {
    operators.Etl.etlCompaction(spark, sf).collect()
    // the SAME app/dataset-suffixed paths the operator writes (a fixed
    // literal here once passed only via stale /tmp leftovers)
    val tight = new java.io.File(Tables.sinkPath(spark, sf, "compact_tight"))
    val frag = new java.io.File(Tables.sinkPath(spark, sf, "compact_frag"))
    def parquets(dir: java.io.File) =
      dir.listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parquets(frag) == 64, s"expected 64 fragment files, got ${parquets(frag)}")
    assert(parquets(tight) <= 4, s"expected <=4 compacted files, got ${parquets(tight)}")
  }
}
