package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders + schema contract for the driver-generated test data
  * (see TESTDATA.md). Schemas mirror the parquet footers exactly —
  * int32 vs int64 key types are preserved, never widened, so that the
  * DuckDB oracle compare sees identical physical types.
  *
  * At 100 TB these reads become partitioned-directory scans; nothing
  * here assumes a single file (spark.read.parquet takes globs/dirs).
  */
object Tables {

  /** Write-then-read sink path for operators that exercise a storage
    * layout (roundtrips, partition overwrites, IVF lists): `tag` and
    * the dataset dir's hash in this JVM's [[graft.bulkRunDir]], so two
    * JVMs (bench + test) never interleave writes into one directory
    * and every sink goes when its JVM exits. Within one JVM and
    * dataset the path is stable, so repeated runs of a key overwrite
    * their own sink. (`s` is unused; the call sites pass it.) */
  def sinkPath(s: SparkSession, d: String, tag: String): String =
    s"$bulkRunDir/${tag}_${d.hashCode & 0x7fffffff}"

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      // parquet timestamp[ms] with isAdjustedToUTC=false → NTZ in Spark 4
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  /** Explicit schema, not inference: `spark.read.parquet` with no
    * schema runs a footer-read job at EVERY query construction — at
    * 100 TB that is a driver-side file-listing + footer fetch per
    * query, and locally it is one spurious Spark job per key (caught
    * by PlanAudit's construction guard). The schema contract above is
    * the footer contract, so handing it to the reader is free; drift
    * still fails fast via [[loadChecked]] / the oracle hash gate. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, sfDir)
    else spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  /** `events.ts` has shipped as parquet `timestamp[ns]` (rejected by
    * Spark's vectorized reader, [PARQUET_TYPE_ILLEGAL]) in some
    * generations of the testdata and `timestamp[us]` (NTZ) in others —
    * the round-5 regeneration silently flipped ns → µs and a
    * hard-coded `ts div 1000` then compressed every timestamp 1000×,
    * breaking all 28 events-time keys. So the unit is now read from
    * the parquet FOOTER (one driver-side file-metadata read, memoized
    * per directory — no Spark job, so the PlanAudit construction guard
    * stays clean) and each physical shape maps to the same logical
    * column: µs-precision `TimestampType` rendering identically to
    * DuckDB's `TIMESTAMP` under the UTC session zone all entry points
    * set.
    *
    * ns files still need `spark.sql.legacy.parquet.nanosAsLong=true`
    * AT SESSION CONSTRUCTION (all entry points set it): it is
    * consulted again at execution time, so a set-and-restore around
    * this read would break the scan, and a hidden permanent set here
    * would leak nanos-as-longs into every later parquet read. */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    def withTs(t: DataType) = StructType(schemas("events").fields.map(f =>
      if (f.name == "ts") StructField("ts", t) else f))
    val ordered = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    eventsTsShape(spark, path) match {
      case TsShape("NANOS", _) =>
        require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
          "events.parquet is timestamp[ns]: set spark.sql.legacy.parquet.nanosAsLong=true at session build")
        spark.read.schema(withTs(LongType)).parquet(path)
          // truncate nanos → µs (floor for the positive epoch values
          // here), matching DuckDB's CAST(ts AS TIMESTAMP)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          .select(ordered.map(col): _*)
      case TsShape(_, true) =>
        // µs/ms, isAdjustedToUTC=true (e.g. Spark-written sinks):
        // already the contract type, read directly
        spark.read.schema(schemas("events")).parquet(path)
      case TsShape("INT64_US", _) =>
        // bare int64 in the epoch-µs magnitude range (a Replicate
        // output predating its typed-ts fix). Bare INT64 is ambiguous
        // by annotation, so the probe classified it from the footer's
        // column statistics — see eventsTsShape (r6 ADVICE: an ns-era
        // raw-long replica read as µs would be 1000× inflated while
        // the oracle stayed green).
        spark.read.schema(withTs(LongType)).parquet(path)
          .withColumn("ts", expr("timestamp_micros(ts)"))
          .select(ordered.map(col): _*)
      case TsShape("INT64_NS", _) =>
        // bare int64 in the epoch-ns magnitude range (ns-era raw-long
        // replica): truncate to µs like the annotated-NANOS branch
        spark.read.schema(withTs(LongType)).parquet(path)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          .select(ordered.map(col): _*)
      case TsShape(_, false) =>
        // µs/ms NTZ (current driver testdata): wall-clock values ARE
        // the UTC instants — reinterpret via cast under the UTC zone
        spark.read.schema(withTs(TimestampNTZType)).parquet(path)
          .withColumn("ts", col("ts").cast(TimestampType))
          .select(ordered.map(col): _*)
    }
  }

  /** Physical shape of the `ts` column: parquet TIMESTAMP unit name
    * ("NANOS"/"MICROS"/"MILLIS"), or "INT64_US"/"INT64_NS" for an
    * unannotated long classified by magnitude (below), plus the
    * isAdjustedToUTC flag. */
  private case class TsShape(unit: String, adjustedToUTC: Boolean)

  private val tsShapes =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), TsShape]

  /** Footer probe for [[loadEvents]]: reads ONE file's parquet footer
    * through the Hadoop API on the driver (no Spark job, no listing of
    * the whole directory beyond one `listStatus`). At 100 TB this is
    * the same O(1) metadata read a catalog would serve. Memoized per
    * (file path, mtime, length) — NOT per directory — so a long-lived
    * JVM that spans a testdata regeneration flipping the unit re-probes
    * instead of silently reusing a stale shape (r6 ADVICE; the listing
    * itself is re-done every call, it is one driver-side RPC).
    *
    * Bare INT64 (no timestamp annotation — a pre-fix Replicate output)
    * is ambiguous by annotation, so it is classified from the footer's
    * ts column statistics: epoch-2024 values are ~1.7e15 in µs and
    * ~1.7e18 in ns — three orders of magnitude apart, unmistakable.
    * Anything outside both windows fails fast and asks for replica
    * regeneration rather than guessing (r6 ADVICE: a silent wrong
    * guess keeps the oracle green while time semantics degenerate). */
  private def eventsTsShape(spark: SparkSession, path: String): TsShape = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = {
      val rootStatus = fs.getFileStatus(root)
      if (rootStatus.isDirectory) {
        val parts = fs.listStatus(root)
          .filter(_.getPath.getName.endsWith(".parquet"))
        require(parts.nonEmpty,
          s"no parquet files under $path — partial/failed write? regenerate the dataset")
        parts.minBy(_.getPath.getName)
      } else rootStatus
    }
    val key = (status.getPath.toString, status.getModificationTime, status.getLen)
    tsShapes.getOrElseUpdate(key, {
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromPath(status.getPath, conf))
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        val ts = schema.getType(schema.getFieldIndex("ts"))
        ts.asPrimitiveType().getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation =>
            TsShape(t.getUnit.toString, t.isAdjustedToUTC)
          case _ =>
            val maxTs: Long = footer.getBlocks.asScala.headOption
              .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == "ts"))
              .map(_.getStatistics.genericGetMax match {
                case l: java.lang.Long => l.longValue()
                case other => sys.error(s"unexpected ts stats type: $other")
              })
              .getOrElse(sys.error(s"no ts column statistics in $path footer"))
            // epoch seconds ~1.7e9, ms ~1.7e12, µs ~1.7e15, ns ~1.7e18:
            // accept the µs and ns windows, reject everything else
            if (maxTs > 1e17.toLong) TsShape("INT64_NS", adjustedToUTC = false)
            else if (maxTs > 1e14.toLong) TsShape("INT64_US", adjustedToUTC = false)
            else sys.error(
              s"bare-int64 events ts in $path has max=$maxTs — neither epoch-µs " +
              "nor epoch-ns magnitude; regenerate the replica with a typed ts")
        }
      } finally reader.close()
    })
  }

  /** Load with schema validation: fails fast if the parquet footer has
    * drifted from the contract (names + types, ignoring nullability). */
  def loadChecked(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val got = df.schema.fields.map(f => (f.name, f.dataType))
    val want = schemas(name).fields.map(f => (f.name, f.dataType))
    require(got.sameElements(want),
      s"schema drift for $name: got ${got.mkString(",")} want ${want.mkString(",")}")
    df
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame   = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Scale-adaptive kernel parallelism (r15, guide §2 "make
    * partitioning scale-adaptive rather than a constant"): the local
    * testdata ships each table as ONE single-row-group parquet file,
    * so every scan is one task and any heavy per-row kernel applied
    * before the first exchange (media decode, gram hashing, n-gram
    * explodes) runs on ONE core of the session's 32 — measured via
    * a job listener: mm_phash_neardup and llm_decontaminate
    * execute as 4 single-task stages, ~1.3-1.5 s of serialized
    * compute. At production scale the corpus arrives as thousands of
    * splits and scans parallelize naturally, so this helper is a
    * deliberate NO-OP there: it repartitions (hash on `key`, so the
    * row→partition map is deterministic regardless of input order)
    * only when the scan yields fewer partitions than a quarter of the
    * session parallelism — i.e. exactly the local single-file shape.
    * Apply it ONLY where the downstream kernel dominates: the
    * repartition is one extra (tiny, local) exchange, which is a pure
    * loss for cheap projections. */
  def parallelizeKernel(s: SparkSession, df: DataFrame, key: String): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 4 < p) df.repartition(p, col(key)) else df
  }
}

/** Determinism helpers for DuckDB-oracle parity.
  *
  * All double columns in the test data carry at most 2 decimal digits
  * (verified against the parquet), so casting to DECIMAL before SUM is
  * exact and order-independent — the one operation where Spark and
  * DuckDB could legally disagree (float reduction order) is removed.
  * Per-row double arithmetic (a*b, a/b) is IEEE-754 and bit-identical
  * across engines, so derived columns need no rounding.
  *
  * At scale this is also the *right* engineering call: decimal sums are
  * exactly mergeable across 1000 executors, where double sums drift.
  */
object Det {
  /** Exact sum of a ≤2-decimal double column, returned as double. */
  def dsum2(c: Column): Column = sum(c.cast(DecimalType(30, 2))).cast("double")
  /** Exact sum of a ≤4-decimal derived double column. */
  def dsum4(c: Column): Column = sum(c.cast(DecimalType(30, 4))).cast("double")
  /** Exact sum of a ≤6-decimal derived double column. */
  def dsum6(c: Column): Column = sum(c.cast(DecimalType(30, 6))).cast("double")
  /** Order-independent average: exact decimal sum / non-null count.
    * Double division of identical operands is identical in both engines. */
  def davg2(c: Column): Column = dsum2(c) / count(c)
  def davg4(c: Column): Column = dsum4(c) / count(c)

  /** Exact integer CENTS sum of a ≤2-decimal non-negative double
    * column: per-row DECIMAL(30,2)·100 is an exact integer, cast to
    * long, summed as long — order-independent, mergeable across
    * executors, and (unlike the double-returning dsum2) composable
    * with further INTEGER arithmetic with zero representation risk.
    * This is the "micro-unit recipe" (r8 verdict item 1): derived
    * outputs stay in integer units (cents → micro-units via `div`)
    * so no engine ever rounds a derived double. Headroom: Long holds
    * 9.2e18; a per-group cents sum of 1e14 ($1e12 notional) still
    * leaves ×10⁴ room for the micro-unit multiply. */
  def csum2(c: Column): Column = sum(cents(c))

  /** Per-ROW exact integer CENTS of a ≤2-decimal double — the scalar
    * half of [[csum2]], named so the batch and streaming consumers of
    * the quantization (CEP pattern keys, conditional cents sums)
    * share ONE recipe instead of inlining the cast chain. */
  def cents(c: Column): Column =
    (c.cast(DecimalType(30, 2)) * 100).cast("long")

  /** SQL-side twins (DuckDB dialect), kept adjacent so Spark and oracle
    * expressions stay in lockstep. */
  def sqlSum2(e: String): String = s"CAST(sum(CAST($e AS DECIMAL(30,2))) AS DOUBLE)"
  def sqlSum4(e: String): String = s"CAST(sum(CAST($e AS DECIMAL(30,4))) AS DOUBLE)"
  def sqlSum6(e: String): String = s"CAST(sum(CAST($e AS DECIMAL(30,6))) AS DOUBLE)"
  def sqlAvg2(e: String): String = s"${sqlSum2(e)} / count($e)"
  def sqlCents(e: String): String = s"CAST(CAST($e AS DECIMAL(30,2)) * 100 AS BIGINT)"
  def sqlCsum2(e: String): String = s"CAST(sum(${sqlCents(e)}) AS BIGINT)"

  /** Deterministic floor-quantization of a derived double, the
    * round()-replacement for OUTPUT columns (r8 verdict item 4):
    * x·10ⁿ is the same IEEE-754 double in every engine, floor is
    * exact, and dividing back restores a double both engines agree on
    * bit-for-bit — whereas round(x, n)'s half-up tie behavior on a
    * representation boundary is engine-specific (Spark goes through
    * the exact binary expansion via BigDecimal, DuckDB through a
    * scaled multiply), which is precisely how r8's ts_bidask_spread
    * went red. Requires |x|·10ⁿ < 2⁶³ (Spark's floor returns LONG) —
    * true for every statistic emitted here by orders of magnitude.
    * Negative values floor toward −∞ in both engines. */
  def fq(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p) / p
  }

  /** SQL twin (DuckDB floors doubles the same way). */
  def sqlFq(e: String, n: Int): String = {
    val p = s"1e$n"
    s"floor(($e) * $p) / $p"
  }
  def sqlAvg4(e: String): String = s"${sqlSum4(e)} / count($e)"
}
