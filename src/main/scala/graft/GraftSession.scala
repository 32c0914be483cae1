package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every entry point runs under: the Bench,
  * Verify, BenchGate, PlanAudit, SchemaDump and Replicate mains and the
  * shared test session. A single builder means a scratch-disk or
  * timezone change cannot reach some mains and miss others. */
object GraftSession {
  private val DefaultCores = 32

  /** `SPARK_GRAFT_CPUS` as given (unset reads as "32"). Bench records
    * it verbatim as its artifact's `"cpus"` label, so `*` stays `*`. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", DefaultCores.toString)

  /** Session width from [[cpus]]: `*` means the host's core count. */
  val cores: Int = coresOf(Some(cpus))

  /** `SPARK_GRAFT_CPUS` to a core count: unset is 32, `*` the host's
    * cores, anything else an integer. An int is what
    * `spark.sql.shuffle.partitions` needs; `local[*]` alone would
    * accept the `*` and the partition conf would then crash on it. */
  def coresOf(setting: Option[String]): Int = setting.map(_.trim) match {
    case None      => DefaultCores
    case Some("*") => Runtime.getRuntime.availableProcessors
    case Some(n)   => n.toInt
  }

  /** A `local[cores]` session with `cores` shuffle partitions and the
    * engine's Catalyst pieces installed. */
  def local(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
    // throwaway scratch (shuffle files, RocksDB state working dirs)
    // in this JVM's fast run directory; see graft.scratchConfs
    scratchConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder
      // interval/bucket arithmetic on NTZ timestamps must agree with
      // unix-epoch bucketing in any deployment zone
      .config("spark.sql.session.timeZone", "UTC")
      // Tables.loadEvents probes the footer for the ts unit; this conf
      // only matters when the probe finds timestamp[ns] (it must be set
      // at session build) and is a no-op for µs/ms event files
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed tables (bucketed-join keys, ANALYZE) live in this
      // JVM's run directory: never in the working directory, never
      // shared with another JVM's saved tables
      .config("spark.sql.warehouse.dir", s"$bulkRunDir/warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.GraftExtensions.install(spark)
    spark
  }

  /** The one scoped conf change: runs `body` with `confs` set, then
    * puts each key back to its earlier value, or unsets it. */
  def withConfs[T](spark: SparkSession, confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
