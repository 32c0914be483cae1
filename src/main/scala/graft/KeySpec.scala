package graft

/** Every fact about one registry key, stated once, next to the
  * operator that defines it. [[SparkEntry]] concatenates the modules'
  * `specs`, validates them once ([[KeySpec.validate]]) and derives
  * `queries`/`oracleSql`, [[PlanAudit]]'s gates and [[Bench]]'s warm-up
  * from that one list.
  *
  * @param oracle DuckDB-runnable ANSI twin of the result; `None` only
  *   for the adjudicated no-oracle keys
  * @param shuffleBudget most Exchange operators the audited plan may
  *   run at the audit scale (sf0.001, `local[PlanAudit.AuditCores]`,
  *   AQE on — the PlanContractSpec environment); required for every
  *   batch key. Over budget fails the audit (a new shuffle slipped into
  *   the plan); under budget is fine — tighten when seen. These are
  *   plan-shape regression gates, not performance numbers: a budget of
  *   3 means "this operator's 100 TB story tolerates three data-sized
  *   repartitions and no more". `runMain graft.PlanAudit counts` prints
  *   measured, pre-AQE and declared.
  * @param crossJoin why a cartesian product / broadcast nested-loop
  *   join is legitimate here: the operator IS a cross product, an
  *   intentionally bounded theta join, or crosses an O(1)-size build
  *   side
  * @param constructionJobs why building the DataFrame legitimately runs
  *   Spark jobs before the caller's own action: a documented
  *   bounded-driver-state collect, a write-then-read layout the
  *   operator exists to demonstrate, a staged artifact, or a
  *   derive-once localCheckpoint. Any other key must build its frame
  *   without a single job — a construction-time action is how an
  *   accidental `.collect()` driver loop sneaks into an operator.
  * @param pushdown why the key's plan must carry non-empty
  *   PushedFilters on a parquet scan (its reason to exist is proving
  *   scan pushdown; asserted on scan metadata, not a plan string)
  * @param codegenAbsent why the audited plan legitimately has no
  *   WholeStageCodegen stage
  * @param staging registry keys whose first run stages an IndexStore
  *   artifact this key reads; Bench runs them untimed first */
final case class KeySpec(
    name: String,
    fn: QFn,
    oracle: Option[String],
    shuffleBudget: Option[Int],
    crossJoin: Option[String] = None,
    constructionJobs: Option[String] = None,
    pushdown: Option[String] = None,
    codegenAbsent: Option[String] = None,
    staging: Seq[String] = Nil) {

  /** Streaming keys run their query on invocation; the plan audit
    * skips them, so they carry no shuffle budget. */
  def isStream: Boolean = name.startsWith("stream_")

  def crossJoinOk(why: String): KeySpec = copy(crossJoin = Some(why))
  def constructionJobsOk(why: String): KeySpec = copy(constructionJobs = Some(why))
  def pushdownRequired(why: String): KeySpec = copy(pushdown = Some(why))
  def codegenAbsentOk(why: String): KeySpec = copy(codegenAbsent = Some(why))
  def reads(keys: String*): KeySpec = copy(staging = staging ++ keys)
}

object KeySpec {

  /** A batch key: DuckDB-oracled, with its shuffle budget. */
  def batch(name: String, fn: QFn, shuffles: Int, oracle: String): KeySpec =
    KeySpec(name, fn, Some(oracle), Some(shuffles))

  /** A streaming key: DuckDB-oracled, unaudited. */
  def stream(name: String, fn: QFn, oracle: String): KeySpec =
    KeySpec(name, fn, Some(oracle), None)

  /** The registry invariants, checked once: distinct names, every
    * staging reference registered, every batch key budgeted. */
  def validate(specs: Seq[KeySpec]): Seq[KeySpec] = {
    val names = specs.map(_.name)
    val dups = names.diff(names.distinct).distinct
    require(dups.isEmpty, s"duplicate keys: ${dups.mkString(", ")}")
    val unknown = specs.flatMap(_.staging).distinct.filterNot(names.toSet)
    require(unknown.isEmpty, s"unregistered staging keys: ${unknown.mkString(", ")}")
    val unbudgeted = specs.filter(s => !s.isStream && s.shuffleBudget.isEmpty)
    require(unbudgeted.isEmpty,
      s"batch keys without a shuffle budget: ${unbudgeted.map(_.name).mkString(", ")}")
    specs
  }
}
