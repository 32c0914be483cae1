package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.{KeySpec, QFn, Tables, IndexStore}
import org.apache.spark.sql.functions._

/** `etl_index_store` — the machine-local staged-artifact store as a
  * FIRST-CLASS operator (r9 verdict #6). [[graft.IndexStore]] is the
  * load-bearing infrastructure under the IVF/PQ quantizers, the BPE
  * merge table, the near-dup pair memo, the trades-with-mid layout and
  * the three streaming feed directories; until now its contract lived
  * only in scaladoc + convention. This key PINS the contract in the
  * oracle gate itself:
  *
  *  1. CONTENT-FINGERPRINT KEYING — the artifact name embeds
  *     [[IndexStore.fingerprint]] of the producing dataset (sorted
  *     (part-name, mtime, length) — the same metadata a lakehouse
  *     catalog versions on), so a data regeneration can never serve a
  *     stale artifact.
  *  2. CROSS-SESSION REUSE — a second [[IndexStore.cachedDir]] call
  *     with the same name must return the SAME path without invoking
  *     the builder again (counted via a builder-side counter; a fresh
  *     machine builds once, every later session builds zero times).
  *  3. ATOMIC PUBLISH — builders write under a process-unique
  *     `.tmp.<pid>_<tid>_<nanos>` name and ATOMIC_MOVE onto the final
  *     name; after a successful read there must be no tmp residue for
  *     this artifact (a crash-landed tmp dir would mean readers could
  *     observe a half-written artifact under some rename semantics).
  *  4. INVALIDATION ON CONTENT CHANGE — mutating a probe file's
  *     (length, mtime) must change its fingerprint.
  *
  * The DATA half of the output is a per-event-type exact-decimal
  * rollup of `events` THROUGH the store (built into the artifact, read
  * back from parquet): DuckDB recomputes it directly from the table,
  * so a store that corrupted, truncated, or stale-served the artifact
  * hash-mismatches on real values, not just on the contract booleans —
  * same oracle style as `agg_hll_sketch`.
  *
  * Scale: the artifact here is a K-row rollup, but the contract is the
  * one the multi-GB layouts (ivf_layout, trades_mid) rely on; at
  * 100 TB this store is "publish once to shared storage, every
  * executor session reuses" — exactly the fingerprint-keyed,
  * atomically-renamed shape object stores and lakehouse catalogs use. */
object IndexStoreOp {

  val etlIndexStore: QFn = (s, d) => {
    import graft.Det._
    val fp = IndexStore.fingerprint(s"$d/events.parquet")
    val name = s"etl_index_store_v1_$fp"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(tmp: String): Unit = {
      builds.incrementAndGet()
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
        .coalesce(1).write.parquet(tmp)
    }
    val p1 = IndexStore.cachedDir(name)(build)
    val p2 = IndexStore.cachedDir(name)(build)
    // ≤ 1, not == 1: on a warm machine a prior session already
    // published and THIS session builds zero times — that IS the reuse
    // contract working
    val reuseOk = p1 == p2 && builds.get() <= 1
    val atomicOk = {
      // a tmp dir is CRASH RESIDUE only if its owning pid (first
      // field of the `.tmp.<pid>_<tid>_<nanos>` suffix) is dead — a
      // live concurrent builder (bench + test JVMs race by contract)
      // is mid-publish, not a violation (r10 review finding)
      val root = Paths.get(IndexStore.root)
      val l = Files.list(root)
      try !l.iterator().asScala.exists { p =>
        val fn = p.getFileName.toString
        fn.startsWith(s"$name.tmp.") && {
          // Try-guarded parse (r10 ADVICE): a digit run longer than
          // Long, or a foreign/legacy tmp name with no pid field,
          // must classify as residue with the real diagnosis — not
          // throw NumberFormatException out of the operator
          val pid = fn.stripPrefix(s"$name.tmp.").takeWhile(_.isDigit)
          val ownerAlive = scala.util.Try {
            pid.nonEmpty && {
              val oh = ProcessHandle.of(pid.toLong)
              oh.isPresent && oh.get.isAlive
            }
          }.getOrElse {
            System.err.println(
              s"[index_store] unparseable tmp suffix '$fn' — counting as residue")
            false
          }
          !ownerAlive
        }
      }
      finally l.close()
    }
    val invalidationOk = {
      val probe = Files.createTempFile(Paths.get(graft.bulkRunDir), "graft_is_probe", ".bin")
      try {
        Files.write(probe, Array[Byte](1))
        Files.setLastModifiedTime(probe,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
        val f1 = IndexStore.fingerprint(probe.toString)
        Files.write(probe, Array[Byte](1, 2)) // length change
        Files.setLastModifiedTime(probe,      // + mtime change
          java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
        f1 != IndexStore.fingerprint(probe.toString)
      } finally Files.deleteIfExists(probe)
    }
    s.read.parquet(p1)
      .withColumn("reuse_ok", lit(reuseOk))
      .withColumn("atomic_ok", lit(atomicOk))
      .withColumn("invalidation_ok", lit(invalidationOk))
      .orderBy("event_type")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("etl_index_store", etlIndexStore,
      // reads the K-row staged rollup + presentation sort
      shuffles = 1, {
      // data half recomputed from the raw table (a corrupt/stale/truncated
      // artifact mismatches on values); contract half literal TRUE (a
      // broken store contract mismatches on the booleans)
      import graft.Det._
      s"""SELECT event_type, count(*) AS n_events,
            ${sqlSum2("value")} AS sum_value,
            true AS reuse_ok, true AS atomic_ok, true AS invalidation_ok
          FROM events GROUP BY event_type ORDER BY event_type"""
    })
      // the store-contract key IS a write-then-read: first touch of new
      // content publishes the K-row rollup artifact it then reads back
      .constructionJobsOk("stages the fingerprint-keyed rollup artifact " +
        "it then reads — the staged-artifact contract is the operator"))
}
