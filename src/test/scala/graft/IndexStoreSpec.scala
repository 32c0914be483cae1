package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** [[IndexStore]] contract pins the `etl_index_store` oracle key can't
  * exercise: the concurrent-publisher race (two builders, one winner,
  * loser's copy discarded, no residue) and the bit-exact IEEE-754
  * round-trip of [[IndexStore.cached]] scalar artifacts — the property
  * that lets a deserialized IVF quantizer keep the exact-mode oracle
  * key green off either the trained or the parsed path. */
class IndexStoreSpec extends SparkTestBase {

  /** Runs `body` on a fresh name in the real [[IndexStore.root]], then
    * deletes what it published there (`name` or `name.idx`), so the
    * shared cache keeps only real artifacts. */
  private def withProbe(prefix: String)(body: String => Unit): Unit = {
    val name = s"${prefix}_${System.nanoTime()}"
    try body(name)
    finally Seq(name, s"$name.idx").foreach(n =>
      new scala.reflect.io.Directory(new java.io.File(IndexStore.root, n)).deleteRecursively())
  }

  test("cached: doubles round-trip bit-exactly, builder runs once") {
    // NaN, ±0.0, denormal, and an irrational-ish value — the corners a
    // decimal text render would lose; raw-bits render must not
    val payload = Array(
      Array(math.Pi, -0.0, java.lang.Double.MIN_VALUE),
      Array(java.lang.Double.NaN, 1e308, -math.E))
    val builds = new AtomicInteger(0)
    // exercise cached() against the real store root with a
    // collision-proof name (the root IS overridable via
    // SPARK_GRAFT_INDEX_DIR — this spec deliberately probes the real
    // machine-local store to test the production singleton path)
    withProbe("spec_probe") { name =>
      def train(): Array[Array[Double]] = { builds.incrementAndGet(); payload }
      IndexStore.cached(name)(train())
      val second = IndexStore.cached(name)(train())
      assert(builds.get() == 1, "second cached() call must parse, not retrain")
      for ((row, i) <- second.zipWithIndex; (v, j) <- row.zipWithIndex) {
        assert(java.lang.Double.doubleToRawLongBits(v) ==
          java.lang.Double.doubleToRawLongBits(payload(i)(j)),
          s"bit drift at ($i,$j): ${payload(i)(j)} -> $v")
      }
    }
  }

  test("cachedDir: concurrent publishers — one winner, no tmp residue, readers see complete artifact") {
    withProbe("spec_race") { name =>
      val builders = new AtomicInteger(0)
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      // 4 threads race the SAME artifact name; each writes a one-file
      // payload whose content identifies completeness (not the writer)
      val futures = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            gate.await()
            IndexStore.cachedDir(name) { tmp =>
              builders.incrementAndGet()
              Files.createDirectories(Paths.get(tmp))
              Files.writeString(Paths.get(tmp, "payload.txt"), "COMPLETE")
            }
          }
        })
      }
      gate.countDown()
      val paths = futures.map(_.get(60, TimeUnit.SECONDS))
      pool.shutdown()
      assert(paths.distinct.size == 1, s"racers saw different paths: $paths")
      // every reader sees the COMPLETE payload (rename is the marker)
      assert(Files.readString(Paths.get(paths.head, "payload.txt")) == "COMPLETE")
      // losers' tmp dirs are cleaned up
      val residue = {
        val l = Files.list(Paths.get(IndexStore.root))
        try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(s"$name.tmp.")).toList
        finally l.close()
      }
      assert(residue.isEmpty, s"tmp residue left behind: $residue")
    }
  }

  test("fingerprint: sensitive to part mtime/length, insensitive to listing order, stable") {
    val dir = Paths.get(scratchDir("graft_isspec_fp"))
    val a = dir.resolve("a.parquet"); val b = dir.resolve("b.parquet")
    Files.write(a, Array[Byte](1, 2, 3)); Files.write(b, Array[Byte](4))
    def pin(p: java.nio.file.Path, ms: Long) = Files.setLastModifiedTime(
      p, java.nio.file.attribute.FileTime.fromMillis(ms))
    pin(a, 1000000000000L); pin(b, 1000000001000L)
    val f0 = IndexStore.fingerprint(dir.toString)
    assert(f0 == IndexStore.fingerprint(dir.toString), "not stable")
    pin(a, 1000000002000L)
    val f1 = IndexStore.fingerprint(dir.toString)
    assert(f0 != f1, "mtime change must invalidate")
    Files.write(b, Array[Byte](4, 5))
    pin(b, 1000000001000L)
    assert(IndexStore.fingerprint(dir.toString) != f1,
      "length change must invalidate")
    // non-parquet files are ignored (a _SUCCESS marker must not churn
    // the key)
    val before = IndexStore.fingerprint(dir.toString)
    Files.writeString(dir.resolve("_SUCCESS"), "")
    assert(IndexStore.fingerprint(dir.toString) == before,
      "non-parquet sidecar must not affect the fingerprint")
  }

  test("sweep: LRU over budget; recent/in-use entries and under-budget roots untouched") {
    val rootDir = Paths.get(scratchDir("graft_isspec_sweep"))
    val now = System.currentTimeMillis()
    val H = 3600 * 1000L
    def mk(name: String, bytes: Int, ageMs: Long): java.nio.file.Path = {
      val d = rootDir.resolve(name)
      Files.createDirectories(d)
      Files.write(d.resolve("part.parquet"), Array.fill[Byte](bytes)(1))
      // the root entry's mtime is the last-use stamp touch() maintains
      Files.setLastModifiedTime(d,
        java.nio.file.attribute.FileTime.fromMillis(now - ageMs))
      d
    }
    val staleTmp = mk("idx_d.tmp.123", 1000, 200 * H) // crashed builder
    val oldest = mk("idx_a", 1000, 100 * H)
    val older = mk("idx_b", 1000, 50 * H)
    val fresh = mk("idx_c", 1000, 0L)
    // under budget: sweep is a no-op regardless of age
    IndexStore.sweep(rootDir, budget = 1L << 20, minIdleMs = 6 * H, now = now)
    assert(Seq(staleTmp, oldest, older, fresh).forall(Files.exists(_)),
      "under-budget sweep must not delete anything")
    // budget 2048 over a ~4000-byte root: LRU order evicts the stale
    // tmp leftover then the oldest artifact, and stops once under
    IndexStore.sweep(rootDir, budget = 2048, minIdleMs = 6 * H, now = now)
    assert(!Files.exists(staleTmp), "stale .tmp leftover must be swept first")
    assert(!Files.exists(oldest), "LRU artifact must be swept")
    assert(Files.exists(older) && Files.exists(fresh),
      "sweep must stop once under budget")
    // still over a tiny budget: the idle entry goes, but the fresh
    // (possibly mid-read by another JVM) entry survives even though
    // the root stays over — safety beats the budget
    IndexStore.sweep(rootDir, budget = 500, minIdleMs = 6 * H, now = now)
    assert(!Files.exists(older))
    assert(Files.exists(fresh),
      "an entry used within minIdleMs must never be swept")
  }

  test("cachedDir hit bumps the last-use stamp the sweep orders on") {
    withProbe("spec_touch") { name =>
      val path = IndexStore.cachedDir(name) { tmp =>
        Files.createDirectories(Paths.get(tmp))
        Files.writeString(Paths.get(tmp, "payload.txt"), "X")
      }
      val past = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 30L * 24 * 3600 * 1000)
      Files.setLastModifiedTime(Paths.get(path), past)
      IndexStore.cachedDir(name)(_ => fail("hit must not rebuild"))
      val bumped = Files.getLastModifiedTime(Paths.get(path)).toMillis
      assert(bumped > past.toMillis + 1000,
        "a cache hit must refresh the artifact's LRU stamp")
    }
  }

  test("etl_index_store operator: contract booleans true, data half matches direct aggregate") {
    val df = operators.IndexStoreOp.etlIndexStore(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("reuse_ok"), "reuse contract broken")
      assert(r.getAs[Boolean]("atomic_ok"), "tmp residue after publish")
      assert(r.getAs[Boolean]("invalidation_ok"), "fingerprint not content-sensitive")
    }
    import graft.Det._
    val direct = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
      .orderBy("event_type").collect()
    val viaStore = rows.map(r => (r.getAs[String]("event_type"),
      r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    val directT = direct.map(r => (r.getAs[String]("event_type"),
      r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    assert(viaStore.toSeq == directT.toSeq,
      "artifact round-trip changed the rollup")
  }
}
