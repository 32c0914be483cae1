package object graft {
  /** Signature the driver contract imposes on every query:
    * (session, scale-factor dir) => result DataFrame. */
  type QFn = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Throwaway-scratch root: the RAM disk when present AND actually
    * sized for scratch, else the JVM tmpdir. The capacity guard
    * matters off this box: a default Docker container mounts a
    * writable 64 MB /dev/shm, which would take every shuffle file and
    * die ENOSPC mid-query where plain /tmp worked — require enough
    * usable space (8 GiB) that sf0.1-scale shuffle + state staging
    * can never come close. The one probe behind [[fastRunDir]], so
    * `spark.local.dir` and the streaming checkpoints can't drift
    * apart. */
  def scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite &&
      shm.getUsableSpace > 8L * 1024 * 1024 * 1024) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  }

  /** This JVM's run directory on the bulk root, `java.io.tmpdir`: the
    * session warehouse and every sink or staging directory
    * ([[Tables.sinkPath]]). Disk, not RAM: a stream key's result is
    * event-volume sized, GBs at the 300× replica. */
  lazy val bulkRunDir: String = claimRunDir(System.getProperty("java.io.tmpdir"))

  /** This JVM's run directory on the fast root, [[scratchRoot]]:
    * `spark.local.dir` (shuffle files, RocksDB state working dirs) and
    * streaming checkpoints ([[checkpointPath]]). A state commit fsyncs
    * its changelog to the checkpoint every micro-batch; on an ext4
    * tmpdir that round-trip was most of a stream key's fixed cost
    * (stream_join warm 5.4 → 3.4 s on the RAM disk, r14). A production
    * deployment points both at durable storage or local NVMe. */
  lazy val fastRunDir: String = claimRunDir(scratchRoot)

  /** A fresh streaming checkpoint path in [[fastRunDir]]: unique per
    * call, so a run never resumes another run's offsets. */
  def checkpointPath(tag: String): String = s"$fastRunDir/ckpt/${uniqueName(tag)}"

  /** `tag` plus a random hex suffix: a name no other call returns. */
  private[graft] def uniqueName(tag: String): String =
    s"${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** Entries in Spark's generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`). Spark's default of 100 is
    * smaller than one pass's working set, so every pass over the same
    * queries evicted classes before their next use and compiled them
    * again (Janino, then HotSpot warming up the fresh classes): 49
    * compiles per pass of the 9-key perfbench `bidask_ts` workload.
    *
    * Sized by measurement (sf0.01, local[32] on 4 cores): one JVM with
    * the cap at 100000 ran every registry key twice as `graft.Verify`
    * runs it (`CodegenMetrics.METRIC_COMPILATION_TIME` per pass). The
    * first pass compiled 2815 distinct sources. The second compiled
    * 74, none of them evicted, all in 14 batch keys whose AQE plans
    * differ from run to run. Every other key compiled 0, the 24
    * `stream_` keys included: their tasks share the executor's one
    * class loader, which is part of the cache key (see
    * [[scratchConfs]]). The cache is a Guava cache of 4 segments that
    * each evict at a quarter of the cap, so the cap leaves more than a
    * third over 2815 for an uneven split. Repeat the measurement after
    * adding keys.
    *
    * Cost: cached classes stay loaded, on the heap and in Metaspace, up
    * to the cap; a session that is stopped and rebuilt leaves its
    * classes cached until they are evicted. After one full pass, heap
    * after GC read 234.9 MB against 152.1 MB at the default cap, and
    * Metaspace 266.2 MB against 240.9 MB. */
  val CodegenCacheEntries = 4096

  /** The confs every session shares, applied by [[GraftSession.local]]
    * for every main and the shared test session (and by the perfbench
    * harness), so a change reaches them all alike.
    * Checkpoint-file checksums are off because every checkpoint here
    * is throwaway tmpfs state — they protect durable remote
    * checkpoints. The codegen cache cap is a static conf: Spark reads
    * it once, when its code generator first loads.
    *
    * Artifact isolation is off because it gave every stream run its
    * own executor class loader. With it on, each job carries its
    * session's UUID, and each stream query runs on a `cloneSession()`
    * with a new one. For each new UUID the executor builds an
    * `IsolatedSessionState` with a fresh `MutableURLClassLoader`, and
    * `CodeGenerator`'s cache is keyed by (class loader, source), so
    * every stream run compiled its task classes again. The executor
    * keeps up to 100 of those sessions for 30 minutes after last use,
    * each holding its loader and its generated classes. Off, every
    * task runs under the executor's one default session. Isolation
    * guards per-session jars and files (`addArtifact`, `addJar`),
    * which this engine never adds. The stream clones copy the conf. */
  def scratchConfs: Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"$fastRunDir/local",
    "spark.sql.streaming.stateStore.rocksdb.checkpointFileChecksumEnabled" ->
      "false",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Run directories are `graft_run_<pid>`, one per JVM and root. */
  private[graft] val RunDirPrefix = "graft_run_"

  private val ownRunDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // One hook deletes this JVM's run directories at exit. It runs in
  // Hadoop's ordered hook thread below Spark's own hook (priority 40:
  // stop the context, delete its temp dirs), so no live block manager
  // or state store still writes into them.
  private lazy val runDirHook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => ownRunDirs.forEach(p => deleteTree(p)), 30)

  private def claimRunDir(root: String): String = {
    reapRunDirs(root)
    val dir = new java.io.File(root, RunDirPrefix + ProcessHandle.current().pid())
    dir.mkdirs()
    runDirHook
    ownRunDirs.add(dir.getPath)
    dir.getPath
  }

  /** Deletes the run directories under `root` whose process is no
    * longer alive: the leftovers of a JVM that died without running
    * its exit hook (SIGKILL, OOM kill). Names without a pid are not
    * run directories and stay. */
  private[graft] def reapRunDirs(root: String): Unit =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(RunDirPrefix))
      .foreach { dir =>
        val pid = dir.getName.stripPrefix(RunDirPrefix).toLongOption
        // a pid the OS can't look up reads as alive: keep when unsure
        val alive = pid.forall { p =>
          scala.util.Try(ProcessHandle.of(p)).map(h => h.isPresent && h.get.isAlive)
            .getOrElse(true)
        }
        if (!alive) deleteTree(dir.getPath)
      }

  /** Deletes `path` and everything under it; a missing path is a no-op. */
  private[graft] def deleteTree(path: String): Unit =
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
}
