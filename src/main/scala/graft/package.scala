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
    * can never come close. Shared by the `spark.local.dir` scratch
    * and the streaming checkpoint root so the probe can't drift
    * between them. */
  def scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite &&
      shm.getUsableSpace > 8L * 1024 * 1024 * 1024) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  }

  /** Harness scratch root for `spark.local.dir` (shuffle files,
    * RocksDB state-store working dirs): the RAM disk when present,
    * else the JVM default. This box's /tmp is ext4 — RocksDB commits
    * fsync their SST/changelog staging there, and that real-disk
    * round-trip was measured as the stream family's largest remaining
    * fixed cost (stream_join warm 5.4 → 3.4 s from this
    * alone; r14). All of spark.local.dir's contents are throwaway by
    * construction — a production deployment points it at local NVMe,
    * which tmpfs stands in for here, same rationale as the
    * [[graft.streaming.Streaming.scratchCkpt]] checkpoint. */
  def scratchLocalDir: String = {
    val root = scratchRoot
    if (root == "/dev/shm") "/dev/shm/graft_local" else root
  }

  /** The scratch session-conf pair, applied by [[GraftSession.local]]
    * for every main and the shared test session (and by the perfbench
    * harness), so a scratch tweak reaches them all alike.
    * Checkpoint-file checksums are off because every checkpoint here
    * is throwaway tmpfs state — they protect durable remote
    * checkpoints. */
  def scratchConfs: Seq[(String, String)] = Seq(
    "spark.local.dir" -> scratchLocalDir,
    "spark.sql.streaming.stateStore.rocksdb.checkpointFileChecksumEnabled" ->
      "false")
}
