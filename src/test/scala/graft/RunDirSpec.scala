package graft

import java.nio.file.{Files, Path}

/** Each JVM keeps its throwaway files in two run directories,
  * `graft_run_<pid>` under `java.io.tmpdir` and under [[scratchRoot]];
  * the reaper deletes only those whose process is gone. */
class RunDirSpec extends SparkTestBase {

  private val self = ProcessHandle.current().pid()

  test("reaper: deletes a dead process's run directory, keeps this JVM's and a live one's") {
    val root = Files.createTempDirectory("rundir_spec")
    val sleeper = new ProcessBuilder("sleep", "60").start()
    try {
      val dead = {
        val p = new ProcessBuilder("true").start()
        p.waitFor()
        p.pid()
      }
      def runDir(pid: Long): Path =
        Files.createDirectories(root.resolve(s"$RunDirPrefix$pid").resolve("ckpt"))
          .getParent
      val (deadDir, selfDir, liveDir) = (runDir(dead), runDir(self), runDir(sleeper.pid()))
      val foreign = Files.createDirectories(root.resolve(s"${RunDirPrefix}notapid"))
      reapRunDirs(root.toString)
      assert(!Files.exists(deadDir), "a dead process's run directory must be reaped")
      assert(Files.exists(selfDir), "this JVM's run directory must stay")
      assert(Files.exists(liveDir), "a live process's run directory must stay")
      assert(Files.exists(foreign), "a name without a pid is not a run directory")
    } finally {
      sleeper.destroy()
      new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    }
  }

  test("the warehouse, sink paths, spark.local.dir and checkpoints resolve under this JVM's run directories") {
    val bulk = s"${System.getProperty("java.io.tmpdir")}/$RunDirPrefix$self"
    val fast = s"$scratchRoot/$RunDirPrefix$self"
    assert(bulkRunDir == bulk && fastRunDir == fast)
    assert(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:").startsWith(s"$bulk/"))
    assert(Tables.sinkPath(spark, sf, "spec").startsWith(s"$bulk/"))
    assert(spark.sparkContext.getConf.get("spark.local.dir").startsWith(s"$fast/"))
    assert(checkpointPath("spec").startsWith(s"$fast/"))
  }

  test("stream keys delete their checkpoints when they return") {
    streaming.Streaming.streamFileSource(spark, sf).collect()
    streaming.Streaming.streamIncrementalResume(spark, sf).collect()
    streaming.Streaming.streamDedup(spark, sf).collect()
    val left = Option(new java.io.File(fastRunDir, "ckpt").list()).toSeq.flatten
    assert(left.isEmpty, s"checkpoints left behind: $left")
  }
}
