package graft.ops

/** One scratch directory per JVM for all sink/warehouse operators, deleted
  * recursively on JVM exit. Operators write FIXED subdirs in overwrite
  * mode, so repeated Verify/Bench invocations inside one JVM reuse the same
  * paths — no unbounded /tmp growth across runs (and nothing survives the
  * process).
  *
  * Contract: sink operators are invoked SERIALLY within a JVM (the driver
  * harness and the test suite both run queries one at a time). Two
  * concurrent invocations of the same sink op would overwrite each other's
  * fixed subdir mid-read; a concurrent harness would need per-invocation
  * dirs (trading back the bounded-growth property).
  */
object Scratch {
  lazy val dir: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(p.toFile)))
    p.toString
  }

  /** Scratch subdir keyed by op prefix AND sf dir — ops whose output
    * depends on the input scale need distinct paths per sf within one JVM
    * (the test fixture and Verify can touch several scales). */
  def opDir(prefix: String, sfDir: String): String =
    s"$dir/${prefix}_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Fixture staging: the input files an operator reads, written once per
    * (JVM, sf) into `opDir(prefix, sfDir)`, which is returned. `build(dir)`
    * runs only while `dir/_STAGED` is absent, and the marker is written
    * after it returns, so a build that throws is rerun on the next call.
    * Never for an operator's own graded or computed work: that must run on
    * every call. */
  def staged(prefix: String, sfDir: String)(build: String => Unit): String = {
    val d = opDir(prefix, sfDir)
    val marker = java.nio.file.Paths.get(d, "_STAGED")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(marker.getParent)
      build(d)
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    d
  }

  /** Per-JVM streaming-checkpoint root on tmpfs (/dev/shm): the
    * offset/commit/state logs of every micro-batch are many small fsynced
    * files — on the scratch ext4 disk they were the dominant fixed cost
    * of the `stream_*` family (~35 calib-units/round). State here is
    * test-fixture-sized by construction; a production deployment points
    * `spark.sql.streaming.checkpointLocation` at durable storage instead.
    * Unique per JVM so a query name can never resume a stale checkpoint
    * across runs; deleted on exit. Falls back to the scratch dir when
    * /dev/shm is absent. */
  lazy val ckptDir: String = {
    val base = java.nio.file.Paths.get("/dev/shm")
    val p =
      if (java.nio.file.Files.isDirectory(base))
        java.nio.file.Files.createTempDirectory(base, "graft_ckpt")
      else java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(dir), "graft_ckpt")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(p.toFile)))
    p.toString
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(); ()
  }
}
