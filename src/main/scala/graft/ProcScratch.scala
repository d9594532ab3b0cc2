package graft

/** Per-process scratch namespace for queries that WRITE as part of
  * their definition (format roundtrips, CDC/MV/partition-evolution
  * maintenance, group commit, multimodal ingest, ANN serving tables,
  * streaming checkpoints).
  *
  * Why per-process: two harness JVMs can run against the same fixture
  * concurrently (bench and verify, or a plan render racing a
  * measurement). With scratch paths keyed only by the fixture directory
  * name, one JVM's overwrite can land mid-read of the other's scan.
  * Keying every scratch path by this JVM's PID makes the namespaces
  * disjoint; a shutdown hook reclaims the whole per-process tree so
  * repeated runs do not accumulate garbage.
  *
  * Placement (r13): parameterised via `$SPARK_GRAFT_SCRATCH_DIR`,
  * defaulting to tmpfs when present with ≥ 32 GiB usable, else /tmp —
  * the same rationale (and env-override discipline) as the shuffle
  * scratch in [[GraftSession.localDir]]: the write-path queries create
  * hundreds of small files (checkpoint WALs, state deltas, manifest
  * versions, container parts) per run. Measured split of such a create
  * on ext4: without libhadoop, one Hadoop create with its `.crc` in a
  * new directory forks `chmod` three times and takes 15-22 ms; the same
  * file work through `java.nio` on the same disk takes 0.06-0.13 ms.
  * The session contract names the in-process `file:` filesystem
  * ([[graft.sources.NioLocalFileSystem]]), which takes the forks out
  * wherever the tree lands. Everything under this tree is
  * scratch RE-CREATED by the query that reads it — nothing persists
  * across runs (the shutdown hook and the per-query root deletes both
  * enforce that), so placement cannot change any result. A production
  * deployment points this at its scratch array; the 32 GiB bar keeps a
  * container-default 64 MB /dev/shm (or a nearly-full one) from being
  * selected, falling back to /tmp exactly as before r13.
  */
object ProcScratch {
  /** Root of this JVM's scratch tree, e.g. /dev/shm/graft_scratch/graft_12345. */
  val base: String = {
    val root = sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.getUsableSpace > 32L * (1L << 30))
        "/dev/shm/graft_scratch"
      else "/tmp"
    })
    s"$root/graft_${java.lang.ProcessHandle.current().pid()}"
  }

  private val cleaner = new Thread(() => {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(base))
  }, "graft-scratch-cleaner")
  Runtime.getRuntime.addShutdownHook(cleaner)
}
