package graft

import org.apache.spark.sql.SparkSession

/** THE session-conf contract, in one place (r13, the r12 verdict's
  * item 9 and the r12 advisor's top item). Every main builds its
  * session here: the bench (Bench), the oracle gate (Verify), the plan
  * evidence (ExplainDump, Plans), the profiler (ProfileQuery) and the
  * stress mains (Bench10x, ScaleStress, AnnClusteredStress), so the
  * benchmarked configuration and the verified configuration cannot
  * drift, and a production consumer of `SparkEntry.queries` has a
  * named recipe instead of folklore. The stress mains override one
  * conf: `spark.local.dir` goes back to the JVM tmpdir, because their
  * shuffle volume can exceed RAM.
  *
  * What the contract sets and why (full rationale at each conf):
  *
  *  - `spark.sql.constraintPropagation.enabled=false` — planning-time
  *    only. The ANN book-learning plans carry hundreds of explicit
  *    alias/predicate pairs; constraint propagation is quadratic-ish in
  *    that count and infers nothing these plans need (their null/range
  *    predicates are explicit). Measured r12: q_ann_ivfpq_trained256
  *    3.95 s → 1.93 s isolated. Results are conf-independent — the
  *    oracle gate runs under the SAME conf since r13 precisely so that
  *    claim is reproducible from the code.
  *  - `spark.sql.streaming.checkpoint.fileChecksum.enabled=false` —
  *    Spark 4.1 writes checksum sidecar files on every streaming
  *    checkpoint file; state-store/commit-log close() blocks on them
  *    (r12 thread dumps). Off = fewer tiny files per micro-batch.
  *    PRODUCTION NOTE: on object stores, re-enable — the sidecars are
  *    the corruption detection for remote checkpoints.
  *  - `spark.local.dir` → `$SPARK_GRAFT_LOCAL_DIR`, defaulting to
  *    tmpfs (/dev/shm) when it exists AND has headroom — this
  *    sandbox's root fs has pathologically slow file creates (r12
  *    thread dumps: half of all task samples inside
  *    FileOutputStream.open0 on tiny-shuffle stages). Shuffle scratch
  *    only; nothing persists. A production cluster points this at its
  *    NVMe scratch array. The free-space guard (r12 advisor): a
  *    container-default 64 MB /dev/shm would overflow under a
  *    few-hundred-MB shuffle, so tmpfs is used only above 8 GiB free.
  *  - `spark.sql.codegen.cache.maxEntries=4000` — the suite compiles
  *    ~450 distinct whole-stage-codegen units; the default 100-entry
  *    Janino cache evicts everything each pass and every query re-pays
  *    50-200 ms of compilation per stage per run.
  *  - `spark.sql.shuffle.partitions = cpus` — scale-adaptive via
  *    `$SPARK_GRAFT_CPUS` (the driver contract), not a constant; AQE
  *    coalescing stays on (default) for the byte-sized stages.
  *  - `spark.sql.session.timeZone=UTC` — the oracle comparison
  *    contract (DuckDB reads naive timestamps; every entry point pins
  *    UTC so epoch math matches bit-exactly).
  *  - `spark.hadoop.fs.file.impl` → [[graft.sources.NioLocalFileSystem]]
  *    and `spark.hadoop.fs.AbstractFileSystem.file.impl` →
  *    [[graft.sources.NioLocalFs]] — the `file:` scheme through the
  *    `FileSystem` and the `FileContext` API, without Hadoop's forked
  *    `chmod` per created file or directory and `readlink` per
  *    `FileContext` rename (no libhadoop here). Measured on ext4: one
  *    Hadoop create with its `.crc` in a new directory 15-22 ms (3
  *    forks) and one `FileContext` rename 43-44 ms, against 0.2-0.5 ms
  *    through these classes; a perfbench `ingest` run forked 927
  *    processes before, 18 after. Results are Hadoop's own (`.crc`,
  *    umask, rename).
  *    Hadoop's `FileSystem` cache keeps the FIRST `file:` instance a
  *    JVM creates, so the classes take effect only when this session is
  *    the JVM's first user of `file:` — true of every graft main and of
  *    perfbench; a session built after another one keeps the stock
  *    `LocalFileSystem` (same results, the forks stay).
  */
object GraftSession {
  /** Core count from the driver contract env var. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Shuffle-scratch dir: `$SPARK_GRAFT_LOCAL_DIR`, else tmpfs when
    * present with ≥ 8 GiB usable (the r12 advisor's overflow guard),
    * else the JVM tmpdir. */
  def localDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.getUsableSpace > 8L * (1L << 30))
      "/dev/shm/graft_local"
    else System.getProperty("java.io.tmpdir")
  })

  /** The contract session builder. `shufflePartitions` defaults to the
    * core count; stress mains pass their own. */
  def builder(): SparkSession.Builder = {
    val c = cpus
    SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)
  }

  /** Runs `body` with each `key -> value` set on the session conf, then
    * puts every key back as it was: its previous value, or unset when it
    * had none. Restores run in reverse order, so nested calls unwind
    * like a stack. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
