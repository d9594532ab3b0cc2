package graft

import org.apache.spark.sql.SparkSession

/** THE session-conf contract, in one place (r13, the r12 verdict's
  * item 9 and the r12 advisor's top item). Every main builds its
  * session here: the bench (Bench), the oracle gate (Verify), the plan
  * evidence (ExplainDump, Plans), the profiler (ProfileQuery) and the
  * stress mains (Bench10x, ScaleStress, AnnClusteredStress), so the
  * benchmarked configuration and the verified configuration cannot
  * drift, and a production consumer of `SparkEntry.queries` has a
  * named recipe instead of folklore. The stress mains build through
  * [[Harness.stressSession]], which overrides one conf:
  * `spark.local.dir` goes back to the JVM tmpdir, because their shuffle
  * volume can exceed RAM.
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
  *  - `spark.sql.artifact.isolation.enabled=false` — every session
  *    shares the root class loader, so the codegen cache hits across
  *    stream starts. `CodeGenerator.compile` keys its cache on the
  *    context class loader AND the code; each `StreamExecution` runs in a
  *    cloned session with a new session UUID, and under the default
  *    (isolation on) each clone gets its own artifact state, so its
  *    tasks run under a fresh class loader and byte-identical code
  *    compiles again on every start and in every `foreachBatch` body.
  *    Measured (Spark 4.1.2, one query rerun in one JVM), classes
  *    compiled per rerun, isolation on → off: q_stream_tumbling 12 → 0
  *    (224-305 ms of compile → 0), q_stream_cdc 32-34 → 0-6 (the 0-6
  *    differ from earlier classes only in the codegen stage id AQE
  *    assigns at run time; 0 with AQE off), q_stream_join 21 → 0,
  *    q_stream_session 19 → 0. Graft adds no artifacts (no
  *    `addArtifact`, no `addJar`), so isolation buys it nothing.
  *    PRODUCTION NOTE: a multi-tenant Spark Connect server needs
  *    isolation, so that one client's jars and classes stay out of
  *    another's sessions; this contract is a single-tenant embedded
  *    session.
  *  - `spark.sql.codegen.useIdInClassName=false` — generated classes
  *    are not named after their whole-stage codegen stage id, so code
  *    that differs only in that id compiles once. AQE numbers codegen
  *    stages in the order it creates query stages at run time, so a rerun
  *    can give the same stage another id; with the id in the class name
  *    that is new code and compiles again (the id stays in a comment the
  *    codegen cache does not key on). Measured (sf0.001, one JVM, 5
  *    passes), classes compiled per pass, on → off: `q_stream_cdc`
  *    85/0/0/8/2 → 73/0/0/0/0. Stack traces then name every stage's
  *    class `GeneratedIterator`, without the id.
  *  - `spark.sql.shuffle.partitions = cpus` — scale-adaptive via
  *    `$SPARK_GRAFT_CPUS` (the driver contract), not a constant; AQE
  *    coalescing stays on (default) for the byte-sized stages.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — an int64
  *    TIMESTAMP(NANOS) parquet column reads as raw longs, which
  *    [[Tables.events]] decodes to µs timestamps. The key cannot be
  *    scoped to one read: Spark's ParquetFileFormat copies the session
  *    value into every scan's hadoopConf at execution, over any
  *    DataFrameReader option, so it is a session setting. It touches
  *    only nanos-typed columns (µs- and tz-typed reads are unchanged;
  *    the fixtures and the perfbench corpus are `timestamp[us]`). A
  *    session built without it gets Spark's PARQUET_TYPE_ILLEGAL error
  *    on an int64-nanos file; readers never set it themselves.
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

  /** The contract session builder: `local[cpus]` with
    * `spark.sql.shuffle.partitions` at the same core count. Stress mains
    * override settings on top of it through [[Harness.stressSession]]. */
  def builder(): SparkSession.Builder = {
    val c = cpus
    SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
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
