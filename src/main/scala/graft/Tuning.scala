package graft

import org.apache.spark.sql.SparkSession

/** Session-level engine tuning shared by every main (Bench, Verify,
  * the dev tools), the test suite and perfbench, so measured, verified
  * and tested runs execute identically.
  * Each setting is scale-justified, not a local[32] fit — see
  * OPTIMIZATION_r18.md for the measurements:
  *
  *  - committer algorithm v2: task commits move files to their final
  *    location directly; v1's job commit is a DRIVER-SIDE serial merge
  *    of every task's `_temporary` attempt dir — measured as the
  *    dominant non-job wall time of every partitioned index-segment
  *    write (a 252-bucket LSH segment is ~252 directory merges per
  *    write, serial on the driver; at production scale the same merge
  *    is one driver-side round-trip per partition-dir against an
  *    object store). SAFE HERE BY CONSTRUCTION: the index layer's
  *    atomicity comes from the manifest flip ([[operators.IndexCommit]]
  *    — segments are staged dirs invisible until the rename), never
  *    from job-commit atomicity; a crashed write leaves orphan files
  *    in an uncommitted segment dir that the retry's
  *    `mode("overwrite")` replaces. The known v2 caveat (concurrent
  *    task-commit visibility on non-atomic-rename stores) is exactly
  *    the window the manifest protocol already tolerates.
  *    The setting is session-wide, so it also covers the writes that
  *    do NOT go through IndexCommit staging: Verify's result dumps,
  *    streaming sinks and the dev tools' outputs. For those, v2 gives
  *    up job-commit atomicity — a job that fails after some tasks
  *    committed leaves those tasks' files visible in the output dir,
  *    and a reader listing the dir mid-job sees a partial result. The
  *    writes affected here are scratch or `mode("overwrite")` outputs
  *    that a rerun replaces and that nothing reads before the job
  *    returns; a write whose readers need all-or-nothing visibility
  *    must stage through IndexCommit (or a v1 session).
  *
  *  - parallel partition discovery threshold 1024 (default 32): below
  *    the threshold the driver lists partition dirs with its own
  *    thread pool; above it Spark launches a distributed listing JOB.
  *    A few hundred local directory listings cost ~10 ms of I/O behind
  *    ~0.4 s of job scheduling (measured on the bucket/cell segment
  *    reads, 2 such jobs per serve) — the job only pays off when
  *    per-path listing latency is object-store-sized AND path counts
  *    are thousands. 1024 keeps the distributed path for genuinely
  *    huge partitioned tables.
  *
  *  - UI status-store retention 50 (default 1000 jobs, stages and SQL
  *    executions): the listener store is kept even with the UI off, so
  *    the driver otherwise keeps every execution's plan graph and
  *    metrics live. Nothing reads the store; profilers and tracers are
  *    their own listeners.
  */
object Tuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.hadoop.fs.file.impl",
      classOf[FastLocalFileSystem].getName)
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
      "2")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      "1024")
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .config("spark.sql.ui.retainedExecutions", "50")

  /** `SPARK_GRAFT_CPUS`, defaulting to the host's processor count. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session every main and the test suite run on: [[apply]],
    * `local[cpus]` with as many shuffle partitions, UTC, UI off, and
    * log level ERROR, so a main's own output is not buried in Spark's.
    * The codegen cache holds 2000 entries (default 100): the registry
    * shares kernels (Env scans, shingle/gram CTEs, quantized folds)
    * whose generated code is byte-identical across queries, but ~285
    * entries × ~4 codegen stages each overflow the default cache, so
    * shared fragments recompile. */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = apply(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Between-entry hygiene: registry entries are independent, so the
    * blocks earlier entries pinned (lazily localCheckpointed shared
    * subplans, fsck pins) and the plans they cached are dead state a
    * long run would otherwise accumulate in the block manager until the
    * ContextCleaner's next GC-driven sweep. */
  def reset(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }
}
