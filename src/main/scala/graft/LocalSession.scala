package graft

import org.apache.spark.sql.SparkSession

/** The ONE definition of the local session every main (Bench, Verify,
  * Profile, ScaleSmoke, SinkBench, ParityDemo, PlanAudit, ExplainFmt)
  * and the test suites (`SparkTestBase`) run on. Each main used to
  * carry its own copy of this builder block — which is exactly how a
  * scaffold-era `local[4]` default survived a whole round in
  * Bench/Verify while Profile already said 32: shared config must have
  * one home.
  *
  * Parquet timestamp handling (both settings together make the engine
  * layout-agnostic across testdata generations):
  *   - `spark.sql.legacy.parquet.nanosAsLong`: TIMESTAMP(NANOS) columns
  *     read as nano-longs, truncated to µs timestamps in `Tables.events`
  *     (DuckDB-equivalent).
  *   - `spark.sql.parquet.inferTimestampNTZ.enabled=false`: µs/ms columns
  *     written with isAdjustedToUTC=false read as TimestampType, not
  *     TimestampNTZType. The session timezone is pinned UTC, so wall
  *     values are identical either way, but TimestampType keeps the whole
  *     function surface (unix_micros, session_window, …) and the output
  *     schema stable regardless of how the generator wrote the files.
  *
  * Streaming checkpoints go through Spark's `FileSystem`-based checkpoint
  * file manager, not its `FileContext` default. Without the native Hadoop
  * library, the `FileContext` manager's rename resolves symlinks by
  * forking `readlink` (8 forks per checkpoint file) and sets permissions
  * by forking `chmod`: a JFR recording of the parity sink counted 608
  * `readlink` and 152 `chmod` forks on the stream thread over ~38
  * micro-batches, ~42 ms of each offsets/commits log write. The
  * `FileSystem` manager writes a temp file and moves it into place with
  * one POSIX rename, which is atomic, so the offsets/commits logs keep
  * their exactly-once guarantee; it is also the manager Spark falls back
  * to on stores without a `FileContext` binding.
  *
  * Plan descriptions are capped at 1m characters
  * (`spark.sql.maxPlanStringLength`). Spark builds a description of the
  * physical plan for every SQL execution it starts
  * (`QueryExecution.explainString`, called from
  * `SQLExecution.withNewExecutionId`), and by default it keeps the whole
  * string: the driver holds one full copy per job, however large the
  * plan. The cap bounds that memory for any description. Spark's own doc for this conf says to
  * lower it when plan strings take up too much memory or cause
  * OutOfMemory errors. The cap is 1m, not Spark's example of 8k:
  * `ExplainFmt`, `ExplainOne` and `PlanAudit` print plans through this
  * session, the committed dumps under `plans/` are checked against
  * those files, and the largest of them
  * (`plans/r15/q168_containment_sketch_audit_before.txt`) is 32,309
  * characters, which 1m keeps whole.
  */
object LocalSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Streaming state store provider. Default is RocksDB, NOT the
    * HDFS-backed in-memory default: the stateful ops
    * (`streaming/StatefulOps.scala`) keep per-key MinHash bucket FIFOs /
    * funnel machines / champions, and the in-memory provider holds every
    * key's state on-heap per executor — at 100× the near-dup bucket map is
    * the first thing to blow the heap. RocksDB keeps the working set
    * off-heap with spill-to-disk, so state capacity scales with disk, not
    * heap. Sizing: streamingNearDup state ≈ (16 bands × maxBucket × 8 B
    * doc-ids + 64×8 B signature) ≈ 1 KiB/doc at maxBucket=10 → 1 M tracked
    * docs ≈ 1 GiB per executor — fine on disk, fatal on a shared heap.
    * Override (e.g. back to HDFS for tiny tests) via SPARK_GRAFT_STATE_STORE.
    */
  def stateStoreProvider: String = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  val CheckpointFileManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  def apply(width: String = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$width]")
      .config("spark.sql.shuffle.partitions", width)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass", stateStoreProvider)
      .config("spark.sql.streaming.checkpointFileManagerClass", CheckpointFileManager)
      .config("spark.sql.maxPlanStringLength", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec logs "No Partition Defined" once per TASK for every
    // global window — including the 8 PlanGateSpec-whitelisted
    // value-domain windows that are provably bounded. Across a 246-query
    // bench that is ~800 lines (~130 kB) of stderr, which is exactly what
    // buried the round-7 bench JSON line out of the driver's captured log
    // tail (BENCH_r07 "parsed": null). The real unbounded-window contract
    // is enforced mechanically by graft.plans.PlanGate in CI; the log
    // spam adds nothing, so silence that one logger, not the category.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
