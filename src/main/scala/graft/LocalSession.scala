package graft

import org.apache.spark.sql.SparkSession

/** The ONE definition of the local session every main (Bench, Verify,
  * ScaleSmoke) and the test suites (`SparkTestBase`) run on: shared
  * config must have one home, or the mains drift apart in width and
  * settings.
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
  * Streaming state, where a stream keeps any (`StreamingSpec`'s
  * watermarked aggregation and `dropDuplicates`), lives in Spark's
  * default state store provider: the parity sink gets exactly-once from
  * its checkpointed epochs and deterministic file names, not from
  * operator state, and no registry query runs a stateful stream.
  *
  * Plan descriptions are capped at 1m characters
  * (`spark.sql.maxPlanStringLength`). Spark builds a description of the
  * physical plan for every SQL execution it starts
  * (`QueryExecution.explainString`, called from
  * `SQLExecution.withNewExecutionId`), and by default it keeps the whole
  * string: the driver holds one full copy per job, however large the
  * plan. The cap bounds that memory for any description. Spark's own doc for this conf says to
  * lower it when plan strings take up too much memory or cause
  * OutOfMemory errors. The cap is 1m, not Spark's example of 8k, so that
  * it never cuts a registry query's `df.explain("formatted")`: the
  * largest run to ~30k characters (q168's 32,309 at sf0.1, q36's 29,337
  * at sf0.001), which 1m keeps whole.
  *
  * Spark's generated-class cache holds 1000 entries
  * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100). The
  * registry's queries run again and again in one session, and one pass
  * of the benchmark's 15-query mix needs ~350 entries (with the class
  * naming below): each generated class is compiled once under the
  * driver's class loader and once under the executor's. At 100 entries a
  * repeated pass evicts and recompiles most of them (`LocalSessionSpec`'s
  * three-query pass: 236 of 307 classes, counted by Spark's
  * `CodegenMetrics`), and `query_mix`'s median pass took 1.66× as long;
  * at 1000 a repeated pass compiles 0-2.
  * The heap pays for it: the ~250 extra cached classes held ~11 MB
  * (~40 KB each) after GC in the benchmark's `query_mix`. The conf is
  * static: `CodeGenerator` reads it once per JVM, so it is set here, on
  * the builder, and not through `spark.conf.set`.
  *
  * Generated classes do not carry their whole-stage codegen stage id in
  * their name (`spark.sql.codegen.useIdInClassName=false`). The cache is
  * keyed on the generated source, and the id numbers stages in the order
  * the planner reaches them, so the same pipeline under another id is
  * another class: q168 swapped the ids of two aggregation stages between
  * its first and second run and compiled both again. Without the id in
  * the name, those runs share classes, and one pass of the mix needs ~350
  * entries instead of ~440. Stack traces name `GeneratedIterator` without
  * the stage suffix.
  *
  * Spark's status store keeps the last 10 SQL executions, jobs and stages
  * (`spark.sql.ui.retainedExecutions`, `spark.ui.retainedJobs`,
  * `spark.ui.retainedStages`; Spark's default is 1000 each). The UI is
  * off, yet Spark's status listeners still record each execution's plan
  * graph and metrics and every job, stage and task, and nothing in this
  * program reads that store (streaming progress is kept by the query
  * itself). The two groups go together: with the larger class cache
  * alone, `query_mix` heap after GC grew 87.2 → 98.1 MB (+13%, over the
  * benchmark's 10% bound); with the shorter history as well it is 87.6 MB.
  */
object LocalSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

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
      .config("spark.sql.streaming.checkpointFileManagerClass", CheckpointFileManager)
      .config("spark.sql.maxPlanStringLength", "1m")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.sql.codegen.useIdInClassName", "false")
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
