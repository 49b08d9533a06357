package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TESTDATA parquet tables (TESTDATA.md).
  *
  * All queries receive `(spark, sfDir)` and read through here so that the
  * scan is a plain parquet `FileSourceScanExec` — Catalyst pushes filters
  * and prunes columns into it (verify with `.explain("formatted")`:
  * `PushedFilters` / `ReadSchema`). At 100 TB the same code path reads a
  * partitioned directory tree; nothing here assumes single-file layout.
  */
object Tables {
  /** Inferred-schema memo (round-16 verdict item 4): driver-side schema
    * inference reads a parquet footer per table REFERENCE (~tens of ms),
    * and a 250-query bench pays it ~750 times — several seconds of pure
    * per-query floor. The first reference to a path infers; later ones
    * hand the same StructType to the reader explicitly, which skips
    * inference entirely. METADATA reuse only: no rows or results are
    * cached, every query still computes from the parquet bytes, and the
    * scan's ReadSchema/PushedFilters are unchanged (plans/r16
    * before/after dumps are structurally identical). Keyed by (path,
    * every conf that changes parquet inference) because inference maps
    * TIMESTAMP(NANOS)/NTZ columns, unannotated binary, INT96, merged
    * footers and column-name case differently under those flags — a
    * session with different settings must re-infer, never inherit a
    * schema inferred under other rules. Assumes table dirs are immutable
    * within a JVM — the same assumption every store fixture memo in this
    * engine already makes.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), org.apache.spark.sql.types.StructType]

  /** Reads a table, normalizing any TIMESTAMP_NTZ column to TimestampType.
    * Sessions set `spark.sql.parquet.inferTimestampNTZ.enabled=false`
    * (see [[LocalSession]]) which makes this a no-op; the conditional cast
    * is schema-driven, so on a properly-configured session no extra
    * Project appears and scan-level filter pushdown is untouched. The
    * session timezone is pinned UTC, so the cast relabels the same wall
    * values as instants — bit-identical µs since epoch.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val confKey = Seq(
      "spark.sql.legacy.parquet.nanosAsLong" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
      "spark.sql.parquet.mergeSchema" -> "false",
      "spark.sql.parquet.binaryAsString" -> "false",
      "spark.sql.parquet.int96AsTimestamp" -> "true",
      "spark.sql.caseSensitive" -> "false"
    ).map { case (k, default) => spark.conf.get(k, default) }.mkString("|")
    val schema = schemaCache.getOrElseUpdate((path, confKey),
      spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    val ntz = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((acc, c) =>
      acc.withColumn(c, acc.col(c).cast(org.apache.spark.sql.types.TimestampType)))
  }

  /** `events.ts` is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    * reader rejects. Sessions set `spark.sql.legacy.parquet.nanosAsLong`
    * (see [[graft.GraftSession]]), so the column arrives as nano-epoch
    * longs and is truncated here to a microsecond timestamp — the same
    * ns→µs truncation DuckDB applies on `CAST(ts AS TIMESTAMP)`, which the
    * oracle SQL mirrors.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
