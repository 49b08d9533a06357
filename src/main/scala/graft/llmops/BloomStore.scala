package graft.llmops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Ops.asciiLowerSql

/** Persisted BLOOM-FILTER store — membership-at-scale as a tiny bit table,
  * and the one sketch in the store family whose merge is IDEMPOTENT.
  *
  * [[graft.llmops.CurationOps.q91]] uses Spark's xxhash64-seeded
  * `stat.bloomFilter` as a transparent pre-filter (false positives removed
  * by an exact verify join, so the ANSWER is oracled but the filter itself
  * cannot be: xxhash64 is not ANSI-reproducible). This store derives its
  * k=4 bit positions from md5 SLICES instead — md5 is computable in both
  * engines — so the filter's complete word table is itself
  * DuckDB-replayable: [[q221]] hash-checks the BITS (via measured
  * false-positive behavior and popcounts) and [[q222]] hash-checks a warm
  * store increment against a cold rebuild, word for word.
  *
  * Geometry: m = 4096 bits packed as 128 × 32-bit words (32-bit words
  * because a 64-bit word needs `1 << 63`, which DuckDB overflow-rejects;
  * 31 is the largest portable shift). Position j (j = 0..3) of key g is
  * `hex(md5(g)[8j+1 .. 8j+8]) mod m` — four independent 32-bit slices of
  * one md5, the standard partition-the-digest scheme.
  *
  * Idempotence: bit OR is associative, commutative, AND idempotent, so —
  * unlike [[TopKStore]]'s Misra–Gries counters — replaying a batch is a
  * store no-op by algebra. The streaming twin therefore needs NO epoch
  * guard for correctness under at-least-once `foreachBatch` delivery;
  * `meta.parquet` records geometry only. (Deletes are the one thing a
  * Bloom store cannot do — rebuild or a counting filter are the cures.)
  *
  * Store layout: `words.parquet` (word_idx, bits) ≤ 128 rows;
  * `meta.parquet` (m_bits, k_hashes). Commits use the
  * crash-narrowed rename-aside [[StoreCommit.swap]].
  *
  * Scale shape: a production filter for 10⁹ keys at 1% fpp is m ≈ 2³³
  * bits ≈ 2²⁸ words — a few hundred MB as a parquet table, shuffled only
  * at word grain; inserts are O(k·batch keys) narrow expressions + one
  * word-keyed aggregate, and the lake is never rescanned.
  */
object BloomStore {

  val MBits = 4096
  val WordBits = 32
  val KHashes = 4

  /** Distinct 8-gram shingle keys of a doc batch (q58/q91's
    * decontamination grain).
    */
  private[llmops] def keyGrams(docs: DataFrame): DataFrame =
    Dedup.shingles(docs, 8).select("shingle").distinct()

  /** The k exploded (key, pos) rows per key: position j is the j-th
    * 8-hex-char slice of md5(key), mod m. Narrow per-row expressions.
    */
  private[llmops] def positions(keys: DataFrame, keyCol: String): DataFrame =
    keys.select(col(keyCol).as("k"),
      explode(array((0 until KHashes).map(j =>
        (conv(substring(md5(col(keyCol)), 1 + 8 * j, 8), 16, 10)
          .cast("long") % MBits).as(s"p$j")): _*)).as("pos"))

  /** Bit-packed word table (word_idx, bits) for a key set — one word-keyed
    * bit_or aggregate; words with no set bit are absent (OR-neutral).
    */
  private[llmops] def wordTable(keys: DataFrame, keyCol: String): DataFrame =
    positions(keys, keyCol)
      .select(expr(s"pos div $WordBits").as("word_idx"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $WordBits AS INT))").as("mask"))
      .groupBy("word_idx").agg(expr("bit_or(mask)").as("bits"))

  /** The word table the store WOULD hold after `batch` lands: stored
    * words OR batch words. O(words + batch keys); the lake is never
    * reread.
    */
  def updatedWords(spark: SparkSession, dir: String, batch: DataFrame): DataFrame =
    spark.read.parquet(s"$dir/words.parquet")
      .unionByName(wordTable(keyGrams(batch), "shingle"))
      .groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))

  def build(docs: DataFrame, dir: String): Unit = {
    wordTable(keyGrams(docs), "shingle")
      .write.mode("overwrite").parquet(s"$dir/words.parquet")
    docs.sparkSession.createDataFrame(Seq((MBits.toLong, KHashes.toLong)))
      .toDF("m_bits", "k_hashes")
      .write.mode("overwrite").parquet(s"$dir/meta.parquet")
  }

  /** Committing increment. No epoch guard: OR-merge is idempotent, so a
    * replayed batch converges to the identical word table.
    */
  def update(spark: SparkSession, dir: String, batch: DataFrame): Unit = {
    updatedWords(spark, dir, batch)
      .write.mode("overwrite").parquet(s"$dir/words.parquet.tmp")
    StoreCommit.swap(spark, s"$dir/words.parquet")
  }

  /** Probe: for each key in `keys`, TRUE iff all k positions are set in
    * the store's word table (the maybe-contains verdict). The word table
    * is broadcast (≤128 rows here; word-keyed join at production m).
    */
  def mightContain(spark: SparkSession, dir: String, keys: DataFrame,
                   keyCol: String): DataFrame = {
    val words = spark.read.parquet(s"$dir/words.parquet")
    positions(keys, keyCol)
      .withColumn("word_idx", expr(s"pos div $WordBits"))
      .join(broadcast(words), Seq("word_idx"), "left")
      .withColumn("bit",
        coalesce(expr(s"shiftright(bits, CAST(pos % $WordBits AS INT)) & 1"), lit(0L)))
      .groupBy(col("k").as(keyCol))
      .agg((min("bit") === 1L).as("maybe_contains"))
  }

  /** STREAMING twin — `foreachBatch` OR-merge. Stateless query, state in
    * the store; at-least-once replay is safe WITHOUT an epoch guard
    * (idempotent merge), the property that distinguishes this store from
    * [[TopKStore]].
    */
  def stream(docs: DataFrame, dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) update(batch.sparkSession, dir, batch)
      }

  // ------------------------------------------------------------- store dir
  private val builtFor = scala.collection.concurrent.TrieMap.empty[String, String]
  private def storeDir(s: SparkSession, d: String): String =
    builtFor.getOrElseUpdate(d, {
      val dir = graft.core.TempDirs.scratch("graft-bloomstore-")
      build(Tables.documents(s, d).filter(col("doc_id") % 2 === 0), dir)
      dir
    })

  /** The shared 8-gram CTE chain (q91/q100's spelling) + md5 position
    * math, parameterized by the doc filter that selects the key set.
    */
  private def gramsCte: String = s"""toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts FROM documents
              WHERE len(string_split(${asciiLowerSql("text")}, ' ')) >= 8),
            grams AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                  unnest(list_transform(range(1, len(ts) - 6),
                    i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2] || '_' || ts[i+3]
                      || '_' || ts[i+4] || '_' || ts[i+5] || '_' || ts[i+6] || '_' || ts[i+7])) AS g
                FROM toks))"""

  private def posSql(keysCte: String): String =
    s"""SELECT k, CAST(('0x' || substr(md5(k), 1 + 8 * j.j, 8)) AS BIGINT) % $MBits AS pos
        FROM $keysCte CROSS JOIN (SELECT unnest(range(0, $KHashes)) AS j) j"""

  private def wordsSql(posCte: String): String =
    s"""SELECT pos // $WordBits AS word_idx,
          CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % $WordBits AS INTEGER)) AS BIGINT) AS bits
        FROM $posCte GROUP BY 1"""

  // --------------------------------------------------------------- q221
  /** BLOOM CONSTRUCTION + FALSE-POSITIVE audit — the filter itself under
    * oracle: eval grams (doc_id < 10, q58's benchmark stand-in) build the
    * filter; every corpus gram NOT in the eval set probes it; the output
    * row carries the filter's total popcount and the measured
    * false-positive count/rate. Because every probe consults every
    * relevant bit, a single wrong bit anywhere — broken slice arithmetic,
    * a lost word, a shift off by one — moves `n_false_pos` and turns the
    * row red; this is q212's "oracle the STATE, not just booleans"
    * discipline applied to q91's sketch.
    *
    * The rate itself is exact integer micros ((fp·10⁶) div clean — no
    * IEEE); at this geometry (m/n ≈ 4096/n_eval, k=4) the expected fpp
    * is (1−e^(−kn/m))^k — the measured value is data, not a gate, so the
    * audit has no corpus-dependent boolean to go spuriously red (the
    * round-6 ADVICE lesson on q168/q175).
    *
    * Scale shape: the filter is a ≤128-row broadcast; probes are one
    * distinct + narrow per-row md5 math + a key-grain aggregate. Nothing
    * pairs, nothing corpus-scale shuffles twice.
    */
  val q221 = QuerySpec(
    "q221_bloom_bits_audit",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val evalKeys = keyGrams(docs.filter(col("doc_id") < 10))
      val evalWords = wordTable(evalKeys, "shingle")
      val clean = keyGrams(docs.filter(col("doc_id") >= 10))
        .join(evalKeys, Seq("shingle"), "left_anti")
      val probed = positions(clean, "shingle")
        .withColumn("word_idx", expr(s"pos div $WordBits"))
        .join(broadcast(evalWords), Seq("word_idx"), "left")
        .withColumn("bit",
          coalesce(expr(s"shiftright(bits, CAST(pos % $WordBits AS INT)) & 1"), lit(0L)))
        .groupBy("k").agg((min("bit") === 1L).as("fp"))
        .agg(count(lit(1)).as("n_clean_probes"),
          count(when(col("fp"), 1)).as("n_false_pos"))
      val stats = evalWords.agg(
        sum(expr("bit_count(bits)")).cast("long").as("n_set_bits"))
      evalKeys.agg(count(lit(1)).as("n_eval_grams"))
        .crossJoin(broadcast(stats))
        .crossJoin(broadcast(probed))
        .select(lit(MBits.toLong).as("m_bits"), lit(KHashes.toLong).as("k_hashes"),
          col("n_eval_grams"), col("n_set_bits"),
          col("n_clean_probes"), col("n_false_pos"),
          when(col("n_clean_probes") > 0,
            expr("(n_false_pos * 1000000) div n_clean_probes"))
            .otherwise(lit(0L)).as("fpr_micro"))
    },
    Some(s"""WITH $gramsCte,
            eval_keys AS (SELECT DISTINCT g AS k FROM grams WHERE doc_id < 10),
            pos_eval AS (${posSql("eval_keys")}),
            words AS (${wordsSql("pos_eval")}),
            clean AS (
              SELECT DISTINCT g AS k FROM grams WHERE doc_id >= 10
              AND g NOT IN (SELECT k FROM eval_keys)),
            pos_clean AS (${posSql("clean")}),
            probe AS (
              SELECT p.k,
                MIN(COALESCE((w.bits >> CAST(p.pos % $WordBits AS INTEGER)) & 1, 0)) = 1 AS fp
              FROM pos_clean p
              LEFT JOIN words w ON w.word_idx = p.pos // $WordBits
              GROUP BY p.k),
            pr AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_clean_probes,
                CAST(COUNT(CASE WHEN fp THEN 1 END) AS BIGINT) AS n_false_pos
              FROM probe),
            st AS (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) AS n_set_bits FROM words),
            ek AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_grams FROM eval_keys)
            SELECT CAST($MBits AS BIGINT) AS m_bits,
              CAST($KHashes AS BIGINT) AS k_hashes,
              n_eval_grams, n_set_bits, n_clean_probes, n_false_pos,
              CASE WHEN n_clean_probes > 0
                THEN (n_false_pos * 1000000) // n_clean_probes
                ELSE 0 END AS fpr_micro
            FROM ek CROSS JOIN st CROSS JOIN pr""")
  )

  // --------------------------------------------------------------- q222
  /** Warm-increment BLOOM STORE audit — [[q201]]/[[q212]]'s shape for the
    * bit table: the store holds the even-doc filter, the odd docs land as
    * the increment, and DuckDB rebuilds the full-corpus filter COLD —
    * which must equal the warm result word-for-word because OR-merge is
    * associative/commutative/idempotent (the algebra IS the store
    * contract, so the oracle needs no two-step replay the way MG does).
    * A store that lost a word, double-shifted a mask, or mis-merged
    * produces a differing `bits` value and the row goes red.
    */
  val q222 = QuerySpec(
    "q222_bloom_store_audit",
    (s, d) => {
      val warm = updatedWords(s, storeDir(s, d),
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1))
      warm.select(col("word_idx"), col("bits"),
          expr("CAST(bit_count(bits) AS BIGINT)").as("n_set"))
        .orderBy("word_idx")
    },
    Some(s"""WITH $gramsCte,
            keys AS (SELECT DISTINCT g AS k FROM grams),
            pos AS (${posSql("keys")}),
            words AS (${wordsSql("pos")})
            SELECT word_idx, bits, CAST(bit_count(bits) AS BIGINT) AS n_set
            FROM words ORDER BY word_idx""")
  )

  val all: Seq[QuerySpec] = Seq(q221, q222)
}
