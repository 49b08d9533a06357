package graft.llmops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators.Ops._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four families, in increasing fuzziness:
  *   - exact        (hash groupBy / DISTINCT)                 → q21, oracled
  *   - keyed latest (window row_number=1, latest-wins)        → q22, oracled
  *   - n-gram Jaccard (shared-shingle join, exact overlap)    → q27, oracled
  *   - MinHash+LSH / SimHash (sketch + band-bucket join)      → q30/q31,
  *     rows-only checked (hash-seeded, not ANSI-SQL-expressible)
  *
  * Scale posture (the 100 TB constraint, SURVEY.md §7.4#5): no operator here
  * ever builds an all-pairs candidate set. Near-dup candidates come from
  * equi-joins on shingles/bands/buckets — the shuffle key is the
  * shingle/band hash, map-side distinct runs first, and hot buckets are
  * capped (`maxBucket`) the way production LSH dedup salts/limits skewed
  * bands. Signatures are fixed-width arrays (64×8B) so the sketch state per
  * doc is O(1) regardless of doc length.
  */
object Dedup {

  // ---------------------------------------------------------------- q21
  /** Exact full-row dedup accounting over a column subset: total vs distinct
    * vs duplicate counts. `distinct()` is a hash aggregate — partial
    * (map-side) dedup happens before the shuffle, so at 100 TB the shuffle
    * carries only per-partition-unique rows.
    */
  val q21 = QuerySpec(
    "q21_dedup_exact",
    (s, d) => {
      val e = Tables.events(s, d).select("user_id", "event_type", "value")
      e.agg(count(lit(1)).as("total_rows"))
        .crossJoin(e.distinct().agg(count(lit(1)).as("distinct_rows")))
        .select(
          col("total_rows"), col("distinct_rows"),
          (col("total_rows") - col("distinct_rows")).as("dup_rows"))
    },
    Some("""SELECT t.total_rows, d.distinct_rows,
              t.total_rows - d.distinct_rows AS dup_rows
            FROM (SELECT COUNT(*) AS total_rows FROM events) t,
                 (SELECT COUNT(*) AS distinct_rows FROM
                   (SELECT DISTINCT user_id, event_type, value FROM events)) d""")
  )

  // ---------------------------------------------------------------- q22
  /** Keyed dedup, latest-wins: one surviving row per user_id (max ts,
    * event_id tiebreak), then survivor stats per event_type. The window
    * shuffles once on user_id; at scale this is the standard
    * "latest version of each document" pass.
    */
  val q22 = QuerySpec(
    "q22_dedup_keyed_latest",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_latest"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n_latest,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_value
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
              FROM events)
            WHERE rn = 1
            GROUP BY event_type ORDER BY event_type""")
  )

  // ------------------------------------------------------------ shingles
  /** doc_id → (pos, tok) token stream: one codegen'd split + posexplode,
    * no higher-order functions.
    *
    * Round 15 (guide §2.3/§2.4): the fan-out to session width moved HERE,
    * keyed by doc_id, from the call sites' keyless form. Every consumer of
    * this stream window-partitions by doc_id, so hash-routing the DOCUMENT
    * rows up front (a) satisfies the window's required distribution — the
    * second exchange, which carried the ~86×-multiplied token stream,
    * disappears from every shingle pipeline; (b) drops the keyless
    * repartition's retry-determinism local sort (SPARK-23207); and (c)
    * parallelizes the split+posexplode that used to run on the narrow scan
    * side for callers that skipped fanOut. At production split counts
    * fanOut is its usual no-op and the window's own doc_id exchange
    * provides the shuffle, as before.
    */
  private[llmops] def tokensWithPos(docs: DataFrame): DataFrame =
    graft.operators.Ops.fanOut(docs, col("doc_id"))
      .select(col("doc_id"),
        posexplode(split(asciiLower(col("text")), " ")).as(Seq("pos", "tok")))

  /** (doc_id, pos, shingle): k-gram spans assembled with lead() over the
    * doc-ordered token stream — one shuffle (by doc_id), fully codegen'd.
    *
    * Design note — this REPLACES a repartition + `transform(sequence(...))`
    * span-array build. That shape has a hidden quadratic trap: Catalyst's
    * InferFiltersFromGenerate derives `size(spans) > 0` from the explode
    * and PushDownPredicates carries it below the repartition, where
    * expression substitution inlines the whole interpreted HOF — with the
    * token split re-evaluated inside every element_at — onto the
    * pre-shuffle (single-input-split) side: measured as an 11–14s
    * single-task stage in q27/q30 at sf0.1. With lead() the only Generate
    * child is one split() per document, so the inferred guard is cheap,
    * and no interpreted higher-order function exists in the pipeline.
    *
    * concat_ws SKIPS null arguments, so the filter on the last lead is
    * what keeps trailing windows (< k tokens left) out — without it they
    * would silently shrink to shorter grams instead of dropping. Docs
    * shorter than k tokens drop here too (their first span already lacks
    * a k-th token), preserving the "no spans for short docs" totality the
    * oracle SQL guards with `len(ts) >= k`.
    */
  private[llmops] def shinglesWithPos(docs: DataFrame, k: Int): DataFrame =
    shinglesFromTokens(tokensWithPos(docs), k)

  /** The k-gram window over an EXISTING (doc_id, pos, tok) stream — split
    * out (round 15) so a caller that already paid (and possibly
    * materialized) the tokenize pass can assemble grams from it instead
    * of re-tokenizing the corpus (see CurationOps.stripBoilerplate, whose
    * plan previously held four independent tokenize subtrees).
    */
  private[llmops] def shinglesFromTokens(toks: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val parts = col("tok") +: (1 until k).map(o => lead(col("tok"), o).over(w))
    toks
      .select(col("doc_id"), col("pos"),
        parts.last.as("last_tok"), concat_ws("_", parts: _*).as("shingle"))
      .filter(col("last_tok").isNotNull)
      .select(col("doc_id"), col("pos"), col("shingle"))
  }

  /** doc_id → exploded k-gram token shingles ("a_b_c"). `dedup = true`
    * gives set semantics (needed for exact Jaccard); MinHash skips the
    * distinct — min() is duplicate-insensitive, and the dedup shuffle of
    * the full shingle stream would be pure waste at corpus scale. When
    * dedup runs it needs NO extra shuffle: the stream is already
    * hash-partitioned by doc_id, which satisfies the (doc_id, shingle)
    * clustering the aggregate asks for.
    */
  def shingles(docs: DataFrame, k: Int, dedup: Boolean = true): DataFrame = {
    val sh = shinglesWithPos(docs, k).select("doc_id", "shingle")
    if (dedup) sh.distinct() else sh
  }

  // ---------------------------------------------------------------- q27
  /** A shingle present in more than this many documents is dropped from the
    * exact-Jaccard universe (on BOTH the intersection and size side, so the
    * measure stays a true Jaccard over the reduced universe). This is the
    * exact-path analog of `maxBucket` in [[minhashPairs]]: without it, one
    * stop-phrase trigram shared by 1% of a 100 TB corpus makes the
    * shared-shingle candidate join quadratic. At test scale no trigram
    * comes near the cap, so results equal the uncapped exact Jaccard (and
    * the DuckDB oracle applies the identical cap).
    */
  val MaxShingleDocFreq = 1000

  /** Exact n-gram (trigram) Jaccard near-dup pairs via shared-shingle
    * equi-join: |A∩B| from a join on the shingle itself, |A|,|B| from
    * per-doc counts. Expressible in ANSI SQL → DuckDB-oracled.
    *
    * Scale notes: k=3 (not 2) is load-bearing — shingle cardinality grows
    * with vocab^k, so buckets stay small and the candidate join stays
    * near-linear (with k=2 on this ~40-word vocab the join explodes ~10×).
    * Hot shingles above [[MaxShingleDocFreq]] are dropped (the window's
    * shuffle key — shingle — is the same as the join key, so the cap rides
    * the partitioning the join needs anyway). The capped shingle set is
    * consumed three times (both join sides + the size agg), so it is
    * materialized ONCE via [[graft.core.Materialize]] (localCheckpoint
    * locally; reliable checkpoint under cluster config — see that object
    * for the failure-tolerance contract).
    *
    * Factored as a reusable table (d1 < d2, jaccard ≥ minJac) because
    * the q248 store-boundary audit joins it as its exact verify stage
    * (its oracle replays the identical SQL with a pair-class predicate).
    */
  private[llmops] def exactTrigramJaccardPairs(docs: DataFrame,
                                               minJac: Double): DataFrame = {
    val bg = graft.core.Materialize(
      capKeyFreq(shingles(docs, 3), MaxShingleDocFreq, col("shingle")))
    val sizes = bg.groupBy("doc_id").agg(count(lit(1)).as("nbg"))
    val inter = bg.as("a")
      .join(bg.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    // ffloor, not round: round(double) is not engine-portable (Ops.scala)
    val jac = ffloor(
      col("inter").cast("double") / (col("s1.nbg") + col("s2.nbg") - col("inter")), 4)
    inter
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), jac.as("jaccard"))
      .filter(col("jaccard") >= minJac)
  }

  val q27 = QuerySpec(
    "q27_ngram_jaccard",
    (s, d) => exactTrigramJaccardPairs(Tables.documents(s, d), 0.1)
      .orderBy("d1", "d2"),
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts FROM documents
              WHERE len(string_split(${asciiLowerSql("text")}, ' ')) >= 3),
            trigrams_all AS (
              SELECT DISTINCT doc_id, bg FROM (
                SELECT doc_id,
                  unnest(list_transform(range(1, len(ts) - 1),
                    i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2])) AS bg
                FROM toks)),
            trigrams AS (
              SELECT doc_id, bg FROM trigrams_all
              QUALIFY COUNT(*) OVER (PARTITION BY bg) <= 1000),
            sizes AS (SELECT doc_id, COUNT(*) AS nbg FROM trigrams GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
              FROM trigrams a JOIN trigrams b
                ON a.bg = b.bg AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT d1, d2,
              CAST(FLOOR(CAST(inter AS DOUBLE) / (s1.nbg + s2.nbg - inter) * 10000.0) AS DOUBLE) / 10000.0 AS jaccard
            FROM pairs
            JOIN sizes s1 ON d1 = s1.doc_id
            JOIN sizes s2 ON d2 = s2.doc_id
            WHERE CAST(FLOOR(CAST(inter AS DOUBLE) / (s1.nbg + s2.nbg - inter) * 10000.0) AS DOUBLE) / 10000.0 >= 0.1
            ORDER BY d1, d2""")
  )

  // --------------------------------------------------------------- q102
  /** CONTAINMENT near-dup pairs — the asymmetric companion to q27's
    * Jaccard. Jaccard misses the most common real-corpus duplication mode:
    * a short doc fully CONTAINED in a longer one (truncated crawl, quoted
    * article, doc + appended boilerplate) scores |A|/|B| ≈ small Jaccard
    * but containment(A→B) = |A∩B|/|A| ≈ 1. Broder's containment measure is
    * what suffix/quote dedup actually thresholds on.
    *
    * Same plan skeleton as q27 — the capped shared-shingle equi-join
    * computes |A∩B| once per unordered pair, and BOTH directions fall out
    * of the same row by dividing by either side's size (no second join,
    * no ordered-pair blowup). Keeps every scale property argued at q27:
    * df-capped shingles, one materialized shingle set feeding three
    * consumers, keyed (un-hinted) size joins — `sizes` is one row per
    * document, so it must never carry a broadcast hint (q139's fix; AQE
    * picks the side at runtime).
    */
  val q102 = QuerySpec(
    "q102_shingle_containment",
    (s, d) => {
      val bg = graft.core.Materialize(
        capKeyFreq(shingles(Tables.documents(s, d), 3), MaxShingleDocFreq, col("shingle")))
      val sizes = bg.groupBy("doc_id").agg(count(lit(1)).as("nbg"))
      val inter = bg.as("a")
        .join(bg.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
      val c12 = ffloor(col("inter").cast("double") / col("s1.nbg"), 4)
      val c21 = ffloor(col("inter").cast("double") / col("s2.nbg"), 4)
      inter
        .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
        .select(col("d1"), col("d2"),
          c12.as("c_d1_in_d2"), c21.as("c_d2_in_d1"))
        .filter(greatest(col("c_d1_in_d2"), col("c_d2_in_d1")) >= 0.5)
        .orderBy("d1", "d2")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts FROM documents
              WHERE len(string_split(${asciiLowerSql("text")}, ' ')) >= 3),
            trigrams_all AS (
              SELECT DISTINCT doc_id, bg FROM (
                SELECT doc_id,
                  unnest(list_transform(range(1, len(ts) - 1),
                    i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2])) AS bg
                FROM toks)),
            trigrams AS (
              SELECT doc_id, bg FROM trigrams_all
              QUALIFY COUNT(*) OVER (PARTITION BY bg) <= 1000),
            sizes AS (SELECT doc_id, COUNT(*) AS nbg FROM trigrams GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
              FROM trigrams a JOIN trigrams b
                ON a.bg = b.bg AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            scored AS (
              SELECT d1, d2,
                CAST(FLOOR(CAST(inter AS DOUBLE) / s1.nbg * 10000.0) AS DOUBLE) / 10000.0 AS c_d1_in_d2,
                CAST(FLOOR(CAST(inter AS DOUBLE) / s2.nbg * 10000.0) AS DOUBLE) / 10000.0 AS c_d2_in_d1
              FROM pairs
              JOIN sizes s1 ON d1 = s1.doc_id
              JOIN sizes s2 ON d2 = s2.doc_id)
            SELECT d1, d2, c_d1_in_d2, c_d2_in_d1 FROM scored
            WHERE GREATEST(c_d1_in_d2, c_d2_in_d1) >= 0.5
            ORDER BY d1, d2""")
  )

  // --------------------------------------------------------------- q111
  /** Longest EXACTLY-SHARED token span per document pair — the exact-
    * substring dedup signal (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): two docs sharing a verbatim run of
    * ≥ L tokens is the strongest duplication evidence there is, and it is
    * invisible to whole-doc Jaccard when the shared run is a small part
    * of both docs (q102's containment catches SMALL-in-LARGE; this
    * catches LARGE∩LARGE with a common block — syndicated paragraphs,
    * license headers, quoted articles).
    *
    * A shared span of length s ⟺ s−k+1 consecutive shared k-grams at a
    * constant positional offset, so: join position-stamped 10-grams
    * (df-capped, the q27 candidate discipline), put each match on its
    * DIAGONAL (p1−p2), and find the longest run of consecutive p1 per
    * (pair, diagonal) with the gaps-and-islands grouping p1−row_number —
    * pure window arithmetic, no per-pair quadratic scan. max_run + k − 1
    * is the span length in tokens.
    *
    * Scale shape: everything rides the gram equi-join's shuffle; the
    * islands window partitions by (d1, d2, diag) — bounded by a single
    * shared block's length, never a corpus stratum. Output is bounded by
    * pairs sharing ≥ 15-token runs.
    */
  val q111 = QuerySpec(
    "q111_longest_shared_span",
    (s, d) => {
      val g = graft.core.Materialize(
        capKeyFreq(shinglesWithPos(Tables.documents(s, d), 10),
          MaxShingleDocFreq, col("shingle")))
      val matches = g.as("a").join(g.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.pos").as("p1"), (col("a.pos") - col("b.pos")).as("diag"))
      val wDiag = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
      matches
        .withColumn("grp", col("p1") - row_number().over(wDiag))
        .groupBy("d1", "d2", "diag", "grp")
        .agg(count(lit(1)).as("run"))
        .groupBy("d1", "d2")
        .agg((max("run") + lit(9)).as("max_span_tokens"),
          sum("run").cast("long").as("n_shared_grams"))
        .filter(col("max_span_tokens") >= 15)
        .orderBy("d1", "d2")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts FROM documents
              WHERE len(string_split(${asciiLowerSql("text")}, ' ')) >= 10),
            grams_all AS (
              SELECT doc_id, i AS pos,
                ts[i] || '_' || ts[i+1] || '_' || ts[i+2] || '_' || ts[i+3] || '_'
                  || ts[i+4] || '_' || ts[i+5] || '_' || ts[i+6] || '_' || ts[i+7]
                  || '_' || ts[i+8] || '_' || ts[i+9] AS g
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 8)) AS i FROM toks)),
            grams AS (
              SELECT doc_id, pos, g FROM grams_all
              QUALIFY COUNT(*) OVER (PARTITION BY g) <= 1000),
            m AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1,
                a.pos - b.pos AS diag
              FROM grams a JOIN grams b
                ON a.g = b.g AND a.doc_id < b.doc_id),
            runs AS (
              SELECT d1, d2, diag,
                p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS grp
              FROM m),
            islands AS (
              SELECT d1, d2, COUNT(*) AS run
              FROM runs GROUP BY d1, d2, diag, grp)
            SELECT d1, d2, MAX(run) + 9 AS max_span_tokens,
              CAST(SUM(run) AS BIGINT) AS n_shared_grams
            FROM islands GROUP BY d1, d2
            HAVING MAX(run) + 9 >= 15
            ORDER BY d1, d2""")
  )

  // ------------------------------------------------------------- MinHash
  /** Number of hash functions / LSH bands (16 bands × 4 rows). */
  val NumHashes = 64
  val NumBands = 16
  private val RowsPerBand = NumHashes / NumBands
  val MersennePrime = 2147483647L // 2^31 - 1

  /** Deterministic (a,b) pairs for h_i(x) = (a·x + b) mod p, seeded. */
  val minhashParams: Seq[(Long, Long)] = {
    val r = new scala.util.Random(42)
    Seq.fill(NumHashes)((1L + r.nextInt(Int.MaxValue - 1).toLong,
                         r.nextInt(Int.MaxValue).toLong))
  }

  /** doc_id → 64-long MinHash signature array over k-gram shingles.
    * One shuffle (groupBy doc_id); the signature is one fixed 512-byte
    * sketch buffer per doc via [[graft.functions.MinHashSketchAgg]]
    * (a `TypedImperativeAggregate` — single-pass elementwise-min update,
    * mergeable partials, same values as 64 separate min(pmod(...)) agg
    * columns but without 64× aggregate-column overhead).
    */
  def minhashSignatures(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = shingles(docs, k, dedup = false)
      .select(col("doc_id"), pmod(xxhash64(col("shingle")), lit(MersennePrime)).as("h"))
    sh.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg
        .minhash_sketch(col("h"), minhashParams, MersennePrime).as("sig"))
  }

  /** Candidate pairs whose signatures collide in ≥1 LSH band, with the
    * signature-estimated Jaccard. `maxBucket` drops degenerate hot buckets
    * (skew guard — at 100 TB a stop-shingle band would otherwise produce a
    * quadratic bucket).
    */
  /** (doc_id, sig, band_idx, band_hash) — one row per LSH band of each
    * signature, CARRYING the signature column. The carry matters for
    * streaming consumers: re-attaching the sig later would be a
    * stream-stream self-join (watermark-bound state); carrying it through
    * the explode keeps the pipeline stateless.
    */
  def bandHashesWithSig(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"), col("sig"),
      posexplode(transform(
        sequence(lit(0), lit(NumBands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))))
      )))
      .toDF("doc_id", "sig", "band_idx", "band_hash")

  /** (doc_id, band_idx, band_hash) — shared by [[minhashPairs]] and the
    * persisted-store incremental path ([[IncrementalDedup]]).
    */
  def bandHashes(sigs: DataFrame): DataFrame =
    bandHashesWithSig(sigs).drop("sig")

  def minhashPairs(sigs: DataFrame, minSim: Double, maxBucket: Int = 1000): DataFrame = {
    val bands = bandHashes(sigs)
    val capped = capKeyFreq(bands, maxBucket, col("band_idx"), col("band_hash"))
    val cand = capped.as("x")
      .join(capped.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val est = cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .select(col("d1"), col("d2"),
        round(
          graft.functions.VectorFunctions.sig_agreement(col("sig1"), col("sig2"))
            .cast("double") / NumHashes, 4).as("est_jaccard"))
    est.filter(col("est_jaccard") >= minSim).orderBy("d1", "d2")
  }

  /** q30: MinHash-LSH near-dup pairs on documents. Deterministic (fixed
    * seed 42) but hash-based → rows-only driver check, no SQL oracle.
    * Signatures feed the band explode AND both sides of the estimate join;
    * the eager [[graft.core.Materialize]] computes the 64-min aggregation
    * exactly once (localCheckpoint locally; see Materialize for the
    * cluster-mode failure-tolerance contract).
    */
  val q30 = QuerySpec(
    "q30_dedup_minhash_lsh",
    (s, d) => minhashPairs(
      graft.core.Materialize(minhashSignatures(Tables.documents(s, d), k = 3)),
      minSim = 0.3),
    None
  )

  // ------------------------------------------------------------- SimHash
  /** doc_id → 64-bit SimHash over tokens: per bit, sum ±1 weighted by the
    * token hash's bit, sign → bit. One groupBy(doc_id) shuffle; the 64
    * counters live in one [[graft.functions.SimHashSketchAgg]] sketch
    * buffer (same fixed-width-sketch pattern as MinHash — a 64-column
    * sum(when) aggregate spent more time touching 64 generated slots per
    * row than doing the math).
    *
    * The explicit repartition width matters twice: a count-less
    * `repartition(col)` is an AQE-coalescible shuffle that folds the tiny
    * pre-explode doc stream to one partition, and the explode+hash+partial
    * aggregate downstream must run at full width.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), explode(split(asciiLower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    toks.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash_sketch(col("h")).as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxHamming. Candidates come
    * from exact-chunk collisions; by pigeonhole the chunk count must
    * EXCEED maxHamming for full recall (a pair differing in k bits spread
    * across k distinct chunks shares none of those k chunks), so the
    * smallest divisor-of-64 chunk count > maxHamming is used.
    */
  def simhashPairs(sh: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nChunks = Seq(2, 4, 8, 16, 32, 64).find(_ > maxHamming)
      .getOrElse(throw new IllegalArgumentException(s"maxHamming $maxHamming >= 64"))
    val bits = 64 / nChunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val chunks = sh.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("simhash"), c * bits).bitwiseAND(mask)): _*)))
      .toDF("doc_id", "simhash", "chunk_idx", "chunk")
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  /** q31: SimHash near-dup pairs (rows-only check — hash-based). The
    * sketch table feeds BOTH sides of the chunk-collision self-join;
    * without the eager materialization the whole tokenize+sketch pipeline
    * executes twice (visible as two full ObjectHashAggregate branches in
    * the plan).
    */
  val q31 = QuerySpec(
    "q31_dedup_simhash",
    (s, d) => simhashPairs(
      graft.core.Materialize(simhash(Tables.documents(s, d))), maxHamming = 6),
    None
  )

  // ---------------------------------------------------------------- q68
  /** Boilerplate n-gram mining: the corpus-wide repeated-span list — every
    * token trigram appearing in ≥ `minDf` DISTINCT documents, ranked by
    * document frequency. This is the list a boilerplate-stripping pass
    * consumes (repeated headers/footers/license blurbs), and the exact
    * corpus-level complement of q27/q30's pairwise near-dup: one
    * shingle stream, one count aggregate, no joins at all.
    *
    * 100 TB shape: explode → map-side partial counts → one shuffle keyed
    * by shingle (vocabulary-sized, not corpus-sized after partials) →
    * HAVING + global top-k of the already-tiny survivor set. The same
    * plan q23 runs for unigrams.
    */
  val q68 = QuerySpec(
    "q68_boilerplate_ngrams",
    (s, d) =>
      Dedup.shingles(Tables.documents(s, d), 3)
        .groupBy("shingle")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5)
        .orderBy(col("df").desc, col("shingle"))
        .limit(100),
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts FROM documents
              WHERE len(string_split(${asciiLowerSql("text")}, ' ')) >= 3),
            grams AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                  unnest(list_transform(range(1, len(ts) - 1),
                    i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2])) AS g
                FROM toks))
            SELECT g AS shingle, COUNT(*) AS df
            FROM grams GROUP BY g HAVING COUNT(*) >= 5
            ORDER BY df DESC, shingle LIMIT 100""")
  )

  // ---------------------------------------------------------------- q69
  /** Near-dup CLUSTER SEEDING: pairs are not what a dedup pipeline keeps —
    * it keeps one representative per CLUSTER. This operator turns a
    * candidate edge list (docs sharing a rare 5-gram, boilerplate-capped
    * like every candidate join here) into cluster labels via K=3 rounds of
    * min-label propagation: label_{k+1}(d) = min over {d} ∪ neighbors of
    * label_k. Each round is ONE keyed join + aggregate over the label
    * table — and the label table holds only docs with ≥1 candidate edge
    * (the overwhelming majority of a real corpus is edge-free and never
    * enters the loop).
    *
    * Bounded K is the deliberate contract: both engines compute exactly
    * K rounds (the oracle unrolls the same three), so the check is exact,
    * and K bounds the 100 TB cost to K shuffles of the edge-endpoint set.
    * Dedup clusters are shallow (near-dups of a doc are near-dups of each
    * other); chains longer than K hops get split labels — production runs
    * the same loop to a fixpoint (or large-star/small-star) when true CC
    * is required.
    */
  /** SYMMETRIC candidate edge list (src, dst) — docs sharing a rare
    * 5-gram (df capped to [2,50] so boilerplate grams never fan out).
    * Shared by q69/q72 (bounded-K labels) and q101 (fixpoint CC); both
    * directions present so one join step propagates along every edge.
    */
  def neardupEdges(docs: DataFrame): DataFrame =
    neardupEdgesFromGrams(shingles(docs, 5))

  /** [[neardupEdges]] from a pre-built (doc_id, shingle) table. Exists to
    * keep [[neardupEdges]]' contract (cap → keep-join → ordered pair join
    * → symmetrize) factored from the gram SOURCE, so a caller with its own
    * tokenize pass can reuse the edge construction. q108 does NOT route
    * through it: its dual-cap form needs store- and full-corpus keep flags
    * off one shared df aggregate, which this single-cap shape cannot
    * express, so it inlines the same skeleton with two caps.
    */
  private[llmops] def neardupEdgesFromGrams(grams: DataFrame): DataFrame = {
    // df cap as a WINDOW over the shingle partitioning (round 15, guide
    // §2.3/§2.4): the former groupBy(shingle)+join form shuffled the gram
    // stream once into the df aggregate and then joined the keep set back
    // against the same stream — a second full-stream exchange at scale
    // (locally a broadcast of the keep set, which is corpus-sized at
    // 100 TB and could never broadcast there). The window computes the
    // identical per-shingle count on the ONE exchange the pair join needs
    // anyway — same rows out ([2,50] band), one full-stream shuffle
    // instead of two, no join. Same idiom as Ops.capKeyFreq, with the
    // lower df bound added.
    val w = Window.partitionBy("shingle")
    val g2 = graft.core.Materialize(
      grams.withColumn("__df", count(lit(1)).over(w))
        .filter(col("__df").between(2, 50))
        .select("doc_id", "shingle"))
    val half = g2.as("a").join(g2.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      .distinct()
    graft.core.Materialize(
      half.union(half.select(col("dst").as("src"), col("src").as("dst"))))
  }

  /** Cluster labels for every doc with ≥1 candidate edge — the K-round
    * min-label propagation described at [[q69]], shared by q69 (label
    * dump) and q72 (canonical selection). Returns (doc_id, cluster).
    */
  def neardupLabels(docs: DataFrame): DataFrame = {
    val edges = neardupEdges(docs)
    val init = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    // round k's plan embeds round k-1's subtree twice (once direct, once
    // under the join) — exponential in K unless Spark's exchange-reuse
    // cache collapses the identical subtrees. At sf0.1 it reliably does;
    // on 10x corpora MEASURED standalone runs showed the reuse
    // intermittently missing (AQE replanning) and the recompute blowing
    // up 2-4x. So lineage is cut MID-LOOP, after round 2: the label
    // table is only the edge-endpoint set (tiny — 50k rows at the 10x
    // stress corpus), so the checkpoint costs milliseconds and caps the
    // un-reused recompute depth at one round on either side. (Per-round
    // checkpointing measured ~1.7x slower at sf0.1 — the fixed write
    // cost x3 dominates a sub-2s query; one cut is the knee.)
    val labels = (1 to 3).foldLeft(init) { (l, round) =>
      val next = l.union(
          edges.join(l, edges("src") === l("id"))
            .select(edges("dst").as("id"), l("lbl")))
        .groupBy("id").agg(min("lbl").as("lbl"))
      if (round == 2) graft.core.Materialize(next) else next
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
  }

  /** The DuckDB CTE chain building the SAME symmetric capped edge list as
    * [[neardupEdges]] (through `edges`), shared by the q69/q72 unrolled
    * oracles and q101's recursive-CTE fixpoint oracle.
    */
  private[llmops] lazy val neardupEdgesCtes: String = s"""toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts FROM documents
              WHERE len(string_split(${asciiLowerSql("text")}, ' ')) >= 5),
            grams AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                  unnest(list_transform(range(1, len(ts) - 3),
                    i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2] || '_' || ts[i+3]
                      || '_' || ts[i+4])) AS g
                FROM toks)),
            keep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 50),
            half AS (
              SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
              FROM grams a JOIN keep USING (g) JOIN grams b USING (g)
              WHERE a.doc_id < b.doc_id),
            edges AS (SELECT src, dst FROM half
                      UNION ALL SELECT dst, src FROM half)"""

  /** K=3 unrolled label rounds (l0..l3) on top of [[neardupEdgesCtes]] —
    * the q69/q72 oracle form.
    */
  private[llmops] lazy val neardupLabelsCtes: String = s"""$neardupEdgesCtes,
            l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
            l1 AS (SELECT id, MIN(lbl) AS lbl FROM (
                     SELECT id, lbl FROM l0
                     UNION ALL
                     SELECT e.dst AS id, l.lbl FROM edges e JOIN l0 l ON l.id = e.src)
                   GROUP BY id),
            l2 AS (SELECT id, MIN(lbl) AS lbl FROM (
                     SELECT id, lbl FROM l1
                     UNION ALL
                     SELECT e.dst AS id, l.lbl FROM edges e JOIN l1 l ON l.id = e.src)
                   GROUP BY id),
            l3 AS (SELECT id, MIN(lbl) AS lbl FROM (
                     SELECT id, lbl FROM l2
                     UNION ALL
                     SELECT e.dst AS id, l.lbl FROM edges e JOIN l2 l ON l.id = e.src)
                   GROUP BY id)"""

  val q69 = QuerySpec(
    "q69_neardup_clusters",
    (s, d) => neardupLabels(Tables.documents(s, d)).orderBy("doc_id"),
    Some(s"""WITH $neardupLabelsCtes
            SELECT id AS doc_id, lbl AS cluster FROM l3 ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q72
  /** Canonical-document selection — the dedup OUTPUT operator: given
    * q69's cluster labels, keep exactly one representative per near-dup
    * cluster (the longest member; ties to the lowest doc_id — "longest
    * wins" is the usual curation heuristic since near-dup members differ
    * mostly by truncation/boilerplate). Emits the per-cluster decision
    * record a curation run writes to its manifest: representative, size,
    * and how many docs were dropped.
    *
    * SCALE SHAPE: the ranking window partitions by CLUSTER — groups are
    * near-dup cliques (bounded small by the candidate caps upstream),
    * never a corpus stratum, so unlike q59's language windows this
    * argmax survives 100 TB unchanged. Singleton "clusters" (docs with
    * edges but unique labels) are filtered; edge-free docs never enter
    * the label table at all — the full keep-list is
    * `docs ⟕ dropped-members` (an anti-join), not materialized here.
    */
  val q72 = QuerySpec(
    "q72_canonical_per_cluster",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // argmax as ONE aggregate, not a rank window: max over
      // (n_chars, -doc_id) structs is lexicographic, so the winner is the
      // longest member with ties to the LOWEST doc_id — same row the
      // ROW_NUMBER form picks, but with map-side partials and no
      // per-cluster sort (one shuffle of the clustered-doc set instead of
      // a window sort followed by the same shuffle)
      neardupLabels(docs)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster")
        .agg(
          count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("__best"))
        .filter(col("n_members") >= 2)
        .select(col("cluster"), col("n_members"),
          (-col("__best.neg_id")).as("kept_doc"),
          col("__best.n_chars").as("kept_chars"))
        .orderBy("cluster")
    },
    Some(s"""WITH $neardupLabelsCtes,
            lab AS (SELECT id AS doc_id, lbl AS cluster FROM l3),
            ranked AS (
              SELECT cluster, doc_id, n_chars,
                ROW_NUMBER() OVER (PARTITION BY cluster
                  ORDER BY n_chars DESC, doc_id) AS rn
              FROM lab JOIN documents USING (doc_id))
            SELECT cluster, COUNT(*) AS n_members,
              MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
              MAX(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars
            FROM ranked GROUP BY cluster
            HAVING COUNT(*) >= 2 ORDER BY cluster""")
  )

  // ---------------------------------------------------------------- q79
  /** q79: LEAKAGE-FREE train/val/test split — the assignment unit is the
    * NEAR-DUP CLUSTER, not the document. Hash-threshold splitting on
    * doc_id alone silently leaks: two near-identical docs land in train
    * and test and the eval is contaminated (the within-corpus twin of
    * q58's benchmark decontamination). Here the split key is the q69
    * cluster label (its own doc_id for edge-free docs), so every member
    * of a dup group rides the same md5 threshold into the same split.
    *
    * SCALE SHAPE: labels cover only edge-endpoint docs; the corpus joins
    * them LEFT (broadcast when the edge set is small relative to the
    * corpus, as on real data) and everything after is the per-row
    * hash-threshold idiom of q61 plus one tiny split-keyed aggregate.
    * Output is the split manifest: doc/clustered-doc/cluster counts.
    */
  /** Per-document split assignment — see [[q79]]. Returns
    * (doc_id, cluster, skey, split); the no-straddle invariant (one split
    * per cluster) is structural: split is a pure function of skey.
    *
    * The hash is SALTED with "split" (domain separation): upstream
    * sampling uses the unsalted hash of the same ids, and an unsalted
    * split would correlate perfectly with it — every rate-r-sampled doc
    * would land in train (see [[CorpusPipeline.hashFrac]]'s salted
    * overload; caught live by a pipeline that sampled, then split).
    */
  def leakageFreeSplit(docs: DataFrame, trainCut: Double = 0.8,
                       valCut: Double = 0.9): DataFrame = {
    import graft.llmops.CorpusPipeline.{hashFrac, rateCutoffHex}
    val keyed = docs.select("doc_id")
      .join(neardupLabels(docs), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster"),
        coalesce(col("cluster"), col("doc_id")).as("skey"))
    val h = hashFrac(col("skey"), "split")
    keyed.withColumn("split",
      when(h < rateCutoffHex(trainCut), "train")
        .when(h < rateCutoffHex(valCut), "val")
        .otherwise("test"))
  }

  val q79 = QuerySpec(
    "q79_leakage_free_split",
    (s, d) => {
      // Pre-aggregate on (split, skey) before the distinct count: a mixed
      // distinct/non-distinct aggregate plans via Expand — every corpus row
      // duplicated per aggregate group before the shuffle (q36's lesson).
      // skey groups are cluster-consistent by construction (a cluster label
      // is the min member id, and that doc is itself clustered, so no
      // unclustered doc_id can collide with a label) — after the pre-group
      // the distinct is a plain conditional count. One |corpus|-row keyed
      // shuffle instead of a 2x-expanded one.
      leakageFreeSplit(Tables.documents(s, d))
        .groupBy("split", "skey")
        .agg(count(lit(1)).as("__n"),
          first(col("cluster").isNotNull).as("__clustered"))
        .groupBy("split")
        .agg(
          sum("__n").cast("long").as("n_docs"),
          sum(when(col("__clustered"), col("__n")).otherwise(lit(0L)))
            .cast("long").as("n_clustered_docs"),
          count(when(col("__clustered"), lit(1))).as("n_clusters"))
        .orderBy("split")
    },
    Some(s"""WITH $neardupLabelsCtes,
            lab AS (SELECT id AS doc_id, lbl AS cluster FROM l3),
            keyed AS (
              SELECT d.doc_id, lab.cluster,
                COALESCE(lab.cluster, d.doc_id) AS skey
              FROM documents d LEFT JOIN lab USING (doc_id))
            SELECT CASE
                WHEN substr(md5(CAST(skey AS VARCHAR) || ':split'), 1, 8) < '${graft.llmops.CorpusPipeline.rateCutoffHex(0.8)}' THEN 'train'
                WHEN substr(md5(CAST(skey AS VARCHAR) || ':split'), 1, 8) < '${graft.llmops.CorpusPipeline.rateCutoffHex(0.9)}' THEN 'val'
                ELSE 'test' END AS split,
              COUNT(*) AS n_docs,
              COUNT(cluster) AS n_clustered_docs,
              COUNT(DISTINCT CASE WHEN cluster IS NOT NULL THEN skey END) AS n_clusters
            FROM keyed GROUP BY split ORDER BY split""")
  )

  // --------------------------------------------------------------- q113
  /** Sketch-path containment — the scale companion of q102, completing
    * the exact/sketch pairing (q27↔q30, q59↔q61): LSH-banded MinHash
    * candidates get an ASYMMETRY score from the identity
    * |A∩B| = J/(1+J)·(|A|+|B|), so est_c(A→B) = est_inter/|A| with only
    * the signature agreement and two per-doc size scalars — no shared-
    * shingle join at all. Per-doc sizes are one keyed aggregate over the
    * corpus (rides the shingle shuffle the signatures already pay).
    *
    * SCOPE, stated honestly: LSH surfaces candidates by JACCARD, so this
    * refines large∩large asymmetric pairs (doc + appended boilerplate,
    * shared blocks — J ≳ 0.2); a SMALL doc inside a much larger one has
    * near-zero Jaccard and never reaches a band bucket. At 100 TB that
    * truncation case is the HEAD-FINGERPRINT increment's job
    * (IncrementalDedup q73, prefixTokens) — the exact q102 remains the
    * oracle twin on gate data. Hash-seeded → rows-only; the spec checks
    * the estimates against exact q102 on asymmetric near-dup fixtures,
    * and [[q168]] oracle-gates the ±0.2 accuracy contract every round.
    */
  val q113 = QuerySpec(
    "q113_containment_sketch",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = graft.core.Materialize(minhashSignatures(docs, k = 3))
      val pairs = minhashPairs(sigs, minSim = 0.2)
      val sizes = shingles(docs, 3).groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val j = col("est_jaccard")
      val inter = j / (j + lit(1.0)) *
        (col("s1.nsh").cast("double") + col("s2.nsh").cast("double"))
      pairs
        .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
        .select(col("d1"), col("d2"), col("est_jaccard"),
          ffloor(inter / col("s1.nsh").cast("double"), 4).as("est_c_d1_in_d2"),
          ffloor(inter / col("s2.nsh").cast("double"), 4).as("est_c_d2_in_d1"))
        .orderBy("d1", "d2")
    },
    None
  )

  // --------------------------------------------------------------- q181
  /** REPEATED-SPAN manifest — exact-substring dedup at span granularity
    * (the Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" operator): every 8-gram occurrence that is not the corpus-
    * FIRST occurrence of that 8-gram marks its token span as memorized
    * text, and overlapping marks merge into maximal per-doc spans — the
    * removal manifest a span-level deduper would cut.
    *
    * Scale shape: the 8-gram stream shuffles ONCE keyed on the gram for a
    * min-struct first-occurrence aggregate — map-side combinable, so (un
    * like pair joins) high-df grams need NO cap; singleton grams (the
    * overwhelming majority of a real corpus by Zipf) are pruned by
    * `n_occ > 1` BEFORE the join back, so the repeat join touches only
    * the duplicated tail. Span merge is gaps-and-islands over the
    * doc-local position window (q171's exchange, bounded per key by doc
    * length). First-occurrence order is (doc_id, pos) — total and
    * engine-neutral — and every later stage is integer arithmetic, so
    * the manifest is hash-exact.
    */
  val q181 = QuerySpec(
    "q181_repeated_span_manifest",
    (s, d) => {
      val sh = shinglesWithPos(Tables.documents(s, d), 8)
      // first-occurrence marking as a WINDOW over the gram partitioning
      // (round 15, the neardupEdgesFromGrams idiom): the former
      // groupBy(shingle) + re-join computed the gram stream twice (the
      // aggregate side and the join probe side — `sh` was not
      // materialized) and shuffled it twice; min(struct)/count over
      // Window.partitionBy(shingle) marks the same first occurrence and
      // occurrence count on ONE pass and one shuffle. Row set identical:
      // keep occurrences of grams with n_occ > 1 that are not the
      // (doc_id, pos)-minimal one.
      val wSh = Window.partitionBy("shingle")
      val rep = sh
        .withColumn("first", min(struct(col("doc_id"), col("pos"))).over(wSh))
        .withColumn("n_occ", count(lit(1)).over(wSh))
        .filter(col("n_occ") > 1)
        .filter(!(col("doc_id") === col("first.doc_id") &&
          col("pos") === col("first.pos")))
        .select("doc_id", "pos")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val newIsland = when(lag(col("pos"), 1).over(w).isNull
        .or(col("pos") > lag(col("pos"), 1).over(w) + lit(7)), 1L).otherwise(0L)
      rep
        .withColumn("island", sum(newIsland).over(wRun))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(7)).as("e"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1).cast("long").as("n_repeated_tokens"),
          max(col("e") - col("s") + 1).cast("long").as("longest_span"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts
              FROM documents),
            tp AS (
              SELECT doc_id, i - 1 AS pos,
                ts[i] || '_' || ts[i+1] || '_' || ts[i+2] || '_' || ts[i+3]
                  || '_' || ts[i+4] || '_' || ts[i+5] || '_' || ts[i+6]
                  || '_' || ts[i+7] AS g
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i
                    FROM toks)),
            rep AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
                  COUNT(*) OVER (PARTITION BY g) AS n_occ
                FROM tp)
              WHERE n_occ > 1 AND rn > 1),
            isl AS (
              SELECT doc_id, pos,
                CASE WHEN LAG(pos) OVER w IS NULL
                       OR pos > LAG(pos) OVER w + 7 THEN 1 ELSE 0 END AS nw
              FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            isl2 AS (
              SELECT doc_id, pos,
                SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS UNBOUNDED PRECEDING) AS island
              FROM isl),
            spans AS (
              SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 7 AS e
              FROM isl2 GROUP BY 1, 2)
            SELECT doc_id, COUNT(*) AS n_spans,
              CAST(SUM(e - s + 1) AS BIGINT) AS n_repeated_tokens,
              CAST(MAX(e - s + 1) AS BIGINT) AS longest_span
            FROM spans GROUP BY doc_id ORDER BY doc_id""")
  )

  val all: Seq[QuerySpec] =
    Seq(q21, q22, q27, q30, q31, q68, q69, q72, q79, q102, q111, q113, q181)
}
