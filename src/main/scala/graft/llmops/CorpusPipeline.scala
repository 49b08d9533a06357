package graft.llmops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.Ops.{asciiLower, asciiLowerSql, ffloor}

/** The composed training-data pipeline — the end-to-end flow the llmops
  * operators exist for: normalize → exact-dedup → quality-filter →
  * corpus stats. Each stage is a narrow/one-shuffle DataFrame transform,
  * so the composition is one linear scan + two keyed shuffles at any
  * scale. Near-dup removal (MinHash q30) plugs in between dedup and
  * filter when the corpus needs it.
  */
object CorpusPipeline {

  /** Whitespace-normalized, lowercased text. The whitespace class is
    * explicit — `\s` means different sets in Java regex (includes \x0B)
    * vs RE2 (doesn't), and md5 downstream amplifies a one-char divergence
    * into a fingerprint/sample-membership flip between engines.
    */
  val WhitespaceClass = "[ \\t\\n\\r\\f]+"
  def normalize(docs: DataFrame): DataFrame =
    docs.withColumn("text_norm",
      regexp_replace(asciiLower(col("text")), WhitespaceClass, " "))

  /** Exact dedup on normalized-content fingerprint, lowest doc_id wins. */
  def dedupExact(normalized: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text_norm"))).orderBy(col("doc_id"))
    normalized
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Quality gate: token-count band + stopword ratio below threshold. */
  def qualityFilter(docs: DataFrame, minTokens: Int, maxTokens: Int,
                    maxStopRatio: Double): DataFrame = {
    val ts = split(col("text_norm"), " ")
    val nTok = size(ts)
    val stopRatio = ffloor(
      size(filter(ts, t => t.isin("the", "a"))).cast("double") / nTok, 4)
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("stop_ratio", stopRatio)
      .filter(nTok.between(minTokens, maxTokens) && stopRatio < maxStopRatio)
  }

  /** Per-language corpus statistics of the surviving documents. */
  def corpusStats(filtered: DataFrame): DataFrame =
    filtered
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        ffloor(sum(col("n_tokens")).cast("double") / count(lit(1)), 2).as("avg_tokens"))
      .orderBy("lang")

  /** q46: the full pipeline as one oracled query. */
  val q46 = QuerySpec(
    "q46_corpus_pipeline",
    (s, d) =>
      corpusStats(qualityFilter(dedupExact(normalize(Tables.documents(s, d))),
        minTokens = 20, maxTokens = 300, maxStopRatio = 0.15)),
    Some(s"""WITH norm AS (
              SELECT doc_id, lang,
                regexp_replace(${asciiLowerSql("text")}, '[ \t\n\r\f]+', ' ', 'g') AS text_norm
              FROM documents),
            deduped AS (
              SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text_norm)
                  ORDER BY doc_id) AS rn
                FROM norm) WHERE rn = 1),
            scored AS (
              SELECT lang,
                len(string_split(text_norm, ' ')) AS n_tokens,
                CAST(FLOOR(CAST(len(list_filter(string_split(text_norm, ' '),
                    t -> t IN ('the', 'a'))) AS DOUBLE)
                  / len(string_split(text_norm, ' ')) * 10000.0) AS DOUBLE) / 10000.0
                  AS stop_ratio
              FROM deduped),
            filtered AS (
              SELECT * FROM scored
              WHERE n_tokens BETWEEN 20 AND 300 AND stop_ratio < 0.15)
            SELECT lang, COUNT(*) AS n_docs,
              CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
              CAST(FLOOR(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) * 100.0) AS DOUBLE) / 100.0
                AS avg_tokens
            FROM filtered GROUP BY lang ORDER BY lang""")
  )

  // ---------------------------------------------------------------- q47
  /** Content-addressed sampling: select ~1/8 of the corpus by md5-prefix
    * of the normalized text. Unlike `sample()` (engine-RNG-specific),
    * hash sampling is stable across engines, runs, partitionings, and
    * re-ingestions of the same document — the property that makes
    * held-out splits reproducible at 100 TB. Oracled exactly.
    */
  val q47 = QuerySpec(
    "q47_hash_sample",
    (s, d) =>
      normalize(Tables.documents(s, d))
        .filter(substring(md5(col("text_norm")), 1, 1).isin("0", "1"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          sum(length(col("text"))).cast("long").as("sampled_chars"))
        .orderBy("lang"),
    Some(s"""SELECT lang, COUNT(*) AS n_sampled,
              CAST(SUM(length(text)) AS BIGINT) AS sampled_chars
            FROM documents
            WHERE substr(md5(regexp_replace(${asciiLowerSql("text")}, '[ \t\n\r\f]+', ' ', 'g')), 1, 1)
                  IN ('0', '1')
            GROUP BY lang ORDER BY lang""")
  )

  // ------------------------------------------------------------ chunking
  /** Split documents into fixed-size token chunks with overlap — the
    * standard pre-training/embedding chunking pass. Pure per-row expression
    * work (sequence → slice → explode): narrow until the explode, no
    * shuffle, output rows ≈ tokens/stride per doc at any corpus size.
    */
  def chunk(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val stride = chunkSize - overlap
    val ts = split(asciiLower(col("text")), " ")
    val n = size(ts)
    val lastIdx = floor((n - 1).cast("double") / stride).cast("int")
    docs
      .withColumn("__chunk_idx", explode(sequence(lit(0), lastIdx)))
      .select(
        col("doc_id"),
        col("__chunk_idx").as("chunk_idx"),
        concat_ws(" ", slice(ts, col("__chunk_idx") * stride + 1, lit(chunkSize)))
          .as("chunk_text"))
      .withColumn("chunk_tokens", size(split(col("chunk_text"), " ")))
  }

  /** q48: chunking over documents (50-token chunks, 10 overlap), chunk
    * text content-hashed for compact exact comparison.
    */
  val q48 = QuerySpec(
    "q48_doc_chunking",
    (s, d) =>
      chunk(Tables.documents(s, d), chunkSize = 50, overlap = 10)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts FROM documents),
            idx AS (
              SELECT doc_id, ts,
                unnest(range(0, (len(ts) - 1) // 40 + 1)) AS chunk_idx
              FROM toks)
            SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
              CAST(len(list_slice(ts, chunk_idx * 40 + 1,
                LEAST(chunk_idx * 40 + 50, len(ts)))) AS INTEGER) AS chunk_tokens,
              md5(array_to_string(list_slice(ts, chunk_idx * 40 + 1,
                LEAST(chunk_idx * 40 + 50, len(ts))), ' ')) AS chunk_md5
            FROM idx ORDER BY doc_id, chunk_idx""")
  )

  // ------------------------------------------------------ decontamination
  /** q58: benchmark decontamination — find corpus documents that share
    * any 8-gram with a held-out evaluation set (here: doc_id < 10 plays
    * the eval set; in production it's the benchmark suite). The standard
    * train/test-overlap pass every serious pretraining pipeline runs.
    *
    * Scale shape: the eval side is SMALL by definition → its distinct
    * 8-gram set broadcasts; the corpus side streams through one
    * broadcast-hash semi-ish join keyed on the gram — no shuffle of the
    * corpus at all, no candidate blowup (the join output is bounded by
    * corpus-grams-that-hit, aggregated per doc). Exactly oracle-able.
    */
  val q58 = QuerySpec(
    "q58_decontamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val evalGrams = Dedup.shingles(docs.filter(col("doc_id") < 10), 8)
        .select("shingle").distinct()
      Dedup.shingles(docs.filter(col("doc_id") >= 10), 8)
        .join(broadcast(evalGrams), "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_8grams"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(${asciiLowerSql("text")}, ' ') AS ts FROM documents
              WHERE len(string_split(${asciiLowerSql("text")}, ' ')) >= 8),
            grams AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                  unnest(list_transform(range(1, len(ts) - 6),
                    i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2] || '_' || ts[i+3]
                      || '_' || ts[i+4] || '_' || ts[i+5] || '_' || ts[i+6] || '_' || ts[i+7])) AS g
                FROM toks)),
            eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10)
            SELECT doc_id, COUNT(*) AS n_shared_8grams
            FROM grams JOIN eval_grams USING (g)
            WHERE doc_id >= 10
            GROUP BY doc_id ORDER BY doc_id""")
  )

  // --------------------------------------------------- stratified sample
  /** q59: per-language stratified sample — 20% of each language stratum,
    * membership decided by content-addressed hash rank within the
    * stratum (not engine RNG): reproducible across engines, runs, and
    * re-partitionings, and every stratum is represented proportionally —
    * the balanced-multilingual-sampling pass. One window shuffle on the
    * stratum key.
    *
    * SCALE PAIRING: this rank-window form is the EXACT/oracle twin; the
    * `partitionBy(lang)` window puts a whole stratum in one task, which at
    * 100 TB is a multi-TB single-task sort. The production path is q61
    * ([[q61]] — per-row hash-threshold, no window), exactly as q27(exact)
    * pairs with q30(sketch).
    */
  val q59 = QuerySpec(
    "q59_stratified_sample",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byLang = Window.partitionBy("lang")
      val w = byLang.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byLang))
        .filter(col("rn") <= ceil(col("n") * 0.2))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    },
    Some("""SELECT lang, doc_id FROM (
              SELECT lang, doc_id,
                ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY lang) AS n
              FROM documents)
            WHERE rn <= CEIL(n * 0.2)
            ORDER BY lang, doc_id""")
  )

  // ------------------------------------------------------- data mixture
  /** q60: domain-mixture sampling — resample the corpus with a target
    * rate per `source` domain (oversampled domains keep everything,
    * down-weighted domains keep a hash-ranked fraction): the pretraining
    * data-mixing pass ("2 epochs of wiki, 0.2 of crawl"). Membership is
    * content-addressed hash rank within the domain — deterministic across
    * engines/layouts, like q47/q59 — and the whole selection is one
    * window shuffle on the domain key. Output: per-domain totals.
    *
    * SCALE PAIRING: exact/oracle twin of [[q62]] (per-row hash-threshold —
    * the 100 TB path); see q59's note for why the rank window cannot be
    * the production plan.
    */
  val q60 = QuerySpec(
    "q60_data_mixture",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rate = when(col("source").isin("src0", "src1", "src2", "src3"), 1.0)
        .when(col("source").isin("src4", "src5", "src6", "src7"), 0.5)
        .otherwise(0.2)
      val bySource = Window.partitionBy("source")
      val w = bySource.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(bySource))
        .filter(col("rn") <= ceil(col("n") * rate))
        .groupBy("source")
        .agg(max(col("n")).as("n_total"), count(lit(1)).as("n_sampled"))
        .orderBy("source")
    },
    Some("""SELECT source, MAX(n) AS n_total, COUNT(*) AS n_sampled FROM (
              SELECT source, doc_id,
                ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY source) AS n,
                CASE WHEN source IN ('src0','src1','src2','src3') THEN 1.0
                     WHEN source IN ('src4','src5','src6','src7') THEN 0.5
                     ELSE 0.2 END AS rate
              FROM documents)
            WHERE rn <= CEIL(n * rate)
            GROUP BY source ORDER BY source""")
  )

  // ------------------------------------------- hash-threshold sampling
  /** The 8-hex-digit md5 prefix of an id column — a uniform hash in
    * [0, 2^32) that BOTH engines compute identically (md5 is md5; fixed-
    * length lowercase hex compares lexicographically = numerically). The
    * per-row membership primitive behind q61/q62: `hashFrac(id) < cutoff`
    * needs no window, no sort, no per-stratum state — the selection that
    * survives a 100 TB stratum where q59/q60's rank window (their exact
    * oracle twin) would be a single-task multi-TB sort.
    */
  def hashFrac(id: Column): Column = substring(md5(id.cast("string")), 1, 8)

  /** Domain-separated hash fraction: `md5(id || ':' || salt)`. Two
    * hash-threshold decisions over the SAME key MUST use different salts
    * or they correlate perfectly — e.g. a corpus sampled at rate 0.5 by
    * unsalted hash, then split train/val/test by the same unsalted hash,
    * puts every sampled doc in train (hash < 0.5 < 0.8). Found live by
    * composing q61-style sampling with q79's split; q79 salts
    * with "split" for exactly this reason. DuckDB spelling:
    * `substr(md5(CAST(id AS VARCHAR) || ':salt'), 1, 8)`.
    */
  def hashFrac(id: Column, salt: String): Column =
    substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 8)

  /** Hex cutoff for an expected sampling rate: floor(rate·2^32) as 8-digit
    * hex. rate ≥ 1.0 → "g", which sorts after every hex digit → keep-all.
    */
  def rateCutoffHex(rate: Double): String =
    if (rate >= 1.0) "g" else f"${math.floor(rate * 4294967296.0).toLong}%08x"

  /** q61: scale-safe stratified sample — the hash-threshold twin of q59
    * (same pairing as q27 exact / q30 sketch). Membership is a pure
    * per-row predicate `hashFrac(doc_id) < cutoff(rate)`: deterministic
    * across engines/runs/layouts like q59's hash-rank, but with NO
    * per-stratum rank window — at 100 TB each stratum samples itself in
    * place, embarrassingly parallel, zero shuffle before the output agg.
    * The trade: the realized count is binomial around rate·n instead of
    * exactly ceil(rate·n); when the target must be hit closely, calibrate
    * the cutoff per stratum from a count/quantile sketch
    * ([[calibratedHashSample]]) — still no sort.
    */
  val q61 = QuerySpec(
    "q61_stratified_sample_fast",
    (s, d) =>
      Tables.documents(s, d)
        .filter(hashFrac(col("doc_id")) < rateCutoffHex(0.2))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id"),
    Some("""SELECT lang, doc_id FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
            ORDER BY lang, doc_id""")
  )

  /** q62: scale-safe domain-mixture sampling — the hash-threshold twin of
    * q60. Per-source rates become per-row cutoffs (a CASE over the domain
    * config — in production a broadcast-joined config table); totals and
    * sampled counts come from ONE aggregate over the narrow scan
    * (`count(when(member))`), so the whole query is scan → tiny agg: no
    * window, no join, no second pass. 100 TB shape: perfect.
    */
  val q62 = QuerySpec(
    "q62_data_mixture_fast",
    (s, d) => {
      val cutoff = when(col("source").isin("src0", "src1", "src2", "src3"),
          rateCutoffHex(1.0))
        .when(col("source").isin("src4", "src5", "src6", "src7"),
          rateCutoffHex(0.5))
        .otherwise(rateCutoffHex(0.2))
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          count(when(hashFrac(col("doc_id")) < cutoff, 1)).as("n_sampled"))
        .orderBy("source")
    },
    Some("""SELECT source, COUNT(*) AS n_total,
              COUNT(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
                CASE WHEN source IN ('src0','src1','src2','src3') THEN 'g'
                     WHEN source IN ('src4','src5','src6','src7') THEN '80000000'
                     ELSE '33333333' END
                THEN 1 END) AS n_sampled
            FROM documents GROUP BY source ORDER BY source""")
  )

  /** Count-calibrated hash-threshold sampling — the production form when
    * the realized per-stratum count must hit ceil(rate·n) closely, not
    * just in expectation. Per stratum the cutoff is the rate-quantile of
    * the id-hash distribution, estimated with `percentile_approx` — a
    * fixed-size MERGEABLE sketch aggregate (map-side partials, one tiny
    * shuffle of sketches, k·|rates| sketch buffers total), NOT a
    * per-stratum sort. The cutoffs (one row per stratum) broadcast back
    * and the selection stays a narrow per-row filter. Membership remains
    * content-addressed: which rows pass depends only on their ids and the
    * sketch — not on partitioning.
    *
    * `rates` maps stratum value → target rate; unlisted strata use
    * `defaultRate`. percentile_approx needs a foldable percentage, so one
    * sketch column is computed per DISTINCT rate (few by construction —
    * mixtures have a handful of domain weights) and each stratum picks
    * the column matching its rate.
    */
  def calibratedHashSample(docs: DataFrame, strataCol: String,
                           rates: Map[String, Double], defaultRate: Double,
                           idCol: String = "doc_id",
                           accuracy: Int = 10000): DataFrame = {
    val h = conv(hashFrac(col(idCol)), 16, 10).cast("long")
    val distinctRates = (rates.values.toSet + defaultRate).toSeq.sorted
    val sketches = distinctRates.zipWithIndex.map { case (r, i) =>
      percentile_approx(col("__h"), lit(r), lit(accuracy)).as(s"__c$i")
    }
    val rateOf = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, r).otherwise(acc)
    }
    val pickCutoff = distinctRates.zipWithIndex.tail
      .foldLeft(col(s"__c0")) { case (acc, (r, i)) =>
        when(col("__rate") === r, col(s"__c$i")).otherwise(acc)
      }
    val cutoffs = docs.select(col(strataCol), h.as("__h"))
      .groupBy(strataCol)
      .agg(sketches.head, sketches.tail: _*)
      .withColumn("__rate", rateOf)
      .select(col(strataCol), pickCutoff.as("__cutoff"))
    docs.join(broadcast(cutoffs), strataCol)
      .filter(h <= col("__cutoff"))
      .drop("__cutoff")
  }

  // ------------------------------------------- temperature flattening
  /** Per-stratum temperature-sampling rates: `rate_l = (n_min/n_l)^(1-α)`
    * — the "flatten the language distribution" resampling every
    * multilingual pretraining mix uses (sampled counts end up ∝ n_l^α;
    * α=1 keeps the natural distribution, α=0 makes all strata equal).
    * Normalizing by the SMALLEST stratum (rate 1.0 there, downsample
    * everything larger) instead of by Σ n_l^α is deliberate: `min` over
    * exact integer counts is engine-deterministic, while a floating-point
    * sum over strata is order-dependent and can flip a downstream hash
    * cutoff between engines. Returns (stratum, n_total, rate).
    */
  def temperatureRates(counts: DataFrame, strataCol: String,
                       alpha: Double): DataFrame = {
    val nMin = counts.agg(min("n_total").as("__n_min"))
    counts.crossJoin(broadcast(nMin))
      .withColumn("rate",
        if (alpha == 0.5) sqrt(col("__n_min").cast("double") / col("n_total"))
        else pow(col("__n_min").cast("double") / col("n_total"), 1.0 - alpha))
      .select(col(strataCol), col("n_total"), col("rate"))
  }

  /** q71: temperature-flattened language mixture (α = 0.5) — counts per
    * language, UNIMAX-style rate `sqrt(n_min/n_l)`, membership by the
    * same per-row hash threshold as q61/q62. SCALE SHAPE: pass 1 is a
    * tiny per-stratum count aggregate (map-side partials → |langs| rows);
    * the rates/cutoffs broadcast back; pass 2 is a narrow scan with a
    * per-row predicate — the corpus never shuffles and no stratum ever
    * sorts. At 100 TB pass 1 reads one column (or comes free from lake
    * stats); everything else is embarrassingly parallel.
    *
    * DETERMINISM: α=0.5 → `sqrt` of a ratio of exact integers — both
    * engines' IEEE-correctly-rounded sqrt/divide agree bit-for-bit (a
    * `pow()` or a Σ n^α normalizer would not: pow is allowed 1-ulp error
    * and float sums are order-dependent). The cutoff is
    * `floor(rate·2^32)` rendered as 8-digit lowercase hex, compared
    * against [[hashFrac]] — rate 1.0 (the min stratum) maps to sentinel
    * 'g' which sorts after every hex digit (keep-all), same convention as
    * [[rateCutoffHex]]. Reported `rate` is truncated to 6 decimals so the
    * display column can't diverge either.
    */
  val q71 = QuerySpec(
    "q71_temperature_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      val rated = temperatureRates(counts, "lang", alpha = 0.5)
        .withColumn("__cutoff",
          when(col("rate") >= 1.0, lit("g"))
            .otherwise(lower(lpad(hex(floor(col("rate") * lit(4294967296.0))), 8, "0"))))
      docs.join(broadcast(rated), "lang")
        .groupBy("lang")
        .agg(
          max("n_total").as("n_total"),
          count(when(hashFrac(col("doc_id")) < col("__cutoff"), 1)).as("n_sampled"),
          ffloor(max("rate"), 6).as("rate"))
        .orderBy("lang")
    },
    Some("""WITH counts AS (
              SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
            rated AS (
              SELECT lang, n_total,
                sqrt((SELECT MIN(n_total) FROM counts) * 1.0 / n_total) AS rate
              FROM counts),
            cut AS (
              SELECT lang, n_total, rate,
                CASE WHEN rate >= 1.0 THEN 'g'
                     ELSE printf('%08x', CAST(FLOOR(rate * 4294967296.0) AS BIGINT))
                END AS cutoff
              FROM rated)
            SELECT lang, MAX(n_total) AS n_total,
              COUNT(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < cutoff
                    THEN 1 END) AS n_sampled,
              CAST(FLOOR(MAX(rate) * 1000000.0) AS DOUBLE) / 1000000.0 AS rate
            FROM documents JOIN cut USING (lang)
            GROUP BY lang ORDER BY lang""")
  )

  // --------------------------------------------------- sequence packing
  /** q64: training-sequence packing manifest — the concat-and-chunk pass
    * that turns a tokenized corpus into fixed-size context blocks
    * (B tokens each) for pretraining. Documents are concatenated in
    * doc_id order WITHIN A SHARD and split into ceil(total/B) blocks;
    * the manifest reports per shard: docs, total tokens, blocks, and how
    * many docs straddle a block boundary (the rows a loss-masking
    * dataloader treats specially).
    *
    * SCALE SHAPE: packing is inherently ordered, so it needs a window —
    * but the window key is (source, shard) where shard = doc_id % 16 by
    * construction, so every window is bounded at ~1/16th of a domain and
    * the operator never degenerates into q59's whole-stratum single-task
    * sort. In production the shard is the file split (one pack per
    * output file), giving windows the size of one writer's output —
    * this query IS that plan with a deterministic shard key the oracle
    * can reproduce. Cumulative sums are exact longs; blocks are derived
    * per-row (floor of exclusive/inclusive cumsum / B) — no second pass.
    */
  val q64 = QuerySpec(
    "q64_sequence_packing",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val B = 2048
      val w = Window.partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), (col("doc_id") % 16).as("shard"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .withColumn("cum", sum("tokens").over(w))
        .withColumn("straddle",
          floor((col("cum") - col("tokens")) / B) =!= floor((col("cum") - 1) / B))
        .groupBy("source", "shard")
        .agg(
          count(lit(1)).as("n_docs"),
          max("cum").as("total_tokens"),
          (floor((max("cum") - 1) / B) + 1).cast("long").as("n_blocks"),
          count(when(col("straddle"), 1)).as("n_straddle"))
        .orderBy("source", "shard")
    },
    Some("""SELECT source, shard, COUNT(*) AS n_docs,
              CAST(MAX(cum) AS BIGINT) AS total_tokens,
              CAST(FLOOR((MAX(cum) - 1) / 2048.0) + 1 AS BIGINT) AS n_blocks,
              COUNT(CASE WHEN FLOOR((cum - tokens) / 2048.0) <>
                              FLOOR((cum - 1) / 2048.0) THEN 1 END) AS n_straddle
            FROM (
              SELECT source, doc_id % 16 AS shard, doc_id,
                len(string_split(text, ' ')) AS tokens,
                SUM(len(string_split(text, ' '))) OVER (
                  PARTITION BY source, doc_id % 16 ORDER BY doc_id) AS cum
              FROM documents)
            GROUP BY source, shard ORDER BY source, shard""")
  )

  // ----------------------------------------------------- snapshot diff
  /** Content diff between two corpus snapshots: per doc_id, `added` /
    * `removed` / `changed` / `unchanged` — the audit record a versioned
    * training dataset publishes with each release. The compare runs on
    * content FINGERPRINTS (32 B), not text, so the full-outer join
    * shuffles two narrow (doc_id, fp) streams; with both snapshots
    * bucketed by doc_id (Spark's `bucketBy`) it is shuffle-free
    * entirely. 100 TB shape: one co-partitioned join, no text movement.
    */
  def corpusDiff(a: DataFrame, b: DataFrame): DataFrame = {
    def fps(df: DataFrame, out: String) =
      normalize(df).select(col("doc_id"), md5(col("text_norm")).as(out))
    fps(a, "fp_a").join(fps(b, "fp_b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** q77: snapshot diff on simulated releases — A drops every 11th doc
    * (they are "new" in B), B edits every 13th doc's text (appends a
    * token) and drops every 17th ("removed"). Both engines derive the
    * same snapshots from `documents`, so the diff is fully oracled; the
    * unchanged majority is excluded from the output (at scale the report
    * is the small delta, never the corpus).
    */
  val q77 = QuerySpec(
    "q77_corpus_snapshot_diff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.filter(col("doc_id") % 11 =!= 0)
      val b = docs.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      corpusDiff(a, b)
        .filter(col("status") =!= "unchanged")
        .orderBy("doc_id")
    },
    Some(s"""WITH a AS (
              SELECT doc_id,
                md5(regexp_replace(${asciiLowerSql("text")}, '[ \t\n\r\f]+', ' ', 'g')) AS fp_a
              FROM documents WHERE doc_id % 11 <> 0),
            b AS (
              SELECT doc_id,
                md5(regexp_replace(${asciiLowerSql("CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END")}, '[ \t\n\r\f]+', ' ', 'g')) AS fp_b
              FROM documents WHERE doc_id % 17 <> 0)
            SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
              CASE WHEN a.doc_id IS NULL THEN 'added'
                   WHEN b.doc_id IS NULL THEN 'removed'
                   WHEN fp_a <> fp_b THEN 'changed'
                   ELSE 'unchanged' END AS status
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
            WHERE CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN fp_a <> fp_b THEN 'changed'
                       ELSE 'unchanged' END <> 'unchanged'
            ORDER BY doc_id""")
  )

  // ---------------------------------------------------- source scorecard
  /** q83: per-source SCORECARD — the governance table a curation run
    * publishes to decide which sources to keep, cap, or drop: document
    * count, duplication exposure (docs whose head fingerprint is shared
    * with ANY other doc — cross-source duplication counts against both
    * sources), and token-volume stats. Real pipelines add near-dup rate
    * (q74 against the store) and quality aggregates (q25) to the same
    * grouping — each is one more aggregate over an existing column.
    *
    * SCALE SHAPE: the shared-fingerprint set contains only duplicated
    * fps (tiny by construction on a curated corpus) and BROADCASTS back
    * onto the narrow (doc_id, source, fp, n_tokens) scan; the only
    * corpus-sized shuffle is the fp-keyed aggregate that finds dups —
    * the same one q21/q73 already pay.
    */
  val q83 = QuerySpec(
    "q83_source_scorecard",
    (s, d) => {
      val norm = normalize(Tables.documents(s, d))
        .select(col("doc_id"), col("source"),
          IncrementalDedup.fingerprint(Some(8)).as("fp"),
          size(split(col("text_norm"), " ")).as("n_tokens"))
      val shared = norm.groupBy("fp").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1)
        .select(col("fp"), lit(1).as("__dup"))
      // No broadcast hint: `shared` is the duplicated-fingerprint table,
      // which grows with the corpus (every repeated document adds a row) —
      // corpus-grain, not a label domain. Catalyst's stats broadcast it at
      // test SF and correctly switch to a shuffle join at scale; an
      // explicit hint here would pin a driver-OOM shape at 100 TB
      // (round-9 hint-gate tightening).
      norm.join(shared, Seq("fp"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("__dup")).as("n_dup_docs"),
          ffloor(count(col("__dup")).cast("double") / count(lit(1)), 4).as("dup_rate"),
          sum("n_tokens").cast("long").as("total_tokens"),
          ffloor(sum("n_tokens").cast("double") / count(lit(1)), 2).as("avg_tokens"))
        .orderBy("source")
    },
    Some(s"""WITH norm AS (
              SELECT doc_id, source,
                md5(array_to_string(
                  string_split(regexp_replace(${asciiLowerSql("text")}, '[ \t\n\r\f]+', ' ', 'g'), ' ')[1:8],
                  ' ')) AS fp,
                len(string_split(regexp_replace(${asciiLowerSql("text")}, '[ \t\n\r\f]+', ' ', 'g'), ' ')) AS n_tokens
              FROM documents),
            shared AS (SELECT fp FROM norm GROUP BY fp HAVING COUNT(*) > 1)
            SELECT source, COUNT(*) AS n_docs,
              COUNT(s.fp) AS n_dup_docs,
              CAST(FLOOR(COUNT(s.fp) * 1.0 / COUNT(*) * 10000.0) AS DOUBLE) / 10000.0 AS dup_rate,
              CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
              CAST(FLOOR(SUM(n_tokens) * 1.0 / COUNT(*) * 100.0) AS DOUBLE) / 100.0 AS avg_tokens
            FROM norm n LEFT JOIN shared s ON n.fp = s.fp
            GROUP BY source ORDER BY source""")
  )

  // --------------------------------------------- adaptive outlier trim
  /** q70: per-language length-outlier trimming — drop documents above
    * their OWN language's p95 length (fixed global thresholds over- or
    * under-trim every stratum; dataset-card passes trim adaptively).
    * Scale shape: the thresholds are an AGGREGATE (exact `percentile`
    * here; `percentile_approx` sketch at 100 TB — same plan), |langs|
    * rows, broadcast back onto the scan; the corpus itself never
    * shuffles, mirroring q58's broadcast-side pattern. Output is the
    * per-language trim report.
    */
  val q70 = QuerySpec(
    "q70_length_outlier_trim",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val cuts = docs.groupBy("lang")
        .agg(expr("percentile(n_chars, 0.95)").as("__p95"))
      docs.join(broadcast(cuts), "lang")
        .groupBy("lang")
        .agg(
          count(when(col("n_chars") <= col("__p95"), 1)).as("n_kept"),
          count(when(col("n_chars") > col("__p95"), 1)).as("n_dropped"),
          graft.operators.Ops.ffloor(max("__p95"), 2).as("p95_chars"))
        .orderBy("lang")
    },
    Some("""WITH cuts AS (
              SELECT lang, quantile_cont(n_chars, 0.95) AS p95 FROM documents GROUP BY lang)
            SELECT lang,
              COUNT(CASE WHEN n_chars <= p95 THEN 1 END) AS n_kept,
              COUNT(CASE WHEN n_chars > p95 THEN 1 END) AS n_dropped,
              CAST(FLOOR(MAX(p95) * 100.0) AS DOUBLE) / 100.0 AS p95_chars
            FROM documents JOIN cuts USING (lang)
            GROUP BY lang ORDER BY lang""")
  )

  // --------------------------------------------------------------- q127
  /** Length-decile profile — corpus bucketing by EXACT decile boundaries
    * without ntile's global sort: boundary values come from the
    * histogram-refine quantile engine
    * ([[graft.operators.Quantiles.exactQuantiles]], 9 ranks, narrow
    * passes), then every doc's decile is a 9-literal comparison chain —
    * map-side, no shuffle until the 10-group rollup. Ties at a boundary
    * fall into the LOWER decile (value > bound moves you up), the
    * deterministic convention the oracle mirrors; deciles with no
    * exclusive row range collapse to empty and are absent from the
    * output, exactly like the SQL.
    */
  val q127 = QuerySpec(
    "q127_length_deciles",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val bounds = graft.operators.Quantiles.exactQuantiles(
          docs, "n_chars", (10 to 90 by 10).toSeq, refineThreshold = 4096)
        .select("value").collect().map(_.getLong(0)).sorted
      val decile = bounds.map(b =>
        when(col("n_chars") > lit(b), 1L).otherwise(0L)).reduce(_ + _) + 1L
      docs.select(col("n_chars"), decile.as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("decile")
    },
    Some("""WITH n AS (SELECT COUNT(*) AS n FROM documents),
            t(pct) AS (VALUES (10),(20),(30),(40),(50),(60),(70),(80),(90)),
            ks AS (SELECT pct, CAST((pct * n + 99) // 100 AS BIGINT) AS k
                   FROM t CROSS JOIN n),
            r AS (SELECT n_chars,
                    row_number() OVER (ORDER BY n_chars) AS rn
                  FROM documents),
            b AS (SELECT x FROM ks JOIN (SELECT n_chars AS x, rn FROM r) rr
                  ON rr.rn = ks.k),
            a AS (SELECT d.n_chars,
                    1 + (SELECT COUNT(*) FROM b WHERE d.n_chars > b.x) AS decile
                  FROM documents d)
            SELECT decile, COUNT(*) AS n_docs,
              MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
            FROM a GROUP BY decile ORDER BY decile""")
  )

  val all: Seq[QuerySpec] = Seq(q46, q47, q48, q58, q59, q60, q61, q62, q64,
    q70, q71, q77, q83, q127)
}
