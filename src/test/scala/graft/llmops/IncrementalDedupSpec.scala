package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The incremental-dedup contract: a batch deduped against the PERSISTED
  * signature store answers identically to the relational store/batch
  * forms (q73/q74), and appending the batch makes the next increment see
  * it. Candidate semantics vs a full batch-inclusive q30 run are checked
  * on the real sf corpus.
  */
class IncrementalDedupSpec extends SparkTestBase {

  private def corpus = graft.Tables.documents(spark, sf("sf0.001"))

  test("persisted store answers the exact increment identically to the relational q73 form") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val store = corpus.filter(col("doc_id") % 5 =!= 0)
    val batch = corpus.filter(col("doc_id") % 5 === 0)
    IncrementalDedup.buildStore(store, dir, prefixTokens = Some(8))

    val fromStore = IncrementalDedup
      .exactDups(spark.read.parquet(s"$dir/fingerprints.parquet"), batch,
        prefixTokens = Some(8))
      .orderBy("doc_id").collect().toSeq
    val relational = graft.QueryRegistry.byName("q73_incremental_exact_dedup")
      .run(spark, sf("sf0.001")).collect().toSeq
    assert(fromStore == relational)
    assert(fromStore.nonEmpty) // head-fp collisions exist — not a vacuous pass

    // exactNew is the complement: hits + news partition the batch
    val news = IncrementalDedup
      .exactNew(spark.read.parquet(s"$dir/fingerprints.parquet"), batch,
        prefixTokens = Some(8))
    assert(news.count() + fromStore.size == batch.count())
    assert(news.columns.toSeq == batch.columns.toSeq)
  }

  test("persisted store answers the near-dup increment identically to the relational q74 form") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val store = corpus.filter(col("doc_id") % 5 =!= 0)
    val batch = corpus.filter(col("doc_id") % 5 === 0)
    IncrementalDedup.buildStore(store, dir)

    val (_, near) = IncrementalDedup.dedupeBatch(spark, dir, batch)
    val fromStore = near.orderBy("d1", "d2").collect().toSeq
    val relational = graft.QueryRegistry.byName("q74_incremental_neardup")
      .run(spark, sf("sf0.001")).collect().toSeq
    assert(fromStore == relational)

    // batch-vs-store pairs are exactly the cross-split subset of the
    // full-corpus q30 pairs at the same threshold (same bands, same cap
    // applied store-side only — every cross pair q30 finds with its
    // union-side cap must also collide here or be a cap casualty; on
    // this corpus the bucket cap never binds, so the sets are equal)
    val full = Dedup.minhashPairs(
        graft.core.Materialize(Dedup.minhashSignatures(corpus, 3)), minSim = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cross = full.filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, j) => if (a % 5 == 0) (a, b, j) else (b, a, j) }
    val got = fromStore.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == cross)
  }

  test("streaming: micro-batches dedup against the persisted store via stream-static join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val store = corpus.filter(col("doc_id") % 5 =!= 0)
    IncrementalDedup.buildStore(store, dir)
    val storeFps = spark.read.parquet(s"$dir/fingerprints.parquet")
    val copies = store.orderBy("doc_id").limit(2)
      .select("doc_id", "text").as[(Long, String)].collect()

    val stream = MemoryStream[(Long, String)]
    val q = IncrementalDedup
      .exactDupsStreaming(storeFps, stream.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("incdup").start()
    try {
      // batch 1: one exact copy of a landed doc + one novel doc
      stream.addData((900001L, copies(0)._2), (900002L, "entirely novel text never landed"))
      q.processAllAvailable()
      // batch 2: a second copy arrives later — the static store still answers
      stream.addData((900003L, copies(1)._2))
      q.processAllAvailable()
      val hits = spark.table("incdup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((900001L, copies(0)._1), (900003L, copies(1)._1)))
    } finally q.stop()
  }

  test("streaming near-dup: arriving signatures flagged against the static store == batch answer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val store = corpus.filter(col("doc_id") % 5 =!= 0)
    val batch = corpus.filter(col("doc_id") % 5 === 0)
    IncrementalDedup.buildStore(store, dir)
    val storeBuckets = spark.read.parquet(s"$dir/buckets.parquet")
    val storeSigs = spark.read.parquet(s"$dir/signatures.parquet")

    // signatures are produced upstream per the contract; compute them in
    // batch and feed the (doc_id, sig) rows through a real stream
    val sigRows = Dedup.minhashSignatures(batch, 3)
      .as[(Long, Seq[Long])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Long])]
    val q = IncrementalDedup.neardupStreaming(storeBuckets, storeSigs,
        stream.toDS().toDF("doc_id", "sig"), minSim = 0.3)
      .writeStream.outputMode("append")
      .format("memory").queryName("incnear").start()
    try {
      val (first, rest) = sigRows.splitAt(sigRows.size / 2)
      stream.addData(first); q.processAllAvailable()
      stream.addData(rest); q.processAllAvailable()
      val got = spark.table("incnear").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet // per-band dups collapse
      val expected = IncrementalDedup.neardupAgainstStore(storeBuckets, storeSigs,
          graft.core.Materialize(Dedup.minhashSignatures(batch, 3)), minSim = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("compactStore: re-caps appended buckets and re-canonicalizes fingerprints") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val store = corpus.filter(col("doc_id") % 5 =!= 0)
    IncrementalDedup.buildStore(store, dir)

    // append an exact copy of a landed doc under a new id: its fp row
    // duplicates the store's, and its bucket rows double every band of
    // the original
    val copy = store.orderBy("doc_id").limit(1)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].head()
    val dup = Seq((900001L, copy._2, copy._3, copy._4, copy._5))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IncrementalDedup.appendToStore(dup, dir)

    val fpsBefore = spark.read.parquet(s"$dir/fingerprints.parquet")
    assert(fpsBefore.groupBy("fp").count().filter(col("count") > 1).count() == 1)

    IncrementalDedup.compactStore(spark, dir)
    val fps = spark.read.parquet(s"$dir/fingerprints.parquet")
    // one row per fp again, and the duplicated fp kept the ORIGINAL owner
    assert(fps.groupBy("fp").count().filter(col("count") > 1).count() == 0)
    val dupFp = IncrementalDedup.fingerprints(dup).select("fp").as[String].head()
    assert(fps.filter(col("fp") === dupFp).select("dup_of").as[Long].head() == copy._1)
    // cap tight enough to bind: no (band_idx, band_hash) group exceeds it
    IncrementalDedup.compactStore(spark, dir, maxBucket = 1)
    val caps = spark.read.parquet(s"$dir/buckets.parquet")
      .groupBy("band_idx", "band_hash").count().filter(col("count") > 1).count()
    assert(caps == 0)
  }

  test("compactStore: recovers a crash between delete and rename (dst gone, rewrite in .tmp)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val store = corpus.filter(col("doc_id") % 5 =!= 0)
    IncrementalDedup.buildStore(store, dir)
    val fpsExpected = spark.read.parquet(s"$dir/fingerprints.parquet")
      .select("fp", "dup_of").as[(String, Long)].collect().toSet

    // Simulate the swap's crash window: fs.delete(dst) done, rename(tmp,dst)
    // not — the completed compacted table is stranded in `.tmp` and the
    // live path is MISSING. (The store is already 1-row-per-fp, so the
    // tmp content here — the table itself — is exactly what a compaction
    // rewrite would have staged.)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"$dir/fingerprints.parquet")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/fingerprints.parquet.tmp")
    assert(fs.rename(dst, tmp) && !fs.exists(dst))

    // the docstring's claim under test: a re-run CONVERGES instead of
    // failing on the missing path
    IncrementalDedup.compactStore(spark, dir)
    val fpsAfter = spark.read.parquet(s"$dir/fingerprints.parquet")
      .select("fp", "dup_of").as[(String, Long)].collect().toSet
    assert(fpsAfter == fpsExpected)
    // and the recovered store still answers dedup queries
    assert(spark.read.parquet(s"$dir/buckets.parquet").count() > 0)
  }

  test("appendToStore: the next increment sees the previous batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val store = corpus.filter(col("doc_id") % 5 =!= 0)
    IncrementalDedup.buildStore(store, dir)

    // batch 1 lands; its docs then shadow batch 2's exact copy
    val batch1 = corpus.filter(col("doc_id") % 5 === 0)
    IncrementalDedup.appendToStore(batch1, dir)
    val copyId = batch1.select(min("doc_id")).as[Long].head()
    val copyText = batch1.filter(col("doc_id") === copyId)
      .select("text").as[String].head()
    val batch2 = Seq((900001L, copyText, "en", "src0", copyText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val (exact, near) = IncrementalDedup.dedupeBatch(spark, dir, batch2)
    val hit = exact.collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 900001L)
    // near-dup sees it too (identical text → est 1.0 against the landed copy)
    assert(near.filter(col("d2") === copyId && col("est_jaccard") === 1.0).count() == 1)
  }
}
