package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import StatefulOps._

class StatefulOpsSpec extends SparkTestBase {

  test("latestWins emits only champion changes across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[KeyedEvent]
    val q = latestWins(stream.toDS())
      .toDF("user_id", "champion")
      .writeStream.outputMode("append")
      .format("memory").queryName("champ")
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      // batch 1: user 1 gets events at ts 10 and 30 → one emission (ts 30)
      stream.addData(KeyedEvent(1, 100, 10, 1.0), KeyedEvent(1, 101, 30, 3.0))
      q.processAllAvailable()
      // batch 2: stale event (ts 20) → champion unchanged, NO emission;
      //          user 2 appears → one emission
      stream.addData(KeyedEvent(1, 102, 20, 2.0), KeyedEvent(2, 200, 5, 9.0))
      q.processAllAvailable()
      // batch 3: user 1 beaten by ts 40 → emission
      stream.addData(KeyedEvent(1, 103, 40, 4.0))
      q.processAllAvailable()

      val rows = spark.table("champ").collect()
        .map(r => (r.getLong(0), r.getStruct(1).getLong(0))).toList.sorted
      assert(rows == List((1L, 101L), (1L, 103L), (2L, 200L)))
    } finally q.stop()
  }

  test("streamingFunnel advances strictly ordered steps across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[FunnelEvent]
    val q = streamingFunnel(stream.toDS(), Seq("view", "click", "purchase"))
      .toDF("user_id", "step", "event_type", "secs")
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel")
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      // batch 1: user 1 views then clicks (same batch, ts-ordered);
      // user 2 clicks FIRST (no view) -> no advance at all
      stream.addData(
        FunnelEvent(1, "view", 1000), FunnelEvent(1, "click", 61000),
        FunnelEvent(2, "click", 2000))
      q.processAllAvailable()
      // batch 2: user 1 purchases (advance); an out-of-order duplicate
      // click at an EARLIER ts mutates nothing; user 2 finally views ->
      // step 1 only (the earlier click is gone - strict order)
      stream.addData(
        FunnelEvent(1, "purchase", 181000), FunnelEvent(1, "click", 500),
        FunnelEvent(2, "view", 3000))
      q.processAllAvailable()

      val rows = spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
        .toList.sortBy(t => (t._1, t._2))
      assert(rows == List(
        (1L, 1, "view", 0.0), (1L, 2, "click", 60.0), (1L, 3, "purchase", 120.0),
        (2L, 1, "view", 0.0)), s"got $rows")
    } finally q.stop()
  }

  test("streamingNearDup flags near-identical arrivals against earlier docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 64).map(i => (i * 131L) % 1009L)
    val nearDup = base.updated(0, 999999L) // 63/64 positions agree
    val distinct = (1 to 64).map(i => 500000L + i)
    val stream = MemoryStream[SketchedDoc]
    val q = streamingNearDup(stream.toDS(), minSim = 0.9)
      .writeStream.outputMode("append")
      .format("memory").queryName("near_dup")
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      stream.addData(SketchedDoc(1L, base))
      q.processAllAvailable()
      assert(spark.table("near_dup").count() == 0) // nothing earlier to match
      // batch 2: a near-dup of doc 1 and an unrelated doc
      stream.addData(SketchedDoc(2L, nearDup), SketchedDoc(3L, distinct))
      q.processAllAvailable()
      val hits = spark.table("near_dup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // one logical hit (possibly reported from several colliding bands —
      // the Set dedupes), correct direction, correct estimate
      assert(hits == Set((2L, 1L, 63.0 / 64)))
      // batch 3: replay of doc 2 must not match itself
      stream.addData(SketchedDoc(2L, nearDup))
      q.processAllAvailable()
      assert(spark.table("near_dup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 1L)))
      // batch 4: doc 3 is REVISED to be a near-dup of doc 1 — the new
      // signature replaces the stored one and the revision reports hits
      stream.addData(SketchedDoc(3L, base.updated(1, 888888L)))
      q.processAllAvailable()
      val revised = spark.table("near_dup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(revised.contains((3L, 1L)) && revised.contains((3L, 2L)), revised)
    } finally q.stop()
  }

  test("streamingNearDup state survives micro-batches under the RocksDB provider (LocalSession default)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      graft.LocalSession.stateStoreProvider)
    assert(graft.LocalSession.stateStoreProvider.contains("RocksDB"))
    val base = (1 to 64).map(i => (i * 131L) % 1009L)
    val stream = MemoryStream[SketchedDoc]
    val q = streamingNearDup(stream.toDS(), minSim = 0.9)
      .writeStream.outputMode("append")
      .format("memory").queryName("near_dup_rocks")
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      stream.addData(SketchedDoc(1L, base))
      q.processAllAvailable()
      // second batch reads batch-1 state back from RocksDB
      stream.addData(SketchedDoc(2L, base.updated(0, 999999L)))
      q.processAllAvailable()
      val hits = spark.table("near_dup_rocks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(hits == Set((2L, 1L, 63.0 / 64)))
      // the running query really is on RocksDB, not the HDFS default
      assert(q.lastProgress.stateOperators.head.customMetrics
        .containsKey("rocksdbFilesCopied"), "query not using RocksDB state store")
    } finally q.stop()
  }

  test("streamingSessionize matches q37's batch sessions once the watermark closes them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val hour = 3600 * 1000L
    // user 1: two sessions (events 0h,1h then 6h); user 2: one session
    val evs = Seq(
      (1L, base + 0 * hour, 10.0), (1L, base + 1 * hour, 20.0),
      (1L, base + 6 * hour, 30.0),
      (2L, base + 2 * hour, 5.0))
    val stream = MemoryStream[(Long, Long, Double)]
    val df = stream.toDS().toDF("user_id", "ts_ms", "value")
      .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_millis(ts_ms)"))
    val q = StatefulOps.streamingSessionize(df, gap = "4 hours", late = "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess")
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      stream.addData(evs.map(e => (e._1, e._2, e._3)): _*)
      q.processAllAvailable()
      // advance the watermark far past every session end so all close
      stream.addData((99L, base + 100 * hour, 0.0))
      q.processAllAvailable()
      val got = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val expected = Set(
        (1L, base * 1000L, 2L, 30.0),                      // 0h session: 2 events
        (1L, (base + 6 * hour) * 1000L, 1L, 30.0),         // 6h session
        (2L, (base + 2 * hour) * 1000L, 1L, 5.0))
      assert(expected.subsetOf(got), s"got $got")
    } finally q.stop()
  }

  test("streamingSessionPaths emits each closed session's ordered capped path once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val hour = 3600 * 1000L
    // user 1 session 1: view > click > purchase (out-of-order arrival
    // within the batch); session 2 at +6h: view > view. user 2: ten
    // views — path caps at 8.
    val s1 = Seq(
      (1L, 2L, base + 2000, "purchase"), (1L, 0L, base, "view"),
      (1L, 1L, base + 1000, "click"),
      (1L, 3L, base + 6 * hour, "view"), (1L, 4L, base + 6 * hour + 500, "view")) ++
      (0 until 10).map(i => (2L, 10L + i, base + i * 1000L, "view"))
    val stream = MemoryStream[(Long, Long, Long, String)]
    val df = stream.toDS().toDF("user_id", "event_id", "ts_ms", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_millis(ts_ms)"))
    val q = StatefulOps.streamingSessionPaths(df, gap = "4 hours", late = "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("paths")
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      stream.addData(s1: _*)
      q.processAllAvailable()
      stream.addData((99L, 999L, base + 100 * hour, "view")) // close all
      q.processAllAvailable()
      val got = spark.table("paths").collect()
        .map(r => (r.getLong(0), r.getString(2)))
        .filter(_._1 != 99L).toSet
      assert(got == Set(
        (1L, "view>click>purchase"),
        (1L, "view>view"),
        (2L, ("view>" * 8).dropRight(1))), s"got $got")
    } finally q.stop()
  }

  test("streamingNearDup: hot bucket over maxBucket across micro-batches evicts FIFO, keeps recall for recent docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // identical signatures → every doc collides in EVERY band's bucket:
    // the hot-bucket (stop-boilerplate) worst case
    val sig = (1 to 64).map(i => (i * 257L) % 1013L)
    val stream = MemoryStream[SketchedDoc]
    val q = streamingNearDup(stream.toDS(), minSim = 0.9, maxBucket = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("hot_bucket")
      .trigger(Trigger.ProcessingTime(0L)).start()
    def hitsOf(id: Long): Set[Long] = spark.table("hot_bucket").collect()
      .filter(_.getLong(0) == id).map(_.getLong(1)).toSet
    try {
      // one doc per micro-batch: state must carry across batches
      stream.addData(SketchedDoc(1L, sig)); q.processAllAvailable()
      stream.addData(SketchedDoc(2L, sig)); q.processAllAvailable()
      stream.addData(SketchedDoc(3L, sig)); q.processAllAvailable()
      assert(hitsOf(3L) == Set(1L, 2L))
      // doc 4 still sees the full bucket [1,2,3], then 1 is evicted (FIFO)
      stream.addData(SketchedDoc(4L, sig)); q.processAllAvailable()
      assert(hitsOf(4L) == Set(1L, 2L, 3L))
      // doc 5 arrives at a bucket capped to [2,3,4]: the three most
      // recent docs are still recalled; the oldest (1) is forgotten
      stream.addData(SketchedDoc(5L, sig)); q.processAllAvailable()
      assert(hitsOf(5L) == Set(2L, 3L, 4L))
    } finally q.stop()
  }

  test("streamingExactDedup drops within-watermark duplicates, keeps first occurrence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Double, Long)]
    val events = stream.toDS()
      .toDF("user_id", "event_type", "value", "us")
      .withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(us)"))
    val q = streamingExactDedup(events)
      .select("user_id", "event_type", "value")
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup")
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      val t0 = 1700000000000000L
      // batch 1: a duplicate inside one batch → one survivor
      stream.addData((1L, "click", 1.0, t0), (1L, "click", 1.0, t0 + 1000))
      q.processAllAvailable()
      assert(spark.table("sdedup").count() == 1)
      // batch 2: same key again (within horizon) → dropped; new key passes
      stream.addData((1L, "click", 1.0, t0 + 2000), (2L, "view", 5.0, t0 + 3000))
      q.processAllAvailable()
      assert(spark.table("sdedup").count() == 2)
      assert(spark.table("sdedup").select("user_id").as[Long].collect().toSet
        == Set(1L, 2L))
    } finally q.stop()
  }

  test("streamingRateAnomaly flags a spike against trailing history, replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[MinuteCount]
    val q = streamingRateAnomaly(stream.toDS(), histLen = 30, minHist = 5,
        zThresh = 3.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("anom")
      .trigger(Trigger.ProcessingTime(0L)).start()
    def rows() = spark.table("anom").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    try {
      val m = 60000L
      // 6 steady minutes of 10/min — warmup, no anomalies
      stream.addData((0 to 5).map(i => MinuteCount("click", i * m, 10L)): _*)
      q.processAllAvailable()
      assert(rows().isEmpty)
      // minute 6 spikes to 100: mean 10, flatline std floored to 1 → z = 90
      stream.addData(MinuteCount("click", 6 * m, 100L))
      q.processAllAvailable()
      assert(rows() == Seq((6 * m, 100L, 90.0)))
      // replay of an already-scored bucket mutates nothing, emits nothing
      stream.addData(MinuteCount("click", 6 * m, 100L))
      q.processAllAvailable()
      assert(rows().size == 1)
      // next steady minute: the spike inflates mean/std but 10 is not 3σ out
      // (hist [10×6,100]: mean≈22.86, std≈31.5 → z≈-0.4)
      stream.addData(MinuteCount("click", 7 * m, 10L))
      q.processAllAvailable()
      assert(rows().size == 1)
      // an independent key has its own history: no cross-key contamination
      stream.addData((0 to 5).map(i => MinuteCount("view", i * m, 50L)): _*)
      q.processAllAvailable()
      assert(rows().size == 1)
    } finally q.stop()
  }
}
