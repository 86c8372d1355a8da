package graft

import graft.operators.{Dedup, Events, Quality}
import graft.streaming.{StreamingCuration, StreamingEvents}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  test("incremental minhash dedup: batches dedup against the accumulated zone, replay-safe") {
    import spark.implicits._
    import graft.sources.DeltaSource
    val zone = Files.createTempDirectory("graft_incrdedup").toString + "/sigs"
    val textA = "the quick brown fox jumps over the lazy dog while seven wizards watch quietly"
    val textB = "entirely different content about distributed query engines and shuffle planning"
    val textD = "a third unrelated document discussing parquet footers and column statistics"
    val textE = "yet another unique passage on watermarks and stateful stream processing"

    // batch 0: two unique docs -> both survive
    val v0 = StreamingCuration.incrementalMinhashDedup(
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), 0L, zone)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v0 == Map(1L -> false, 2L -> false))
    assert(DeltaSource.readDelta(spark, zone).count() == 2)

    // batch 1: 3 duplicates A (cross-batch, vs the ZONE), 4 unique,
    // 5 unique, 6 duplicates 5 (batch-internal)
    val b1 = Seq((3L, textA), (4L, textD), (5L, textE), (6L, textE))
      .toDF("doc_id", "text")
    val v1 = StreamingCuration.incrementalMinhashDedup(b1, 1L, zone)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(v1 == Set((3L, true, 1L), (4L, false, -1L),
      (5L, false, -1L), (6L, true, 5L)), s"got $v1")
    assert(DeltaSource.readDelta(spark, zone).count() == 4) // 1,2,4,5

    // crash-replay of batch 1: zone unchanged (txn guard), verdict
    // identical (self-pairs excluded)
    val v1r = StreamingCuration.incrementalMinhashDedup(b1, 1L, zone)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v1r == Map(3L -> true, 4L -> false, 5L -> false, 6L -> true))
    assert(DeltaSource.readDelta(spark, zone).count() == 4,
      "a replayed batch must not re-append survivors")
  }

  test("incremental dedup runs behind a real stream (graft-delta source, bounded batches)") {
    import spark.implicits._
    import graft.sources.DeltaSource
    val root = Files.createTempDirectory("graft_incrstream").toString
    val docs = s"$root/docs"
    val zone = s"$root/sigs"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = "completely different words populate this second document entirely"
    DeltaSource.writeDelta(Seq((10L, t1)).toDF("doc_id", "text"), docs)
    DeltaSource.writeDelta(Seq((20L, t1), (30L, t2)).toDF("doc_id", "text"),
      docs, overwrite = false)
    val q = spark.readStream.format("graft-delta")
      .option("maxCommitsPerBatch", "1")
      .load(docs)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        StreamingCuration.incrementalMinhashDedup(batch, batchId, zone).collect()
        ()
      }
      .start()
    assert(q.awaitTermination(120000))
    // 10 survives batch 0; 20 (dup of 10, CROSS-batch) dropped; 30 survives
    val kept = DeltaSource.readDelta(spark, zone)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(10L, 30L), s"zone holds $kept")
  }

  test("materialized signature table reproduces minhash pairs bit-exactly") {
    val docs = Tables.documents(spark, sf)
    val direct = Dedup.minhashLshPairs(docs)
      .as[(Long, Long, Double)].collect().toSeq

    val tmp = Files.createTempDirectory("graft_sigs").toString
    Dedup.signatureTable(docs).write.mode("overwrite").parquet(tmp)
    val fromZone = Dedup.minhashLshPairsFrom(spark.read.parquet(tmp))
      .as[(Long, Long, Double)].collect().toSeq
    assert(fromZone == direct && direct.nonEmpty)
  }

  test("streaming upsert sink merges micro-batches into a versioned zone") {
    import graft.sources.DeltaSource
    import graft.streaming.StreamingPipeline
    val tmp = Files.createTempDirectory("graft_vz").toString
    val zone = s"$tmp/zone"

    // land each micro-batch as a bare parquet FILE in the watched dir
    // (the file source does not recurse into nested write dirs)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      Files.copy(part, java.nio.file.Paths.get(s"$tmp/in/$name.parquet"))
    }

    val b1 = Seq((1L, "one", "s"), (2L, "two", "s")).toDF("doc_id", "text", "source")
    land(b1, "b1")
    val q1 = StreamingPipeline.upsertSink(
      spark.readStream.schema(b1.schema).parquet(s"$tmp/in"), zone, s"$tmp/cp").start()
    try { q1.processAllAvailable() } finally { q1.stop() }

    // batch 2: doc 1 updated, doc 3 new
    land(Seq((1L, "one-v2", "s"), (3L, "three", "s")).toDF("doc_id", "text", "source"), "b2")
    val q2 = StreamingPipeline.upsertSink(
      spark.readStream.schema(b1.schema).parquet(s"$tmp/in"), zone, s"$tmp/cp").start()
    try { q2.processAllAvailable() } finally { q2.stop() }

    val latest = DeltaSource.readDelta(spark, zone)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(latest == Seq((1L, "one-v2"), (2L, "two"), (3L, "three")))
    assert(DeltaSource.latestVersion(spark, zone).contains(1L), "one commit per micro-batch")
    // time travel: version 0 still holds the pre-update state
    val v0 = DeltaSource.readDelta(spark, zone, Some(0L))
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(v0 == Seq((1L, "one"), (2L, "two")))
  }

  test("upsert sink reduces duplicate-key micro-batches deterministically") {
    import graft.sources.DeltaSource
    import graft.streaming.StreamingPipeline
    val tmp = Files.createTempDirectory("graft_vzdup").toString
    val zone = s"$tmp/zone"

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      Files.copy(part, java.nio.file.Paths.get(s"$tmp/in/$name.parquet"))
    }

    // one micro-batch carrying TWO rows for doc 1: v2 has the later
    // seq and must win regardless of file/partition order
    val b = Seq((1L, "one-v1", 10L), (1L, "one-v2", 20L), (2L, "two", 5L))
      .toDF("doc_id", "text", "seq")
    land(b, "b1")
    val q = StreamingPipeline.upsertSink(
      spark.readStream.schema(b.schema).parquet(s"$tmp/in"),
      zone, s"$tmp/cp", orderCol = Some("seq")).start()
    try { q.processAllAvailable() } finally { q.stop() }

    val latest = DeltaSource.readDelta(spark, zone)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(latest == Seq((1L, "one-v2"), (2L, "two")))
  }

  test("late cross-batch events merge with sane bounds or drop") {
    import graft.streaming.StreamingEvents
    import graft.streaming.StreamingEvents.Ev
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val tmp = Files.createTempDirectory("graft_late").toString
    val enc = implicitly[org.apache.spark.sql.Encoder[Ev]]

    def land(evs: Seq[Ev], name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      Files.copy(part, java.nio.file.Paths.get(s"$tmp/in/$name.parquet"))
    }

    // batch 1: open session at [100, 110]
    land(Seq(Ev(1L, ts(100), 7L, 1.0), Ev(2L, ts(110), 7L, 1.0)), "b1")
    val evs = spark.readStream.schema(enc.schema).parquet(s"$tmp/in").as[Ev]
    val q = StreamingEvents.sessionizeStateful(evs).writeStream
      .outputMode("append").format("memory").queryName("late_sess").start()
    val done = try {
      q.processAllAvailable()
      // batch 2 into the running query: late 95 merges (within
      // reach), very-late 10 drops, 200 closes the session
      land(Seq(Ev(3L, ts(95), 7L, 1.0), Ev(4L, ts(10), 7L, 1.0), Ev(5L, ts(200), 7L, 1.0)), "b2")
      q.processAllAvailable()
      spark.table("late_sess")
        .select($"user_id", $"n_events", $"session_start", $"session_end")
        .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSeq
    } finally q.stop()

    assert(done == Seq((7L, 3L, ts(95), ts(110))))
    assert(!done.exists { case (_, _, s, e) => e.before(s) })
  }

  test("the watermark drop contract: late rows drop under a tight delay, admit under a loose one") {
    import org.apache.spark.sql.types._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))

    // one run of the fixture under a given watermark delay: bulk batch
    // first (advances the watermark), then a 6-hours-early late row +
    // a far-future flush that closes every admitted window
    def run(delay: String): (Seq[(String, String, Long)], Long) = {
      val tmp = Files.createTempDirectory("graft_wm").toString
      val name = s"wm_${math.abs(delay.hashCode)}"
      def land(rows: Seq[(java.sql.Timestamp, String, Double)], f: String): Unit = {
        val stage = s"$tmp/stage_$f"
        rows.toDF("ts", "event_type", "value")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles
          .find(_.getName.endsWith(".parquet")).get.toPath
        Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
        Files.copy(part, java.nio.file.Paths.get(s"$tmp/in/$f.parquet"))
      }
      land(Seq((ts(0), "view", 1.0), (ts(10), "view", 1.0),
        (ts(70), "click", 2.0)), "b1")
      val stream = spark.readStream.schema(schema).parquet(s"$tmp/in")
      val q = graft.streaming.StreamingEvents.tumblingAgg(stream, delay)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        land(Seq((ts(-360), "view", 5.0)), "b2")        // 6 h early
        q.processAllAvailable()
        land(Seq((ts(60 * 24 * 30), "flush", 0.0)), "b3") // closes everything
        q.processAllAvailable()
        val rows = spark.table(name)
          .select(date_format($"window_start", "yyyy-MM-dd HH:mm:ss"),
            $"event_type", $"n_events")
          .as[(String, String, Long)].collect().toSeq.sorted
        val dropped = q.recentProgress.flatMap(_.stateOperators.toSeq)
          .map(_.numRowsDroppedByWatermark).sum
        (rows, dropped)
      } finally q.stop()
    }

    // tight delay (1 h): by the late batch, watermark = 13:10 − 1 h =
    // 12:10 — the 06:00 row is below it and MUST drop
    val (tight, droppedTight) = run("1 hour")
    assert(tight == Seq(
      ("2024-01-01 12:00:00", "view", 2L),
      ("2024-01-01 13:00:00", "click", 1L)), s"got $tight")
    assert(droppedTight == 1L, s"expected exactly the late row dropped, got $droppedTight")

    // loose delay (10 h): watermark = 03:10 when the late row arrives —
    // it is ADMITTED and its 06:00 window emits after the flush. Same
    // arrival order, different delay: the watermark is what decides.
    val (loose, droppedLoose) = run("10 hours")
    assert(loose == Seq(
      ("2024-01-01 06:00:00", "view", 1L),
      ("2024-01-01 12:00:00", "view", 2L),
      ("2024-01-01 13:00:00", "click", 1L)), s"got $loose")
    assert(droppedLoose == 0L, s"nothing should drop under the loose delay, got $droppedLoose")
  }

  test("streaming hopping agg matches the batch operator") {
    import graft.streaming.{StreamingEvents}
    val tmp = Files.createTempDirectory("graft_hop").toString
    val batch = Tables.events(spark, sf)
    batch.write.mode("overwrite").parquet(s"$tmp/in")

    val out = StreamingEvents.hoppingAgg(
      StreamingEvents.eventsStream(spark, s"$tmp/in"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("hop").start()
    try { q.processAllAvailable() } finally { q.stop() }

    // append mode only emits windows the watermark has closed; every
    // emitted window must match the batch result exactly, and the
    // stream must have closed most of them
    val streamed = spark.table("hop")
      .select($"window_start", $"event_type", $"n_events", $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batched = Events.hoppingAgg(batch)
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(streamed.subsetOf(batched) && streamed.size > batched.size / 2)
  }

  test("sliding distinct-user sketch streams; closed windows equal the batch sketch") {
    import graft.streaming.StreamingEvents
    import org.apache.spark.sql.functions.{approx_count_distinct, window}
    val tmp = Files.createTempDirectory("graft_slide").toString
    val batch = Tables.events(spark, sf)
    batch.write.mode("overwrite").parquet(s"$tmp/in")
    val out = StreamingEvents.slidingDistinctStream(
      StreamingEvents.eventsStream(spark, s"$tmp/in"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("slide").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("slide")
      .as[(java.sql.Timestamp, Long)].collect().toSet
    // HLL merge is order-independent: a closed window's streaming
    // estimate is bit-equal to the batch estimate on the same rows
    val batched = batch
      .groupBy(window($"ts", "60 minutes", "15 minutes").as("w"))
      .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .select($"w.start", $"approx_users")
      .as[(java.sql.Timestamp, Long)].collect().toSet
    assert(streamed.subsetOf(batched) && streamed.size > batched.size / 2)
  }

  test("stateful funnel matches the batch funnel count on one batch") {
    import graft.streaming.StreamingEvents
    import graft.streaming.StreamingEvents.TypedEv
    val tmp = Files.createTempDirectory("graft_fun").toString
    val batch = Tables.events(spark, sf)
    batch.select($"event_id", $"ts", $"user_id", $"event_type")
      .write.mode("overwrite").parquet(s"$tmp/in")

    val enc = implicitly[org.apache.spark.sql.Encoder[TypedEv]]
    val stream = spark.readStream.schema(enc.schema).parquet(s"$tmp/in").as[TypedEv]
    val q = StreamingEvents.funnelStateful(stream).writeStream
      .outputMode("append").format("memory").queryName("fun").start()
    try { q.processAllAvailable() } finally { q.stop() }

    val streamed = spark.table("fun").count()
    val batched = Events.funnel(batch).select($"n_full_funnel").as[Long].head()
    assert(streamed == batched && batched > 0)
  }

  test("stateful funnel converts across micro-batches") {
    import graft.streaming.StreamingEvents
    import graft.streaming.StreamingEvents.TypedEv
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val tmp = Files.createTempDirectory("graft_fun2").toString
    val enc = implicitly[org.apache.spark.sql.Encoder[TypedEv]]

    def land(evs: Seq[TypedEv], name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      Files.copy(part, java.nio.file.Paths.get(s"$tmp/in/$name.parquet"))
    }

    // batch 1: view + click for user 7; view-only for user 8
    land(Seq(TypedEv(1L, ts(0), 7L, "view"), TypedEv(2L, ts(30), 7L, "click"),
      TypedEv(3L, ts(0), 8L, "view")), "b1")
    val stream = spark.readStream.schema(enc.schema).parquet(s"$tmp/in").as[TypedEv]
    val q = StreamingEvents.funnelStateful(stream).writeStream
      .outputMode("append").format("memory").queryName("fun2").start()
    val rows = try {
      q.processAllAvailable()
      assert(spark.table("fun2").count() == 0)
      // batch 2: purchase inside the click window converts user 7;
      // user 8's purchase without a click stays unconverted
      land(Seq(TypedEv(4L, ts(90), 7L, "purchase"),
        TypedEv(5L, ts(90), 8L, "purchase")), "b2")
      q.processAllAvailable()
      spark.table("fun2")
        .select($"user_id", $"view_ts", $"click_ts", $"purchase_ts")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, java.sql.Timestamp)]
        .collect().toSeq
    } finally q.stop()
    assert(rows == Seq((7L, ts(0), ts(30), ts(90))))
  }

  test("stream-static anomaly scoring matches the batch operator") {
    val tmp = Files.createTempDirectory("graft_anom").toString
    val batch = Tables.events(spark, sf)
    batch.write.mode("overwrite").parquet(s"$tmp/in")

    val stats = Events.typeStats(batch)
    val out = StreamingCuration.anomalyScores(
      StreamingEvents.eventsStream(spark, s"$tmp/in"), stats)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("anom").start()
    try { q.processAllAvailable() } finally { q.stop() }

    val streamed = spark.table("anom")
      .select($"event_id", $"z").as[(Long, Double)].collect().toMap
    val batched = Events.anomalies(batch)
      .select($"event_id", $"z").as[(Long, Double)].collect().toMap
    assert(streamed == batched && batched.nonEmpty)
  }

  test("running word counts converge to the batch frequencies across batches") {
    import graft.streaming.StreamingCuration
    val tmp = Files.createTempDirectory("graft_wc").toString
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      Files.copy(part, java.nio.file.Paths.get(s"$tmp/in/$name.parquet"))
    }

    land(docs.where($"doc_id" % 2 === 0), "b1")
    val stream = spark.readStream.schema(
      docs.schema).parquet(s"$tmp/in")
    val q = StreamingCuration.runningWordCounts(stream).writeStream
      .outputMode("update").format("memory").queryName("wc").start()
    val streamed = try {
      q.processAllAvailable()
      land(docs.where($"doc_id" % 2 === 1), "b2")
      q.processAllAvailable()
      // latest emitted total per word = running count after both batches
      spark.table("wc").groupBy($"word").agg(max($"n").as("n"))
        .as[(String, Long)].collect().toMap
    } finally q.stop()

    val batched = docs.select(explode(
        graft.functions.TextFunctions.tokens(lower($"text"))).as("word"))
      .where(length($"word") > 3)
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(streamed == batched && batched.nonEmpty)
  }

  test("streaming gopher gate keeps exactly the batch-kept docs") {
    val tmp = Files.createTempDirectory("graft_gq").toString
    val docs = Tables.documents(spark, sf)
    docs.write.mode("overwrite").parquet(s"$tmp/in")

    val stream = spark.readStream.schema(docs.schema).parquet(s"$tmp/in")
    val q = StreamingCuration.gopherKeep(stream).writeStream
      .outputMode("append").format("memory").queryName("gq").start()
    try { q.processAllAvailable() } finally { q.stop() }

    val streamedIds = spark.table("gq").select($"doc_id").as[Long].collect().toSet
    val batchIds = Quality.gopherFilter(docs).where($"keep" === 1L)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamedIds == batchIds && batchIds.nonEmpty)
  }

  test("psi drift monitor: an in-distribution window scores 0, a shifted window alerts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val reference = (1 to 100).map(_.toDouble).toDF("value")
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val stream = mem.toDF().toDF("ts", "value")
    val out = StreamingCuration.psiDriftStream(stream, reference,
      windowSize = "1 hour", watermark = "0 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("psi_drift").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    try {
      // window A [00:00,01:00): EXACTLY the reference distribution;
      // window B [01:00,02:00): shifted far above every bin edge
      mem.addData((1 to 100).map(v => (ts(30), v.toDouble)): _*)
      mem.addData((1 to 100).map(v => (ts(90), v + 1000.0)): _*)
      q.processAllAvailable()
      // two closer events: each advances the watermark so the prior
      // window can emit at the following trigger
      mem.addData((ts(150), 1.0)); q.processAllAvailable()
      mem.addData((ts(300), 1.0)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("psi_drift")
      .select($"window_start", $"n", $"psi", $"alert")
      .as[(java.sql.Timestamp, Long, Double, Boolean)].collect()
      .sortBy(_._1.getTime).toSeq
    // windows A and B plus the first closer event's own window
    assert(rows.size >= 2, s"both data windows must close and emit, got $rows")
    val (wa, wb) = (rows(0), rows(1))
    // same data as the reference → observed == reference share in
    // every bin (identical binning on both sides) → PSI exactly 0
    assert(wa._2 == 100L && wa._3 == 0.0 && !wa._4,
      s"in-distribution window must score PSI 0, got $wa")
    // everything lands in the top bin → strong shift, alert fires
    assert(wb._2 == 100L && wb._3 > 0.25 && wb._4,
      s"shifted window must alert, got $wb")
  }
}
