package graft

import java.nio.file.Files
import graft.operators.{Analytics, Events, Sketches}
import graft.sources.DeltaSource
import graft.streaming.{StreamingEvents, StreamingPipeline}
import org.apache.spark.sql.functions._

/** Streaming mirrors added in round 4: the CMS cell build, first-seen
  * daily users, and incremental SCD2 maintenance. Each is pinned to
  * its batch twin. */
class StreamingRound4Spec extends SparkSpec {
  import spark.implicits._

  test("streaming cms cells equal the batch sketch build") {
    val tmp = Files.createTempDirectory("graft_cms").toString
    val batch = Tables.events(spark, sf)
    batch.write.mode("overwrite").parquet(s"$tmp/in")
    val q = StreamingEvents.cmsCellsStream(
        StreamingEvents.eventsStream(spark, s"$tmp/in"))
      .writeStream.outputMode("complete").format("memory").queryName("cms").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("cms")
      .as[(Int, Long, Long)].collect().toSet
    // the batch build stage: same cells from the same events
    val batched = batch.select($"user_id".as("k"))
      .select($"k", explode(sequence(lit(0), lit(3))).as("r"))
      .select($"r", pmod(graft.functions.HashFunctions.md5Long($"r", $"k"), lit(64)).as("bucket"))
      .groupBy($"r", $"bucket").agg(count(lit(1)).as("c"))
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed == batched && streamed.nonEmpty)
    // the streaming state is drop-in input for the point-query API
    // (same `c` column — a mismatched name fails analysis here)
    val est = Sketches.cmsEstimate(spark.table("cms"),
        batch.select($"user_id").distinct().limit(3))
      .as[(Long, Long)].collect().toMap
    assert(est.size == 3 && est.values.forall(_ > 0L))
  }

  test("streaming first-seen users equal the batch daily news on ordered input") {
    val tmp = Files.createTempDirectory("graft_nu").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(s"$tmp/in")
    val q = StreamingEvents.newUsersByDayStream(
        StreamingEvents.eventsStream(spark, s"$tmp/in"))
      .writeStream.outputMode("complete").format("memory").queryName("nu").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("nu").as[(String, Long)].collect().toMap
    val batched = Events.cumulativeDistinctUsers(Tables.events(spark, sf))
      .select($"day", $"new_users").as[(String, Long)].collect().toMap
    assert(streamed == batched)
  }

  test("incremental scd2 equals the batch rebuild after two micro-batches") {
    val tmp = Files.createTempDirectory("graft_scd").toString
    val orders = Tables.orders(spark, sf)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_orderpriority")
    // batch 1: even orderkeys; batch 2: odd — customers overlap, so
    // batch 2 must REWRITE touched customers' histories correctly
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      Files.copy(part, java.nio.file.Paths.get(s"$tmp/in/$name.parquet"))
    }
    land(orders.where($"o_orderkey" % 2 === 0), "b1")
    def run(): Unit = {
      val q = StreamingPipeline.scd2Sink(
        spark.readStream.schema(orders.schema).parquet(s"$tmp/in"),
        s"$tmp/log", s"$tmp/dim", s"$tmp/cp").start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    run()
    land(orders.where($"o_orderkey" % 2 === 1), "b2")
    run()
    val dim = DeltaSource.readDelta(spark, s"$tmp/dim")
    val expect = Analytics.scd2Of(orders)
    assert(dim.count() == expect.count())
    assert(dim.exceptAll(expect).isEmpty && expect.exceptAll(dim).isEmpty)
    // and the v0 snapshot is exactly the batch-1-only build
    val v0 = DeltaSource.readDelta(spark, s"$tmp/dim", Some(0L))
    val expect0 = Analytics.scd2Of(orders.where($"o_orderkey" % 2 === 0))
    assert(v0.exceptAll(expect0).isEmpty && expect0.exceptAll(v0).isEmpty)
    // foreachBatch is at-least-once: redelivering an already-committed
    // batch must not duplicate log rows or change the dimension
    val logN = spark.read.parquet(s"$tmp/log").count()
    StreamingPipeline.scd2Batch(
      orders.where($"o_orderkey" % 2 === 1), 1L, s"$tmp/log", s"$tmp/dim")
    assert(spark.read.parquet(s"$tmp/log").count() == logN, "replay duplicated log rows")
    val dim2 = DeltaSource.readDelta(spark, s"$tmp/dim")
    assert(dim2.exceptAll(expect).isEmpty && expect.exceptAll(dim2).isEmpty)
  }
}
