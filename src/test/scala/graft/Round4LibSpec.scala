package graft

import graft.operators.Analytics
import graft.sources.{DeltaSource, Sources}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Round-4 library surfaces: bin-packed compaction, per-batch
  * snapshot re-resolution, and cost-estimate audits next to the
  * plan-shape guards. */
class Round4LibSpec extends SparkSpec {
  import spark.implicits._

  test("bin-packed compaction keeps big files byte-for-byte and repacks the small tail") {
    val tmp = Files.createTempDirectory("graft_binpack").toString
    val zone = s"$tmp/zone"
    // one big file + ten tiny ones in the same directory
    (1 to 5000).map(i => (i.toLong, s"row $i body text")).toDF("id", "body")
      .coalesce(1).write.mode("overwrite").parquet(zone)
    (5001 to 5050).map(i => (i.toLong, s"row $i body text")).toDF("id", "body")
      .repartition(10).write.mode("append").parquet(zone)
    val sizes = new java.io.File(zone).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sorted
    assert(sizes.length == 11)
    val cut = (sizes.init.max + sizes.last) / 2 // between tail and big
    val stats = Sources.compactZoneBinPacked(spark, zone, s"$tmp/out",
      targetBytes = 1L << 30, keepBytes = cut)
    assert(stats == Sources.CompactStats(nKept = 1, nRewritten = 10, nBins = 1))
    val outFiles = new java.io.File(s"$tmp/out").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(outFiles.length == 2, "one kept + one bin expected")
    assert(outFiles.count(_.getName.startsWith("keep-")) == 1)
    // data round-trips exactly
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 5050)
    assert(back.agg(sum($"id")).as[Long].head() == (1L to 5050L).sum)
  }

  test("streaming enrich re-resolves the latest snapshot every micro-batch") {
    val tmp = Files.createTempDirectory("graft_enrich").toString
    val zone = s"$tmp/zone"
    DeltaSource.writeDelta(Seq((7L, "v0-name")).toDF("user_id", "name"), zone)

    def land(ids: Seq[Long], name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      ids.toDF("user_id").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
      Files.copy(part, java.nio.file.Paths.get(s"$tmp/in/$name.parquet"))
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def runOnce(): Unit = {
      val st = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .parquet(s"$tmp/in")
      val q = graft.streaming.StreamingPipeline
        .enrichFromLatestSnapshot(st, zone, s"$tmp/ckpt", "user_id", Seq("name")) {
          (df, _) => seen ++= df.select($"user_id", $"name")
            .as[(Long, String)].collect()
        }.start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    land(Seq(7L), "b1"); runOnce()
    DeltaSource.writeDelta(Seq((7L, "v1-name")).toDF("user_id", "name"), zone)
    land(Seq(7L), "b2"); runOnce()
    assert(seen.toList == List((7L, "v0-name"), (7L, "v1-name")),
      "second batch must see the new snapshot version")
  }

  test("cost estimates justify every broadcast in the q5 star join") {
    val thresh = spark.sessionState.conf.autoBroadcastJoinThreshold
    val dims = Seq("region", "nation", "customer", "supplier", "part")
    dims.foreach { t =>
      val est = spark.read.parquet(s"$sf/$t.parquet")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est < thresh, s"$t estimate $est not under broadcast threshold $thresh")
    }
    val fact = Tables.lineitem(spark, sf).queryExecution.optimizedPlan.stats.sizeInBytes
    val dimMax = dims.map(t => spark.read.parquet(s"$sf/$t.parquet")
      .queryExecution.optimizedPlan.stats.sizeInBytes).max
    assert(fact > dimMax, "fact table should dominate every dimension estimate")
    // the optimizer's EXPLAIN COST carries stats for the audit trail
    val withStats = Analytics.regionVolume(spark, sf)
      .queryExecution.stringWithStats
    assert(withStats.contains("Statistics(sizeInBytes"))
  }
}
