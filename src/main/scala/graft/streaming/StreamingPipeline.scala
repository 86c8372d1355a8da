package graft.streaming

import graft.operators.{Chunker, Medallion}
import graft.sources.DeltaSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Streaming medallion: the reference's batch DAG run continuously.
  * Bronze cleanup, silver normalization and gold chunking are all
  * stateless (map-only), so they lift to Structured Streaming
  * unchanged; only the cross-row dedup step needs the stateful
  * path (dropDuplicates within the watermark).
  */
object StreamingPipeline {

  /** Raw-zone JSON stream → silver chunks, as one declarative plan. */
  def rawToGold(spark: SparkSession, rawDir: String,
                minContentLength: Int = 50): DataFrame = {
    val raw = spark.readStream
      .schema(graft.sources.Sources.RawPageSchema)
      .json(rawDir)
    val silver = Medallion.silverNormalize(
      Medallion.bronze(raw, "content"), minContentLength)
    Chunker.fixedStride(silver, "content")
  }

  /** Continuous embedding inference — the reference's Embeddings
    * stage run as a stream: each micro-batch of gold chunks drives
    * the pluggable `TextEncoder` through the SAME one-pass
    * mapPartitions batch shape as the batch operator (map-only, so
    * it lifts to Structured Streaming unchanged), and the vectors
    * land in a Delta embedding zone through the exactly-once
    * graft-delta sink — a crash-replayed micro-batch commits once.
    * Start with `.start(zonePath)`. Downstream, each committed batch
    * can maintain the serving index via
    * `AnnIndex.appendIncremental(batch, dir, incrementId = batchId)`
    * — chunks → embeddings → ANN index, continuously, with no
    * rebuild anywhere. */
  def embedToZone(chunks: DataFrame, encoder: graft.operators.TextEncoder,
                  textCol: String, keyCols: Seq[String],
                  checkpointDir: String, batchSize: Int = 64): DataStreamWriter[Row] =
    graft.operators.Embedder.embed(chunks, textCol, keyCols, encoder, batchSize)
      .writeStream
      .format("graft-delta")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  /** Continuous write into the lakehouse gold zone. */
  def sinkParquet(gold: DataFrame, outDir: String, checkpointDir: String): DataStreamWriter[Row] =
    gold.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  /** Stream enriched against a Delta zone's LATEST committed
    * snapshot, re-resolved per micro-batch. A plain stream-static
    * join pins the files it saw at planning time — later commits are
    * invisible to it — so the re-resolution happens in foreachBatch,
    * where each batch freshly replays the log. The dimension snapshot
    * broadcasts (it's the small side by contract); rows with no match
    * keep NULL enrichment (left join) rather than silently dropping. */
  def enrichFromLatestSnapshot(stream: DataFrame, zonePath: String,
                               checkpointDir: String, key: String,
                               enrichCols: Seq[String])
                              (out: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.{broadcast, col}
        val spark = batch.sparkSession
        val dim = DeltaSource.readDelta(spark, zonePath)
          .select((key +: enrichCols).map(col).toIndexedSeq: _*)
        out(batch.join(broadcast(dim), Seq(key), "left"), batchId)
        ()
      }

  /** Incremental SCD2 maintenance — the streaming form of
    * `Analytics.scd2Priority`: each order micro-batch appends to the
    * durable order log, then ONLY the touched customers' dimension
    * histories are rebuilt from the log and merged over the previous
    * snapshot (untouched customers carry over untouched). The merged
    * dimension lands as a new commit of the Delta zone, so every
    * historical dimension state stays time-travelable. Work
    * per batch is O(touched customers' orders), not O(log) — the
    * incremental-view-maintenance contract; a batch rebuild over the
    * full log gives bit-identical rows (spec-pinned). */
  def scd2Sink(orders: DataFrame, logPath: String, dimPath: String,
               checkpointDir: String): DataStreamWriter[Row] =
    orders.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scd2Batch(batch, batchId, logPath, dimPath)
      }

  /** One SCD2 micro-batch, idempotent per `batchId`: foreachBatch is
    * at-least-once, so the durable log append lands in a
    * batchId-keyed partition directory written with overwrite — a
    * replayed batch rewrites its own partition instead of appending
    * duplicate order rows (which would permanently inflate counts
    * and corrupt version segmentation in every later rebuild). The
    * dimension re-merge is naturally idempotent (same log prefix →
    * same rebuilt rows; the extra Delta version carries identical
    * content). */
  def scd2Batch(batch: DataFrame, batchId: Long, logPath: String, dimPath: String): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    batch.write.mode("overwrite").parquet(s"$logPath/batch_id=$batchId")
    val touched = batch.select(col("o_custkey")).distinct()
    val rebuilt = graft.operators.Analytics.scd2Of(
      spark.read.parquet(logPath).drop("batch_id").join(touched, "o_custkey"))
    val merged = DeltaSource.latestVersion(spark, dimPath) match {
      case Some(_) =>
        DeltaSource.readDelta(spark, dimPath)
          .join(touched.withColumnRenamed("o_custkey", "custkey"),
            Seq("custkey"), "left_anti")
          .unionByName(rebuilt)
      case None => rebuilt
    }
    DeltaSource.writeDelta(merged, dimPath)
    ()
  }

  /** Streaming MERGE sink: each micro-batch upserts into the Delta
    * table at `path` by `key` — continuous CDC ingest with one
    * commit per batch, so every prior state stays time-travelable.
    * The first batch creates the table as version 0.
    *
    * A CDC micro-batch can carry several rows for one key (two rapid
    * updates coalesced into one trigger); `mergeDelta`'s contract is
    * one update row per key, so each batch is first reduced to its
    * winning row — latest by `orderCol` when given, ties (and the
    * no-orderCol case) broken by a full-row hash so the survivor is
    * deterministic across retries rather than partition-order luck. */
  def upsertSink(stream: DataFrame, path: String, checkpointDir: String,
                 key: String = "doc_id", orderCol: Option[String] = None)
      : DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number, xxhash64}
        val spark = batch.sparkSession
        val tiebreak = xxhash64(batch.columns.map(col).toIndexedSeq: _*)
        val ord = orderCol.map(c => col(c).desc_nulls_last).toSeq :+ tiebreak.desc
        val w = Window.partitionBy(col(key)).orderBy(ord: _*)
        val deduped = batch.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
        if (DeltaSource.latestVersion(spark, path).isEmpty) DeltaSource.writeDelta(deduped, path)
        else DeltaSource.mergeDelta(spark, path, deduped, Seq(key))
        ()
      }
}
