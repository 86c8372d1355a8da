package graft

import java.nio.file.Files

import graft.operators.Similarity
import graft.sources.GraphAnnIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming × incremental graph maintenance: a foreachBatch sink
  * feeding [[GraphAnnIndex.appendIncremental]] with the BATCH ID as
  * the increment id gets exactly-once index growth for free — the
  * applied-increments chain in meta is the same idempotence ledger a
  * Delta `txn` action provides, so a restarted stream that replays
  * its last batch (the foreachBatch at-least-once contract) appends
  * it once. The grown index serves bit-identically to a from-scratch
  * rebuild at the frozen hash. */
class GraphAnnStreamSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("streamed increments grow the index exactly once, to rebuild parity") {
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val base = emb.where(col("vec_id") < n / 2)
    val dir = Files.createTempDirectory("gix_stream").toString + "/ix"
    GraphAnnIndex.buildAndSave(base, dir, nbits = bits)

    // feed the remaining vectors through a real micro-batch stream:
    // rate source drives batch scheduling; each batch appends a
    // DISJOINT deterministic slice keyed by batch id
    val half = n / 2
    val quarter = (n - half) / 2
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", "1000").load()
    val q = src.writeStream
      .option("checkpointLocation", Files.createTempDirectory("gix_ckpt").toString)
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, id: Long) =>
        val slice = id match {
          case 0 => Some(emb.where(col("vec_id") >= half &&
            col("vec_id") < half + quarter))
          case 1 => Some(emb.where(col("vec_id") >= half + quarter))
          case _ => None
        }
        slice.foreach { s =>
          GraphAnnIndex.appendIncremental(s, dir, incrementId = Some(s"batch-$id"))
          // the at-least-once replay: a second call with the SAME
          // batch id must be a no-op (meta's applied chain)
          assert(!GraphAnnIndex.appendIncremental(s, dir,
            incrementId = Some(s"batch-$id")))
        }
        ()
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      // the poll races the maintainer's meta commits: every read must
      // see one whole generation
      def applied(): Int = GraphAnnIndex.readMeta(spark, dir).appliedFps.size
      while (System.currentTimeMillis() < deadline && applied() < 2)
        Thread.sleep(200)
    } finally { q.stop(); q.awaitTermination(30000) }
    assert(GraphAnnIndex.readMeta(spark, dir).appliedFps ==
      Seq("batch-0", "batch-1"))

    // grown-index serving == full rebuild at the frozen hash
    val served = GraphAnnIndex.searchSelf(spark, dir)
    val fused = GraphWalkReference.graphTopK(emb, nbits = bits)
    assert(served.collect().map(_.toString).toSeq ==
      fused.collect().map(_.toString).toSeq)
  }

  test("a reader racing the meta commit never fails, and a torn commit stays readable") {
    val n = emb.count()
    val dir = Files.createTempDirectory("gix_meta").toString + "/ix"
    GraphAnnIndex.buildAndSave(emb.where(col("vec_id") < n / 2), dir)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    var failure = Option.empty[Throwable]
    val reader = new Thread(() =>
      try while (!stop.get()) seen.add(GraphAnnIndex.readMeta(spark, dir).appliedFps.size)
      catch { case e: Throwable => failure = Some(e) })
    reader.start()
    try GraphAnnIndex.appendIncremental(emb.where(col("vec_id") >= n / 2 && col("vec_id") < 3 * n / 4),
      dir, incrementId = Some("inc-1"))
    finally { stop.set(true); reader.join(60000) }
    assert(failure.isEmpty, s"a racing read failed: $failure")
    assert(!seen.isEmpty && seen.stream().allMatch(g => g == 0 || g == 1), s"generations $seen")

    // a crash between the commit's two steps: the new meta is written
    // and the old one is still beside it
    val meta = new java.io.File(dir, "meta")
    def parts = meta.listFiles().filter(_.getName.startsWith("part-"))
    val gen1 = parts.map(f => f -> Files.readAllBytes(f.toPath))
    GraphAnnIndex.appendIncremental(emb.where(col("vec_id") >= 3 * n / 4),
      dir, incrementId = Some("inc-2"))
    gen1.foreach { case (f, bytes) => Files.write(f.toPath, bytes) }
    assert(parts.length == 2)
    assert(GraphAnnIndex.readMeta(spark, dir).appliedFps == Seq("inc-1", "inc-2"))
    assert(GraphAnnIndex.searchSelf(spark, dir).count() > 0)
  }
}
