package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.operators.{Bpe, Curation, Dedup, Glove, Medallion}
import graft.sources.{DeltaSource, GraphAnnIndex, Sources}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What an operation's output check found. `recall` is the share of
  * the reference answer the op returned (1.0 where the check is
  * pass/fail). */
final case class Outcome(error: Option[String], recall: Double = 1.0)

/** One benchmark workload. `prepare` generates the inputs under a
  * fresh directory and builds whatever the ops serve from; `op` runs
  * one operation and returns its output check, which the harness runs
  * outside the timed window. */
trait Workload {
  def prepare(dir: String): Unit
  def op(i: Int): () => Outcome
  /** Spans whose every op must have run Spark jobs. */
  def mustRunJobs: Seq[String] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, tr: Tracer, seed: Long): Workload = name match {
    case "lakehouse_ingest" => new LakehouseIngest(spark, tr, seed)
    case "rag_serve" => new RagServe(spark, tr, seed)
    case "curate_train" => new CurateTrain(spark, tr, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def expect(failures: Seq[(Boolean, String)]): Option[String] =
    failures.collectFirst { case (false, why) => why }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
}

import Workload.expect

/** Writes: raw JSON → bronze → silver → gold Delta tables, a MERGE of
  * an update batch into silver, and gold read back. */
final class LakehouseIngest(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  private val NPages = 1500
  private val NFiles = 32
  private val MinLen = 50
  private val ChunkSize = 200
  private val Overlap = 10

  private var dir: String = _
  private var updates: Seq[Row] = Nil
  private var ref: Gen.MedallionRef = _

  private val updateSchema = StructType(Seq(
    StructField("url", StringType), StructField("title", StringType),
    StructField("content", StringType), StructField("author", StringType),
    StructField("date", StringType), StructField("source", StringType),
    StructField("content_length", LongType)))

  def prepare(d: String): Unit = {
    dir = d
    val ps = Gen.pages(seed, NPages, 600)
    Files.createDirectories(Paths.get(s"$d/raw"))
    ps.zipWithIndex.groupBy(_._2 % NFiles).foreach { case (f, part) =>
      Files.write(Paths.get(f"$d/raw/part-$f%02d.json"),
        part.map(p => Gen.json(p._1)).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    // the update batch: 8% of the silver rows get new content, 2% are new urls
    val r = new java.util.Random(seed * 1000003L + 71)
    val silverUrls = Gen.silver(ps, MinLen).map(_._2).sorted
    val changed = silverUrls.filter(_ => r.nextInt(100) < 8)
    val inserted = (0 until silverUrls.size / 50).map(i => f"https://update.example/p/$i%06d")
    val upd = (changed ++ inserted).map { u =>
      Gen.Page(u, "updated", Gen.normalize(Gen.content(r, 400)), "editor", "2025-01-01")
    }
    updates = upd.map(p => Row(p.url, p.title, p.content, p.author, p.date, "update",
      p.content.length.toLong))
    ref = Gen.medallionRef(ps, upd, MinLen, ChunkSize, Overlap)
  }

  def op(i: Int): () => Outcome = {
    val t = s"$dir/tables/op$i"
    val (bronze, silver, gold) = (s"$t/bronze", s"$t/silver", s"$t/gold")
    tr.span("medallion.bronze", i) { _ =>
      DeltaSource.writeDelta(
        Medallion.bronze(Sources.rawJsonIngest(spark, s"$dir/raw"), "content"), bronze)
    }
    val silverV0 = tr.span("medallion.silver", i) { _ =>
      DeltaSource.writeDelta(Medallion.silverDedup(
        Medallion.silverNormalize(DeltaSource.readDelta(spark, bronze), MinLen),
        "content", "url"), silver)
    }
    tr.span("medallion.gold", i) { _ =>
      DeltaSource.writeDelta(
        Medallion.gold(DeltaSource.readDelta(spark, silver), ChunkSize, Overlap), gold)
    }
    tr.span("delta.merge", i) { _ =>
      DeltaSource.mergeDelta(spark, silver,
        spark.createDataFrame(java.util.Arrays.asList(updates: _*), updateSchema), Seq("url"))
    }
    val goldRead = tr.span("delta.read", i) { s =>
      val df = DeltaSource.readDelta(spark, gold)
      s.returned()
      df.agg(count(lit(1)), sum(col("chunk_length"))).head()
    }
    () => {
      def countOf(v: Option[Long], path: String) =
        DeltaSource.readDelta(spark, path, v).count()
      val merged = DeltaSource.readDelta(spark, silver)
        .agg(count(lit(1)), sum(col("content_length"))).head()
      val got = Outcome(expect(Seq(
        (countOf(None, bronze) == ref.bronze, s"bronze rows != ${ref.bronze}"),
        (countOf(Some(silverV0), silver) == ref.silver, s"silver rows != ${ref.silver}"),
        (goldRead.getLong(0) == ref.gold, s"gold rows ${goldRead.getLong(0)} != ${ref.gold}"),
        (goldRead.getLong(1) == ref.chunkChars,
          s"gold chunk chars ${goldRead.getLong(1)} != ${ref.chunkChars}"),
        (merged.getLong(0) == ref.silverMerged, s"merged silver rows != ${ref.silverMerged}"),
        (merged.getLong(1) == ref.silverMergedChars, "merged silver content length differs"))))
      Workload.deleteTree(t)
      got
    }
  }
}

/** Reads: one client sends requests of 8 query vectors; each request
  * is a graph-index top-10 search, then a Delta fetch of the hits'
  * chunk text. */
final class RagServe(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  private val NVectors = 1000
  private val Dim = 64
  private val Clusters = 8
  private val QueriesPerOp = 8
  private val K = 10
  /** Query ids sit above every node id: the search never returns a
    * node whose id equals its query's. */
  private val QueryIdBase = 1000000000L

  private var dir: String = _
  private var vs: Array[Array[Float]] = _
  private var norms: Array[Double] = _
  private var centres: Array[Array[Double]] = _

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private val querySchema = StructType(Seq(StructField("query_id", LongType),
    StructField("qv", ArrayType(FloatType, containsNull = false))))

  private def rows(vectors: Array[Array[Float]], base: Long): java.util.List[Row] =
    java.util.Arrays.asList(vectors.zipWithIndex.map { case (v, i) =>
      Row(base + i, v.toSeq)
    }: _*)

  def prepare(d: String): Unit = {
    dir = d
    val (v, c) = Gen.vectors(seed, NVectors, Dim, Clusters)
    vs = v
    centres = c
    norms = Gen.norms(vs)
    spark.createDataFrame(rows(vs, 0L), vecSchema).repartition(4)
      .write.parquet(s"$d/embeddings")
    val chunks = (0 until NVectors).map(i => (i.toLong, Gen.chunkText(i.toLong)))
    DeltaSource.writeDelta(
      spark.createDataFrame(chunks).toDF("chunk_id", "chunk").repartition(4), s"$d/chunks")
    tr.span("graph.build", Tracer.SetupOp) { _ =>
      GraphAnnIndex.buildAndSave(spark.read.parquet(s"$d/embeddings"), s"$d/index")
    }
  }

  def op(i: Int): () => Outcome = {
    val qs = Gen.queries(seed, i, QueriesPerOp, centres)
    val hits = tr.span("graph.search", i) { s =>
      val df = GraphAnnIndex.search(spark, s"$dir/index",
        spark.createDataFrame(rows(qs, QueryIdBase), querySchema), k = K)
      s.returned()
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val ids = hits.map(_._2).distinct
    val fetched = tr.span("delta.fetch", i) { s =>
      val df = DeltaSource.readDelta(spark, s"$dir/chunks")
        .where(col("chunk_id").isin(ids.toIndexedSeq: _*))
      s.returned()
      df.select(col("chunk_id"), col("chunk")).collect().map(r => (r.getLong(0), r.getString(1)))
    }
    () => {
      val byQuery = hits.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val recalls = qs.indices.map { j =>
        val exact = Gen.exactTopK(qs(j), vs, norms, K).toSet
        byQuery.getOrElse(QueryIdBase + j, Array.empty[Long]).count(exact).toDouble / K
      }
      Outcome(expect(Seq(
        (byQuery.size == qs.length, s"answers for ${byQuery.size} of ${qs.length} queries"),
        (byQuery.values.forall(h => h.length == K && h.distinct.length == K),
          s"a query did not get $K distinct hits"),
        (fetched.length == ids.length, s"fetched ${fetched.length} of ${ids.length} chunks"),
        (fetched.forall { case (id, text) => text == Gen.chunkText(id) }, "wrong chunk text"))),
        recalls.sum / recalls.size)
    }
  }
}

/** Compute and driver loops: curation funnel, MinHash near-dup
  * clusters, BPE and GloVe training at reduced model sizes, each on the
  * op's own seeded 90% sample of a documents shard. */
final class CurateTrain(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  private val NDocs = 200
  private val BpeMerges = 32
  private val GloveV = 128
  private val GloveDim = 8

  private var docsPath: String = _
  private var dupOf: Map[Long, Long] = Map.empty

  override def mustRunJobs: Seq[String] = Seq("bpe.train", "glove.train")

  def prepare(d: String): Unit = {
    val (docs, dups) = Gen.docs(seed, NDocs)
    dupOf = dups
    docsPath = s"$d/documents"
    spark.createDataFrame(docs.map(x => (x.id, x.text, x.lang, x.source, x.text.length.toLong)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.parquet(docsPath)
  }

  def op(i: Int): () => Outcome = {
    val ids = Gen.sample(seed, i, NDocs)
    val docs = spark.read.parquet(docsPath).where(col("doc_id").isin(ids.toSeq.sorted: _*))
    val funnel = tr.span("curation.funnel", i) { s =>
      val df = Curation.funnel(docs)
      s.returned()
      df.collect().map(r => r.getLong(2))
    }
    val clusters = tr.span("dedup.minhash", i) { s =>
      val df = Dedup.nearDupClusters(Dedup.minhashLshPairs(docs))
      s.returned()
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val merges = tr.span("bpe.train", i) { s =>
      val df = Bpe.bpeTrain(docs, BpeMerges, "text", Bpe.ScaledMaxGram)
      s.returned()
      df.collect().length
    }
    val (losses, weights) = tr.span("glove.train", i) { s =>
      val t = Glove.train(docs, GloveV, Glove.ScaledWindow, GloveDim,
        Glove.ScaledSteps, Glove.Lr, "text", Glove.ScaledMaxGram, Glove.ScaledTermScale)
      s.returned()
      (t.losses, t.w.collect().length)
    }
    () => {
      val dups = dupOf.filter { case (a, b) => ids(a) && ids(b) }
      Outcome(expect(Seq(
        (funnel.length == 5 && funnel.head == ids.size,
          s"funnel ${funnel.mkString(",")} does not start at ${ids.size} docs"),
        (funnel.sliding(2).forall(p => p(0) >= p(1)), "funnel stages increase"),
        (dups.forall { case (a, b) => clusters.contains(a) && clusters.get(a) == clusters.get(b) },
          "an exact duplicate pair is not in one cluster"),
        (merges == BpeMerges, s"$merges BPE merges, not $BpeMerges"),
        (losses.length == Glove.ScaledSteps && losses.sliding(2).forall(p => p(1) < p(0)),
          s"GloVe losses ${losses.mkString(",")} do not decrease"),
        (weights > 0 && weights % GloveDim == 0, s"$weights GloVe weights"))))
    }
  }
}
