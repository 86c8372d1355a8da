package graft

import graft.functions.TextFunctions._
import graft.operators._
import org.apache.spark.sql.functions._

/** Specs for the round-2 curation operators: BM25 ranking, gopher
  * filtering, PII scrubbing, decontamination, hash sampling, range
  * banding, anomaly detection, cluster assignment. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("bm25 ranks the doc with more query-term occurrences higher") {
    val docs = Seq(
      (1L, "spark join spark join spark"),
      (2L, "spark other words here now"),
      (3L, "nothing relevant at all here")).toDF("doc_id", "text")
    val got = Ranking.bm25TopK(docs, Seq("spark", "join"), topK = 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L)) // doc 3 scores nothing
    assert(got(0)._2 > got(1)._2)
  }

  test("gopher filter drops short docs and keeps long prose") {
    val long = (1 to 60).map(i => s"word$i").mkString(" ") + " the a of to"
    val docs = Seq((1L, "too short"), (2L, long)).toDF("doc_id", "text")
    val keep = Quality.gopherFilter(docs).select($"doc_id", $"keep")
      .as[(Long, Long)].collect().toMap
    assert(keep(1L) == 0L && keep(2L) == 1L)
  }

  test("pii scrub redacts emails and phones, counts match") {
    val docs = Seq((1L, "mail me at jo.doe+x@site.org or call +1 555-123-4567 ok"))
      .toDF("doc_id", "text")
    val row = docs.select(piiScrub($"text").as("s"),
        piiEmailCount($"text").as("e"), piiPhoneCount($"text").as("p"))
      .as[(String, Long, Long)].head()
    assert(row._1 == "mail me at <EMAIL> or call <PHONE> ok")
    assert(row._2 == 1L && row._3 == 1L)
  }

  test("decontamination flags the doc sharing a 5-gram with the benchmark") {
    val bench = "alpha beta gamma delta epsilon zeta"
    val contaminated = "intro words then alpha beta gamma delta epsilon end"
    val clean = "totally different content with many other tokens inside"
    val docs = Seq((0L, bench), (25L, contaminated), (30L, clean)).toDF("doc_id", "text")
    val got = Decontam.flagContaminated(docs, benchmarkMaxId = 20)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((25L, 1L))) // "alpha beta gamma delta epsilon" is shared
  }

  test("hash sampling is deterministic and roughly proportional") {
    val docs = spark.range(1000).select($"id".as("doc_id"))
    val a = Sampling.hashSample(docs, 20).count()
    val b = Sampling.hashSample(docs, 20).count()
    assert(a == b && a > 120 && a < 280)
    assert(Sampling.uniformN(docs, 50).count() == 50)
  }

  test("value bands partition all events exactly once") {
    val bands = Analytics.valueBands(spark, sf)
    val total = bands.agg(sum($"n_events")).as[Long].head()
    assert(total == Tables.events(spark, sf).count())
  }

  test("anomalies are symmetric-tail outliers with |z| > 3") {
    val out = Events.anomalies(Tables.events(spark, sf))
    val zs = out.select($"z").as[Double].collect()
    assert(zs.nonEmpty && zs.forall(z => math.abs(z) > 3.0))
  }

  test("near-dup clustering assigns the component minimum as representative") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (5L, 1L), (7L, 7L), (9L, 7L)))
  }

  test("near-dup clustering converges on a chain (diameter > 1)") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val labels = Dedup.nearDupClusters(chain).select($"cluster_id").as[Long].collect().toSet
    assert(labels == Set(1L))
  }

  test("near-dup clustering holds ids near Long.MaxValue / 2") {
    // five labels of ~4.6e18 overflow a sum under ANSI
    val b = Long.MaxValue / 2
    val pairs = Seq((b + 1, b + 2), (b + 2, b + 5), (b + 7, b + 9)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toSeq
    assert(got == Seq((b + 1, b + 1), (b + 2, b + 1), (b + 5, b + 1), (b + 7, b + 7), (b + 9, b + 7)))
  }

  test("near-dup clustering equals the SQL reference in rows, order and schema") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types._
    // seeded random graphs: repeated, reversed and self pairs included
    def graph(s: org.apache.spark.sql.SparkSession, seed: Int, nullable: Boolean): DataFrame = {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(rnd.nextInt(60))(
        org.apache.spark.sql.Row(rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      val schema = StructType(Seq(StructField("id_a", LongType, nullable),
        StructField("id_b", LongType, nullable)))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
    def same(label: String, pairs: DataFrame): Unit = {
      val want = NearDupReference.nearDupClusters(pairs)
      val got = Dedup.nearDupClusters(pairs)
      assert(got.schema == want.schema, s"$label: ${got.schema} vs ${want.schema}")
      assert(got.collect().toSeq == want.collect().toSeq, label)
    }
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.shuffle.partitions", "1")
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "67")
    (1 to 3).foreach { seed =>
      val nullable = seed % 2 == 0
      same(s"seed $seed", graph(spark, seed, nullable))
      same(s"seed $seed repartition(7)", graph(spark, seed, nullable).repartition(7))
      same(s"seed $seed int ids", graph(spark, seed, nullable)
        .select($"id_a".cast("int").as("id_a"), $"id_b".cast("int").as("id_b")))
      same(s"seed $seed shuffle.partitions=1", graph(narrow, seed, nullable))
      same(s"seed $seed shuffle.partitions=67", graph(wide, seed, nullable))
    }
    // the pair pipeline itself, read from parquet (nullable ids)
    same("minhash pairs", Dedup.minhashLshPairs(Tables.documents(spark, sf)))
  }

  test("near-dup clustering runs at most rounds + 3 Spark jobs") {
    // a chain whose minimum sits at one end: node 5 is 4 hops from
    // label 1, so 4 rounds change labels and a 5th confirms the fixpoint
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val rounds = 5
    var got = Seq.empty[(Long, Long)]
    val jobs = SparkJobs.countIn(spark) {
      got = Dedup.nearDupClusters(chain).as[(Long, Long)].collect().toSeq
    }
    assert(got == (1L to 5L).map(_ -> 1L))
    assert(jobs <= rounds + 3, s"$jobs jobs for $rounds rounds")
  }

  test("near-dup clustering leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a 20-node chain runs 20 rounds: two of them local-checkpoint
    val chain = (1L until 20L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(chain).as[(Long, Long)].collect().toSeq
    assert(got == (1L to 20L).map(_ -> 1L))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("sequence packing conserves tokens and respects block budget") {
    val chunks = Medallion.pipeline(Tables.documents(spark, sf))
    val packed = Chunker.packSequences(chunks)
    val packedTokens = packed.agg(sum($"n_tokens")).as[Long].head()
    val directTokens = chunks.select(tokenCount($"chunk").as("t"))
      .agg(sum($"t")).as[Long].head()
    assert(packedTokens == directTokens)
    // every block except possibly the last per source holds ≥ 512 tokens
    // minus at most one chunk's worth of spill; block ids are dense from 0
    val bySource = packed.select($"source", $"block_id").as[(String, Long)]
      .collect().groupBy(_._1).values
    bySource.foreach { blocks =>
      val ids = blocks.map(_._2).sorted.toSeq
      assert(ids == (0L until ids.length.toLong))
    }
  }

  test("split assignment is exhaustive and deterministic") {
    val docs = Tables.documents(spark, sf)
    val a = Sampling.splitAssign(docs).groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(a.keySet == Set("train", "val", "test"))
    assert(a.values.sum == docs.count())
    assert(a("train") > a("val") && a("train") > a("test"))
  }

  test("lloyd update emits one centroid value per (cell, dim)") {
    val up = Similarity.lloydUpdate(Tables.embeddings(spark, sf))
    val rows = up.as[(Long, Long, Double)].collect()
    assert(rows.length == 16 * 64)
    assert(rows.forall { case (_, _, c) => !c.isNaN && math.abs(c) < 10 })
    // a fitted centroid is a true mean: dims covered exactly 1..64 per cell
    val dims = rows.groupBy(_._1).values.map(_.map(_._2).sorted.toSeq)
    assert(dims.forall(_ == (1L to 64L)))
  }

  test("tfidf top terms are ranked descending within each doc") {
    val tt = Ranking.tfidfTopTerms(Tables.documents(spark, sf))
    val byDoc = tt.as[(Long, Long, String, Double)].collect().groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length.toLong))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 > b._4 || (a._4 == b._4 && a._3 < b._3)
        case _ => true
      })
    }
  }

  test("duplicate rows returns every copy of duplicated content") {
    val docs = Seq((1L, "x", "a"), (2L, "x", "a"), (3L, "y", "b"))
      .toDF("doc_id", "text", "source")
    val got = Quality.duplicateRows(docs)
      .select($"doc_id", $"n_copies").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 2L)))
  }

  test("funnel stages shrink monotonically") {
    val (v, c, p) = Events.funnel(Tables.events(spark, sf))
      .as[(Long, Long, Long)].head()
    assert(v >= c && c >= p && v > 0)
  }

  test("retention day-0 covers every cohort user exactly once") {
    val ret = Events.retention(Tables.events(spark, sf))
    val day0 = ret.where($"day_off" === 0L).agg(sum($"n_users")).as[Long].head()
    val users = Tables.events(spark, sf).select($"user_id").distinct().count()
    assert(day0 == users) // first-seen day is day 0 for every user
  }

  test("fitted centroids are complete, normalized-length vectors") {
    val cents = Similarity.fittedCentroids(Tables.embeddings(spark, sf))
      .select($"cell", size($"cv").as("d"), $"cnrm")
      .as[(Long, Int, Double)].collect().toSeq
    assert(cents.map(_._1).sorted == (0L until 16L))
    assert(cents.forall(_._2 == 64))
    assert(cents.forall(c => c._3 > 0 && !c._3.isNaN))
  }

  test("trained IVF returns a full ranked top-k per query") {
    val got = Similarity.ivfTopKFitted(Tables.embeddings(spark, sf))
      .select($"query_id", $"rank").as[(Long, Long)].collect().toSeq
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach(rs => assert(rs.map(_._2).sorted.toSeq == (1L to 10L)))
  }

  test("cluster assignment covers every vector exactly once") {
    val emb = Tables.embeddings(spark, sf)
    val sizes = Similarity.clusterSizes(emb)
    assert(sizes.agg(sum($"n_members")).as[Long].head() == emb.count())
    assert(sizes.select($"cell").as[Long].collect().toSet.subsetOf((0L until 16L).toSet))
  }
}
