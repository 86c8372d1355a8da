package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Graph ANN (NSW-style small world): deterministic construction,
  * partition invariance, navigability, and the scale shape (edge
  * list O(n·(m+2)), search cost independent of corpus size). */
class GraphAnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("edges are deterministic and partition-invariant") {
    val one = Similarity.graphEdges(emb.coalesce(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val many = Similarity.graphEdges(emb.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == many && one.nonEmpty)
  }

  test("edge list carries the tree backbone and bounded-degree local links") {
    val edges = Similarity.graphEdges(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = emb.count()
    // every node above 0 reaches its tree parent both ways
    (1L until math.min(n, 50L)).foreach { u =>
      assert(edges.contains((u, u / 2)) && edges.contains((u / 2, u)))
    }
    // degree is bounded: ≤ m local out-links + m reverses' worst case
    // is unbounded in-degree, but out-degree per src stays small
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size)
    assert(outDeg.values.max <= 8 /*m*/ * 5 + 3,
      "out-degree should stay O(m + tree links)")
  }

  // ---- persisted index: the build/serve split ----

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"gix_$tag").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  test("persisted search is bit-identical to the fused in-memory path") {
    val dir = tmpDir("roundtrip")
    graft.sources.GraphAnnIndex.buildAndSave(emb, dir)
    val served = graft.sources.GraphAnnIndex.searchSelf(spark, dir, nQueries = 5, k = 10)
    val fused = GraphWalkReference.graphTopK(emb, nQueries = 5, k = 10)
    assert(served.collect().map(_.toString).toSeq ==
      fused.collect().map(_.toString).toSeq)
  }

  test("the distributed-frontier branch is hash-identical to the driver-side walk") {
    val dir = tmpDir("distfrontier")
    graft.sources.GraphAnnIndex.ensureBuilt(emb, dir)
    // maxDriverFrontier = 0 forces the localCheckpointed-frontier
    // branch (the one that serves when nq·beam outgrows the driver);
    // branch choice is an execution-strategy swap, never a result
    // change — also for PQ serving and under a candidate filter
    val drv = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
    val dist = graft.sources.GraphAnnIndex.searchSelf(spark, dir, maxDriverFrontier = 0)
    assert(drv.collect().map(_.toString).toSeq ==
      dist.collect().map(_.toString).toSeq)
    def q = spark.read.parquet(s"$dir/entries")
      .select(org.apache.spark.sql.functions.col("id").cast("long").as("query_id"),
        org.apache.spark.sql.functions.col("v").as("qv"))
      .where(org.apache.spark.sql.functions.col("query_id") < 5)
    val filt = Some(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("node"),
      org.apache.spark.sql.functions.lit(2)) === 0)
    val pqDrv = graft.sources.GraphAnnIndex.searchPq(spark, dir, q, candidateFilter = filt)
    val pqDist = graft.sources.GraphAnnIndex.searchPq(spark, dir, q,
      maxDriverFrontier = 0, candidateFilter = filt)
    assert(pqDrv.collect().map(_.toString).toSeq ==
      pqDist.collect().map(_.toString).toSeq)
    // a repeated query_id ranks as ONE query in both PQ regimes: each
    // candidate scores against each of the id's vectors, and the cut
    // keeps distinct neighbors. Query 1 with a second, different vector
    // (entry 7's); query 2 with its own vector twice
    def pq(qs: org.apache.spark.sql.DataFrame, mdf: Int) = graft.sources.GraphAnnIndex
      .searchPq(spark, dir, qs, maxDriverFrontier = mdf).collect().map(_.toString).toSeq
    val twoVecs = q.unionByName(spark.read.parquet(s"$dir/entries")
      .where(col("id") === 7).select(lit(1L).as("query_id"), col("v").as("qv")))
    val sameTwice = q.unionByName(q.where(col("query_id") === 2))
    for ((name, qs) <- Seq("two vectors" -> twoVecs, "same vector twice" -> sameTwice)) {
      val drvRows = pq(qs, 100000)
      assert(drvRows == pq(qs, 0), s"$name: regimes disagree")
      val rows = graft.sources.GraphAnnIndex.searchPq(spark, dir, qs).collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length,
        s"$name: a neighbor listed twice")
      assert(rows.groupBy(_.getLong(0)).forall(_._2.map(_.getLong(2)).toSeq == (1L to 10L)),
        s"$name: ranks are not 1..k")
    }
    // the same vector twice is the same query as once
    assert(pq(sameTwice, 100000) == pq(q, 100000))
  }

  test("an OVERSIZED distributed frontier never broadcasts — size-routed shuffle probes") {
    val dir = tmpDir("distshuffle")
    graft.sources.GraphAnnIndex.ensureBuilt(emb, dir)
    // maxBroadcastFrontier = 0 forces every size-routed side (the
    // frontier probe, the query table, the PQ LUT, the rerank keys)
    // onto the shuffle path — the branch that serves when the batch
    // outgrows the broadcast budget. Results are pinned identical to
    // the driver-side walk, and the executed plan must carry ZERO
    // BroadcastExchange: a broadcast collects the frontier to the
    // driver, the exact materialization this regime exists to avoid.
    val drv = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
    val dist = graft.sources.GraphAnnIndex.searchSelf(spark, dir,
      maxDriverFrontier = 0, maxBroadcastFrontier = 0)
    assert(drv.collect().map(_.toString).toSeq ==
      dist.collect().map(_.toString).toSeq)
    val plan = dist.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"oversized frontier must not broadcast:\n$plan")
    val pqDrv = graft.sources.GraphAnnIndex.searchPqSelf(spark, dir)
    val pqDist = graft.sources.GraphAnnIndex.searchPqSelf(spark, dir,
      maxDriverFrontier = 0, maxBroadcastFrontier = 0)
    assert(pqDrv.collect().map(_.toString).toSeq ==
      pqDist.collect().map(_.toString).toSeq)
    val pqPlan = pqDist.queryExecution.executedPlan.toString
    assert(!pqPlan.contains("BroadcastExchange"),
      s"oversized PQ frontier must not broadcast:\n$pqPlan")
    // the pb prune survives the distributed branch: the edge scan in
    // the final step is partition-filtered, not a full-table read
    assert(plan.contains("pb"), "expected the pb-pruned edge probe in the plan")
  }

  test("a served search never touches the corpus — every input file is index bytes") {
    // build from a private copy of the corpus, then delete the copy:
    // both regimes must serve with no corpus on disk
    val corpus = tmpDir("nocorpus_emb")
    emb.write.mode("overwrite").parquet(corpus)
    val dir = tmpDir("nocorpus")
    graft.sources.GraphAnnIndex.buildAndSave(spark.read.parquet(corpus), dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpus))
    // lineage pin: the result's scans read ONLY the persisted layout.
    // The driver regime's result is a local relation (no scans at
    // all); the distributed regime's lazy plan scans index files only
    for (mdf <- Seq(100000, 0)) {
      val served = graft.sources.GraphAnnIndex.searchSelf(spark, dir, maxDriverFrontier = mdf)
      val inputs = served.inputFiles
      assert((mdf == 0) == inputs.nonEmpty &&
        inputs.forall(_.contains(new java.io.File(dir).getName)),
        s"maxDriverFrontier=$mdf: expected only index inputs, got ${inputs.mkString(", ")}")
      assert(served.count() > 0)
    }
  }

  test("stats reads the persisted degree histogram; ensureBuilt is idempotent") {
    val dir = tmpDir("stats")
    graft.sources.GraphAnnIndex.ensureBuilt(emb, dir)
    val edgeFile = new java.io.File(s"$dir/edges")
    val before = edgeFile.lastModified()
    graft.sources.GraphAnnIndex.ensureBuilt(emb, dir) // fresh → no rebuild
    assert(edgeFile.lastModified() == before)
    val st = graft.sources.GraphAnnIndex.stats(spark, dir).collect()
    val viaEdges = Similarity.graphEdges(emb).groupBy(col("src")).count()
      .groupBy(col("count").as("out_degree"))
      .agg(count(lit(1)).as("n_nodes")).orderBy(col("out_degree")).collect()
    assert(st.map(_.toString).toSeq == viaEdges.map(_.toString).toSeq)
  }

  test("incremental append is bit-equal to a from-scratch rebuild at the frozen hash") {
    val n = emb.count()
    val thr = n * 4 / 5
    val bits = Similarity.autoBits(n) // size the hash for projected capacity
    val base = emb.where(col("vec_id") < thr)
    val inc = emb.where(col("vec_id") >= thr)
    val dir = tmpDir("incr")
    graft.sources.GraphAnnIndex.buildAndSave(base, dir, nbits = bits)
    assert(graft.sources.GraphAnnIndex.appendIncremental(inc, dir))
    // replayed increment (crash-retry, re-run notebook) is skipped
    assert(!graft.sources.GraphAnnIndex.appendIncremental(inc, dir))
    // 1. the LIVE distinct edge set equals the rebuild's, edge for edge
    val live = graft.sources.GraphAnnIndex.liveEdgeSet(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = Similarity.graphEdges(emb, nbits = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live == rebuilt)
    // 2. served results equal the rebuild's fused search
    val served = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
    val fused = GraphWalkReference.graphTopK(emb, nbits = bits)
    assert(served.collect().map(_.toString).toSeq ==
      fused.collect().map(_.toString).toSeq)
  }

  test("tombstone compaction drops the mask debt; serving unchanged; torn swap heals") {
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val dir = tmpDir("compact")
    graft.sources.GraphAnnIndex.buildAndSave(
      emb.where(col("vec_id") < n * 4 / 5), dir, nbits = bits)
    graft.sources.GraphAnnIndex.appendIncremental(
      emb.where(col("vec_id") >= n * 4 / 5), dir)
    val before = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(new java.io.File(s"$dir/retired").exists)
    assert(graft.sources.GraphAnnIndex.compactTombstones(spark, dir))
    assert(!new java.io.File(s"$dir/retired").exists,
      "compaction must drop the tombstones")
    assert(!graft.sources.GraphAnnIndex.compactTombstones(spark, dir),
      "nothing left to compact")
    val after = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(after == before, "compaction must not change served results")
    // torn swap: maintainer died between live-dir delete and rename —
    // the sealed stage IS the live set; the next reader heals it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val edges = new org.apache.hadoop.fs.Path(s"$dir/edges")
    val stage = new org.apache.hadoop.fs.Path(s"$dir/.gixcompact")
    assert(fs.rename(edges, stage))
    fs.createNewFile(new org.apache.hadoop.fs.Path(stage, "_GIX_SEALED"))
    val healed = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(healed == before && fs.exists(edges))
  }

  test("filtered serving returns only allowed nodes, deterministically, at full k") {
    val dir = tmpDir("filtered")
    graft.sources.GraphAnnIndex.ensureBuilt(emb, dir)
    def run() = graft.sources.GraphAnnIndex.search(spark, dir,
      spark.read.parquet(s"$dir/entries")
        .select(col("id").cast("long").as("query_id"), col("v").as("qv"))
        .where(col("query_id") < 3),
      k = 5, candidateFilter = Some(pmod(col("node"), lit(2)) === 0))
    val a = run().collect()
    assert(a.nonEmpty && a.forall(_.getLong(1) % 2 == 0),
      "every served neighbor must satisfy the metadata filter")
    // the filter halves the corpus but the walk still fills k: the
    // beam navigates THROUGH allowed nodes, it doesn't post-filter a
    // fixed candidate set down to scraps
    assert(a.groupBy(_.getLong(0)).forall(_._2.length == 5))
    assert(a.map(_.toString).toSeq == run().collect().map(_.toString).toSeq)
  }

  test("filtered PQ serving returns only allowed nodes at full k, rerank-exact") {
    val dir = tmpDir("pqfiltered")
    graft.sources.GraphAnnIndex.ensureBuilt(emb, dir)
    def run() = graft.sources.GraphAnnIndex.searchPq(spark, dir,
      spark.read.parquet(s"$dir/entries")
        .select(col("id").cast("long").as("query_id"), col("v").as("qv"))
        .where(col("query_id") < 3),
      k = 5, candidateFilter = Some(pmod(col("node"), lit(2)) === 0))
    val a = run().collect()
    assert(a.nonEmpty && a.forall(_.getLong(1) % 2 == 0),
      "every served neighbor must satisfy the metadata filter")
    assert(a.groupBy(_.getLong(0)).forall(_._2.length == 5),
      "the ADC walk must still fill k through the allowed subgraph")
    assert(a.map(_.toString).toSeq == run().collect().map(_.toString).toSeq)
    // rerank contract: reported sims are exact cosines
    val exact = Similarity.bruteTopK(emb, nQueries = 3, k = emb.count().toInt - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    a.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact(key) == r.getDouble(3), s"sim mismatch at $key")
    }
  }

  test("PQ-guided walk is deterministic, partition-invariant, and rerank-exact on top") {
    val a = GraphWalkReference.graphPqTopK(emb.repartition(5), nQueries = 3, k = 5)
      .collect().map(_.toString).toSeq
    val b = GraphWalkReference.graphPqTopK(emb.coalesce(1), nQueries = 3, k = 5)
      .collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
    // the returned sims are FULL-PRECISION cosines (the rerank), not
    // ADC approximations: every reported (query, neighbor, sim) must
    // equal the exact cosine of that pair
    val exact = Similarity.bruteTopK(emb, nQueries = 3, k = 200)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    GraphWalkReference.graphPqTopK(emb, nQueries = 3, k = 5).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exact.get(key).foreach(s => assert(s == r.getDouble(3),
        s"rerank sim for $key must be the exact cosine"))
    }
  }

  test("persisted PQ serving is bit-identical to the fused PQ walk; edges read code-only") {
    val dir = tmpDir("pqserve")
    graft.sources.GraphAnnIndex.ensureBuilt(emb, dir)
    val served = graft.sources.GraphAnnIndex.searchPqSelf(spark, dir, nQueries = 5, k = 10)
    val fused = GraphWalkReference.graphPqTopK(emb, nQueries = 5, k = 10)
    assert(served.collect().map(_.toString).toSeq ==
      fused.collect().map(_.toString).toSeq)
    // lineage: index bytes only, never the corpus. The driver regime's
    // result is a local relation (no scans at all); the distributed
    // regime's lazy plan scans index files only
    for (mdf <- Seq(100000, 0)) {
      val inputs = graft.sources.GraphAnnIndex.searchPqSelf(spark, dir, nQueries = 5, k = 10,
        maxDriverFrontier = mdf).inputFiles
      assert((mdf == 0) == inputs.nonEmpty &&
        inputs.forall(_.contains(new java.io.File(dir).getName)),
        s"maxDriverFrontier=$mdf: expected only index inputs, got ${inputs.mkString(", ")}")
    }
  }

  test("incremental append serves PQ-identically to the fused walk on the grown corpus") {
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val dir = tmpDir("pqincr")
    graft.sources.GraphAnnIndex.buildAndSave(
      emb.where(col("vec_id") < n * 4 / 5), dir, nbits = bits)
    graft.sources.GraphAnnIndex.appendIncremental(
      emb.where(col("vec_id") >= n * 4 / 5), dir)
    // frozen codebook == full-corpus codebook (the 16 lowest ids are
    // in the base), so the grown compressed index must serve exactly
    // what a fused PQ walk over the whole corpus returns
    val served = graft.sources.GraphAnnIndex.searchPqSelf(spark, dir)
    val fused = GraphWalkReference.graphPqTopK(emb, nbits = bits)
    assert(served.collect().map(_.toString).toSeq ==
      fused.collect().map(_.toString).toSeq)
  }

  test("search is deterministic across partitionings and better than entry-seeding alone") {
    val a = GraphWalkReference.graphTopK(emb.repartition(5), nQueries = 3, k = 5)
      .collect().map(_.toString).toSeq
    val b = GraphWalkReference.graphTopK(emb.coalesce(1), nQueries = 3, k = 5)
      .collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
    // the walk must traverse: its results beat scoring only the
    // entry points (steps=0 equivalent would return entry ids)
    val res = GraphWalkReference.graphTopK(emb, nQueries = 3, k = 5)
    assert(res.where(col("neighbor_id") >= 16).count() > 0,
      "beam search must reach nodes beyond the entry set")
  }

  // ---- round-10 maintenance hardening ----

  test("compaction crash window heals: edges gone, stale tombstones present, sealed stage") {
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val dir = tmpDir("crashwin")
    graft.sources.GraphAnnIndex.buildAndSave(
      emb.where(col("vec_id") < n * 4 / 5), dir, nbits = bits)
    graft.sources.GraphAnnIndex.appendIncremental(
      emb.where(col("vec_id") >= n * 4 / 5), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = new org.apache.hadoop.fs.Path(s"$dir/retired")
    val retiredCopy = new org.apache.hadoop.fs.Path(s"$dir/.retired_copy")
    org.apache.hadoop.fs.FileUtil.copy(fs, retired, fs, retiredCopy, false,
      spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.GraphAnnIndex.compactTombstones(spark, dir))
    val expected = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    // reproduce a maintainer death INSIDE the commit tail: compacted
    // gen-0 stage sealed, edges/ deleted, but the pre-compaction
    // tombstones still on disk (the round-9 ADVICE's unhealable
    // window under rename-before-retired-delete ordering: the stale
    // mask would silently erase previously-retired owners' lists)
    val edges = new org.apache.hadoop.fs.Path(s"$dir/edges")
    val stage = new org.apache.hadoop.fs.Path(s"$dir/.gixcompact")
    assert(fs.rename(edges, stage))
    fs.createNewFile(new org.apache.hadoop.fs.Path(stage, "_GIX_SEALED"))
    assert(fs.rename(retiredCopy, retired))
    val healed = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(healed == expected, "recovery must serve the compacted lists unmasked")
    assert(fs.exists(edges) && !fs.exists(retired),
      "recovery must finish the swap AND drop the stale tombstones")
  }

  test("readers are gated on meta: an uncommitted increment is invisible") {
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val base = emb.where(col("vec_id") < n * 4 / 5)
    val inc = emb.where(col("vec_id") >= n * 4 / 5)
    val baseDir = tmpDir("gatebase")
    graft.sources.GraphAnnIndex.buildAndSave(base, baseDir, nbits = bits)
    val baseOnly = graft.sources.GraphAnnIndex.searchSelf(spark, baseDir)
      .collect().map(_.toString).toSeq
    val dir = tmpDir("gate")
    graft.sources.GraphAnnIndex.buildAndSave(base, dir, nbits = bits)
    assert(graft.sources.GraphAnnIndex.appendIncremental(inc, dir))
    // rewind meta to the pre-commit state: gen-1 edge files, nodes,
    // buckets and the tombstone are all on disk, but the increment
    // never committed — exactly what a concurrent reader sees while
    // a maintainer is mid-append. It must serve the PRE-increment
    // index: never old and new adjacency lists unioned, never old
    // lists masked with no replacement visible.
    val metaPath = s"$dir/meta"
    val schema = spark.read.parquet(metaPath).schema
    val row = spark.read.parquet(metaPath).collect()(0)
    val rewound = org.apache.spark.sql.Row(
      row.toSeq.updated(schema.fieldIndex("applied_fps"), ""): _*)
    spark.createDataFrame(java.util.Arrays.asList(rewound), schema)
      .coalesce(1).write.mode("overwrite").parquet(metaPath)
    val midAppend = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(midAppend == baseOnly,
      "an in-flight increment must be invisible until meta commits")
    // the maintainer retries (crash-retry contract): the increment
    // replays idempotently and the committed index serves the full
    // corpus exactly as a rebuild would
    assert(graft.sources.GraphAnnIndex.appendIncremental(inc, dir))
    val committed = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    val fused = GraphWalkReference.graphTopK(emb, nbits = bits)
      .collect().map(_.toString).toSeq
    assert(committed == fused)
  }

  test("ensureGrown is fingerprint-guarded and compaction keeps it fresh") {
    val dir = tmpDir("grown")
    graft.sources.GraphAnnIndex.ensureGrown(emb, dir)
    val first = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    // the increment applied → mask debt exists
    assert(new java.io.File(s"$dir/retired").exists)
    // grown index serves the full corpus exactly as a rebuild would
    val fused = GraphWalkReference.graphTopK(emb, nbits = Similarity.autoBits(emb.count()))
      .collect().map(_.toString).toSeq
    assert(first == fused)
    assert(graft.sources.GraphAnnIndex.compactTombstones(spark, dir))
    // a compacted dir is still FRESH: re-ensuring must neither
    // rebuild (which would reset applied_fps and re-append, leaving
    // new tombstones) nor re-apply the increment
    graft.sources.GraphAnnIndex.ensureGrown(emb, dir)
    assert(!new java.io.File(s"$dir/retired").exists,
      "a warm ensureGrown on a compacted dir must do no corpus work")
    val after = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(after == first)
  }

  test("above MaskMapLimit the tombstone mask is an anti-join — no driver materialization") {
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val dir = tmpDir("maskbig")
    graft.sources.GraphAnnIndex.buildAndSave(
      emb.where(col("vec_id") < n * 4 / 5), dir, nbits = bits)
    graft.sources.GraphAnnIndex.appendIncremental(
      emb.where(col("vec_id") >= n * 4 / 5), dir)
    val before = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    // synthetic tombstone debt for owners far outside the corpus:
    // semantically a no-op mask, but its cardinality forces the
    // above-limit path
    spark.range(10000000L, 10000000L + graft.sources.GraphAnnIndex.MaskMapLimit + 16)
      .select(col("id").as("owner"), lit(1).cast("int").as("before_gen"))
      .coalesce(1).write.parquet(s"$dir/retired/ret-synth")
    val live = graft.sources.GraphAnnIndex.liveEdgeSet(spark, dir)
    val plan = live.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"oversized mask must be an anti-join off the parquet read, got:\n$plan")
    assert(!plan.contains("element_at"),
      "oversized mask must not build the literal map (driver-side collect)")
    val after = graft.sources.GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(after == before, "a no-op mask must not change served results")
  }

  test("delete lifecycle: masked serve == compacted serve, reclaim complete, crash heals") {
    import graft.sources.GraphAnnIndex
    val dir = tmpDir("delete")
    GraphAnnIndex.ensureBuilt(emb, dir)
    val delIds = emb.where(pmod(col("vec_id"), lit(7)) === 6)
      .select(col("vec_id").as("id"))
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    assert(delSet.nonEmpty)
    // O(batch) delete, idempotent per tag: a retried delete is one
    // overwrite, not an accumulating append
    GraphAnnIndex.deleteVectors(spark, dir, delIds, "mod7")
    GraphAnnIndex.deleteVectors(spark, dir, delIds, "mod7")
    val masked = GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(masked.nonEmpty)
    val maskedIds = GraphAnnIndex.searchSelf(spark, dir)
      .select(col("neighbor_id")).collect().map(_.getLong(0))
    assert(maskedIds.forall(!delSet(_)), "served a deleted vector")
    val maskedPq = GraphAnnIndex.searchPqSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(maskedPq.map(_.split(",")(1)).forall(s => !delSet(s.toLong)),
      "PQ path served a deleted vector")
    // compaction reclaims; the serve must be BIT-EQUAL to the mask
    assert(GraphAnnIndex.compactTombstones(spark, dir))
    assert(!new java.io.File(s"$dir/deleted").exists, "deleted/ must drop")
    val compacted = GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(compacted == masked,
      "post-compaction serve must equal the masked serve bit-for-bit")
    val compactedPq = GraphAnnIndex.searchPqSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(compactedPq == maskedPq)
    // physical reclaim: no deleted id survives in any layout table
    def ids(sub: String, c: String) = spark.read.parquet(s"$dir/$sub")
      .select(col(c).cast("long")).collect().map(_.getLong(0)).toSet
    assert(ids("edges", "src").intersect(delSet).isEmpty)
    assert(ids("edges", "dst").intersect(delSet).isEmpty)
    assert(ids("entries", "id").intersect(delSet).isEmpty)
    assert(ids("buckets", "id").intersect(delSet).isEmpty)
    assert(ids("nodes", "id").intersect(delSet).isEmpty)
    // nothing left to compact
    assert(!GraphAnnIndex.compactTombstones(spark, dir))
  }

  test("delete-reclaim crash window heals: entries gone, sealed stage present") {
    import graft.sources.GraphAnnIndex
    val dir = tmpDir("delcrash")
    GraphAnnIndex.ensureBuilt(emb, dir)
    val delIds = emb.where(pmod(col("vec_id"), lit(7)) === 6)
      .select(col("vec_id").as("id"))
    GraphAnnIndex.deleteVectors(spark, dir, delIds, "mod7")
    val masked = GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    // simulate the maintainer dying between the entries/ delete and
    // the rename: stage the reclaimed entries, seal, remove live dir
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$dir/entries")
    val st = new org.apache.hadoop.fs.Path(s"$dir/.gixdel-entries")
    val kept = spark.read.parquet(live.toString)
      .join(delIds.select(col("id").as("__del")), col("id") === col("__del"), "left_anti")
    kept.coalesce(1).write.mode("overwrite").parquet(st.toString)
    fs.createNewFile(new org.apache.hadoop.fs.Path(st, "_GIX_SEALED"))
    fs.delete(live, true)
    // deleted/ still present at this crash point → the next serve
    // heals the swap AND stays correct off the mask
    val healed = GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(healed == masked && fs.exists(live))
    // a follow-up compaction completes the remainder idempotently
    assert(GraphAnnIndex.compactTombstones(spark, dir))
    assert(!new java.io.File(s"$dir/deleted").exists)
    val after = GraphAnnIndex.searchSelf(spark, dir)
      .collect().map(_.toString).toSeq
    assert(after == masked)
  }

  test("deletes compose with increments: post-compaction growth never links to dead nodes") {
    import graft.sources.GraphAnnIndex
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val dir = tmpDir("delgrow")
    GraphAnnIndex.buildAndSave(emb.where(col("vec_id") < n * 4 / 5), dir, nbits = bits)
    val delIds = emb.where(pmod(col("vec_id"), lit(11)) === 3 &&
        col("vec_id") < n * 4 / 5)
      .select(col("vec_id").as("id"))
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    GraphAnnIndex.deleteVectors(spark, dir, delIds, "mod11")
    assert(GraphAnnIndex.compactTombstones(spark, dir))
    // the increment buckets against the RECLAIMED assignment — no
    // new edge may point at a reclaimed node
    GraphAnnIndex.appendIncremental(emb.where(col("vec_id") >= n * 4 / 5), dir)
    val touched = GraphAnnIndex.liveEdgeSet(spark, dir)
      .select(col("src")).union(
        GraphAnnIndex.liveEdgeSet(spark, dir).select(col("dst")))
      .collect().map(_.getLong(0)).toSet
    assert(touched.intersect(delSet).isEmpty,
      "an increment resurrected a deleted node")
    val served = GraphAnnIndex.searchSelf(spark, dir)
      .select(col("neighbor_id")).collect().map(_.getLong(0))
    assert(served.nonEmpty && served.forall(!delSet(_)))
  }
}
