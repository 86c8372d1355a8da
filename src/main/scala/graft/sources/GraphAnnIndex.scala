package graft.sources

import graft.functions.VectorFunctions._
import graft.operators.Similarity
import graft.plans.{NativeExprs, TopKAgg}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BasePredicate, BindReferences,
  Expression, Predicate, SpecificInternalRow}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.{ArrayBuffer, LongMap}

/** Persisted small-world graph index — the build / serve split for
  * the NSW family (the graph twin of [[AnnIndex]]'s IVF-PQ layout,
  * same reference anchor: /root/reference/README.md:25,111 — the
  * vector store persists its index and serves queries from it).
  *
  *   layout/
  *     edges/   pb=K/ (src, dst, dv, dnrm, dcodes, kind, owner, gen)
  *              — directed edges with the destination's RAW VECTOR
  *              and its PQ CODES both inline, partitioned by
  *              pb = src mod pBuckets; the raw path reads
  *              (src,dst,dv,dnrm), the compressed path reads
  *              (src,dst,dcodes) — COLUMN PRUNING picks the
  *              residency footprint
  *     nodes/   nb=K/ (id, v, nrm) — id-bucketed raw vectors: the
  *              compressed path's full-precision RERANK fetch
  *     codebook/ (code, sub, cv) — the frozen PQ codebook
  *     buckets/ tbl=T/ (bucket, id, v, nrm) — the frozen LSH
  *              assignment (maintenance hashes new vectors into
  *              these buckets; the planes never retrain in place)
  *     entries/ (id, v, nrm) — the first `entryCap` nodes: the
  *              deterministic beam entry points
  *     retired/ ret-*.parquet (owner, before_gen) — tombstones: a
  *              maintenance pass that RECOMPUTED owner's adjacency
  *              list masks the list's older generations at read time
  *     meta/    (m, tables, n_bits, dim, p_buckets, entry_cap,
  *              pq_m, n_codes, corpus_fp, applied_fps, vec_type)
  *
  * Every table is read with its fixed layout schema (ids as bigint,
  * the vector column as meta's `vec_type`, the corpus's own vector
  * type), so opening the index runs no schema-inference job.
  *
  * Why vectors ride ON the edges: a beam step expands frontier →
  * neighbors → scores them, and the expensive half at scale is
  * fetching neighbor vectors. With `dv` inline, one partition-pruned
  * probe of `edges/` yields candidates AND their vectors — a search
  * never touches the corpus, and never re-joins a vector table. The
  * duplication factor is the out-degree (~m+2), the classic
  * space-for-locality trade every disk-resident graph index makes
  * (DiskANN stores vectors next to adjacency for the same reason).
  *
  * Why tombstones instead of rewrites: maintenance must REPLACE the
  * adjacency lists of nodes whose buckets received new vectors.
  * Rewriting their partitions in place is not crash-safe without a
  * commit log; instead every write is an APPEND (new list edges at
  * generation g, a tombstone (owner, g) masking generations < g) and
  * the read path filters — the deletion-vector discipline from the
  * Delta half of this engine applied to the index. A scheduled
  * rebuild compacts tombstones away. Masking is a literal-map probe
  * when the tombstone set is map-sized, and a broadcast anti-join
  * above [[GraphAnnIndex.MaskMapLimit]] — the same dual the DV scan
  * path uses.
  *
  * Search cost: a search reads ZERO corpus rows; corpus-scale work
  * happens exactly once, at build. The raw and the PQ search run the
  * same two walks with their own scorer and edge payload (`dv`/`dnrm`
  * or `dcodes`). When the frontier fits the driver (nq·max(beam,
  * entries) ≤ `maxDriverFrontier` rows), round 0 scores entries ×
  * queries on the driver and each of steps 1 to `steps` is ONE Spark
  * job (no SQL planning) over a per-search cached adjacency: src → its
  * live, delete-masked out-edges with the payload inline. Building that
  * cache scans the WHOLE live edge table once per search; each step
  * then looks up only its frontier's lists. Tasks cut per-query top
  * lists and the driver merges them. The raw walk's last step cuts at
  * k; the PQ walk's keeps every candidate, and one pruned `nodes/`
  * fetch reranks them on the driver. Either answer returns as a local
  * relation. A query batch too large for the driver walks the
  * distributed shape: the walk's live edge columns persisted for the
  * walk, each step's beam read back from its own shuffle outputs (no
  * persisted copy), a pb-pruned probe, a SIZE-ROUTED join (broadcast
  * below `maxBroadcastFrontier` rows, a sort-merge shuffle above), and
  * a lazy top-k exchange that ranks the last step. Branch choice is an
  * execution-strategy swap, never a result change (spec-pinned).
  */
object GraphAnnIndex {

  /** Above this many tombstoned owners the read mask switches from a
    * literal-map probe to a broadcast anti-join. */
  private[graft] val MaskMapLimit = 65536

  final case class Meta(m: Int, tables: Int, nBits: Int, dim: Int,
                        pBuckets: Int, entryCap: Int,
                        pqM: Int, nCodes: Int,
                        corpusFp: String, appliedFps: Seq[String],
                        vecType: String)

  private val MetaSchema =
    "m int, tables int, n_bits int, dim int, p_buckets int, entry_cap int, " +
      "pq_m int, n_codes int, corpus_fp string, applied_fps string, vec_type string"
  private def edgeSchema(vecType: String) =
    s"src bigint, dst bigint, dv $vecType, dnrm double, dcodes array<bigint>, " +
      "kind string, owner bigint, gen int, pb bigint"
  private def bucketSchema(vecType: String) =
    s"id bigint, v $vecType, nrm double, bucket bigint, tbl int"

  /** (id, v, nrm) — the deterministic beam entry points. */
  private def readEntries(spark: SparkSession, dir: String, vecType: String): DataFrame =
    spark.read.schema(s"id bigint, v $vecType, nrm double").parquet(s"$dir/entries")

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The newest meta generation (most applied increments). A commit
    * writes its meta beside the old one and only then deletes the old
    * one ([[writeMeta]]), so a read that lists both takes the new; a
    * file deleted between the listing and the read is skipped, and a
    * read left with no row lists again once. */
  private[graft] def readMeta(spark: SparkSession, dir: String): Meta = {
    def applied(r: Row): Seq[String] =
      Option(r.getAs[String]("applied_fps")).filter(_.nonEmpty)
        .map(_.split(",").toSeq).getOrElse(Nil)
    def newest() = spark.read.schema(MetaSchema).option("ignoreMissingFiles", "true")
      .parquet(s"$dir/meta").collect().maxByOption(applied(_).size)
    val r = newest().orElse(newest()).getOrElse(
      throw new java.io.FileNotFoundException(s"no index meta under $dir/meta"))
    // getInt throws on NULL: a meta missing a field is unreadable
    // (ensureBuilt then rebuilds), never silently 0
    def int(c: String) = r.getInt(r.fieldIndex(c))
    Meta(int("m"), int("tables"), int("n_bits"), int("dim"), int("p_buckets"),
      int("entry_cap"), int("pq_m"), int("n_codes"),
      r.getAs[String]("corpus_fp"), applied(r),
      // a meta written before vec_type was recorded: take the type
      // from the entries footer (one inference job)
      Option(r.getAs[String]("vec_type")).getOrElse(
        spark.read.parquet(s"$dir/entries").schema("v").dataType.catalogString))
  }

  /** Commits `meta` in two steps, neither of which leaves `meta/`
    * empty: the new file is appended beside the old ones, then the old
    * ones are deleted. A reader racing the commit sees the old or the
    * new generation; a crash between the steps leaves both, and
    * [[readMeta]] takes the new. */
  private def writeMeta(spark: SparkSession, dir: String, meta: Meta): Unit = {
    import spark.implicits._
    val f = fs(spark, dir)
    val p = new Path(s"$dir/meta")
    // the old generation: every file but the _SUCCESS marker the append rewrites
    val old = if (f.exists(p)) f.listStatus(p).map(_.getPath).filterNot(_.getName.startsWith("_"))
      else Array.empty[Path]
    Seq((meta.m, meta.tables, meta.nBits, meta.dim, meta.pBuckets, meta.entryCap,
      meta.pqM, meta.nCodes, meta.corpusFp, meta.appliedFps.mkString(","), meta.vecType))
      .toDF("m", "tables", "n_bits", "dim", "p_buckets", "entry_cap",
        "pq_m", "n_codes", "corpus_fp", "applied_fps", "vec_type")
      .coalesce(1).write.mode("append").parquet(s"$dir/meta")
    old.foreach(f.delete(_, false))
  }

  /** The frozen assignment read back in [[Similarity.bucketAssign]]
    * shape (tbl restored from its partition directory). */
  private def loadBuckets(spark: SparkSession, dir: String, vecType: String): DataFrame =
    spark.read.schema(bucketSchema(vecType)).parquet(s"$dir/buckets")
      .select(col("id"), col("v"), col("nrm"), col("tbl"), col("bucket"))

  /** (id, v, nrm) — every node exactly once (tbl=0 slice: partition
    * pruning reads 1/tables of the assignment). */
  private def loadNodes(spark: SparkSession, dir: String, vecType: String): DataFrame =
    loadBuckets(spark, dir, vecType).where(col("tbl") === 0)
      .select(col("id"), col("v"), col("nrm"))

  /** The deterministic PQ codebook shared with the SQL reference PQ
    * walk (`GraphWalkReference.graphPqTopK`, test sources): the
    * `nCodes` lowest-id vectors' subvectors — (code, sub, cv). Model-sized; broadcast at use. */
  private def pqCodebook(nodes: DataFrame, pqM: Int, subDim: Int,
                         nCodes: Int): DataFrame =
    Similarity.subVectors(nodes.select(col("id"), col("v")), pqM, subDim, "cv")
      .where(col("id") < nCodes)
      .select(col("id").as("code"), col("sub"), col("cv"))

  /** PQ codes per node against a FROZEN codebook, as a sub-ordered
    * array — the per-neighbor payload the compressed serving path
    * reads instead of `dv`. Encoding is deterministic (6-dp L2,
    * ties to the lowest code), so re-encoding an old node during
    * maintenance reproduces its build-time codes exactly. */
  private def pqCodesArr(nodes: DataFrame, cb: DataFrame, pqM: Int,
                         subDim: Int): DataFrame =
    // one exchange (round 14): the per-(id, sub) argmin and the
    // per-id code collection fold into a single groupBy(id) with one
    // conditional min per sub — min(struct(l2, code)) per sub slot is
    // exactly the former two-level agg, and the array is born
    // sub-ordered (no sort_array/collect_list)
    Similarity.subVectors(nodes.select(col("id"), col("v")), pqM, subDim, "sv")
      .join(broadcast(cb), "sub")
      .select(col("id"), col("sub"), col("code"), Similarity.pqL2.as("l2"))
      .groupBy(col("id"))
      .agg(array((0 until pqM).map(i =>
        min(when(col("sub") === i, struct(col("l2"), col("code")))).getField("code")): _*)
        .as("codes"))

  /** Adjacency lists → directed edges with dst vectors AND dst PQ
    * codes inline. Each list edge u→v materializes BOTH directions
    * under owner u (the NSW reverse-link trick), so replacing u's
    * list later means masking owner u — provenance is what makes the
    * tombstone exact. `nodesC` carries (id, v, nrm, codes). */
  private def listEdges(lists: DataFrame, nodesC: DataFrame, gen: Int): DataFrame = {
    val vecs = nodesC.select(col("id").as("nid"), col("v").as("nv"),
      col("nrm").as("nnrm"), col("codes").as("ncodes"))
    // round 15: union the (direction-swapped) id pairs FIRST, then
    // attach the dst payload with ONE join — the fwd/rev form paid
    // two joins against the vector table for identical output rows
    val pairs = lists
      .select(col("src"), col("dst"), col("src").as("owner"))
      .unionByName(lists
        .select(col("dst").as("src"), col("src").as("dst"), col("src").as("owner")))
    pairs.join(vecs, col("dst") === col("nid"))
      .select(col("src"), col("dst"), col("nv").as("dv"), col("nnrm").as("dnrm"),
        col("ncodes").as("dcodes"),
        lit("l").as("kind"), col("owner"), lit(gen).as("gen"))
  }

  /** Backbone edges u ↔ ⌊u/2⌋ for `ids` (>0), dst payloads from
    * `nodesC`. Owner −1: the backbone is immutable, never tombstoned. */
  private def treeEdges(ids: DataFrame, nodesC: DataFrame, gen: Int): DataFrame = {
    val pairs = ids.where(col("id") > 0)
      .select(col("id").as("src"), floor(col("id") / 2).cast("long").as("dst"))
    val both = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val vecs = nodesC.select(col("id").as("nid"), col("v").as("nv"),
      col("nrm").as("nnrm"), col("codes").as("ncodes"))
    both.join(vecs, col("dst") === col("nid"))
      .select(col("src"), col("dst"), col("nv").as("dv"), col("nnrm").as("dnrm"),
        col("ncodes").as("dcodes"),
        lit("b").as("kind"), lit(-1L).as("owner"), lit(gen).as("gen"))
  }

  /** Build the graph over `emb` and persist the full layout. The ONE
    * corpus-scale job: assignment, bucket-bounded pair scoring,
    * top-m lists, vector attachment — everything downstream serves
    * from the persisted bytes. `nbits` < 0 sizes the hash from the
    * corpus ([[Similarity.autoBits]]); pass it explicitly to size
    * for PROJECTED capacity when increments will follow (the planes
    * freeze at build — retraining is a scheduled rebuild, the same
    * contract as [[AnnIndex]]'s centroids). */
  def buildAndSave(emb: DataFrame, dir: String,
                   m: Int = 8, nbits: Int = -1, tables: Int = 4, dim: Int = 64,
                   pBuckets: Int = 32, entryCap: Int = 64,
                   pqM: Int = 8, nCodes: Int = 16,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    // the old meta goes first: a build that dies midway leaves no meta
    // (ensureBuilt rebuilds) instead of one describing a half-rewritten
    // layout, and no generation of the old index outranks the new meta
    fs(spark, dir).delete(new Path(s"$dir/meta"), true)
    val nRows = emb.count()
    val bits = if (nbits > 0) nbits else Similarity.autoBits(nRows)
    val vecType = emb.schema(vecCol).dataType.catalogString
    // round 15 (guide §2.2): the build is a chain of ~8 jobs over
    // corpus-derived tables; size their shuffles from the corpus row
    // count (clamped to session parallelism) instead of paying the
    // session's full fan-out per stage on a small corpus. At 100 TB
    // the clamp lands on full parallelism — layout only, the build
    // output is partition-count invariant (deterministic scoring +
    // per-key writes).
    graft.operators.LoopShuffle.sized(spark, nRows) { _ =>
    val assign = Similarity.bucketAssign(emb, bits, tables, dim, idCol, vecCol)
    assign.repartition(col("tbl"), col("bucket"))
      .write.mode("overwrite").partitionBy("tbl").parquet(s"$dir/buckets")
    // everything below reads the PERSISTED assignment — the build
    // verifies its own bytes, and the lineage never recomputes the
    // hash job (at 100 TB that job is the thing you only run once)
    val bk = loadBuckets(spark, dir, vecType)
    val nodes = loadNodes(spark, dir, vecType)
    // the id-bucketed vector table: the full-precision RERANK's
    // partition-pruned fetch path (nb isin + id isin)
    nodes.withColumn("nb", pmod(col("id"), lit(pBuckets.toLong)))
      .repartition(col("nb"))
      .write.mode("overwrite").partitionBy("nb").parquet(s"$dir/nodes")
    val subDim = dim / pqM
    val cb = pqCodebook(nodes, pqM, subDim, nCodes)
    cb.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
    val nodesC = nodes.join(pqCodesArr(nodes, cb, pqM, subDim), Seq("id"))
    // materialize the adjacency lists once (round 14): listEdges
    // consumes `lists` in BOTH union branches (fwd + rev), so the
    // bucket-bounded pair-scoring join — the build's dominant
    // compute — would otherwise run twice inside the edges write.
    // O(n·m) id pairs: bounded, tiny next to the edge payloads.
    // round 15 (re-adjudicating r14's eager checkpoint, which the
    // driver measured as a 17 % build regression): with listEdges
    // fused to one pair-union the lists feed a SINGLE write action,
    // and its two pair-union branches share the top-k aggregate's
    // exchange (ReusedExchange) — the bucket-bounded scoring join
    // runs once with no materialization job
    val lists = Similarity.localLists(bk, bk, m)
    val edges = listEdges(lists, nodesC, gen = 0)
      .unionByName(treeEdges(nodes.select(col("id")), nodesC, gen = 0))
      .withColumn("pb", pmod(col("src"), lit(pBuckets.toLong)))
    // repartition ON the layout key before the partitioned write:
    // one file per pb dir instead of tasks×dirs small files — the
    // object-store request count IS the build cost at scale
    // cluster by src within each pb file (guide §6): every serve
    // round row-group-prunes on src.isin(frontier), so tight per-
    // row-group src bounds are the read-path footprint
    edges.repartition(col("pb")).sortWithinPartitions(col("src"))
      .write.mode("overwrite").partitionBy("pb").parquet(s"$dir/edges")
    nodes.where(col("id") < entryCap)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/entries")
    fs(spark, dir).delete(new Path(s"$dir/retired"), true)
    writeMeta(spark, dir, Meta(m, tables, bits, dim, pBuckets, entryCap,
      pqM, nCodes, ZoneCache.corpusFingerprint(emb), Nil, vecType))
    }
  }

  /** Build only if absent or stale (corpus fingerprint mismatch) —
    * the serving guard, verbatim the [[AnnIndex.ensureBuilt]]
    * contract. */
  def ensureBuilt(emb: DataFrame, dir: String,
                  m: Int = 8, nbits: Int = -1, tables: Int = 4, dim: Int = 64,
                  pBuckets: Int = 32, entryCap: Int = 64,
                  pqM: Int = 8, nCodes: Int = 16,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    val p = new Path(s"$dir/meta")
    // an unreadable/older-layout meta is just "stale" — rebuild
    val fresh = fs(spark, dir).exists(p) &&
      (try {
        val meta = readMeta(spark, dir)
        meta.appliedFps.isEmpty && meta.corpusFp == ZoneCache.corpusFingerprint(emb)
      } catch { case scala.util.control.NonFatal(_) => false })
    if (!fresh) buildAndSave(emb, dir, m, nbits, tables, dim, pBuckets, entryCap,
      pqM, nCodes, idCol, vecCol)
  }

  /** DELETE vectors from the index by id (round 14 — the production
    * vector-store contract Chroma gives the reference for free): a
    * node-level tombstone batch lands as one overwrite-idempotent
    * parquet under `deleted/` (same batchTag → same path, so a
    * retried delete never double-writes), the SERVE paths mask the
    * ids automatically (raw and PQ walks both: excluded from the
    * entry round AND from every round's candidate union, so the walk
    * navigates the surviving subgraph exactly as it would after the
    * physical reclaim), and [[compactTombstones]] reclaims — edges
    * incident to a deleted node, its bucket assignments (so later
    * increments can never link to it), its node rows, and its entry
    * rows all rewritten away, `deleted/` dropped LAST so every crash
    * point still serves correctly off the mask. Zero corpus work at
    * delete time: the tombstone write is O(batch). */
  def deleteVectors(spark: SparkSession, dir: String, ids: DataFrame,
                    batchTag: String = "default"): Unit = {
    ids.select(col("id").cast("long"))
      .distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/deleted/del-$batchTag")
  }

  private def deletedDf(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/deleted")
    if (!fs(spark, dir).exists(p)) None
    else Some(spark.read.schema("id bigint").option("recursiveFileLookup", "true")
      .parquet(p.toString).distinct())
  }

  /** The delete mask, SIZED before any driver materialization (the
    * retiredDf routing verbatim): ≤ [[MaskMapLimit]] ids collect to
    * a literal In-set probe; above it the mask stays a DataFrame and
    * candidates anti-join against it. None when nothing is deleted. */
  private def deleteMask(spark: SparkSession, dir: String)
      : Option[Either[Array[Long], DataFrame]] =
    deletedDf(spark, dir).flatMap { del =>
      val sample = del.limit(MaskMapLimit + 1).collect()
      if (sample.isEmpty) None
      else if (sample.length <= MaskMapLimit) Some(Left(sample.map(_.getLong(0))))
      else Some(Right(del.localCheckpoint(true)))
    }

  /** Apply the delete mask to a candidate frame on column `idc`. */
  private def maskDeleted(df: DataFrame, idc: String,
                          mask: Option[Either[Array[Long], DataFrame]]): DataFrame =
    mask match {
      case None => df
      case Some(Left(ids)) => df.where(!col(idc).isin(ids.map(Long.box): _*))
      case Some(Right(del)) => df.join(
        broadcast(del.select(col("id").as("__del"))),
        col(idc) === col("__del"), "left_anti")
    }

  /** The tombstone table, reduced to owner → lowest generation still
    * visible, GATED to committed increments (`before_gen <= gens`):
    * an in-flight increment's tombstone must not mask the old lists
    * before its replacement edges are committed via meta. */
  private def retiredDf(spark: SparkSession, dir: String, gens: Int): Option[DataFrame] = {
    val p = new Path(s"$dir/retired")
    if (!fs(spark, dir).exists(p)) None
    else Some(spark.read.schema("owner bigint, before_gen int")
      .option("recursiveFileLookup", "true").parquet(p.toString)
      .where(col("before_gen") <= gens)
      .groupBy(col("owner")).agg(max(col("before_gen")).as("r_gen"))
      .select(col("owner").as("r_owner"), col("r_gen")))
  }

  private def loadEdges(spark: SparkSession, dir: String, vecType: String): DataFrame =
    spark.read.schema(edgeSchema(vecType)).parquet(s"$dir/edges")
      .select(col("src"), col("dst"), col("dv"), col("dnrm"), col("dcodes"), col("kind"),
        col("owner"), col("gen"), col("pb"))

  /** Edges with retired generations masked out. Heals a torn
    * compaction first — a sealed stage left by a dead maintainer is
    * the live edge set.
    *
    * Reader visibility is gated on META's committed generation
    * (= applied increments): an in-flight [[appendIncremental]] has
    * already appended gen-(g+1) edge files and may have written its
    * tombstone, but until meta commits, a concurrent search must see
    * exactly the pre-increment index — never old AND new adjacency
    * lists unioned. Both filters ride the parquet scan (gen/
    * before_gen predicates push down), so the gate costs nothing.
    *
    * The tombstone mask is SIZED before any driver materialization:
    * a literal-map probe only under [[MaskMapLimit]] owners; above
    * it, a broadcast anti-join straight off the parquet read — no
    * collect of the retired table on any serve path, whatever its
    * cardinality. */
  private def liveEdges(spark: SparkSession, dir: String,
                        metaOpt: Option[Meta] = None): DataFrame = {
    recoverCompaction(spark, dir)
    val meta = metaOpt.getOrElse(readMeta(spark, dir))
    val gens = meta.appliedFps.size
    val all = loadEdges(spark, dir, meta.vecType).where(col("gen") <= gens)
    retiredDf(spark, dir, gens) match {
      case None => all
      case Some(ret) =>
        // ONE job sizes AND fetches the mask: collect at most
        // limit+1 rows — empty ⇒ no debt, ≤limit ⇒ literal-map
        // probe from the rows already in hand, limit+1 ⇒ the
        // anti-join path (never a full collect of the retired table)
        val sample = ret.limit(MaskMapLimit + 1).collect()
        if (sample.isEmpty) all
        else if (sample.length <= MaskMapLimit) {
          val m = sample.map(r => r.getLong(0) -> r.getInt(1)).toMap
          all.where(col("gen") >=
            coalesce(element_at(typedLit(m), col("owner")), lit(0)))
        } else
          all.join(broadcast(ret),
            col("owner") === col("r_owner") && col("gen") < col("r_gen"), "left_anti")
    }
  }

  /** Beam search over the persisted graph. `queries` is (query_id,
    * qv) — external vectors; the corpus is never read. Bit-identical
    * to the SQL reference walk (`GraphWalkReference.graphTopK`, test
    * sources) on the same corpus and parameters:
    * same candidate sets, same 6-dp rounding, same (sim DESC, node)
    * ties. One sizing-and-fetch `limit` collect of the queries picks
    * the regime: batches with `nq·max(beam, entries)` within
    * `maxDriverFrontier` walk on the driver ([[walkOnDriver]]), larger
    * ones walk the distributed frontier ([[walkDistributed]]). Either
    * way the result is (query_id, neighbor_id, rank, sim) ordered by
    * (query_id, rank); rows that share a query_id rank as one query. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int = 10, beam: Int = 32, steps: Int = 8, entries: Int = 16,
             maxDriverFrontier: Int = 100000,
             maxBroadcastFrontier: Long = 1000000L,
             candidateFilter: Option[Column] = None): DataFrame =
    serve(spark, dir, readMeta(spark, dir), queries, pq = false, k, beam, steps, entries,
      maxDriverFrontier, maxBroadcastFrontier, candidateFilter)

  /** [[search]] (`pq` false) or [[searchPq]] (`pq` true): one regime
    * choice, one driver walk, one distributed walk; the two differ in
    * the edge payload, the scorer and the PQ rerank. */
  private def serve(spark: SparkSession, dir: String, meta: Meta, queries: DataFrame,
                    pq: Boolean, k: Int, beam: Int, steps: Int, entries: Int,
                    maxDriverFrontier: Int, maxBroadcastFrontier: Long,
                    candidateFilter: Option[Column]): DataFrame = {
    // node-level delete tombstones mask AUTOMATICALLY on every serve
    // path — a deleted vector must never be returned, whoever calls
    val delMask = deleteMask(spark, dir)
    val edges = liveEdges(spark, dir, Some(meta))
    // round 0's entry points (id, v, nrm), deleted ones excluded (the
    // candidateFilter starts at round 1): the masked serve then equals
    // the post-compaction serve, where the entry row is gone
    val ent = maskDeleted(readEntries(spark, dir, meta.vecType)
      .where(col("id") < math.min(entries, meta.entryCap)), "id", delMask)
    val subDim = meta.dim / meta.pqM
    lazy val cb = spark.read.schema(s"code bigint, sub int, cv ${meta.vecType}")
      .parquet(s"$dir/codebook")
    // PQ entry payloads: a frozen-codebook encode (deterministic —
    // identical to the stored codes)
    lazy val entC = pqCodesArr(ent, cb, meta.pqM, subDim)
      .select(col("id").as("node"), col("codes").as("dcodes"))
    // the id-bucketed node table: the PQ rerank's one fetch of raw vectors
    lazy val nodesTbl = spark.read.schema(s"id bigint, v ${meta.vecType}, nrm double, nb bigint")
      .parquet(s"$dir/nodes")
    val q = queries.select(col("query_id").cast("long"), col("qv"))
    // ONE job sizes AND fetches the batch (the deleteMask pattern):
    // qCap+1 rows mean the frontier bound nq·max(beam, entries) would
    // exceed maxDriverFrontier
    val qCap =
      if (maxDriverFrontier < 0) -1
      else math.min(maxDriverFrontier / math.max(1, math.max(beam, entries)), Int.MaxValue - 1)
    val qRows = q.limit(qCap + 1).collect()
    if (qRows.length <= qCap) {
      // sorted by id: the order the ranked rows come back in
      val byId = qRows.indices.toArray.groupBy(qRows(_).getLong(0)).toArray.sortBy(_._1)
      val raw = rawBatch(qRows, byId, q.schema("qv").dataType, meta)
      val ranked =
        if (!pq) walkOnDriver(spark,
          maskDeleted(edges.select(col("src"), col("dst"), col("dv"), col("dnrm")), "dst", delMask),
          raw, ent, k, beam, steps, candidateFilter)
        else {
          // each query ROW's LUT, keyed by its index in qRows: the terms
          // project over local rows, which Spark evaluates on the driver
          val cbRows = cb.where(col("sub").between(0, meta.pqM - 1)).collect()
          val luts = spark.createDataFrame(java.util.Arrays.asList(
              (for (i <- qRows.indices; c <- cbRows) yield Row(i, qRows(i).get(1), c.get(0),
                c.get(1), c.get(2))): _*),
              StructType(StructField("key", IntegerType) +: q.schema("qv") +: cb.schema.fields))
            .select(col("key"), col("sub"), col("code"), lutTerm(subDim)).collect()
            .groupBy(_.getInt(0)).map { case (i, rs) => i -> adcTerms(rs.sortBy(r =>
              (r.getInt(1), r.getLong(2))).map(_.get(3).asInstanceOf[java.lang.Double])) }
          // the last step keeps every distinct candidate, own id dropped
          val cands = walkOnDriver(spark,
            maskDeleted(edges.select(col("src"), col("dst"), col("dcodes"), lit(0.0)), "dst", delMask),
            PqBatch(raw.ids, byId.map(_._2.map(luts.get(_).orNull)), meta.nCodes),
            entC.select(col("node"), col("dcodes"), lit(0.0)), Int.MaxValue, beam, steps,
            candidateFilter)
          // one partition- and row-group-pruned fetch of the DISTINCT
          // candidate ids, then the full-precision rerank
          val ids = cands.flatMap(_.map(_._2)).distinct
          val vecs = LongMap.from(if (ids.isEmpty) Nil else collectEdges(nodesTbl
              .where(col("nb").isin(ids.map(Math.floorMod(_, meta.pBuckets.toLong)).distinct: _*) &&
                col("id").isin(ids: _*))
              .select(col("id"), col("v"), col("nrm"))).map(e => e.dst -> e))
          Array.tabulate(raw.ids.length) { i =>
            TopKAgg.cut(for ((_, n) <- cands(i); e <- vecs.get(n).toSeq; j <- 0 until raw.width(i);
                             s <- Option(raw.sim(i, j, e))) yield (s.doubleValue, n), k, dedupIds = true)
          }
        }
      spark.createDataFrame(java.util.Arrays.asList(
        (for (i <- raw.ids.indices; ((s, n), r) <- ranked(i).zipWithIndex)
          yield Row(raw.ids(i), n, r + 1L, s)): _*), RankedSchema)
    } else {
      // the query table (query_id, qv, qnrm), pinned behind one hash
      // exchange so every step reads the same rows
      val qd = pinned(q.select(col("query_id"), col("qv"), norm(col("qv")).as("qnrm"))
        .repartition(col("query_id")))
      val nq = qd.count()
      // raw: cosine against (qv, qnrm). PQ: ADC against each query
      // vector's LUT, keyed by the whole (query_id, qv) so a repeated
      // id keeps one LUT per vector
      val (side, sim, payload, entP) =
        if (!pq) (qd, SimCol, Seq(col("dv"), col("dnrm")),
          ent.select(col("id").as("node"), col("v").as("dv"), col("nrm").as("dnrm")))
        else (pinned(qd.select(struct(col("query_id"), col("qv")).as("key"), col("qv"))
            .distinct().crossJoin(broadcast(cb.where(col("sub").between(0, meta.pqM - 1))))
            .select(col("key"), col("sub"), col("code"), lutTerm(subDim))
            .groupBy(col("key"))
            .agg(sort_array(collect_list(struct(col("sub"), col("code"), col("lv")))).as("scl"))
            .select(col("key.query_id").as("query_id"), expr("transform(scl, x -> x.lv)").as("lutv"))),
          adcCol(meta.nCodes), Seq(col("dcodes")), entC)
      def score(cand: DataFrame): DataFrame =
        cand.join(sized(side, nq, maxBroadcastFrontier), Seq("query_id"))
          .select(col("query_id"), col("node"), sim)
      val last = walkDistributed(meta, edges, payload,
        score(qd.select(col("query_id")).crossJoin(entP)), score,
        nq * math.max(beam, entries), beam, steps, maxBroadcastFrontier, candidateFilter, delMask)
      // the final candidate union still carries duplicate (query, node)
      // rows; a repeated query_id gives them different sims. The
      // DISTINCT-id rank keeps each node's best sim over all the id's
      // vectors, and its partial cuts merge exactly
      Similarity.rankTopK(
        if (!pq) last.where(col("node") =!= col("query_id"))
          .select(col("query_id"), col("node").as("neighbor_id"), col("sim"))
        else
          // full-precision rerank from the id-bucketed node table: the
          // candidate union (~nq·beam·degree rows, NOT frontier-bounded)
          // dedups once and shuffles into the fetch
          nodesTbl.join(last.select(col("query_id"), col("node")).distinct().hint("merge"),
              col("node") === col("id"))
            .join(sized(qd, nq, maxBroadcastFrontier), Seq("query_id"))
            .where(col("node") =!= col("query_id"))
            .select(col("query_id"), col("node").as("neighbor_id"),
              round(cosinePrenormed(dot(col("qv"), col("v")), col("qnrm"), col("nrm")), 6)
                .as("sim")), k, dedup = true)
    }
  }

  /** A search's result: [[Similarity.rankTopK]]'s output schema. */
  private val RankedSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("neighbor_id", LongType), StructField("rank", LongType, nullable = false),
    StructField("sim", DoubleType)))

  /** A candidate's score in SQL, over (qv, qnrm) and (dv, dnrm). */
  private val SimCol =
    round(cosinePrenormed(dot(col("qv"), col("dv")), col("qnrm"), col("dnrm")), 6).as("sim")

  /** The walk's scorer, evaluated outside SQL: exactly
    * `round(cosinePrenormed(dot(q, d), qnrm, dnrm), 6)` — the same
    * [[NativeExprs.dotProductEval]] fold, the `nzProduct` NULL for a
    * zero-norm side (null here; [[TopKAgg]] drops it the same way)
    * and Spark's double `round` (6-dp HALF_UP over the shortest
    * decimal repr). GraphAnnWalkSpec pins it bit-equal to the SQL form. */
  private[graft] def walkSim(q: ArrayData, qFloat: Boolean, qnrm: Double,
                             d: ArrayData, dFloat: Boolean, dnrm: Double): java.lang.Double = {
    val p = qnrm * dnrm
    if (p == 0.0) null
    else {
      val c = NativeExprs.dotProductEval(q, d, qFloat, dFloat) / p
      if (c.isNaN || c.isInfinite) c
      else java.math.BigDecimal.valueOf(c)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
  }

  /** A PQ LUT term over (qv, sub, cv): round(sub-vector · codeword,
    * 6). A query's LUT lists its terms in (sub, code) order, so term
    * sub·nCodes + code is the one code `code` of sub `sub` picks. */
  private def lutTerm(subDim: Int): Column =
    round(dot(slice(col("qv"), col("sub") * subDim + 1, lit(subDim)), col("cv")), 6).as("lv")

  /** The PQ walk's ADC score in SQL over (lutv, dcodes): each code
    * picks its LUT term, and the terms sum as exact decimals. */
  private[graft] def adcCol(nCodes: Int): Column =
    expr(s"""cast(aggregate(
      transform(dcodes, (c, s) -> element_at(lutv, cast(s * $nCodes + c + 1 as int))),
      cast(0 as decimal(28,6)),
      (acc, v) -> cast(acc + cast(v as decimal(18,6)) as decimal(28,6)),
      acc -> acc) as double)""").as("sim")

  private val NullTerm = Long.MinValue // a NULL LUT term

  /** A LUT as [[adcSim]] reads it: each term's `cast(v as
    * decimal(18,6))` as its unscaled long (HALF_UP over the shortest
    * decimal repr, the repr Spark casts a double from). A term beyond
    * decimal(18,6) fails, as the ANSI cast does. */
  private[graft] def adcTerms(lutv: Seq[java.lang.Double]): Array[Long] =
    lutv.toArray.map { v =>
      if (v == null) NullTerm
      else {
        val u = java.math.BigDecimal.valueOf(v.doubleValue)
          .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
        if (math.abs(u) >= 1000000000000000000L)
          throw new ArithmeticException(s"LUT term $v overflows decimal(18,6)")
        u
      }
    }

  /** [[adcCol]] outside SQL, over [[adcTerms]]: decimal addition is
    * exact, so the unscaled terms add with `addExact` in sub order, and
    * the sum becomes a double as Spark casts `decimal(28,6)` to double
    * (`BigDecimal.doubleValue`). A NULL code or term scores NULL.
    * GraphAnnWalkSpec pins it bit-equal to the SQL form. */
  private[graft] def adcSim(terms: Array[Long], nCodes: Int, codes: ArrayData): java.lang.Double = {
    if (terms == null || codes == null) return null
    var acc = 0L
    var s = 0
    while (s < codes.numElements()) {
      if (codes.isNullAt(s)) return null
      val t = terms(Math.toIntExact(s.toLong * nCodes + codes.getLong(s)))
      if (t == NullTerm) return null
      acc = Math.addExact(acc, t)
      s += 1
    }
    java.math.BigDecimal.valueOf(acc, 6).doubleValue()
  }

  private def isFloatVec(t: DataType): Boolean =
    t match { case ArrayType(FloatType, _) => true; case _ => false }

  /** One out-edge in the search-time adjacency cache: the destination
    * and its payload, (dv, dnrm) for the raw walk and (dcodes, unused)
    * for the PQ walk. A NULL payload scores NULL. */
  private final case class Edge(dst: Long, d: ArrayData, dnrm: Double)

  /** The query batch as the step tasks read it: one entry per distinct
    * query_id, holding every vector the batch gave that id. A repeated
    * id walks as ONE query whose candidates score against each of its
    * vectors, as the distributed regime's join on query_id scores them.
    * `sim` scores query i's j-th vector against an edge's payload. */
  private sealed trait QueryBatch extends Serializable {
    def ids: Array[Long]
    def width(i: Int): Int
    def sim(i: Int, j: Int, e: Edge): java.lang.Double
  }

  /** Cosine against raw vectors ([[walkSim]]). */
  private final case class RawBatch(ids: Array[Long], vecs: Array[Array[ArrayData]],
                                    isFloat: Boolean, nrms: Array[Array[Double]],
                                    dFloat: Boolean) extends QueryBatch {
    def width(i: Int): Int = vecs(i).length
    def sim(i: Int, j: Int, e: Edge): java.lang.Double =
      if (vecs(i)(j) == null || e.d == null) null
      else walkSim(vecs(i)(j), isFloat, nrms(i)(j), e.d, dFloat, e.dnrm)
  }

  /** ADC against PQ codes ([[adcSim]]); a vector with no LUT scores NULL. */
  private final case class PqBatch(ids: Array[Long], terms: Array[Array[Array[Long]]],
                                   nCodes: Int) extends QueryBatch {
    def width(i: Int): Int = terms(i).length
    def sim(i: Int, j: Int, e: Edge): java.lang.Double = adcSim(terms(i)(j), nCodes, e.d)
  }

  /** The batch `byId` groups (id → its row indices in `qRows`). */
  private def rawBatch(qRows: Array[Row], byId: Array[(Long, Array[Int])], qvType: DataType,
                       meta: Meta): RawBatch = {
    val toQ = CatalystTypeConverters.createToCatalystConverter(qvType)
    val vecs = byId.map(_._2.map(r => toQ(qRows(r).get(1)).asInstanceOf[ArrayData]))
    val qFloat = isFloatVec(qvType)
    RawBatch(byId.map(_._1), vecs, qFloat, vecs.map(_.map(v =>
        if (v == null) Double.NaN else math.sqrt(NativeExprs.dotProductEval(v, v, qFloat, qFloat)))),
      isFloatVec(DataType.fromDDL(meta.vecType)))
  }

  /** The (query_id, node, sim) rows a beam step scores and cuts. */
  private val ScoreSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("node", LongType), StructField("sim", DoubleType)))

  /** `candidateFilter` resolved once against (query_id, node, sim) and
    * bound to those ordinals, for evaluation outside a SQL plan. */
  private def boundFilter(spark: SparkSession, filter: Column): Expression = {
    val analyzed = spark.createDataFrame(java.util.Collections.emptyList[Row](), ScoreSchema)
      .where(filter).queryExecution.analyzed
    val f = ReplaceExpressions(analyzed).collectFirst { case f: Filter => f }.get
    BindReferences.bindReference(f.condition, f.child.output)
  }

  private def predicate(filter: Option[Expression]): Option[BasePredicate] =
    filter.map { e =>
      val p = Predicate.create(e)
      p.initialize(Option(TaskContext.get()).fold(0)(_.partitionId()))
      p
    }

  /** Does (qid, node, sim) pass the filter? `row` is scratch space. */
  private def passes(pred: Option[BasePredicate], row: SpecificInternalRow,
                     qid: Long, node: Long, sim: Double): Boolean =
    pred.forall { p =>
      row.setLong(0, qid); row.setLong(1, node); row.setDouble(2, sim)
      p.eval(row)
    }

  /** One beam step over this task's adjacency partitions: expand each
    * query's frontier, score the out-edges against the query's
    * vectors, filter, and cut to the query's top-`cut` distinct nodes
    * (the [[TopKAgg]] order). With `dropSelf` (the last step) a query's
    * own id is never a candidate. */
  private def stepTask(parts: Iterator[LongMap[Array[Edge]]], qs: QueryBatch,
                       frontier: Array[Array[Long]], cut: Int, dropSelf: Boolean,
                       filter: Option[Expression]): Array[Array[(Double, Long)]] = {
    val pred = predicate(filter)
    val row = new SpecificInternalRow(ScoreSchema.map(_.dataType))
    val out = Array.fill(qs.ids.length)(ArrayBuffer.empty[(Double, Long)])
    parts.foreach { adj =>
      var i = 0
      while (i < qs.ids.length) {
        val qid = qs.ids(i)
        frontier(i).foreach { u =>
          adj.get(u).foreach(_.foreach { e =>
            if (!(dropSelf && e.dst == qid)) (0 until qs.width(i)).foreach { j =>
              val s = qs.sim(i, j, e)
              if (s != null && passes(pred, row, qid, e.dst, s)) out(i) += ((s, e.dst))
            }
          })
        }
        i += 1
      }
    }
    out.map(TopKAgg.cut(_, cut, dedupIds = true).toArray)
  }

  /** The driver regime: the query batch and each step's frontier
    * (≤ nq·max(beam, entries) rows) live on the driver. Round 0 scores
    * the entry rows `ent` (id, payload, norm) × queries on the driver;
    * each of steps 1 to `steps` is ONE `runJob` over a per-search cached
    * adjacency RDD (src → its out-edges, built by the first step from
    * the (src, dst, payload, norm) rows of `payload`), with the queries
    * and the frontier shipped by broadcast. Tasks cut per-query top
    * lists; the driver merges them with the frontier rows. Steps 1 to
    * steps-1 cut at `beam`; the last step drops each query's own id and
    * cuts at `last`. With `steps` < 1 the answer is round 0's entries.
    * Returns each query's list, in `qs.ids` order. */
  private def walkOnDriver(spark: SparkSession, payload: DataFrame, qs: QueryBatch,
                           ent: DataFrame, last: Int, beam: Int, steps: Int,
                           candidateFilter: Option[Column]): Array[ArrayBuffer[(Double, Long)]] = {
    val sc = spark.sparkContext
    val nq = qs.ids.length
    // round 0: every (query vector, entry) pair, NULL sims kept — an
    // entry with an undefined score is still expanded at step 1
    val entEdges = collectEdges(ent)
    var frontier: Array[Array[(Long, java.lang.Double)]] = Array.tabulate(nq) { i =>
      for (e <- entEdges; j <- 0 until qs.width(i)) yield e.dst -> qs.sim(i, j, e)
    }
    val row = new SpecificInternalRow(ScoreSchema.map(_.dataType))
    // query i's frontier rows, filtered like every candidate (round-0
    // entries included), merged with the step tasks' lists and cut
    def merge(i: Int, lists: Seq[Array[(Double, Long)]], cut: Int, dropSelf: Boolean,
              pred: Option[BasePredicate]): ArrayBuffer[(Double, Long)] = {
      val buf = ArrayBuffer.empty[(Double, Long)]
      frontier(i).foreach { case (n, s) =>
        if (s != null && !(dropSelf && n == qs.ids(i)) && passes(pred, row, qs.ids(i), n, s))
          buf += ((s.doubleValue, n))
      }
      lists.foreach(buf ++= _)
      TopKAgg.cut(buf, cut, dedupIds = true)
    }
    // with no step, the candidates are round 0's rows, unfiltered
    if (steps < 1) Array.tabulate(nq)(merge(_, Nil, last, dropSelf = true, None))
    else {
      val filter = candidateFilter.map(boundFilter(spark, _))
      val pred = predicate(filter)
      val cached = payload.queryExecution.toRdd.mapPartitions { rows =>
          val bySrc = LongMap.empty[ArrayBuffer[Edge]]
          rows.foreach { r =>
            // a NULL payload or norm scores NULL, which every cut drops
            if (!r.isNullAt(2) && !r.isNullAt(3))
              bySrc.getOrElseUpdate(r.getLong(0), ArrayBuffer.empty) +=
                Edge(r.getLong(1), r.getArray(2).copy(), r.getDouble(3))
          }
          Iterator.single(bySrc.mapValuesNow(_.toArray))
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      val qB = sc.broadcast(qs)
      def step(cut: Int, isLast: Boolean): Array[ArrayBuffer[(Double, Long)]] = {
        val fB = sc.broadcast(frontier.map(_.map(_._1).distinct))
        val parts = try sc.runJob(cached, (it: Iterator[LongMap[Array[Edge]]]) =>
          stepTask(it, qB.value, fB.value, cut, isLast, filter))
        finally fB.destroy()
        Array.tabulate(nq)(i => merge(i, parts.map(_(i)), cut, isLast, pred))
      }
      try {
        (1 until steps).foreach { _ =>
          frontier = step(beam, isLast = false)
            .map(_.map { case (s, n) => n -> Double.box(s) }.toArray)
        }
        step(last, isLast = true)
      } finally {
        cached.unpersist(blocking = false)
        qB.destroy()
      }
    }
  }

  /** (id, payload, norm) rows collected as [[Edge]]s; a NULL norm
    * nulls the payload. */
  private def collectEdges(df: DataFrame): Array[Edge] = {
    val toC = CatalystTypeConverters.createToCatalystConverter(df.schema(1).dataType)
    df.collect().map(r => Edge(r.getLong(0),
      if (r.isNullAt(1) || r.isNullAt(2)) null else toC(r.get(1)).asInstanceOf[ArrayData],
      if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
  }

  /** Every nq-proportional side is SIZE-ROUTED: broadcast below
    * `maxBroadcastFrontier` rows, sort-merge shuffle above — a
    * broadcast() collects to the driver and ships whole to every
    * executor, the exact materialization the distributed regime exists
    * to avoid (the Scraper.crawlFrontier dual). */
  private def sized(df: DataFrame, rows: Long, maxBroadcastFrontier: Long): DataFrame =
    if (rows <= maxBroadcastFrontier) broadcast(df) else df.hint("merge")

  /** `df` cut from its plan WITHOUT a persisted copy: the rows come
    * from `df`'s executed RDD, so a later plan reads its shuffle
    * outputs (Spark skips a shuffle stage whose outputs exist) rather
    * than re-planning `df`, and nothing lands in the block store. */
  private def pinned(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** The distributed regime, shared by the raw and the PQ walks: the
    * frontier stays a distributed DataFrame and the query table is
    * never collected. `scored0` is round 0's (query_id, node, sim)
    * rows; each step expands the frontier over the live edges with the
    * `payload` columns, and `score` turns (query_id, node, payload)
    * rows into (query_id, node, sim). Returns the last step's (query_id,
    * node, sim) candidate union. */
  private def walkDistributed(meta: Meta, liveEdgeDf: DataFrame, payload: Seq[Column],
                              scored0: DataFrame, score: DataFrame => DataFrame,
                              frontierBound: Long, beam: Int, steps: Int,
                              maxBroadcastFrontier: Long, candidateFilter: Option[Column],
                              delMask: Option[Either[Array[Long], DataFrame]]): DataFrame = {
    // pin the walk's edge columns: the pb filters sit ABOVE the cached
    // relation, so the first probe caches the whole live edge table and
    // later probes hit memory. persist() keeps the LOGICAL plan, so the
    // lazy result re-reads index bytes once unpersist below has run.
    val edges = liveEdgeDf.select(Seq(col("src"), col("dst"), col("pb")) ++ payload: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var beamScored = pinned(scored0)
    var lastScored: DataFrame = beamScored
    (1 to steps).foreach { step =>
      // the pb prune still applies — the frontier's distinct pb set is
      // ≤ pBuckets rows, one cheap per-round aggregate — and the probe
      // is size-routed on `frontierBound`, the ANALYTIC frontier bound
      // nq·max(beam, entries), so routing costs no job. One pruned edge
      // scan per step, never the corpus.
      val pbs = beamScored
        .select(pmod(col("node"), lit(meta.pBuckets.toLong)).as("fpb"))
        .distinct().collect().map(_.getLong(0))
      val expanded = sized(beamScored.select(col("query_id"), col("node")), frontierBound,
          maxBroadcastFrontier)
        .join(edges.where(col("pb").isin(pbs: _*)), col("node") === col("src"))
        .select(Seq(col("query_id"), col("dst").as("node")) ++ payload: _*)
      // the per-round dedup is fused into the beam cut: score
      // everything, and the DISTINCT-id top-k aggregate keeps each
      // node's best sim (a repeated query_id scores a node once per
      // vector) inside its one exchange
      val unioned = beamScored.select(col("query_id"), col("node"), col("sim"))
        .unionByName(score(expanded))
      val scoredRound = maskDeleted(
          candidateFilter.fold(unioned)(unioned.where), "node", delMask)
      lastScored = scoredRound
      if (step < steps)
        beamScored = pinned(scoredRound.groupBy(col("query_id"))
          .agg(TopKAgg.topKDistinct(col("sim"), col("node"), beam).as("top"))
          .select(col("query_id"), explode(col("top")).as("t"))
          .select(col("query_id"), col("t.id").as("node"), col("t.score").as("sim")))
    }
    edges.unpersist(false)
    lastScored
  }

  /** Self-query serving: queries are the index's own lowest
    * `nQueries` ids, fetched from the ENTRIES table — the whole
    * search runs off the persisted layout. */
  def searchSelf(spark: SparkSession, dir: String, nQueries: Int = 5,
                 k: Int = 10, beam: Int = 32, steps: Int = 8,
                 entries: Int = 16, maxDriverFrontier: Int = 100000,
                 maxBroadcastFrontier: Long = 1000000L): DataFrame =
    serveSelf(spark, dir, pq = false, nQueries, k, beam, steps, entries, maxDriverFrontier,
      maxBroadcastFrontier)

  private def serveSelf(spark: SparkSession, dir: String, pq: Boolean, nQueries: Int,
                        k: Int, beam: Int, steps: Int, entries: Int,
                        maxDriverFrontier: Int, maxBroadcastFrontier: Long): DataFrame = {
    // the query frame below reads entries/ BEFORE serve() runs its
    // own recovery — heal a torn reclaim swap first
    recoverCompaction(spark, dir)
    val meta = readMeta(spark, dir)
    serve(spark, dir, meta,
      readEntries(spark, dir, meta.vecType)
        .select(col("id").as("query_id"), col("v").as("qv"))
        .where(col("query_id") < nQueries),
      pq, k, beam, steps, entries, maxDriverFrontier, maxBroadcastFrontier, None)
  }

  /** PQ-compressed serving over the SAME persisted layout (the
    * DiskANN memory model — the SQL reference PQ walk,
    * `GraphWalkReference.graphPqTopK` in the test sources, spells out
    * the algorithm): the beam walk reads ONLY (src, dst, dcodes) from
    * the edge table — COLUMN PRUNING is the footprint win, the
    * pqM-codes payload instead of `dim` doubles both on disk and in
    * the walk's working set — scores by asymmetric distance (ADC:
    * each query vector's LUT of 6-dp sub-vector · codeword terms,
    * summed as exact decimals), and reranks the final candidate set at
    * full precision from the id-bucketed `nodes/` table. It runs on
    * [[search]]'s two walks with the ADC scorer and the codes as the
    * edge payload. In the driver regime the last step keeps every
    * distinct candidate, one partition-pruned `nodes/` fetch brings
    * their vectors, and the rerank and the top-k cut run on the
    * driver: the result is a local relation. In the distributed regime
    * the rerank is a lazy join against `nodes/`, ranked by
    * [[Similarity.rankTopK]]. Rows that share a query_id rank as one
    * query, as in [[search]]. Bit-identical to the reference walk on
    * the same corpus and parameters. */
  def searchPq(spark: SparkSession, dir: String, queries: DataFrame,
               k: Int = 10, beam: Int = 32, steps: Int = 8, entries: Int = 16,
               maxDriverFrontier: Int = 100000,
               maxBroadcastFrontier: Long = 1000000L,
               candidateFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    serve(spark, dir, readMeta(spark, dir), queries, pq = true, k, beam, steps, entries,
      maxDriverFrontier, maxBroadcastFrontier, candidateFilter)

  /** Self-query PQ serving: queries from the entries table, the
    * whole search off the persisted layout. */
  def searchPqSelf(spark: SparkSession, dir: String, nQueries: Int = 5,
                   k: Int = 10, beam: Int = 32, steps: Int = 8,
                   entries: Int = 16, maxDriverFrontier: Int = 100000,
                   maxBroadcastFrontier: Long = 1000000L): DataFrame =
    serveSelf(spark, dir, pq = true, nQueries, k, beam, steps, entries, maxDriverFrontier,
      maxBroadcastFrontier)

  /** The DISTINCT live (src, dst) set — the spec surface for
    * rebuild-equivalence proofs. */
  private[graft] def liveEdgeSet(spark: SparkSession, dir: String): DataFrame =
    liveEdges(spark, dir).select(col("src"), col("dst")).distinct()

  /** Out-degree histogram of the DISTINCT live edge set, read from
    * the persisted bytes — the build's verifiable surface (a healthy
    * small-world graph concentrates around m·2+backbone; one giant
    * or empty degree bucket means the hash mis-fit). */
  def stats(spark: SparkSession, dir: String): DataFrame =
    liveEdges(spark, dir)
      .select(col("src"), col("dst")).distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg").as("out_degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("out_degree"))

  /** Compact the tombstone debt away WITHOUT retraining: rewrite
    * `edges/` to exactly the LIVE edge rows at generation 0, drop
    * `retired/`. The applied-increments chain in meta is PRESERVED —
    * replayed increments must keep skipping — and a post-compaction
    * increment's generation is still strictly above 0, so masking
    * stays correct. Buckets/entries/planes are untouched (this is
    * maintenance of the MASK, not the model; retraining remains a
    * scheduled [[buildAndSave]]).
    *
    * Crash contract (single maintainer): the live rows land fully in
    * a stage dir sealed with a marker BEFORE the live dir is
    * replaced, and retired/ is deleted WHILE edges/ is still absent
    * — order: seal stage → delete edges/ → delete retired/ → rename
    * stage→edges. Every crash inside that window leaves (no edges/,
    * sealed stage), which [[recoverCompaction]] heals by replaying
    * the same tail. The old order (rename before the retired/
    * delete) had an unhealable window: compacted gen-0 edges live
    * with stale tombstones still masking them — recovery can't fire
    * (edges/ exists) and the NEXT compaction would rewrite edges/
    * from the masked view, losing those lists permanently. */
  def compactTombstones(spark: SparkSession, dir: String): Boolean = {
    val hfs = fs(spark, dir)
    recoverCompaction(spark, dir)
    val gens = readMeta(spark, dir).appliedFps.size
    val del = deletedDf(spark, dir)
    val hasRetired = retiredDf(spark, dir, gens).exists(_.limit(1).count() > 0)
    if (!hasRetired && del.isEmpty) return false
    // the live edge set MINUS everything incident to a deleted node
    // (src, dst, or owner — the walk can never probe them again, and
    // a later increment must not resurrect them via buckets/)
    def minusDel(df: DataFrame, cols: Seq[String]): DataFrame =
      del.fold(df) { dl =>
        cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
          acc.join(dl.select(col("id").as(s"__d$i")),
            col(c) === col(s"__d$i"), "left_anti")
        }
      }
    val stage = new Path(s"$dir/.gixcompact")
    hfs.delete(stage, true)
    minusDel(liveEdges(spark, dir), Seq("src", "dst", "owner"))
      .withColumn("gen", lit(0))
      .select(col("src"), col("dst"), col("dv"), col("dnrm"), col("dcodes"),
        col("kind"), col("owner"), col("gen"), col("pb"))
      .repartition(col("pb"))
      .write.mode("overwrite").partitionBy("pb").parquet(stage.toString)
    require(hfs.createNewFile(new Path(stage, "_GIX_SEALED")),
      s"could not seal compaction stage $stage")
    hfs.delete(new Path(s"$dir/edges"), true)
    hfs.delete(new Path(s"$dir/retired"), true)
    // tolerate a reader's recoverCompaction having healed the swap
    // concurrently: the committed state is what matters, not who
    // performed the rename
    if (!hfs.rename(stage, new Path(s"$dir/edges")))
      require(hfs.exists(new Path(s"$dir/edges")) && !hfs.exists(stage),
        s"could not swap compacted edges into $dir")
    // ── node-delete RECLAIM: entries (walk seeds), buckets (so a
    // later increment can never link to a dead node), nodes (the PQ
    // rerank fetch + the disk the delete promised back). Each swap
    // is staged+sealed and healable; deleted/ drops LAST, so every
    // crash point before it still serves correctly off the mask, and
    // a re-run completes the remainder idempotently. ──
    del.foreach { dl =>
      def reclaim(sub: String, partCol: Option[String]): Unit = {
        val src = new Path(s"$dir/$sub")
        if (!hfs.exists(src)) return
        val st = new Path(s"$dir/.gixdel-$sub")
        hfs.delete(st, true)
        val kept = spark.read.parquet(src.toString)
          .join(dl.select(col("id").as("__del")), col("id") === col("__del"), "left_anti")
          .drop("__del")
        val w = partCol.fold(kept.coalesce(1))(c => kept.repartition(col(c)))
          .write.mode("overwrite")
        partCol.fold(w)(c => w.partitionBy(c)).parquet(st.toString)
        require(hfs.createNewFile(new Path(st, "_GIX_SEALED")),
          s"could not seal reclaim stage $st")
        hfs.delete(src, true)
        if (!hfs.rename(st, src))
          require(hfs.exists(src) && !hfs.exists(st),
            s"could not swap reclaimed $sub into $dir")
      }
      reclaim("entries", None)
      reclaim("buckets", Some("tbl"))
      reclaim("nodes", Some("nb"))
      hfs.delete(new Path(s"$dir/deleted"), true)
    }
    true
  }

  /** Finish a compaction whose process died after the live-dir
    * delete: the sealed stage IS the live edge set. Replays the
    * commit tail in [[compactTombstones]] order — retired/ goes
    * while edges/ is still absent, so a crash DURING recovery lands
    * back in the same healable state. Called from
    * [[compactTombstones]] and [[liveEdges]]. */
  private def recoverCompaction(spark: SparkSession, dir: String): Unit = {
    val hfs = fs(spark, dir)
    val stage = new Path(s"$dir/.gixcompact")
    val edges = new Path(s"$dir/edges")
    if (!hfs.exists(edges) && hfs.exists(new Path(stage, "_GIX_SEALED"))) {
      hfs.delete(new Path(s"$dir/retired"), true)
      if (!hfs.rename(stage, edges))
        require(hfs.exists(edges) && !hfs.exists(stage),
          s"compaction recovery rename failed in $dir")
    }
    // heal a torn delete-reclaim swap the same way: a sealed stage
    // with its live dir absent IS the live dir. deleted/ still
    // exists at every such crash point, so serving stayed correct
    // throughout; the next compactTombstones call finishes the rest.
    Seq("entries", "buckets", "nodes").foreach { sub =>
      val st = new Path(s"$dir/.gixdel-$sub")
      val live = new Path(s"$dir/$sub")
      if (!hfs.exists(live) && hfs.exists(new Path(st, "_GIX_SEALED"))) {
        if (!hfs.rename(st, live))
          require(hfs.exists(live) && !hfs.exists(st),
            s"delete-reclaim recovery rename failed for $sub in $dir")
      }
    }
  }

  /** Ensure `dir` holds the index GROWN from an 80% base build (at
    * the capacity-sized hash for the FULL corpus) plus the 20%
    * increment — the maintenance-lifecycle state the compaction
    * serving entry consumes. Fingerprint-guarded like [[ensureBuilt]]
    * (base corpus fingerprint in meta), and [[appendIncremental]] is
    * idempotent per increment fingerprint, so a warm call does zero
    * corpus work. [[compactTombstones]] preserves BOTH marks
    * (corpus_fp and applied_fps survive compaction), so a compacted
    * dir stays fresh — the lifecycle can cycle grow→compact→grow
    * without ever re-paying the build. */
  def ensureGrown(emb: DataFrame, dir: String, pBuckets: Int = 8,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val base = emb.where(col(idCol) < n * 4 / 5)
    val inc = emb.where(col(idCol) >= n * 4 / 5)
    val fresh = fs(spark, dir).exists(new Path(s"$dir/meta")) &&
      (try readMeta(spark, dir).corpusFp == ZoneCache.corpusFingerprint(base)
       catch { case scala.util.control.NonFatal(_) => false })
    if (!fresh)
      buildAndSave(base, dir, nbits = bits, pBuckets = pBuckets,
        idCol = idCol, vecCol = vecCol)
    appendIncremental(inc, dir, idCol = idCol, vecCol = vecCol)
  }

  /** Incrementally add `newEmb` WITHOUT a rebuild, preserving
    * EXACT rebuild equivalence: new vectors hash into the FROZEN
    * buckets; every node sharing a bucket with a new vector — and
    * only those — gets its adjacency list recomputed against the
    * grown assignment (bit-equal to what a from-scratch build at the
    * frozen nbits would give it, see [[Similarity.localLists]]);
    * replaced lists are masked by tombstone, new lists and backbone
    * links append. Cost is O(affected·occupancy), never O(index).
    *
    * Crash/retry contract ([[AnnIndex.appendIncremental]] pattern):
    * every file this increment writes carries a name derived from
    * its id; a retry first sweeps leftovers of the crashed attempt,
    * and meta (the idempotence marker) commits LAST. Idempotent per
    * increment id — a replayed append is skipped. Single concurrent
    * maintainer assumed, as for every layout-maintenance op here. */
  def appendIncremental(newEmb: DataFrame, dir: String,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        incrementId: Option[String] = None): Boolean = {
    val spark = newEmb.sparkSession
    import spark.implicits._
    val meta = readMeta(spark, dir)
    val fp = incrementId.getOrElse(ZoneCache.corpusFingerprint(newEmb))
    if (meta.appliedFps.contains(fp)) return false
    val gen = meta.appliedFps.size + 1
    val fp8 = java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val hfs = fs(spark, dir)
    // sweep any leftovers of a crashed attempt of THIS increment
    Seq("edges", "buckets", "nodes").foreach { sub =>
      val root = new Path(s"$dir/$sub")
      if (hfs.exists(root))
        hfs.listStatus(root).filter(_.isDirectory).foreach { d =>
          hfs.listStatus(d.getPath)
            .filter(_.getPath.getName.startsWith(s"inc-$fp8-"))
            .foreach(st => hfs.delete(st.getPath, false))
        }
    }
    val entriesRoot = new Path(s"$dir/entries")
    if (hfs.exists(entriesRoot))
      hfs.listStatus(entriesRoot)
        .filter(_.getPath.getName.startsWith(s"inc-$fp8-"))
        .foreach(st => hfs.delete(st.getPath, false))
    hfs.delete(new Path(s"$dir/retired/ret-$fp8"), true)

    val newAssign = Similarity
      .bucketAssign(newEmb, meta.nBits, meta.tables, meta.dim, idCol, vecCol)
      .localCheckpoint(true) // increment-sized; hashed once
    val oldAssign = loadBuckets(spark, dir, meta.vecType)
    val grown = oldAssign.unionByName(newAssign.select(
      col("id"), col("v"), col("nrm"), col("tbl"), col("bucket")))
    val affBuckets = newAssign.select(col("tbl"), col("bucket")).distinct()
    val affNodes = grown
      .join(broadcast(affBuckets), Seq("tbl", "bucket"), "leftsemi")
      .select(col("id")).distinct()
      .localCheckpoint(true) // O(new·occupancy) ids
    // round 15 (guide §2.2): the increment is O(affected·occupancy)
    // by contract — size every downstream shuffle from the affected
    // set, not the session conf (same rationale as buildAndSave)
    val nAff = affNodes.count()
    graft.operators.LoopShuffle.sized(spark, nAff * math.max(1, meta.m)) { _ =>
    val srcSide = grown.join(broadcast(affNodes), Seq("id"), "leftsemi")
    // materialized once (round 14): consumed by endpointIds AND both
    // listEdges branches — the affected×occupancy re-scoring is the
    // increment's dominant compute and ran three times through the
    // lineage. O(affected·m) id pairs.
    val lists = Similarity.localLists(srcSide, grown, meta.m).localCheckpoint(true)
    val nodesGrown = grown.where(col("tbl") === 0)
      .select(col("id"), col("v"), col("nrm"))
    val newIds = newAssign.where(col("tbl") === 0).select(col("id"))
    // PQ payloads only for the nodes this increment's edges touch —
    // re-encoding against the FROZEN codebook reproduces build-time
    // codes exactly, so the cost stays O(affected), never O(index)
    val cb = spark.read.parquet(s"$dir/codebook")
      .select(col("code").cast("long"), col("sub").cast("int"), col("cv"))
    // no distinct: the left-semi probe below dedups by construction
    // (round 15 — one exchange fewer)
    val endpointIds = lists.select(col("src").as("id"))
      .unionByName(lists.select(col("dst").as("id")))
      .unionByName(newIds)
      .unionByName(newIds.where(col("id") > 0)
        .select(floor(col("id") / 2).cast("long").as("id")))
    val nodesNeeded = nodesGrown.join(endpointIds, Seq("id"), "leftsemi")
      .localCheckpoint(true)
    val nodesC = nodesNeeded.join(
      pqCodesArr(nodesNeeded, cb, meta.pqM, meta.dim / meta.pqM), Seq("id"))
    // backbone src-existence gate: a new node's tree parent may have
    // been DELETED and reclaimed — treeEdges attaches only the dst
    // payload, so the (parent → new) direction would otherwise ride
    // in with the new node's vector and resurrect the dead src.
    // nodesC holds exactly the LIVE endpoints (grown ∩ endpoints,
    // increment-scale), so the semi-join is the existence oracle.
    val treeE = treeEdges(newIds, nodesC, gen)
      .join(nodesC.select(col("id").as("src")), Seq("src"), "leftsemi")
    val edgesNew = listEdges(lists, nodesC, gen)
      .unionByName(treeE)
      .withColumn("pb", pmod(col("src"), lit(meta.pBuckets.toLong)))

    def stageIn(df: DataFrame, destRoot: String, partCol: Option[String],
                sortCol: Option[org.apache.spark.sql.Column] = None): Unit = {
      val stage = new Path(s"$dir/.gixstage-$fp8-${destRoot.split('/').last}")
      // one file per partition dir (see buildAndSave) — an increment
      // should add O(partitions touched) objects, not tasks×dirs
      val staged0 = partCol.fold(df)(c => df.repartition(col(c)))
      val staged = sortCol.fold(staged0)(c => staged0.sortWithinPartitions(c))
      val w = staged.write.mode("overwrite")
      partCol.fold(w)(c => w.partitionBy(c)).parquet(stage.toString)
      var seq = 0
      def move(from: Path, to: Path): Unit = {
        hfs.mkdirs(to)
        hfs.listStatus(from).filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { st =>
            require(hfs.rename(st.getPath,
              new Path(to, s"inc-$fp8-$seq.parquet")),
              s"move failed for increment file ${st.getPath}")
            seq += 1
          }
      }
      partCol match {
        case Some(_) =>
          hfs.listStatus(stage).filter(_.isDirectory).foreach { pd =>
            move(pd.getPath, new Path(destRoot, pd.getPath.getName))
          }
        case None => move(stage, new Path(destRoot))
      }
      hfs.delete(stage, true)
    }

    // incremental edge files cluster by src too (same read-path
    // row-group pruning as the build's edges write)
    stageIn(edgesNew, s"$dir/edges", Some("pb"), sortCol = Some(col("src")))
    stageIn(newAssign.select(col("id"), col("v"), col("nrm"), col("bucket"), col("tbl")),
      s"$dir/buckets", Some("tbl"))
    stageIn(newAssign.where(col("tbl") === 0)
      .select(col("id"), col("v"), col("nrm"))
      .withColumn("nb", pmod(col("id"), lit(meta.pBuckets.toLong))),
      s"$dir/nodes", Some("nb"))
    val newEntries = newAssign.where(col("tbl") === 0 && col("id") < meta.entryCap)
      .select(col("id"), col("v"), col("nrm"))
    if (newEntries.limit(1).count() > 0)
      stageIn(newEntries.coalesce(1), s"$dir/entries", None)
    // tombstone every recomputed owner (new owners are a no-op mask:
    // they have no earlier generations), then commit via meta
    affNodes.select(col("id").as("owner"), lit(gen).as("before_gen"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/retired/ret-$fp8")
    // a double increment into a float index unions to double files
    // (the widening `grown` does); float files then read widened too
    val vecType = newEmb.schema(vecCol).dataType.catalogString
    writeMeta(spark, dir, meta.copy(appliedFps = meta.appliedFps :+ fp,
      vecType = if (vecType == meta.vecType) vecType else "array<double>"))
    true
    }
  }
}
