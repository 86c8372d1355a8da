package graft

import graft.functions.VectorFunctions._
import graft.operators.Similarity._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The graph walks as SQL plans over an edge list built from the
  * corpus: a per-step join, dedup and top-k aggregate, with
  * `localCheckpoint` between steps. [[graft.sources.GraphAnnIndex]]
  * serves from a persisted index instead; [[GraphAnnSpec]] and
  * [[GraphAnnStreamSpec]] hold its raw and PQ searches to these
  * reference walks, row for row. */
object GraphWalkReference {

  /** Greedy beam search over [[graphEdges]]: the beam seeds from
    * `entries` scattered entry points (the lowest ids — the same
    * deterministic seed family the IVF paths quantize against), then
    * `steps` rounds of expand-neighbors → score → keep the `beam`
    * best (sim DESC, node ASC; the beam re-includes itself, so it is
    * monotone), and the last round's candidate set minus the query
    * itself ranks as the answer. Each step joins a queries×beam
    * driving side (model-sized, BROADCAST) against the edge list —
    * at a billion vectors a search touches O(steps·beam·degree)
    * candidates per query, never the corpus. */
  def graphTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10,
                m: Int = 8, nbits: Int = -1, tables: Int = 4,
                beam: Int = 32, steps: Int = 8, entries: Int = 16, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val edges = graphEdges(emb, m, nbits, tables, dim, idCol, vecCol)
      .localCheckpoint(true) // walked `steps` times; built once
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val q = corpus.where(col("id") < nQueries)
      .select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    var beamDf = q.select(col("query_id"))
      .crossJoin(corpus.where(col("id") < entries).select(col("id").as("node")))
    var scored: DataFrame = null
    (1 to steps).foreach { _ =>
      val cand = beamDf.unionByName(
        broadcast(beamDf).join(edges, beamDf("node") === edges("src"))
          .select(col("query_id"), col("dst").as("node")))
        .dropDuplicates("query_id", "node")
      scored = corpus.join(broadcast(cand), col("node") === col("id"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("node"),
          round(cosinePrenormed(dot(col("qv"), col("v")), col("qnrm"), col("nrm")), 6)
            .as("sim"))
      beamDf = scored.groupBy(col("query_id"))
        .agg(graft.plans.TopKAgg.topK(col("sim"), col("node"), beam).as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t.id").as("node"))
        // pin each round's beam (≤ queries×beam rows): the iterative
        // plan would otherwise embed the previous round TWICE per
        // step (union + join) and analysis cost grows 2^steps
        .localCheckpoint(true)
    }
    rankTopK(scored.where(col("node") =!= col("query_id"))
      .select(col("query_id"), col("node").as("neighbor_id"), col("sim")), k)
  }

  /** PQ-compressed graph serving (the DiskANN memory model, Subramanya
    * et al. 2019): the beam walk is GUIDED by asymmetric-distance
    * scores over 1-byte-per-subspace codes riding ON the edge rows —
    * pqM codes instead of `dim` doubles, an 8× (64-dim) to 64×
    * (512-dim) smaller resident working set than [[graphTopK]]'s
    * inline vectors — and only the FINAL candidate set is re-scored
    * exactly against raw vectors (one bounded corpus probe, the
    * "full-precision rerank" half of the DiskANN contract).
    *
    * Per step the plan touches O(frontier·degree·pqM) edge-code rows
    * joined against the broadcast per-query LUT (q·pqM·nCodes rows)
    * — never the corpus, never the raw vectors. Codes dedup on
    * (query, node, sub) before the ADC sum so multi-parent
    * candidates don't double-count. ADC sims are exact DECIMAL sums
    * of 6-dp LUT terms; beam ties break (sim DESC, node) — the walk
    * replays CTE-for-CTE in DuckDB like every ANN entry here. */
  def graphPqTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10,
                  m: Int = 8, nbits: Int = -1, tables: Int = 4,
                  beam: Int = 32, steps: Int = 8, entries: Int = 16,
                  nCodes: Int = 16, pqM: Int = 8, dim: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subDim = dim / pqM
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cb = subVectors(e, pqM, subDim, "cv").where(col("id") < nCodes)
      .select(col("id").as("code"), col("sub"), col("cv"))
    val codes = subVectors(e, pqM, subDim, "sv").join(broadcast(cb), "sub")
      .select(col("id"), col("sub"), col("code"), pqL2.as("l2"))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("l2"), col("code"))).as("best"))
      .select(col("id"), col("sub"), col("best.code").as("code"))
      .localCheckpoint(true) // O(n·pqM) narrow rows — encoded once
    // dst codes inline on the edges: the step probe carries its own
    // scoring payload, exactly the inline-vector trick of the raw
    // index with a pqM-byte payload instead of dim doubles
    val edgesPq = graphEdges(emb, m, nbits, tables, dim, idCol, vecCol)
      .join(codes, col("dst") === col("id"))
      .select(col("src"), col("dst"), col("sub"), col("code"))
      .localCheckpoint(true)
    val lut = subVectors(e, pqM, subDim, "qv").where(col("id") < nQueries)
      .join(broadcast(cb), "sub")
      .select(col("id").as("query_id"), col("sub"), col("code"),
        round(dot(col("qv"), col("cv")), 6).as("lv"))
      .localCheckpoint(true) // q·pqM·nCodes rows — broadcast at every use
    def adc(candCodes: DataFrame): DataFrame =
      candCodes.dropDuplicates("query_id", "node", "sub")
        .join(broadcast(lut), Seq("query_id", "sub", "code"))
        .groupBy(col("query_id"), col("node"))
        .agg(sum(col("lv").cast("decimal(18,6)")).cast("double").as("sim"))
    val qIds = e.where(col("id") < nQueries).select(col("id").as("query_id"))
    // the entry frontier is the one candidate set whose codes come
    // from the code table (a single pruned fetch); every later
    // round's codes ride in on the edges, and the beam re-enters
    // each round WITH its sims (ADC is deterministic — no rescore),
    // so no step ever probes a corpus-scale table
    val entryCodes = codes.where(col("id") < entries)
    var beamScored = adc(
      qIds.crossJoin(entryCodes.select(col("id").as("node")).distinct())
        .join(entryCodes.select(col("id"), col("sub"), col("code")),
          col("node") === col("id"))
        .select(col("query_id"), col("node"), col("sub"), col("code")))
      .localCheckpoint(true)
    var scored: DataFrame = beamScored
    (1 to steps).foreach { _ =>
      val frontier = beamScored.select(col("query_id"), col("node"))
      val nbrScored = adc(
        broadcast(frontier).join(edgesPq, col("node") === col("src"))
          .select(col("query_id"), col("dst").as("node"), col("sub"), col("code")))
      scored = beamScored.select(col("query_id"), col("node"), col("sim"))
        .unionByName(nbrScored)
        .dropDuplicates("query_id", "node")
      beamScored = scored.groupBy(col("query_id"))
        .agg(graft.plans.TopKAgg.topK(col("sim"), col("node"), beam).as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t.id").as("node"), col("t.score").as("sim"))
        .localCheckpoint(true)
    }
    // full-precision rerank of the last round's candidate set: ONE
    // bounded corpus probe (at serving scale: an id-bucketed fetch)
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val q = corpus.where(col("id") < nQueries)
      .select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val rr = corpus
      .join(broadcast(scored.select(col("query_id"), col("node"))), col("node") === col("id"))
      .join(broadcast(q), Seq("query_id"))
      .where(col("node") =!= col("query_id"))
      .select(col("query_id"), col("node").as("neighbor_id"),
        round(cosinePrenormed(dot(col("qv"), col("v")), col("qnrm"), col("nrm")), 6)
          .as("sim"))
    rankTopK(rr, k)
  }
}
