package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup clustering as the engine ran it before the RDD rounds: the
  * same min-label propagation as SQL joins and groupBys, re-planned
  * every round, stopping when `sum(label)` stops moving. Kept verbatim
  * as the reference [[CurationSpec]] holds `Dedup.nearDupClusters` to
  * in rows, order and schema. Its sum overflows under ANSI for ids
  * near `Long.MaxValue / 2`; the specs feed it small ids only. */
object NearDupReference {

  def nearDupClusters(pairs: DataFrame): DataFrame = {
    // one pass over the (possibly expensive) pair pipeline: emit both
    // edge directions via explode rather than a union of two scans
    val e = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("edge"))
      .select(col("edge.src").as("src"), col("edge.dst").as("dst"))
      .persist()
    var labels = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .persist()
    // coalesce: sum over an empty pair list is null, not 0
    var prevSum = labels.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
    var converged = false
    while (!converged) {
      val nbrMin = e.join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nbr_min"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        .persist()
      val nextSum = next.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
    }
    val out = labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    labels.unpersist()
    e.unpersist()
    out
  }
}
