package graft

import graft.operators.Glove._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The GloVe trainer as the engine ran it before the step kernel: the
  * same AdaGrad loop as SQL joins, groupBys and `localCheckpoint`s over
  * V·dim-row state tables, several Spark jobs per step. Kept verbatim
  * as the reference [[GloveKernelSpec]] holds the kernel to, bit for
  * bit. */
object GloveReference {

  def train(docs: DataFrame, v: Int, window: Int,
            dim: Int, steps: Int, lr: Double,
            contentCol: String, maxGram: Int = 1,
            termScale: Int = 8): Trained = {
    val voc = vocab(docs, v, contentCol, maxGram).localCheckpoint(true)
    val px = pairsWithConstants(
        coocWithVocab(docs, broadcast(voc), window, contentCol, maxGram))
      .localCheckpoint(true) // ≤ V² rows — the whole training set
    val ks = voc.select(col("i"), col("w").as("word"))
      .select(col("i"), col("word"),
        explode(sequence(lit(0), lit(dim - 1))).as("k"))
    var wT = ks.select(col("i"), col("k"),
      seeded("gw").as("v"), lit(0.0).as("a")).localCheckpoint(true)
    var cT = ks.select(col("i"), col("k"),
      seeded("gc").as("v"), lit(0.0).as("a")).localCheckpoint(true)
    var bT = voc.select(col("i"), lit(0.0).as("b"), lit(0.0).as("ab"),
      lit(0.0).as("c"), lit(0.0).as("ac")).localCheckpoint(true)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to steps).foreach { _ =>
      // err per pair: order-free decimal dot + IEEE bias adds, then
      // ONE round — same 6 dp the oracle applies at the same spot
      // round 15: the factor tables are model-scale by construction
      // (V×dim rows, V bounded by the vocab param) — broadcast them
      // so the px×dim intermediate is never shuffled (guide §3.1)
      val dot = px
        .join(broadcast(wT.select(col("i").as("ia"), col("k"), col("v").as("wv"))), "ia")
        .join(broadcast(cT.select(col("i").as("ib"), col("k"), col("v").as("cv"))), Seq("ib", "k"))
        .groupBy(col("ia"), col("ib"), col("f"), col("logx"))
        .agg(sum(rnd(col("wv") * col("cv"), termScale).cast("decimal(28,8)"))
          .cast("double").as("dot"))
      val err = dot
        .join(broadcast(bT.select(col("i").as("ia"), col("b"))), "ia")
        .join(broadcast(bT.select(col("i").as("ib"), col("c").as("bc"))), "ib")
        .select(col("ia"), col("ib"), col("f"),
          rnd(col("dot") + col("b") + col("bc") - col("logx"), 6).as("err"))
        .withColumn("coef", rnd(lit(2.0) * col("f") * col("err"), 6))
        .localCheckpoint(true)
      // null-safe: a corpus with no co-occurring vocab pairs (every
      // doc under 2 tokens) has an EMPTY err frame — its loss is 0,
      // not an NPE out of a null SUM
      losses += Option(err
        .agg(sum(rnd(col("f") * col("err") * col("err"), termScale)
          .cast("decimal(28,8)")).cast("double"))
        .head().get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      val gw = err
        .join(broadcast(cT.select(col("i").as("ib"), col("k"), col("v").as("cv"))), "ib")
        .groupBy(col("ia").as("i"), col("k"))
        .agg(sum(rnd(col("coef") * col("cv"), termScale).cast("decimal(28,8)"))
          .cast("double").as("g"))
      val gc = err
        .join(broadcast(wT.select(col("i").as("ia"), col("k"), col("v").as("wv"))), "ia")
        .groupBy(col("ib").as("i"), col("k"))
        .agg(sum(rnd(col("coef") * col("wv"), termScale).cast("decimal(28,8)"))
          .cast("double").as("g"))
      val gb = err.groupBy(col("ia").as("i"))
        .agg(sum(col("coef").cast("decimal(18,6)")).cast("double").as("g"))
      val gbc = err.groupBy(col("ib").as("i"))
        .agg(sum(col("coef").cast("decimal(18,6)")).cast("double").as("g"))
      // AdaGrad: a' = a + g²; v' = v − lr·g/sqrt(a' + 1e-8). All
      // IEEE — no re-rounding needed or wanted. A vocab word no pair
      // touched keeps its state (g = 0 exactly).
      def updVec(state: DataFrame, grad: DataFrame): DataFrame = state
        .join(grad, Seq("i", "k"), "left")
        .withColumn("g", coalesce(col("g"), lit(0.0)))
        .select(col("i"), col("k"),
          (col("v") - lit(lr) * col("g") /
            sqrt(col("a") + col("g") * col("g") + lit(1e-8))).as("v"),
          (col("a") + col("g") * col("g")).as("a"))
        .localCheckpoint(true)
      val w2 = updVec(wT, gw)
      val c2 = updVec(cT, gc)
      bT = bT
        .join(gb.withColumnRenamed("g", "gB"), Seq("i"), "left")
        .join(gbc.withColumnRenamed("g", "gC"), Seq("i"), "left")
        .withColumn("gB", coalesce(col("gB"), lit(0.0)))
        .withColumn("gC", coalesce(col("gC"), lit(0.0)))
        .select(col("i"),
          (col("b") - lit(lr) * col("gB") /
            sqrt(col("ab") + col("gB") * col("gB") + lit(1e-8))).as("b"),
          (col("ab") + col("gB") * col("gB")).as("ab"),
          (col("c") - lit(lr) * col("gC") /
            sqrt(col("ac") + col("gC") * col("gC") + lit(1e-8))).as("c"),
          (col("ac") + col("gC") * col("gC")).as("ac"))
        .localCheckpoint(true)
      wT = w2; cT = c2
    }
    Trained(wT, cT, bT, voc, losses.toSeq)
  }
}
