package graft.operators

import graft.functions.HashFunctions
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Corpus-trained word embeddings — GloVe (Pennington, Socher &
  * Manning, EMNLP 2014) as a fully deterministic, oracle-replayable
  * distributed trainer. This closes the one pipeline stage the
  * engine still simulated: the reference's embedding stage
  * (/root/reference/README.md architecture — documents are embedded
  * before indexing/retrieval) has until now been represented by
  * hash-feature vectors; here the vectors are LEARNED from the
  * corpus's own co-occurrence statistics.
  *
  * Scale shape — the two halves scale differently and are split
  * accordingly:
  *   1. CO-OCCURRENCE (corpus-scale, once): pairs are generated
  *      MAP-SIDE from each doc's token array (a nested `transform`
  *      over the array — no self-join, no shuffle per window
  *      position), filtered to the vocab by broadcast join, and
  *      reduced to the X_ij matrix with one shuffle keyed on
  *      (i, j). At 100 TB this is the only big job, and it is one
  *      explode + one partially-aggregated groupBy.
  *   2. TRAINING (model-scale, iterated): X is at most V² rows,
  *      persisted once as a per-partition columnar pair table. The
  *      model (W, C and the biases, V·dim doubles) lives on the
  *      driver — the MLlib Word2Vec pattern: each AdaGrad step
  *      broadcasts it, runs ONE mapPartitions + treeAggregate job
  *      whose tasks return exact scaled-long gradient sums, and
  *      applies the update on the driver. The driver never holds the
  *      corpus, and a step costs one Spark job whatever the corpus
  *      size.
  *
  * Determinism discipline (the emb_kmeans_update / power-iteration
  * contract, so DuckDB replays the whole trainer bit-for-bit):
  *   - every SUM whose order Spark does not define is a DECIMAL sum
  *     of per-term ROUNDED products (order-free, exact; the step
  *     kernel keeps them as unscaled longs summed with addExact, the
  *     same integers the SQL decimal sums hold). Scale 8,
  *     deliberately not higher: DuckDB's round(x, s) computes
  *     round(x·10^s)/10^s in doubles, so at scale 10 the grid-level
  *     ulp error (~2e-7 for x≈0.1) flips boundary cases against
  *     the JVM's string-exact rounding — measured once per ~50k
  *     roundings. At scale 8 the grid error is ~2e-11: safe;
  *   - ln and pow — the only non-IEEE-portable ops — are rounded to
  *     6 dp immediately (f and log X are constants of the run);
  *   - +, −, ×, ÷, sqrt are correctly-rounded IEEE ops, identical
  *     in every engine, so state updates need no re-rounding;
  *   - init is md5-derived from (salt, word, dim): reproducible
  *     anywhere, no RNG state to ship.
  */
object Glove {

  /** Tie-break epsilon, +2⁻³³ (binary-exact, so the add is the same
    * IEEE op in every engine): the md5 init lies on a 5-dp decimal
    * grid, so step-1 products are EXACT 10-dp decimals that land
    * precisely ON .5 rounding boundaries — where the JVM's
    * string-exact HALF_UP and DuckDB's double-multiply rounding
    * disagree (measured: 3 flipped weights at sf0.01). Every round
    * in the trainer adds this epsilon first: exact ties move
    * strictly above the boundary (both engines round up), and
    * generic values move by 1.2e-10 — orders of magnitude beyond
    * any engine's rounding error at these scales. */
  private[graft] val TieEps: Double = java.lang.Math.pow(2, -33)

  /** round with the tie-break epsilon — the ONLY rounding the GloVe
    * family uses. */
  private[graft] def rnd(c: Column, s: Int): Column = round(c + lit(TieEps), s)

  val VocabSize = 32
  val WindowSize = 2
  val Dim = 8
  val Steps = 3
  val Lr = 0.05

  /** The SCALED model configuration (round-13): the toy constants
    * above demonstrate the loop at V·dim = 256 parameters; these run
    * it at V·dim = 32k parameters with X in the 10⁵–10⁶-cell range
    * at sf0.1 — the same code path, three orders up. The synthetic
    * corpus has only 31 distinct words, so the scaled vocabulary is
    * MIXED-GRANULARITY: units are word n-grams of length 1..3 (the
    * wordpiece-style vocab shape), whose chaining structure
    * ("a_b" always co-occurs with "b_c" when "a b c" occurs) gives
    * the scaled model real distributional signal to learn.
    * ScaledTermScale = 6, not 8: the dot/gradient term roundings
    * number ~10⁷ per training at these sizes, and DuckDB's
    * double-multiply round has a flip band proportional to
    * ulp(x·10^s) — at scale 6 the expected cross-engine flips over
    * the whole chain are ≪ 1 (measured rate at scale 10 was 1 per
    * ~50k roundings; each scale step divides it by 10). */
  val ScaledV = 1024
  val ScaledWindow = 4
  val ScaledDim = 32
  val ScaledSteps = 2
  val ScaledMaxGram = 3
  val ScaledTermScale = 6

  /** The token-unit array: whitespace words for maxGram = 1, else
    * all word n-grams of length 1..maxGram in (position, length)
    * order, joined by '_' — map-only, mirrored term for term by the
    * oracle's list_transform replay. */
  private[graft] def unitsOf(c: Column, maxGram: Int): Column =
    if (maxGram == 1) tokens(lower(c))
    else {
      // level-wise construction (round 14, guide §1.2 per-task work):
      // the former per-position lambda did a slice + array_join + a
      // sequence allocation for every (position, gram) cell —
      // higher-order lambdas evaluate interpreted, and that nest was
      // ~9.5 s of the 11 s co-occurrence pass at sf0.1. Build each
      // gram level as ONE zip_with over the token array (u_g =
      // u_{g-1} ⧺ "_" ⧺ tk shifted by g−1; zip_with pads the short
      // side with null and concat propagates it, which reproduces
      // the old `when(p + g <= size(tk), …)` out-of-range null),
      // then interleave position-major via arrays_zip — the exact
      // (position, length)-ordered, null-filtered unit array as
      // before, term for term.
      val tk = tokens(lower(c))
      val n = size(tk)
      val levels = (2 to maxGram).scanLeft(tk) { (prev, g) =>
        zip_with(prev, slice(tk, lit(g), n), (xy, z) => concat(xy, lit("_"), z))
      }
      val zipped = arrays_zip(levels.zipWithIndex.map {
        case (l, i) => l.as(s"g$i")
      }: _*)
      filter(
        flatten(transform(zipped, s =>
          array(levels.indices.map(i => s.getField(s"g$i")): _*))),
        u => u.isNotNull)
    }

  /** Top-`v` lowercased units by (count DESC, unit ASC), with dense
    * rank i ∈ [0, v), as a LOCAL frame (w, i). The global sort is a
    * distributed top-k (orderBy + limit); the v survivors are
    * collected and ranked in the order Spark returned them — Spark's
    * byte order on `w`, which Java's String order is not, so the
    * driver never re-sorts. */
  def vocab(docs: DataFrame, v: Int = VocabSize,
            contentCol: String = "text", maxGram: Int = 1): DataFrame =
    topUnits(docs, v, contentCol, maxGram).frame(docs.sparkSession)

  /** The top-`v` units in rank order (index = i), and whether the unit
    * column is nullable (the mixed-gram unit column is, the unigram
    * one is not) so the local frame keeps the SQL form's schema. */
  private[graft] final case class Vocab(words: Array[String], nullable: Boolean) {
    def frame(spark: SparkSession): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(words.indices.map(i => Row(words(i), i.toLong)): _*),
      StructType(Seq(StructField("w", StringType, nullable),
        StructField("i", LongType, nullable = false))))
  }

  private def topUnits(docs: DataFrame, v: Int, contentCol: String,
                       maxGram: Int): Vocab = {
    val top = docs.select(explode(unitsOf(col(contentCol), maxGram)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(v)
      .select(col("w"))
    Vocab(top.collect().map(_.getString(0)), top.schema.head.nullable)
  }

  /** The symmetric co-occurrence matrix X over the vocab: for every
    * ordered in-window pair at distance d ≤ `window`, both (a,b) and
    * (b,a) accumulate 1/d (the GloVe distance weighting), summed as
    * DECIMAL(18,6) — exact for window ≤ 2 and order-free always.
    * Pair generation is map-only (nested transform over the token
    * array); the vocab gate is a broadcast semi-side join. */
  def cooc(docs: DataFrame, v: Int = VocabSize, window: Int = WindowSize,
           contentCol: String = "text", maxGram: Int = 1): DataFrame =
    coocWithVocab(docs, broadcast(vocab(docs, v, contentCol, maxGram)),
      window, contentCol, maxGram)

  /** The directed in-window pair stream (a, b, dist) — map-only, the
    * shared generator under both cooc forms. */
  private def pairsOf(docs: DataFrame, window: Int, contentCol: String,
                      maxGram: Int): DataFrame = docs
    .select(unitsOf(col(contentCol), maxGram).as("tk"))
    .where(size(col("tk")) > 1)
    .select(explode(expr(
      s"""flatten(transform(tk, (wa, p) ->
         |  transform(slice(tk, p + 2, $window), (wb, d) ->
         |    struct(wa AS a, wb AS b, d + 1 AS dist))))""".stripMargin)).as("pr"))
    .select(col("pr.a").as("a"), col("pr.b").as("b"), col("pr.dist").as("dist"))

  /** Co-occurrence against an EXPLICIT vocab table (w, i) — the seam
    * the held-out evaluation needs: test-half counts gated on the
    * train-half vocabulary. */
  private[graft] def coocWithVocab(docs: DataFrame, vb: DataFrame,
                                   window: Int, contentCol: String,
                                   maxGram: Int): DataFrame = {
    // X = A + Aᵀ over the DIRECTED table (the fold
    // [[coocDirectedWithVocab]] documents): the corpus-scale
    // aggregation shuffles the directed pair stream ONCE instead of
    // the former self-union's doubled stream (guide §2.3 — shuffle
    // fewer bytes; the symmetrization moves to the model-scale X
    // table). Decimal sums are exact, so the regrouped fold is
    // bit-equal to summing both directions in one pass; the cast
    // pins the former sum-of-terms output type.
    val a = coocDirectedWithVocab(docs, vb, window, contentCol, maxGram)
    a.unionByName(a.select(col("ib").as("ia"), col("ia").as("ib"), col("x")))
      .groupBy(col("ia"), col("ib"))
      .agg(sum(col("x")).cast("decimal(28,6)").as("x"))
  }

  /** The DIRECTED co-occurrence counts (no symmetric union) —
    * STREAM-SAFE: one map-side explode + one keyed aggregation, no
    * self-union, so a `readStream` document source flows through it
    * in complete mode with O(V²) bounded state. The symmetric X is
    * X = A + Aᵀ, a model-scale fold over the final table (decimal
    * sums make the split exact). */
  def coocDirectedWithVocab(docs: DataFrame, vb: DataFrame,
                            window: Int = WindowSize,
                            contentCol: String = "text",
                            maxGram: Int = 1): DataFrame =
    pairsOf(docs, window, contentCol, maxGram)
      .join(vb.select(col("w").as("a"), col("i").as("ia")), "a")
      .join(vb.select(col("w").as("b"), col("i").as("ib")), "b")
      .groupBy(col("ia"), col("ib"))
      .agg(sum((lit(1.0) / col("dist")).cast("decimal(18,6)")).as("x"))

  /** X with its run constants: f = min((x/xmax)^0.75, 1) and ln x,
    * both rounded to 6 dp at birth (pow/ln are the only ops whose
    * low bits differ across engines). */
  private[graft] def pairsWithConstants(x: DataFrame): DataFrame = {
    val xmax = x.agg(max(col("x")).as("xmax"))
    x.crossJoin(broadcast(xmax))
      .select(col("ia"), col("ib"),
        rnd(log(col("x").cast("double")), 6).as("logx"),
        rnd(least(pow(col("x").cast("double") / col("xmax").cast("double"),
          lit(0.75)), lit(1.0)), 6).as("f"))
  }

  /** md5-seeded init in [−0.05, 0.05): one value per (word, dim),
    * identical arithmetic to the oracle's replay. */
  private[graft] def seeded(salt: String): Column =
    (HashFunctions.md5Long(concat(lit(s"$salt:"), col("word"), lit(":"), col("k")))
      % 10000).cast("double") / lit(100000.0) - lit(0.05)

  /** The trained state: word-vector table W, context table C, bias
    * table B, and the per-step full-batch losses (for the
    * loss-decrease pin — training that does not descend is a bug). */
  final case class Trained(w: DataFrame, c: DataFrame, b: DataFrame,
                           vocab: DataFrame, losses: Seq[Double])

  /** The driver-resident model a training produces: the vocab in rank
    * order, every parameter in one array laid out
    * [W (V·dim) | C (V·dim) | b (V) | bc (V)] — W and C row-major,
    * cell i·dim + k — its AdaGrad accumulators in the same layout,
    * and the per-step losses. Never mutated once built. */
  private[graft] final case class Model(vocab: Vocab, dim: Int,
                                        x: Array[Double], a: Array[Double],
                                        losses: Seq[Double]) {
    /** The model as [[Trained]] frames — local relations, so reading
      * them runs no Spark job. */
    def trained(spark: SparkSession): Trained = {
      val nv = vocab.words.length
      def frame(schema: StructType, rows: Seq[Row]): DataFrame =
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      def vecs(at: Int): DataFrame =
        frame(VecSchema, for (i <- 0 until nv; k <- 0 until dim; j = at + i * dim + k)
          yield Row(i.toLong, k, x(j), a(j)))
      val (b, bc) = (2 * nv * dim, 2 * nv * dim + nv)
      Trained(vecs(0), vecs(nv * dim),
        frame(BiasSchema, (0 until nv).map(i =>
          Row(i.toLong, x(b + i), a(b + i), x(bc + i), a(bc + i)))),
        vocab.frame(spark), losses)
    }
  }

  // nullability as the SQL trainer's frames had it: its AdaGrad
  // updates were nullable divisions, its accumulators sums of squares
  private val VecSchema = StructType(Seq(
    StructField("i", LongType, nullable = false), StructField("k", IntegerType, nullable = false),
    StructField("v", DoubleType), StructField("a", DoubleType, nullable = false)))
  private val BiasSchema = StructType(Seq(
    StructField("i", LongType, nullable = false), StructField("b", DoubleType),
    StructField("ab", DoubleType, nullable = false), StructField("c", DoubleType),
    StructField("ac", DoubleType, nullable = false)))

  // One training serves every consumer (emb_glove_train/loss,
  // rag_retrieve_trained, emb_infer_trained) — the Unigram
  // chainCache discipline verbatim: keyed on (application, corpus
  // fingerprint, canonical plan hash, params); values are the
  // driver-side models themselves (never DataFrames: cached frames
  // pin blocks that cache-hygiene sweeps destroy); in-memory inputs
  // (no file listing to fingerprint) train fresh so specs stay
  // isolated.
  private val memoCap = 4
  private val memo = new java.util.LinkedHashMap[String, Model](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Model]): Boolean =
      size > memoCap
  }

  /** Drop every memoized training (round 15): the bench's
    * `emb_glove_train_cold` row times the scaled training from
    * parquet, not the memo-warm serve. Test/bench hook only. */
  private[graft] def clearMemo(): Unit = memo.synchronized(memo.clear())
  // per-key in-flight futures: the memo lock is held only for get/put
  // (microseconds), never across the multi-job Spark training, so two
  // callers training DIFFERENT corpora/params proceed concurrently
  // while a second caller on the SAME key awaits the first's result
  private val inflight =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.CompletableFuture[Model]]()

  /** Full-batch AdaGrad on the GloVe objective
    * J = Σ f(X_ij)·(wᵢ·cⱼ + bᵢ + bcⱼ − ln X_ij)², `steps` rounds.
    * Memoized per (corpus, params): the bench's four glove entries
    * pay ONE training. */
  def train(docs: DataFrame, v: Int = VocabSize, window: Int = WindowSize,
            dim: Int = Dim, steps: Int = Steps, lr: Double = Lr,
            contentCol: String = "text", maxGram: Int = 1,
            termScale: Int = 8): Trained = {
    val spark = docs.sparkSession
    def fresh(): Model = trainFresh(docs, v, window, dim, steps, lr, contentCol,
      maxGram, termScale)
    if (docs.inputFiles.isEmpty) return fresh().trained(spark)
    val key = Seq(
      spark.sparkContext.applicationId,
      graft.sources.ZoneCache.corpusFingerprint(docs),
      docs.queryExecution.analyzed.canonicalized.semanticHash().toString,
      v, window, dim, steps, lr, contentCol, maxGram, termScale).mkString("|")
    def memoGet: Option[Model] =
      memo.synchronized(Option(memo.get(key)))
    val model = memoGet.getOrElse {
      val mine = new java.util.concurrent.CompletableFuture[Model]()
      val winner = inflight.putIfAbsent(key, mine)
      if (winner == null) {
        try {
          // double-check under the race: a concurrent trainer may have
          // finished between the memo miss and the inflight claim
          val got = memoGet.getOrElse {
            val m = fresh()
            memo.synchronized(memo.put(key, m))
            m
          }
          mine.complete(got)
          got
        } catch {
          case t: Throwable => mine.completeExceptionally(t); throw t
        } finally inflight.remove(key)
      } else winner.join() // same key already training: await its result
    }
    model.trained(spark)
  }

  /** One partition of the pair table X, column-wise. */
  private final case class PairBlock(ia: Array[Int], ib: Array[Int],
                                     f: Array[Double], logx: Array[Double])

  private val Pow10 = Array.iterate(1L, 19)(_ * 10)

  /** `round(x + TieEps, s)` as Spark evaluates it on a double: HALF_UP
    * over the shortest decimal repr (`BigDecimal.valueOf`). */
  private[graft] def rounded(x: Double, s: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x + TieEps).setScale(s, java.math.RoundingMode.HALF_UP)

  /** [[rnd]] on one double, bit for bit. */
  private[graft] def rndDouble(x: Double, s: Int): Double = rounded(x, s).doubleValue

  /** Spark's `CAST(r.doubleValue AS DECIMAL(_, scale))` for a decimal
    * `r` of scale ≤ `scale`, as the unscaled long. Spark parses
    * `Double.toString` of the double, which lies within an ulp of
    * `r`; below 10⁶ that ulp is far under half a unit at scale 8, so
    * the parse rounds back to `r` itself and the string round trip is
    * skipped. */
  private def unscaledAt(r: java.math.BigDecimal, scale: Int): Long =
    if (r.precision - r.scale <= 6) r.unscaledValue.longValue * Pow10(scale - r.scale)
    else new java.math.BigDecimal(java.lang.Double.toString(r.doubleValue))
      .setScale(scale, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact

  /** `CAST(rnd(x, s) AS DECIMAL(28, 8))` as its unscaled long — one
    * term of the trainer's order-free decimal sums. */
  private[graft] def termUnscaled(x: Double, s: Int): Long = unscaledAt(rounded(x, s), 8)

  /** A decimal sum back to double, through Spark's own conversion. */
  private def toDouble(unscaled: Long, scale: Int): Double =
    Decimal(unscaled, 38, scale).toDouble

  /** One step over one pair block, summed into `acc`, laid out like
    * [[Model.x]] plus a last loss cell: the SQL step's arithmetic
    * term for term. Every rounded term is an exact unscaled decimal
    * (scale 8; the bias sums, which cast the 6-dp coef to
    * DECIMAL(18,6), scale 6), summed with addExact — the integers the
    * SQL decimal sums hold, so the result does not depend on
    * partitioning or order. */
  private def stepInto(acc: Array[Long], p: PairBlock, x: Array[Double],
                       nv: Int, dim: Int, ts: Int): Array[Long] = {
    val cAt = nv * dim
    val bAt = 2 * nv * dim
    val bcAt = bAt + nv
    val lossAt = bcAt + nv
    var j = 0
    while (j < p.ia.length) {
      val wo = p.ia(j) * dim
      val co = cAt + p.ib(j) * dim
      var dot = 0L
      var k = 0
      while (k < dim) {
        dot = Math.addExact(dot, termUnscaled(x(wo + k) * x(co + k), ts))
        k += 1
      }
      val f = p.f(j)
      val err = rndDouble(toDouble(dot, 8) + x(bAt + p.ia(j)) + x(bcAt + p.ib(j)) - p.logx(j), 6)
      val coefR = rounded(2.0 * f * err, 6)
      val coef = coefR.doubleValue
      acc(lossAt) = Math.addExact(acc(lossAt), termUnscaled(f * err * err, ts))
      k = 0
      while (k < dim) {
        acc(wo + k) = Math.addExact(acc(wo + k), termUnscaled(coef * x(co + k), ts))
        acc(co + k) = Math.addExact(acc(co + k), termUnscaled(coef * x(wo + k), ts))
        k += 1
      }
      val cb = unscaledAt(coefR, 6)
      acc(bAt + p.ia(j)) = Math.addExact(acc(bAt + p.ia(j)), cb)
      acc(bcAt + p.ib(j)) = Math.addExact(acc(bcAt + p.ib(j)), cb)
      j += 1
    }
    acc
  }

  /** Two step sums added exactly; an empty array is the zero. */
  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      var i = 0
      while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
      a
    }

  /** The trainer: vocab, co-occurrence and the pair constants are
    * corpus-scale SQL, run once; each AdaGrad step is ONE Spark job —
    * the model broadcast, a [[stepInto]] pass per pair block, a
    * treeAggregate of the exact gradient sums — and the update runs
    * on the driver. Leaves no persisted RDD and no live broadcast. */
  private[graft] def trainFresh(docs: DataFrame, v: Int, window: Int,
                                dim: Int, steps: Int, lr: Double,
                                contentCol: String, maxGram: Int = 1,
                                termScale: Int = 8): Model = {
    val spark = docs.sparkSession
    val voc = topUnits(docs, v, contentCol, maxGram)
    val nv = voc.words.length
    val cells = nv * dim
    // md5 init: the `seeded` expression over the local (word, k)
    // rows, in cell order i·dim + k; biases start at 0
    val init = spark.createDataFrame(java.util.Arrays.asList(
        (for (w <- voc.words.toSeq; k <- 0 until dim) yield Row(w, k)): _*),
        StructType(Seq(StructField("word", StringType), StructField("k", IntegerType))))
      .select(seeded("gw"), seeded("gc")).collect()
    val x = init.map(_.getDouble(0)) ++ init.map(_.getDouble(1)) ++ new Array[Double](2 * nv)
    val a = new Array[Double](x.length)
    val blocks = pairsWithConstants(
        coocWithVocab(docs, broadcast(voc.frame(spark)), window, contentCol, maxGram))
      .select(col("ia").cast("int"), col("ib").cast("int"), col("f"), col("logx"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val ia, ib = Array.newBuilder[Int]
        val f, logx = Array.newBuilder[Double]
        rows.foreach { r =>
          ia += r.getInt(0); ib += r.getInt(1); f += r.getDouble(2); logx += r.getDouble(3)
        }
        Iterator.single(PairBlock(ia.result(), ib.result(), f.result(), logx.result()))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sc = spark.sparkContext
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    val width = x.length + 1
    try (1 to steps).foreach { _ =>
      val model = sc.broadcast(x)
      // the zero is empty and a task allocates its sums on its first
      // block: treeAggregate serializes its zero into the step's task
      // binary, which a model-sized zero would bloat
      val sums = try blocks.treeAggregate(Array.emptyLongArray)(
          (acc, p) => stepInto(if (acc.isEmpty) new Array[Long](width) else acc,
            p, model.value, nv, dim, termScale), addInto)
        finally model.destroy()
      val g = if (sums.isEmpty) new Array[Long](width) else sums
      losses += toDouble(g(x.length), 8)
      // AdaGrad: a' = a + g²; v' = v − lr·g/sqrt(a' + 1e-8), the SQL
      // form's operation order. A cell no pair touched has g = 0 and
      // keeps its value.
      var i = 0
      while (i < x.length) {
        val gi = toDouble(g(i), if (i < 2 * cells) 8 else 6)
        x(i) = x(i) - lr * gi / math.sqrt(a(i) + gi * gi + 1e-8)
        a(i) = a(i) + gi * gi
        i += 1
      }
    } finally blocks.unpersist(blocking = false)
    Model(voc, dim, x, a, losses.toSeq)
  }

  /** The per-step full-batch losses as a graded frame (step, loss) —
    * descent is pinned by the ORACLE as well as the spec: each loss
    * is the order-free decimal sum Σ f·err² at the step's entry
    * state, replayed from the same unrolled CTE chain. */
  def trainLosses(docs: DataFrame, v: Int = VocabSize,
                  window: Int = WindowSize, dim: Int = Dim,
                  steps: Int = Steps, lr: Double = Lr): DataFrame = {
    val t = train(docs, v, window, dim, steps, lr)
    val spark = docs.sparkSession
    import spark.implicits._
    t.losses.zipWithIndex
      .map { case (l, i) => ((i + 1).toLong, l) }
      .toDF("step", "loss")
  }

  /** The graded trainer surface: final word vectors as
    * (word_id, word, dim, weight) rows — the oracle replays vocab,
    * co-occurrence, constants, and every AdaGrad step. */
  def trainedVectors(docs: DataFrame, v: Int = VocabSize,
                     window: Int = WindowSize, dim: Int = Dim,
                     steps: Int = Steps, lr: Double = Lr,
                     maxGram: Int = 1, termScale: Int = 8): DataFrame = {
    val t = train(docs, v, window, dim, steps, lr, "text", maxGram, termScale)
    t.w.join(t.vocab, Seq("i"))
      .select(col("i").as("word_id"), col("w").as("word"),
        col("k").cast("long").as("dim"), col("v").as("weight"))
      .orderBy(col("word_id"), col("dim"))
  }

  /** The SCALED trained model as a graded frame: the same
    * [[trainedVectors]] surface at V=1024 mixed-granularity units ×
    * dim 32 × window 4 — V·dim = 32,768 weights learned from an X in
    * the 10⁵–10⁶-cell range, proving the model-scale loop holds far
    * above the toy constants. Training is memoized (one training
    * serves bench + verify consumers); the oracle replays the full
    * chain — unit extraction, top-1024 vocab, window-4 co-occurrence,
    * and both unrolled AdaGrad rounds — at termScale 6. */
  def scaledVectors(docs: DataFrame): DataFrame =
    trainedVectors(docs, ScaledV, ScaledWindow, ScaledDim, ScaledSteps, Lr,
      ScaledMaxGram, ScaledTermScale)

  /** Per-step losses of the scaled training (spec consumer: descent
    * must hold at scale too, not only at V=32). */
  def scaledLosses(docs: DataFrame): Seq[Double] =
    train(docs, ScaledV, ScaledWindow, ScaledDim, ScaledSteps, Lr,
      "text", ScaledMaxGram, ScaledTermScale).losses

  /** Mean-of-word-vectors document embeddings over the TRAINED table
    * (6-dp-rounded decimal sums / occurrence count — the lloydUpdate
    * mean discipline, so the quotient is bit-stable), one row per
    * (doc, dim). Docs with no vocab token drop out (no embedding). */
  def docVectors(docs: DataFrame, trained: Trained,
                 contentCol: String = "text"): DataFrame = {
    val wv = trained.w.join(trained.vocab, Seq("i"))
      .select(col("w"), col("k"), col("v"))
    docs.select(col("doc_id"), explode(tokens(lower(col(contentCol)))).as("w"))
      .join(broadcast(wv), "w")
      .groupBy(col("doc_id"), col("k"))
      .agg((sum(rnd(col("v"), 6).cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("dv"))
  }

  /** Retrieval over the trained document embeddings: cosine top-k of
    * the first `nQueries` embedded docs against the rest. Norms and
    * dots are order-free decimal sums of rounded products; the final
    * cosine rounds to 6 dp; ties break on neighbor id. */
  def retrieveTrained(docs: DataFrame, k: Int = 10, nQueries: Int = 5,
                      v: Int = VocabSize, window: Int = WindowSize,
                      dim: Int = Dim, steps: Int = Steps,
                      lr: Double = Lr): DataFrame = {
    val dv = docVectors(docs, train(docs, v, window, dim, steps, lr))
      .localCheckpoint(true)
    val nrm = dv.groupBy(col("doc_id"))
      .agg(sum(rnd(col("dv") * col("dv"), 8).cast("decimal(28,8)"))
        .cast("double").as("n2"))
    val q = dv.where(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("k"), col("dv").as("qv"))
    val dots = q.join(dv.where(col("doc_id") >= nQueries)
        .select(col("doc_id").as("neighbor_id"), col("k"), col("dv")), Seq("k"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(rnd(col("qv") * col("dv"), 8).cast("decimal(28,8)"))
        .cast("double").as("dot"))
    val scored = dots
      .join(nrm.select(col("doc_id").as("query_id"), col("n2").as("qn")), "query_id")
      .join(nrm.select(col("doc_id").as("neighbor_id"), col("n2").as("nn")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        rnd(col("dot") / (sqrt(col("qn")) * sqrt(col("nn"))), 6).as("sim"))
    Similarity.rankTopK(scored, k)
  }

  /** Nearest words by TRAINED cosine — the classic inspection
    * surface of a word-embedding table: for each of the first
    * `nWords` vocab words, the top-`k` most-similar OTHER words.
    * All sums order-free decimal; ties break on neighbor id. Joins
    * are over the V·dim state — model-scale however big the corpus
    * that trained it. */
  def wordNeighbors(docs: DataFrame, nWords: Int = 8, k: Int = 5,
                    v: Int = VocabSize, window: Int = WindowSize,
                    dim: Int = Dim, steps: Int = Steps,
                    lr: Double = Lr): DataFrame = {
    val t = train(docs, v, window, dim, steps, lr)
    val wv = t.w.select(col("i"), col("k"), col("v"))
    val n2 = wv.groupBy(col("i"))
      .agg(sum(rnd(col("v") * col("v"), 8).cast("decimal(28,8)"))
        .cast("double").as("n2"))
    val dots = wv.where(col("i") < nWords)
      .select(col("i").as("qi"), col("k"), col("v").as("qv"))
      .join(wv.select(col("i").as("ni"), col("k"), col("v").as("nv")), Seq("k"))
      .where(col("ni") =!= col("qi"))
      .groupBy(col("qi"), col("ni"))
      .agg(sum(rnd(col("qv") * col("nv"), 8).cast("decimal(28,8)"))
        .cast("double").as("dot"))
    val scored = dots
      .join(n2.select(col("i").as("qi"), col("n2").as("qn")), "qi")
      .join(n2.select(col("i").as("ni"), col("n2").as("nn")), "ni")
      .select(col("qi"), col("ni"),
        rnd(col("dot") / (sqrt(col("qn")) * sqrt(col("nn"))), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qi")).orderBy(col("sim").desc, col("ni"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .join(t.vocab.select(col("i").as("qi"), col("w").as("word")), "qi")
      .join(t.vocab.select(col("i").as("ni"), col("w").as("neighbor")), "ni")
      .select(col("qi").as("word_id"), col("word"),
        col("ni").as("neighbor_id"), col("neighbor"), col("rank"), col("sim"))
      .orderBy(col("word_id"), col("rank"))
  }

  /** The rank-r DCG discount 1/log₂(r+1) as a 9-dp decimal literal
    * string — injected verbatim into BOTH engines' expressions, so
    * the only log in the nDCG chain is a shared constant, never a
    * per-engine libm call. */
  private[graft] def dcgDiscounts(k: Int): Seq[(Int, String)] =
    (1 to k).map { r =>
      r -> BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
    }

  /** Retrieval-quality eval of the TRAINED model on HELD-OUT data —
    * the graded proof that training buys retrieval, not just a
    * descending loss. The corpus splits by doc_id parity: the model
    * trains on EVEN docs only; relevance ground truth is the ODD
    * (unseen) half's co-occurrence mass, rel(q,c) = ln(1 + X_test).
    * For each of the first `nQ` vocab units, every other vocab unit
    * is ranked by the model's predicted co-occurrence — w_q·c_c +
    * b_q + bc_c, GloVe's actual regression output — and nDCG@k is
    * computed against the held-out relevance; the same ranking over
    * the md5-SEEDED init vectors (the hash-feature baseline the rest
    * of the engine uses) grades beside it. At the scaled config the
    * trained ranking reaches ~0.7 nDCG where the hash baseline sits
    * under 0.1 (spec-pinned margin ≥ 0.2).
    *
    * Scale shape: training is the memoized scaled trainer; the
    * test-half co-occurrence is ONE corpus pass; everything after is
    * model-scale (nQ·V score cells). Determinism: scores and rel are
    * 6-dp rounds of decimal-summed terms; DCG terms multiply by
    * shared literal discounts ([[dcgDiscounts]]); ranks break ties
    * on candidate id. */
  def heldOutNdcg(docs: DataFrame, nQ: Int = 64, k: Int = 10,
                  v: Int = ScaledV, window: Int = ScaledWindow,
                  dim: Int = ScaledDim, steps: Int = ScaledSteps,
                  lr: Double = Lr, maxGram: Int = ScaledMaxGram,
                  termScale: Int = ScaledTermScale): DataFrame = {
    val trainDocs = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val testDocs = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val t = train(trainDocs, v, window, dim, steps, lr, "text",
      maxGram, termScale)
    val voc = t.vocab
    // held-out relevance: test-half co-occurrence gated on the TRAIN
    // vocab (the one corpus-scale pass of the eval)
    // self co-occurrence (cand == q) leaves rel: the scoring grid
    // excludes the diagonal, so keeping it in the ideal ranking would
    // structurally cap nDCG below 1 whenever the diagonal reaches the
    // ideal top-k — both metrics depressed for no signal
    val rel = coocWithVocab(testDocs, broadcast(voc), window, "text", maxGram)
      .where(col("ia") =!= col("ib"))
      .select(col("ia").as("q"), col("ib").as("cand"),
        rnd(log(lit(1.0) + col("x").cast("double")), 6).as("rel"))
      .localCheckpoint(true)
    val eligible = rel.where(col("q") < nQ && col("rel") > 0)
      .groupBy(col("q")).agg(count(lit(1)).as("n_pos"))
      .where(col("n_pos") >= k)
    // predicted-co-occurrence scores over the full candidate grid
    def scores(w: DataFrame, c: DataFrame, bias: Option[DataFrame]): DataFrame = {
      val dots = w.where(col("i") < nQ)
        .select(col("i").as("q"), col("k"), col("v").as("wv"))
        .join(c.select(col("i").as("cand"), col("k"), col("v").as("cv")), "k")
        .where(col("cand") =!= col("q"))
        .groupBy(col("q"), col("cand"))
        .agg(sum(rnd(col("wv") * col("cv"), termScale).cast("decimal(28,8)"))
          .cast("double").as("dot"))
      bias match {
        case Some(b) => dots
          .join(broadcast(b.select(col("i").as("q"), col("b"))), "q")
          .join(broadcast(b.select(col("i").as("cand"), col("c").as("bc"))), "cand")
          .select(col("q"), col("cand"),
            rnd(col("dot") + col("b") + col("bc"), 6).as("s"))
        case None => dots.select(col("q"), col("cand"), rnd(col("dot"), 6).as("s"))
      }
    }
    val disc = dcgDiscounts(k)
    def discOf(r: Column): Column =
      disc.tail.foldLeft(when(r === disc.head._1, lit(disc.head._2.toDouble))) {
        case (acc, (rank, d)) => acc.when(r === rank, lit(d.toDouble))
      }
    // every frame below is model-scale (≤ nQ·V cells; rel ≤ the
    // observed test co-occurrence of the top-V units) — broadcast
    // explicitly: the checkpointed frames carry no size statistics,
    // and a defaulted sort-merge would shuffle megabytes to join
    // hundreds of rows. At a vocab far beyond serving scale (10⁵+),
    // drop the hints and let AQE route.
    def ndcgOf(score: DataFrame, outCol: String): DataFrame = {
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q")).orderBy(col("s").desc, col("cand"))
      val dcg = score.withColumn("r", row_number().over(wRank))
        .where(col("r") <= k)
        .join(broadcast(rel), Seq("q", "cand"), "left")
        .select(col("q"), col("r"),
          rnd(coalesce(col("rel"), lit(0.0)) * discOf(col("r")), 6).as("term"))
        .groupBy(col("q"))
        .agg(sum(col("term").cast("decimal(18,6)")).cast("double").as("dcg"))
      val wRel = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q")).orderBy(col("rel").desc, col("cand"))
      val idcg = rel.withColumn("r", row_number().over(wRel))
        .where(col("r") <= k)
        .select(col("q"), rnd(col("rel") * discOf(col("r")), 6).as("term"))
        .groupBy(col("q"))
        .agg(sum(col("term").cast("decimal(18,6)")).cast("double").as("idcg"))
      dcg.join(broadcast(idcg), "q")
        .select(col("q"), rnd(col("dcg") / col("idcg"), 6).as(outCol))
    }
    val trainedN = ndcgOf(scores(t.w, t.c, Some(t.b)), "ndcg_trained")
    // the hash baseline: the md5-seeded init (biases zero), exactly
    // the gw0/gc0 tables of the unrolled chain
    val ks = voc.select(col("i"), col("w").as("word"),
      explode(sequence(lit(0), lit(dim - 1))).as("k"))
    val w0 = ks.select(col("i"), col("k"), seeded("gw").as("v"))
    val c0 = ks.select(col("i"), col("k"), seeded("gc").as("v"))
    val initN = ndcgOf(scores(w0, c0, None), "ndcg_init")
    eligible.join(broadcast(trainedN), "q").join(broadcast(initN), "q")
      .join(broadcast(voc.select(col("i").as("q"), col("w").as("unit"))), "q")
      .select(col("q").as("query_id"), col("unit"), col("n_pos"),
        col("ndcg_trained"), col("ndcg_init"))
      .orderBy(col("query_id"))
  }

  /** The trained model in its closure-shippable form: a driver-side
    * word → vector map (V·dim doubles — model-sized by
    * construction, like every quantizer/codebook collect in this
    * engine). Scale boundary: this collect is for encoder-serving
    * vocabs (10⁴–10⁵ words); a web-scale vocab (10⁶+ × dim 300)
    * stays a DataFrame and embeds documents through the DISTRIBUTED
    * broadcast-join path [[docVectors]] instead — same math, no
    * driver materialization. */
  def trainedMap(t: Trained): Map[String, Array[Double]] =
    t.w.join(t.vocab, Seq("i"))
      .select(col("w"), col("k"), col("v")).collect()
      .groupBy(_.getString(0))
      .map { case (w, rows) =>
        w -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
}

/** The TRAINED GloVe model behind the production [[TextEncoder]]
  * boundary: per text, the mean of trained word vectors over its
  * vocab tokens (zero vector when none match). The weights ride the
  * task closure — V·dim doubles, the model-sized payload the seam
  * was designed for — and the mean follows the docVectors decimal
  * discipline exactly (BigDecimal.valueOf == Spark's round: both go
  * through the shortest-repr string), so the chunk→embedding pass
  * through Embedder.embed is oracle-replayable, not just
  * smoke-tested. Tokenization mirrors TextFunctions.tokens
  * (trim, split on whitespace, drop empties) plus lower(). */
final case class GloveTextEncoder(vectors: Map[String, Array[Double]],
                                  dim: Int) extends TextEncoder {
  override def encode(batch: Seq[String]): Seq[Array[Float]] = batch.map { t =>
    val toks = t.trim.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").iterator.filter(_.nonEmpty)
    var n = 0
    val sums = Array.fill(dim)(java.math.BigDecimal.ZERO)
    toks.foreach { w =>
      vectors.get(w).foreach { v =>
        n += 1
        var j = 0
        while (j < dim) {
          sums(j) = sums(j).add(Glove.rounded(v(j), 6))
          j += 1
        }
      }
    }
    if (n == 0) Array.fill(dim)(0f)
    else sums.map(s => (s.doubleValue() / n).toFloat)
  }
}
