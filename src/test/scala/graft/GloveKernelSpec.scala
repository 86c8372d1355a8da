package graft

import graft.operators.Glove
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The GloVe step kernel (one Spark job per AdaGrad step, model on the
  * driver) against the SQL trainer it replaced ([[GloveReference]]):
  * bit-identical state and losses under any partitioning and shuffle
  * width, the exact term rounding, the empty-pair corpus, the job
  * bound and cache hygiene. */
class GloveKernelSpec extends SparkSpec {

  private def docsIn(s: SparkSession): DataFrame = Tables.documents(s, sf)

  private val toy = (Glove.VocabSize, Glove.WindowSize, Glove.Dim, Glove.Steps, 1, 8)
  private val scaled = (Glove.ScaledV, Glove.ScaledWindow, Glove.ScaledDim,
    Glove.ScaledSteps, Glove.ScaledMaxGram, Glove.ScaledTermScale)

  private def kernel(docs: DataFrame, cfg: (Int, Int, Int, Int, Int, Int)): Glove.Trained = {
    val (v, window, dim, steps, maxGram, ts) = cfg
    Glove.trainFresh(docs, v, window, dim, steps, Glove.Lr, "text", maxGram, ts)
      .trained(docs.sparkSession)
  }

  private def reference(docs: DataFrame, cfg: (Int, Int, Int, Int, Int, Int)): Glove.Trained = {
    val (v, window, dim, steps, maxGram, ts) = cfg
    GloveReference.train(docs, v, window, dim, steps, Glove.Lr, "text", maxGram, ts)
  }

  /** A frame as sorted rows of raw bits: doubles by
    * `doubleToRawLongBits`, everything else by value. */
  private def bits(df: DataFrame, keys: String*): Seq[Seq[Any]] =
    df.orderBy(keys.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  private def assertSame(label: String, got: Glove.Trained, ref: Glove.Trained): Unit = {
    Seq(("w", got.w, ref.w, Seq("i", "k")), ("c", got.c, ref.c, Seq("i", "k")),
        ("b", got.b, ref.b, Seq("i")), ("vocab", got.vocab, ref.vocab, Seq("i")))
      .foreach { case (name, g, r, keys) =>
        assert(g.schema == r.schema, s"$label: $name schema ${g.schema.treeString} vs ${r.schema.treeString}")
        val (gb, rb) = (bits(g, keys: _*), bits(r, keys: _*))
        assert(gb.nonEmpty && gb.size == rb.size, s"$label: $name has ${gb.size} rows, reference ${rb.size}")
        val diff = gb.zip(rb).indexWhere { case (x, y) => x != y }
        if (diff >= 0) fail(s"$label: $name row $diff: ${gb(diff)} vs reference ${rb(diff)}")
      }
    assert(got.losses.map(java.lang.Double.doubleToRawLongBits) ==
      ref.losses.map(java.lang.Double.doubleToRawLongBits),
      s"$label: losses ${got.losses} vs reference ${ref.losses}")
  }

  private def sweep(cfg: (Int, Int, Int, Int, Int, Int), name: String): Unit = {
    val ref = reference(docsIn(spark), cfg)
    assert(ref.losses.size == cfg._4 && ref.losses.forall(_ > 0))
    assertSame(s"$name repartition(7)", kernel(docsIn(spark).repartition(7), cfg), ref)
    assertSame(s"$name coalesce(1)", kernel(docsIn(spark).coalesce(1), cfg), ref)
    Seq(1, 67).foreach { n =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      assertSame(s"$name shuffle.partitions=$n", kernel(docsIn(s), cfg), ref)
    }
  }

  test("the toy config is bit-identical to the SQL reference under any partitioning") {
    sweep(toy, "toy")
  }

  test("the scaled config is bit-identical to the SQL reference under any partitioning") {
    sweep(scaled, "scaled")
  }

  test("term rounding is exact at seeded values and at .5 boundaries") {
    val init = Glove.train(docsIn(spark), steps = 0)
    val w = init.w.collect().map(_.getDouble(2))
    val c = init.c.collect().map(_.getDouble(2))
    val seeded = w.indices.flatMap(i => Seq(w(i) * c(i), w(i) * c((i + 7) % c.length), w(i)))
    // x + TieEps lands ON a half at the rounding scale (and just off
    // it), both signs, plus magnitudes past the round-trip shortcut
    val halves = for {
      s <- Seq(6, 8); m <- Seq(0L, 1L, 12L, 1234L, 1234565L, 987654321L)
      h = (m * 10 + 5) / math.pow(10, s + 1)
      x <- Seq(h - Glove.TieEps, h, -h - Glove.TieEps, -h)
    } yield x
    val large = Seq(1e6 + 0.123456785, -2.5e7 - 0.000000015, 3.3e7 + 0.5e-6, 123456789.0000005)
    val xs = seeded ++ halves ++ large
    val df = spark.createDataFrame(java.util.Arrays.asList(xs.map(Row(_)): _*),
      StructType(Seq(StructField("x", DoubleType))))
    Seq(6, 8).foreach { s =>
      val got = df.select(col("x"), Glove.rnd(col("x"), s).as("r"),
          Glove.rnd(col("x"), s).cast("decimal(28,8)").as("d"))
        .collect()
      assert(got.length == xs.size)
      got.foreach { r =>
        val x = r.getDouble(0)
        assert(java.lang.Double.doubleToRawLongBits(Glove.rndDouble(x, s)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"rnd($x, $s): ${Glove.rndDouble(x, s)} vs SQL ${r.getDouble(1)}")
        assert(Glove.termUnscaled(x, s) == r.getDecimal(2).unscaledValue.longValueExact,
          s"term($x, $s): ${Glove.termUnscaled(x, s)} vs SQL ${r.getDecimal(2)}")
      }
    }
  }

  test("an all-short-docs corpus has loss 0 and leaves the init state") {
    val docs = spark.createDataFrame(java.util.Arrays.asList(
        Seq("alpha", "beta", "gamma", "alpha", "delta beta", "beta").map(Row(_)): _*),
      StructType(Seq(StructField("text", StringType))))
    // "delta beta" pairs once: keep every doc single-token
    val short = docs.where(size(split(col("text"), " ")) === 1)
    val t = kernel(short, toy)
    assert(t.losses == Seq.fill(Glove.Steps)(0.0))
    val init = kernel(short, toy.copy(_4 = 0))
    assert(init.losses.isEmpty)
    assertSame("short docs vs init", t, init.copy(losses = t.losses))
    assertSame("short docs vs reference", t, reference(short, toy))
    assert(t.b.collect().forall(r => (1 to 4).forall(r.getDouble(_) == 0.0)))
  }

  test("each further AdaGrad step costs at most two Spark jobs") {
    def jobs(steps: Int) = SparkJobs.countIn(spark)(
      kernel(docsIn(spark), toy.copy(_4 = steps)).losses)
    val (two, three) = (jobs(2), jobs(3))
    info(s"steps=2: $two jobs, steps=3: $three jobs")
    assert(three - two <= 2, s"a step cost ${three - two} jobs ($two -> $three)")
  }

  test("training leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(kernel(docsIn(spark).repartition(3), toy).losses.nonEmpty)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"training left cached RDDs ${left.mkString(", ")}")
  }
}
