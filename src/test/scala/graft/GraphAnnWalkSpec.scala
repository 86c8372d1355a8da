package graft

import graft.functions.VectorFunctions._
import graft.plans.TopKAgg
import graft.sources.GraphAnnIndex
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** The driver-regime beam walk of [[GraphAnnIndex.search]]: its
  * out-of-SQL scorer and cut agree bit for bit with the SQL forms, a
  * search runs a bounded number of Spark jobs, and it leaves no cached
  * RDD behind. */
class GraphAnnWalkSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"gwalk_$tag").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  private lazy val dir = {
    val d = tmpDir("walk")
    GraphAnnIndex.buildAndSave(emb, d)
    d
  }

  private def vec(xs: Float*): ArrayData = ArrayData.toArrayData(xs.toArray)

  test("the walk scorer is bit-equal to SQL round(cosinePrenormed(dot, qnrm, dnrm), 6)") {
    val rnd = new java.util.Random(20261018L)
    val seeded = (0 until 300).map { i =>
      val dim = 1 + rnd.nextInt(24)
      def draw() = Array.fill(dim)((rnd.nextGaussian() * (1 + rnd.nextInt(3))).toFloat)
      (i.toLong, draw(), draw(), None: Option[(Double, Double)])
    }
    // explicit norms put the cosine ON a 6-dp half (HALF_UP over the
    // shortest decimal repr rounds these away from zero; a binary
    // expansion of the double would round 5.0E-7 down to 0)
    val boundary = Seq(
      (Array(1234565f), Array(1f), (1e7, 1.0)),   // 0.1234565
      (Array(-1234565f), Array(1f), (1e7, 1.0)),  // -0.1234565
      (Array(1f), Array(1f), (2000.0, 1000.0)),   // 5.0E-7
      (Array(5f), Array(1f), (2e6, 1.0)),         // 2.5E-6
      (Array(7f), Array(-1f), (2e6, 1.0))         // -3.5E-6
    ).zipWithIndex.map { case ((q, d, n), i) => (1000L + i, q, d, Some(n)) }
    // a zero-norm query: the cosine is undefined (NULL)
    val zero = Seq((2000L, Array(0f, 0f, 0f), Array(1f, 2f, 3f), None))
    val rows = (seeded ++ boundary ++ zero).map { case (id, q, d, n) =>
      Row(id, q.toSeq, d.toSeq, n.map(_._1).orNull, n.map(_._2).orNull)
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("qv", ArrayType(FloatType)), StructField("dv", ArrayType(FloatType)),
      StructField("qn", DoubleType), StructField("dn", DoubleType)))
    val sql = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("id"), col("qv"), col("dv"),
        coalesce(col("qn"), norm(col("qv"))).as("qnrm"),
        coalesce(col("dn"), norm(col("dv"))).as("dnrm"))
      .select(col("*"), round(cosinePrenormed(dot(col("qv"), col("dv")),
        col("qnrm"), col("dnrm")), 6).as("sim"))
      .collect()
    assert(sql.length == rows.length)
    val walked = sql.map { r =>
      val q = r.getSeq[Float](1); val d = r.getSeq[Float](2)
      val s = GraphAnnIndex.walkSim(vec(q: _*), true, r.getDouble(3),
        vec(d: _*), true, r.getDouble(4))
      val expected = if (r.isNullAt(5)) null else Double.box(r.getDouble(5))
      assert((s == null) == (expected == null), s"NULL mismatch at id ${r.getLong(0)}")
      if (s != null)
        assert(java.lang.Double.doubleToRawLongBits(s) ==
          java.lang.Double.doubleToRawLongBits(expected),
          s"id ${r.getLong(0)}: walk $s vs SQL $expected")
      r.getLong(0) -> s
    }.toMap
    assert(walked(1000L) == 0.123457 && walked(1001L) == -0.123457 &&
      walked(1002L) == 0.000001 && walked(1003L) == 0.000003 &&
      walked(1004L) == -0.000004, "the 6-dp half boundaries must round HALF_UP")
    assert(walked(2000L) == null, "a zero-norm side scores NULL")
    // the shared cut: TopKAgg's SQL aggregate over the same scores
    // (NULL dropped by update) equals TopKAgg.cut over the non-NULL
    // walk scores, duplicates of an id included
    val scored = sql.toSeq.flatMap(r => Seq(r, r))
      .map(r => (r.getLong(0), if (r.isNullAt(5)) null else Double.box(r.getDouble(5))))
    val viaSql = spark.createDataFrame(scored).toDF("id", "sim")
      .agg(TopKAgg.topKDistinct(col("sim"), col("id"), 25).as("top"))
      .select(explode(col("top")).as("t")).select(col("t.id"), col("t.score"))
      .collect().map(r => (r.getDouble(1), r.getLong(0))).toSeq
    val viaCut = TopKAgg.cut(ArrayBuffer(scored.collect {
      case (id, s) if s != null => (s.doubleValue, id)
    }: _*), 25, dedupIds = true).toSeq
    assert(viaCut == viaSql)
  }

  test("the driver walk matches the distributed walk at every step count and under a sim filter") {
    def q = spark.read.parquet(s"$dir/entries")
      .select(col("id").cast("long").as("query_id"), col("v").as("qv"))
      .where(col("query_id") < 4)
    val filt = Some(col("sim") > 0.05 && pmod(col("node") + col("query_id"), lit(3)) =!= 0)
    for (steps <- Seq(0, 1, 2, 8); f <- Seq(None, filt)) {
      def run(mdf: Int) = GraphAnnIndex.search(spark, dir, q, k = 7, steps = steps,
        maxDriverFrontier = mdf, candidateFilter = f).collect().map(_.toString).toSeq
      val drv = run(100000)
      assert(drv.nonEmpty, s"steps=$steps filter=${f.isDefined}: empty result")
      assert(drv == run(0), s"steps=$steps filter=${f.isDefined}: regimes disagree")
    }
  }

  test("an index whose meta predates vec_type still opens and serves the same") {
    val d = tmpDir("oldmeta")
    GraphAnnIndex.buildAndSave(emb, d)
    val fresh = GraphAnnIndex.searchSelf(spark, d).collect().map(_.toString).toSeq
    val old = spark.read.parquet(s"$d/meta").drop("vec_type")
    val rows = old.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), old.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$d/meta")
    assert(GraphAnnIndex.readMeta(spark, d).vecType ==
      emb.schema("embedding").dataType.catalogString)
    assert(GraphAnnIndex.searchSelf(spark, d).collect().map(_.toString).toSeq == fresh)
  }

  test("a driver-regime searchSelf, collected, runs at most steps + 8 Spark jobs") {
    val steps = 8
    val jobs = SparkJobs.countIn(spark)(GraphAnnIndex.searchSelf(spark, dir, steps = steps).collect())
    assert(jobs > 0 && jobs <= steps + 8, s"$jobs jobs for a $steps-step search")
  }

  test("a collected search leaves no RDD it cached behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val got = GraphAnnIndex.searchSelf(spark, dir).collect()
    assert(got.nonEmpty)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the search left cached RDDs ${left.mkString(", ")}")
  }
}
