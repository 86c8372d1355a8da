package graft

import graft.functions.VectorFunctions._
import graft.plans.TopKAgg
import graft.sources.GraphAnnIndex
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
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
    def entryQ(d: String) = spark.read.parquet(s"$d/entries")
      .select(col("id").cast("long").as("query_id"), col("v").as("qv"))
    val q = entryQ(dir).where(col("query_id") < 4)
    // query_id 1 twice with different vectors (entry 5's rides as a
    // second vector of query 1), query_id 2 twice with its own vector:
    // rows that share an id rank as one query in both regimes
    val repeated = q.unionByName(entryQ(dir).where(col("query_id") === 5)
      .select(lit(1L).as("query_id"), col("qv")))
      .unionByName(q.where(col("query_id") === 2))
    // an index with deleted vectors, entry points among them
    val deleted = tmpDir("walkdel")
    FileUtils.copyDirectory(new java.io.File(dir), new java.io.File(deleted))
    GraphAnnIndex.deleteVectors(spark, deleted,
      emb.where(pmod(col("vec_id"), lit(7)) === 6).select(col("vec_id").as("id")), "mod7")
    val filt = Some(col("sim") > 0.05 && pmod(col("node") + col("query_id"), lit(3)) =!= 0)
    val cases: Seq[(String, String, DataFrame, Int, Int, Int, Option[Column])] =
      (for (steps <- Seq(0, 1, 2, 8); f <- Seq(None, filt))
        yield (s"steps=$steps filter=${f.isDefined}", dir, q, 7, 32, steps, f)) ++
      Seq(1, 2, 8).map(steps => (s"beam 4 < k 10, steps=$steps", dir, q, 10, 4, steps, None)) ++
      Seq(0, 2, 8).flatMap(steps => Seq(
        (s"repeated query_id, steps=$steps", dir, repeated, 7, 32, steps, None),
        (s"deleted vectors, steps=$steps", deleted, q, 7, 32, steps, None))) :+
      (("deleted vectors under a sim filter", deleted, q, 7, 32, 8, filt))
    for ((name, d, qs, k, beam, steps, f) <- cases) {
      def run(mdf: Int) = {
        val res = GraphAnnIndex.search(spark, d, qs, k = k, beam = beam, steps = steps,
          maxDriverFrontier = mdf, candidateFilter = f)
        (res.schema, res.collect().map(_.toString).toSeq)
      }
      val (drvSchema, drv) = run(100000)
      val (distSchema, dist) = run(0)
      assert(drv.nonEmpty, s"$name: empty result")
      assert(drvSchema == distSchema, s"$name: schemas disagree: $drvSchema vs $distSchema")
      assert(drv == dist, s"$name: regimes disagree")
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

  test("a driver-regime searchSelf, collected, runs at most steps + 3 Spark jobs") {
    val steps = 8
    val d = dir // built outside the count
    var res: DataFrame = null
    val jobs = SparkJobs.countIn(spark) {
      res = GraphAnnIndex.searchSelf(spark, d, steps = steps)
      res.collect()
    }
    assert(jobs > 0 && jobs <= steps + 3, s"$jobs jobs for a $steps-step search")
    // the ranked answer comes back as a local relation: nothing left
    // to read from the index once the search returns
    val plan = res.queryExecution.optimizedPlan
    assert(plan.isInstanceOf[LocalRelation], s"not a local relation:\n$plan")
    assert(res.inputFiles.isEmpty, s"the result reads ${res.inputFiles.mkString(", ")}")
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
