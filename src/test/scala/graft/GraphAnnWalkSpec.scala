package graft

import graft.functions.VectorFunctions._
import graft.plans.TopKAgg
import graft.sources.GraphAnnIndex
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** The driver-regime beam walk of [[GraphAnnIndex.search]] and
  * [[GraphAnnIndex.searchPq]]: its out-of-SQL scorers (cosine and ADC)
  * and cut agree bit for bit with the SQL forms, a search runs a
  * bounded number of Spark jobs, and it leaves no cached RDD behind. */
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

  test("the ADC scorer is bit-equal to the SQL aggregate over cast(lutv term as decimal(18,6))") {
    val rnd = new java.util.Random(20261019L)
    def box(xs: Seq[Double]): Seq[java.lang.Double] = xs.map(Double.box)
    for (nCodes <- Seq(16, 5)) {
      // seeded LUTs and codes; the 1e10 scale puts the terms and sums past
      // 2^52 unscaled, where BigDecimal.doubleValue leaves its fast path
      val seeded = (0 until 300).map { i =>
        val pqM = 1 + rnd.nextInt(8)
        val scale = Seq(1e-3, 1.0, 1e3, 1e10)(rnd.nextInt(4))
        (i.toLong, box(Seq.fill(pqM * nCodes)(rnd.nextGaussian() * scale)),
          Seq.fill(pqM)(Long.box(rnd.nextInt(nCodes).toLong)))
      }
      def one(id: Long, terms: (Int, Int, Double)*) = {
        val pqM = terms.map(_._1).max + 1
        val lut = Array.fill(pqM * nCodes)(0.0)
        terms.foreach { case (sub, code, v) => lut(sub * nCodes + code) = v }
        val codes = (0 until pqM).map(s => terms.find(_._1 == s).fold(0)(_._2).toLong)
        (id, box(lut.toSeq), codes.map(Long.box))
      }
      // 6-dp halves: HALF_UP over the shortest decimal repr rounds these
      // away from zero (a binary expansion would round 5.0E-7 down to 0)
      val boundary = Seq(
        one(1000L, (0, 3, 5.0e-7)),
        one(1001L, (0, 1, -5.0e-7)),
        one(1002L, (0, 2, 0.1234565), (1, 4, 5.0e-7)),
        one(1003L, (0, 0, 2.5e-6), (1, 1, -3.5e-6), (2, 2, 1.0000015)),
        one(1004L, (0, 1, 123456789012.34567), (1, 2, 98765432109.87654)))
      // NULLs: a NULL term picked, a NULL code, NULL codes
      val nulls = Seq(
        (2000L, Seq[java.lang.Double](null) ++ box(Seq.fill(2 * nCodes - 1)(0.25)),
          Seq(Long.box(0L), Long.box(1L))),
        (2001L, box(Seq.fill(2 * nCodes)(0.25)), Seq(Long.box(1L), null)),
        (2002L, box(Seq.fill(nCodes)(0.25)), null))
      val rows = (seeded ++ boundary ++ nulls).map { case (id, l, c) => Row(id, l, c) }
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("lutv", ArrayType(DoubleType)), StructField("dcodes", ArrayType(LongType))))
      val sql = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .select(col("id"), col("lutv"), col("dcodes"), GraphAnnIndex.adcCol(nCodes))
        .collect()
      assert(sql.length == rows.length)
      val walked = sql.map { r =>
        val codes = if (r.isNullAt(2)) null
          else new GenericArrayData(r.getSeq[java.lang.Long](2).toArray[Any])
        val s = GraphAnnIndex.adcSim(
          GraphAnnIndex.adcTerms(r.getSeq[java.lang.Double](1)), nCodes, codes)
        val expected = if (r.isNullAt(3)) null else Double.box(r.getDouble(3))
        assert((s == null) == (expected == null), s"NULL mismatch at id ${r.getLong(0)}")
        if (s != null)
          assert(java.lang.Double.doubleToRawLongBits(s) ==
            java.lang.Double.doubleToRawLongBits(expected),
            s"nCodes $nCodes, id ${r.getLong(0)}: kernel $s vs SQL $expected")
        r.getLong(0) -> s
      }.toMap
      assert(walked(1000L) == 1.0e-6 && walked(1001L) == -1.0e-6 &&
        walked(1002L) == 0.123458 && walked(1003L) == 1.000001,
        "the 6-dp half boundaries must round HALF_UP")
      assert(walked(1004L) == 222222221122.222210, "large terms sum exactly")
      assert(Seq(2000L, 2001L, 2002L).forall(walked(_) == null), "NULLs score NULL")
    }
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
    for ((name, d, qs, k, beam, steps, f) <- cases; pq <- Seq(false, true)) {
      def run(mdf: Int) = {
        val res =
          if (pq) GraphAnnIndex.searchPq(spark, d, qs, k = k, beam = beam, steps = steps,
            maxDriverFrontier = mdf, candidateFilter = f)
          else GraphAnnIndex.search(spark, d, qs, k = k, beam = beam, steps = steps,
            maxDriverFrontier = mdf, candidateFilter = f)
        (res.schema, res.collect().map(_.toString).toSeq)
      }
      val (drvSchema, drv) = run(100000)
      val (distSchema, dist) = run(0)
      val tag = s"$name${if (pq) " (PQ)" else ""}"
      assert(drv.nonEmpty, s"$tag: empty result")
      assert(drvSchema == distSchema, s"$tag: schemas disagree: $drvSchema vs $distSchema")
      assert(drv == dist, s"$tag: regimes disagree")
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

  test("a driver-regime searchPqSelf, collected, runs at most steps + 8 Spark jobs") {
    val steps = 8
    val d = dir // built outside the count
    var res: DataFrame = null
    val jobs = SparkJobs.countIn(spark) {
      res = GraphAnnIndex.searchPqSelf(spark, d, steps = steps)
      res.collect()
    }
    info(s"$jobs jobs")
    assert(jobs > 0 && jobs <= steps + 8, s"$jobs jobs for a $steps-step PQ search")
    // reranked and cut on the driver: a local relation, nothing left to read
    val plan = res.queryExecution.optimizedPlan
    assert(plan.isInstanceOf[LocalRelation], s"not a local relation:\n$plan")
    assert(res.inputFiles.isEmpty, s"the result reads ${res.inputFiles.mkString(", ")}")
  }

  test("a collected searchPq leaves no RDD it cached behind, in either regime") {
    val sc = spark.sparkContext
    val q = spark.read.parquet(s"$dir/entries")
      .select(col("id").cast("long").as("query_id"), col("v").as("qv"))
      .where(col("query_id") < 4)
    for (mdf <- Seq(100000, 0)) {
      val before = sc.getPersistentRDDs.keySet
      val got = GraphAnnIndex.searchPq(spark, dir, q, maxDriverFrontier = mdf).collect()
      assert(got.nonEmpty)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"maxDriverFrontier=$mdf: cached RDDs left ${left.mkString(", ")}")
    }
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
