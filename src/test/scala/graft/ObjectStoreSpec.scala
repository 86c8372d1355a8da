package graft

import graft.sources.{DeltaSource, ObjectStore}
import org.apache.spark.sql.functions._

/** A RawLocalFileSystem under a foreign scheme: if any code path
  * assumed `java.io.File` (or the `file:` scheme specifically), reads
  * and writes through `graftfs://` would fail. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Object-store parity: every IO path resolves through the Hadoop
  * FileSystem API, so a non-`file:` scheme behaves identically, and
  * the s3a conf surface mirrors the reference's MinIO setup. */
class ObjectStoreSpec extends SparkSpec {
  import spark.implicits._

  private def withGraftFs[A](f: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    f
  }

  test("test tables read through a non-file Hadoop scheme") {
    withGraftFs {
      val viaScheme = Tables.documents(spark, s"graftfs://$sf").count()
      val local = Tables.documents(spark, sf).count()
      assert(viaScheme == local && local > 0)
    }
  }

  test("delta write + log replay + read work through a non-file Hadoop scheme") {
    withGraftFs {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ofs").toString
      val uri = s"graftfs://$tmp/t"
      DeltaSource.writeDelta(Seq((1L, "x"), (2L, "y")).toDF("id", "s"), uri)
      DeltaSource.writeDelta(Seq((3L, "z")).toDF("id", "s"), uri, overwrite = false)
      DeltaSource.checkpoint(spark, uri)
      assert(DeltaSource.readDelta(spark, uri).as[(Long, String)]
        .collect().toSet == Set((1L, "x"), (2L, "y"), (3L, "z")))
    }
  }

  test("s3a conf surface lands MinIO-parity settings on the Hadoop conf") {
    ObjectStore.configureS3a(spark, "http://minio.local:9000", "ak", "sk")
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.endpoint") == "http://minio.local:9000")
    assert(hc.get("fs.s3a.path.style.access") == "true")
    assert(hc.get("fs.s3a.connection.ssl.enabled") == "false")
    assert(ObjectStore.s3aUri("lake", "silver/part-0.parquet") ==
      "s3a://lake/silver/part-0.parquet")
  }
}
