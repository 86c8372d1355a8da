package graft.sources

import org.apache.spark.sql.SparkSession

/** Object-store configuration surface.
  *
  * The reference's substrate is MinIO via the S3 API
  * (/root/reference/src/helpers/minio_service.py:10-24 — endpoint,
  * access/secret key, bucket ensure): every zone read/write goes
  * through it. In Spark the equivalent is the s3a Hadoop filesystem;
  * graft's IO never touches `java.io.File`, so any table path may be
  * an `s3a://bucket/prefix` (or any other configured Hadoop scheme)
  * URI — `Tables.load`, `Sources.*` and `DeltaSource` all resolve
  * through the Hadoop FileSystem API.
  *
  * These settings land on the session's hadoopConfiguration, so they
  * apply to executors' scans as well as driver-side log/commit IO.
  */
object ObjectStore {

  /** Point s3a at an S3-compatible endpoint. Defaults mirror a MinIO
    * deployment: path-style addressing (no virtual-host buckets) and
    * plain HTTP inside the pod network. */
  def configureS3a(spark: SparkSession, endpoint: String,
                   accessKey: String, secretKey: String,
                   pathStyleAccess: Boolean = true,
                   ssl: Boolean = false): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    hc.set("fs.s3a.path.style.access", pathStyleAccess.toString)
    hc.set("fs.s3a.connection.ssl.enabled", ssl.toString)
    // bounded retries beat infinite hangs when an endpoint is down
    hc.set("fs.s3a.attempts.maximum", "3")
  }

  def s3aUri(bucket: String, key: String): String = s"s3a://$bucket/$key"
}
