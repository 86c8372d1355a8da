package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's parquet test tables (see TESTDATA.md).
  *
  * Loading stays lazy/declarative: each is a plain parquet scan so
  * Catalyst can push filters and prune columns into the file read.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Guarantee scan parallelism ≥ the session's default parallelism.
    *
    * The local test files are single-row-group parquet, so the scan
    * yields ONE split and everything before the first shuffle runs on
    * one core. At cluster scale inputs arrive pre-split (many files /
    * row groups), the partition count already exceeds the target, and
    * this is a no-op — no shuffle is ever added to a well-split scan.
    * Catalyst still pushes filters and prunes columns through the
    * round-robin exchange, so scan pushdown is unaffected. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = fanOut(load(s, d, "lineitem"))
  /** `ts` arrives either as parquet timestamp[ns] (read as long under
    * `GraftSession.tuning`'s nanosAsLong conf, ÷1000 → µs) or as
    * timestamp[us] directly — the generator has used both physical
    * types across rounds, so sniff the decoded type instead of
    * assuming one. Either way the column lands as session-TZ
    * TIMESTAMP at µs precision. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = fanOut(load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = fanOut(load(s, d, "embeddings"))
}
