package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Locally the mains run `local[n]` with n = `SPARK_GRAFT_CPUS`
  * ([[forMain]]), the tests `local[8]` and perfbench `local[2]`; on a
  * cluster the same confs apply with `shuffle.partitions` scaled to
  * ~2-3x total executor cores. AQE is
  * on everywhere so runtime stats re-plan skewed joins and coalesce
  * post-shuffle partitions — the knob that matters most at 100 TB.
  */
object GraftSession {

  /** Confs applied to any session the engine creates or adopts. */
  val tuning: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // dims (region/nation/supplier/part) stay broadcast-able well past
    // the default 10MB at higher SFs:
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // int64-micros timestamps (not INT96): footers then carry real
    // min/max stats — the Delta writer's per-file `stats` and any
    // engine's row-group skipping depend on them — and delta-rs /
    // DuckDB read int64 natively
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // INT64 TIMESTAMP(NANOS) parquet columns decode as raw longs
    // instead of failing the read; `Tables.events` rescales them
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // static conf: only binds when the session is BUILT with it (the
    // adopted-session path below swallows the runtime-set failure);
    // brings the graft_* SQL functions and the FuseMd5Prefix rule
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    // static AND JVM-wide: the generated-class cache is sized once,
    // from the first session in the JVM, so this binds only when
    // GraftSession builds that session — an adopted session keeps
    // Spark's 100. At 100 entries each training op evicts the previous
    // op's classes and recompiles ~155 of them. 8192 is the smallest
    // power of two that holds every distinct class of a full
    // graft.Verify pass (4,731 at sf0.001); holding them costs ~140 MB
    // of heap (measured after a Verify pass at sf0.01)
    "spark.sql.codegen.cache.maxEntries" -> "8192",
  )

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
    tuning.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  def getOrCreate(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Adopted sessions (driver-created) still get the tuning confs that
    // are settable at runtime:
    tuning.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    // Planner strategies can't ride a static conf onto an adopted
    // session; the experimental hook is the runtime path. Append
    // idempotently: an adopting application's own strategies survive,
    // and repeat getOrCreate calls (or the GraftExtensions-injected
    // copy on built sessions) don't stack duplicates.
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[graft.plans.AsOfJoinStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new graft.plans.AsOfJoinStrategy
    spark
  }

  /** The session every `graft.*` main runs on: `local[n]` with `n`
    * shuffle partitions, where `n` is `SPARK_GRAFT_CPUS` (default 4). */
  def forMain(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    getOrCreate(s"local[$cpus]", cpus)
  }
}
