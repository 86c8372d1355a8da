package graft

/** Dump `.explain("formatted")` for named queries (or all) to
  * `<outDir>/<name>.txt` — the plan evidence the optimization rounds
  * commit under `plans/r14/`. Not part of the driver contract.
  *
  * Usage: tools/run.sh graft.PlanDump <sfDir> <outDir> [name ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    outDir.mkdirs()
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.forMain()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"unknown query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              new java.io.File(outDir, s"$n.txt").toPath,
              plan.getBytes("UTF-8"))
            println(s"dumped $n")
          } catch {
            case t: Throwable =>
              System.err.println(s"FAIL $n: ${t.getClass.getSimpleName}: ${t.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
