package graft

import graft.operators.{Bpe, Curation, Dedup, Glove}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The generated-class cache holds a training op's classes from one
  * op to the next. At Spark's default 100 entries each op of this
  * shape evicted the previous op's classes and recompiled ~160 of
  * them; with the engine's cache a second op compiles 0 when run
  * alone. In the shared test JVM a few may still compile: a class
  * compiled inside a task is cached per the task thread's context
  * class loader, and the executor's task threads carry more than one
  * loader once other sessions have run (8 classes seen in a full
  * suite run). The bound sits far below the eviction regime. */
class CodegenCacheSpec extends SparkSpec {

  /** Classes compiled (codegen cache misses) while `body` runs. */
  private def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** One op of the training workload's shape, at toy model sizes, on
    * a fresh 90% sample: the memos are cleared so both trainers run. */
  private def op(): Unit = {
    Glove.clearMemo()
    Bpe.clearMemo()
    val docs = Tables.documents(spark, sf).where(pmod(col("doc_id"), lit(10L)) =!= 3L)
    Curation.funnel(docs).collect()
    Dedup.nearDupClusters(Dedup.minhashLshPairs(docs)).collect()
    Bpe.bpeTrain(docs, 32, "text", Bpe.ScaledMaxGram).collect()
    Glove.train(docs, 128, Glove.ScaledWindow, 8, Glove.ScaledSteps, Glove.Lr, "text",
      Glove.ScaledMaxGram, Glove.ScaledTermScale).w.collect()
  }

  test("a second curate-and-train op compiles at most 16 classes, not ~160") {
    val first = compiled(op())
    val second = compiled(op())
    assert(second <= 16, s"the second op compiled $second classes (the first $first)")
  }
}
