package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in a fresh JVM: set up, warm up, then a closed
  * loop of operations until their times add up to the requested
  * seconds, each followed by an untimed output check. Writes the raw
  * samples as one JSON object to `--out`; `run.py` turns them into
  * metrics.
  *
  * Set-up is repeated `--prepare` times (each into a fresh directory,
  * the last one serves the ops), so the reported set-up time can be a
  * median. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = a("launch-ms").toLong
    val root = a("root")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"

    val spark = graft.GraftSession.getOrCreate(a("master"), a("shuffle-partitions").toInt)
    val tr = new Tracer(spark.sparkContext, traced)
    val bootS = (System.currentTimeMillis() - launchMs) / 1e3

    val w = Workload(a("workload"), spark, tr, a("seed").toLong)
    val prepareS = (1 to a("prepare").toInt).map { r =>
      val t0 = System.nanoTime()
      w.prepare(s"$root/prepare$r")
      val dt = (System.nanoTime() - t0) / 1e9
      if (r > 1) Workload.deleteTree(s"$root/prepare${r - 1}")
      dt
    }

    final case class OpRecord(op: Int, wallS: Double, heapMb: Double, outcome: Outcome)
    val warmups = mutable.ArrayBuffer.empty[OpRecord]
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    def runOp(i: Int): OpRecord = {
      val t0 = System.nanoTime()
      val check = try Right(tr.span("op", i)(_ => w.op(i))) catch { case NonFatal(e) => Left(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      // settle: the first GC lets Spark's ContextCleaner drop the op's
      // unreachable broadcasts and cached blocks, the second frees them
      System.gc()
      Thread.sleep(300)
      System.gc()
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      val outcome = check.fold(e => Outcome(Some(s"op threw $e"), 0.0),
        c => try c() catch { case NonFatal(e) => Outcome(Some(s"check threw $e"), 0.0) })
      OpRecord(i, wallS, heap.getUsed / 1048576.0, outcome)
    }

    val warmT0 = System.nanoTime()
    (1 to a("warmup").toInt).foreach(k => warmups += runOp(-k))
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val firstOpMs = System.currentTimeMillis()

    // the measured time is the ops' own: checks and settling run between
    // them, outside the window
    val loopT0 = System.nanoTime()
    val minOps = a("min-ops").toInt
    while (ops.size < minOps || ops.map(_.wallS).sum < seconds)
      ops += runOp(ops.size)
    val loopS = (System.nanoTime() - loopT0) / 1e9

    // a training span without Spark jobs means a memoized model served
    // the op: the op did not do the work it is timed for
    tr.drain()
    def withJobCheck(r: OpRecord): OpRecord =
      w.mustRunJobs.find(tr.jobs(_, r.op) == 0).filter(_ => r.outcome.error.isEmpty) match {
        case Some(span) => r.copy(outcome = r.outcome.copy(error = Some(s"$span ran no Spark job")))
        case None => r
      }

    def opJson(r: OpRecord): Json.Raw = Json.obj(
      "op" -> r.op, "wall_s" -> r.wallS, "heap_mb" -> r.heapMb,
      "recall" -> r.outcome.recall, "error" -> r.outcome.error.orNull)
    def spanJson(s: Span): Json.Raw = {
      val c = tr.listener.counters(s.id)
      Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_s" -> (s.startNs - loopT0) / 1e9,
        "eager_s" -> (s.eagerNs - s.startNs) / 1e9, "wall_s" -> (s.endNs - s.startNs) / 1e9,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_cpu_s" -> c.taskCpuNs / 1e9,
        "task_run_s" -> c.taskRunMs / 1e3, "shuffle_bytes" -> c.shuffleBytes,
        "gc_s" -> s.gcMs / 1e3)
    }
    val out = Json.obj(
      "boot_s" -> bootS,
      "setup_wall_s" -> (firstOpMs - launchMs) / 1e3,
      "prepare_s" -> Json.arr(prepareS),
      "warmup_s" -> warmupS,
      "loop_s" -> loopS,
      "slots" -> spark.sparkContext.defaultParallelism,
      "warmups" -> Json.arr(warmups.map(r => opJson(withJobCheck(r)))),
      "ops" -> Json.arr(ops.map(r => opJson(withJobCheck(r)))),
      "spans" -> (if (traced) Json.arr(tr.spans.map(spanJson)) else Json.arr(Nil)))
    Files.write(Paths.get(a("out")), out.s.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The little JSON this harness writes. */
object Json {
  /** Already-encoded JSON, embedded verbatim. */
  final case class Raw(s: String)

  private def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def arr(items: Iterable[Any]): Raw = Raw(items.map(value).mkString("[", ",", "]"))
}
