package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The JVM half of the benchmark: reads a plan written by `run.py`, runs
  * one workload (set-up, one cold pass, steady passes until the time is
  * up), and writes every raw sample back as JSON. All statistics, output
  * checks and the trace accounting happen in Python; this side only
  * calls into the program's public functions and times each call.
  *
  * Usage: `perfbench.Driver <plan.json> <result.json>`. */
object Driver {
  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = json.readValue(Files.readString(Paths.get(args(0))),
      classOf[Map[String, Any]])
    val rec = new Rec(plan("trace") == 1)
    val cpus = plan("cpus").toString
    val work = Paths.get(plan("work_dir").toString)
    val spark = graft.core.GraftSession.builder(cpus)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (rec.trace) rec.listen(spark)
    rec.mark("session_ready")
    val w: Workload = plan("workload") match {
      case "warehouse_dml" => new Dml(spark, rec, plan, work)
      case "analytic_suite" => new Analytic(spark, rec, plan, work)
    }
    val reps = plan("setup_reps").asInstanceOf[Int]
    for (i <- 0 until reps) {
      val t0 = System.nanoTime()
      w.setup(i)
      rec.setupRep((System.nanoTime() - t0) / 1e9)
      println(f"setup $i ${(System.nanoTime() - t0) / 1e9}%.3fs")
    }
    val seconds = plan("seconds").toString.toDouble
    rec.runPass(0)(w.pass(0))
    val steadyStart = System.nanoTime()
    var p = 1
    while ((System.nanoTime() - steadyStart) / 1e9 < seconds) {
      rec.runPass(p)(w.pass(p)); p += 1
    }
    rec.mark("end")
    val info = w.info
    val out = rec.result ++ Map(
      "passes" -> p, "workload_info" -> info,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "driver_memory" -> Runtime.getRuntime.maxMemory)
    spark.stop()
    Files.writeString(Paths.get(args(1)), json.writeValueAsString(out))
  }
}

/** One workload: `setup(i)` builds everything a pass starts from (called
  * several times; the last call's state is used), `pass(p)` runs the
  * seeded op list once on fresh state. */
trait Workload {
  def setup(rep: Int): Unit
  def pass(p: Int): Unit
  def info: Map[String, Any] = Map.empty
}

/** Timing and tracing of calls into the program.
  *
  * `op` times one end-to-end operation (a verb call, model build, chunk,
  * query) and keeps its output digest for the Python-side check. When
  * tracing, `span` records name/start/end/parent/op of every layer call,
  * and Spark listeners record job intervals, task metrics and Catalyst
  * phases, tagged with the op that submitted them through a local
  * property. Spans stay in memory until the result is written. */
final class Rec(val trace: Boolean) {
  private val origin = System.nanoTime()
  /** epoch-ms of `origin`, to place listener timestamps on our clock. */
  private val originMs = System.currentTimeMillis()
  def now: Long = System.nanoTime() - origin
  private def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L

  @volatile var pass = 0
  private val nextOp = new java.util.concurrent.atomic.AtomicInteger(0)
  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger(0)
  private val marks = mutable.LinkedHashMap.empty[String, Long]
  private val setupReps = mutable.ArrayBuffer.empty[Double]
  private val samples = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val layer = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageTaskMetrics =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  /** (op id, span id) of the innermost open span on this thread. */
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }

  def mark(name: String): Unit = marks(name) = now
  private val passes = mutable.ArrayBuffer.empty[Seq[Long]]
  @volatile private var inPass = false
  def runPass(p: Int)(body: => Unit): Unit = {
    pass = p
    inPass = true
    val t0 = now
    body
    passes += Seq(p.toLong, t0, now)
    inPass = false
  }
  def setupRep(s: Double): Unit = setupReps += s
  /** A per-layer value that is not a timing sample (counts, sizes).
    * `add` sums; what the cold pass adds is kept apart as `cold.<name>`,
    * so the plain name holds set-up and steady passes only. */
  def put(name: String, v: Any): Unit = layer.put(name, v)
  def add(name: String, v: Double): Unit =
    layer.merge(if (inPass && pass == 0) s"cold.$name" else name, v,
      (a, b) => a.asInstanceOf[Double] + b.asInstanceOf[Double])

  /** Time one end-to-end op. `body` returns the op's output (a digest
    * row, a count) for the Python-side check; a throw is recorded as a
    * failed op, never as a fast one. */
  def op(kind: String, cat: String, meta: Map[String, Any] = Map.empty)
        (body: => Seq[Any]): Unit = {
    val id = nextOp.getAndIncrement()
    val spark = SparkSession.getActiveSession
    spark.foreach(_.sparkContext.setLocalProperty("perfbench.op", id.toString))
    val prev = stack.get
    stack.set((id, -1) :: Nil)
    val t0 = now
    val (ok, out, err) =
      try { val r = body; (true, r, null) }
      catch { case e: Throwable => e.printStackTrace(System.out); (false, Nil, String.valueOf(e).take(400)) }
    val t1 = now
    stack.set(prev)
    spark.foreach(_.sparkContext.setLocalProperty("perfbench.op", null))
    println(f"op pass=$pass%d $kind%s ${(t1 - t0) / 1e9}%.3fs ok=$ok%s")
    samples.add(Map("pass" -> pass, "op" -> id, "kind" -> kind, "cat" -> cat,
      "t0" -> t0, "t1" -> t1, "ok" -> ok, "out" -> out.map(norm), "err" -> err)
      ++ meta)
  }

  /** A layer call inside an op. Without tracing it is just `body`. */
  def span[T](name: String)(body: => T): T = {
    if (!trace) return body
    val id = nextSpan.getAndIncrement()
    val outer = stack.get
    val (opId, parent) = outer.headOption.getOrElse((-1, -1))
    stack.set((opId, id) :: outer)
    SparkSession.getActiveSession.foreach(
      _.sparkContext.setLocalProperty("perfbench.span", id.toString))
    val t0 = now
    try body
    finally {
      val t1 = now
      stack.set(outer)
      SparkSession.getActiveSession.foreach(_.sparkContext.setLocalProperty(
        "perfbench.span", if (parent < 0) null else parent.toString))
      spans.add(Map("id" -> id, "parent" -> parent, "op" -> opId,
        "name" -> name, "t0" -> t0, "t1" -> t1, "pass" -> pass))
    }
  }

  /** Timed call outside any op (set-up steps, per-layer probes). */
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(name, (System.nanoTime() - t0) / 1e9)
  }

  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case x => x
  }

  def listen(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      private val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String, Int)]()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val op = p.flatMap(x => Option(x.getProperty("perfbench.op"))).getOrElse("-1")
        val sp = p.flatMap(x => Option(x.getProperty("perfbench.span"))).getOrElse("-1")
        e.stageIds.foreach(s => stageOp.put(s, op))
        started.put(e.jobId, (fromEpochMs(e.time), op, sp, e.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (t0, op, sp, tasks) =>
          jobs.add(Map("job" -> e.jobId, "op" -> op.toInt, "span" -> sp.toInt,
            "t0" -> t0, "t1" -> fromEpochMs(e.time), "tasks" -> tasks,
            "ok" -> (e.jobResult == JobSucceeded)))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          val op = Option(stageOp.get(e.stageId)).getOrElse("-1")
          val v = Array(1L, m.executorCpuTime, m.jvmGCTime,
            m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)
          stageTaskMetrics.merge(op, v, (a, b) => a.zip(b).map(x => x._1 + x._2))
        }
    })
    listenSession(spark)
  }

  /** Catalyst phase times of every query a session runs (sessions made
    * with `newSession()` need their own registration). */
  def listenSession(spark: SparkSession): Unit = if (trace) {
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (name, ph) =>
          phases.add(Map("phase" -> name, "t0" -> fromEpochMs(ph.startTimeMs),
            "t1" -> fromEpochMs(ph.endTimeMs)))
        }
    })
  }

  def result: Map[String, Any] = {
    // listener events are delivered asynchronously; give the bus a moment
    if (trace) Thread.sleep(500)
    Map("marks" -> marks.toMap, "origin_ms" -> originMs, "pass_bounds" -> passes.toSeq, "setup_reps" -> setupReps.toSeq,
      "samples" -> samples.asScala.toSeq, "spans" -> spans.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq, "phases" -> phases.asScala.toSeq,
      "layer" -> layer.asScala.toMap,
      "task_metrics" -> stageTaskMetrics.asScala.map { case (k, v) => k -> v.toSeq }.toMap,
      "vm_hwm_kb" -> Util.vmHwmKb)
  }
}

object Util {
  def vmHwmKb: Long = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) return -1L
    Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def parquetFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally w.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally w.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }
}
