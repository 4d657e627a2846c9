package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around every call the benchmark makes into the engine, plus a
  * SparkListener and QueryExecutionListener that hang Spark's own
  * accounting (jobs, stages, tasks, task run/CPU time, shuffle and
  * spill bytes, planning time) on the span whose job group launched it.
  *
  * Each span gets its own job group, so attribution needs no timing
  * guesswork. Stages are also attributed to the engine module that
  * launched them: the innermost `graft.*` frame of the call site Spark
  * stores in `StageInfo.details`. Spans stay in memory and are written
  * when the run ends. */
final class Tracer(sc: SparkContext) {

  final class Span(val id: Int, val name: String, val parent: Int,
      val cycle: Int, val t0: Long, val wall0: Long) {
    var t1: Long = 0L
    var wall1: Long = 0L
    def seconds: Double = (t1 - t0) / 1e9
  }

  /** Spark-side totals attributed to one span. */
  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
    var planMs = 0L
  }

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var cycle = -1
  /** Tracing is switched per cycle, so one run can time traced and
    * untraced cycles side by side (the tracing-overhead reading). */
  var on = false

  def beginCycle(c: Int): Unit = cycle = c

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        cycle, System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try f
      finally {
        s.t1 = System.nanoTime(); s.wall1 = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  // ---- listener side (runs on the listener bus thread) ----

  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val execModule = new ConcurrentHashMap[Long, String]()
  /** (wall ms the query's planning started, planning ms) per query. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  /** Task run time (ms) per module, keyed by span. */
  val moduleRunMs = new ConcurrentHashMap[(Int, String), java.lang.Long]()
  val moduleJobs = new ConcurrentHashMap[(Int, String), java.lang.Integer]()
  /** (span, launch ms, finish ms) of every finished task. */
  val taskIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()

  def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(Tracer.spanId)

  val listener: SparkListener = new SparkListener {
    // a query's jobs (AQE submits most of them from a pool thread whose
    // call site names no engine frame) inherit the call site captured
    // when the query started on the driver thread
    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case x: SparkListenerSQLExecutionStart =>
        execModule.put(x.executionId, Tracer.moduleOf(x.details))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        val a = acc(s)
        a.synchronized { a.jobs += 1; a.stages += e.stageInfos.size }
        val mod = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(_.toLongOption).flatMap(x => Option(execModule.get(x)))
          .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption
            .map(si => Tracer.moduleOf(si.details)).getOrElse(Tracer.Unattributed))
        moduleJobs.merge((s, mod), 1, (x, y) => x + y)
        e.stageInfos.foreach { si =>
          stageSpan.put(si.stageId, Integer.valueOf(s))
          stageModule.put(si.stageId, mod)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      if (span != null && e.taskInfo != null) {
        val s = span.intValue
        val a = acc(s)
        val m = e.taskMetrics
        val run = if (m == null) 0L else m.executorRunTime
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
        val mod = Option(stageModule.get(e.stageId)).getOrElse(Tracer.Unattributed)
        moduleRunMs.merge((s, mod), run, (x, y) => x + y)
        taskIntervals.add((s, e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
  }

  /** Planning (analysis, optimization, physical planning) runs on the
    * driver thread inside the span that issued the query, so each query
    * is hung on the innermost span open when its planning started. Call
    * after the listener bus has drained. */
  def attributePlanning(): Unit = plans.asScala.foreach { case (t, ms) =>
    spans.filter(s => s.wall0 <= t && t <= s.wall1).maxByOption(s => (s.wall0, s.id))
      .foreach(s => acc(s.id).planMs += ms)
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** Self time: the span's duration minus what its children cover
    * (children are sequential on the driver thread, so they never overlap). */
  def selfSeconds: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Descendants of `root`, itself included. */
  def subtree(root: Int): Seq[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): Seq[Int] = i +: kids.getOrElse(i, Nil).toSeq.flatMap(s => go(s.id))
    go(root)
  }

  /** Spans as JSON lines: id, parent, cycle, name, start/end (ns since
    * the first span), self seconds and the Spark totals hung on it. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfSeconds
    val origin = spans.headOption.map(_.t0).getOrElse(0L)
    val lines = spans.map { s =>
      val a = Option(accs.get(s.id)).getOrElse(new Acc)
      s"""{"id":${s.id},"parent":${s.parent},"cycle":${s.cycle},"name":"${s.name}",""" +
        s""""start_ns":${s.t0 - origin},"end_ns":${s.t1 - origin},"self_s":${self(s.id)},""" +
        s""""jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},"task_run_ms":${a.runMs},""" +
        s""""task_cpu_ns":${a.cpuNs},"shuffle_write_bytes":${a.shuffleWrite},""" +
        s""""spill_bytes":${a.spill},"plan_ms":${a.planMs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Unattributed = "unattributed"
  private val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
  def spanId(g: String): Option[Int] =
    if (g.startsWith(Prefix)) g.substring(Prefix.length).toIntOption else None

  /** Queries the benchmark itself issues (its readers). */
  val Bench = "bench"

  /** The module of the innermost `graft.*` frame in a call site:
    * `graft.operators.Dedup$.exact(Dedup.scala:52)` is `Dedup`. A call
    * site with no engine frame but a benchmark frame is [[Bench]]. */
  def moduleOf(details: String): String = {
    val frames = Option(details).toSeq.flatMap(_.split('\n')).map(_.trim)
    frames.find(_.startsWith("graft."))
      .map { l =>
        val cls = l.takeWhile(_ != '(')
        val owner = cls.substring(0, math.max(0, cls.lastIndexOf('.')))
        owner.substring(owner.lastIndexOf('.') + 1).takeWhile(_ != '$')
      }
      .getOrElse(if (frames.exists(_.startsWith("perfbench."))) Bench else Unattributed)
  }
}
