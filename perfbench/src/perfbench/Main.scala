package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val p = q * (s.size - 1)
      val lo = math.floor(p).toInt; val hi = math.ceil(p).toInt
      s(lo) + (s(hi) - s(lo)) * (p - lo)
    }
}

/** Drives one workload as a closed loop and prints the metrics line.
  *
  * {{{
  * Main --workload cdc_sync|five_family_intake --seed N
  *      --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Set-up (session start, seeding, one warm-up batch) runs twice, each
  * time in a fresh session, and reports the median. The last set-up then
  * runs the workload's untimed warm-up cycles, and the timed loop
  * until the cycles' wall time reaches `--seconds` (two cycles at
  * least). With `--trace 1`,
  * odd cycles are traced and even cycles are not, so one run yields the
  * per-layer numbers and the tracing overhead. */
object Main {

  private val Modules = Seq("StreamOps", "Dedup", "Layout", "Multimodal", "Similarity",
    "CdcApply", "AvroSerde", "IncrementalSource", "SmtChain", Tracer.Bench)
  private val SetupReps = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Path.of(req("work")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    val setupTimes = ArrayBuffer.empty[Double]
    // oracle mismatches of set-up batches count as failed operations too
    val problems = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var tracer: Tracer = null
    var wl: Workload = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) { spark.stop(); deleteTree(args.work.resolve(s"rep${rep - 1}")) }
      val dir = Files.createDirectories(args.work.resolve(s"rep$rep"))
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus)
      tracer = new Tracer(spark.sparkContext)
      wl = build(args, spark, dir, tracer, s"pb_hist_r$rep")
      wl.seedState() // batch 0
      wl.produce(WarmUpBatch); wl.batch(WarmUpBatch)
      val warm = wl.read(WarmUpBatch)
      wl.compact()
      setupTimes += (System.nanoTime() - t0) / 1e9
      problems ++= wl.setupProblems ++ Option.when(!warm.readOk)(s"set-up ${warm.detail}")
    }
    // untimed warm-up cycles on the last set-up, checked like timed ones,
    // so the timed loop runs JIT-compiled code rather than a falling trend
    val setupFailed = problems.size.toLong
    val warmOps = 2L * warmCycles(args.workload) // a batch and a read each
    var nextBatch = WarmUpBatch + 1
    for (_ <- 1 to warmCycles(args.workload)) {
      wl.produce(nextBatch); wl.batch(nextBatch)
      val w = wl.read(nextBatch)
      wl.compact()
      if (!w.readOk) problems += s"warm-up ${w.detail}"
      nextBatch += 1
    }
    val sc = spark.sparkContext
    if (args.trace) {
      sc.addSparkListener(tracer.listener)
      spark.listenerManager.register(tracer.queryListener)
    }
    val envBefore = Env.read(spark)
    val use0 = Usage.now()

    val batchS = ArrayBuffer.empty[Double]; val readS = ArrayBuffer.empty[Double]
    val tracedBatch = ArrayBuffer.empty[Double]; val plainBatch = ArrayBuffer.empty[Double]
    var records = 0L; var failed = problems.size.toLong; var folds = 0L
    var attempted = setupFailed + warmOps
    var digest = ""
    var cycle = 0
    var timed = 0.0
    // at least two cycles: two batch samples, and in a traced run one
    // traced and one untraced cycle
    while ((timed < args.seconds || cycle < 2) && failed == 0) {
      wl.produce(nextBatch) // producer side: not timed
      if (cycle == 0) digest = wl.digest.hex // inputs up to the first timed batch
      tracer.on = args.trace && cycle % 2 == 1
      tracer.beginCycle(cycle)
      val c0 = System.nanoTime()
      var b1 = c0
      val out = tracer.span("cycle") {
        attempted += 2 // the batch and the read are one operation each
        val ok = try { wl.batch(nextBatch); true } catch {
          case e: Exception => problems += s"batch $nextBatch threw: $e"; false
        }
        b1 = System.nanoTime()
        if (!ok) CycleOutcome(0, batchOk = false, readOk = false, 0, Nil, "")
        else try {
          val r = wl.read(nextBatch)
          readS ++= r.readS
          r.copy(folds = wl.compact())
        } catch {
          case e: Exception =>
            problems += s"read/compact after batch $nextBatch threw: $e"
            CycleOutcome(0, batchOk = true, readOk = false, 0, Nil, "")
        }
      }
      val c1 = System.nanoTime()
      val bs = (b1 - c0) / 1e9
      batchS += bs
      (if (tracer.on) tracedBatch else plainBatch) += bs
      timed += (c1 - c0) / 1e9
      if (out.batchOk) records += out.records else failed += 1
      if (!out.readOk) { failed += 1; if (out.detail.nonEmpty) problems += out.detail }
      folds += out.folds
      nextBatch += 1
      cycle += 1
    }
    tracer.on = false
    val loopUse = Usage.now().minus(use0)
    val envAfter = Env.read(spark)
    if (args.trace) {
      org.apache.spark.perfbenchshim.Bus.drain(sc)
      tracer.attributePlanning()
    }
    val readings = wl.layerReadings()
    val rssMb = Env.peakRssMb()

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", Stats.median(setupTimes.toSeq), "s"),
        ("records_per_s", records / math.max(timed, 1e-9), "1/s"),
        ("batch_p50_s", Stats.median(batchS.toSeq), "s"),
        ("read_p50_s", Stats.median(readS.toSeq), "s"),
        ("rss_peak_mb", rssMb, "MB"))
      else layerMetrics(tracer, readings, tracedBatch.toSeq, plainBatch.toSeq, folds, timed,
        loopUse)
    problems.take(5).foreach(p => System.err.println(s"[perfbench] $p"))
    if (args.trace) tracer.write(args.work.resolve("spans.jsonl"))
    val info = Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "input_digest" -> Json.str(digest), "cpus" -> cpus.toString,
      "batches" -> batchS.size.toString, "setup_reps" -> Json.arr(setupTimes.toSeq),
      "batch_s" -> Json.arr(batchS.toSeq), "read_s" -> Json.arr(readS.toSeq),
      "env_before" -> envBefore.json, "env_after" -> envAfter.json,
      "loop_usage" -> loopUse.json))
    println(s"""{"info": $info}""")
    spark.stop()
    val ms = Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}""")
  }

  /** Seeding is batch 0 and the set-up's warm-up batch is batch 1. */
  private val WarmUpBatch = 1L

  /** Untimed cycles between the last set-up and the timed loop. A
    * `cdc_sync` cycle is short, and its batch time keeps falling for
    * about 20 cycles while the JIT compiles the planner and the apply
    * path; a `five_family_intake` set-up already runs four long batches. */
  private def warmCycles(workload: String): Int = if (workload == "cdc_sync") 20 else 0

  private def build(a: Args, spark: SparkSession, dir: Path, tracer: Tracer,
      table: String): Workload = a.workload match {
    case "cdc_sync" => new CdcSync(spark, dir, a.seed, tracer, liveKeys = 100000,
      batchRows = 2000, v2AtBatch = 5L)
    case "five_family_intake" => new FiveFamilyIntake(spark, dir, a.seed, tracer, table,
      batchRows = 500, maxDeltaRatio = 0.3)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def layerMetrics(t: Tracer, readings: Map[String, Double], traced: Seq[Double],
      plain: Seq[Double], folds: Long, timed: Double, use: Usage): Seq[(String, Double, String)] = {
    val self = t.selfSeconds
    val byName = t.spans.groupBy(_.name)
    def medSelf(n: String) = Stats.median(byName.getOrElse(n, Nil).map(s => self(s.id)).toSeq)
    def medDur(n: String) = Stats.median(byName.getOrElse(n, Nil).map(_.seconds).toSeq)
    val batches = byName.getOrElse("batch", Nil).toSeq
    val nb = math.max(1, batches.size).toDouble
    val cycleSpans = byName.getOrElse("cycle", Nil).toSeq
    val nc = math.max(1, cycleSpans.size).toDouble
    val batchIds = batches.flatMap(b => t.subtree(b.id))
    val cycleIds = cycleSpans.flatMap(c => t.subtree(c.id)).toSet
    val accs = batchIds.map(t.acc)
    def sumB(f: t.Acc => Double) = accs.map(f).sum / nb
    // share of batch wall time in which no task of that batch ran
    val intervals = t.taskIntervals.asScala.toSeq.groupBy(_._1)
    val idle = batches.map { b =>
      val ivs = t.subtree(b.id).flatMap(i => intervals.getOrElse(i, Nil))
        .map { case (_, s, e) => (math.max(s, b.wall0), math.min(e, b.wall1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      ivs.foreach { case (s, e) =>
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      val dur = math.max(1L, b.wall1 - b.wall0)
      (dur - covered).toDouble / dur
    }
    val modRun = t.moduleRunMs.asScala.toSeq.filter(kv => cycleIds(kv._1._1))
      .groupBy(_._1._2).map { case (m, xs) => m -> xs.map(_._2.longValue).sum / 1000.0 }
    val modJobs = t.moduleJobs.asScala.toSeq.filter(kv => cycleIds(kv._1._1))
      .groupBy(_._1._2).map { case (m, xs) => m -> xs.map(_._2.intValue).sum.toDouble }
    val totalRun = modRun.values.sum
    val cycleWall = cycleSpans.map(_.seconds).sum
    val selfSum = cycleIds.toSeq.map(self).sum
    val base = Seq(
      ("sources.poll_s", medSelf("poll"), "s"),
      ("sources.decode_s", medSelf("decode"), "s"),
      ("smt.chain_s", medSelf("smt"), "s"),
      ("cdc.apply_s", medSelf("apply"), "s"),
      ("cdc.read_s", if (readings.contains("cdc.state_rows")) medDur("read") else 0.0, "s"),
      ("cdc.state_rows", readings.getOrElse("cdc.state_rows", 0.0), "count"),
      ("cdc.snapshot_bytes", readings.getOrElse("cdc.snapshot_bytes", 0.0), "bytes"),
      ("cdc.write_amp", readings.getOrElse("cdc.write_amp", 0.0), "ratio"),
      ("intake.batch_s", medSelf("intake"), "s"),
      ("history.compact_s", byName.getOrElse("compact", Nil).map(_.seconds).sum / nc, "s"),
      ("history.folds", folds.toDouble, "count"),
      ("history.main_bytes", readings.getOrElse("history.main_bytes", 0.0), "bytes"),
      ("history.delta_bytes", readings.getOrElse("history.delta_bytes", 0.0), "bytes"),
      ("history.bytes_per_survivor", readings.getOrElse("history.bytes_per_survivor", 0.0), "bytes"),
      ("intake.dup_recall", readings.getOrElse("intake.dup_recall", 0.0), "ratio"),
      ("intake.false_drop_frac", readings.getOrElse("intake.false_drop_frac", 0.0), "ratio"),
      ("intake.survivor_frac", readings.getOrElse("intake.survivor_frac", 0.0), "ratio"),
      ("spark.jobs_per_batch", sumB(_.jobs), "count"),
      ("spark.stages_per_batch", sumB(_.stages), "count"),
      ("spark.tasks_per_batch", sumB(_.tasks), "count"),
      ("spark.plan_s", sumB(_.planMs / 1000.0), "s"),
      ("spark.no_task_frac", Stats.median(idle), "ratio"),
      ("spark.task_run_s", sumB(_.runMs / 1000.0), "s"),
      ("spark.task_cpu_s", sumB(_.cpuNs / 1e9), "s"),
      ("spark.shuffle_write_bytes", sumB(_.shuffleWrite.toDouble), "bytes"),
      ("spark.spill_bytes", sumB(_.spill.toDouble), "bytes"))
    val modules = Modules.flatMap { m =>
      Seq((s"$m.task_run_s", modRun.getOrElse(m, 0.0) / nc, "s"),
        (s"$m.jobs", modJobs.getOrElse(m, 0.0) / nc, "count"))
    }
    base ++ modules ++ Seq(
      ("unattributed_frac",
        if (totalRun == 0) 0.0 else modRun.getOrElse(Tracer.Unattributed, 0.0) / totalRun, "ratio"),
      ("trace_overhead_frac",
        if (plain.isEmpty || traced.isEmpty) 0.0 else Stats.median(traced) / Stats.median(plain) - 1,
        "ratio"),
      ("trace.self_sum_frac", if (cycleWall == 0) 0.0 else selfSum / cycleWall, "ratio"),
      ("loop.batches", (traced.size + plain.size).toDouble, "count"),
      // JVM-wide over the timed loop, traced and untraced cycles alike
      ("spark.codegen_classes_per_cycle",
        use.codegenClasses.toDouble / math.max(1, traced.size + plain.size), "count"),
      ("jvm.jit_s_per_cycle", use.jitS / math.max(1, traced.size + plain.size), "s"),
      ("loop.timed_s", timed, "s"))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** Readings of the machine, taken before and after the timed loop: a
  * fixed CPU kernel, a memory-latency walk, and the wall time of six
  * one-task Spark jobs (the scheduler round trip that bounds a many-job
  * micro-batch). Reported raw; nothing is compared against a stored
  * figure. */
final case class Env(cpuMicroS: Double, memMicroS: Double, sched6JobsS: Double) {
  def json: String = Json.obj(Seq("cpu_micro_s" -> Json.num(cpuMicroS),
    "mem_micro_s" -> Json.num(memMicroS), "sched_6jobs_s" -> Json.num(sched6JobsS)))
}

object Env {
  @volatile private var sink = 0L

  private def cpuKernel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var acc = 0L; var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  }

  /** A dependent random walk over 32 MB: memory latency, which a
    * co-tenant's cache and bandwidth use moves and the CPU kernel does
    * not see. */
  private lazy val ring: Array[Int] = {
    val n = 1 << 23
    val rng = new java.util.SplittableRandom(7)
    val perm = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val next = new Array[Int](n)
    i = 0
    while (i < n) { next(perm(i)) = perm((i + 1) % n); i += 1 }
    next
  }

  private def memKernel(): Double = {
    val r = ring
    val t0 = System.nanoTime()
    var p = 0; var i = 0
    while (i < 500000) { p = r(p); i += 1 }
    sink = p
    (System.nanoTime() - t0) / 1e9
  }

  def read(spark: SparkSession): Env = {
    val cpu = Stats.median((1 to 5).map(_ => cpuKernel()))
    val mem = Stats.median((1 to 3).map(_ => memKernel()))
    val sc = spark.sparkContext
    val sched = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      (1 to 6).foreach(_ => sc.parallelize(Seq(1), 1).count())
      (System.nanoTime() - t0) / 1e9
    })
    Env(cpu, mem, sched)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** What the timed loop used: the JVM's CPU, GC and JIT-compile time,
  * the classes Spark's code generator compiled, and the time the
  * hypervisor took the machine's CPUs away (steal, from /proc/stat). */
final case class Usage(cpuS: Double, gcS: Double, jitS: Double, stealS: Double,
    codegenClasses: Long) {
  def minus(o: Usage): Usage = Usage(cpuS - o.cpuS, gcS - o.gcS, jitS - o.jitS,
    stealS - o.stealS, codegenClasses - o.codegenClasses)
  def json: String = Json.obj(Seq("cpu_s" -> Json.num(cpuS), "gc_s" -> Json.num(gcS),
    "jit_s" -> Json.num(jitS), "steal_s" -> Json.num(stealS),
    "codegen_classes" -> codegenClasses.toString))
}

object Usage {
  def now(): Usage = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    // cpu user nice system idle iowait irq softirq steal, in USER_HZ (100/s)
    val steal = Files.readAllLines(Path.of("/proc/stat")).asScala.headOption
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
    val jitMs = java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime
    Usage(os.getProcessCpuTime / 1e9, gcMs / 1000.0, jitMs / 1000.0, steal,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
