package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.perfbench.Bridge
import scala.collection.mutable

/** One operation of a workload's closed loop. `cls` is `read`, `write` or
  * `other`; `rows` is the input rows the op consumes; `check` runs
  * untimed after the op and returns what it found wrong. */
final case class Op(kind: String, cls: String, rows: Long, run: () => Any,
                    check: Any => Seq[String] = _ => Nil)

/** A finished op: its wall time and what its check found. */
final case class Done(idx: Int, kind: String, cls: String, secs: Double, rows: Long,
                      failures: Seq[String])

/** A seeded workload. The harness owns timing, tracing and the loop; the
  * workload owns its inputs, its ops and their correctness checks. */
trait Workload {
  def name: String
  /** Generate the inputs for `seed` in memory. */
  def generate(seed: Long): Gen.Summary
  /** Write the generated inputs under `dir` (untimed). */
  def writeInputs(spark: SparkSession, dir: File): Unit
  /** Once per process, before the first set-up: fill the JVM-wide caches
    * (generated code, JIT) that later sessions in the process reuse. */
  def warmJvm(spark: SparkSession, dir: File): Unit = ()
  /** The seed state, plus any per-session warm-up, into `dir`: the
    * workload's share of a set-up. */
  def load(spark: SparkSession, dir: File, rec: Recorder): Unit
  /** The `i`-th op, or None when the script is used up. */
  def op(i: Int): Option[Op]
  /** Ops between post-GC heap samples. */
  def gcEvery: Int
  /** A window runs on past its time until it holds this many reads and
    * writes, so every median has samples. */
  def minReads: Int = 5
  def minWrites: Int = 2
  /** Ops per block: a window ends only at a block boundary. */
  def blockSize: Int = 1
  /** Untimed end-of-window checks; returns (space amplification, failures). */
  def finish(spark: SparkSession): (Double, Seq[String])
  /** Extra lines for the report, after the window's checks. */
  def reportLines: Seq[String] = Nil
  /** The workload's own per-layer metrics from a traced window. */
  def layerMetrics(t: TracedWindow): Map[String, Double] = Map.empty
}

/** What a traced window saw, op by op. */
final class TracedWindow(val rec: Recorder) {
  val ops = mutable.ArrayBuffer.empty[Done]
  val jobs = mutable.Map.empty[Int, Seq[JobEvent]]
  val qes = mutable.Map.empty[Int, Seq[QeEvent]]
  val selfByOp = mutable.Map.empty[Int, Map[String, Double]]
  var selfErrMax = 0.0
  /** Rule name -> (time ns, effective time ns, runs, effective runs),
    * summed over the ops' bodies only. */
  val rules = mutable.Map.empty[String, (Double, Double, Double, Double)]

  def addRules(xs: Seq[(String, (Double, Double, Double, Double))]): Unit = xs.foreach {
    case (k, (a, b, c, d)) =>
      val (a0, b0, c0, d0) = rules.getOrElse(k, (0.0, 0.0, 0.0, 0.0))
      rules(k) = (a0 + a, b0 + b, c0 + c, d0 + d)
  }

  def root(i: Int): Span = rec.root(i).get
  def spansOf(i: Int, layer: String): Seq[Span] = rec.ofOp(i).filter(_.layer == layer)
  def wallMs(i: Int): Double = root(i).durMs

  /** Union of job intervals of op `i`, clipped to the op. */
  def jobUnionMs(i: Int, keep: JobEvent => Boolean = _ => true): Double = {
    val r = root(i)
    Intervals.length(jobs.getOrElse(i, Nil).filter(keep).map(j =>
      Intervals.clip((j.startMs, j.endMs), r.startMs, r.endMs)))
  }
}

/** Runs a workload: set-up, the timed closed loop, tracing, the report. */
final class Harness(workDir: File, val cores: Int) {

  var workload: Workload = _
  var spark: SparkSession = _
  var heapPeakMb = 0.0
  private var currentRec = new Recorder(false)
  /** The recorder of the window in progress (a disabled one outside). */
  def rec: Recorder = currentRec
  val tracing = new TracingCommitStore(graft.sources.RenameCommitStore, () => currentRec)

  def newSession(): SparkSession = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    s
  }

  /** Sample the heap after full collections; keeps the peak. The second
    * collection frees what the first one released to Spark's cleaner
    * (broadcast and shuffle blocks whose handles just died). */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapPeakMb = math.max(heapPeakMb, used)
  }

  /** Run ops from the start of the script until `seconds` of op time have
    * been spent. With `traced` set, every op is recorded and its Spark
    * events attached. */
  def window(seconds: Double, traced: Boolean): (Seq[Done], Option[TracedWindow]) = {
    val rec = new Recorder(traced)
    currentRec = rec
    val probe = if (traced) Some(new Probe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    if (traced) {
      spark.conf.set(graft.sources.CommitStore.ConfKey, TracingCommitStore.Name)
      tracing.reset()
    }
    val tw = if (traced) Some(new TracedWindow(rec)) else None
    val done = mutable.ArrayBuffer.empty[Done]
    var spent = 0.0
    var i = 0
    try {
      var next = workload.op(0)
      def short(cls: String, min: Int) = done.count(_.cls == cls) < min
      // stop only between whole blocks, so every window holds the same mix
      def more = spent < seconds || short("read", workload.minReads) ||
        short("write", workload.minWrites) || i % workload.blockSize != 0
      while (more && next.isDefined) {
        val op = next.get
        val sc = spark.sparkContext
        // no description: SQL executions then keep their action's call site
        sc.setJobGroup(s"op-$i", null, interruptOnCancel = false)
        var result: Any = null
        var err: Seq[String] = Nil
        // the rule meter is process-wide: read it around the op's body
        // alone, so the untimed checks between ops stay out of it
        if (traced) RuleMeter.reset()
        val t0 = System.nanoTime()
        try result = rec.op(i, op.kind)(op.run())
        catch { case e: Exception => err = Seq(s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val secs = (System.nanoTime() - t0) / 1e9
        tw.foreach(_.addRules(RuleMeter.read()))
        sc.clearJobGroup()
        spent += secs
        val fails = if (err.nonEmpty) err
          else try op.check(result) catch { case e: Exception => Seq(s"${op.kind} check: $e") }
        val d = Done(i, op.kind, op.cls, secs, op.rows, fails)
        done += d
        for (p <- probe; t <- tw) attach(t, p, d)
        i += 1
        if (i % workload.gcEvery == 0) sampleHeap()
        next = workload.op(i)
      }
      sampleHeap()
    } finally {
      probe.foreach(spark.sparkContext.removeSparkListener)
      if (traced) spark.conf.unset(graft.sources.CommitStore.ConfKey)
      currentRec = new Recorder(false)
    }
    (done.toSeq, tw)
  }

  /** Drain Spark's listener bus, then hang op `d`'s query executions,
    * planning phases and jobs under the spans that contain them. */
  private def attach(t: TracedWindow, p: Probe, d: Done): Unit = {
    Bridge.drain(spark.sparkContext)
    val r = t.rec.root(d.idx).get
    val (jobs, qes) = p.take(s"op-${d.idx}", r.startMs, r.endMs)
    // outer executions first, so nested ones land inside them; an
    // execution is placed by the midpoint of its part inside the op (its
    // analysis may predate the op, when its DataFrame was built earlier)
    qes.sortBy(_.startMs).foreach { q =>
      val qid = t.rec.attach(d.idx, "spark.query", s"q${q.id}", q.startMs, q.endMs,
        at = (math.max(q.startMs, r.startMs) + q.endMs) / 2)
      q.phases.foreach { case (ph, (s, e)) =>
        t.rec.attachUnder(qid, d.idx, "spark.phase", ph, s, e) }
    }
    jobs.sortBy(_.startMs).foreach(j =>
      t.rec.attach(d.idx, "spark.job", s"job${j.id} ${j.callSite}", j.startMs, j.endMs, at = j.startMs))
    t.jobs(d.idx) = jobs
    t.qes(d.idx) = qes
    t.ops += d
    val (self, err) = SelfTime.byLayer(r, t.rec.ofOp(d.idx))
    t.selfByOp(d.idx) = self
    t.selfErrMax = math.max(t.selfErrMax, err)
  }

  /** The per-layer metrics every workload reports from a traced window. */
  def commonLayerMetrics(t: TracedWindow): Map[String, Double] = {
    val n = math.max(t.ops.size, 1).toDouble
    val wallS = t.ops.map(d => t.wallMs(d.idx)).sum / 1000.0
    def perOp(f: Int => Double) = t.ops.map(d => f(d.idx)).sum / n
    def phase(name: String) = perOp { i =>
      val r = t.root(i)
      t.spansOf(i, "spark.phase").filter(_.name == name)
        .map(s => Intervals.clip((s.startMs, s.endMs), r.startMs, r.endMs))
        .map(x => math.max(0.0, x._2 - x._1)).sum / 1000.0
    }
    def sums(f: TaskSums => Long) = perOp(i => t.jobs.getOrElse(i, Nil).map(j => f(j.sums).toDouble).sum)
    val jobS = t.ops.map(d => t.jobUnionMs(d.idx)).sum / 1000.0
    val graftRules = t.rules.toSeq.filter(_._1.startsWith("graft."))
    val ruleRuns = graftRules.map(_._2._3).sum.toDouble
    val selfLayers = Seq("harness", "spark.query", "spark.phase", "spark.job", "spark.sql",
      "manifest", "commitstore", "etl", "operators")
    def self(layer: String) = perOp(i => t.selfByOp.getOrElse(i, Map.empty).getOrElse(layer, 0.0)) / 1000.0
    Map(
      "spark.parse_s" -> phase("parsing"),
      "spark.analysis_s" -> phase("analysis"),
      "spark.optimization_s" -> phase("optimization"),
      "spark.planning_s" -> phase("planning"),
      "spark.jobs" -> perOp(i => t.jobs.getOrElse(i, Nil).size.toDouble),
      "spark.job_s" -> jobS / n,
      "spark.job_frac" -> (if (wallS > 0) jobS / wallS else 0.0),
      "driver_gap_s" -> (wallS - jobS) / n,
      "spark.task_cpu_s" -> sums(_.cpuNs) / 1e9,
      "spark.task_gc_s" -> sums(_.gcMs) / 1e3,
      "spark.input_mb" -> sums(_.inBytes) / 1048576.0,
      "spark.shuffle_write_mb" -> sums(_.shuffleWriteBytes) / 1048576.0,
      "spark.spill_mb" -> sums(_.spillBytes) / 1048576.0,
      "spark.output_mb" -> sums(_.outBytes) / 1048576.0,
      "plans.rule_s" -> graftRules.map(_._2._1).sum / 1e9 / n,
      "plans.rule_runs" -> ruleRuns / n,
      "plans.rule_effective_frac" ->
        (if (ruleRuns > 0) graftRules.map(_._2._4).sum / ruleRuns else 0.0),
      "commitstore.puts" -> tracing.puts / n,
      "commitstore.put_s" -> tracing.putNs / 1e9 / n,
      "commitstore.reads" -> tracing.reads / n,
      "commitstore.read_s" -> tracing.readNs / 1e9 / n,
      "trace.ops" -> t.ops.size.toDouble,
      "trace.selftime_err_max" -> t.selfErrMax,
    ) ++ selfLayers.map(l => s"self.${l.replace('.', '_')}_s" -> self(l))
  }
}

/** The process-wide analyzer/optimizer rule meter. */
object RuleMeter {

  /** Rule name -> (time ns, effective time ns, runs, effective runs) from
    * the meter's dump, whose rows read
    * `name effectiveTime / time effectiveRuns / runs`. */
  def parse(dump: String): Seq[(String, (Double, Double, Double, Double))] = {
    val row = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r
    dump.split("\n").toSeq.collect {
      case row(name, te, t, eff, runs) =>
        name -> (t.toDouble, te.toDouble, runs.toDouble, eff.toDouble)
    }
  }

  def read(): Seq[(String, (Double, Double, Double, Double))] = parse(RuleExecutor.dumpTimeSpent())
  def reset(): Unit = RuleExecutor.resetMetrics()
}
