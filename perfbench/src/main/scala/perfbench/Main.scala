package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints a human-readable report (lines starting with `#`)
  * and, as the last line, one JSON object with the run's metrics. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  val Workloads = Seq("sparkify_etl", "lake_mix", "llm_curate")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w (known: ${Workloads.mkString(", ")})")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", new File(m.getOrElse("work", ".bench_build/perfbench")))
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  private def workload(name: String, h: Harness): Workload = name match {
    // the curation cycle rides along so that the operator layer is
    // measured on a listed workload; see perfbench/NOTES.md
    case "sparkify_etl" => new Composite(name, new EtlWorkload(() => h.rec),
      new CurateWorkload(() => h.rec, h.cores, CurateWorkload.Small, queriesPerCycle = 2))
    case "lake_mix" => new LakeWorkload(() => h.rec, h.cores)
    case "llm_curate" => new CurateWorkload(() => h.rec, h.cores)
  }

  /** Warm set-ups per run after the cold one; their median is `setup_s`. */
  val SetupReps = 3

  /** Largest gap allowed between an op's per-layer self times and its wall. */
  val SelfTimeTolerance = 0.05

  def run(a: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val runDir = new File(a.work, s"run-${a.workload}-${a.seed}").getAbsoluteFile
    Files.delete(runDir); runDir.mkdirs()
    val h = new Harness(runDir, cores)
    val w = workload(a.workload, h)
    h.workload = w
    graft.sources.CommitStore.register(TracingCommitStore.Name, h.tracing)
    val say = (s: String) => println(s"# $s")

    // inputs: generated in memory (their determinism is a self-test),
    // then written out; neither counts as set-up
    val g0 = System.nanoTime()
    val inputs = w.generate(a.seed)
    say(s"workload ${a.workload} seed ${a.seed}: inputs ${inputs.rows} rows, " +
      s"${inputs.bytes} bytes, sha256 ${inputs.digest}")
    var genS = (System.nanoTime() - g0) / 1e9

    // the cold set-up, from process start: session with the graft
    // extensions, the JVM-wide warm-up and the seed state
    val spark = h.newSession()
    val wi = System.nanoTime()
    w.writeInputs(spark, runDir)
    genS += (System.nanoTime() - wi) / 1e9
    w.warmJvm(spark, runDir)
    w.load(spark, runDir, h.rec)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val coldS = (System.currentTimeMillis() - jvmStart) / 1000.0 - genS
    // then warm set-ups, each a new session and the seed state: what the
    // program's own set-up costs once the process is up
    val setupS = if (a.trace) Seq(coldS) else (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.load(h.newSession(), runDir, h.rec)
      (System.nanoTime() - t0) / 1e9
    }
    say(f"cold set-up $coldS%.3f s from process start (input generation $genS%.3f s excluded); " +
      (if (a.trace) "no warm set-ups in a traced run"
       else s"warm set-ups ${setupS.map(x => f"$x%.3f").mkString(", ")} s"))

    // the timed window, tracing off
    val sinceStart = () => (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tWindow = sinceStart()
    val (done, _) = h.window(a.seconds, traced = false)
    val tFinish = sinceStart()
    val (amp, endFails) =
      try w.finish(h.spark) catch { case e: Exception => (Double.NaN, Seq(s"end-of-window checks: $e")) }
    var opFails = done.flatMap(_.failures)

    val writes = done.filter(_.cls == "write")
    val busy = done.map(_.secs).sum
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "read_p50_gmean_s" -> Stats.kindMedianGmean(done.filter(_.cls == "read").map(d => d.kind -> d.secs)),
      "write_p50_gmean_s" -> Stats.kindMedianGmean(writes.map(d => d.kind -> d.secs)),
      "ops_per_s" -> done.size / busy,
      "rows_per_s" -> Stats.kindRateGmean(writes.map(d => (d.kind, d.rows, d.secs))),
      "space_amp" -> amp,
      "heap_live_peak_mb" -> h.heapPeakMb)
    Report.endToEnd(a.workload, done, e2e, w, say)

    var metrics: Map[String, (Double, String)] = Report.E2eUnits.map { case (k, u) => k -> (e2e(k), u) }.toMap
    // the end-of-window checks count as one more attempt
    var attempted = done.size + 1
    var failed = done.count(_.failures.nonEmpty) + (if (endFails.nonEmpty) 1 else 0)

    if (a.trace) {
      // the same script from a fresh start, traced, then once more
      // untraced. The first window also warms the process (ops pay
      // first-use costs there), so the overhead compares the traced window
      // op for op with the one after it; that one runs a little warmer, so
      // the figure leans high rather than low
      w.load(h.spark, runDir, h.rec)
      val (tdone, Some(t)) = h.window(a.seconds, traced = true)
      val layers = h.commonLayerMetrics(t) ++ w.layerMetrics(t)
      w.load(h.spark, runDir, h.rec)
      val (after, _) = h.window(a.seconds, traced = false)
      val extra = tdone ++ after
      failed += extra.count(_.failures.nonEmpty)
      opFails ++= extra.flatMap(_.failures)
      attempted += extra.size
      val n = math.min(tdone.size, after.size)
      def busy(ds: Seq[Done]) = ds.take(n).map(_.secs).sum
      val overhead = busy(tdone) / busy(after) - 1.0
      val all = layers + ("trace.overhead_frac" -> overhead)
      if (t.selfErrMax > SelfTimeTolerance) {
        failed += 1
        opFails :+= f"per-layer self times miss an op's wall time by ${t.selfErrMax * 100}%.2f%% " +
          f"(tolerance ${SelfTimeTolerance * 100}%.0f%%)"
      }
      val spansFile = new File(a.work, s"traces/${a.workload}-${a.seed}.jsonl")
      Report.writeSpans(t.rec, spansFile)
      Report.layers(all, t, say)
      say(s"spans written to $spansFile")
      metrics = Report.LayerUnits.map { case (k, u) => k -> (all.getOrElse(k, 0.0), u) }.toMap
    }

    say(f"process phases: start to window $tWindow%.1f s, window ${tFinish - tWindow}%.1f s, " +
      f"checks and traced window ${sinceStart() - tFinish}%.1f s")
    val allFails = opFails ++ endFails
    allFails.take(20).foreach(f => say(s"FAILED: $f"))
    val badValue = metrics.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
    if (badValue.nonEmpty) { say(s"FAILED: no value for ${badValue.mkString(", ")}"); failed += 1 }
    val correct = failed == 0
    say(f"fail_frac = ${failed.toDouble / attempted}%.4f ($failed of $attempted)")
    println(Report.json(correct, attempted, failed, metrics))
    h.spark.stop()
    Files.delete(runDir)
    if (correct) 0 else 1
  }
}

/** Formatting of the report and the result line. */
object Report {

  /** End-to-end metrics and units, in BENCHMARK.json order. */
  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_gmean_s" -> "s", "write_p50_gmean_s" -> "s", "ops_per_s" -> "1/s",
    "rows_per_s" -> "rows/s", "space_amp" -> "ratio", "heap_live_peak_mb" -> "MB")

  /** Per-layer metrics and units, in BENCHMARK.json order. */
  val LayerUnits: Seq[(String, String)] = {
    val s = "s"; val c = "count"; val f = "fraction"; val mb = "MB"
    Seq(
      "spark.parse_s" -> s, "spark.analysis_s" -> s, "spark.optimization_s" -> s,
      "spark.planning_s" -> s, "spark.jobs" -> c, "spark.job_s" -> s, "spark.job_frac" -> f,
      "driver_gap_s" -> s, "spark.task_cpu_s" -> s, "spark.task_gc_s" -> s,
      "spark.input_mb" -> mb, "spark.shuffle_write_mb" -> mb, "spark.spill_mb" -> mb,
      "spark.output_mb" -> mb,
      "plans.rule_s" -> s, "plans.rule_runs" -> c, "plans.rule_effective_frac" -> f,
      "manifest.resolve_s" -> s, "manifest.append_s" -> s, "manifest.merge_s" -> s,
      "manifest.delete_s" -> s, "manifest.update_s" -> s, "manifest.maint_s" -> s,
      "manifest.jobs_per_write" -> c, "manifest.gap_per_write_s" -> s,
      "manifest.gap_frac_write" -> f, "manifest.files_scanned_frac" -> f,
      "manifest.write_amp" -> "ratio", "manifest.versions_end" -> c,
      "manifest.live_files_end" -> c, "manifest.sidecar_files_end" -> c,
      "commitstore.puts" -> c, "commitstore.put_s" -> s, "commitstore.reads" -> c,
      "commitstore.read_s" -> s,
      "etl.json_scan_s" -> s, "etl.dedup_s" -> s, "etl.sink_write_s" -> s,
      "etl.files_written" -> c, "etl.bytes_written" -> "bytes",
      "operators.clean_s" -> s, "operators.gopher_s" -> s, "operators.dedup_s" -> s,
      "operators.cluster_jobs" -> c, "operators.decontam_s" -> s, "operators.shard_write_s" -> s,
      "operators.ann_build_s" -> s, "operators.ann_query_s" -> s, "operators.bm25_s" -> s,
      "operators.recall_at_10" -> f,
      "self.harness_s" -> s, "self.spark_query_s" -> s, "self.spark_phase_s" -> s,
      "self.spark_job_s" -> s, "self.spark_sql_s" -> s, "self.manifest_s" -> s,
      "self.commitstore_s" -> s, "self.etl_s" -> s, "self.operators_s" -> s,
      "trace.ops" -> c, "trace.selftime_err_max" -> f, "trace.overhead_frac" -> f)
  }

  private def rate(kind: String)(done: Seq[Done]) =
    Stats.kindRateGmean(done.filter(_.kind == kind).map(d => (d.kind, d.rows, d.secs)))
  private def p50(kinds: String*)(done: Seq[Done]) =
    Stats.kindMedianGmean(done.filter(d => kinds.contains(d.kind)).map(d => d.kind -> d.secs))
  private val curation = Seq(("curate_docs_per_s", "docs/s", rate("curate") _),
    ("search_p50_s", "s", p50("ann_query", "bm25") _))

  /** The workload's own metrics, as the report prints them next to the
    * bounded ones: name, unit, and how they come from the window's ops. */
  private val Aliases: Map[String, Seq[(String, String, Seq[Done] => Double)]] = Map(
    "sparkify_etl" -> (Seq(("etl_rows_per_s", "rows/s", rate("pipeline_run") _),
      ("etl_run_p50_s", "s", p50("pipeline_run") _)) ++ curation),
    "lake_mix" -> Seq(("mix_ops_per_s", "1/s", (ds: Seq[Done]) => ds.size / ds.map(_.secs).sum)),
    "llm_curate" -> curation)

  def endToEnd(name: String, done: Seq[Done], e2e: Map[String, Double], w: Workload,
               say: String => Unit): Unit = {
    E2eUnits.foreach { case (k, u) => say(f"$k%-20s ${e2e(k)}%.6f $u") }
    Aliases(name).foreach { case (alias, u, f) => say(f"$alias%-20s ${f(done)}%.6f $u") }
    // plain medians over all ops of a class, and tail latency only where
    // at least ten samples lie beyond it
    Seq("read" -> done.filter(_.cls == "read"), "write" -> done.filter(_.cls == "write")).foreach {
      case (cls, ds) =>
        say(f"${cls + "_p50_s"}%-20s ${Stats.median(ds.map(_.secs))}%.6f s over ${ds.size} samples")
        Stats.reportable(ds.map(_.secs), 0.9) match {
          case Some(p) => say(f"${cls + "_p90_s"}%-20s $p%.6f s over ${ds.size} samples")
          case None => say(s"${cls}_p90_s not reported: ${ds.size} samples (p90 needs 100)")
        }
    }
    say("ops in order: " + done.map(d => f"${d.kind}=${d.secs}%.3f").mkString(" "))
    done.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ds) =>
      say(f"  op $k%-16s n=${ds.size}%4d p50 ${Stats.median(ds.map(_.secs))}%.4f s")
    }
    w.reportLines.foreach(say)
  }

  def layers(m: Map[String, Double], t: TracedWindow, say: String => Unit): Unit = {
    LayerUnits.foreach { case (k, u) => say(f"$k%-30s ${m.getOrElse(k, 0.0)}%.6f $u") }
    val selfSum = LayerUnits.map(_._1).filter(_.startsWith("self.")).map(m.getOrElse(_, 0.0)).sum
    val wall = t.ops.map(d => t.wallMs(d.idx)).sum / 1000.0 / math.max(t.ops.size, 1)
    say(f"self times sum to $selfSum%.6f s per op against $wall%.6f s wall " +
      f"(worst op off by ${m.getOrElse("trace.selftime_err_max", 0.0) * 100}%.2f%%)")
  }

  def writeSpans(rec: Recorder, f: File): Unit = {
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f, "UTF-8")
    try rec.all.foreach(s => out.println(
      s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""))
    finally out.close()
  }

  def json(correct: Boolean, attempted: Int, failed: Int, m: Map[String, (Double, String)]): String = {
    val body = m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "-1" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
