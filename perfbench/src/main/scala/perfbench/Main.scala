package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry points, run by perfbench/run.py:
  *
  *   gen  <workload> <seed> <inputs-dir>
  *   run  <workload> <seed> <seconds> <trace 0|1> <inputs-dir> <work-dir> <result.json>
  *
  * `gen` writes missing inputs (its own JVM, so generation buffers never
  * count toward the run's peak RSS). `run` sets up the session once, cold
  * (JVM start through the warm-up pass is `setup_s`), runs the closed loop
  * for `seconds`, checks every outcome and writes the result JSON that
  * run.py turns into the final line. */
object Main {
  def workload(name: String): Workload = name match {
    case "region_lookup" => new RegionLookup
    case "scan_aggregate" => new ScanAggregate
    case "sink_roundtrip" => new SinkRoundtrip
    case "dedup_loops" => new DedupLoops
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      args.headOption match {
        case Some("gen") => workload(args(1)).generate(new File(args(3)), args(2).toLong)
        case Some("run") =>
          run(args(1), args(2).toLong, args(3).toDouble, args(4) == "1",
            new File(args(5)), new File(args(6)), new File(args(7)))
        case _ => throw new IllegalArgumentException("usage: gen|run ...")
      }
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    // Spark leaves non-daemon threads behind; exit explicitly.
    System.exit(code)
  }

  private def buildSession(): SparkSession =
    graft.LocalSession.build(Runtime.getRuntime.availableProcessors().toString)

  def run(name: String, seed: Long, seconds: Double, traced: Boolean,
          inputs: File, work: File, out: File): Unit = {
    val jvmBootMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val w = workload(name)
    val tracer = new Tracer(traced)
    work.mkdirs()

    // ---- set-up, cold: JVM start through the warm-up pass = setup_s ------
    def timed[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6) }
    val (spark, startMs) = timed(tracer.span("session.start")(buildSession()))
    val (_, registerMs) = timed(tracer.span("session.register")(graft.GraftSession.registerAll(spark)))
    val c = new Ctx(spark, tracer, inputs, work, seed)
    val (_, tablesMs) = timed(tracer.span("session.tables")(w.tables(c)))
    val (_, warmMs) = timed(tracer.span("session.warm")(w.warm(c)))
    val setupS = (jvmBootMs + startMs + registerMs + tablesMs + warmMs) / 1000.0
    val setupEndS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val prepT0 = System.nanoTime()
    w.prepare(c)
    val prepareS = (System.nanoTime() - prepT0) / 1e9

    // ---- the closed loop --------------------------------------------------
    val listener = new JobListener
    if (traced) c.spark.sparkContext.addSparkListener(listener)
    val rng = new java.util.SplittableRandom(seed * 1000003L + 17)
    final case class UnitRec(ms: Double, mb: Double, kindsMs: Seq[(Int, Double)], jobs: Int, stages: Long,
                             tasks: Long, inJobMs: Double, gapMs: Double, runMs: Double, cpuMs: Double,
                             taskGcMs: Double, gcMs: Double, shW: Double, shR: Double, spill: Double,
                             planMs: Double, partitionsMs: Double)
    val units = mutable.ArrayBuffer[UnitRec]()
    val kindJobs = Array.fill(w.kinds.length)(mutable.ArrayBuffer[Double]())
    val kindGap = Array.fill(w.kinds.length)(mutable.ArrayBuffer[Double]())
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var rowsReturned = 0L
    // Start a unit only while one more (at the mean unit time so far) fits
    // in the window, so the run measures `seconds` and not a partial extra
    // pass; there is always at least one unit.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def fits = units.isEmpty || System.nanoTime() + units.map(_.ms).sum / units.length * 1e6 <= deadline
    while (fits) {
      val ops = w.unit(c, rng)
      if (traced) { org.apache.spark.PerfbenchAccess.drainListeners(c.spark.sparkContext); listener.reset() }
      c.planMs = 0; c.partitionsMs = 0
      val gc0 = Probes.gcMs
      var gapMs = 0.0
      def guard(body: => Outcome): Outcome =
        try body catch { case e: Throwable => Outcome(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ran = ops.map { op =>
        tracer.op += 1
        val jobs0 = if (traced) listener.jobIntervals.length else 0
        val w0 = System.currentTimeMillis()
        val k0 = System.nanoTime()
        val o = guard(tracer.span(s"op.${w.kinds(op.kind)}")(op.run()))
        val opMs = (System.nanoTime() - k0) / 1e6
        if (traced) {
          val w1 = System.currentTimeMillis()
          org.apache.spark.PerfbenchAccess.drainListeners(c.spark.sparkContext)
          val js = listener.jobIntervals.drop(jobs0)
          val g = Stats.gap(w0, w1, js).toDouble
          kindJobs(op.kind) += js.length.toDouble
          kindGap(op.kind) += g
          gapMs += g
        }
        (op, opMs, o)
      }
      val ms = ran.map(_._2).sum
      val gcMs = (Probes.gcMs - gc0).toDouble
      val jobs = if (traced) listener.jobIntervals else Nil
      // Result checks that need more Spark work run after the unit's
      // clock and scheduler counters are read.
      val outs = ran.map { case (op, opMs, t) =>
        val o = if (t.ok) op.check.map(f => guard(f())).getOrElse(t) else t
        attempted += 1
        if (!o.ok) failures += s"${w.kinds(op.kind)}: ${o.detail.take(300)}"
        rowsReturned += o.rows
        (op.kind, opMs, o)
      }
      units += UnitRec(ms, w.unitMb(outs.map(_._3)), outs.map(o => (o._1, o._2)), jobs.length,
        listener.stages, listener.tasks, Stats.unionLength(jobs).toDouble, gapMs,
        listener.runMs.toDouble, listener.cpuNs / 1e6, listener.gcMs.toDouble, gcMs,
        listener.shuffleWrite.toDouble, listener.shuffleRead.toDouble, listener.spill.toDouble,
        c.planMs, c.partitionsMs)
    }
    if (traced) c.spark.sparkContext.removeSparkListener(listener)
    val loopEndS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    // ---- report -------------------------------------------------------------
    def med(f: UnitRec => Double): Double = Stats.median(units.map(f).toSeq)
    def mean(f: UnitRec => Double): Double = units.map(f).sum / units.length
    val unitMs = units.map(_.ms).toSeq
    val mbS = units.map(_.mb).sum / (units.map(_.ms).sum / 1000.0)
    val kindMs = w.kinds.indices.map(k => units.flatMap(_.kindsMs.filter(_._1 == k).map(_._2)).toSeq)
    // A unit of one op (region_lookup) mixes four op types whose latencies
    // differ by 2x: a pooled median sits in a gap between them and jumps
    // with small shifts, so such runs report the mean of the per-type medians.
    val opP50 =
      if (units.forall(_.kindsMs.length == 1)) { val m = kindMs.filter(_.nonEmpty).map(Stats.median); m.sum / m.length }
      else Stats.median(unitMs)
    val e2e = Seq(
      "setup_s" -> setupS,
      "op_p50_ms" -> opP50,
      "mb_s" -> mbS,
      "peak_rss_mb" -> Probes.peakRssMb)
    val layers = mutable.LinkedHashMap[String, Double]()
    layers ++= Seq("session.start_ms" -> (jvmBootMs + startMs), "session.register_ms" -> registerMs,
      "session.tables_ms" -> tablesMs, "session.warm_ms" -> warmMs)
    val probes = if (traced) w.probes(c) else Nil
    attempted += c.probeChecks
    failures ++= c.probeFailures
    if (traced) {
      val counts = c.scanCounts
      val n = units.length.toDouble
      layers ++= Seq(
        "spark.plan_ms" -> med(_.planMs),
        "spark.jobs" -> mean(_.jobs.toDouble), "spark.stages" -> mean(_.stages.toDouble),
        "spark.tasks" -> mean(_.tasks.toDouble),
        "spark.in_job_ms" -> mean(_.inJobMs), "spark.between_job_ms" -> mean(_.gapMs),
        "spark.executor_run_ms" -> mean(_.runMs), "spark.executor_cpu_ms" -> mean(_.cpuMs),
        "jvm.gc_ms" -> mean(_.gcMs),
        "spark.shuffle_write_bytes" -> mean(_.shW), "spark.shuffle_read_bytes" -> mean(_.shR),
        "spark.spill_bytes" -> mean(_.spill))
      w.kinds.indices.foreach(k => layers += s"op.k${k + 1}_ms" -> (if (kindMs(k).isEmpty) 0.0 else Stats.median(kindMs(k))))
      Seq("filesListed" -> "plan.files_listed", "chunksPlanned" -> "plan.chunks_planned",
        "plannedBytes" -> "plan.planned_bytes", "chunksRead" -> "plan.chunks_read",
        "recordsParsed" -> "plan.records_parsed").foreach { case (m, k) => layers += k -> counts(m) / n }
      layers += "plan.parsed_per_returned" ->
        (if (rowsReturned == 0) 0.0 else counts("recordsParsed").toDouble / rowsReturned)
      (1 to 4).foreach(k => layers += s"decode.k${k}_mb_s" -> probes.toMap.getOrElse(s"decode.k$k", 0.0))
      layers += "s3.region_p50_ms" -> probes.toMap.getOrElse("s3.region_p50_ms", 0.0)
      layers += "traced.op_p50_ms" -> opP50
      layers += "traced.mb_s" -> mbS
    }

    // Named detail for the report: per-kind medians, tails, self times, probes.
    val detail = mutable.LinkedHashMap[String, Double]()
    detail += "session.jvm_ms" -> jvmBootMs
    detail += "jvm_setup_done_s" -> setupEndS
    detail += "prepare_s" -> prepareS
    detail += "jvm_loop_done_s" -> loopEndS
    detail += "units" -> units.length.toDouble
    w.kinds.indices.foreach(k => if (kindMs(k).nonEmpty) detail += s"${w.kinds(k)}.p50_ms" -> Stats.median(kindMs(k)))
    val allOps = kindMs.flatten
    detail += "op_samples" -> allOps.length.toDouble
    Stats.tail(unitMs, 0.95).foreach(v => detail += "unit_p95_ms" -> v)
    Stats.highestTail(unitMs).foreach { case (q, v) =>
      detail += "unit_tail_pct" -> q * 100; detail += "unit_tail_ms" -> v
    }
    detail += "unit_samples" -> unitMs.length.toDouble
    detail += "unit_mean_ms" -> unitMs.sum / unitMs.length
    if (traced) {
      val self = Tracer.selfMs(tracer.spans.toSeq)
      self.toSeq.sortBy(_._1).foreach { case (k, v) => detail += s"self.$k.ms" -> v }
      // per layer: the span names' first component (session, spark, plan, decode, udf, write, ...)
      self.groupBy(_._1.takeWhile(_ != '.')).toSeq.sortBy(_._1)
        .foreach { case (layer, xs) => detail += s"layer.$layer.self_ms" -> xs.values.sum }
      detail += "plan.partitions_ms" -> med(_.partitionsMs)
      detail += "spark.task_gc_ms" -> mean(_.taskGcMs)
      w.kinds.indices.foreach { k =>
        if (kindJobs(k).nonEmpty) {
          detail += s"${w.kinds(k)}.jobs" -> kindJobs(k).sum / kindJobs(k).length
          detail += s"${w.kinds(k)}.between_job_ms" -> kindGap(k).sum / kindGap(k).length
        }
      }
      tracer.writeJsonl(new File(work, "spans.jsonl"))
    }
    probes.foreach { case (k, v) => detail += k -> v }
    w.facts(c).foreach { case (k, v) => detail += k -> v }
    detail ++= Probes.poolPeaksMb
    w.close()
    c.spark.stop()

    def js(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }.mkString("{", ", ", "}")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val json =
      s"""{"workload": ${str(name)}, "seed": $seed, "traced": $traced, "attempted": $attempted,
         | "failed": ${failures.length}, "failures": ${failures.take(20).map(str).mkString("[", ", ", "]")},
         | "e2e": ${js(e2e)}, "layers": ${js(layers)}, "detail": ${js(detail)}}""".stripMargin
    java.nio.file.Files.writeString(out.toPath, json)
  }
}
