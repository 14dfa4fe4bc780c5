package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Helpers for the result line and the report. */
object Report {
  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** (q1, median, q3) by linear interpolation; NaN for no samples. */
  def quantiles(xs: Seq[Double]): (Double, Double, Double) = {
    if (xs.isEmpty) return (Double.NaN, Double.NaN, Double.NaN)
    val s = xs.sorted.toIndexedSeq
    def at(p: Double): Double = {
      val x = p * (s.size - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }
    (at(0.25), at(0.5), at(0.75))
  }

  def median(xs: Seq[Double]): Double = quantiles(xs)._2
}

/** One benchmark run of one workload in this JVM:
  *
  *   graft.perfbench.Main --workload crawl_full --seed 1 --seconds 10
  *     --trace 0 --work DIR --out result.json
  *   graft.perfbench.Main --checksum --workload crawl_full --seed 1
  *
  * Sets up several times (timed), runs the one-off checks, warms up with
  * one untimed operation, then runs operations back to back (one client,
  * closed loop) until `--seconds` have passed and at least `MinOps` ran.
  * With `--trace 1` half the operations (at least `MinOps`) are traced
  * (listener, spans) and half are not, so the run measures its own
  * tracing overhead.
  */
object Main {
  /** measured operations per run, however long they take */
  val MinOps = 2

  private final case class Metric(name: String, unit: String, value: Double)

  def main(args: Array[String]): Unit = {
    val opts = args.toList.sliding(2, 1).collect {
      case List(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(_ == "--checksum").map(_.drop(2) -> "true")
    val workload = opts("workload")
    val seed = opts("seed").toLong
    if (opts.contains("checksum")) {
      println(Workloads.checksum(workload, seed))
      return
    }
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(workload, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, seed)
    val w = Workloads(workload, ctx)
    try {
      val result = run(w, ctx, workload, seconds, trace, Paths.get(opts.getOrElse("trace-dir", ".")))
      Files.writeString(Paths.get(opts("out")), result)
    } finally {
      w.close()
      spark.stop()
    }
    // JobService.stop leaves its HTTP handler pool's non-daemon threads
    // running, which would keep this JVM alive after main returns
    System.exit(0)
  }

  /** The session a user of each path runs: the job service's FAIR
    * session for the service workload, PipelineMain's local session
    * shape (local[cores], shuffle partitions = cores, AQE) otherwise.
    */
  private def session(workload: String, cores: Int): SparkSession =
    if (workload == "record_match") graft.service.JobService.fairSession(s"local[$cores]", cores)
    else SparkSession.builder().appName(s"graft-perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def run(w: Workload, ctx: Ctx, name: String, seconds: Double, trace: Boolean,
      traceDir: Path): String = {
    val clock = System.nanoTime()
    def phase(what: String): Unit =
      println(f"$name%-16s phase $what%-10s done at ${(System.nanoTime() - clock) / 1e9}%.2f s")
    val setups = (0 until w.setupReps).map { rep =>
      val s = timed(w.setup(rep))
      if (rep > 0) Files2.delete(ctx.work.resolve(s"setup${rep - 1}"))
      s
    }
    phase("setup")
    w.check()
    phase("check")
    // JIT, codegen caches, file-system caches
    if (w.warmUp) try w.op() catch {
      case NonFatal(e) => ctx.problems += s"warm-up operation failed: $e"
    }
    phase("warm-up")

    val tracer = new Tracer
    val rec = new JobRecorder
    val sc = ctx.spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[(Op, Boolean)]
    val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def put(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var attempted = 0
    var failed = 0
    val t0 = System.nanoTime()
    // traced runs alternate untraced, traced, traced, untraced, so both
    // kinds see the same mix of earlier and later (warmer) operations
    val minOps = if (trace) 2 * MinOps else MinOps
    while ((System.nanoTime() - t0) / 1e9 < seconds || attempted < minOps) {
      val traced = trace && (attempted % 4 == 1 || attempted % 4 == 2)
      if (traced) {
        sc.addSparkListener(rec)
        ctx.tracer = Some(tracer)
        ctx.rec = Some(rec)
      }
      val gc0 = gcMs()
      attempted += 1
      try {
        val o = w.op()
        ops += ((o, traced))
        if (traced) {
          org.apache.spark.perfbench.ListenerDrain(sc)
          val root = tracer.spans.filter(s => s.parent == 0 && s.name == "op").last
          val tot = rec.window(root.start, root.end)
          put("spark.jobs", tot.jobs.size)
          put("spark.task_s", tot.taskS)
          put("spark.task_skew", tot.skew)
          put("spark.shuffle_write_bytes", tot.shuffleWrite.toDouble)
          put("spark.spill_bytes", tot.spill.toDouble)
          put("jvm.gc_s", (gcMs() - gc0) / 1e3)
          put("trace.root_self_share", tracer.selfTime(root) / root.dur)
          put("stage.critical_s", tracer.children(root.id).map(_.dur).foldLeft(0.0)(math.max) / 1e3)
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          ctx.problems += s"operation failed: $e"
      } finally if (traced) {
        sc.removeSparkListener(rec)
        ctx.tracer = None
        ctx.rec = None
      }
    }

    phase("measure")
    val done = ops.map(_._1)
    val walls = done.map(_.wall).toSeq
    val wantPerOp = if (done.isEmpty) 1L else done.head.want
    val recall = done.map(_.found).sum.toDouble / (attempted * wantPerOp)
    val precision = done.map(_.correct).sum.toDouble / math.max(done.map(_.claimed).sum, 1L)
    val floors = Floors(name)
    ctx.require(recall >= floors._1, f"$name recall $recall%.4f below ${floors._1}")
    ctx.require(precision >= floors._2, f"$name precision $precision%.4f below ${floors._2}")

    def summary(label: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      val (q1, m, q3) = Report.quantiles(xs)
      println(f"$name%-16s $label%-40s median $m%.6g  q1 $q1%.6g  q3 $q3%.6g  n ${xs.size}")
    }
    summary("op_wall_s", walls)
    summary("resume_s", done.map(_.resume).toSeq)
    summary("setup_s", setups)

    val metrics: Seq[Metric] =
      if (!trace) Seq(
        Metric("op_wall_s", "s", Report.median(walls)),
        Metric("items_per_s", "1/s", Report.median(walls.map(w.items / _))),
        Metric("resume_s", "s", Report.median(done.map(_.resume).toSeq)),
        Metric("setup_s", "s", Report.median(setups)),
        Metric("peak_rss_mb", "MB", peakRssMb()),
        Metric("stored_bytes_per_input_byte", "ratio", Report.median(done.map(_.storedPerInput).toSeq)),
        Metric("recall", "ratio", recall),
        Metric("precision", "ratio", precision),
        Metric("success_rate", "ratio", (attempted - failed).toDouble / attempted))
      else {
        val (cands, useful) =
          try w.probes()
          catch {
            case NonFatal(e) =>
              ctx.problems += s"layer probes failed: $e"
              (Double.NaN, Double.NaN)
          }
        val tracedWalls = ops.filter(_._2).map(_._1.wall).toSeq
        val plainWalls = ops.filterNot(_._2).map(_._1.wall).toSeq
        val overhead =
          if (tracedWalls.isEmpty || plainWalls.isEmpty) 0.0
          else Report.median(tracedWalls) - Report.median(plainWalls)
        val kernels = Kernels.rates(Kernels.inputs(ctx.seed))
        kernels.foreach { case (k, (_, rows)) => ctx.note(s"sim.$k.rows_timed", rows.toDouble) }
        layer.toSeq.foreach { case (k, v) => summary(k, v.toSeq) }
        ctx.detail.toSeq.foreach { case (k, v) => summary(k, v.toSeq) }
        writeTrace(ctx, name, tracer, overhead, traceDir)
        Seq("spark.jobs" -> "count", "spark.task_s" -> "s", "spark.task_skew" -> "ratio",
          "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "jvm.gc_s" -> "s",
          "trace.root_self_share" -> "ratio", "stage.critical_s" -> "s").map { case (k, u) =>
          Metric(k, u, Report.median(layer.getOrElse(k, Nil).toSeq))
        } ++ Seq(
          Metric("trace.overhead_s", "s", overhead),
          Metric("work.candidates", "count", cands),
          Metric("work.yield", "ratio", useful)) ++
          kernels.map { case (k, (r, _)) => Metric(s"sim.$k.rows_per_s", "rows/s", r) }
      }
    ctx.problems.distinct.foreach(p => println(s"$name problem: $p"))
    val correct = ctx.problems.isEmpty && failed == 0
    val ms = metrics.map(m => s"${Report.q(m.name)}: {" + "\"value\": " +
      (if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString) +
      s""", "unit": ${Report.q(m.unit)}}""").mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** Result floors (recall, precision) below which a run is not
    * correct: well under what every seed measures, so they catch a
    * broken path, not noise. record_match recall is about 0.6 because
    * best-match prefers a null-score candidate (a missing date of birth
    * makes the overall score null), which the recall counts as a miss.
    */
  private val Floors: Map[String, (Double, Double)] = Map(
    "crawl_full" -> (0.9, 0.9),
    "crawl_increment" -> (0.9, 0.9),
    "record_match" -> (0.3, 0.8),
    "ann_search" -> (0.5, 0.5))

  /** Spans with self times plus every detail row, written once at the
    * end of a traced run.
    */
  private def writeTrace(ctx: Ctx, name: String, tracer: Tracer, overhead: Double,
      dir: Path): Unit = {
    val rows = ctx.detail.toSeq.map { case (k, v) =>
      val (q1, m, q3) = Report.quantiles(v.toSeq)
      s"""${Report.q(k)}: {"median": $m, "q1": $q1, "q3": $q3, "n": ${v.size}}"""
    }.mkString(",\n    ")
    val out = dir.resolve(s"trace-$name-seed${ctx.seed}.json")
    Files.writeString(out,
      s"""{"workload": ${Report.q(name)}, "seed": ${ctx.seed}, "tracing_overhead_s": $overhead,
         |  "detail": {
         |    $rows
         |  },
         |  "spans": ${tracer.toJson}
         |}
         |""".stripMargin)
    println(s"$name trace written to ${out.getFileName}")
  }
}
