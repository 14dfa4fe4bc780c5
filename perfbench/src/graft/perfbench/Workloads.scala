package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one operation produced: its wall time, the resume that follows
  * it, the correctness counts and the bytes it left at rest per input
  * byte. recall = found / want, precision = correct / claimed.
  */
final case class Op(wall: Double, resume: Double, found: Long, want: Long, correct: Long,
    claimed: Long, storedPerInput: Double)

/** Shared state of one benchmark process. `tracer`/`rec` are set only
  * while a traced operation runs.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {
  var tracer: Option[Tracer] = None
  var rec: Option[JobRecorder] = None
  /** per-layer detail values from traced operations, by metric name */
  val detail = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** hard correctness failures (a wrong result, not a quality score) */
  val problems = mutable.ArrayBuffer.empty[String]

  def note(name: String, v: Double): Unit =
    detail.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def require(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p
  }
}

object Files2 {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copy(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** Bytes of the parquet data files under `p`. */
  def parquetBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }
}

/** A committed warehouse table as its files record it: the manifest
  * write time (the commit), the newest data-file write time, the row
  * count and the data bytes.
  */
final case class Commit(table: String, commitMs: Double, newestDataMs: Double, rows: Long,
    bytes: Long)

object Commits {
  private val rowsRe = """"rows": (\d+)""".r

  def of(wh: Path): Seq[Commit] = if (!Files.exists(wh)) Nil else {
    val tables = Files.list(wh)
    try tables.iterator().asScala.toSeq.flatMap { t =>
      val m = t.resolve("_manifest.json")
      if (!Files.exists(m)) None
      else {
        val data = Files.walk(t.resolve("data"))
        val files = try data.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
          finally data.close()
        Some(Commit(t.getFileName.toString, Files.getLastModifiedTime(m).toMillis.toDouble,
          files.map(f => Files.getLastModifiedTime(f).toMillis.toDouble).foldLeft(0.0)(math.max),
          rowsRe.findFirstMatchIn(Files.readString(m)).map(_.group(1).toLong).getOrElse(0L),
          files.map(Files.size).sum))
      }
    }.sortBy(_.commitMs) finally tables.close()
  }
}

abstract class Workload(val ctx: Ctx) {
  /** resumes timed per operation; the operation reports their median */
  protected val Resumes = 3

  protected def spark: SparkSession = ctx.spark

  /** Input items one operation processes (pages, records, queries). */
  def items: Long

  /** One timed set-up pass: generate inputs, compute the truth, build
    * the committed state the operation starts from.
    */
  def setup(rep: Int): Unit

  /** Timed set-up passes per run; the set-up time is their median. */
  def setupReps: Int = 3

  /** Whether an untimed operation runs before the measured ones. */
  def warmUp: Boolean = true

  /** One-off checks after set-up (untimed). */
  def check(): Unit = ()

  /** One operation, its resume, and the check of its output. */
  def op(): Op

  /** Layer probes run once after the measured loop of a traced run:
    * (candidates generated, useful share of them), plus detail rows.
    */
  def probes(): (Double, Double)

  def close(): Unit = ()

  protected def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Median time of `n` runs of a short step (resumes take a fraction
    * of a second, so one sample is mostly timer and scheduler noise).
    */
  protected def medianTime(n: Int)(f: => Unit): Double =
    Report.median((0 until n).map(_ => timed(f)._2))

  /** Root span "op" plus children for the whole traced operation. */
  protected def traceOp[A](body: (Tracer, Int) => A): A = ctx.tracer match {
    case None => body(null, 0)
    case Some(t) =>
      val start = t.now()
      val root = t.add(0, "op", start, start)
      val a = body(t, root)
      t.spans(root - 1) = t.spans(root - 1).copy(end = t.now())
      a
  }
}

object Workloads {
  val Names: Seq[String] = Seq("crawl_full", "crawl_increment", "record_match", "ann_search")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "crawl_full" => new CrawlFull(ctx)
    case "crawl_increment" => new CrawlIncrement(ctx)
    case "record_match" => new RecordMatch(ctx)
    case "ann_search" => new AnnSearch(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Content checksum of a workload's generated inputs. */
  def checksum(name: String, seed: Long): Long = name match {
    case "crawl_full" => Gen.checksum(Gen.pageRows(Gen.crawlPages(seed, CrawlFull.Pages, 0L, Crawl.Host)))
    case "crawl_increment" =>
      val base = Gen.crawlPages(seed, CrawlIncrement.BasePages, 0L, Crawl.Host)
      Gen.checksum(Gen.pageRows(base ++ Gen.batch(seed, base, CrawlIncrement.BatchPages,
        CrawlIncrement.BatchFirstId, Crawl.Host)))
    case "record_match" =>
      val (a, b, _) = Gen.matchPair(seed, RecordMatch.Records)
      Gen.checksum(Gen.personRows(a ++ b))
    case "ann_search" =>
      val (c, q) = Gen.embeddings(seed, AnnSearch.BaseVectors, AnnSearch.Groups, AnnSearch.Dim,
        AnnSearch.Queries)
      Gen.checksum(Gen.vecRows(c ++ q))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Crawl helpers shared by the two warehouse workloads. */
object Crawl {
  val Host = "crawl.example.org"

  def write(spark: SparkSession, pages: Seq[Gen.Page], path: Path): Unit = {
    import spark.implicits._
    pages.map(p => (p.pageId, p.url, new java.sql.Timestamp(p.warcTs * 1000L), Gen.html(p.text),
      p.text, p.lang)).toDF("page_id", "url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(path.toString)
  }

  /** Raw content bytes of pages (url, html, text, lang, id, timestamp):
    * the denominator of stored bytes per input byte, independent of how
    * well the input files happen to compress.
    */
  def rawBytes(pages: Seq[Gen.Page]): Long =
    pages.map(p => p.url.length + Gen.html(p.text).length + p.text.length + p.lang.length + 16L).sum

  /** PipelineMain run; returns the number of stages it built. */
  def pipeline(spark: SparkSession, opts: Map[String, String]): Int = {
    val buf = new java.io.ByteArrayOutputStream()
    graft.PipelineMain.run(spark, opts, new java.io.PrintStream(buf, true, "UTF-8"))
    val line = buf.toString("UTF-8")
    """(\d+) stages built""".r.findFirstMatchIn(line).map(_.group(1).toInt)
      .getOrElse(sys.error(s"unexpected pipeline output: $line"))
  }

  def clusters(spark: SparkSession, wh: Path, table: String): Map[Long, Long] =
    spark.read.parquet(wh.resolve(table).resolve("data").toString)
      .select(col("page_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  def layerOf(table: String): String =
    if (table.startsWith("extracted")) "extract"
    else if (table.startsWith("frontier") || table.startsWith("url_bloom")) "web"
    else "dedup"

  /** Traced view of a staged run: one child span per table committed in
    * [start, end] (from the previous commit to this one), a trailing
    * `metrics` span to the end of the run, each stage's Spark jobs under
    * it, and per-stage detail rows.
    */
  def stageSpans(ctx: Ctx, t: Tracer, root: Int, wh: Path, start: Double, end: Double): Unit = {
    val built = Commits.of(wh).filter(_.commitMs >= start - 1)
    var prev = start
    val windows = built.map { c =>
      val w = (Crawl.layerOf(c.table) + "." + c.table, prev, c.commitMs, Some(c))
      prev = c.commitMs
      w
    } :+ (("dedup.metrics", prev, end, None))
    org.apache.spark.perfbench.ListenerDrain(ctx.spark.sparkContext)
    windows.foreach { case (name, a, b, commit) =>
      val sid = t.add(root, name, a, b)
      val tot = ctx.rec.get.window(a, b)
      tot.jobs.foreach(j => t.add(sid, if (j.desc.nonEmpty) j.desc else s"job ${j.id}", j.start,
        if (j.end.isNaN) b else j.end))
      ctx.note(s"$name.wall_s", (b - a) / 1e3)
      ctx.note(s"$name.jobs", tot.jobs.size)
      ctx.note(s"$name.task_s", tot.taskS)
      ctx.note(s"$name.task_skew", tot.skew)
      ctx.note(s"$name.shuffle_write_bytes", tot.shuffleWrite.toDouble)
      ctx.note(s"$name.spill_bytes", tot.spill.toDouble)
      commit.foreach { c =>
        ctx.note(s"$name.rows", c.rows.toDouble)
        ctx.note(s"io.${c.table}.commit_s", math.max(0.0, c.commitMs - c.newestDataMs) / 1e3)
        t.add(sid, "io.commit", math.min(c.newestDataMs, c.commitMs), c.commitMs)
      }
    }
    ctx.note("io.bytes_written", built.map(_.bytes).sum.toDouble)
    val rounds = ctx.rec.get.window(start, end).jobs
      .flatMap(j => """graft: CC round (\d+)""".r.findFirstMatchIn(j.desc).map(_.group(1).toInt))
    ctx.note("dedup.cc_rounds", if (rounds.isEmpty) 0.0 else rounds.max.toDouble)
  }
}

/** Full staged run of a fresh warehouse, then its resume. */
final class CrawlFull(ctx0: Ctx) extends Workload(ctx0) {
  import CrawlFull._
  private var input: Path = _
  private var inputBytes = 0L
  private var truth: Map[Long, Long] = _
  private var last: Option[Map[Long, Long]] = None
  private var n = 0

  def items: Long = Pages.toLong

  def setup(rep: Int): Unit = {
    val pages = Gen.crawlPages(ctx.seed, Pages, 0L, Crawl.Host)
    input = ctx.dir(s"setup$rep/pages.parquet")
    Crawl.write(spark, pages, input)
    inputBytes = Crawl.rawBytes(pages)
    truth = Truth.crawlClusters(pages.map(p => (p.pageId, p.text)), 5, 0.8)
  }

  def op(): Op = {
    // the last operation's warehouse stays for the probes
    Files2.delete(ctx.work.resolve(s"wh$n"))
    n += 1
    val wh = ctx.dir(s"wh$n")
    val opts = Map("input" -> input.toString, "warehouse" -> wh.toString)
    val (built, wall) = traceOp { (t, root) =>
      val start = if (t == null) 0.0 else t.now()
      val r = timed(Crawl.pipeline(spark, opts))
      if (t != null) Crawl.stageSpans(ctx, t, root, wh, start, t.now())
      r
    }
    val got = Crawl.clusters(spark, wh, "clusters")
    ctx.require(built >= 6, s"crawl_full built only $built stages")
    val resume = medianTime(Resumes) {
      val rebuilt = Crawl.pipeline(spark, opts)
      ctx.require(rebuilt == 0, s"crawl_full resume built $rebuilt stages")
    }
    ctx.require(Crawl.clusters(spark, wh, "clusters") == got, "crawl_full resume changed the clusters")
    ctx.require(last.forall(_ == got), "crawl_full clusters differ between operations")
    last = Some(got)
    val stored = Commits.of(wh).map(_.bytes).sum.toDouble / inputBytes
    val (hits, g, w) = Truth.pairCounts(got, truth)
    Op(wall, resume, hits, w, hits, g, stored)
  }

  def probes(): (Double, Double) = {
    val wh = ctx.work.resolve(s"wh$n")
    val sigs = spark.read.parquet(wh.resolve("signatures/data").toString)
    val cands = graft.dedup.Dedup.lshCandidates(sigs, graft.dedup.DedupConfig()).count()
    val verified = Commits.of(wh).find(_.table == "pairs").map(_.rows).getOrElse(0L)
    ctx.note("dedup.candidates", cands.toDouble)
    ctx.note("dedup.verify_yield", verified.toDouble / math.max(cands, 1L))
    for (_ <- 0 until 3) ctx.note("io.input_snapshot_s",
      timed(graft.dedup.WebDedup.inputSnapshot(spark.read.parquet(input.toString)))._2)
    (cands.toDouble, verified.toDouble / math.max(cands, 1L))
  }
}

object CrawlFull {
  val Pages = 4000
}

/** `--batch --frontier` merge (gen 1) of a crawl snapshot onto a
  * committed base warehouse, then its resume.
  */
final class CrawlIncrement(ctx0: Ctx) extends Workload(ctx0) {
  import CrawlIncrement._
  private var base: Path = _
  private var batchPath: Path = _
  private var corpusBytes = 0L
  private var truth: Map[Long, Long] = _
  private var merged: Seq[Gen.Page] = _
  private var full: Option[Map[Long, Long]] = None
  private var n = 0

  def items: Long = BatchPages.toLong

  override def setupReps: Int = 2

  /** check() already runs the full pipeline over base and batch; a
    * separate warm-up merge would not fit the run's time budget
    */
  override def warmUp: Boolean = false

  def setup(rep: Int): Unit = {
    val basePages = Gen.crawlPages(ctx.seed, BasePages, 0L, Crawl.Host)
    val batch = Gen.batch(ctx.seed, basePages, BatchPages, BatchFirstId, Crawl.Host)
    val baseInput = ctx.dir(s"setup$rep/base.parquet")
    batchPath = ctx.dir(s"setup$rep/batch.parquet")
    Crawl.write(spark, basePages, baseInput)
    Crawl.write(spark, batch, batchPath)
    corpusBytes = Crawl.rawBytes(basePages) + Crawl.rawBytes(batch)
    base = ctx.dir(s"setup$rep/wh")
    Crawl.pipeline(spark, Map("input" -> baseInput.toString, "warehouse" -> base.toString))
    val seen = basePages.map(_.url).toSet
    merged = basePages ++ batch.filterNot(p => seen(p.url))
    truth = Truth.crawlClusters(merged.map(p => (p.pageId, p.text)), 5, 0.8)
  }

  /** The merged generation must equal a full run over base ∪ the
    * frontier-filtered batch.
    */
  override def check(): Unit = {
    val all = ctx.dir("check/all.parquet")
    Crawl.write(spark, merged, all)
    val wh = ctx.dir("check/wh")
    Crawl.pipeline(spark, Map("input" -> all.toString, "warehouse" -> wh.toString))
    full = Some(Truth.canonical(Crawl.clusters(spark, wh, "clusters")))
    Files2.delete(ctx.work.resolve("check"))
  }

  def op(): Op = {
    // the last operation's warehouse stays for the probes
    Files2.delete(ctx.work.resolve(s"wh$n"))
    n += 1
    val wh = ctx.dir(s"wh$n")
    Files2.copy(base, wh)
    val opts = Map("batch" -> batchPath.toString, "warehouse" -> wh.toString, "gen" -> "1",
      "frontier" -> "true")
    val (built, wall) = traceOp { (t, root) =>
      val start = if (t == null) 0.0 else t.now()
      val r = timed(Crawl.pipeline(spark, opts))
      if (t != null) Crawl.stageSpans(ctx, t, root, wh, start, t.now())
      r
    }
    val got = Crawl.clusters(spark, wh, "clusters_g1")
    ctx.require(built >= 8, s"crawl_increment built only $built stages")
    val resume = medianTime(Resumes) {
      val rebuilt = Crawl.pipeline(spark, opts)
      ctx.require(rebuilt == 0, s"crawl_increment resume built $rebuilt stages")
    }
    ctx.require(Crawl.clusters(spark, wh, "clusters_g1") == got,
      "crawl_increment resume changed the clusters")
    ctx.require(full.forall(_ == Truth.canonical(got)),
      "crawl_increment merged clusters differ from a full run over base and batch")
    val baseTables = Commits.of(base).map(_.table).toSet
    val stored = Commits.of(wh).filterNot(c => baseTables(c.table)).map(_.bytes).sum.toDouble /
      corpusBytes
    val (hits, g, w) = Truth.pairCounts(got, truth)
    Op(wall, resume, hits, w, hits, g, stored)
  }

  def probes(): (Double, Double) = {
    import graft.dedup.{Dedup, DedupConfig}
    val wh = ctx.work.resolve(s"wh$n")
    val cfg = DedupConfig()
    val batchSigs = spark.read.parquet(wh.resolve("sig_batch_g1/data").toString)
    val baseSigs = spark.read.parquet(wh.resolve("signatures/data").toString)
    val inner = Dedup.lshCandidates(batchSigs, cfg)
    val cross = Dedup.crossCandidates(batchSigs, baseSigs, cfg)
    val cands = inner.count() + cross.count()
    val verified = Dedup.verifyPairs(inner, batchSigs, cfg).count() +
      Dedup.verifyPairsCross(cross, batchSigs, baseSigs, cfg).count()
    ctx.note("dedup.candidates", cands.toDouble)
    ctx.note("dedup.verify_yield", verified.toDouble / math.max(cands, 1L))
    for (_ <- 0 until 3) ctx.note("io.input_snapshot_s",
      timed(graft.dedup.WebDedup.inputSnapshot(spark.read.parquet(batchPath.toString)))._2)
    (cands.toDouble, verified.toDouble / math.max(cands, 1L))
  }
}

object CrawlIncrement {
  val BasePages = 2500
  val BatchPages = 50
  val BatchFirstId = 10000000L
}

/** A matching-mode job submitted over the JobService HTTP API; the
  * client polls its status until the job ends. Resume = restarting the
  * service on its persisted job store and reading the finished status.
  */
final class RecordMatch(ctx0: Ctx) extends Workload(ctx0) {
  import RecordMatch._
  private val http = java.net.http.HttpClient.newHttpClient()
  private var svc: graft.service.JobService = _
  private var jobsDir: Path = _
  private var s1Path: Path = _
  private var s2Path: Path = _
  private var outPath: Path = _
  private var twin: Map[Long, Long] = _
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val opWalls = mutable.ArrayBuffer.empty[Double]

  def items: Long = Records.toLong

  /** set-up is a fraction of a second here, so take more samples */
  override def setupReps: Int = 5

  private def base = s"http://127.0.0.1:${svc.boundPort}"

  private def call(method: String, path: String, body: String = ""): (Int, String) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
    val req = (if (method == "POST") b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      else b.GET()).build()
    val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def status(): String =
    mapper.readTree(call("GET", s"/api/jobs/$Job/status")._2).path("status").asText("")

  private def startService(): Unit = {
    svc = new graft.service.JobService(spark, jobsDir, 0, maxWorkers = 1)
    svc.start()
  }

  def setup(rep: Int): Unit = {
    if (svc != null) svc.stop()
    val (a, b, t) = Gen.matchPair(ctx.seed, Records)
    twin = t
    val session = spark
    import session.implicits._
    def write(ps: Seq[Gen.Person], p: Path): Unit =
      ps.map(x => (x.id, x.name, x.email, x.phone, x.dob)).toDF("id", "name", "email", "phone", "dob")
        // a date column: typed "date" by the analyzer (an 8-digit date
        // string would be typed "phone" by its digit-count rule)
        .withColumn("dob", to_date(col("dob")))
        .write.mode("overwrite").parquet(p.toString)
    s1Path = ctx.dir(s"setup$rep/s1.parquet")
    s2Path = ctx.dir(s"setup$rep/s2.parquet")
    outPath = ctx.dir(s"setup$rep/out.parquet")
    write(a, s1Path)
    write(b, s2Path)
    jobsDir = ctx.dir(s"setup$rep/jobs")
    startService()
    val cols = Seq("name", "email", "phone", "dob").map(c =>
      s"""{"source1": "$c", "source2": "$c", "weight": 1.0}""").mkString(", ")
    val job =
      s"""{"name": "$Job", "description": "record matching",
         | "config": {"mode": "matching", "source1": "$s1Path", "source2": "$s2Path",
         |   "output": "$outPath",
         |   "match_config": {"threshold": 0.75, "columns": [$cols], "max_block_size": $MaxBlock,
         |     "blocking_strategies": ["first_char", "three_gram"]}}}""".stripMargin
    val (code, resp) = call("POST", "/api/jobs", job)
    if (code != 200) sys.error(s"saving the job failed: $code $resp")
  }

  def op(): Op = {
    val (_, wall) = traceOp { (t, root) =>
      timed {
        val submit = if (t == null) 0.0 else t.now()
        val (code, resp) = call("POST", s"/api/jobs/$Job/run", """{"priority": "high"}""")
        if (code != 200) sys.error(s"submit failed: $code $resp")
        var s = status()
        var running = Double.NaN
        while (s == "queued" || s == "running" || s == "cancelling") {
          if (s != "queued" && running.isNaN && t != null) running = t.now()
          Thread.sleep(PollMs)
          s = status()
        }
        if (s != "completed") sys.error(s"job ended $s")
        if (t != null) {
          val end = t.now()
          if (running.isNaN) running = submit
          t.add(root, "service.queue_wait", submit, running)
          val run = t.add(root, "service.run", running, end)
          org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
          ctx.rec.get.window(submit, end).jobs.foreach(j =>
            t.add(run, if (j.desc.nonEmpty) j.desc else s"job ${j.id}", j.start,
              if (j.end.isNaN) end else j.end))
          ctx.note("service.queue_wait_s", (running - submit) / 1e3)
        }
      }
    }
    opWalls += wall
    val resume = medianTime(7) {
      svc.stop()
      startService()
      ctx.require(status() == "completed", "record_match: restarted service lost the job status")
      ctx.require(spark.read.parquet(outPath.toString).count() == Records,
        "record_match: output is not one best match per source-1 record")
    }
    val rows = spark.read.parquet(outPath.toString)
      .select(col("id"), col("id_2"), col("overall_score"), col("match_result")).collect()
    val hits = rows.count(r => twin.get(r.getLong(0)).contains(r.getLong(1)))
    val accepted = rows.filter(_.getString(3) == "accept")
    val good = accepted.count(r => twin.get(r.getLong(0)).contains(r.getLong(1)))
    ctx.require(rows.map(_.getLong(0)).distinct.length == rows.length,
      "record_match: more than one best match per source-1 record")
    if (ctx.tracer.isDefined) ctx.note("matching.null_score_winners",
      rows.count(r => r.isNullAt(2)).toDouble)
    val stored = Files2.parquetBytes(outPath).toDouble /
      (Files2.parquetBytes(s1Path) + Files2.parquetBytes(s2Path))
    // recall over every planted twin; precision over accepted best matches
    Op(wall, resume, hits.toLong, Records.toLong, good.toLong, accepted.length.toLong, stored)
  }

  def probes(): (Double, Double) = {
    import graft.matching.{Matching, MatchOptions}
    val s1 = spark.read.parquet(s1Path.toString)
    val s2 = spark.read.parquet(s2Path.toString).withColumnRenamed("id", "id_2")
    val mapping = graft.analyze.ColumnAnalyzer.analyzeColumns(s1, s2,
      Seq("name", "email", "phone", "dob").map(c => (c, c, 1.0)))
    val opts = MatchOptions(0.75, 0.05, Seq("first_char", "three_gram"), maxBlockSize = MaxBlock)
    val (perfect, perfectS) = timed(Matching.perfectMatchPairs(s1, s2, "id", "id_2", mapping).count())
    val probe = s1.join(Matching.perfectMatchPairs(s1, s2, "id", "id_2", mapping).select("id"),
      Seq("id"), "left_anti")
    val cands = Matching.candidates(probe, s2, "id", "id_2", mapping, opts)
    val (nCands, candS) = timed(cands.count())
    val (accepted, scoreS) = timed(Matching.score(cands, probe, s2, "id", "id_2", mapping)
      .where(col("overall_score") >= 0.8).count())
    ctx.note("matching.perfect_s", perfectS)
    ctx.note("matching.perfect_pairs", perfect.toDouble)
    ctx.note("matching.candidates_s", candS)
    ctx.note("matching.score_s", scoreS)
    ctx.note("matching.candidates", nCands.toDouble)
    ctx.note("matching.match_yield", accepted.toDouble / math.max(nCands, 1L))
    mapping.foreach(m => ctx.note(s"matching.type.${m.col1}.${m.colType}", 1.0))
    // service overhead: job time over the service minus the same config
    // run directly through Main.runConfig
    val cfg = Files.createTempFile(ctx.work, "job", ".json")
    Files.writeString(cfg, mapper.readTree(call("GET", s"/api/jobs/$Job")._2).path("config").toString)
    val direct = (0 until 2).map(_ => timed(graft.Main.runConfig(spark, cfg.toString))._2).min
    ctx.note("matching.run_config_s", direct)
    ctx.note("service.overhead_s", Report.median(opWalls.toSeq) - direct)
    (nCands.toDouble, accepted.toDouble / math.max(nCands, 1L))
  }

  override def close(): Unit = if (svc != null) svc.stop()
}

object RecordMatch {
  val Records = 3000
  /** blocking keys whose source-2 block is larger are skipped (the
    * reference's max_block_size): first_char on phone and date of birth
    * would otherwise put most of the cross product in a few blocks
    */
  val MaxBlock = 250
  val Job = "bench-match"
  val PollMs = 5L
}

/** 200 queries, top-5, answered by brute force and by the committed IVF
  * index. Resume = re-running the index build against the committed
  * warehouse, which must build nothing.
  */
final class AnnSearch(ctx0: Ctx) extends Workload(ctx0) {
  import AnnSearch._
  private var corpusPath: Path = _
  private var queries: DataFrame = _
  private var wh: graft.io.Warehouse = _
  private var whPath: Path = _

  def items: Long = Queries.toLong

  override def setupReps: Int = 2

  private def corpus = spark.read.parquet(corpusPath.toString)

  private def build(): Unit =
    graft.emb.IvfIndex.build(wh, corpus, "vec_id", "embedding", nlist = NList, iters = 3)

  def setup(rep: Int): Unit = {
    val (c, q) = Gen.embeddings(ctx.seed, BaseVectors, Groups, Dim, Queries)
    val session = spark
    import session.implicits._
    corpusPath = ctx.dir(s"setup$rep/corpus.parquet")
    c.map(v => (v.id, v.v)).toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(corpusPath.toString)
    val qPath = ctx.dir(s"setup$rep/queries.parquet")
    q.map(v => (v.id, v.v)).toDF("vec_id", "embedding").write.mode("overwrite").parquet(qPath.toString)
    queries = spark.read.parquet(qPath.toString)
    whPath = ctx.dir(s"setup$rep/wh")
    wh = new graft.io.Warehouse(whPath.toString, spark)
    build()
  }

  private def topk(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  def op(): Op = {
    val ((brute, ivf), wall) = traceOp { (t, root) =>
      timed {
        def part[A](name: String)(f: => A): A = {
          if (t == null) f
          else {
            val a0 = t.now()
            val r = f
            val a1 = t.now()
            val sid = t.add(root, name, a0, a1)
            org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
            ctx.rec.get.window(a0, a1).jobs.foreach(j =>
              t.add(sid, if (j.desc.nonEmpty) j.desc else s"job ${j.id}", j.start,
                if (j.end.isNaN) a1 else j.end))
            ctx.note(name + "_s", (a1 - a0) / 1e3)
            r
          }
        }
        val b = part("emb.brute_topk")(topk(graft.emb.Embeddings.bruteForceTopK(
          corpus, queries, "vec_id", "embedding", K)))
        val i = part("emb.ivf_probe")(topk(graft.emb.IvfIndex.probe(
          wh, queries, "vec_id", "embedding", K, nprobe = NProbe)))
        (b, i)
      }
    }
    val before = wh.buildCount
    val resume = medianTime(Resumes)(build())
    ctx.require(wh.buildCount == before, "ann_search: index resume rebuilt a table")
    ctx.require(brute.size == Queries && brute.values.forall(_.size == K),
      "ann_search: brute force did not return top-5 for every query")
    val hits = brute.map { case (q, want) => (want intersect ivf.getOrElse(q, Set.empty)).size }.sum
    // raw corpus bytes: an 8-byte id and 4 bytes per float
    val stored = Files2.parquetBytes(whPath).toDouble / (BaseVectors * Groups * (8.0 + 4 * Dim))
    val claimed = ivf.values.map(_.size).sum.toLong
    Op(wall, resume, hits.toLong, (Queries * K).toLong, hits.toLong, claimed, stored)
  }

  def probes(): (Double, Double) = {
    // candidates the probe scores: members of each query's nprobe
    // nearest cells; useful = the top-5 it returns
    val cells = wh.read("ivf_cells").groupBy("cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cents = wh.read("ivf_centroids").collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val qs = queries.collect().map(_.getSeq[Float](1).toArray.map(_.toDouble))
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val cands = qs.map(q => cents.sortBy { case (cid, c) => (-cos(q, c), cid) }.take(NProbe)
      .map(x => cells.getOrElse(x._1, 0L)).sum).sum
    ctx.note("emb.ivf_candidates", cands.toDouble)
    ctx.note("emb.brute_candidates", Queries.toDouble * BaseVectors * Groups)
    (cands.toDouble, Queries.toDouble * K / math.max(cands, 1L))
  }
}

object AnnSearch {
  val BaseVectors = 2000
  val Groups = 8
  val Dim = 64
  val Queries = 200
  val K = 5
  val NList = 32
  val NProbe = 8
}
