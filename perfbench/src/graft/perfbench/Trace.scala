package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** In-memory spans. Times are epoch milliseconds (fractional), so
  * spans built from wall-clock sources (manifest commit times, Spark
  * listener events) and from the benchmark's own clock line up.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

final class Tracer {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  val spans = mutable.ArrayBuffer.empty[Span]

  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def add(parent: Int, name: String, start: Double, end: Double): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, name, start, end)
    id
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the part of its interval its children cover. */
  def selfTime(s: Span): Double = {
    val iv = children(s.id).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) covered += ce - cs
    s.dur - covered
  }

  def toJson: String = spans.map { s =>
    f"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Report.q(s.name)}, """ +
      f""""start_ms": ${s.start}%.3f, "dur_ms": ${s.dur}%.3f, "self_ms": ${selfTime(s)}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Spark job and task records collected by a listener the benchmark
  * registers around traced operations.
  */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs += Job(e.jobId, desc, e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Totals over the jobs that started inside [from, to]. */
  def window(from: Double, to: Double): JobRecorder.Totals = synchronized {
    val js = jobs.filter(j => j.start >= from && j.start <= to).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageIds(t.stage)).toSeq
    val skew = ts.groupBy(_.stage).values.map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      val med = d(d.size / 2)
      if (d.size < 2 || med <= 0) 1.0 else d.last / med
    }.foldLeft(1.0)(math.max)
    JobRecorder.Totals(js, ts.map(_.durMs).sum / 1e3, skew,
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum)
  }
}

object JobRecorder {
  final case class Job(id: Int, desc: String, start: Double, var end: Double, stages: Seq[Int])
  final case class TaskRec(stage: Int, durMs: Long, shuffleWrite: Long, spill: Long)
  final case class Totals(jobs: Seq[Job], taskS: Double, skew: Double,
      shuffleWrite: Long, spill: Long)
}
