package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed public call. Times are epoch milliseconds, the clock Spark
  * stamps its job events with, so jobs can be attributed to spans after
  * the run.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      start: Long, end: Long)

/** In-memory span recorder. Spans nest by a stack: the benchmark drives
  * one operation at a time, so the innermost open span is the caller of
  * every job submitted while it is open.
  */
final class Tracer(val enabled: Boolean, run: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push((id, name, System.currentTimeMillis()))
      try body
      finally {
        val (_, _, start) = stack.pop()
        done += Span(id, name, parent, run, start, System.currentTimeMillis())
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

/** Per-job record built from listener events. */
final case class JobRec(id: Int, start: Long, var end: Long, execId: Option[Long],
                        stageName: String) {
  var tasks = 0
  var taskMs = 0L
  var failedTasks = 0
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Collects jobs, their tasks and the SQL executions that submit them.
  * Events arrive on Spark's listener thread; read the records only after
  * the session has stopped, which drains the listener bus.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val execDesc = mutable.HashMap.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, exec, name)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      if (!e.taskInfo.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execDesc(s.executionId) = s.description }
    case _ =>
  }

  /** The call site a job was submitted from, e.g. "count at Pipeline.scala:72":
    * the SQL execution's description when the job belongs to one (stage
    * names of such jobs often read "CompletableFuture"), else the stage name.
    */
  def callSite(j: JobRec): String =
    j.execId.flatMap(execDesc.get).getOrElse(j.stageName)
}

/** Per-layer counters derived from spans and the jobs they submitted. */
object Layers {

  /** Each job goes to the innermost span open when it was submitted. */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Seq[JobRec]] = {
    val byJob = jobs.flatMap { j =>
      val covering = spans.filter(s => s.start <= j.start && j.start <= s.end)
      // innermost = the covering span that started last
      covering.sortBy(s => (s.start, s.id)).lastOption.map(s => s.id -> j)
    }
    byJob.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Length of the union of [start, end] intervals, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** Span time minus the part of it its child spans cover. */
  def selfSeconds(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end))
    (s.end - s.start) / 1000.0 - unionSeconds(kids)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val n = v.size
      if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
    }

  /** Counters of one span occurrence. */
  final case class Occ(wall: Double, jobs: Seq[JobRec], cores: Int) {
    def tasks: Int = jobs.map(_.tasks).sum
    def taskS: Double = jobs.map(_.taskMs).sum / 1000.0
    def busy: Double = if (wall > 0) taskS / (wall * cores) else 0.0
    def shuffleMb: Double = jobs.map(_.shuffleBytes).sum / 1e6
    def spillMb: Double = jobs.map(_.spillBytes).sum / 1e6
    def failedTasks: Int = jobs.map(_.failedTasks).sum
  }

  /** Median over the occurrences of span `name` of the named counters. */
  def spanCounters(name: String, spans: Seq[Span], byspan: Map[Int, Seq[JobRec]],
                   cores: Int, counters: Seq[String]): Seq[(String, Double)] = {
    val occs = spans.filter(_.name == name).map { s =>
      Occ((s.end - s.start) / 1000.0, byspan.getOrElse(s.id, Nil), cores)
    }
    counters.map { c =>
      val f: Occ => Double = c match {
        case "wall_s"       => _.wall
        case "jobs"         => _.jobs.size.toDouble
        case "tasks"        => _.tasks.toDouble
        case "task_s"       => _.taskS
        case "busy"         => _.busy
        case "shuffle_mb"   => _.shuffleMb
        case "spill_mb"     => _.spillMb
        case "failed_tasks" => _.failedTasks.toDouble
      }
      s"$name.$c" -> median(occs.map(f))
    }
  }
}
