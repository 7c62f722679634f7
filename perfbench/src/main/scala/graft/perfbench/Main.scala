package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs, plus what it reports back. */
final class Ctx(val spark: SparkSession, val input: String, val work: String,
                val seed: Long, val seconds: Double, val cores: Int, val tracer: Tracer) {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** Named samples in seconds (one entry per timed op). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Named scalars reported as they are (counts, rates). */
  val values = mutable.LinkedHashMap.empty[String, Double]
  /** Epoch ms of the first timed op: set-up ends here. */
  var firstOpAt: Long = 0L
  /** Per-layer values computed by the workload from the trace. */
  val layers = mutable.LinkedHashMap.empty[String, Double]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def markFirstOp(): Unit = if (firstOpAt == 0L) firstOpAt = System.currentTimeMillis()

  /** A named step of set-up; its wall seconds go to `values` as `setup.<name>_s`. */
  def setupStep[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally values(s"setup.${name}_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Run one timed op: its wall time in seconds, or None when it threw or
    * its output check failed. Either way it counts as attempted, and a
    * failure never contributes a time.
    */
  def timed(what: String)(body: => Boolean): Option[Double] = {
    markFirstOp()
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try body
      catch {
        case e: Throwable =>
          errors += s"$what threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          false
      }
    val dt = (System.nanoTime() - t0) / 1e9
    if (ok) Some(dt)
    else {
      failed += 1
      if (!errors.lastOption.exists(_.startsWith(what))) errors += s"$what: output check failed"
      None
    }
  }

  /** A failed check outside any timed op: one more attempted-and-failed op. */
  def fail(msg: String): Unit = { attempted += 1; failed += 1; errors += msg }

  def elapsedSinceFirstOp: Double =
    if (firstOpAt == 0L) 0.0 else (System.currentTimeMillis() - firstOpAt) / 1000.0
}

/** Benchmark entry point. Run by perfbench/run.py, which generates the
  * inputs, launches this class and checks its outputs.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --input DIR
  * --work DIR --out FILE [--cores N]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val input = opts("input")
    val work = opts("work")
    val traced = opts.get("trace").contains("1")
    val tuningDir = workload match {
      case "daily_etl"     => s"$input/weather"
      case "index_churn"   => s"$input/corpus"
      case "query_catalog" => s"$input/tables"
      case other           => sys.error(s"unknown workload $other")
    }
    // the session graft.Bench builds: Tuning against the workload's input,
    // UTC, the graft extensions, local[cores]
    val t0 = System.nanoTime()
    val spark = graft.ops.Tuning.configure(
        SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$workload"),
        tuningDir, cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val ctx = new Ctx(spark, input, work, opts("seed").toLong, opts("seconds").toDouble,
      cores, new Tracer(traced, s"$workload-${opts("seed")}"))
    ctx.values("setup.session_s") = (System.nanoTime() - t0) / 1e9
    val confs = Seq(
      "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.join.preferSortMergeJoin", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.get(k, ""))

    try workload match {
      case "daily_etl"     => DailyEtl.run(ctx)
      case "index_churn"   => IndexChurn.run(ctx)
      case "query_catalog" => QueryCatalog.run(ctx)
    } catch {
      case e: Throwable =>
        ctx.fail(s"workload aborted: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val sparkVersion = spark.version
    spark.stop() // drains the listener bus: every job event is in by now

    listener.foreach { l =>
      // spans opened during set-up (the history day in daily_etl) are not measured
      val spans = ctx.tracer.spans.filter(_.start >= ctx.firstOpAt)
      val jobs = l.synchronized(l.jobs.values.toSeq)
      val bySpan = Layers.attribute(spans, jobs)
      workload match {
        case "daily_etl"     => DailyEtl.layers(ctx, spans, bySpan, l)
        case "index_churn"   => IndexChurn.layers(ctx, spans, bySpan)
        case "query_catalog" => QueryCatalog.layers(ctx, spans, bySpan)
      }
      writeTrace(s"$work/trace.json", spans, jobs, bySpan, l)
    }

    val rt = Runtime.getRuntime
    val env = Seq(
      "spark_version" -> J.str(sparkVersion),
      "available_processors" -> rt.availableProcessors().toString,
      "cores" -> cores.toString,
      "heap_max_mb" -> (rt.maxMemory() / (1024 * 1024)).toString,
      "peak_rss_mb" -> peakRssMb.toString,
      "confs" -> J.obj(confs.map { case (k, v) => k -> J.str(v) }))
    val out = J.obj(Seq(
      "workload" -> J.str(workload),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "errors" -> J.arr(ctx.errors.toSeq.map(J.str)),
      "first_op_at_ms" -> ctx.firstOpAt.toString,
      "samples" -> J.obj(ctx.samples.toSeq.map { case (k, v) => k -> J.arr(v.toSeq.map(J.num)) }),
      "values" -> J.obj(ctx.values.toSeq.map { case (k, v) => k -> J.num(v) }),
      "layers" -> J.obj(ctx.layers.toSeq.map { case (k, v) => k -> J.num(v) }),
      "env" -> J.obj(env)))
    Files.writeString(Paths.get(opts("out")), out + "\n")
  }

  /** Peak resident set of this process (VmHWM), in MB; 0 where /proc is absent. */
  def peakRssMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+").lift(1).map(_.toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  private def writeTrace(path: String, spans: Seq[Span], jobs: Seq[JobRec],
                         bySpan: Map[Int, Seq[JobRec]], l: JobListener): Unit = {
    val spanOf = bySpan.toSeq.flatMap { case (s, js) => js.map(_.id -> s) }.toMap
    val sj = spans.map { s =>
      J.obj(Seq("id" -> s.id.toString, "name" -> J.str(s.name), "parent" -> s.parent.toString,
        "run" -> J.str(s.run), "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
        "self_s" -> J.num(Layers.selfSeconds(s, spans))))
    }
    val jj = jobs.map { j =>
      J.obj(Seq("id" -> j.id.toString, "span" -> spanOf.getOrElse(j.id, -1).toString,
        "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
        "call_site" -> J.str(l.callSite(j)), "tasks" -> j.tasks.toString,
        "task_ms" -> j.taskMs.toString, "shuffle_bytes" -> j.shuffleBytes.toString,
        "spill_bytes" -> j.spillBytes.toString, "failed_tasks" -> j.failedTasks.toString))
    }
    Files.writeString(Paths.get(path),
      J.obj(Seq("spans" -> J.arr(sj), "jobs" -> J.arr(jj))) + "\n")
  }
}

/** Minimal JSON rendering for the result and trace files. */
object J {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
