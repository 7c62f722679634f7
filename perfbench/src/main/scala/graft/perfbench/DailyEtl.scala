package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.weather.{Pipeline, WeatherSchema}

/** daily_etl: the reference's daily batch on a long history. Set-up lands
  * and stages the first `history` run dates at once and builds the marts
  * on them. Each timed op is then the next day: `Pipeline.stageIncremental` over every document
  * landed so far (the raw zone is re-landed in full, staging is rewritten
  * in full) and `Pipeline.buildMarts` with `now` = the run date. Each
  * day's returned counts are checked against values DuckDB computed from
  * the generated documents before the program started.
  */
object DailyEtl {

  /** Timed days in every run, however short `--seconds` is. */
  val minDays = 2

  private val facts = Seq("fact_weather_params_history", "fact_weather_params_forecast",
    "fact_sun_times_history", "fact_sun_times_forecast")

  final case class Expected(cities: Long, history: Int, days: Int, readingsPerDoc: Long,
                            params: Long, now: Map[Int, String], facts: Map[Int, Map[String, Long]])

  def expected(input: String): Expected = {
    val rows = Files.readAllLines(Paths.get(s"$input/expected.tsv")).asScala.map(_.split("\t").toSeq)
    val meta = rows.filter(_.size == 2).map(r => r(0) -> r(1)).toMap
    val days = rows.filter(_.headOption.contains("day"))
    Expected(meta("cities").toLong, meta("history").toInt, meta("days").toInt,
      meta("readings_per_doc").toLong, meta("params").toLong,
      days.map(r => r(1).toInt -> r(2)).toMap,
      days.map(r => r(1).toInt -> facts.zip(r.drop(3).map(_.toLong)).toMap).toMap)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val exp = expected(ctx.input)
    // the landed documents of every run date, parsed once and held in
    // memory, so a day's op starts from documents already "fetched"
    val docs = spark.read.schema(WeatherSchema.enrichedDoc).json(s"${ctx.input}/weather")
      .withColumn("run_idx", regexp_extract($"_metadata.file_name", "run_(\\d+)\\.json", 1).cast("int"))
      .persist()
    require(ctx.setupStep("parse")(docs.count()) == exp.cities * exp.days, "generated document count mismatch")
    val base = s"${ctx.work}/etl"
    val paths = Pipeline.Paths(s"$base/raw", s"$base/staging", s"$base/marts")
    /** The daily run of run date `d` over every document up to it: its
      * returned counts, stage seconds, marts seconds.
      */
    def day(d: Int): (Map[String, Long], Double, Double) = ctx.tracer.span("day") {
      val t0 = System.nanoTime()
      val (stg, stats) = ctx.tracer.span("stage")(
        Pipeline.stageIncremental(spark, docs.filter($"run_idx" <= d).drop("run_idx"), paths))
      val t1 = System.nanoTime()
      val marts = ctx.tracer.span("marts")(
        Pipeline.buildMarts(spark, stg, paths, to_timestamp(lit(exp.now(d)))))
      (stats ++ marts, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }

    // set-up: the history (run dates 0 .. history-1 in one first run).
    // The first timed day is the first incremental one, as in a
    // scheduler's fresh process, so it pays that path's first compilation
    val h = exp.history
    require(checkDay(ctx, "history", h - 1, newFiles = h, exp, ctx.setupStep("history")(day(h - 1))._1),
      "history build failed its output check")

    var d = h
    var newRows = 0.0
    var dayWall = 0.0
    while (d < exp.days && (d < h + minDays || ctx.elapsedSinceFirstOp < ctx.seconds)) {
      var parts = (0.0, 0.0)
      ctx.timed(s"day $d") {
        val (counts, stageS, martsS) = day(d)
        parts = (stageS, martsS)
        Seq("files_seen", "files_new", "staging_rows").foreach(k => bump(ctx, k, counts(k)))
        bump(ctx, "new_rows", exp.cities * exp.readingsPerDoc)
        checkDay(ctx, "timed", d, newFiles = 1, exp, counts)
      }.foreach { t =>
        ctx.sample("day_s", t); ctx.sample("stage_s", parts._1); ctx.sample("marts_s", parts._2)
        dayWall += t; newRows += exp.cities * exp.readingsPerDoc
      }
      ctx.values("last_day") = d.toDouble
      d += 1
    }
    ctx.values("readings_per_s") = if (dayWall > 0) newRows / dayWall else 0.0
    docs.unpersist()
  }

  private def bump(ctx: Ctx, k: String, v: Long): Unit =
    ctx.values(k) = ctx.values.getOrElse(k, 0.0) + v

  /** The day's returned counts against the independently computed ones.
    * `newFiles` run dates are new to staging in this run.
    */
  private def checkDay(ctx: Ctx, what: String, d: Int, newFiles: Int, exp: Expected,
                       got: Map[String, Long]): Boolean = {
    val want = Map(
      "files_seen" -> exp.cities * (d + 1),
      "files_new" -> exp.cities * newFiles,
      "staging_rows" -> exp.cities * (d + 1) * exp.readingsPerDoc,
      "dim_location" -> exp.cities,
      "dim_weather_condition" -> exp.params) ++ exp.facts(d)
    val bad = want.toSeq.sortBy(_._1).filter { case (k, v) => !got.get(k).contains(v) }
    bad.foreach { case (k, v) =>
      ctx.errors += s"$what day $d: $k = ${got.getOrElse(k, "missing")}, expected $v"
    }
    bad.isEmpty
  }

  /** Which step of a staging run a job belongs to, from its call site. */
  def stagePhase(site: String): String =
    if (site.startsWith("json at Staging.scala")) "land"
    else if (site.startsWith("count at")) "count"
    else if (site.startsWith("parquet at Staging.scala")) "publish"
    else "merge"

  def martsPhase(site: String): String =
    if (site.startsWith("count at")) "count" else "write"

  def layers(ctx: Ctx, spans: Seq[Span], bySpan: Map[Int, Seq[JobRec]], l: JobListener): Unit = {
    val full = Seq("wall_s", "jobs", "tasks", "task_s", "busy", "shuffle_mb", "spill_mb", "failed_tasks")
    for (name <- Seq("stage", "marts"))
      ctx.layers ++= Layers.spanCounters(name, spans, bySpan, ctx.cores, full)
    def phases(span: String, phaseOf: String => String, names: Seq[String]): Unit = {
      val occ = spans.filter(_.name == span)
      for (p <- names) {
        val per = occ.map(s => bySpan.getOrElse(s.id, Nil).filter(j => phaseOf(l.callSite(j)) == p))
        ctx.layers(s"$span.$p.jobs") = Layers.median(per.map(_.size.toDouble))
        ctx.layers(s"$span.$p.wall_s") =
          Layers.median(per.map(js => Layers.unionSeconds(js.map(j => (j.start, j.end)))))
      }
    }
    phases("stage", stagePhase, Seq("land", "count", "merge", "publish"))
    phases("marts", martsPhase, Seq("write", "count"))
    def v(k: String) = ctx.values.getOrElse(k, 0.0)
    ctx.layers("stage.new_file_ratio") = if (v("files_seen") > 0) v("files_new") / v("files_seen") else 0.0
    ctx.layers("stage.rewrite_ratio") = if (v("new_rows") > 0) v("staging_rows") / v("new_rows") else 0.0
    val martsJobs = spans.filter(_.name == "marts").flatMap(s => bySpan.getOrElse(s.id, Nil))
    ctx.layers("marts.count_job_share") =
      if (martsJobs.isEmpty) 0.0
      else martsJobs.count(j => martsPhase(l.callSite(j)) == "count").toDouble / martsJobs.size
  }
}
