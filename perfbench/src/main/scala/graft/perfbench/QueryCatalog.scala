package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** query_catalog: one pass over a fixed subset of the registered queries
  * (`SparkEntry.queries`), one from each module, on generated test
  * tables, in a fresh session, as a batch job submitted once runs it: the
  * pass pays its queries' first planning and code generation. Every
  * result is collected in full and written out afterwards for the DuckDB
  * oracle check in checks.py.
  */
object QueryCatalog {

  type Query = (SparkSession, String) => DataFrame

  /** The query-registering modules, in `SparkEntry.queries` order, each
    * with the query run from it: one per module keeps a cold pass near
    * 30 s on four cores at sf0.001. The pick is a core operator of the
    * module; the NSW and pair-graph chain reads are left to index_churn.
    * FileIngest registers only `wx_file_ingest`, which writes to a fixed
    * path under /tmp, outside any checkout (its oracle SQL reads those
    * very files), so that module is not run; its read path
    * (`Staging.incrementalNew`, `Staging.flatten`) runs in daily_etl. The
    * other fixed-/tmp writers (`a13_inc_agg`, `a15_inc_join`,
    * `csv_roundtrip`, `s15_schema_evolution`) are not picked for the same
    * reason. `cur_neardedup_best` is not picked because it fails on some
    * generated inputs (see README.md, "Known program failures"). Graph runs
    * `g2_triangles`, cheaper cold than `g4_concomp`; connected components
    * run in index_churn.
    */
  val modules: Seq[(String, Map[String, Query], String)] = Seq(
    ("Relational", graft.ops.Relational.queries, "j1_star_join"),
    ("FunctionBatteries", graft.ops.FunctionBatteries.queries, "f_json_funcs"),
    ("SqlSurface", graft.ops.SqlSurface.queries, "sql_tpch_q18"),
    ("SqlTpch", graft.ops.SqlTpch.queries, "sql_tpch_q9"),
    ("ApproxAggs", graft.ops.ApproxAggs.queries, "a10_hll_merge"),
    ("TypedApi", graft.ops.TypedApi.queries, "ds_typed_agg"),
    ("Formats", graft.sources.Formats.queries, "orc_roundtrip"),
    ("ScalarFuncs", graft.ops.ScalarFuncs.queries, "f_string_funcs"),
    ("WeatherQueries", graft.ops.WeatherQueries.queries, "wx_incremental"),
    ("NestedOps", graft.ops.NestedOps.queries, "u1_explode_tokens"),
    ("EventWindows", graft.ops.EventWindows.queries, "ev_session"),
    ("Incremental", graft.ops.Incremental.queries, "a22_cdc_merge"),
    ("Graph", graft.ops.Graph.queries, "g2_triangles"),
    ("Metrics", graft.ops.Metrics.queries, "v7_dq_checks"),
    ("TextDedup", graft.llm.TextDedup.queries, "llm_minhash_lsh"),
    ("Embeddings", graft.llm.Embeddings.queries, "emb_cosine_topk"),
    ("TextAnalysis", graft.llm.TextAnalysis.queries, "ta_tfidf"),
    ("Multimodal", graft.llm.Multimodal.queries, "mm_media_pipeline"),
    ("Curation", graft.llm.Curation.queries, "cur_filter"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.input}/tables"
    val qs = modules.map { case (m, reg, n) => (m, n, reg(n)) }
    val oracles = graft.SparkEntry.oracleSql
    val missing = qs.map(_._2).filterNot(oracles.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")

    /** One query, its result collected in full. Some queries run jobs
      * while they build their DataFrame, so the span covers that too. Each
      * query pays its own cache build, as in graft.Bench.
      */
    def once(m: String, q: Query): (Array[Row], StructType) = ctx.tracer.span(s"cat.$m") {
      val df = q(spark, dir)
      try (df.collect(), df.schema)
      finally spark.catalog.clearCache()
    }

    // set-up ends with one trivial job, so the pass does not also pay
    // for starting the session's first one
    ctx.setupStep("first_job")(spark.range(1000).selectExpr("sum(id)").collect())

    var results = Map.empty[String, (Array[Row], StructType)]
    for ((m, n, q) <- qs) {
      var res = (Array.empty[Row], new StructType())
      ctx.timed(s"query $n") { res = once(m, q); true }.foreach { t =>
        ctx.sample("query_s", t)
        results += n -> res
      }
    }
    if (results.size == qs.size) ctx.sample("catalog_s", ctx.samples("query_s").sum)

    // the results, for the oracle check outside the JVM
    val out = s"${ctx.work}/catalog"
    for ((n, (rows, schema)) <- results)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$n")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      J.obj(results.keys.toSeq.sorted.map(n => n -> J.str(oracles(n)))) + "\n")
  }

  /** Per module: the wall and jobs of its query. */
  def layers(ctx: Ctx, spans: Seq[Span], bySpan: Map[Int, Seq[JobRec]]): Unit =
    for ((m, _, _) <- modules)
      ctx.layers ++= Layers.spanCounters(s"cat.$m", spans, bySpan, ctx.cores, Seq("wall_s", "jobs"))
}
