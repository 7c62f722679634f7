package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Embeddings, TextDedup}
import graft.weather.Staging

/** index_churn: the LLM-data indexes as a long-lived service. A seeded 10%
  * of the documents and embeddings is held out; the pair-graph MV, the NSW
  * index and the IVF index are built over the rest. The timed cycle then
  * ingests the held-out batch into all three chains (one step), runs one
  * lookup against each, and compacts all three chains.
  */
object IndexChurn {

  private val k = 3        // top-k of the registered NSW and IVF query batches
  private val queries = 5  // vec_id < 5 form the query batch

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Math.floorMod(ctx.seed, 10L)
    val corpusDir = s"${ctx.input}/corpus"
    val docs = Tables.documents(spark, corpusDir)
    val heldDoc = $"doc_id" % 10 === r
    val heldVec = $"vec_id" >= queries && $"vec_id" % 10 === r
    def docBatch = docs.filter(heldDoc).select($"doc_id", $"text")
    def vecBatch = Tables.embeddings(spark, corpusDir).filter(heldVec)
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", Embeddings.norm($"v"))
    val resident: DataFrame => DataFrame = _.filter(!heldVec)

    // set-up: the resident corpus as its own dataset dir (the pair-graph MV
    // is keyed by dir), then the three builds
    val pgDir = s"${ctx.work}/churn/pg_corpus"
    val pgRoot = ctx.setupStep("pg_build") {
      docs.filter(!heldDoc).write.mode("overwrite").parquet(s"$pgDir/documents.parquet")
      TextDedup.refreshPairGraphMv(spark, pgDir)
    }
    val nswRoot = ctx.setupStep("nsw_build")(Embeddings.buildNswIndex(spark, corpusDir, "churn", resident))
    val ivfRoot = ctx.setupStep("ivf_build")(Embeddings.buildIvfIndex(spark, corpusDir, "churn", resident))

    def topK(rows: Array[Row]): Boolean = {
      val perQ = rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) => q -> rs.length }
      perQ.size == queries && perQ.values.forall(_ == k)
    }
    def ingest(): Boolean = ctx.tracer.span("ingest") {
      ctx.tracer.span("pg_append")(TextDedup.appendPairGraphMv(spark, pgDir, docBatch))
      ctx.tracer.span("nsw_append")(
        Embeddings.appendNswIndex(spark, corpusDir, vecBatch, "churn", resident))
      ctx.tracer.span("ivf_append")(Embeddings.appendIvfIndex(spark, ivfRoot, vecBatch))
      true
    }
    def lookup(): Boolean = ctx.tracer.span("lookup") {
      // every result is collected: all columns of all rows reach the caller
      val labels = ctx.tracer.span("pg_read")(TextDedup.componentLabels(spark, pgDir).collect())
      val nsw = ctx.tracer.span("nsw_read")(
        Embeddings.nswQueryFromIndex(spark, corpusDir, nswRoot, resident).collect())
      val ivf = ctx.tracer.span("ivf_read")(
        Embeddings.ivfQueryFromIndex(spark, corpusDir, ivfRoot).collect())
      val ok = labels.nonEmpty && labels.map(_.getLong(0)).distinct.length == labels.length &&
        topK(nsw) && topK(ivf)
      if (!ok) ctx.errors += s"lookup: labels=${labels.length} nsw=${nsw.length} ivf=${ivf.length}"
      ok
    }
    def compact(): Boolean = ctx.tracer.span("compact") {
      ctx.tracer.span("pg_compact")(TextDedup.compactPairGraphMv(spark, pgDir))
      ctx.tracer.span("nsw_compact")(Embeddings.compactNswIndex(spark, nswRoot))
      ctx.tracer.span("ivf_compact")(Embeddings.compactIvfIndex(spark, ivfRoot))
      Seq(pgRoot, nswRoot, ivfRoot).forall(Staging.chainVersions(spark, _).size == 1)
    }
    // one cycle, each op waited on. No warm-up step: the ingest and the
    // lookup pay their first compilation, as in a service's first batch
    // after the indexes are built
    val i = ctx.timed("ingest")(ingest())
    if (ctx.tracer.enabled) Seq("pg" -> pgRoot, "nsw" -> nswRoot, "ivf" -> ivfRoot).foreach {
      case (n, root) => ctx.sample(s"${n}_read.chain_len", Staging.chainVersions(spark, root).size)
    }
    val l = ctx.timed("lookup")(lookup())
    val c = ctx.timed("compact")(compact())
    for (i <- i; l <- l) {
      ctx.sample("ingest_s", i); ctx.sample("lookup_s", l); ctx.sample("step_s", i + l)
    }
    c.foreach(ctx.sample("compact_s", _))
    for (i <- i; l <- l; c <- c) ctx.sample("cycle_s", i + l + c)

    // output checks, outside the timed region
    val appendedDocs = docBatch.select($"doc_id").as[Long].collect().toSet
    val appendedVecs = vecBatch.select($"vec_id").as[Long].collect().toSet
    // append == rebuild: labels after the appends equal a from-scratch
    // refresh over the same corpus
    val fullDir = s"${ctx.work}/churn/pg_full"
    docs.filter(!heldDoc || $"doc_id".isin(appendedDocs.toSeq: _*))
      .write.mode("overwrite").parquet(s"$fullDir/documents.parquet")
    TextDedup.refreshPairGraphMv(spark, fullDir)
    def labelSet(dir: String) = TextDedup.componentLabels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (labelSet(pgDir) != labelSet(fullDir))
      ctx.fail("pair-graph labels after appends differ from a from-scratch refresh")
    // every appended id is resident exactly once in each chain
    def idsOnce(root: String, layer: String, id: String, want: Set[Long], exact: Boolean): Unit = {
      val counts = Staging.readChain(spark, root, layer).groupBy(col(id)).count()
        .as[(Long, Long)].collect().toMap
      val dups = counts.count(_._2 != 1)
      val missing = want.count(i => !counts.contains(i))
      val extra = if (exact) counts.keySet.count(i => !want.contains(i)) else 0
      if (dups + missing + extra > 0)
        ctx.fail(s"$layer of $root: $dups ids not exactly once, $missing appended ids missing, $extra unexpected")
    }
    idsOnce(pgRoot, "batchdocs", "doc_id", appendedDocs, exact = true)
    idsOnce(pgRoot, "sizes", "doc_id", Set.empty, exact = false)
    idsOnce(nswRoot, "vecs", "vec_id", appendedVecs, exact = true)
    idsOnce(ivfRoot, "cells", "vec_id", appendedVecs, exact = false)
  }

  private val layerSpans = Seq("pg_append", "nsw_append", "ivf_append", "pg_read", "nsw_read",
    "ivf_read", "pg_compact", "nsw_compact", "ivf_compact")

  def layers(ctx: Ctx, spans: Seq[Span], bySpan: Map[Int, Seq[JobRec]]): Unit = {
    for (name <- layerSpans)
      ctx.layers ++= Layers.spanCounters(name, spans, bySpan, ctx.cores,
        Seq("wall_s", "jobs", "tasks", "task_s", "busy"))
    for (n <- Seq("pg", "nsw", "ivf"))
      ctx.layers(s"${n}_read.chain_len") =
        Layers.median(ctx.samples.get(s"${n}_read.chain_len").map(_.toSeq).getOrElse(Nil))
  }
}
