package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Read-only closed loop over the generated tables: oracle-backed
  * analytics queries, then the corpus-curation chain over `documents` and
  * `embeddings` (quality and safety text kernels, the dedup family, the
  * similarity family). Every step is delivered in full; nothing commits. */
object ReadCuration {
  private def pick(layer: String, ops: Map[String, (SparkSession, String) => DataFrame],
      names: String*): Seq[Op] = names.map(n => Op(layer, n, ops(n)))

  val QueryOps: Seq[Op] =
    pick("queries", graft.queries.Analytics.queries, "daily_summary") ++
    pick("queries", graft.queries.Joins.queries, "revenue_by_nation") ++
    pick("queries", graft.queries.TpchAdvanced.queries, "q9_product_profit") ++
    pick("queries", graft.queries.Windows.queries, "moving_avg") ++
    pick("queries", graft.queries.Ranking.queries, "rank_family") ++
    pick("queries", graft.queries.Relational.queries, "setops_users") ++
    pick("queries", graft.queries.Stats.queries, "stats_moments") ++
    pick("queries", graft.queries.Sessionize.queries, "sessionize")

  val ChainOps: Seq[Op] =
    pick("text", graft.text.TextAnalysis.queries, "quality_score") ++
    pick("text", graft.text.Repetition.queries, "gopher_repetition") ++
    pick("text", graft.text.Safety.queries, "pii_scrub") ++
    pick("dedup", graft.dedup.Dedup.queries, "dedup_exact", "dedup_minhash", "dedup_simhash",
      "edit_dedup", "canonical_selection") ++
    pick("similarity", graft.similarity.Similarity.queries, "semantic_dedup", "knn_ivf") ++
    pick("similarity", graft.similarity.HybridSearch.queries, "bm25_rank")

  /** Returns the set-up seconds after session start: the warm-up pass,
    * which also dumps every result for the oracle compare. */
  def run(ctx: Ctx): Double = {
    val ops = QueryOps ++ ChainOps
    val loop = new OpLoop(ctx, ops)
    val tw = System.nanoTime()
    loop.checkPass(graft.SparkEntry.oracleSql)
    val warmS = (System.nanoTime() - tw) / 1e9
    ctx.window(alternate = true)(_ => ctx.tracer.span("pass.read")(loop.pass()))
    loop.report("ops")
    val docs = ctx.spark.read.parquet(s"${ctx.dataDir}/documents.parquet").count()
    val chainS = Stats.median(loop.passS.indices.map(i =>
      ChainOps.map(op => loop.opS(op.name)(i)).sum))
    ctx.notes("docs_per_s") = f"${docs / chainS}%.2f (chain pass ${chainS}%.3f s)"
    ctx.notes("sizes") = s"$docs documents; ${QueryOps.size} queries + ${ChainOps.size} chain steps per pass"
    if (ctx.traced) {
      val tr = ctx.tracer
      val passes = tr.spans.filter(_.name == "pass.read").toSeq
      val self = tr.selfSeconds
      for (ph <- Seq("build", "plan", "exec")) {
        val perPass = passes.map(p => tr.spans.filter(s => s.name.startsWith("queries.") &&
          s.name.endsWith("." + ph) && s.startNs >= p.startNs && s.endNs <= p.endNs).map(s => self(s.id)).sum)
        ctx.layers(s"queries.${ph}_s") = Stats.median(perPass)
      }
      loop.layerReport {
        case op if op.layer == "queries" => Seq("exec" -> s"queries.${op.name}.exec_s")
        case op => Seq("build", "plan", "exec").map(ph => ph -> s"${op.layer}.${op.name}_${ph}_s")
      }
      val (tracedP, untracedP) = loop.passS.toSeq.zipWithIndex.partition(_._2 % 2 == 1)
      ctx.overhead(untracedP.map(_._1), tracedP.map(_._1), tracedP.map(_._1).sum)
      ctx.sparkCounts(passes.size)
    }
    warmS
  }
}
