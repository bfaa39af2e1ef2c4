package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named public query entry point of one layer: `(spark, dataDir) => df`. */
final case class Op(layer: String, name: String, fn: (SparkSession, String) => DataFrame) {
  def span: String = s"$layer.$name"
}

/** Closed-loop passes over a fixed list of ops, each delivered in full. */
final class OpLoop(ctx: Ctx, ops: Seq[Op]) {
  /** Delivered seconds per op name, over the untraced and traced passes. */
  val opS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val passS = mutable.ArrayBuffer.empty[Double]
  val leaked = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def add(m: mutable.Map[String, mutable.ArrayBuffer[Double]], k: String, v: Double): Unit =
    m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  /** Builds, plans (traced only) and delivers one op; returns seconds. */
  def runOne(op: Op): Double = {
    val t = ctx.tracer
    val t0 = System.nanoTime()
    ctx.attempt(op.span) {
      t.span(op.span) {
        val df = t.span(op.span + ".build")(op.fn(ctx.spark, ctx.dataDir))
        if (t.enabled) t.span(op.span + ".plan")(df.queryExecution.executedPlan)
        t.span(op.span + ".exec")(ctx.deliver(df))
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    add(leaked, op.layer, ctx.release())
    s
  }

  /** One pass over every op; records per-op and per-pass seconds. */
  def pass(): Double = {
    val secs = ops.map { op =>
      val s = runOne(op)
      add(opS, op.name, s)
      s
    }
    passS += secs.sum
    secs.sum
  }

  /** Warm-up pass that also dumps every result for the oracle compare. */
  def checkPass(oracle: Map[String, String]): Unit = ops.foreach { op =>
    val dump = ctx.outDir.resolve("results").resolve(op.name).toString
    ctx.attempt(op.span + " (check)") {
      op.fn(ctx.spark, ctx.dataDir).coalesce(1).write.mode("overwrite").parquet(dump)
    }
    ctx.release()
    oracle.get(op.name) match {
      case Some(sql) => ctx.oracle += ((op.name, dump, sql))
      case None => ctx.fail(s"${op.name}: no oracle")
    }
  }

  /** One pass timing `.count()` instead of full delivery, per op. */
  def countPass(): Map[String, Double] = ops.map { op =>
    val t0 = System.nanoTime()
    ctx.attempt(op.span + " (count)")(op.fn(ctx.spark, ctx.dataDir).count())
    val s = (System.nanoTime() - t0) / 1e9
    ctx.release()
    op.name -> s
  }.toMap

  def allOpSeconds: Seq[Double] = opS.values.flatten.toSeq

  /** End-to-end metrics over every pass. */
  def report(unit: String): Unit = {
    val (tail, pct, n) = Stats.tail(allOpSeconds)
    // per op, the median over passes; then across the unlike ops
    ctx.e2e("op_gmean_s") = Stats.gmean(opS.values.map(xs => Stats.median(xs.toSeq)).toSeq)
    ctx.notes("op_p50_s") = f"${Stats.median(allOpSeconds)}%.4f"
    ctx.e2e("op_tail_s") = tail
    ctx.e2e("pass_s") = Stats.median(passS.toSeq)
    ctx.notes("op_tail") = f"p$pct%.1f of $n $unit"
    ctx.notes("passes") = passS.size.toString
    opS.foreach { case (n, xs) => ctx.notes(s"op_p50[$n]") = f"${Stats.median(xs.toSeq)}%.4f s" }
  }

  /** Traced-run per-layer metrics: per-op build/plan/exec medians (self
    * time), leaked caches, and `.count()` versus delivery per layer. */
  def layerReport(opMetric: Op => Seq[(String, String)]): Unit = {
    val tr = ctx.tracer
    for (op <- ops; (phase, metric) <- opMetric(op)) ctx.layers(metric) = tr.medianSelf(s"${op.span}.$phase")
    val counted = countPass()
    for ((layer, lops) <- ops.groupBy(_.layer)) {
      val delivered = lops.map(o => Stats.median(opS(o.name).toSeq)).sum
      val cnt = lops.map(o => counted(o.name)).sum
      ctx.layers(s"$layer.count_over_noop") = cnt / delivered
      lops.foreach { o =>
        ctx.notes(s"count_vs_noop[${o.span}]") =
          f"count ${counted(o.name)}%.4f s, delivered ${Stats.median(opS(o.name).toSeq)}%.4f s"
      }
    }
    for ((layer, ls) <- leaked) ctx.layers(s"$layer.leaked_rdds") = ls.sum / math.max(1, passS.size)
  }
}
