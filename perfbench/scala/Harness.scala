package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Geometric mean of positive samples: the summary of a set of unlike
    * operations in which each one's relative change counts alike and no
    * single operation's rank decides the value, as the median does. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest nearest-rank percentile with at least ten samples beyond
    * it (the 11th-largest sample) when that percentile is above the median,
    * which takes 21 samples; with fewer, the maximum. Returns (value,
    * percentile, n). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 21) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Everything a workload needs: the session, its inputs, the tracer and
  * the run's outcome accumulators. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val dataDir: String,
    val workDir: Path,
    val outDir: Path,
    val tracer: Tracer,
    val jobs: JobCounters,
    val lastQuery: LastQuery) {

  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** (query name, parquet dump dir, DuckDB SQL) triples for the oracle. */
  val oracle = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = { failures += what; System.err.println(s"[perfbench] FAIL $what") }

  /** Runs one operation, counting it as attempted and any exception as a
    * failure; returns None when it threw. */
  def attempt[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  /** Executes `df` in full and discards the rows: what a caller receiving
    * every row pays, without Catalyst pruning the unread columns. */
  def deliver(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drops every cache an operation left behind and returns how many
    * persisted RDDs were still alive after its output was delivered. */
  def release(): Int = {
    val sc = spark.sparkContext
    val leaked = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    leaked
  }

  def freshDir(name: String): String = {
    val d = workDir.resolve("tables").resolve(name)
    if (Files.exists(d)) org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    Files.createDirectories(d.getParent)
    d.toString
  }

  /** Measures until the window closes, one unit (pass, block) at a time,
    * and at least one unit; a window of zero seconds runs none. With
    * `alternate`, a traced run traces every second unit and runs at least
    * three, so its traced unit sits between two untraced ones and warm-up
    * drift cancels out of the overhead; otherwise the workload decides
    * what to trace inside a unit. */
  def window(alternate: Boolean)(unit: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minUnits = if (seconds <= 0) 0 else if (traced && alternate) 3 else 1
    var i = 0
    while (i < minUnits || (seconds > 0 && System.nanoTime() < deadline)) {
      tracer.enabled = traced && (!alternate || i % 2 == 1)
      unit(i)
      i += 1
      sampleLiveHeap()
    }
    tracer.enabled = false
  }

  /** Heap still in use after a full collection, in MB, sampled after
    * every unit (outside all timing): what the program retains once a unit
    * is done, which does not depend on when the collector chose to run. The
    * second collection follows a pause in which Spark's cleaner thread
    * drops what the first one found unreachable. */
  val heapLiveMb = mutable.ArrayBuffer.empty[Double]

  def sampleLiveHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapLiveMb += java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Traced-run overhead: traced minus untraced median unit seconds; and
    * the share of the traced units' end-to-end seconds (`tracedTotal`)
    * that the layer calls' self times add up to. */
  def overhead(untraced: Seq[Double], traced: Seq[Double], tracedTotal: Double): Unit = {
    val self = tracer.selfSeconds
    val byId = tracer.spans.map(s => s.id -> s).toMap
    def blocking(s: Span): Boolean =
      s.parent >= 0 && (Tracer.Blocking(byId(s.parent).name) || blocking(byId(s.parent)))
    val layerSelf = tracer.spans.filter(s => !Tracer.Blocking(s.name) && blocking(s)).map(s => self(s.id)).sum
    if (tracedTotal > 0)
      notes("trace_coverage") = f"layer self times add up to ${100 * layerSelf / tracedTotal}%.2f %% " +
        f"of the traced units' end-to-end seconds ($layerSelf%.3f of $tracedTotal%.3f s)"
    if (traced.nonEmpty && untraced.nonEmpty) {
      val d = Stats.median(traced) - Stats.median(untraced)
      layers("trace.overhead_s") = d
      notes("trace_overhead") =
        f"traced median $d%+.4f s per unit over untraced (${traced.size} traced, ${untraced.size} untraced units)"
    }
  }

  /** Spark listener totals over every traced op, divided by `units` (traced
    * passes or days); the per-op split goes to the notes. */
  def sparkCounts(units: Int): Unit = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    val all = jobs.snapshot()
    // groups of the harness's own structure carry its checks, not layer work
    val layerGroups = all.filter { case (g, _) => !Tracer.Blocking(g) && g != "cycle.block" }
    val tot = layerGroups.values.foldLeft(Seq.fill(6)(0.0))((a, b) => a.zip(b).map { case (x, y) => x + y })
    val per = math.max(1, units)
    Seq("spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "spark.input_bytes").zip(tot).foreach { case (k, v) => layers(k) = v / per }
    all.toSeq.sortBy(-_._2(2)).foreach { case (g, a) =>
      notes(s"spark[$g]") = f"jobs ${a(0)}%.0f tasks ${a(1)}%.0f cpu ${a(2)}%.3f s shuffle ${a(3)}%.0f B spill ${a(4)}%.0f B input ${a(5)}%.0f B"
    }
  }
}

/** Benchmark entry point inside the JVM. Arguments:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --data <dir>
  *  --work <dir> --out <dir>`. Writes `<out>/result.json`; spans of a
  * traced run go to `<out>/spans.jsonl`. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val tStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workDir = Paths.get(opts("work")).toAbsolutePath
    val outDir = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(outDir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - tStart) / 1e3
    val traced = opts("trace") == "1"
    val jobs = new JobCounters
    val lastQuery = new LastQuery
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(lastQuery)
    }
    val runId = s"$workload-${opts("seed")}-${System.currentTimeMillis()}"
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, traced,
      Paths.get(opts("data")).toAbsolutePath.toString, workDir, outDir,
      new Tracer(traced, runId, spark.sparkContext), jobs, lastQuery)
    val tmpBefore = graft.GraftTmp.entries()
    val setupS = ctx.attempt(workload) {
      workload match {
        case "daily_cycle" => DailyCycle.run(ctx)
        case "read_curation" => ReadCuration.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    ctx.release()
    val tmpAfter = graft.GraftTmp.entries()
    ctx.attempted += 1
    if (tmpAfter > tmpBefore) ctx.fail(s"GraftTmp entries grew from $tmpBefore to $tmpAfter")
    ctx.e2e("setup_s") = sessionS + setupS.getOrElse(0.0)
    ctx.e2e("heap_live_mb") = if (ctx.heapLiveMb.isEmpty) 0.0 else ctx.heapLiveMb.max
    ctx.notes("heap_live_samples_mb") = ctx.heapLiveMb.map(x => f"$x%.1f").mkString(" ")
    ctx.layers("jvm.rss_peak_mb") = rssPeakMb()
    ctx.notes("session_s") = f"$sessionS%.3f"
    if (traced) {
      Files.write(outDir.resolve("spans.jsonl"),
        ctx.tracer.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      ctx.tracer.selfByName.foreach { case (n, s, c) => ctx.notes(s"self[$n]") = f"$s%.4f s over $c calls" }
    }
    Files.write(outDir.resolve("result.json"), resultJson(ctx).getBytes("UTF-8"))
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString("{", ", ", "}")

  def resultJson(c: Ctx): String = {
    val oracle = c.oracle.map { case (n, d, s) => s"""{"name": ${q(n)}, "dump": ${q(d)}, "sql": ${q(s)}}""" }
    s"""{"attempted": ${c.attempted}, "failures": ${c.failures.map(q).mkString("[", ", ", "]")},
       | "e2e": ${obj(c.e2e)},
       | "layers": ${obj(c.layers)},
       | "notes": ${c.notes.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")},
       | "oracle": ${oracle.mkString("[", ", ", "]")}}
       |""".stripMargin
  }
}
