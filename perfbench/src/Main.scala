package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --out FILE`. Sets up (session, inputs, warm-up), measures passes of
  * the workload for S seconds, checks every output, and writes one JSON
  * object to FILE: the end-to-end metrics untraced, or the per-layer
  * metrics when traced. Traced runs alternate traced and untraced passes
  * so the tracing overhead is measured in the same process; it includes
  * the warm-up drift between consecutive passes, so it is an upper bound.
  */
object Main {

  /** Input generations per run; `setup_s` counts their median. */
  val SetupReps = 3

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def pinned(workload: String, seed: Long): Option[String] = {
    val p = Paths.get("perfbench/digests.tsv")
    if (!Files.exists(p)) None
    else Files.readAllLines(p).toArray.map(_.toString.split("\t")).collectFirst {
      case Array(w, s, d) if w == workload && s == seed.toString => d
    }
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val out = Paths.get(arg(args, "out"))
    val make = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))

    val t0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors
    val loadavg = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    val runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
    val scratch = Files.createDirectories(
      Paths.get(".bench_build", "scratch", runId).toAbsolutePath)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, runId)
    val ctx = new Ctx(spark, scratch, seed, tracer)
    val w = make()
    val result = try {
      // ---- set-up: inputs generated several times, then the warm-up ----
      val prepS = (0 until SetupReps).map { i =>
        val dir = scratch.resolve(s"inputs_$i")
        val (_, s) = ctx.time(w.prepare(ctx, dir))
        if (i > 0) Workloads.deleteTree(scratch.resolve(s"inputs_${i - 1}"))
        s
      }
      val (_, warmS) = ctx.time(w.warmUp(ctx))
      val setupS = sessionS + Workloads.median(prepS) + warmS
      val setupAttempted = ctx.attempted

      // ---- measured passes ----
      val tm = System.nanoTime()
      var n = 0
      // traced runs trace the first pass, the one an untraced run measures,
      // and time an untraced second pass to compare against
      val minPasses = if (traced) 2 else 1
      while (n < minPasses || (System.nanoTime() - tm) / 1e9 < seconds) {
        val tracePass = traced && n % 2 == 0
        if (tracePass) tracer.start()
        val d = w.pass(ctx, n)
        if (tracePass) tracer.stop()
        ctx.digests += d
        n += 1
      }
      ctx.check(ctx.digests.distinct.size == 1,
        s"outputs differ between passes: ${ctx.digests.distinct.mkString(",")}")
      val pin = pinned(workload, seed)
      ctx.check(pin.forall(_ == ctx.digests.head),
        s"output digest ${ctx.digests.head} != pinned ${pin.getOrElse("")}")

      w.layerMetrics(ctx)
      val metrics = mutable.LinkedHashMap[String, (Double, String)]()
      if (!traced) {
        val passes = ctx.passS.map(_._1).toSeq
        metrics("setup_s") = (setupS, "s")
        metrics("op_p50_ms") = (Workloads.median(ctx.opMs.toSeq), "ms")
        metrics("pass_s") = (Workloads.median(passes), "s")
        metrics("items_per_s") = (ctx.items / passes.sum, "1/s")
      } else {
        val spanNames = Seq("app.ingest_day", "app.dwh_day", "warehouse.scd2_dim_job",
          "warehouse.scd2_dim_company", "warehouse.dim_location", "warehouse.dim_date",
          "warehouse.fact", "warehouse.bridge", "storage.dwh_writes", "views.register",
          "llm.clean_corpus", "llm.logreg_train", "llm.filter_stack", "llm.kn5_score",
          "llm.dsir_select", "llm.pack", "llm.kmeans_train", "llm.pq_train",
          "llm.ivfpq_search")
        spanNames.foreach { s =>
          metrics(s"$s.wall_s") = (tracer.mean(s)(tracer.wallS), "s")
          metrics(s"$s.jobs") = (tracer.mean(s)(tracer.jobsOf(_).size.toDouble), "count")
          metrics(s"$s.gap_s") = (tracer.mean(s)(tracer.gapS), "s")
          metrics(s"$s.shuffle_mb") = (tracer.mean(s)(tracer.shuffleMb), "MB")
          if (s == "app.dwh_day") metrics(s"$s.self_s") = (tracer.mean(s)(tracer.selfS), "s")
        }
        Seq("app.backfill_day_s" -> "s",
            "app.ingest_day_p50_s" -> "s", "app.dwh_day_p50_s" -> "s",
            "storage.store_mb" -> "MB", "llm.index_build_s" -> "s",
            "llm.search_p90_ms" -> "ms", "llm.search_recall_at_k" -> "ratio")
          .foreach { case (k, u) => metrics(k) = (ctx.layer.getOrElse(k, 0.0), u) }
        val allJobs = tracer.spans.filter(_.name == "pass").flatMap(tracer.jobsOf)
        metrics("spark.tasks") = (tracer.perPass((_, js) => js.map(_.tasks).sum.toDouble), "count")
        metrics("spark.spill_mb") = (tracer.perPass((_, js) => js.map(_.spill).sum / 1048576.0), "MB")
        metrics("spark.write_mb") = (tracer.perPass((_, js) => js.map(_.written).sum / 1048576.0), "MB")
        metrics("spark.gc_s") = (tracer.perPass((_, js) => js.map(_.gcMs).sum / 1000.0), "s")
        metrics("spark.short_job_share") = (
          if (allJobs.isEmpty) 0.0
          else allJobs.count(j => j.end - j.start < 100000000L).toDouble / allJobs.size, "ratio")
        metrics("sql.plan_ms") = (tracer.perPass((s, _) => tracer.planMs(s)), "ms")
        metrics("codegen.compiles") = (tracer.mean("pass")(s => (s.compiles1 - s.compiles0).toDouble), "count")
        val (tp, up) = ctx.passS.partition(_._2)
        metrics("trace.overhead_s") = (
          Workloads.median(tp.map(_._1).toSeq) - Workloads.median(up.map(_._1).toSeq), "s")
        metrics("failed_ops_ratio") = (ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
        Files.createDirectories(Paths.get(".bench_build", "traces"))
        Files.writeString(Paths.get(".bench_build", "traces", s"$runId.json"), tracer.json)
      }
      val correct = ctx.failed == 0
      val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      val meta = Seq(
        s""""workload": "$workload"""", s""""seed": $seed""",
        s""""nproc": $nproc""", s""""loadavg_start": "$loadavg"""",
        s""""jvm": "${esc(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))}"""",
        s""""spark": "${spark.version}"""",
        s""""passes": $n""", s""""setup_attempted": $setupAttempted""",
        s""""setup_s_parts": {"session": ${num(sessionS)}, "warm_up": ${num(warmS)}, "prepare": [${prepS.map(num).mkString(", ")}]}""",
        s""""digest": "${ctx.digests.headOption.getOrElse("")}"""",
        s""""workload_figures": {${ctx.layer.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")}}""",
        s""""failures": [${ctx.failures.map(f => "\"" + esc(f) + "\"").mkString(", ")}]""",
        s""""session_config": {${spark.conf.getAll.toSeq.sorted
          .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
          .map { case (k, v) => s""""$k": "${esc(v)}"""" }.mkString(", ")}}""")
      val res = s"""{"correct": $correct, "attempted": ${ctx.attempted}, """ +
        s""""failed": ${math.min(ctx.failed, ctx.attempted)}, "metrics": {${m.mkString(", ")}}}"""
      (s"{${meta.mkString(", ")}}", res)
    } finally {
      spark.stop()
      Workloads.deleteTree(scratch)
    }
    Files.writeString(out, result._1 + "\n" + result._2 + "\n")
  }
}
