package perfbench

import graft.app.Apps
import graft.llm.{Ann, Curation, Dsir, Gopher, LmScore, LogReg, Packing, Pq, TextStats}
import graft.operators.Checksum
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** State shared by one run: the session, its scratch root, the seed, the
  * tracer, and what the run measured and checked.
  */
final class Ctx(val spark: SparkSession, val scratch: Path, val seed: Long,
                val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Operation latencies (ms) and pass walls (s, traced?) of measured passes. */
  val opMs = mutable.ArrayBuffer[Double]()
  val passS = mutable.ArrayBuffer[(Double, Boolean)]()
  var items = 0L
  /** One digest per measured pass; all must agree (and match the pin). */
  val digests = mutable.ArrayBuffer[String]()
  /** Workload-specific figures, by per-layer metric name. */
  val layer = mutable.LinkedHashMap[String, Double]()

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Run one operation; an exception counts it as failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case scala.util.control.NonFatal(e) =>
      fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      None
    }
  }

  /** A wrong output counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order-independent digests of outputs: doubles are cast to a fixed
  * scale first, so summation-order noise below 1e-6 cannot flip them.
  */
object Digest {

  private def fixed(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(DecimalType(38, 6))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => x.cast(DecimalType(38, 6)))
    case _ => c
  }

  /** `n_rows:checksum` over every column of `df`. */
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toIndexedSeq
    val r = Checksum.global(df.select(cols.map(f => fixed(col(f.name), f.dataType).as(f.name)): _*),
      cols.map(_.name)).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case x => x.toString
  }

  /** Digest of rows already collected on the driver (order-independent). */
  def rows(rs: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rs.foreach { r =>
      val b = md.digest(r.toSeq.map(render).mkString("\u0001")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(b).getLong
    }
    s"${rs.size}:${java.lang.Long.toHexString(sum)}"
  }

  def combine(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(parts.mkString(";").getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}

/** One workload: seeded inputs, a warm-up, and a measured pass. */
trait Workload {
  /** Generate this run's inputs under `dir` (timed into set-up). */
  def prepare(ctx: Ctx, dir: Path): Unit
  /** After the last `prepare`: build derived state and exercise every
    * code path once (timed into set-up).
    */
  def warmUp(ctx: Ctx): Unit
  /** One measured pass over the prepared inputs; returns its digest. */
  def pass(ctx: Ctx, n: Int): String
  /** Workload-specific figures into `ctx.layer` (run description and
    * per-layer metrics).
    */
  def layerMetrics(ctx: Ctx): Unit = ()
}

object Workloads {
  val all: Map[String, () => Workload] = Map(
    "etl_daily" -> (() => new EtlDaily),
    "corpus_curation" -> (() => new CorpusCuration),
    "vector_search" -> (() => new VectorSearch))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}

// -------------------------------------------------------------------------
// etl_daily: the production DAG, a backfill then incremental days
// -------------------------------------------------------------------------

final class EtlDaily extends Workload {
  val params = Gen.CrawlParams()
  private var pages: Path = _
  private var days: Seq[Gen.Day] = Nil
  private var base: Path = _
  private var backfillS = 0.0

  def prepare(ctx: Ctx, dir: Path): Unit = {
    days = Gen.crawl(ctx.seed, params)
    days.zipWithIndex.foreach { case (d, i) => Gen.writePages(dir.resolve(s"day_$i"), d) }
    pages = dir
  }

  /** The backfill day and the first incremental day, into a base root
    * every pass starts from. They are the run's first Spark work, so they
    * also take the JVM's JIT warm-up: the incremental day a pass measures
    * runs on compiled code, and its time varies far less between runs.
    */
  def warmUp(ctx: Ctx): Unit = {
    base = ctx.scratch.resolve("wh_base")
    val (i, w) = runDays(ctx, base, 0 until days.size - 1).head
    backfillS = i + w
  }

  private val ingest = mutable.ArrayBuffer[Double]()
  private val dwh = mutable.ArrayBuffer[Double]()
  private val storeMb = mutable.ArrayBuffer[Double]()

  /** Run the crawl days `range` into `root`: per day ingest, then the
    * warehouse day with its stages as child spans. Returns the (ingest,
    * dwh) seconds of each day.
    */
  private def runDays(ctx: Ctx, root: Path, range: Range): Seq[(Double, Double)] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def stage(s: String, secs: Double): Unit =
      tr.closed(if (s == "writes") "storage.dwh_writes" else s"warehouse.$s", secs)
    range.map { i =>
      val day = days(i)
      val (_, ti) = ctx.time(tr.span("app.ingest_day") {
        ctx.op(s"ingest ${day.date}") {
          Apps.runIngestDay(spark, pages.resolve(s"day_$i").toString, root.toString, day.date)
        }
      })
      val (_, tw) = ctx.time(tr.span("app.dwh_day") {
        ctx.op(s"dwh ${day.date}") {
          Apps.runWarehouseDay(spark, root.toString, day.date, onStage = stage)
        }
      })
      (ti, tw)
    }
  }

  /** Self-test: consuming a view in full keeps its aggregates and sort;
    * `.count()` on the same view lets Catalyst prune both.
    */
  private def planSelfTest(ctx: Ctx): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Sort}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    def shape(p: LogicalPlan): (Boolean, Set[String]) = (
      p.collect { case s: Sort => s }.nonEmpty,
      p.collect { case a: Aggregate => a.aggregateExpressions }.flatten
        .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction.prettyName })
        .toSet)
    val v = ctx.spark.sql("SELECT * FROM vw_monthly_stats")
    val (sorted, aggs) = shape(v.queryExecution.optimizedPlan)
    val (cSorted, cAggs) = shape(v.groupBy().count().queryExecution.optimizedPlan)
    ctx.check(sorted && aggs.contains("avg") && !cSorted && !cAggs.contains("avg"),
      s"plan self-test: consumed sort=$sorted aggs=$aggs; count() sort=$cSorted aggs=$cAggs")
  }

  /** Check the warehouse against the generator's invariants; returns a
    * digest of every table.
    */
  private def verify(ctx: Ctx, root: Path, days: Seq[Gen.Day]): String = {
    val spark = ctx.spark
    val r = root.toString
    val staging = spark.read.parquet(s"$r/staging_jobs")
    val perDay = staging.groupBy("crawl_date").count().collect()
      .map(x => x.get(0).toString -> x.getLong(1)).toMap
    days.foreach(d => ctx.check(perDay.get(d.date).contains(d.cumulativeValidIds.toLong),
      s"staged rows on ${d.date}: ${perDay.get(d.date)} != ${d.cumulativeValidIds}"))
    val star = Apps.readStar(spark, r)
    val notOneCurrent = star.dimJob.groupBy("job_id")
      .agg(sum(col("is_current").cast("int")).as("c")).filter(col("c") =!= 1).count()
    ctx.check(notOneCurrent == 0, s"$notOneCurrent job_ids without exactly one is_current row")
    val versions = star.dimJob.groupBy("job_id").count().collect()
      .map(x => x.getString(0).toLong -> x.getLong(1)).toMap
    val revisions = days.last.titleRevisions
    ctx.check(versions.size == days.last.cumulativeValidIds,
      s"DimJob has ${versions.size} job_ids, generated ${days.last.cumulativeValidIds}")
    val wrong = versions.count { case (id, n) => n != 1 + revisions.getOrElse(id, 0) }
    ctx.check(wrong == 0, s"$wrong job_ids whose DimJob versions != 1 + title revisions")
    Digest.combine(Seq(
      Digest.of(staging), Digest.of(star.dimJob),
      Digest.of(star.dimCompany), Digest.of(star.dimLocation),
      Digest.of(star.dimDate), Digest.of(star.fact), Digest.of(star.bridge)))
  }

  def pass(ctx: Ctx, n: Int): String = {
    val root = ctx.scratch.resolve(s"wh_$n")
    Workloads.copyTree(base, root)
    val (times, wall) = ctx.time(ctx.tracer.span("pass") {
      val t = runDays(ctx, root, days.size - 1 until days.size)
      ctx.tracer.span("views.register") {
        ctx.op("register views") { Apps.registerViews(ctx.spark, root.toString, days.last.date) }
      }
      t
    })
    ctx.passS += ((wall, ctx.tracer.recording))
    times.foreach { case (i, w) =>
      ingest += i; dwh += w; ctx.opMs += (i + w) * 1000
    }
    ctx.items += days.last.cards
    storeMb += Workloads.dirBytes(root) / 1048576.0
    val d = verify(ctx, root, days)
    planSelfTest(ctx)
    Workloads.deleteTree(root)
    d
  }

  override def layerMetrics(ctx: Ctx): Unit = {
    ctx.layer("app.backfill_day_s") = backfillS
    ctx.layer("app.ingest_day_p50_s") = Workloads.median(ingest.toSeq)
    ctx.layer("app.dwh_day_p50_s") = Workloads.median(dwh.toSeq)
    ctx.layer("storage.store_mb") = Workloads.median(storeMb.toSeq)
  }
}

// -------------------------------------------------------------------------
// corpus_curation: the training-data chain, stage outputs to parquet
// -------------------------------------------------------------------------

final class CorpusCuration extends Workload {
  val params = Gen.CorpusParams()
  private var docsPath: String = _
  private var generated: Gen.Corpus = _

  def prepare(ctx: Ctx, dir: Path): Unit = {
    import ctx.spark.implicits._
    generated = Gen.corpus(ctx.seed, params)
    docsPath = dir.resolve("docs").toString
    generated.docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(ctx.spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(docsPath)
  }

  /** The chain, each stage reading its input from the previous stage's
    * parquet output, as a scheduled pipeline would.
    */
  private def chain(ctx: Ctx, out: Path): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(out.resolve(name).toString)
    def read(name: String): DataFrame = spark.read.parquet(out.resolve(name).toString)
    def stage(name: String)(body: => Unit): Unit = tr.span(name) { ctx.op(name)(body) }
    stage("llm.clean_corpus") {
      write(Curation.cleanCorpus(spark.read.parquet(docsPath), "doc_id", "text"), "clean")
    }
    stage("llm.logreg_train") {
      val clean = read("clean")
      val feats = TextStats.hashedTfVector(clean, "doc_id", "text", 32)
        .select(col("doc_id"), transform(col("vec"), x => x / lit(64.0)).as("vec"))
      val y = clean.select(col("doc_id"), (col("n_chars") >= 1000).cast("int").as("y"))
      write(LogReg.train(feats.join(y, Seq("doc_id")), "y", "vec", 10, 2.0), "model")
    }
    stage("llm.filter_stack") {
      write(Curation.filterStack(read("clean"), "doc_id", "text", read("model"),
        minScore = 0.3, dim = 32, scale = 64.0), "stack")
    }
    def kept = read("clean").join(read("stack").where(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    stage("llm.kn5_score") {
      write(LmScore.knNgramScore(kept, "doc_id", "text", order = 5, minTop = 2L), "kn5")
    }
    stage("llm.dsir_select") {
      val g = Gopher.keepDocs(kept, "doc_id", "text")
      val w = Dsir.importanceWeightsFlagged(g, col("lang") === "en", "doc_id", "text")
      write(Dsir.resampleTop(w, "doc_id", params.docs / 3), "dsir")
    }
    stage("llm.pack") {
      val sel = read("clean").join(read("dsir").select("doc_id"), Seq("doc_id"), "left_semi")
      write(Packing.blocks(sel, "doc_id", "text", blockSize = 256, nShards = 8), "blocks")
    }
  }

  /** None: a curation job is a batch run in a fresh JVM, so its JIT and
    * codegen warm-up is part of what each run costs.
    */
  def warmUp(ctx: Ctx): Unit = ()

  def pass(ctx: Ctx, n: Int): String = {
    val out = ctx.scratch.resolve(s"curation_$n")
    val (_, wall) = ctx.time(ctx.tracer.span("pass") {
      chain(ctx, out)
    })
    ctx.passS += ((wall, ctx.tracer.recording))
    ctx.opMs += wall * 1000
    ctx.items += params.docs
    val spark = ctx.spark
    def read(name: String) = spark.read.parquet(out.resolve(name).toString)
    val d = ctx.op("verify curation") {
      val clean = read("clean").select("doc_id").collect().map(_.getLong(0)).toSet
      ctx.check(params.docs - clean.size >= generated.exactPairs.size,
        s"curation kept ${clean.size} of ${params.docs} docs with ${generated.exactPairs.size} exact duplicates injected")
      val bothKept = generated.exactPairs.count { case (a, b) => clean(a) && clean(b) }
      ctx.check(bothKept == 0, s"$bothKept exact-duplicate pairs survived curation")
      Seq("clean", "model", "stack", "kn5", "dsir", "blocks").foreach { s =>
        ctx.check(!read(s).isEmpty, s"curation stage $s wrote no rows")
      }
      Digest.combine(Seq("clean", "model", "stack", "kn5", "dsir", "blocks")
        .map(s => Digest.of(read(s))))
    }
    Workloads.deleteTree(out)
    d.getOrElse("failed")
  }
}

// -------------------------------------------------------------------------
// vector_search: IVF + PQ index build, then batched top-k search
// -------------------------------------------------------------------------

final class VectorSearch extends Workload {
  val params = Gen.VectorParams()
  val k = 10
  val batch = 32
  val nprobe = 4
  val pqM = 8
  /** Recall@10 floor: measured recall sits well above it (~0.8) on every
    * seed tried; a broken index or search falls far below.
    */
  val recallFloor = 0.5
  private var dir: Path = _
  private var truth: Map[Long, Set[Long]] = Map.empty
  private val searchMs = mutable.ArrayBuffer[Double]()
  private val buildS = mutable.ArrayBuffer[Double]()
  private val recalls = mutable.ArrayBuffer[Double]()

  private def write(ctx: Ctx, rows: Seq[(Long, Array[Float])], id: String, path: Path): Unit = {
    import ctx.spark.implicits._
    rows.toDF(id, "embedding").repartition(ctx.spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path.toString)
  }

  def prepare(ctx: Ctx, d: Path): Unit = {
    val (corpus, queries) = Gen.vectors(ctx.seed, params)
    write(ctx, corpus, "vec_id", d.resolve("corpus"))
    write(ctx, queries, "query_id", d.resolve("queries"))
    dir = d
  }

  /** Build the index and search every query batch; returns the rows found. */
  private def buildAndSearch(ctx: Ctx, idx: Path): Seq[Row] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val corpus = spark.read.parquet(dir.resolve("corpus").toString)
    val (_, tb) = ctx.time {
      tr.span("llm.kmeans_train") {
        ctx.op("kmeans_train") {
          Ann.kmeansTrain(corpus, "vec_id", "embedding", iters = 2, centroidTarget = 16)
            .write.mode("overwrite").parquet(idx.resolve("ivf").toString)
        }
      }
      tr.span("llm.pq_train") {
        ctx.op("pq_train") {
          Pq.pqTrain(corpus, "vec_id", "embedding", m = pqM, k = 16, iters = 2)
            .write.mode("overwrite").parquet(idx.resolve("pq").toString)
        }
      }
    }
    buildS += tb
    val ivf = spark.read.parquet(idx.resolve("ivf").toString)
    val pq = spark.read.parquet(idx.resolve("pq").toString)
    val neighbours = corpus.withColumnRenamed("vec_id", "neighbor_id")
    val queries = spark.read.parquet(dir.resolve("queries").toString)
    val qids = queries.select("query_id").collect().map(_.getLong(0)).sorted
    qids.grouped(batch).toSeq.flatMap { b =>
      val t0 = System.nanoTime()
      val rows = tr.span("llm.ivfpq_search") {
        ctx.op("ivfpq_search") {
          Pq.ivfPqTopK(queries.where(col("query_id").between(b.head, b.last)),
            neighbours, ivf, pq, k = k, nprobe = nprobe, m = pqM, dim = params.dim)
            .select("query_id", "neighbor_id", "dist2", "rank").collect().toSeq
        }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      searchMs += ms
      ctx.opMs += ms
      rows.getOrElse(Nil)
    }
  }

  /** Exact top-k truth for recall. */
  def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    truth = Ann.bruteForceTopK(spark.read.parquet(dir.resolve("queries").toString),
        spark.read.parquet(dir.resolve("corpus").toString)
          .withColumnRenamed("vec_id", "neighbor_id"), k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  def pass(ctx: Ctx, n: Int): String = {
    val idx = ctx.scratch.resolve(s"index_$n")
    val (rows, wall) = ctx.time(ctx.tracer.span("pass") { buildAndSearch(ctx, idx) })
    ctx.passS += ((wall, ctx.tracer.recording))
    ctx.items += truth.size
    val found = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = truth.map { case (q, t) => (t intersect found.getOrElse(q, Set.empty)).size }.sum
    val recall = hits.toDouble / truth.values.map(_.size).sum
    recalls += recall
    ctx.check(recall >= recallFloor, f"recall@$k $recall%.4f below floor $recallFloor")
    ctx.check(found.size == truth.size, s"${found.size} of ${truth.size} queries answered")
    Workloads.deleteTree(idx)
    Digest.rows(rows)
  }

  override def layerMetrics(ctx: Ctx): Unit = {
    ctx.layer("llm.index_build_s") = Workloads.median(buildS.toSeq)
    ctx.layer("llm.search_p90_ms") = Workloads.percentile(searchMs.toSeq, 0.9)
    ctx.layer("llm.search_recall_at_k") = Workloads.median(recalls.toSeq)
  }
}
