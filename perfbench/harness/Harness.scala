package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.SparkEntry
import graft.core.{ArtifactStore, GraftSession}
import graft.dedup.Dedup
import graft.pipeline.{Pipeline, RunIncrementalCuration, RunPipeline}

/** One benchmark run in a fresh JVM: set up a graft session, warm it on
  * the smallest inputs, then repeat whole passes of one workload until the
  * measuring time is spent. Writes a result file that `run.py` checks
  * against the reference digests and turns into metrics.
  *
  * Usage: perfbench.Harness key=value ... (keys are set by `run.py`).
  */
object Harness {
  /** One checked output: a digest `run.py` compares with its reference,
    * or an invariant the harness decides itself. */
  final case class Op(name: String, digest: Option[String] = None,
      ok: Option[Boolean] = None, error: Option[String] = None)

  /** Writes the result and spans files; +inf is written as "Infinity". */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def failed(name: String, e: Throwable): Op =
    Op(name, error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))

  final case class Pass(samples: Seq[(String, Double)], ops: Seq[Op])

  val MedallionTables = Seq("silver/orders", "silver/customers", "silver/parts",
    "gold/daily_sales", "gold/monthly_sales", "gold/customer_analytics", "gold/ml_features")
  /** Warm-up passes per workload. After one pass of 16 short queries the
    * measured pass still varied 14 % between runs on a 4-core box; a
    * second warm-up pass is cheaper than measuring more passes. A nightly
    * job starts in a fresh JVM, so `nightly` measures its pass cold. */
  val WarmupPasses = Map("queries" -> 2, "nightly" -> 0, "medallion_cut" -> 1)
  /** Output directories a traced run times writes into, per workload. */
  val WriteKeys = Map(
    "queries" -> Seq.empty[String],
    "nightly" -> (MedallionTables.map(_.replace('/', '_')) ++ Seq("quarantine", "quality",
      "curated", "artifacts", "artifacts_media", "artifacts_suffix")))
  /** Spans around pipeline runs, reported per pass as `<span>_s`. */
  val PipelineSpans = Seq("pipeline.RunPipeline", "pipeline.RunIncrementalCuration.night1",
    "pipeline.RunIncrementalCuration.night2")

  /** Order-independent digest: row count plus the sum of xxhash64 over
    * every column, taken in name order. It reads every column, so it is
    * also the action that consumes a query's full result. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case _: MapType => array_sort(map_entries(df.col(c)))
        case _ => df.col(c)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)))).head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }

  /** The measured query set, pinned so that a change to the registry does
    * not change the workload: 16 short read-only registered queries whose
    * oracle SQL reads only the TPC-H star and `events`, few enough that a
    * run (two warm-up passes and one measured pass) fits the benchmark's
    * time budget. `references.json` holds a digest for each. */
  val QuerySet: Seq[String] = Seq("q_approxq", "q_bins", "q_clv", "q_daily", "q_ewma",
    "q_fuzzy", "q_iqr", "q_ks_seg", "q_mwu", "q_psi", "q_rank", "q_rules_cfg",
    "q_sessionw", "q_struct", "q_transitions", "q_winsor")

  /** Session plus the timing, tagging and tracing around calls into graft.
    * While `warming`, timed calls are neither traced nor counted. */
  final class Ctx(val spark: SparkSession, val spans: Spans, val trace: Option[Trace]) {
    private val sc = spark.sparkContext
    /** Start of the pass's first timed call and end of its last, in ns. */
    private var passStart = 0L
    private var passEnd = 0L
    /** Seconds of the last timed call. */
    var last = 0.0
    var warming = false

    /** Starts a pass: one full GC, so the pass does not pay for garbage
      * left by set-up or by the previous pass. */
    def beginPass(): Unit = { System.gc(); passStart = 0L; passEnd = 0L }

    /** Seconds from the start of the pass's first timed call to the end of
      * its last one; a traced run measures inside this window. */
    def endPass(): Double = {
      if (!warming) trace.foreach(_.window(passStart / 1000000L, passEnd / 1000000L))
      (passEnd - passStart) / 1e9
    }

    /** Runs `body` with its Spark jobs tagged `span`. */
    def tagged[T](span: String)(body: => T): T = {
      val prev = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", if (warming) "setup" else span)
      try body finally sc.setLocalProperty("perfbench.span", prev)
    }

    /** Runs `body` inside span `name`, its jobs tagged `tag`. */
    def span[T](name: String, tag: String)(body: => T): T =
      if (warming) tagged(tag)(body) else spans(name)(tagged(tag)(body))

    /** Runs `body` as timed work inside span `name`; its latency is left
      * in `last` and it extends the pass's window. */
    def timed[T](name: String)(body: => T): T = {
      val t0 = wallNs
      if (passStart == 0L) passStart = t0
      try span(name, "measure")(body)
      finally {
        passEnd = wallNs
        last = (passEnd - t0) / 1e9
      }
    }
  }

  /** Wall-clock time in ns, on the clock Spark's listener events use. */
  private val clockMs = System.currentTimeMillis()
  private val clockNs = System.nanoTime()
  def wallNs: Long = clockMs * 1000000L + (System.nanoTime() - clockNs)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val out = a("out")
    val cores = a("cores").toInt
    val traced = a.get("trace").contains("1")
    val trace = if (traced) Some(new Trace(workload, WriteKeys)) else None

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val timeline = mutable.LinkedHashMap.empty[String, Double]
    def mark(event: String): Unit = timeline(event) = (System.currentTimeMillis() - jvmStart) / 1e3
    mark("main")
    val spark = GraftSession.local(cores)
    mark("session")
    trace.foreach { t =>
      t.outRoot = new File(out).getAbsolutePath
      spark.sparkContext.addSparkListener(t.spark)
      spark.listenerManager.register(t.sql)
    }
    val ctx = new Ctx(spark, new Spans(traced), trace)
    val warm = a("warm")
    val pass: (String, Int) => Pass = workload match {
      case "queries" =>
        val qs = SparkEntry.queries
        (in, p) => queries(ctx, qs, new Random(a("seed").toLong * 1000 + p).shuffle(QuerySet), in)
      case "nightly" => (in, p) => nightly(ctx, in, s"$out/pass$p", verify = p >= 0)
      case "medallion_cut" => (in, p) => medallionCut(ctx, in, s"$out/pass$p", verify = p >= 0)
      case "selfcheck" => (in, _) => digestCheck(ctx, Seq(in, a("input_b"), a("input_split")))
    }
    // warm-up: whole passes of the workload over the smallest inputs, so
    // the measured passes do not pay for JIT and code generation
    ctx.warming = true
    (1 to WarmupPasses.getOrElse(workload, 0)).foreach { _ =>
      ctx.beginPass()
      pass(warm, -1)
      deleteTree(new File(s"$out/pass-1"))
    }
    ctx.warming = false
    mark("warm")
    val setupS = timeline("warm")
    val calibBefore = ctx.tagged("setup")(calibrate(spark, cores))
    mark("calibrated")

    val passes = mutable.ArrayBuffer.empty[(Double, Pass)]
    val measureStart = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - measureStart) / 1e9 < a("seconds").toDouble) {
      val p = passes.size
      if (p > 0) deleteTree(new File(s"$out/pass${p - 1}"))
      ctx.spans.trace = p
      ctx.beginPass()
      val done = pass(a("input"), p)
      passes += ctx.endPass() -> done
    }
    mark("measured")
    val calibAfter = ctx.tagged("setup")(calibrate(spark, cores))
    mark("recalibrated")
    val diskMb = Seq(out, System.getProperty("java.io.tmpdir"),
      spark.sparkContext.getConf.get("spark.local.dir", out))
      .distinct.map(d => treeBytes(new File(d))).sum / 1e6
    val n = passes.size
    val layer: Map[String, Double] = trace.map { t =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val s = ctx.spans
      t.metrics(n, cores) ++ Map(
        "SparkEntry.construct_s" -> s.total("SparkEntry.construct") / n,
        "SparkEntry.execute_s" -> s.total("SparkEntry.execute") / n) ++
        PipelineSpans.map(p => s"${p}_s" -> s.total(p) / n)
    }.getOrElse(Map.empty)
    if (traced) a.get("spans").foreach { path =>
      Files.write(Paths.get(path), ctx.spans.all.map(json.writeValueAsString)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    json.writeValue(new File(a("result")), Map(
      "setup_s" -> setupS,
      "calib_before_s" -> calibBefore,
      "calib_after_s" -> calibAfter,
      "peak_rss_mb" -> vmHwmMb,
      "disk_mb" -> diskMb,
      "layer" -> layer,
      "timeline" -> timeline,
      "passes" -> passes.map { case (wall, p) => Map(
        "wall_s" -> wall,
        "samples" -> p.samples.map { case (q, t) => Map("name" -> q, "s" -> t) },
        "ops" -> p.ops) }))
    spark.stop()
  }

  /** Every query once, in `order`: construct the DataFrame, then digest
    * it; the latency covers both. A failed query's latency is +inf. */
  def queries(ctx: Ctx, qs: Map[String, (SparkSession, String) => DataFrame],
      order: Seq[String], input: String): Pass = {
    val results = order.map { n =>
      val op = try ctx.timed(s"q.$n") {
        val df = ctx.span("SparkEntry.construct", "construct")(qs(n)(ctx.spark, input))
        Op(n, digest = Some(ctx.span("SparkEntry.execute", "execute")(digest(df))))
      } catch { case e: Throwable => failed(n, e) }
      ctx.spark.catalog.clearCache()
      (op, if (op.error.isEmpty) ctx.last else Double.PositiveInfinity)
    }
    Pass(results.map { case (o, t) => (o.name, t) }, results.map(_._1))
  }

  /** Op `name` from `body`, or a failed op if it throws. */
  private def check(name: String)(body: => Op): Op =
    try body catch { case e: Throwable => failed(name, e) }

  private def jobsOk(r: Pipeline.RunReport): Boolean = r.failed.isEmpty && r.skipped.isEmpty

  /** One pass of the nightly write path into a fresh output root: the
    * medallion pipeline as a full load of `input`, then two corpus nights
    * of `RunIncrementalCuration` (media dedup and suffix index on), night 1
    * over `input/night1`'s documents cut at the seeded id, night 2 over all
    * of them. With `verify`, the medallion outputs are digested for the
    * references and the corpus nights checked by their invariants. */
  def nightly(ctx: Ctx, input: String, root: String, verify: Boolean): Pass = {
    val med = s"$root/medallion"
    val corpus = s"$root/corpus"
    val medJobs = check("medallion.jobs")(Op("medallion.jobs", ok = Some(jobsOk(
      ctx.timed("pipeline.RunPipeline")(RunPipeline.run(ctx.spark, input, med)).run))))
    val medS = ctx.last
    val nights = Seq(s"$input/night1", input).zipWithIndex.map { case (dir, i) =>
      val name = s"pipeline.RunIncrementalCuration.night${i + 1}"
      val r = try Right(ctx.timed(name)(RunIncrementalCuration.run(ctx.spark, dir, corpus,
        mediaDedup = true, suffixIndex = true)))
      catch { case e: Throwable => Left(failed(s"corpus.night${i + 1}", e)) }
      (r, (name, ctx.last))
    }
    val samples = ("pipeline.RunPipeline" -> medS) +: nights.map(_._2)
    val results = nights.map(_._1)
    val ops = if (!verify) Nil else results.collect { case Left(op) => op } ++
      (results.collect { case Right(r) => r } match {
        case Seq(r1, r2) => corpusOps(ctx.spark, input, corpus, r1, r2)
        case _ => Nil
      })
    Pass(samples, (medJobs +: ops) ++ (if (verify) medallionOps(ctx.spark, med) else Nil))
  }

  def medallionOps(spark: SparkSession, med: String): Seq[Op] =
    MedallionTables.map(t => check(s"medallion.$t")(
      Op(s"medallion.$t", digest = Some(digest(spark.read.parquet(s"$med/$t"))))))

  /** The corpus nights' invariants: each night's watermark is the largest
    * `doc_id` it read, each night commits one pair-graph version, and the
    * standing clusters equal a one-shot rebuild over the final corpus (the
    * q_incpairs contract). */
  def corpusOps(spark: SparkSession, input: String, corpus: String,
      r1: RunIncrementalCuration.IncRunResult,
      r2: RunIncrementalCuration.IncRunResult): Seq[Op] = {
    def maxId(dir: String): Long =
      spark.read.parquet(s"$dir/documents.parquet").agg(max("doc_id")).head.getLong(0)
    def pairs(df: DataFrame): DataFrame = df.toDF("doc_id", "cluster_id")
    Seq(
      check("corpus.night1.watermark")(Op("corpus.night1.watermark",
        ok = Some(r1.watermark.contains(maxId(s"$input/night1"))))),
      check("corpus.night2.watermark")(Op("corpus.night2.watermark",
        ok = Some(r2.watermark.contains(maxId(input))))),
      check("corpus.versions")(Op("corpus.versions",
        ok = Some(r2.artifactVersion == r1.artifactVersion + 1))),
      check("corpus.clusters") {
        val standing = pairs(ArtifactStore.read(spark, s"$corpus/artifacts", "clusters").get)
        val rebuilt = pairs(Dedup.dedupClusters(Dedup.jaccardPairsScalable(
          spark.read.parquet(s"$corpus/curated"), "doc_id",
          n = 3, minJaccard = 0.5, numHashTables = 8)))
        Op("corpus.clusters", ok = Some(digest(standing) == digest(rebuilt)))
      })
  }

  /** Not a benchmark workload: two medallion nights into one output root,
    * night 1 over `orders` cut at the seeded date, night 2 over the full
    * table, checked against the full-load references. It reproduces the
    * medallion's incremental-night defect (README.md). */
  def medallionCut(ctx: Ctx, input: String, root: String, verify: Boolean): Pass = {
    val med = s"$root/medallion"
    val nights = Seq(s"$input/night1", input).zipWithIndex.map { case (dir, i) =>
      val name = s"pipeline.RunPipeline.night${i + 1}"
      val op = check(s"medallion.night${i + 1}.jobs")(Op(s"medallion.night${i + 1}.jobs",
        ok = Some(jobsOk(ctx.timed(name)(RunPipeline.run(ctx.spark, dir, med)).run))))
      (op, (name, ctx.last))
    }
    Pass(nights.map(_._2),
      nights.map(_._1) ++ (if (verify) medallionOps(ctx.spark, med) else Nil))
  }

  /** Self-check of the digest: every table, and the first queries of the
    * set, must digest the same over `dirs` (the same content in other row
    * orders and file splits). */
  def digestCheck(ctx: Ctx, dirs: Seq[String]): Pass = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents")
    val same = (name: String, df: String => DataFrame) => check(name)(
      Op(name, ok = Some(dirs.map(d => digest(df(d))).distinct.size == 1)))
    val qs = SparkEntry.queries
    Pass(Nil,
      tables.map(t => same(s"table.$t", d => ctx.spark.read.parquet(s"$d/$t.parquet"))) ++
      QuerySet.take(3).map(q => same(s"query.$q", d => qs(q)(ctx.spark, d))))
  }

  /** Fixed pure-CPU query, timed: a loaded box shows as a slower probe. */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    val q = () => spark.range(0L, 20000000L, 1L, cores)
      .selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
    q()
    val t0 = System.nanoTime()
    q()
    (System.nanoTime() - t0) / 1e9
  }

  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Bytes under `f`, without Spark's shuffle files: those are scratch
    * that the context cleaner deletes at a time of its own choosing. */
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith("shuffle_")) 0L
    else f.length

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}
