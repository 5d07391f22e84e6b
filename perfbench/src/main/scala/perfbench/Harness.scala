package perfbench

import graft.engine.{JobConfig, TransferEngine, TransformSpec, YamlJob}
import graft.infer.CellInference
import graft.sources.Connectors
import graft.transform.Transform
import graft.validate.{SchemaFile, Validation}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, size}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark process. It starts a session and runs one trivial job
  * (a set-up sample); `--mode setup` stops there. Otherwise it runs the
  * workload's cold job 0 (a first-job sample); `--mode cold` stops there.
  * `--mode run` then runs the workload's jobs back to back (one
  * closed-loop client) for `--seconds`, and with `--trace 1` interleaves
  * traced jobs. Inputs are read from `--inputs` (default `--dir`).
  * Timings, spans and counters go to `<dir>/result.json`; the outputs stay
  * under `<dir>/out` for `perfbench/run.py` to check. */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dir = opt("dir")
    val inputs = opt.getOrElse("inputs", dir)
    val launchNs = opt("launch-ns").toLong
    val spark = session(dir)
    spark.range(1).count()
    val setupS = (epochNanos() - launchNs) / 1e9
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
    try {
      val mode = opt("mode")
      if (mode != "setup") {
        val w = workload(opt("workload"), spark, inputs, dir)
        out ++= (if (mode == "cold") run(spark, w, 0, trace = false, coldOnly = true)
                 else run(spark, w, opt("seconds").toDouble, opt("trace") == "1"))
      }
    } finally {
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new File(dir, "result.json"), out)
      spark.stop()
    }
  }

  def text(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8).trim

  def epochNanos(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  /** Jobs run unmeasured after the cold one until this much time has
    * passed: the JIT keeps speeding jobs up for a few seconds. */
  val WarmupSeconds = 3.0

  private def rssHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)

  /** The settings `graft.Main` uses for a CLI session, plus per-run
    * warehouse and scratch directories so runs never share state. */
  def session(dir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, in: String, dir: String): Workload =
    name match {
      case "csv_ingest" => new CsvIngest(spark, in, dir)
      case "jdbc_roundtrip" => new JdbcRoundtrip(spark, in, dir)
      case "curation" => new CurationJob(spark, in, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Job 0 runs cold (the first-job time); with `coldOnly` that is all.
    * Otherwise jobs then warm the JIT for
    * [[WarmupSeconds]] unmeasured; then warm jobs run back to back for
    * `seconds`: at least one, and none is started that would end past the
    * window at the mean pace so far. A traced run alternates an untraced
    * and a traced job, so the tracing overhead is measured in the same
    * process. The memory high-water mark is read after the first measured
    * job, so it covers the same amount of work however fast the run goes. */
  def run(spark: SparkSession, w: Workload, seconds: Double,
          trace: Boolean, coldOnly: Boolean = false): Map[String, Any] = {
    val jobs = ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer
    val counters = new SparkCounters(spark.sparkContext)
    def timed(i: Int, phase: String, traced: Boolean = false): Double = {
      val t0 = System.nanoTime()
      val info =
        if (!traced) w.job(i)
        else {
          spark.sparkContext.addSparkListener(counters)
          tracer.beginJob(i)
          try tracer.span("job")(w.traced(i, tracer, counters))
          finally spark.sparkContext.removeSparkListener(counters)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      jobs += Map("job" -> i, "wall_s" -> wall, "phase" -> phase,
        "traced" -> traced, "info" -> info)
      wall
    }
    timed(0, "cold")
    if (coldOnly) return Map("jobs" -> jobs.toSeq)
    val warm0 = System.nanoTime()
    var i = 1
    do { timed(i, "warmup"); i += 1 } while (System.nanoTime() - warm0 < WarmupSeconds * 1e9)
    val loop0 = System.nanoTime()
    var units = 0
    var rssKb = 0L
    def elapsed = (System.nanoTime() - loop0) / 1e9
    while (units == 0 || elapsed * (units + 1) / units <= seconds) {
      timed(i, "warm")
      i += 1
      if (units == 0) rssKb = rssHwmKb()
      if (trace) { timed(i, "warm", traced = true); i += 1 }
      units += 1
    }
    val spans = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "job" -> s.job))
    Map("jobs" -> jobs.toSeq, "spans" -> spans,
      "counters" -> tracer.counters.toMap, "rss_hwm_kb" -> rssKb)
  }

  /** Executes a frame into Spark's `noop` sink: the full plan runs, nothing
    * is written — the prefix timings subtract one from the next. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Counters over one traced call: the listener's task totals plus the
    * share of the cores' time spent running tasks. */
  def observed[T](t: Tracer, c: SparkCounters, prefix: String)(body: => T): T = {
    val cores = Runtime.getRuntime.availableProcessors()
    val before = c.snapshot()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val d = SparkCounters.delta(before, c.snapshot())
    d.foreach { case (k, v) => t.count(s"$prefix.$k", v) }
    t.count(s"$prefix.busy_frac", d("run_s") / (wall * cores))
    r
  }
}

/** A workload: one untraced job, and the same job with spans around each
  * call into the program's modules. Job `i` writes under `<dir>/out/job-i`. */
trait Workload {
  def job(i: Int): Map[String, Any]
  def traced(i: Int, t: Tracer, c: SparkCounters): Map[String, Any]
}

/** CSV → parquet through a schema file, quarantine target, inline
  * transform and filter: the reference's headline transfer. */
final class CsvIngest(spark: SparkSession, in: String, dir: String) extends Workload {
  import Harness.{noop, observed}
  private val src = s"$in/lineitem.csv"
  private val schema = s"$in/schema.yaml"
  private val transform = Harness.text(s"$in/transform.txt")
  private val filter = Harness.text(s"$in/filter.txt")

  private def config(i: Int) = JobConfig(
    source = src,
    target = s"$dir/out/job-$i/lineitem.parquet",
    transform = TransformSpec(inline = Some(transform), filter = Some(filter)),
    schemaFile = Some(schema),
    truncate = true,
    quarantine = Some(s"$dir/out/job-$i/rejects.parquet"))

  def job(i: Int): Map[String, Any] = {
    val stats = new TransferEngine(config(i)).execute(spark)
    Map("rows" -> stats.totalRows, "rejected_rows" -> stats.rejectedRows)
  }

  def traced(i: Int, t: Tracer, c: SparkCounters): Map[String, Any] = {
    // the string scan the typed read is built on (CellInference.readCsv's
    // reader options), then each stage prefix into the noop sink
    val raw = spark.read.option("header", "true").option("inferSchema", "false")
      .option("nullValue", "\u0000never\u0000").option("escape", "\"").csv(src)
    t.span("exec.raw")(noop(raw))
    t.span("infer.sample")(CellInference.inferColumns(raw))
    val typed = t.span("sources.read")(Connectors.read(spark, src))
    t.span("exec.typed")(noop(typed))
    val sf = SchemaFile.fromFile(schema)
    // the valid route of TransferEngine's quarantine mode
    val valid = t.span("validate.plan")(Validation(
      Validation.annotate(typed, sf).where(size(col("_violations")) === 0)
        .drop("_violations"), sf))
    t.span("exec.validated")(noop(valid))
    val out = t.span("transform.compile")(
      Transform.filter(Transform.inline(valid, transform), filter))
    t.span("exec.transformed")(noop(out))
    t.span("sources.write")(
      Connectors.write(out, s"$dir/out/trace-$i/lineitem.parquet", truncate = true))
    t.span("validate.quarantine") {
      val invalid = Validation.annotate(typed, sf)
        .where(size(col("_violations")) > 0)
        .withColumn("_violations", concat_ws("|", col("_violations")))
      Connectors.write(invalid, s"$dir/out/trace-$i/rejects.parquet", truncate = true)
    }
    val engine = new TransferEngine(config(i))
    t.span("engine.plan")(engine.plan(spark))
    val stats = t.span("engine.execute")(observed(t, c, "execute")(engine.execute(spark)))
    Map("rows" -> stats.totalRows, "rejected_rows" -> stats.rejectedRows)
  }
}

/** parquet → embedded Derby table (truncate) → parquet: the row-oriented
  * JDBC sink and source. Derby keeps its home and database in the run
  * directory. */
final class JdbcRoundtrip(spark: SparkSession, in: String, dir: String) extends Workload {
  import Harness.{noop, observed}
  System.setProperty("derby.system.home", s"$dir/derby")
  System.setProperty("derby.stream.error.file", s"$dir/derby.log")
  private val src = s"$in/lineitem.parquet"
  private val table = s"jdbc:derby:$dir/derby/benchdb;create=true#lineitem"

  private def toDerby = JobConfig(source = src, target = table, truncate = true)
  private def fromDerby(i: Int) =
    JobConfig(source = table, target = s"$dir/out/job-$i/roundtrip.parquet",
      truncate = true)

  def job(i: Int): Map[String, Any] = {
    val w = new TransferEngine(toDerby).execute(spark)
    val r = new TransferEngine(fromDerby(i)).execute(spark)
    Map("rows_written" -> w.totalRows, "rows" -> r.totalRows)
  }

  def traced(i: Int, t: Tracer, c: SparkCounters): Map[String, Any] = {
    t.span("exec.raw")(noop(spark.read.parquet(src)))
    t.span("exec.read")(noop(Connectors.read(spark, src)))
    val w = t.span("sources.jdbc_write")(observed(t, c, "jdbc_write")(
      new TransferEngine(toDerby).execute(spark)))
    val jdf = t.span("sources.jdbc_open")(Connectors.read(spark, table))
    t.count("jdbc_read_tasks", jdf.rdd.getNumPartitions)
    t.span("exec.jdbc_read")(noop(jdf))
    t.span("sources.write")(
      Connectors.write(jdf, s"$dir/out/trace-$i/roundtrip.parquet", truncate = true))
    val engine = new TransferEngine(fromDerby(i))
    t.span("engine.plan")(engine.plan(spark))
    val r = t.span("engine.execute")(observed(t, c, "execute")(engine.execute(spark)))
    Map("rows_written" -> w.totalRows, "rows" -> r.totalRows)
  }
}

/** The pretraining-curation job file run through `Main.runCuration`, the
  * entry point `graft run <job.yaml>` uses. */
final class CurationJob(spark: SparkSession, in: String, dir: String) extends Workload {
  import Harness.{noop, observed}
  private val yaml = Paths.get(in, "pretrain_curation.yaml").toString

  private def load(i: Int) = YamlJob.load(yaml, Map(
    "CRAWL_DIR" -> s"$in/crawl", "SEED_DIR" -> s"$in/seed",
    "BENCH_DIR" -> s"$in/bench", "OUT_DIR" -> s"$dir/out/job-$i"))

  def job(i: Int): Map[String, Any] = {
    val r = load(i)
    val code = graft.Main.runCuration(r.cfg, r.curation.get, None, false, "error")
    Map("exit_code" -> code)
  }

  def traced(i: Int, t: Tracer, c: SparkCounters): Map[String, Any] = {
    import graft.llm.{Curation, LangId, Shuffling}
    val r = load(i)
    val cur = r.curation.get
    val input = t.span("engine.plan")(new TransferEngine(r.cfg).plan(spark))
    t.span("exec.raw")(noop(spark.read.parquet(s"$in/crawl/documents.parquet")))
    t.span("exec.read")(noop(input))
    val langId = cur.langId.map(spec => t.span("llm.langid_train") {
      val seed = Connectors.read(spark, spec.seedUri, Map.empty)
      val (model, stats) = LangId.train(seed, spec.textColumn, spec.labelColumn,
        vocabSize = spec.vocabSize)
      noop(model)
      (model, stats, spec.allow)
    })
    def probes(uri: Option[String]) =
      uri.map(u => Connectors.read(spark, u, Map.empty))
    // the stages this job file enables, configured as runCuration does
    val pc = Curation.PipelineConfig(
      blocklist = cur.blocklist,
      maxDupWordFrac = cur.maxDupWordFrac,
      maxDupNgramFrac = cur.maxDupNgramFrac,
      maxTopNgramFrac = cur.maxTopNgramFrac,
      repetitionN = cur.repetitionN,
      persistSurvivors = cur.persistSurvivors,
      langId = langId,
      lineDedupMinDocs = cur.lineDedupMinDocs,
      substringDedupWindow = cur.substringDedupWindow,
      softDedup = cur.softDedup,
      decontaminateExciseProbes = probes(cur.decontaminateExcise.map(_.probesUri)),
      decontaminateExciseWindow = cur.decontaminateExcise.map(_.window).getOrElse(50),
      decontaminateExciseProbeTextCol =
        cur.decontaminateExcise.map(_.textColumn).getOrElse("text"),
      contaminationProbes = probes(cur.contamination.map(_.probesUri)),
      contaminationProbeTextCol = cur.contamination.map(_.textColumn).getOrElse("text"),
      contaminationN = cur.contamination.map(_.n).getOrElse(8),
      maxContamination = cur.contamination.map(_.max).getOrElse(0.2),
      tokenBudget = cur.tokenBudget,
      tokenBudgetShards = cur.tokenBudgetShards)
    val (curated, stageCounts) = t.span("llm.pipeline_plan")(
      Curation.pipelineObserved(input, cur.idColumn, cur.textColumn, pc))
    t.span("exec.pipeline")(noop(curated))
    val survivors = stageCounts()
    survivors.foreach { case (k, v) => t.count(s"survivors.$k", v.toDouble) }
    cur.shards.foreach(s => t.span("llm.shard_write")(Shuffling.writeShards(
      curated, cur.idColumn, s"$dir/out/trace-$i/corpus", s.seed, s.count)))
    val code = t.span("engine.execute")(observed(t, c, "execute")(
      graft.Main.runCuration(r.cfg, cur, None, false, "error")))
    Map("exit_code" -> code, "survivors" -> survivors)
  }
}
