package graftbench

import java.io.File
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.functions.EventFunctions.{isCmd, isMsg}
import graft.operators.{FinetunePrep, NearestEvent, TrainTestSplit}
import graft.queries.PipelineOps
import graft.sources.EventLogSource
import graft.streaming.StreamCapstone

/** One user-facing job with its seeded inputs. */
trait Workload {
  /** Rows the job consumes per execution (for rows/s). */
  def inputRows: Long
  /** Input properties, recorded with every run. */
  def props: Map[String, Any]
  def generate(seed: Long): Unit
  /** Work done once per session before timing; returns timed parts. */
  def setup(spark: SparkSession, session: Int): Map[String, Double]
  def execute(spark: SparkSession, tr: Tracer, session: Int, i: Int): Unit
  /** Spark sessions per run, each with its own set-up. */
  def sessions: Int = 3
  /** A fixed number of timed executions, whatever --seconds says. */
  def fixedExecutions: Option[Int] = None
  /** A session's leading executions that `job_s` leaves out: they also
    * warm what the set-up does not run. */
  def warmupExecutions: Int = 0
  /** Typical warm execution time; the run's --seconds over this gives
    * the number of timed executions, fixed for every run. */
  def nominalSeconds: Double = 2.0
  /** Executions of a traced run's last session, alternating untraced
    * and traced. */
  def tracedExecutions: Int = 4
  /** Micro-batch durations of the last execution, if it streamed. */
  def batchSeconds(spark: SparkSession): Seq[Double] = Nil
  /** JVM-side output checks, run in the last session. */
  def check(spark: SparkSession): Seq[(String, Boolean, String)] = Nil
  /** Output checks for run.py's DuckDB oracle. */
  def oracleTasks: Seq[Map[String, Any]] = Nil
  /** Path fragment of the job's primary output (for the yield). */
  def outputTag: String
  def landingRoot: String = ""
  /** Per-workload per-layer extras, read after traced execution `execution`. */
  def layerExtras(execution: Int): Map[String, Double] = Map.empty

  /** Per-layer metrics the traced run prints, with their units. */
  def layerUnits: Map[String, String] = Layers.units

  /** Drops the execution's pinned blocks, as a caller finishing a job does. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Workload {
  def apply(name: String, in: File): Workload = name match {
    case "distill-landing" => new DistillLanding(in)
    case "pretrain-capstone" => new PretrainCapstone(in)
    case "stream-ingest" => new StreamIngest(in)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Document shares measured on the sf0.1 test data (4 980
    * non-benchmark docs): 242 near-dup copies, 8 exact copies, 2 copies
    * of a benchmark doc. */
  val Sf01Docs = Gen.DocSpec(docs = 0, nearDupShare = 0.049, exactDupShare = 0.0016,
    contaminatedShare = 0.0004)

  val DocSchema = "doc_id BIGINT, text STRING"

  def readDocs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DocSchema).option("sep", "\t").option("quote", "").csv(path)

  /** Writes docs as `parts` tab-separated files under `dir`. */
  def writeDocParts(rows: IndexedSeq[(Long, String)], dir: File, parts: Int): Long =
    (0 until parts).map { p =>
      val lo = rows.size.toLong * p / parts; val hi = rows.size.toLong * (p + 1) / parts
      Gen.writeDocs(rows.slice(lo.toInt, hi.toInt), new File(dir, f"part-$p%04d.tsv"))
    }.sum
}

/** Firehose landing → normalized events → nearest association →
  * finetune pairs → split → gzipped JSONL, the composition of q50. */
final class DistillLanding(in: File) extends Workload {
  val spec = Gen.EventSpec(instances = 200, eventsPerInstance = 1000,
    usersPerInstance = 15, msgShare = 0.4, cmdShare = 0.2, corruptShare = 0.002, files = 8)
  private val landing = new File(in, "landing")
  private val warmLanding = new File(in, "warmup-landing")
  private val out = new File(in.getParentFile, "out")
  private var stats: Gen.LandingStats = _

  def inputRows: Long = stats.goodEvents
  def props: Map[String, Any] = spec.props ++ Map(
    "good_events" -> stats.goodEvents, "corrupt_lines" -> stats.corruptLines,
    "landing_bytes" -> stats.bytes)
  def generate(seed: Long): Unit = {
    stats = Gen.landing(spec, seed, landing)
    Gen.landing(spec.copy(instances = math.max(1, spec.instances / 10)), seed + 1, warmLanding)
  }
  override def landingRoot: String = landing.getPath
  def outputTag: String = "/out/pairs-"

  /** Warm-up: the same job over a landing tree a tenth the size. */
  def setup(spark: SparkSession, session: Int): Map[String, Double] = {
    job(spark, Tracer.Off, warmLanding, new File(out, "warmup").getPath)
    release(spark)
    Map.empty
  }

  def execute(spark: SparkSession, tr: Tracer, session: Int, i: Int): Unit =
    job(spark, tr, landing, new File(out, s"pairs-s$session").getPath)

  private def job(spark: SparkSession, tr: Tracer, src: File, dest: String): Unit = {
    val ev = tr.call("sources.readNormalized")(
      EventLogSource.readNormalized(spark, src.getPath))
    val keyed = tr.call("plans.FirstInt")(
      ev.withColumn("instance_id", graft.plans.FirstInt(col("props"))).drop("props"))
    val assoc = tr.call("operators.NearestEvent.assoc")(
      NearestEvent.assoc(keyed, "instance_id", "ts_us", "event_id",
        sourcePred = isMsg, targetPred = isCmd).filter(col("value") >= 5))
    val utt = concat(lit("u"), col("user_id").cast("string"), lit("#"), col("event_id").cast("string"))
    val pairs = tr.call("operators.FinetunePrep.pairs")(
      FinetunePrep.pairs(assoc, utt, col("ts_us"), col("event_id"), coKeys = Seq(col("instance_id"))))
    val split = tr.call("operators.TrainTestSplit")(
      TrainTestSplit(pairs, idCol = "cmd_id")
        .select(col("cmd_id"), col("prompt"), col("completion"), col("split"))
        .orderBy(col("cmd_id")))
    tr.call("sources.writeJsonlGz", construct = false)(EventLogSource.writeJsonlGz(split, dest))
  }

  override def oracleTasks: Seq[Map[String, Any]] = Seq(Map(
    "kind" -> "q50", "landing" -> landing.getPath,
    "outputs" -> (1 until sessions).map(s => new File(out, s"pairs-s$s").getPath),
    "sql" -> SparkEntry.oracleSql("q50_finetune_pairs")))
}

/** Generated corpus → the q96 pretrain capstone → packed bins. */
final class PretrainCapstone(in: File) extends Workload {
  val spec = Workload.Sf01Docs.copy(docs = 3000)
  val files = 8
  private val docsDir = new File(in, "docs")
  private val warmDir = new File(in, "warmup-docs")
  private val out = new File(in.getParentFile, "out")
  private var bytes = 0L

  def inputRows: Long = spec.docs + PipelineOps.BenchDocs
  def props: Map[String, Any] = spec.props ++ Map(
    "bench_docs" -> PipelineOps.BenchDocs, "files" -> files, "input_bytes" -> bytes)
  def outputTag: String = "/out/bins-"
  override def nominalSeconds: Double = 5.0
  override def layerUnits: Map[String, String] = Layers.units ++ Layers.capstoneUnits

  def generate(seed: Long): Unit = {
    val c = new Gen.Corpus(seed)
    val bench = Gen.benchTexts(c, PipelineOps.BenchDocs.toInt)
    val rows = bench.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      Gen.docs(spec, c, PipelineOps.BenchDocs, IndexedSeq.empty, bench)
    bytes = Workload.writeDocParts(rows, docsDir, files)
    Workload.writeDocParts(rows.take(rows.size / 10), warmDir, files)
  }

  /** Warm-up: the same job over the first tenth of the corpus. */
  def setup(spark: SparkSession, session: Int): Map[String, Double] = {
    job(spark, Tracer.Off, warmDir, new File(out, "warmup").getPath)
    release(spark)
    Map.empty
  }

  def execute(spark: SparkSession, tr: Tracer, session: Int, i: Int): Unit =
    job(spark, tr, docsDir, new File(out, s"bins-s$session").getPath)

  private def job(spark: SparkSession, tr: Tracer, src: File, dest: String): Unit = {
    val raw = tr.call("driver.read")(Workload.readDocs(spark, src.getPath))
    val bins = tr.call("queries.PipelineOps.capstone")(PipelineOps.capstone(raw))
    tr.call("driver.write", construct = false)(bins.write.mode("overwrite").parquet(dest))
  }

  override def oracleTasks: Seq[Map[String, Any]] = Seq(Map(
    "kind" -> "q96", "docs" -> Seq(docsDir.getPath),
    "outputs" -> (1 until sessions).map(s => new File(out, s"bins-s$s").getPath),
    "sql" -> SparkEntry.oracleSql("q96_pretrain_capstone")))
}

/** Persisted base indexes, then the streaming incremental capstone
  * draining a pre-landed backlog of equal delta files, one file per
  * micro-batch (closed loop: a batch starts when the previous commits).
  * One session per run: its set-up builds and persists the base
  * indexes three times (the first build also warms the JVM), and each
  * drain runs against its own untouched copy. */
final class StreamIngest(in: File) extends Workload {
  val baseSpec = Workload.Sf01Docs.copy(docs = 600)
  // an assumed 2 % of each delta leaks benchmark docs, so every batch
  // quarantines some (at the sf0.1 rate a 150-doc delta would hold none)
  val deltaSpec = baseSpec.copy(docs = 150, contaminatedShare = 0.02)
  val deltas = 3
  val benchDocs = 20
  val builds = 3
  private val dir = new File(in, "stream")
  private val work = in.getParentFile
  private var last: StreamingQuery = _
  private var drains = 0

  def inputRows: Long = deltaSpec.docs.toLong * deltas
  def props: Map[String, Any] = Map("base" -> baseSpec.props, "delta" -> deltaSpec.props,
    "deltas" -> deltas, "bench_docs" -> benchDocs,
    "base_to_delta" -> baseSpec.docs.toDouble / deltaSpec.docs)
  def outputTag: String = "/out/survivors-"
  override def sessions: Int = 1
  override def tracedExecutions: Int = builds
  override def fixedExecutions: Option[Int] = Some(builds)
  // set-up runs no stream, so the first drain also warms the streaming
  // path (file source, checkpoint, index appends) and takes 40-50 %
  // longer than the next
  override def warmupExecutions: Int = 1

  def generate(seed: Long): Unit = {
    val c = new Gen.Corpus(seed)
    val bench = Gen.benchTexts(c, benchDocs)
    Workload.writeDocParts(bench.zipWithIndex.map { case (t, i) => (-1L - i, t) },
      new File(dir, "bench"), 1)
    val base = Gen.docs(baseSpec, c, 0L, IndexedSeq.empty, bench)
    Workload.writeDocParts(base, new File(dir, "base"), 8)
    var seen = base.map(_._2)
    var next = base.size.toLong
    for (k <- 0 until deltas) {
      val d = Gen.docs(deltaSpec, c, next, seen, bench)
      val f = deltaFile(k)
      Gen.writeDocs(d, f)
      // the file source drains oldest-first: ids must arrive in order
      f.setLastModified(1704067200000L + k * 1000L)
      seen = seen ++ d.map(_._2)
      next += d.size
    }
  }

  private def prefix(b: Int) = s"e2e_base$b"
  private def path(kind: String, i: Int) = new File(work, s"out/$kind-$i").getPath
  private def bench(spark: SparkSession) = Workload.readDocs(spark, new File(dir, "bench").getPath)
  private def buckets(spark: SparkSession) = spark.conf.get("spark.sql.shuffle.partitions").toInt

  def setup(spark: SparkSession, session: Int): Map[String, Double] = {
    val base = Workload.readDocs(spark, new File(dir, "base").getPath)
    val times = (0 until builds).map { b =>
      val t0 = System.nanoTime()
      val idx = PipelineOps.baseIndexes(base, bench(spark))
      val t1 = System.nanoTime()
      PipelineOps.persistBaseIndexes(idx, path("index", b), prefix(b), buckets(spark))
      val t2 = System.nanoTime()
      release(spark)
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    Main.log("base indexes built")
    reference(spark)
    Map("setup_s" -> Stats.median(times.map(t => t._1 + t._2)),
      "queries.PipelineOps.baseIndexes_s" -> Stats.median(times.map(_._1)),
      "queries.PipelineOps.persistBaseIndexes_s" -> Stats.median(times.map(_._2)))
  }

  private var ref, unionRef: Map[String, Int] = Map.empty
  private def deltaFile(k: Int) = new File(dir, f"deltas/delta-$k%04d.tsv")

  /** The expected survivors: what each micro-batch must emit, the
    * batch capstone front (`PipelineOps.frontSurvivors`, which the
    * incremental path is specified to equal) over the base and the
    * deltas up to the batch's, restricted to the batch's delta ids.
    * Also the survivors among all the deltas' ids of the last of
    * these runs, the union of the deltas, which the stream is compared
    * with but not checked against (see WORKLOADS.md). The runs are
    * independent and run concurrently, after the timed set-up and
    * before the drains, which they also warm. */
  private def reference(spark: SparkSession): Unit = {
    val b = bench(spark)
    val base = Workload.readDocs(spark, new File(dir, "base").getPath)
    val files = (0 until deltas).map(k => Workload.readDocs(spark, deltaFile(k).getPath))
    val ids = files.map(_.select(col("doc_id")).collect().map(_.getLong(0)).toSet)
    val pool = Executors.newFixedThreadPool(deltas)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val runs = try Await.result(Future.sequence(files.indices.map { k =>
      Future(PipelineOps.frontSurvivors(files.take(k + 1).foldLeft(base)(_ unionByName _), b)
        .select(col("doc_id"), col("clean_text")).collect().toSeq)
    }), Duration.Inf) finally pool.shutdown()
    ref = multiset(files.indices.flatMap(k => runs(k).filter(r => ids(k)(r.getLong(0)))))
    unionRef = multiset(runs.last.filter(r => ids.exists(_(r.getLong(0)))))
    release(spark)
  }

  /** Drain `i` runs on its own base-index copy `builds - 1 - i`. */
  def execute(spark: SparkSession, tr: Tracer, session: Int, i: Int): Unit = {
    val docs = spark.readStream.schema(Workload.DocSchema).option("sep", "\t")
      .option("quote", "").option("maxFilesPerTrigger", "1").csv(new File(dir, "deltas").getPath)
    last = tr.call("streaming.StreamCapstone.incrementalCapstoneStreamPersisted")(
      StreamCapstone.incrementalCapstoneStreamPersisted(docs, prefix(builds - 1 - i), bench(spark),
        path("survivors", i), path("quarantine", i), path("checkpoint", i), buckets(spark)))
    drains = i + 1
    tr.call("streaming.drain", construct = false)(last.processAllAvailable())
  }

  override def batchSeconds(spark: SparkSession): Seq[Double] = {
    last.stop()
    last.recentProgress.filter(_.numInputRows > 0).toSeq
      .map(_.durationMs.get("triggerExecution").longValue() / 1000.0)
  }

  override def layerExtras(i: Int): Map[String, Double] = {
    def files(f: File): Seq[File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(x => if (x.isDirectory) files(x) else Seq(x))
    Map("streaming.index_files" ->
      files(new File(path("index", builds - 1 - i))).count(_.getName.endsWith(".parquet")).toDouble)
  }

  /** Survivors of every drain against [[reference]], compared as
    * multisets so a replayed batch shows; the detail also gives the
    * difference from the union run. */
  override def check(spark: SparkSession): Seq[(String, Boolean, String)] =
    (0 until drains).map { i =>
      val got = multiset(spark.read.parquet(path("survivors", i)).select(col("doc_id"), col("clean_text")).collect().toSeq)
      (s"stream-survivors-$i", got == ref && ref.nonEmpty,
        s"${diff(got, ref)}; against the union of the deltas: ${diff(got, unionRef)}")
    }

  /** Quarantine of every drain against the q71 oracle SQL over the
    * benchmark docs (ids below 0, so below `BenchDocs`) and the deltas. */
  override def oracleTasks: Seq[Map[String, Any]] = Seq(Map(
    "kind" -> "q71", "docs" -> Seq(new File(dir, "bench").getPath, new File(dir, "deltas").getPath),
    "outputs" -> (0 until drains).map(path("quarantine", _)),
    "sql" -> SparkEntry.oracleSql("q71_decontaminate")))

  private def multiset(rows: Seq[Row]): Map[String, Int] =
    rows.map(_.mkString("\u0001")).groupBy(identity).map { case (k, v) => k -> v.size }

  private def diff(got: Map[String, Int], want: Map[String, Int]): String = {
    val extra = got.map { case (k, n) => math.max(0, n - want.getOrElse(k, 0)) }.sum
    val missing = want.map { case (k, n) => math.max(0, n - got.getOrElse(k, 0)) }.sum
    s"rows=${got.values.sum} expected=${want.values.sum} extra=$extra missing=$missing"
  }
}

/** Per-layer metrics of one traced execution. */
object Layers {
  val SetupKeys = Seq("queries.PipelineOps.baseIndexes_s", "queries.PipelineOps.persistBaseIndexes_s")

  val units: Map[String, String] = Map(
    "driver.construct_s" -> "s", "driver.construct_jobs" -> "count", "driver.action_s" -> "s",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.queries" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.tasks_per_stage_p50" -> "count", "scheduler.idle_core_share" -> "ratio",
    "scheduler.task_delay_s" -> "s", "scheduler.failed_tasks" -> "count",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.cpu_share" -> "ratio",
    "shuffle.write_mb" -> "MiB", "shuffle.read_mb" -> "MiB", "shuffle.fetch_wait_s" -> "s",
    "shuffle.spill_mb" -> "MiB",
    "plans.exchanges" -> "count", "plans.wscg_stages" -> "count",
    "sources.readNormalized_call_s" -> "s", "sources.files_read" -> "count",
    "sources.input_mb" -> "MiB", "sources.records_read" -> "count",
    "sources.writeJsonlGz_s" -> "s", "sources.output_mb" -> "MiB",
    "operators.NearestEvent.assoc_call_s" -> "s", "operators.FinetunePrep.pairs_call_s" -> "s",
    "operators.TrainTestSplit_call_s" -> "s", "operators.Pin.pins" -> "count",
    "operators.Pin.storage_peak_mb" -> "MiB",
    "queries.PipelineOps.baseIndexes_s" -> "s", "queries.PipelineOps.persistBaseIndexes_s" -> "s",
    "queries.yield" -> "ratio",
    "streaming.batches" -> "count", "streaming.addBatch_p50_ms" -> "ms",
    "streaming.queryPlanning_p50_ms" -> "ms", "streaming.walCommit_p50_ms" -> "ms",
    "streaming.latestOffset_p50_ms" -> "ms", "streaming.jobs_per_batch" -> "count",
    "streaming.index_files" -> "count", "streaming.quarantined" -> "count",
    "self.workload_s" -> "s", "self.driver_s" -> "s", "self.sources_s" -> "s",
    "self.plans_s" -> "s", "self.operators_s" -> "s", "self.queries_s" -> "s",
    "self.streaming_s" -> "s", "self.spark.job_s" -> "s", "self.spark.stage_s" -> "s")

  /** Only pretrain-capstone calls `PipelineOps.capstone`. */
  val capstoneUnits: Map[String, String] = Map(
    "queries.PipelineOps.capstone_call_s" -> "s", "queries.PipelineOps.capstone_call_jobs" -> "count")

  def of(tr: Tracer, w: Workload, jobS: Double, cores: Int, batches: Int, execution: Int): Map[String, Double] = {
    val c = tr.c
    val mine = tr.spans.filter(_.trace == tr.currentTrace).toSeq
    def spanSum(pred: Span => Boolean) = mine.filter(pred).map(s => (s.end - s.start) / 1000).sum
    def spanS(name: String) = spanSum(_.name == name)
    val mb = 1048576.0
    val run = c.runMs / 1000.0
    val prog = tr.progress.toSeq
    def progP50(k: String) = Stats.median(prog.map(_._4.getOrElse(k, 0L).toDouble))
    val capIds = mine.filter(_.name == "queries.PipelineOps.capstone").map(_.id).toSet
    val written = c.writtenRows.collect { case (p, n) if p.contains(w.outputTag) => n }.sum
    val quarantined = c.writtenRows.collect { case (p, n) if p.contains("/out/quarantine-") => n }.sum
    Map(
      "driver.construct_s" -> spanSum(_.attrs.get("construct").contains(1.0)),
      "driver.construct_jobs" -> tr.constructJobs.toDouble,
      "driver.action_s" -> spanSum(_.attrs.get("construct").contains(0.0)),
      "catalyst.analysis_ms" -> c.analysisMs, "catalyst.optimization_ms" -> c.optimizationMs,
      "catalyst.planning_ms" -> c.planningMs, "catalyst.queries" -> c.queries.toDouble,
      "scheduler.jobs" -> c.jobs.toDouble, "scheduler.stages" -> c.stages.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble,
      "scheduler.tasks_per_stage_p50" -> Stats.median(c.tasksPerStage.map(_.toDouble).toSeq),
      "scheduler.idle_core_share" -> (1 - run / (jobS * cores)),
      "scheduler.task_delay_s" -> c.taskDelayMs / 1000.0,
      "scheduler.failed_tasks" -> c.failedTasks.toDouble,
      "executor.run_s" -> run, "executor.cpu_s" -> c.cpuNs / 1e9, "executor.gc_s" -> c.gcMs / 1000.0,
      "executor.cpu_share" -> (if (run > 0) c.cpuNs / 1e9 / run else 0.0),
      "shuffle.write_mb" -> c.shuffleWrite / mb, "shuffle.read_mb" -> c.shuffleRead / mb,
      "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1000.0, "shuffle.spill_mb" -> c.spill / mb,
      "plans.exchanges" -> c.exchanges.toDouble, "plans.wscg_stages" -> c.wscg.toDouble,
      "sources.readNormalized_call_s" -> spanS("sources.readNormalized"),
      "sources.files_read" -> c.scanFiles.toDouble, "sources.input_mb" -> c.scanBytes / mb,
      "sources.records_read" -> c.scanRows.toDouble,
      "sources.writeJsonlGz_s" -> spanS("sources.writeJsonlGz"),
      "sources.output_mb" -> (if (w.landingRoot.isEmpty) 0.0
        else c.writtenBytes.collect { case (p, n) if p.contains(w.outputTag) => n }.sum / mb),
      "operators.NearestEvent.assoc_call_s" -> spanS("operators.NearestEvent.assoc"),
      "operators.FinetunePrep.pairs_call_s" -> spanS("operators.FinetunePrep.pairs"),
      "operators.TrainTestSplit_call_s" -> spanS("operators.TrainTestSplit"),
      "operators.Pin.pins" -> c.pinnedRdds.size.toDouble,
      "operators.Pin.storage_peak_mb" -> c.storagePeak / mb,
      "queries.PipelineOps.capstone_call_s" -> spanS("queries.PipelineOps.capstone"),
      "queries.PipelineOps.capstone_call_jobs" -> tr.jobsUnder(capIds).toDouble,
      "queries.yield" -> written.toDouble / w.inputRows,
      "streaming.batches" -> batches.toDouble,
      "streaming.addBatch_p50_ms" -> progP50("addBatch"),
      "streaming.queryPlanning_p50_ms" -> progP50("queryPlanning"),
      "streaming.walCommit_p50_ms" -> progP50("walCommit"),
      "streaming.latestOffset_p50_ms" -> progP50("latestOffset"),
      "streaming.jobs_per_batch" -> (if (batches > 0) tr.batchJobs.toDouble / batches else 0.0),
      "streaming.quarantined" -> quarantined.toDouble
    ) ++ w.layerExtras(execution)
  }

  /** Self time per layer over the spans of the traced executions,
    * divided by the number of executions. */
  def selfTimes(spans: Seq[Span], executions: Int): Map[String, Double] = {
    val st = Tracer.selfTimes(spans)
    units.keys.filter(_.startsWith("self.")).map { k =>
      val layer = k.stripPrefix("self.").stripSuffix("_s")
      k -> st.getOrElse(layer, 0.0) / math.max(1, executions)
    }.toMap
  }
}
