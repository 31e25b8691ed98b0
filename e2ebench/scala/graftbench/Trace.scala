package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval. Times are epoch milliseconds (fractional for
  * driver-side spans); `parent` 0 marks a root. */
final case class Span(id: Long, name: String, parent: Long, trace: Long,
                      start: Double, end: Double, attrs: Map[String, Double] = Map.empty)

/** Per-execution counters fed by Spark's public listener hooks. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs, taskDelayMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  val tasksPerStage = mutable.ArrayBuffer[Int]()
  var analysisMs, optimizationMs, planningMs = 0.0
  var queries, exchanges, wscg = 0L
  var scanFiles, scanBytes, scanRows = 0L
  val writtenRows = mutable.Map[String, Long]().withDefaultValue(0L)
  val writtenBytes = mutable.Map[String, Long]().withDefaultValue(0L)
  val pinnedRdds = mutable.Set[Int]()
  var storagePeak = 0L
}

/** Records spans around the benchmark's calls into graft's public
  * functions and attributes Spark jobs and stages to them through a
  * local property. Disabled tracers record nothing and register no
  * listener, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(1)
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var trace = 0L
  def currentTrace: Long = trace
  var c = new Counters
  /** Span ids of the current execution's construction calls. */
  val callSpans = mutable.Set[Long]()
  private val jobParent = mutable.Map[Int, Long]()
  private val jobBatch = mutable.Map[Int, (String, Long)]()
  private val jobTimes = mutable.Map[Int, (Long, Long)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTimes = mutable.Map[(Int, Int), (Long, Long, Int)]()
  private val blockSizes = mutable.Map[(Int, Int), Long]()
  private var storageNow = 0L
  private var sqlStarted, sqlEnded = 0L
  private var jobsStarted, jobsEnded = 0L
  /** Streaming progress records (queryId, batchId, startMs, durations). */
  val progress = mutable.ArrayBuffer[(String, Long, Double, Map[String, Long])]()
  var landingRoot: String = ""
  var sc: org.apache.spark.SparkContext = _

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def open(name: String): (Long, Double) = {
    val id = ids.getAndIncrement()
    val st = nowMs
    stack = id :: stack
    if (sc != null) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    (id, st)
  }

  private def close(id: Long, name: String, st: Double, attrs: Map[String, Double]): Unit = {
    stack = stack.tail
    val parent = stack.headOption.getOrElse(0L)
    if (sc != null) sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
    synchronized(spans += Span(id, name, parent, trace, st, nowMs, attrs))
  }

  /** A root span for one timed execution of a workload. */
  def run[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, st) = open(name)
      trace = id
      try body finally close(id, name, st, Map.empty)
    }

  /** A span around one call into a layer's public function. `construct`
    * marks calls that build a DataFrame (construction on the Spark
    * driver); the others are actions. */
  def call[T](name: String, construct: Boolean = true)(body: => T): T =
    if (!enabled) body
    else {
      val (id, st) = open(name)
      if (construct) callSpans += id
      try body finally close(id, name, st, Map("construct" -> (if (construct) 1.0 else 0.0)))
    }

  /** Waits until every job and SQL execution started so far has been
    * reported back through the listener bus, then briefly for the
    * execution listeners of sessions cloned after this one registered
    * (a stream's), which run after it on the same queue. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 5000000000L
    def settled = synchronized(jobsEnded >= jobsStarted && sqlEnded >= sqlStarted)
    while (!settled && System.nanoTime() < deadline) Thread.sleep(2)
    Thread.sleep(50)
  }

  /** Builds job, stage and micro-batch spans from the listener record. */
  def finishSpans(): Unit = synchronized {
    val batchSpan = mutable.Map[(String, Long), Long]()
    for ((q, b, st, d) <- progress) {
      val id = ids.getAndIncrement()
      val parent = spans.filter(s => s.parent == 0 && s.start <= st + 1 && s.end >= st)
        .lastOption.map(_.id).getOrElse(0L)
      batchSpan((q, b)) = id
      spans += Span(id, "streaming.batch", parent, rootOf(parent), st,
        st + d.getOrElse("triggerExecution", 0L), d.map { case (k, v) => k -> v.toDouble })
    }
    val jobSpan = mutable.Map[Int, Long]()
    for ((job, (s, e)) <- jobTimes.toSeq.sortBy(_._1)) {
      val parent = jobBatch.get(job).flatMap(batchSpan.get)
        .orElse(jobParent.get(job)).getOrElse(0L)
      val id = ids.getAndIncrement()
      jobSpan(job) = id
      spans += Span(id, "spark.job", parent, rootOf(parent), s.toDouble, e.toDouble,
        Map("job_id" -> job.toDouble))
    }
    for (((stage, attempt), (s, e, n)) <- stageTimes.toSeq.sortBy(_._1)) {
      val parent = stageJob.get(stage).flatMap(jobSpan.get).getOrElse(0L)
      spans += Span(ids.getAndIncrement(), "spark.stage", parent, rootOf(parent),
        s.toDouble, e.toDouble, Map("stage_id" -> stage.toDouble, "attempt" -> attempt.toDouble,
          "tasks" -> n.toDouble))
    }
    progress.clear(); jobTimes.clear(); stageTimes.clear()
  }

  private def rootOf(id: Long): Long = {
    var cur = spans.find(_.id == id)
    while (cur.exists(_.parent != 0)) cur = spans.find(_.id == cur.get.parent)
    cur.map(_.id).getOrElse(0L)
  }

  /** Jobs of the current execution started by a streaming micro-batch. */
  def batchJobs: Long = synchronized(jobBatch.size.toLong)

  /** Jobs whose span parent is a construction call of the current execution. */
  def constructJobs: Long = jobsUnder(callSpans)

  /** Jobs of the current execution started on the driver thread inside
    * a span matching `span` (micro-batch jobs excluded). */
  def jobsUnder(span: Long => Boolean): Long = synchronized(
    jobParent.count { case (j, p) => span(p) && !jobBatch.contains(j) }.toLong)

  /** Starts a traced execution; the previous one released its pins. */
  def reset(): Unit = synchronized {
    c = new Counters
    callSpans.clear(); jobParent.clear(); jobBatch.clear(); blockSizes.clear()
    storageNow = 0L
  }

  def register(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Removes the listeners; call after [[drain]]. */
  def unregister(spark: SparkSession): Unit = if (enabled) {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    sc = null
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobsStarted += 1
      c.jobs += 1
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).foreach(v => jobParent(e.jobId) = v.toLong)
      for (pp <- p; b <- Option(pp.getProperty("streaming.sql.batchId"));
           q <- Option(pp.getProperty("sql.streaming.queryId")))
        jobBatch(e.jobId) = (q, b.toLong)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobTimes(e.jobId) = (e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobsEnded += 1
      jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      c.stages += 1
      c.tasksPerStage += i.numTasks
      for (s <- i.submissionTime; f <- i.completionTime)
        stageTimes((i.stageId, i.attemptNumber())) = (s, f, i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      c.tasks += 1
      val ti = e.taskInfo
      if (ti != null && !ti.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (ti != null && ti.finishTime > 0)
          c.taskDelayMs += math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      e.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, split) =>
          val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
          storageNow += size - blockSizes.getOrElse((rdd, split), 0L)
          if (size > 0) { blockSizes((rdd, split)) = size; c.pinnedRdds += rdd }
          else blockSizes.remove((rdd, split))
          c.storagePeak = math.max(c.storagePeak, storageNow)
        case _ =>
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => Tracer.this.synchronized(sqlStarted += 1)
      case _: SparkListenerSQLExecutionEnd => Tracer.this.synchronized(sqlEnded += 1)
      case _ =>
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def of(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case x => x }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val nodes = Plans.of(qe.executedPlan)
      Tracer.this.synchronized {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        c.queries += 1
        nodes.foreach {
          case _: ShuffleExchangeLike => c.exchanges += 1
          case _: WholeStageCodegenExec => c.wscg += 1
          case s: FileSourceScanExec if landingRoot.nonEmpty &&
              s.relation.location.rootPaths.exists(_.toString.contains(landingRoot)) =>
            def mv(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
            c.scanFiles += mv("numFiles"); c.scanBytes += mv("filesSize")
            c.scanRows += mv("numOutputRows")
          case w: DataWritingCommandExec =>
            val path = w.cmd match {
              case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
              case other => other.nodeName
            }
            c.writtenRows(path) += w.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            c.writtenBytes(path) += w.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
          case _ =>
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        val m = d.keySet().toArray.map(k => k.toString -> d.get(k).longValue()).toMap
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        Tracer.this.synchronized(progress += ((p.id.toString, p.batchId, st, m)))
      }
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val Off = new Tracer(false)

  /** Per-layer self time: a span's duration minus the part of it its
    * children cover, summed by layer (the whole name for `spark.*`
    * spans, the part before the first dot otherwise). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(layerOf).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
        for ((a, b) <- iv) {
          if (curS.isNaN || a > curE) {
            if (!curS.isNaN) covered += curE - curS
            curS = a; curE = b
          } else curE = math.max(curE, b)
        }
        if (!curS.isNaN) covered += curE - curS
        (s.end - s.start - covered) / 1000.0
      }.sum
    }
  }

  def layerOf(s: Span): String =
    if (s.name.startsWith("spark.")) s.name else s.name.takeWhile(_ != '.')

  def toJson(spans: Seq[Span]): String =
    spans.map { s =>
      val a = s.attrs.map { case (k, v) => s"\"$k\": ${Json.num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "trace": ${s.trace}, "start_ms": ${Json.num(s.start)}, "end_ms": ${Json.num(s.end)}, "attrs": {$a}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
    .mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
