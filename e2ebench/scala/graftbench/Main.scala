package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The JVM half of the end-to-end benchmark: generates a workload's
  * inputs from the seed, then runs the workload's set-ups (session
  * start, base build, warm-up), each followed by timed executions of
  * the user-facing job through graft's public entry points. With
  * tracing on, the last session's executions (or a single session's
  * second execution) run under Spark listeners and construction/action
  * spans; the others stay untraced, so the run also yields the tracing
  * overhead. Writes `result.json` (and
  * `spans.json` when traced) into the work directory; output checks
  * that need DuckDB run afterwards in run.py.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cores> [gen-only]
  */
object Main {
  private val born = System.nanoTime()
  /** Progress line on stderr (the run's jvm.log), stamped with JVM age. */
  def log(msg: String): Unit = System.err.println(f"[e2ebench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS) = args.take(5)
    val cores = args(5).toInt
    val genOnly = args.length > 6 && args(6) == "gen-only"
    val seed = seedS.toLong
    val work = new File(workS).getAbsoluteFile
    val probeBefore = Probe.seconds()
    val w = Workload(name, new File(work, "input"))
    val g0 = System.nanoTime()
    w.generate(seed)
    val genS = (System.nanoTime() - g0) / 1e9
    if (genOnly) { println(Json.obj(Seq("generated" -> w.props))); return }

    val traced = traceS == "1"
    val budget = secondsS.toDouble
    System.setProperty("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
    System.setProperty("spark.local.dir", new File(work, "spark-local").toString)
    log("inputs generated")

    val tracer = new Tracer(traced)
    val setups = mutable.ArrayBuffer[Double]()
    val untracedJobs, tracedJobs, lastUntraced = mutable.ArrayBuffer[Double]()
    val batches = mutable.ArrayBuffer[Double]()
    val heapPeaks = mutable.ArrayBuffer[Double]()
    val layer = mutable.ArrayBuffer[Map[String, Double]]()
    val setupParts = mutable.ArrayBuffer[Map[String, Double]]()
    var attempted, failed = 0L
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    var spark: SparkSession = null
    val sessions = w.sessions
    for (s <- 0 until sessions) {
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores.toString, cores.toString, logLevel = "ERROR")
      val started = (System.nanoTime() - t0) / 1e9
      log(s"session $s started")
      val parts = w.setup(spark, s) + ("session_start_s" -> started)
      log(s"session $s set up")
      setups += parts.get("setup_s").map(started + _).getOrElse((System.nanoTime() - t0) / 1e9)
      setupParts += parts
      // with several sessions the first, cold one only sets up; the
      // others split the timed executions, whose count --seconds sets
      val timed = if (sessions > 1) sessions - 1 else 1
      val perSession =
        w.fixedExecutions.getOrElse(math.max(1, math.round(budget / timed / w.nominalSeconds).toInt))
      val count =
        if (traced && s == sessions - 1) math.max(perSession, w.tracedExecutions)
        else if (sessions == 1 || s > 0) perSession else 0
      for (i <- 0 until count) {
        // a traced run alternates untraced and traced executions in its
        // last session, so the overhead compares executions equally warm
        // (a session's first execution, slower than the rest, is left out)
        val traceThis = traced && s == sessions - 1 && i % 2 == 1
        if (traceThis) { tracer.register(spark); tracer.landingRoot = w.landingRoot; tracer.reset() }
        attempted += 1
        val heap = new HeapPeak
        val t = System.nanoTime()
        val ok = try {
          (if (traceThis) tracer else Tracer.Off).run(s"workload.$name") {
            w.execute(spark, if (traceThis) tracer else Tracer.Off, s, i)
          }
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[e2ebench] execution failed: $e"); e.printStackTrace()
            failed += 1; false
        }
        val dt = (System.nanoTime() - t) / 1e9
        log(s"execution $i took $dt s")
        if (ok) {
          if (traceThis) tracedJobs += dt
          else if (i >= w.warmupExecutions) untracedJobs += dt
          if (!traceThis && s == sessions - 1 && i > 0) lastUntraced += dt
          val bs = w.batchSeconds(spark)
          if (!traceThis) batches ++= (if (bs.nonEmpty) bs else Seq(dt))
          attempted += bs.size
          if (traceThis) {
            tracer.drain()
            layer += Layers.of(tracer, w, dt, cores, bs.size, i)
            tracer.finishSpans()
            tracer.unregister(spark)
          }
          heapPeaks += heap.stop() / 1048576.0
        } else heap.stop()
        w.release(spark)
      }
      if (s == sessions - 1) { checks ++= w.check(spark); log("checked") }
      else spark.stop()
    }
    val probeAfter = Probe.seconds()
    spark.stop()
    log("stopped")
    attempted += checks.size
    failed += checks.count(!_._2)

    val jobs = untracedJobs.toSeq
    val jobS = Stats.median(jobs)
    val e2e = Seq(
      "job_s" -> (jobS, "s"),
      "rows_per_s" -> (w.inputRows / jobS, "rows/s"),
      "batch_p50_s" -> (Stats.median(batches.toSeq), "s"),
      "setup_s" -> (Stats.median(setups.toSeq), "s"),
      "heap_live_peak_mb" -> (Stats.median(heapPeaks.toSeq), "MiB"))
    val perLayer: Seq[(String, (Double, String))] =
      if (!traced) Nil
      else {
        val tj = Stats.median(tracedJobs.toSeq)
        val fixed = Layers.SetupKeys.map(k => k -> Stats.median(setupParts.flatMap(_.get(k)).toSeq)).toMap ++
          Layers.selfTimes(tracer.spans.toSeq, tracedJobs.size)
        w.layerUnits.keys.toSeq.sorted.map { k =>
          val v = fixed.getOrElse(k, Stats.median(layer.flatMap(_.get(k)).toSeq))
          k -> (if (v.isNaN) 0.0 else v, w.layerUnits(k))
        } ++ Seq(
          "trace.job_s" -> (tj, "s"),
          "trace.untraced_job_s" -> (Stats.median(lastUntraced.toSeq), "s"),
          "trace.overhead_s" -> (tj - Stats.median(lastUntraced.toSeq), "s"))
      }
    if (traced) Files.writeString(new File(work, "spans.json").toPath, Tracer.toJson(tracer.spans.toSeq), UTF_8)
    val result = Seq(
      "workload" -> name, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "sessions" -> sessions, "attempted" -> attempted, "failed" -> failed,
      "input_rows" -> w.inputRows, "gen_s" -> genS,
      "probe_before_s" -> probeBefore, "probe_after_s" -> probeAfter,
      "job_samples_s" -> jobs, "heap_samples_mb" -> heapPeaks.toSeq, "traced_job_samples_s" -> tracedJobs.toSeq,
      "setup_samples_s" -> setups.toSeq, "setup_parts" -> setupParts.toSeq, "batch_samples_s" -> batches.toSeq,
      "inputs" -> w.props,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "oracle" -> w.oracleTasks,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    Files.writeString(new File(work, "result.json").toPath, Json.obj(result) + "\n", UTF_8)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** The largest heap in use right after a collection while it runs:
  * the heap pools' after-collection usage from every collector
  * notification (concurrent-cycle pauses, which leave the young
  * generation in place, excepted), and a last reading after forced
  * full collections when it stops. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (!info.getGcName.contains("Concurrent")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          HeapPeak.this.synchronized { peak = math.max(peak, used) }
        }
      }
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Bytes; the second forced collection also frees what the first one
    * queued for Spark's cleaner threads. */
  def stop(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    val last = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Thread.sleep(50) // notifications arrive on a service thread
    emitters.foreach(_.removeNotificationListener(listener))
    synchronized(math.max(peak, last))
  }
}

/** Fixed single-thread work (a 200M-step LCG); its wall time before and
  * after a run shows whether the host was contended while it ran. */
object Probe {
  def seconds(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }
}
