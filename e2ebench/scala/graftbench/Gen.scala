package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded input generators. Everything is plain JVM code with no Spark
  * involvement, so the same seed yields byte-identical files (the gzip
  * header carries no timestamp) and the program under test sees only
  * the files. */
object Gen {

  /** Shape of a Firehose landing tree of event records. The defaults
    * in Workloads.scala follow the sf0.1 test data's `events` table;
    * WORKLOADS.md gives the source of each value. */
  final case class EventSpec(
      instances: Int,          // distinct combat instances (`props.k`)
      eventsPerInstance: Int,  // mean events per instance
      usersPerInstance: Int,   // user pool ÷ instances; a user's events span instances
      msgShare: Double,        // click/view (utterance analogue)
      cmdShare: Double,        // purchase (command analogue)
      corruptShare: Double,    // planted unreadable or id-less lines
      files: Int) {            // gzip files (each one task: gzip is unsplittable)
    def events: Int = instances * eventsPerInstance
    def props: Map[String, Any] = Map(
      "instances" -> instances, "events_per_instance" -> eventsPerInstance,
      "users_per_instance" -> usersPerInstance, "msg_share" -> msgShare,
      "cmd_share" -> cmdShare, "corrupt_share" -> corruptShare,
      "files" -> files, "events" -> events)
  }

  final case class LandingStats(goodEvents: Long, corruptLines: Long, bytes: Long)

  private val Epoch2024Us = 1704067200000000L // 2024-01-01T00:00:00Z
  /** Mean gap between events of one instance (sf0.1: 25.9 s between
    * any two of its 100 instances' events, exponentially spread). */
  private val InstanceGapUs = 2.59e9
  /** Mean event value (sf0.1: exponential, mean 49.9, median 34.8). */
  private val MeanValueCents = 5000.0

  /** Writes `root/yyyy/MM/dd/HH/events-NNNN.jsonl.gz`, events in time
    * order, consecutive event ids. Corrupt lines are a truncated record,
    * a non-JSON keepalive line, or a record without `event_id`; none of
    * them consumes an id. */
  def landing(spec: EventSpec, seed: Long, root: File): LandingStats = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val n = spec.events
    var ts = Epoch2024Us
    var id = 0L
    var corrupt = 0L
    var bytes = 0L
    for (f <- 0 until spec.files) {
      val lo = (n.toLong * f / spec.files).toInt
      val hi = (n.toLong * (f + 1) / spec.files).toInt
      val t = java.time.Instant.ofEpochSecond(ts / 1000000L).atZone(java.time.ZoneOffset.UTC)
      val dir = new File(root, f"${t.getYear}%04d/${t.getMonthValue}%02d/${t.getDayOfMonth}%02d/${t.getHour}%02d")
      dir.mkdirs()
      val file = new File(dir, f"events-$f%04d.jsonl.gz")
      val w = gzWriter(file)
      var i = lo
      while (i < hi) {
        ts += 1 + (exp(rng) * InstanceGapUs / spec.instances).toLong
        val inst = rng.nextInt(spec.instances)
        val user = rng.nextInt(spec.instances * spec.usersPerInstance).toLong
        val r = rng.nextDouble()
        val etype =
          if (r < spec.msgShare) (if (rng.nextBoolean()) "click" else "view")
          else if (r < spec.msgShare + spec.cmdShare) "purchase"
          else if (rng.nextBoolean()) "signup" else "error"
        val cents = math.round(exp(rng) * MeanValueCents)
        val sb = new java.lang.StringBuilder(160)
        sb.append("{\"event_id\": ").append(id).append(", \"ts\": \"").append(isoUs(ts))
          .append("\", \"user_id\": ").append(user).append(", \"event_type\": \"").append(etype)
          .append("\", \"value\": ").append(cents / 100).append('.')
          .append((cents % 100) / 10).append(cents % 10)
          .append(", \"props\": \"{\\\"k\\\": ").append(inst).append("}\"}")
        val rec = sb.toString
        if (rng.nextDouble() < spec.corruptShare) {
          corrupt += 1
          rng.nextInt(3) match {
            case 0 => w.write(rec.substring(0, 1 + rng.nextInt(rec.length - 2)))
            case 1 => w.write(s"#keepalive ${rng.nextLong() & 0xffffffL}")
            case _ => w.write(s"""{"ts": "${isoUs(ts)}", "event_type": "heartbeat"}""")
          }
          w.write('\n')
        }
        w.write(rec)
        w.write('\n')
        id += 1
        i += 1
      }
      w.close()
      bytes += file.length()
    }
    LandingStats(id, corrupt, bytes)
  }

  /** A unit-mean exponential draw. */
  private def exp(rng: SplittableRandom): Double = -math.log(1 - rng.nextDouble())

  private def isoUs(us: Long): String = {
    val t = java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(t.truncatedTo(java.time.temporal.ChronoUnit.MICROS))
  }

  private def gzWriter(f: File): Writer =
    new OutputStreamWriter(new GZIPOutputStream(
      new BufferedOutputStream(new FileOutputStream(f), 1 << 16), 1 << 16), UTF_8)

  /** Shape of a document corpus. Shares are of the non-benchmark docs. */
  final case class DocSpec(
      docs: Int,
      nearDupShare: Double,        // an earlier doc with the word "dup" appended
      exactDupShare: Double,       // verbatim copies of an earlier doc
      contaminatedShare: Double) { // verbatim copies of a benchmark doc
    def props: Map[String, Any] = Map(
      "docs" -> docs, "near_dup_share" -> nearDupShare,
      "exact_dup_share" -> exactDupShare, "contaminated_share" -> contaminatedShare)
  }

  /** A seeded text source shaped like the sf0.1 test data's documents:
    * 10 to 99 words drawn uniformly from its 30-word vocabulary. */
  final class Corpus(seed: Long) {
    private val rng = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
      "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
      "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    def text(): String = Array.fill(10 + rng.nextInt(90))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    def nextInt(n: Int): Int = rng.nextInt(n)
    def nextDouble(): Double = rng.nextDouble()
  }

  /** `docs` rows of (doc_id, text) with ids `idBase until idBase+n`.
    * `earlier` supplies texts a near/exact dup may copy (base corpus or
    * prior deltas); `bench` the benchmark texts contamination copies. */
  def docs(spec: DocSpec, c: Corpus, idBase: Long, earlier: IndexedSeq[String],
           bench: IndexedSeq[String]): IndexedSeq[(Long, String)] = {
    val pool = scala.collection.mutable.ArrayBuffer[String](earlier: _*)
    (0 until spec.docs).map { i =>
      val r = c.nextDouble()
      val s = spec
      val text =
        if (pool.nonEmpty && r < s.exactDupShare) pool(c.nextInt(pool.size))
        else if (pool.nonEmpty && r < s.exactDupShare + s.nearDupShare) pool(c.nextInt(pool.size)) + " dup"
        else if (bench.nonEmpty && r < s.exactDupShare + s.nearDupShare + s.contaminatedShare)
          bench(c.nextInt(bench.size))
        else c.text()
      pool += text
      (idBase + i, text)
    }
  }

  /** Benchmark (held-out eval) passages: ordinary generated text. */
  def benchTexts(c: Corpus, n: Int): IndexedSeq[String] = (0 until n).map(_ => c.text())

  /** Tab-separated (doc_id, text) lines; the text never holds tabs or
    * newlines. Read with Spark's CSV reader or DuckDB's read_csv. */
  def writeDocs(rows: Iterable[(Long, String)], f: File): Long = {
    f.getParentFile.mkdirs()
    val w = new OutputStreamWriter(new BufferedOutputStream(new FileOutputStream(f), 1 << 16), UTF_8)
    rows.foreach { case (id, t) => w.write(id.toString); w.write('\t'); w.write(t); w.write('\n') }
    w.close()
    f.length()
  }
}
