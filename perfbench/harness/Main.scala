package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** Benchmark harness: runs one workload against the program in this JVM and
  * writes its raw records (every op's timing and check result, counters,
  * and in a traced run the spans and listener figures) to `<out>/raw.json`.
  * `perfbench/run.py` launches it and turns those records into metrics.
  *
  * Usage: `perfbench.Main --workload W --input DIR --out DIR --seconds S --trace 0|1`
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, a("input"), a("out"), a("seconds").toDouble,
      new Trace(spark, a("trace") == "1"), cores)
    val status =
      try {
        a("workload") match {
          case "dashboard_mix" => Dashboard.run(ctx)
          case "corpus_curation" => Corpus.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.rec.counters("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
          1
      }
    ctx.writeRaw()
    // everything the run wrote lives under its work directory, which the
    // caller deletes: skip the orderly shutdown
    Runtime.getRuntime.halt(status)
  }
}

object Ctx {
  /** A result value as a `[tag, value]` pair the Python checker renders the
    * way pandas renders the same value read back from parquet. Doubles travel
    * as their IEEE bits so no decimal formatting stands between the engines. */
  def cell(v: Any): Seq[Any] = v match {
    case null => Seq("n", null)
    case d: Double => Seq("f", java.lang.Double.doubleToRawLongBits(d).toString)
    case f: Float => Seq("f", java.lang.Double.doubleToRawLongBits(f.toDouble).toString)
    case b: Boolean => Seq("b", b)
    case n: Byte => Seq("i", n.toLong)
    case n: Short => Seq("i", n.toLong)
    case n: Int => Seq("i", n.toLong)
    case n: Long => Seq("i", n)
    case s: String => Seq("s", s)
    case d: java.sql.Date => Seq("t", d.toLocalDate.toString)
    case d: java.time.LocalDate => Seq("t", d.toString)
    case t: java.time.LocalDateTime => Seq("t", t.toString)
    case t: java.sql.Timestamp => Seq("t", t.toLocalDateTime.toString)
    case t: java.time.Instant => Seq("t", java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString)
    case d: java.math.BigDecimal => Seq("s", d.toPlainString)
    case d: scala.math.BigDecimal => Seq("s", d.bigDecimal.toPlainString)
    case b: Array[Byte] => Seq("s", b.map("%02x".format(_)).mkString)
    case s: scala.collection.Seq[_] => Seq("a", s.map(cell))
    case other => Seq("s", other.toString)
  }
}

/** State shared by a workload run. */
final class Ctx(val spark: SparkSession, val input: String, val out: String,
    val seconds: Double, val trace: Trace, val cores: Int) {
  val rec = new Record
  /** Origin of every recorded nanosecond timestamp. */
  val baseNs: Long = System.nanoTime()
  /** QueryExecution id of each DataFrame op, for the phase listener's figures. */
  val qeOf = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** Rows scanned by each traced DataFrame op. */
  val scanRows = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val opIds = new java.util.concurrent.atomic.AtomicLong(0)
  val plan: java.util.Map[String, Object] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Paths.get(input, "plan.json").toFile, classOf[java.util.Map[String, Object]])

  /** Reference digests recorded in set-up, by op key. */
  val reference = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Epoch seconds (microsecond resolution) — comparable with the Python side. */
  def epochS(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** Start of the timed phase (first timed op), epoch seconds. */
  @volatile var timedStartEpoch: Double = -1
  @volatile var timedStartNs: Long = 0L

  def markTimedStart(): Unit = {
    timedStartEpoch = epochS()
    timedStartNs = System.nanoTime()
    rec.counters("gc_ms_at_start") = Jvm.gcMs()
  }

  def markTimedEnd(): Unit = {
    rec.counters("gc_ms_at_end") = Jvm.gcMs()
  }

  /** A canonical digest of a result: rows rendered with doubles at 10
    * significant digits, sorted, hashed. Order-insensitive. */
  def digest(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.10g"
      case f: Float => f"${f.toDouble}%.7g"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => cell(k) + "→" + cell(x) }.sorted.mkString("{", ",", "}")
      case other => other.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Run and time one operation. `body` returns the rows in hand; it gets
    * the op id so it can tag its spans. The digest check runs outside the
    * timed interval, against the reference digest recorded for `key`. */
  def op(client: Int, kind: String, template: String, key: String,
      extra: Map[String, Any] = Map.empty)
      (body: Long => Array[Row]): Array[Row] = {
    val id = opIds.incrementAndGet()
    val sc = spark.sparkContext
    val traced = trace.on
    if (traced) sc.setJobGroup(s"op-$id", template, interruptOnCancel = false)
    val t0 = System.nanoTime()
    var rows: Array[Row] = null
    var err: String = null
    try rows = trace.span(s"op.$kind", op = id)(body(id))
    catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val t1 = System.nanoTime()
    if (traced) sc.clearJobGroup()
    val d = if (rows != null) digest(rows) else null
    val want = Option(reference.get(key))
    val ok = err == null && want.forall(_ == d)
    if (err == null && want.isEmpty) reference.putIfAbsent(key, d)
    rec.addOp(Map("id" -> id, "client" -> client, "kind" -> kind, "template" -> template,
      "key" -> key, "start_ns" -> (t0 - baseNs), "dur_ns" -> (t1 - t0),
      "setup" -> (timedStartNs == 0L), "traced" -> traced, "qe" -> Option(qeOf.get(id)),
      "scan_rows" -> Option(scanRows.get(id)),
      "ok" -> ok, "error" -> Option(err), "rows" -> Option(rows).map(_.length).getOrElse(0),
      "digest" -> Option(d), "want" -> want) ++ extra)
    if (rows == null) Array.empty else rows
  }

  /** Record a result for the DuckDB oracle: columns, types and rows go to
    * `<out>/results/<key>.json` (rows as tagged cells), the oracle SQL
    * beside them, and the oracle's shared warehouse prelude once. */
  def oracleCheck(key: String, sql: String, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val dir = Paths.get(out, "results")
    Files.createDirectories(dir)
    val doc = Map("columns" -> schema.fieldNames.toSeq,
      "types" -> schema.fields.toSeq.map(_.dataType.json),
      "rows" -> rows.toSeq.map(r => r.toSeq.map(Ctx.cell)))
    Files.write(dir.resolve(s"$key.json"), Json(doc).getBytes("UTF-8"))
    Files.write(dir.resolve(s"$key.sql"), sql.getBytes("UTF-8"))
    val prelude = dir.resolve("prelude.sql")
    if (sql.startsWith(graft.oracle.OracleSql.prefix) && !Files.exists(prelude))
      Files.write(prelude, graft.oracle.OracleSql.prefix.getBytes("UTF-8"))
    rec.checks += Map("key" -> key)
  }

  /** Closed loop: each client issues its next op as soon as the previous one
    * returns, until `seconds` have passed since the timed start and it has
    * finished a whole block of `block` ops, so every run holds every op of
    * a block. A traced run traces every other block of each client (the
    * odd-numbered client starting with a traced one) and runs at least two
    * blocks a client, so the untraced blocks give the tracing overhead under
    * the same warm-up and load. */
  def closedLoop(clients: Int, block: Int)(next: (Int, Int) => Unit): Unit = {
    val deadline = timedStartNs + (seconds * 1e9).toLong
    val minOps = if (trace.enabled) 2 * block else block
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (i < minOps || i % block != 0 || System.nanoTime() < deadline) {
          trace.on = (i / block + c) % 2 == 1
          next(c, i); i += 1
        }
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  def writeRaw(): Unit = {
    trace.drain()
    rec.counters("peak_rss_mb") = Jvm.peakRssMb()
    rec.counters("heap_peak_mb") = Jvm.heapPeakMb()
    rec.counters("cores") = cores
    val doc = mutable.LinkedHashMap[String, Any](
      "timed_start_epoch" -> timedStartEpoch, "timed_start_ns" -> (timedStartNs - baseNs),
      "counters" -> rec.counters, "ops" -> rec.ops, "checks" -> rec.checks)
    if (trace.enabled) {
      doc("spans") = trace.allSpans.map(s => Seq(s.id, s.name, s.startNs - baseNs,
        s.endNs - baseNs, s.parent, s.op))
      doc("jobs") = trace.allJobs.map(j => Seq(j.group, j.submitMs, j.firstTaskMs, j.endMs))
      doc("groups") = trace.groups.asScala.map { case (g, x) => g -> Map(
        "jobs" -> x.jobs, "stages" -> x.stages, "cpu_ns" -> x.cpuNs,
        "shuffle_write" -> x.shuffleWrite, "spill" -> x.spill) }
      doc("phases") = trace.phases.asScala.map { case (k, (an, op, pl)) =>
        k.toString -> Seq(an, op, pl) }
    }
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "raw.json"), Json(doc).getBytes("UTF-8"))
  }
}
