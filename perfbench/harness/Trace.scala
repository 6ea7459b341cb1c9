package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of benchmark-side work. `parent` is the enclosing
  * span's id (0 at the root); spans of one operation share `op`. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, op: Long)

/** Span recorder plus the listeners of a traced run. Everything is kept in
  * memory and written once when the run ends. Recording is switched per
  * thread (`on`), so a traced run can leave every other block untraced and
  * compare the two. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val active = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = enabled
  }
  def on: Boolean = active.get
  def on_=(v: Boolean): Unit = active.set(enabled && v)
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, op id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Time `body` as a span named `name`. A span opened with `op > 0` starts
    * a new operation; nested spans inherit the operation of their parent. */
  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, opId) = outer.headOption.map { case (p, o) => (p, o) }.getOrElse((0L, 0L))
      val myOp = if (op > 0) op else opId
      stack.set((id, myOp) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, myOp))
        stack.set(outer)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  // ------------------------------------------------ per job-group listener

  final class Group {
    var jobs = 0L; var stages = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  /** One job: its group, submit time, first task launch and end (ms; -1 until seen). */
  final class Job(val group: String, val submitMs: Long) {
    var firstTaskMs = -1L
    var endMs = -1L
  }

  val groups = new ConcurrentHashMap[String, Group]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      jobs.put(e.jobId, new Job(g, e.time))
      e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, e.jobId) }
      val grp = groups.computeIfAbsent(g, _ => new Group)
      grp.synchronized { grp.jobs += 1 }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val grp = groups.computeIfAbsent(g, _ => new Group)
        grp.synchronized { grp.stages += 1 }
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          if (j.firstTaskMs < 0 || e.taskInfo.launchTime < j.firstTaskMs)
            j.firstTaskMs = e.taskInfo.launchTime
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val grp = groups.computeIfAbsent(g, _ => new Group)
        val m = e.taskMetrics
        if (m != null) grp.synchronized {
          grp.cpuNs += m.executorCpuTime
          grp.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          grp.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.endMs = e.time })
  }

  def allJobs: Seq[Job] = jobs.values().asScala.toSeq

  // ---------------------------------------- planning phases per execution

  /** QueryExecution id -> (analysis, optimization, planning) ms. */
  val phases = new ConcurrentHashMap[Long, (Long, Long, Long)]()

  private object phaseListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      phases.put(qe.id, (ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(phaseListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Driver-JVM figures read from the JVM and the OS. */
object Jvm {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The process's peak resident set (`VmHWM`), in MB; -1 when unreadable. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) -1.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    }
  }
}

/** Minimal JSON writer (the harness emits one JSON document per run). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Collects the harness's raw records and writes them as one JSON file. */
final class Record {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val counters = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  def addOp(m: Map[String, Any]): Unit = synchronized { ops += m }
}
