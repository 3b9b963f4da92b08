package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec}

/** Spark counters summed over the tasks of the jobs a span started. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes
  }
}

final case class Span(id: Long, name: String, parent: Long, group: String,
                      startNs: Long, var endNs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around every call the benchmark makes into a layer, plus the Spark
  * counters of the jobs each span started. Jobs are attributed through a
  * local property that [[span]] sets on the calling thread; a listener the
  * tracer registers itself maps job → stages → task metrics. With tracing
  * off, [[span]] only runs its body. Spans stay in memory and are written
  * out once, at the end of the run. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private var current: Span = null
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val bySpan = new ConcurrentHashMap[Long, Counters]()

  private def counters(id: Long) = bySpan.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .foreach { s =>
          val id = s.toLong
          e.stageIds.foreach(st => stageSpan.put(st, id))
          counters(id).synchronized(counters(id).jobs += 1)
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      if (id != 0L && e.taskMetrics != null) {
        val c = counters(id); val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.resultBytes += m.resultSize
        }
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` as a span named `name`, child of the enclosing span. Span
    * ids start at 1, so 0 means "no span". */
  def span[T](name: String, group: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = current
      val s = Span(ids.incrementAndGet(), name,
        if (parent == null) 0L else parent.id,
        if (group.isEmpty && parent != null) parent.group else group,
        System.nanoTime())
      spans += s
      current = s
      val prevProp = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(Prop, prevProp)
        current = parent
      }
    }

  /** Run `body` outside every span. Threads it starts (a streaming query's)
    * inherit Spark's local properties, so their jobs would otherwise count
    * in the enclosing span for as long as they run. */
  def outside[T](body: => T): T = {
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, null)
    try body finally sc.setLocalProperty(Prop, prevProp)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Counters of `s` and every span below it. Call [[drain]] first. */
  def rollup(s: Span): Counters = {
    val kids = spans.groupBy(_.parent)
    val out = new Counters
    def go(x: Span): Unit = {
      Option(bySpan.get(x.id)).foreach(out.add)
      kids.getOrElse(x.id, Nil).foreach(go)
    }
    go(s)
    out
  }

  def rollup(ss: Seq[Span]): Counters = {
    val out = new Counters
    ss.foreach(s => out.add(rollup(s)))
    out
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** One JSON object a line: id, name, parent, group, start/end (ns since
    * the first span), and the span's own Spark counters. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val lines = spans.map { s =>
      val c = Option(bySpan.get(s.id)).getOrElse(new Counters)
      Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "group" -> s.group, "start_ns" -> (s.startNs - t0),
        "end_ns" -> (s.endNs - t0), "jobs" -> c.jobs, "tasks" -> c.tasks,
        "cpu_ns" -> c.cpuNs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "result_bytes" -> c.resultBytes))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Facts read from a physical plan after it ran. */
object Plans extends AdaptiveSparkPlanHelper {
  /** Expressions in the executed plan (subqueries and adaptive stages
    * included) that run interpreted because they do not generate code. */
  def interpretedExprs(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum
    }.sum

  /** Rows the plan's leaf scans produced. */
  def rowsScanned(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case p: FileSourceScanExec => metric(p, "numOutputRows")
      case p: BatchScanExec => metric(p, "numOutputRows")
      case p: LocalTableScanExec => metric(p, "numOutputRows")
      case p: RDDScanExec => metric(p, "numOutputRows")
      case p: InMemoryTableScanExec => metric(p, "numOutputRows")
    }.sum

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).fold(0L)(_.value)
}

/** JVM-wide garbage-collection time, in ms. */
object Gc {
  def ms: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** CPU time of the whole JVM (every thread: driver, task threads, GC and
  * JIT compiler), in ns; Linux counts it in 10 ms ticks. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def ns: Long = os.getProcessCpuTime
}

