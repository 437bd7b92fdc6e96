package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Peak old-generation heap, reset at the start of each iteration. */
object Heap {
  private lazy val pool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
  def reset(): Unit = pool.foreach(_.resetPeakUsage())
  def peakMb: Double = pool.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(0.0)
}

/** Load on the machine from outside this process over one window:
  * external cores (busy jiffies machine-wide minus this JVM's, per
  * second of wall) and the share of the window in which every task
  * stalled on io or memory (PSI "full"). Recorded next to a run's
  * metrics to explain a disagreeing run; never used to filter. */
final class Contention {
  private val t0 = System.nanoTime()
  private val busy0 = Contention.procBusy()
  private val io0 = Contention.psiFullUs("io")
  private val mem0 = Contention.psiFullUs("memory")

  def close(): Map[String, Double] = {
    val wall = (System.nanoTime() - t0) / 1e9
    val ext = (busy0, Contention.procBusy()) match {
      case (Some((a0, s0)), Some((a1, s1))) =>
        math.max(0.0, ((a1 - a0) - (s1 - s0)) / (Contention.UserHz * wall))
      case _ => -1.0
    }
    def frac(a: Option[Long], b: Option[Long]) = (a, b) match {
      case (Some(x), Some(y)) => math.max(0.0, (y - x) / 1e6 / wall)
      case _                  => -1.0
    }
    Map("window_s" -> wall, "external_cores" -> ext,
      "psi_io_full" -> frac(io0, Contention.psiFullUs("io")),
      "psi_memory_full" -> frac(mem0, Contention.psiFullUs("memory")))
  }
}

object Contention {
  private val UserHz = 100.0

  /** (busy jiffies of all cpus, utime + stime of this process). */
  def procBusy(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val tot = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      // fields 3 and 4 are idle and iowait
      val busy = tot.indices.collect { case i if i != 3 && i != 4 => tot(i) }.sum
      val self = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
      // comm may hold spaces; fields after the closing paren are fixed
      val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
      Some((busy, f(11).toLong + f(12).toLong))
    } catch { case _: Exception => None }

  def psiFullUs(kind: String): Option[Long] =
    try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"/proc/pressure/$kind"))
        .asScala.find(_.startsWith("full")).flatMap(_.split("\\s+")
          .find(_.startsWith("total=")).map(_.stripPrefix("total=").toLong))
    } catch { case _: Exception => None }
}

/** Task, stage and job counters from the scheduler. Registered only in
  * traced runs. */
final class ExecListener extends SparkListener {
  private val names = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_ms",
    "exec.cpu_ns", "exec.gc_ms", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_ms", "spill.disk_bytes", "scan.bytes_read", "scan.rows_read")
  private val c: Map[String, LongAdder] = names.map(_ -> new LongAdder).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = c("exec.jobs").increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("exec.stages").increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("exec.tasks").increment()
    val m = e.taskMetrics
    if (m != null) {
      c("exec.task_ms").add(m.executorRunTime)
      c("exec.cpu_ns").add(m.executorCpuTime)
      c("exec.gc_ms").add(m.jvmGCTime)
      c("shuffle.write_bytes").add(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle.read_bytes").add(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle.fetch_wait_ms").add(m.shuffleReadMetrics.fetchWaitTime)
      c("spill.disk_bytes").add(m.diskBytesSpilled)
      c("scan.bytes_read").add(m.inputMetrics.bytesRead)
      c("scan.rows_read").add(m.inputMetrics.recordsRead)
    }
  }
  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.sum() }
}

/** Catalyst phase times of every query execution a session finishes,
  * read from `QueryExecution.tracker.phases`. */
final class PhaseListener extends QueryExecutionListener {
  private val c = Map("analysis" -> new LongAdder, "optimization" -> new LongAdder,
    "planning" -> new LongAdder)
  def add(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) => c.get(phase).foreach(_.add(s.durationMs)) }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.sum() }
}

/** Whole-process counters read around a traced window. */
final case class LayerSnapshot(exec: Map[String, Long], phases: Map[String, Long],
    compiles: Long, compileNs: Long)

object Layers {
  def snapshot(sc: SparkContext, exec: ExecListener, phases: PhaseListener): LayerSnapshot = {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    LayerSnapshot(exec.snapshot(), phases.snapshot(),
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }

  /** Per-layer figures of the window between two snapshots. */
  def delta(a: LayerSnapshot, b: LayerSnapshot, wallS: Double, cores: Int): Map[String, Double] = {
    def d(k: String) = (b.exec(k) - a.exec(k)).toDouble
    def p(k: String) = (b.phases(k) - a.phases(k)) / 1e3
    Map(
      "exec.jobs" -> d("exec.jobs"), "exec.stages" -> d("exec.stages"),
      "exec.tasks" -> d("exec.tasks"), "exec.task_s" -> d("exec.task_ms") / 1e3,
      "exec.cpu_s" -> d("exec.cpu_ns") / 1e9, "exec.gc_s" -> d("exec.gc_ms") / 1e3,
      "exec.core_util" -> (if (wallS > 0) d("exec.task_ms") / 1e3 / (wallS * cores) else 0.0),
      "shuffle.write_bytes" -> d("shuffle.write_bytes"),
      "shuffle.read_bytes" -> d("shuffle.read_bytes"),
      "shuffle.fetch_wait_s" -> d("shuffle.fetch_wait_ms") / 1e3,
      "spill.disk_bytes" -> d("spill.disk_bytes"),
      "scan.bytes_read" -> d("scan.bytes_read"), "scan.rows_read" -> d("scan.rows_read"),
      "catalyst.analysis_s" -> p("analysis"), "catalyst.optimization_s" -> p("optimization"),
      "catalyst.planning_s" -> p("planning"),
      "codegen.compiles" -> (b.compiles - a.compiles).toDouble,
      "codegen.compile_s" -> (b.compileNs - a.compileNs) / 1e9)
  }
}
