package graft.perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Counters the benchmark's own listener keeps: jobs, stages, tasks,
  * stages of 256 or more tasks, summed task run and CPU time, shuffle
  * bytes written and bytes spilled. Host load cannot move these counts,
  * so they carry the gated end-to-end metrics. */
final class Counters extends SparkListener {
  val jobs, stages, stages256, tasks, runMs, cpuNs, shuffleBytes, spillBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.numTasks >= 256) stages256.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  /** A settled snapshot: every event posted so far has been delivered. */
  def snap(spark: SparkSession): Snap = {
    BenchShim.drainListeners(spark.sparkContext)
    Snap(jobs.get, stages.get, stages256.get, tasks.get, runMs.get,
      cpuNs.get / 1000000L, shuffleBytes.get, spillBytes.get)
  }
}

final case class Snap(jobs: Long, stages: Long, stages256: Long, tasks: Long,
    runMs: Long, cpuMs: Long, shuffleBytes: Long, spillBytes: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
    stages256 - o.stages256, tasks - o.tasks, runMs - o.runMs,
    cpuMs - o.cpuMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages, "stages_256plus" -> stages256,
    "tasks" -> tasks, "task_run_ms" -> runMs, "task_cpu_ms" -> cpuMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes)
}

/** One timed layer call: name, start and end (ns, monotonic), the parent
  * span's id (0 at the top) and the request it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, req: String) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span store; written out once, when the run ends. A
  * disabled store only runs the bodies. */
final class Spans(enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def apply[T](name: String, req: String, parent: Int = 0)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id) finally buf.add(Span(id, name, t0, System.nanoTime(), parent, req))
    }
  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; buf.asScala.toSeq }
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.id).foreach { s =>
      w.write(Json.write(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "req" -> s.req)))
      w.write("\n")
    } finally w.close()
  }
}

/** JSON through Jackson's Scala module: Maps, Seqs, Options and numbers. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
