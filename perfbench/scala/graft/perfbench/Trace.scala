package graft.perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine, and the Spark work
  * each span caused, observed from outside the engine.
  *
  * A span is opened only inside a traced block. Opening one sets the Spark
  * job group to the span's id, so every job the calling thread starts
  * names the span that caused it. A `SparkListener` adds job, stage and
  * task counts per job, and a `QueryExecutionListener` records each query
  * execution's analysis, optimization and planning times. Everything stays
  * in memory until [[json]] writes it out once at the end. Outside traced
  * blocks no listener is registered and [[span]] only runs its body. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * on the same axis as Spark's event times. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: Int, val parent: Int, val name: String, val start: Double) {
    var end: Double = Double.NaN
  }

  final class Job(val id: Int, val group: String, val start: Long) {
    var end = -1L
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var inBytes, inRecords, shuffleWrite, spill, outBytes = 0L
  }

  /** One query execution: when its last planning phase ended, and the
    * analysis / optimization / planning milliseconds. */
  final case class Sql(endMs: Long, analysis: Long, optimization: Long, planning: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var on = false
  private val jobs = ArrayBuffer.empty[Job]
  private val jobOfStage = HashMap.empty[Int, Job]
  private val sqls = ArrayBuffer.empty[Sql]

  /** Whether the current block is traced. */
  def tracing: Boolean = on

  /** The id the next span will get. */
  def nextSpanId: Int = spans.size

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, nowMs)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(e.jobId, group, e.time)
      jobs += j
      e.stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        jobOfStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (j <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
      if (ph.nonEmpty)
        sqls += Sql(ph.values.map(_.endTimeMs).max,
          ms("analysis"), ms("optimization"), ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Run `body` as a traced block when `traced`, else as a plain one. The
    * listeners are attached only for the block, and the bus is drained
    * after it, outside whatever `body` timed. */
  def block[T](traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      sc.addSparkListener(listener)
      spark.listenerManager.register(sqlListener)
      on = true
      try body
      finally {
        on = false
        sc.clearJobGroup()
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(sqlListener)
      }
    }

  def json: Seq[(String, String)] = synchronized {
    import Json._
    Seq(
      "spans" -> arr(spans.map(s => obj("id" -> num(s.id), "parent" -> num(s.parent),
        "name" -> str(s.name), "start_ms" -> num(s.start), "end_ms" -> num(s.end)))),
      "jobs" -> arr(jobs.map(j => obj("id" -> num(j.id), "group" -> str(j.group),
        "start_ms" -> num(j.start), "end_ms" -> num(j.end), "stages" -> num(j.stages),
        "tasks" -> num(j.tasks), "task_run_ms" -> num(j.runMs),
        "task_cpu_ms" -> num(j.cpuNs / 1e6), "gc_ms" -> num(j.gcMs),
        "input_bytes" -> num(j.inBytes), "input_records" -> num(j.inRecords),
        "shuffle_write_bytes" -> num(j.shuffleWrite), "spill_bytes" -> num(j.spill),
        "output_bytes" -> num(j.outBytes)))),
      "sql" -> arr(sqls.map(q => obj("end_ms" -> num(q.endMs),
        "analysis_ms" -> num(q.analysis), "optimization_ms" -> num(q.optimization),
        "planning_ms" -> num(q.planning)))))
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
