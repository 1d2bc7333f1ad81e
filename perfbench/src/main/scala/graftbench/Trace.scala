package graftbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished span: one call into a layer (or a round of them), with the
  * Spark work that ran inside its interval, the process CPU time, and the
  * part of it the JIT compiler threads spent.
  */
final case class Span(name: String, id: Int, parent: Int, startS: Double, endS: Double,
                      constructS: Double, jobs: Long, taskS: Double, planS: Double,
                      shuffleWriteMb: Double, spillMb: Double, cpuS: Double, jitS: Double) {
  def wallS: Double = endS - startS
  /** Process CPU time without the JIT compiler threads. */
  def appCpuS: Double = cpuS - jitS
}

/** Span recorder with a SparkListener and a QueryExecutionListener whose
  * counters are attributed by span interval. The workload calls one layer
  * at a time, and the listener bus is drained before a span closes, so every
  * event of a span's jobs — including jobs submitted from futures that do
  * not inherit local properties — lands in that span. Spans stay in memory
  * until the run writes them out.
  *
  * When tracing is off no listener is attached and no bus is drained; the
  * spans then carry wall and construct time only.
  */
final class Tracer(spark: SparkSession, val cores: Int) {
  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  private val jobs = new AtomicLong
  private val taskMs = new AtomicLong
  private val planMs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  private var attached = false

  /** Attach or detach the listeners (tracing on/off for the next spans). */
  def tracing(on: Boolean): Unit = if (on != attached) {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      classic.listenerManager.register(queryListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      classic.listenerManager.unregister(queryListener)
    }
    attached = on
  }

  private def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = scala.collection.mutable.Stack[Int]()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def snapshot(): Array[Long] =
    Array(jobs.get, taskMs.get, planMs.get, shuffleBytes.get, spillBytes.get, os.getProcessCpuTime, Tracer.jitCpuNs)

  /** Run `body` as span `name`. `body` returns its result and the time its
    * public call took before materialization (construct time); callers
    * whose layer call is itself the action pass the whole body.
    */
  def span[T](name: String)(body: (() => Unit) => T): T = {
    if (attached) drain()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val before = snapshot()
    val start = now
    var constructEnd = -1.0
    try body(() => if (constructEnd < 0) constructEnd = now)
    finally {
      val end = now
      if (attached) drain()
      val after = snapshot()
      stack.pop()
      val d = after.zip(before).map { case (a, b) => a - b }
      val construct = (if (constructEnd < 0) end else constructEnd) - start
      spans += Span(name, id, parent, start, end, construct, d(0), d(1) / 1e3,
        d(2) / 1e3, d(3) / 1048576.0, d(4) / 1048576.0, d(5) / 1e9, d(6) / 1e9)
    }
  }

  def toJson: String = spans.map { s =>
    f"""{"name":"${s.name}","id":${s.id},"parent":${s.parent},"start_s":${s.startS}%.6f,""" +
      f""""end_s":${s.endS}%.6f,"construct_s":${s.constructS}%.6f,"jobs":${s.jobs},""" +
      f""""task_s":${s.taskS}%.3f,"plan_s":${s.planS}%.3f,""" +
      f""""shuffle_write_mb":${s.shuffleWriteMb}%.6f,"spill_mb":${s.spillMb}%.6f,"cpu_s":${s.cpuS}%.3f,"jit_cpu_s":${s.jitS}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  private val TickNs = 10000000L // USER_HZ = 100 on Linux

  /** CPU time of the HotSpot JIT compiler threads (C1/C2), summed from
    * /proc/self/task. The JVM runs with a fixed set of compiler threads
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none exits mid-run and
    * takes its time out of the sum. 0 where /proc is not there.
    */
  def jitCpuNs: Long = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.iterator.map { t =>
      try {
        val st = new String(Files.readAllBytes(new File(t, "stat").toPath), "US-ASCII")
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) {
          // fields after "(comm) ": state is 0, utime 11, stime 12
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * TickNs
        } else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }
}
