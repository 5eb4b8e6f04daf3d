package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Minimal JSON writer: the harness only emits, never parses. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"'  => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b += '"'
      b.toString
    }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** In-memory spans `{name, start, end, parent, op}`, recorded only while
  * enabled. Times are epoch milliseconds with sub-millisecond digits, so
  * spans from the benchmark's own process and from child JVMs line up.
  */
object Trace {
  final case class Span(id: Long, name: String, start: Double, end: Double, parent: Long, op: String)

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Time `f` as span `name` under the current thread's open span. */
  def span[T](name: String, op: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = now()
      try f
      finally {
        spans.add(Span(id, name, t0, now(), parent, op))
        stack.set(stack.get().tail)
      }
    }

  def json: String = Json.arr(spans.asScala.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "start" -> Json.num(s.start),
      "end" -> Json.num(s.end), "parent" -> s.parent.toString, "op" -> Json.str(s.op)))
  })
}

/** Counters of one Spark job, summed over its tasks. */
final class Job(val id: Int, val op: String, val group: String, val execId: String,
    val stages: Int, val submitMs: Double) {
  @volatile var tasks = 0L
  @volatile var schedMs = 0.0
  @volatile var runMs = 0.0
  @volatile var cpuMs = 0.0
  @volatile var shuffleMb = 0.0
  @volatile var spillMb = 0.0
}

/** Spark scheduling counters per job, attributed afterwards to the op
  * that ran the job: by the `perfbench.op` local property the harness
  * sets on its own threads, or by the job group (`pgwire-<pid>-<seq>`)
  * the pgwire server sets per statement.
  */
final class Counters extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
    jobs.put(e.jobId, new Job(e.jobId, prop("perfbench.op"), prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id"), e.stageIds.size, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      val info = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuMs += m.executorCpuTime / 1e6
      j.shuffleMb += m.shuffleWriteMetrics.bytesWritten / 1e6
      j.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
      j.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
    }
  }

  /** Sum counters over `js` as the JSON object the runner reads. */
  def summary(js: Iterable[Job]): String = {
    val l = js.toSeq
    Json.obj(Seq(
      "jobs" -> l.size.toString, "stages" -> l.map(_.stages).sum.toString,
      "tasks" -> l.map(_.tasks).sum.toString,
      "sql_executions" -> l.flatMap(j => Option(j.execId)).distinct.size.toString,
      "sched_delay_ms" -> Json.num(l.map(_.schedMs).sum), "task_run_ms" -> Json.num(l.map(_.runMs).sum),
      "task_cpu_ms" -> Json.num(l.map(_.cpuMs).sum), "shuffle_write_mb" -> Json.num(l.map(_.shuffleMb).sum),
      "spill_mb" -> Json.num(l.map(_.spillMb).sum)))
  }

  def byOp: Map[String, Seq[Job]] = jobs.values.asScala.filter(_.op != null).toSeq.groupBy(_.op)
}

/** JVM-wide MXBean counters, sampled around a phase. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val tmx = ManagementFactory.getThreadMXBean
  if (tmx.isThreadCpuTimeSupported && !tmx.isThreadCpuTimeEnabled) tmx.setThreadCpuTimeEnabled(true)

  def cpuMs: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
    case _ => Double.NaN
  }
  def threadCpuMs: Double = tmx.getAllThreadIds.map(tmx.getThreadCpuTime).filter(_ > 0).sum / 1e6
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime.toDouble).getOrElse(Double.NaN)
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

  final case class Sample(cpu: Double, tcpu: Double, gc: Double, jit: Double)
  def sample(): Sample = Sample(cpuMs, threadCpuMs, gcMs, jitMs)

  /** Deltas since `s0` (and the heap peak since the last reset) as JSON. */
  def delta(s0: Sample): String = {
    val s1 = sample()
    Json.obj(Seq("jit_ms" -> Json.num(s1.jit - s0.jit), "gc_ms" -> Json.num(s1.gc - s0.gc),
      "cpu_ms" -> Json.num(s1.cpu - s0.cpu),
      "native_cpu_ms" -> Json.num((s1.cpu - s0.cpu) - (s1.tcpu - s0.tcpu)),
      "heap_peak_mb" -> Json.num(heapPeakMb)))
  }
}
