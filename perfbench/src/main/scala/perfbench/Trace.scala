package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `req` is shared by every span of one
  * request, registry row, curation stage or family run. */
final class Span(val id: Int, val parent: Int, val req: Int, val name: String,
                 val startNs: Long) {
  @volatile var endNs: Long = 0L
  private val counts = mutable.Map.empty[String, Double]

  def add(k: String, v: Double): Unit =
    synchronized { counts(k) = counts.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit =
    synchronized { counts(k) = math.max(counts.getOrElse(k, 0.0), v) }
  def count(k: String): Double = synchronized(counts.getOrElse(k, 0.0))
  def snapshot: Map[String, Double] = synchronized(counts.toMap)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's tracer: spans kept in memory, plus a SparkListener
  * that attributes every job, stage and task to the span that was open
  * on the submitting thread. The span id travels as a Spark local
  * property, which Spark copies onto each job it submits, so the
  * attribution is exact even though listener events arrive late.
  *
  * With tracing off, `apply` only runs its body; the listener then
  * counts jobs and nothing else. */
final class Tracer(sc: SparkContext, @volatile var enabled: Boolean) extends SparkListener {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private var lastReq = 0
  /** Every job submitted, traced or not. */
  val jobs = new AtomicLong()
  sc.addSparkListener(this)

  def newRequest(): Int = { lastReq += 1; lastReq }
  def all: Seq[Span] = spans.toSeq

  def apply[T](name: String, req: Int = 0)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.fold(-1)(_.id),
        if (req != 0) req else parent.fold(0)(_.req), name, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Blocks until the listener has seen every event posted so far.
    * `waitUntilEmpty` is `private[spark]`, which is public in bytecode. */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(200) }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (enabled) for {
      props <- Option(e.properties)
      id <- Option(props.getProperty(Key))
      s <- Option(byId.get(id.toInt))
    } {
      s.add("jobs", 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      val d = e.taskInfo.duration
      s.add("tasks", 1)
      s.add("task_s", m.executorRunTime / 1e3)
      s.max("task_max_s", d / 1e3)
      s.add("gc_s", m.jvmGCTime / 1e3)
      s.add("sched_delay_s", math.max(0L, d - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
      s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      s.add("input_records", m.inputMetrics.recordsRead.toDouble)
      s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      s.add("output_records", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  /** Span records as JSON lines, written once at the end of a run. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val counts = s.snapshot.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      out.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"counts":{$counts}}""")
    } finally out.close()
  }
}

/** The little JSON the harness writes. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
