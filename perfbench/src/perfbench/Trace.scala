package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into the program. They stay
  * in memory and are written once, when the run ends. A disabled tracer
  * runs the body and records nothing, so the untraced run pays no cost.
  */
final class Tracer(val enabled: Boolean) {
  case class Span(id: Long, name: String, op: Long, parent: Long, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val originNs: Long = System.nanoTime()

  /** Runs `body` inside a span. Spark jobs submitted by this thread during
    * the span carry its name, so the listener can charge their tasks to it.
    */
  def span[A](name: String, op: Long = 0L)(body: => A)(implicit sc: SparkContext): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      stack.set(id :: parents)
      sc.setLocalProperty(Tracer.SpanProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, op, parents.headOption.getOrElse(0L), t0, System.nanoTime()))
        stack.set(parents)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Share of [from, to] covered by leaf spans (spans with no child), i.e.
    * by the calls into the program's layers.
    */
  def coverage(fromNs: Long, toNs: Long): Double = {
    val all = spans
    val parents = all.map(_.parent).toSet
    val leaves = all.filterNot(s => parents(s.id))
      .map(s => (math.max(s.startNs, fromNs), math.min(s.endNs, toNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = fromNs
    leaves.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    if (toNs > fromNs) covered.toDouble / (toNs - fromNs) else 0.0
  }

  def toJson(tasks: Map[String, Map[String, Double]]): String = Json.write(ListMap(
    "spans" -> spans.map { s =>
      ListMap("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9)
    },
    "spark_by_span" -> ListMap(tasks.toSeq.sortBy(_._1).map { case (k, m) => k -> ListMap(m.toSeq.sortBy(_._1): _*) }: _*)))
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** One finished task, with what the benchmark groups it by. */
final case class TaskRec(stageId: Int, span: String, batch: Long, layer: String,
                         runMs: Long, cpuNs: Long, gcMs: Long, schedDelayMs: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, recordsRead: Long, recordsWritten: Long)

/** The benchmark's own SparkListener. It keeps every task with the span
  * that submitted its job, the streaming batch id when there is one, and
  * the pipeline layer its stage worked for (see [[TaskListener.layer]]).
  */
final class TaskListener extends SparkListener {
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, String)]()
  private val execReadsEntries = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobSpan = new ConcurrentLinkedQueue[String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execReadsEntries.put(s.executionId, TaskListener.EntriesPath.findFirstIn(s.physicalPlanDescription).isDefined)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val span = prop(Tracer.SpanProp).getOrElse("")
    val batch = prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
    val entries = prop("spark.sql.execution.id").exists(id => Boolean.unbox(execReadsEntries.getOrDefault(id.toLong, false)))
    jobSpan.add(span)
    e.stageInfos.foreach(s => stageKey.put(s.stageId, (span, batch, TaskListener.layer(s, entries))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val (span, batch, layer) = Option(stageKey.get(e.stageId)).getOrElse(("", -1L, "sinks"))
    if (m != null) tasks.add(TaskRec(e.stageId, span, batch, layer,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime),
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten))
  }

  def all: Seq[TaskRec] = tasks.asScala.toSeq
  /** The span of every job started, one entry per job. */
  def jobSpans: Seq[String] = jobSpan.asScala.toSeq
  def clear(): Unit = { tasks.clear(); jobSpan.clear() }
}

object TaskListener {
  /** The entries table or its replacement being written (`entries.tmp-*`). */
  private val EntriesPath = """/entries(\.tmp-\d+)?[\]/,\s]""".r

  /** Which pipeline layer a micro-batch stage worked for. Structured
    * Streaming gives every stage the call site of the query's start, so the
    * call site cannot tell the layers apart; the plan can. A stage that
    * scans the raw JSON logs decodes them (`decode`); a stage of a query
    * that reads or writes the entries table folds (`entriesfold`); the rest
    * is the idempotent insert into events (`sinks`).
    */
  def layer(s: StageInfo, readsEntries: Boolean): String =
    if (s.rddInfos.exists(r => r.scope.exists(_.name.startsWith("Scan json")))) "decode"
    else if (readsEntries) "entriesfold"
    else "sinks"

  /** The `spark.*` summary of a task set over `wallS` seconds on `cores`. */
  def summary(ts: Seq[TaskRec], wallS: Double, cores: Int): Map[String, Double] = {
    val run = ts.map(_.runMs).sum / 1e3
    Map(
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_run_s" -> run,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1e3,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / Stats.MiB,
      "spark.spill_mb" -> ts.map(_.spillBytes).sum / Stats.MiB,
      "spark.idle_frac" -> (if (wallS > 0) math.max(0.0, 1.0 - run / (cores * wallS)) else 0.0))
  }
}

/** Live heap: the occupancy a full collection leaves behind, as the JVM
  * records it at the end of the collection (allocation that follows cannot
  * inflate it). A sample takes the lowest of three collections 100 ms
  * apart, so an object that is only in flight (a listener event on its way,
  * a block the cleaner is about to drop) does not count as live. Workloads
  * sample between operations, never inside a timed one, and the highest
  * sample is kept.
  */
object Heap {
  @volatile private var peak = 0L

  private def afterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  def sample(c: Ctx, where: String): Long = {
    val used = (0 until 3).map { i => if (i > 0) Thread.sleep(100); afterGc() }.min
    synchronized { if (used > peak) peak = used }
    c.mark(f"live heap ${used / Stats.MiB}%.1f MiB $where")
    used
  }

  def peakMb: Double = peak / Stats.MiB
}

object Stats {
  val MiB: Double = 1024.0 * 1024.0

  /** Nearest-rank percentile; `Double.PositiveInfinity` marks a failure. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** JSON writing for the result line, the span file and the generated logs. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` as JSON: Scala maps keep their order, a string is quoted. */
  def write(v: Any): String = mapper.writeValueAsString(v)
}
