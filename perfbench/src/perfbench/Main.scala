package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the tracer, the counters and
  * the metrics the workload reports.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean,
                val work: File, val data: File) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val tracer = new Tracer(trace)
  val listener = new TaskListener
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload figures printed beside the result, not part of it. */
  val info = mutable.ArrayBuffer.empty[(String, Double, String)]
  /** Output checks that failed: the run is not correct. */
  val errors = mutable.ArrayBuffer.empty[String]
  /** Operations that threw or never completed: counted in `failed`. */
  val failures = mutable.ArrayBuffer.empty[String]
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private var genNs = 0L
  /** Set-up seconds of the phases run so far: `setup_s`. */
  var setupS = 0.0
  /** Tasks of the measured phases, the traced run's `spark.*` and span totals. */
  val measuredTasks = mutable.ArrayBuffer.empty[TaskRec]
  private var measuredS = 0.0

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def attempt(ok: Boolean): Unit = { attemptedN.incrementAndGet(); if (!ok) failedN.incrementAndGet() }
  def fail(msg: String): Unit = errors.synchronized { if (errors.size < 20) errors += msg }
  def opFailed(msg: String): Unit = failures.synchronized { if (failures.size < 20) failures += msg }

  /** Input generation, kept out of `setup_s` and reported as `gen.s`. */
  def gen[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally genNs += System.nanoTime() - t0
  }
  def genSeconds: Double = genNs / 1e9

  /** Adds a phase's tasks and wall to the `spark.*` summary of the run. */
  def measured(tasks: Seq[TaskRec], wallS: Double): Unit = { measuredTasks ++= tasks; measuredS += wallS }
  def sparkSummary: Map[String, Double] = TaskListener.summary(measuredTasks.toSeq, measuredS, cores)

  lazy val spark: SparkSession = {
    val s = graft.GraftSession.local(cpus = cores.toString, appName = s"perfbench-$workload")
    s.sparkContext.setLogLevel("ERROR")
    if (trace) s.sparkContext.addSparkListener(listener)
    mark("session up")
    s
  }
  implicit def sc: SparkContext = spark.sparkContext

  /** Seconds from JVM start to now, less input generation. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genSeconds

  def dir(name: String): File = new File(work, name)

  /** Logs a phase boundary, in seconds since JVM start, to the run log. */
  def mark(phase: String): Unit =
    println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%8.2f s  $phase")

  /** Runs ops until `seconds` have passed, but at least `min` times. */
  def loop(min: Int)(op: Int => Unit): Unit = {
    val end = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < min || System.nanoTime() < end) { op(i); i += 1 }
  }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  def main(args: Array[String]): Unit = {
    val work = new File(arg(args, "work").getOrElse(sys.error("--work is required")))
    val result = new File(arg(args, "result").getOrElse(sys.error("--result is required")))
    if (args.contains("--selftest")) {
      val ok = SelfTest.run(new File(arg(args, "data").getOrElse(".")))
      Files.write(result.toPath, Json.write(Map("selftest" -> ok)).getBytes(UTF_8))
      System.exit(if (ok) 0 else 1)
    }
    val workload = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    val c = new Ctx(workload,
      arg(args, "seed").map(_.toLong).getOrElse(1L),
      arg(args, "seconds").map(_.toInt).getOrElse(10),
      arg(args, "trace").contains("1"),
      work, new File(arg(args, "data").getOrElse(".")))
    val run: Ctx => Unit = workload match {
      case "pipeline" => Pipeline.run
      case "gates" => Gates.run
      case "dump-gates" => Gates.dump
      case w => sys.error(s"unknown workload $w")
    }
    try run(c)
    catch {
      case t: Throwable =>
        c.fail(s"workload aborted: $t")
        t.printStackTrace()
    }
    c.e2e("setup_s") = c.setupS
    if (c.attempted > 0) c.e2e("ok_frac") = 1.0 - c.failed.toDouble / c.attempted
    if (c.trace) {
      c.layer ++= c.sparkSummary
      c.layer("gen.s") = c.genSeconds
      c.layer("spark.peak_live_heap_mb") = Heap.peakMb
    }
    c.info += (("peak_live_heap_mb", Heap.peakMb, "MiB, highest live heap sampled between operations"))
    if (c.attempted > 0) c.info += (("fail_frac", c.failed.toDouble / c.attempted, s"of ${c.attempted} ops"))
    val out = Json.write(ListMap(
      "correct" -> c.errors.isEmpty,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "metrics" -> (if (c.trace) c.layer else c.e2e),
      "info" -> c.info.map { case (k, v, u) => Seq(k, v, u) },
      "errors" -> c.errors.toSeq,
      "failures" -> c.failures.toSeq))
    Files.write(result.toPath, out.getBytes(UTF_8))
    if (c.trace) {
      val bySpan = c.measuredTasks.toSeq.groupBy(_.span).map { case (k, ts) =>
        (if (k.isEmpty) "(untraced)" else k) -> TaskListener.summary(ts, 0.0, c.cores).removed("spark.idle_frac")
      }
      Files.write(new File(work, "spans.json").toPath, c.tracer.toJson(bySpan).getBytes(UTF_8))
    }
    try c.spark.stop() catch { case _: Throwable => () }
    System.exit(if (c.errors.isEmpty) 0 else 1)
  }
}
