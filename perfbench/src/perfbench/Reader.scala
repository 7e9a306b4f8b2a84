package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.hypermap.QueryService
import Checks._

/** The reference's read surface, called the way a server action calls it:
  * every query resolves its table afresh from the directory.
  */
object Reader {
  final case class Sample(kind: String, ms: Double, ok: Boolean, planMs: Double, rows: Int, traced: Boolean)

  def answer(spark: SparkSession, q: Gen.Query, dir: String, planMs: DataFrame => Unit): Answer = {
    def events = spark.read.parquet(s"$dir/events")
    def run(df: DataFrame): Array[org.apache.spark.sql.Row] = { planMs(df); df.collect() }
    def keys(df: DataFrame) = run(df.select("blockNumber", "logIndex")).toSeq.map(r => (r.getLong(0), r.getInt(1)))
    q match {
      case Gen.Q1Page(t, p, l) =>
        val (df, total) = QueryService.getEvents(events, Some(t), None, p, l)
        Page(keys(df), total)
      case Gen.Q1Keyset(t, b, i, l) => Keys(keys(QueryService.getEventsAfter(events, Some(t), b, i, l)))
      case Gen.Q2Entry(h) => Keys(keys(QueryService.getEventsForEntry(events, h)))
      case Gen.Q3Lookup(h) =>
        Entry(run(QueryService.getEntry(spark.read.parquet(s"$dir/entries"), h).select("namehash", "label"))
          .toSeq.map(r => r.getString(0) -> r.getString(1)))
      case Gen.A1Status() => Counts(run(QueryService.statusCounts(events)).map(r => r.getString(0) -> r.getLong(1)).toMap)
      case Gen.A3Sync(head) =>
        val r = run(QueryService.syncStatus(events, head)).head
        Sync(r.getAs[Long]("lastBlock"), r.getAs[Long]("nextStartBlock"))
      case Gen.A5Chunks(c) =>
        Chunks(run(QueryService.chunkCounts(events, c)).map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap)
    }
  }

  /** Issues queries from `qs` in order, closed loop, until `stop()`. A query
    * that throws or answers wrong counts as failed and as infinitely slow.
    * In the traced run every other query carries spans, so traced and plain
    * queries share the same phases of the run.
    */
  def client(c: Ctx, qs: IndexedSeq[Gen.Query], next: AtomicInteger, stop: () => Boolean, dir: String,
             lo: Gen.Truth, hi: Gen.Truth): Seq[Sample] = {
    implicit val sc = c.sc
    val out = ArrayBuffer.empty[Sample]
    while (!stop()) {
      val i = next.getAndIncrement()
      val q = qs(i % qs.size)
      val traced = c.trace && i % 2 == 1
      var planMs = 0.0
      var rows = 0
      val t0 = System.nanoTime()
      val ok = try {
        val a =
          if (traced) c.tracer.span(s"queryservice.${q.kind}", i) {
            answer(c.spark, q, dir, df => {
              val p0 = System.nanoTime()
              c.tracer.span("queryservice.plan", i)(df.queryExecution.executedPlan)
              planMs += (System.nanoTime() - p0) / 1e6
            })
          }
          else answer(c.spark, q, dir, _ => ())
        rows = a match {
          case Page(r, _) => r.size; case Keys(r) => r.size; case Entry(r) => r.size
          case Counts(m) => m.size; case Sync(_, _) => 1; case Chunks(m) => m.size
        }
        val err = Checks.query(q, a, lo, hi)
        err.foreach(e => c.fail(s"${q.kind}: $e"))
        err.isEmpty
      } catch { case t: Exception => c.opFailed(s"${q.kind}: $t"); false }
      out += Sample(q.kind, if (ok) (System.nanoTime() - t0) / 1e6 else Double.PositiveInfinity, ok, planMs, rows, traced)
      c.attempt(ok)
    }
    out.toSeq
  }

  /** `queryservice.*` per-layer metrics from the traced samples. The
    * percentiles cover completed reads; failed ones are counted apart.
    */
  def layerMetrics(c: Ctx, traced: Seq[Sample], ts: Seq[TaskRec]): Unit = {
    c.layer("queryservice.failed_frac") = traced.count(!_.ok).toDouble / math.max(1, traced.size)
    Gen.QueryKinds.foreach { k =>
      val xs = traced.filter(s => s.kind == k && s.ok).map(_.ms)
      c.layer(s"queryservice.${k}_p50_ms") = if (xs.isEmpty) 0.0 else Stats.median(xs)
      c.layer(s"queryservice.${k}_p90_ms") = if (xs.isEmpty) 0.0 else Stats.pct(xs, 90)
    }
    val qts = ts.filter(_.span.startsWith("queryservice."))
    c.layer("queryservice.plan_ms") = Stats.median(traced.map(_.planMs))
    c.layer("queryservice.jobs_per_query") =
      c.listener.jobSpans.count(_.startsWith("queryservice.")).toDouble / math.max(1, traced.size)
    c.layer("queryservice.tasks_per_query") = qts.size.toDouble / math.max(1, traced.size)
    c.layer("queryservice.rows_read_per_row") = qts.map(_.recordsRead).sum.toDouble / math.max(1, traced.map(_.rows).sum)
  }
}

