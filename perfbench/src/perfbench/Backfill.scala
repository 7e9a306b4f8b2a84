package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, max}

import graft.hypermap.{Decode, EntriesFold, EtlJob, Layout, Schemas, Sinks}

/** The backfill phase of `pipeline`: one closed pipeline pass per
  * iteration. `Rpc.fetch` lands the chain from the mock node, then
  * `EtlJob.run` writes events and entries into a fresh directory.
  */
object Backfill {
  val Logs = 1500
  val ChunkBlocks = 500L
  /** 429 bursts per fetch pass, among its ~11 requests. */
  val Bursts = 2
  /** Rpc.fetch passes behind the extract figures. */
  val FetchPasses = 6

  final case class Pass(dir: File, ok: Boolean, fetchMs: Seq[Double], fetchS: Double, etlS: Double,
                        requests: Long, retries: Long)

  /** Runs the phase on `chain` and returns the directory of the last pass's
    * tables (`events`, `entries`), checked and kept for the tail. Adds the
    * cold pass to `c.setupS`.
    */
  def run(c: Ctx, chain: IndexedSeq[Gen.Log], truth: Gen.Truth): String = {
    val spark = c.spark
    implicit val sc = c.sc
    val plan = c.gen(Gen.failPlan(c.seed, 10, Bursts))

    /** Passes are identical, so the last pass's output is checked. */
    def check(p: Pass): Unit =
      if (p.ok) (Checks.events(truth, Land.eventRows(spark, s"${p.dir}/out/events")) ++
        Checks.minted(truth, Land.entryLabels(spark, s"${p.dir}/out/entries"))).foreach(c.fail)

    /** Lands the chain, then builds the tables with `build`. */
    def pass(i: Int, spanned: Boolean)(build: (String, String) => Unit): Pass = {
      val dir = c.dir(s"pass$i")
      val t0 = System.nanoTime()
      def fetch = Land.fetch(c, chain, new File(dir, "raw"), ChunkBlocks, plan)
      val (lat, landed, retries, requests) = if (spanned) c.tracer.span("rpc.fetch", i)(fetch) else fetch
      if (landed != chain.size) c.fail(s"Rpc.fetch landed $landed logs, want ${chain.size}")
      val t1 = System.nanoTime()
      val ok = try { build(s"$dir/raw", s"$dir/out"); true }
      catch { case t: Exception => c.opFailed(s"pass $i: $t"); false }
      c.attempt(ok)
      Pass(dir, ok, lat, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, requests, retries)
    }

    /** A user's pass: one `EtlJob.run`. */
    def plainPass(i: Int): Pass = pass(i, spanned = false)((raw, out) => EtlJob.run(spark, raw, out))

    /** The same work with each layer called by the benchmark, in
      * `EtlJob.run`'s order, inside a span.
      */
    var scanned, decoded, inserted = 0L
    def tracedPass(i: Int): Pass = pass(i, spanned = true) { (raw, out) =>
      val rawDf = spark.read.schema(Schemas.rawLogs).json(raw)
      scanned += rawDf.count()
      val dec = Decode.decode(rawDf).cache()
      decoded += c.tracer.span("decode", i)(dec.count())
      c.tracer.span("etljob.report", i) { // EtlJob.run's report: counts by type, last block
        dec.groupBy(col("eventType")).count().collect()
        dec.agg(max(col("blockNumber"))).head()
      }
      inserted += c.tracer.span("sinks.insert", i)(Sinks.insertIfAbsent(spark, s"$out/events", dec))
      c.tracer.span("entriesfold.fold_write", i)(
        Layout.writeEntries(EntriesFold.fold(spark.read.parquet(s"$out/events")), s"$out/entries"))
      dec.unpersist()
    }

    Land.rm(plainPass(-1).dir) // cold: codegen, JIT, first file listing
    c.mark("cold pass")
    c.setupS += c.sinceStart
    c.listener.clear()

    // three passes, whose median absorbs the JIT speed-up after the cold
    // pass; in the traced run the middle one is traced, so that speed-up
    // falls on both sides of the overhead
    val plain = ArrayBuffer.empty[Pass]
    val traced = ArrayBuffer.empty[Pass]
    val tw0 = System.nanoTime()
    (0 until 3).foreach { i =>
      val p = if (c.trace && i == 1) tracedPass(i) else plainPass(i)
      if (c.trace && i == 1) traced += p else plain += p
      if (i > 0) Land.rm(c.dir(s"pass${i - 1}"))
      c.mark(f"pass $i: fetch ${p.fetchS}%.2f s, build ${p.etlS}%.2f s")
    }
    val tw1 = System.nanoTime()
    check(plain.last)
    // fetch-only passes until there are FetchPasses extract passes
    val lat = plain.flatMap(_.fetchMs)
    val fetches = plain.map(_.fetchS)
    while (fetches.size < FetchPasses) {
      val d = c.dir(s"fetch${fetches.size}")
      val t0 = System.nanoTime()
      lat ++= Land.fetch(c, chain, d, ChunkBlocks, plan)._1
      fetches += (System.nanoTime() - t0) / 1e9
      Land.rm(d)
    }
    val etl = Stats.median(plain.map(_.etlS).toSeq)
    val fetch = Stats.median(fetches.toSeq)
    c.e2e("throughput_per_s") = chain.size / etl
    // a fetch call takes a few ms, so GC and JIT pauses decide its
    // percentiles; the extract figures are printed and traced, not bounded
    c.info += (("backfill_logs_per_s", chain.size / etl, s"logs/s, median of ${plain.size} EtlJob.run passes of ${chain.size} logs"))
    c.info += (("extract_logs_per_s", chain.size / fetch, s"logs/s, median of ${fetches.size} Rpc.fetch passes"))
    c.info += (("extract_p50_ms", Stats.median(lat.toSeq), s"ms per Rpc.fetch call, over ${lat.size} calls"))
    c.info += (("extract_p90_ms", Stats.pct(lat.toSeq, 90), s"ms per Rpc.fetch call, over ${lat.size} calls"))

    if (c.trace) {
      val spans = c.tracer.spans
      def med(name: String) = Stats.median(spans.filter(_.name == name).map(_.seconds))
      val ts = c.listener.all
      def taskMb(span: String, f: TaskRec => Long) = ts.filter(_.span == span).map(f).sum / Stats.MiB / traced.size
      c.layer ++= Seq(
        "rpc.fetch_s" -> med("rpc.fetch"),
        "rpc.requests" -> traced.map(_.requests).sum.toDouble / traced.size,
        "rpc.retries" -> traced.map(_.retries).sum.toDouble / traced.size,
        "rpc.ok_frac" -> (traced.map(p => p.requests - p.retries).sum.toDouble / traced.map(_.requests).sum),
        "decode.s" -> med("decode"),
        "decode.kept_frac" -> decoded.toDouble / scanned,
        "sinks.insert_s" -> med("sinks.insert"),
        "sinks.insert_novel_frac" -> inserted.toDouble / decoded,
        "sinks.insert_shuffle_mb" -> taskMb("sinks.insert", _.shuffleWriteBytes),
        "entriesfold.fold_write_s" -> med("entriesfold.fold_write"),
        "entriesfold.shuffle_mb" -> taskMb("entriesfold.fold_write", _.shuffleWriteBytes),
        "entriesfold.spill_mb" -> taskMb("entriesfold.fold_write", _.spillBytes),
        "etljob.gap_s" -> (etl - med("decode") - med("sinks.insert") - med("entriesfold.fold_write")),
        "trace.overhead_frac" -> (Stats.median(traced.map(p => p.fetchS + p.etlS).toSeq) /
          Stats.median(plain.map(p => p.fetchS + p.etlS).toSeq) - 1.0),
        "trace.span_cover_frac" -> coverOf(c))
      c.measured(ts, (tw1 - tw0) / 1e9)
    }
    s"${plain.last.dir}/out"
  }

  /** Coverage of the traced passes only: the plain passes between them
    * carry no spans by design.
    */
  private def coverOf(c: Ctx): Double = {
    val pairs = c.tracer.named("rpc.fetch").map(_.startNs)
      .zip(c.tracer.named("entriesfold.fold_write").map(_.endNs))
    pairs.map { case (a, b) => c.tracer.coverage(a, b) * (b - a) }.sum /
      pairs.map { case (a, b) => (b - a).toDouble }.sum
  }
}
