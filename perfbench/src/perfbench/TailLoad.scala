package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.hypermap.{EntriesFold, Schemas}
import graft.streaming.Tail

/** The tail phase of `pipeline`: `Tail.startWithEntries` on the tables the
  * backfill phase left, fed by chunk files that land by atomic rename on a
  * fixed, seeded schedule that does not slow when the tail does (open
  * loop), while one closed-loop reader runs the serve mix against the live
  * tables.
  */
object TailLoad {
  val SliceLogs = 10
  val MeanLandingMs = 20.0
  val DrainSeconds = 60

  /** Chunk files landed in a window of `seconds`. */
  def files(seconds: Int): Int = math.ceil(seconds * 1000 / MeanLandingMs).toInt

  final case class Progress(batch: Long, startMs: Long, durations: Map[String, Long], rows: Long) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  /** Keys a slice makes `EntriesFold.incrementalDelta` recompute. */
  def touched(logs: Seq[Gen.Log]): Set[String] = logs.map(Gen.parse).flatMap { e =>
    e.kind match {
      case "Mint" => Seq(e.parent, e.child)
      case "Note" | "Fact" => Seq(e.parent)
      case "Gene" => Seq(e.entry)
      case _ => Seq(e.id)
    }
  }.filterNot(_ == Schemas.RootHash).toSet

  /** Which micro-batch read each slice file, from the file source's own log. */
  def fileBatches(checkpoint: File): Map[String, Long] = {
    val mapper = new ObjectMapper()
    val dir = new File(checkpoint, "sources/0")
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.filter(_.startsWith("{")))
      .map(mapper.readTree)
      .map(n => new File(new java.net.URI(n.get("path").asText()).getPath).getName -> n.get("batchId").asLong())
      .filter(_._1.startsWith("slice_")).toMap
  }

  /** Runs the phase: `chain` is the whole chain, whose first `backfilled`
    * logs are in the tables under `tables`. Adds the tail's start to
    * `c.setupS`. The measured micro-batch is the tail's first: the backfill
    * phase has already compiled the decode, insert and fold code it runs.
    */
  def run(c: Ctx, chain: IndexedSeq[Gen.Log], backfilled: Int, tables: String): Unit = {
    val spark = c.spark
    implicit val sc = c.sc
    val files = TailLoad.files(c.seconds)
    // the tail's poll interval: the landing window starts just after a
    // trigger and ends before the next one, so its files commit together
    val triggerMs = (c.seconds + 1) * 1000L
    val (lo, hi, slices, due) = c.gen {
      (new Gen.Truth(chain.take(backfilled)), new Gen.Truth(chain),
        chain.drop(backfilled).grouped(SliceLogs).toIndexedSeq, Gen.schedule(c.seed, files, MeanLandingMs))
    }
    require(slices.size == files, s"chain holds ${slices.size} slices, want $files")
    val qs = c.gen(Gen.queries(c.seed, 2000, lo))
    val staging = c.dir("staging")
    staging.mkdirs()
    val names = slices.indices.map(i => f"slice_$i%05d.json")
    val rawTail = c.dir("raw")
    rawTail.mkdirs()
    c.gen(slices.zip(names).foreach { case (s, n) => Files.write(new File(staging, n).toPath, Gen.ndjson(s)) })

    // set-up: the tail starts on the backfilled tables and an empty directory
    val s0 = System.nanoTime()
    val out = tables
    val checkpoint = c.dir("checkpoint")
    val progress = new ConcurrentLinkedQueue[Progress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[perfbench] batch ${p.batchId} rows=${p.numInputRows} ${p.durationMs}")
        progress.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
      }
    })
    val query = Tail.startWithEntries(spark, rawTail.getPath, s"$out/events", s"$out/entries",
      checkpoint.getPath, Trigger.ProcessingTime(triggerMs))
    try {
      query.processAllAvailable()
      c.setupS += (System.nanoTime() - s0) / 1e9
      c.mark("tail started")
      c.listener.clear()

      // measured: the lander keeps its schedule whatever the tail does, and
      // one closed-loop reader runs until every landed file is committed.
      // Triggers fire at multiples of triggerMs of the wall clock.
      Thread.sleep(triggerMs - System.currentTimeMillis() % triggerMs + 100)
      val t0 = System.currentTimeMillis()
      val dueMs = due.map(t0 + _)
      val landedMs = new Array[Long](files)
      @volatile var drained = false
      val readerOut = new java.util.concurrent.atomic.AtomicReference[Seq[Reader.Sample]]()
      val reader = new Thread(() =>
        readerOut.set(Reader.client(c, qs, new java.util.concurrent.atomic.AtomicInteger(0), () => drained, out, lo, hi)))
      reader.start()
      (0 until files).foreach { i =>
        val wait = dueMs(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(new File(staging, names(i)).toPath, new File(rawTail, names(i)).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        landedMs(i) = System.currentTimeMillis()
      }
      val drainEnd = System.currentTimeMillis() + DrainSeconds * 1000L
      def committed: Map[String, Long] = {
        val commitMs = progress.asScala.toSeq.filter(_.rows > 0).map(p => p.batch -> p.endMs).toMap
        fileBatches(checkpoint).collect { case (n, b) if commitMs.contains(b) => n -> commitMs(b) }
      }
      while (committed.size < files && System.currentTimeMillis() < drainEnd && query.exception.isEmpty)
        Thread.sleep(50)
      drained = true
      reader.join()
      c.mark("drained")

      val commitOf = committed
      val fresh = (0 until files).map { i =>
        val ok = commitOf.contains(names(i))
        c.attempt(ok)
        if (!ok) c.opFailed(s"${names(i)} landed but never committed")
        if (ok) (commitOf(names(i)) - dueMs(i)).toDouble else Double.PositiveInfinity
      }
      query.exception.foreach(e => c.fail(s"tail stopped: ${e.getMessage.take(300)}"))
      val (traced, plain) = readerOut.get().partition(_.traced)
      val read = plain.map(_.ms)
      val ps = progress.asScala.toSeq.filter(p => p.rows > 0 && p.startMs >= t0).sortBy(_.batch)
      def d(p: Progress, k: String) = p.durations.getOrElse(k, 0L)
      val busyS = ps.map(d(_, "triggerExecution")).sum / 1e3
      c.e2e("latency_p50_ms") = Stats.median(fresh)
      c.info += (("tail_fresh_p50_s", Stats.median(fresh) / 1e3, s"s, over ${fresh.size} landed files"))
      c.info += (("tail_fresh_p90_s", Stats.pct(fresh, 90) / 1e3, s"s, over ${fresh.size} landed files"))
      c.info += (("tail_ingest_logs_per_s", ps.map(_.rows).sum / busyS, s"logs per second of micro-batch time, ${ps.size} batches"))
      c.info += (("tail_read_p50_ms", Stats.median(read), s"ms, over ${read.size} reads"))
      c.info += (("tail_read_p90_ms", Stats.pct(read, 90), s"ms, over ${read.size} reads"))
      c.info += (("tail_read_failed", plain.count(!_.ok).toDouble, s"of ${read.size} reads"))
      c.info += (("landing_rate_logs_per_s", SliceLogs * 1000.0 / MeanLandingMs, s"logs/s in $files files of $SliceLogs logs"))
      c.info += (("gen_late_ms_max", (0 until files).map(i => (landedMs(i) - dueMs(i)).toDouble).max, "ms the lander ran behind its schedule"))

      if (c.trace) {
        def med(f: Progress => Long) = Stats.median(ps.map(p => f(p) / 1e3))
        val byFile = fileBatches(checkpoint)
        val batchFiles = byFile.groupBy(_._2).map { case (b, fs) => b -> fs.keys.toSeq }
        val bs = ps.map(_.batch).toSet
        val ts = c.listener.all.filter(t => bs(t.batch))
        def taskS(layer: String) = ts.filter(_.layer == layer).map(_.runMs).sum / 1e3 / ps.size
        val sliceOf = names.zipWithIndex.toMap
        val touchedN = ps.map(p => touched(batchFiles.getOrElse(p.batch, Nil).flatMap(n => slices(sliceOf(n)))).size).sum
        val logsIn = ps.map(_.rows).sum
        val backlog = (0 until files).map { i =>
          val t = landedMs(i)
          (0 until files).count(j => landedMs(j) <= t) - (0 until files).count(j => commitOf.get(names(j)).exists(_ <= t))
        }
        c.layer ++= Seq(
          "tail.batch_p50_s" -> med(d(_, "triggerExecution")),
          "tail.batch_p90_s" -> Stats.pct(ps.map(d(_, "triggerExecution") / 1e3), 90),
          "tail.add_batch_s" -> med(d(_, "addBatch")),
          "tail.plan_s" -> med(d(_, "queryPlanning")),
          "tail.list_s" -> med(p => d(p, "latestOffset") + d(p, "getBatch")),
          "tail.commit_s" -> med(p => d(p, "walCommit") + d(p, "commitOffsets")),
          "tail.files_per_batch" -> files.toDouble / ps.size,
          "tail.backlog_max_files" -> backlog.max.toDouble,
          "tail.gen_late_ms_max" -> (0 until files).map(i => (landedMs(i) - dueMs(i)).toDouble).max,
          "tail.decode_task_s" -> taskS("decode"),
          "tail.sinks_task_s" -> taskS("sinks"),
          "tail.entriesfold_task_s" -> taskS("entriesfold"),
          "tail.events_read_per_batch" -> ts.map(_.recordsRead).sum.toDouble / ps.size,
          "tail.entries_write_amp" -> (ts.map(_.recordsWritten).sum - logsIn).toDouble / math.max(1, touchedN),
          "trace.read_overhead_frac" -> (Stats.median(traced.map(_.ms)) / Stats.median(read) - 1.0))
        Reader.layerMetrics(c, traced, c.listener.all)
        val wall = (ps.last.endMs - t0).toDouble
        c.layer("trace.batch_cover_frac") = ps.map(p => d(p, "triggerExecution")).sum / math.max(1.0, wall)
        c.measured(c.listener.all, wall / 1e3)
      }
    } finally query.stop()

    // output checks on the final tables
    val c0 = System.nanoTime()
    Checks.events(hi, Land.eventRows(spark, s"$out/events")).foreach(c.fail)
    val ent = spark.read.parquet(s"$out/entries")
    val full = EntriesFold.fold(spark.read.parquet(s"$out/events"))
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val d = df.select(ent.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      d.collect().toSeq.map(Checks.canonRow(d.schema, _))
    }
    Checks.entriesEqual(rows(ent), rows(full)).foreach(c.fail)
    c.info += (("check_s", (System.nanoTime() - c0) / 1e9, "s of final-table checks, outside every metric"))
  }
}
