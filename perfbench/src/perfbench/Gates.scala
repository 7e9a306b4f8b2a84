package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{ArtifactLedger, BlockJanitor, SparkEntry}

/** `gates`: a closed, sequential battery of operator gates over the sf0.01
  * `documents` table shipped in `perfbench/gates/sf0.01`, called as
  * `SparkEntry.queries(name)(spark, sfDir)` with the same release call
  * between gates that `graft.Bench` makes. The IndexStore root is fresh in
  * every run, so artifact builds are cold and land in `setup_s`.
  */
object Gates {
  /** An iterative graph operator with hand-placed checkpoints
    * (gr_pagerank), an iterative CC whose label table SessionCache holds
    * (cc_clusters), and an r19 regression that aggregates a staged corpus
    * IndexStore builds (pl_funnel). The seed picks their order.
    */
  val Names: Seq[String] = Seq("gr_pagerank", "cc_clusters", "pl_funnel")

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Names)

  def sfDir(c: Ctx): String = new File(c.data, "sf0.01").getPath

  /** Recorded fingerprints of results that passed the DuckDB oracle. */
  def expected(c: Ctx): Map[String, Checks.Fp] = {
    val root = new ObjectMapper().readTree(new File(c.data, "expected.json"))
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Checks.Fp(v.get("rows").asLong(), v.get("hash").asText(),
        v.get("fsums").fields().asScala.map(f => f.getKey -> f.getValue.asDouble()).toMap)
    }.toMap
  }

  def pinnedMb(c: Ctx): Double =
    c.sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Stats.MiB

  def run(c: Ctx): Unit = {
    val spark = c.spark
    implicit val sc = c.sc
    val sf = sfDir(c)
    val want = c.gen(expected(c))
    val gates = order(c.seed)
    val queries = SparkEntry.queries

    // cold pass: artifact builds, codegen, and the output check of each gate
    var checkNs = 0L
    gates.foreach { g =>
      BlockJanitor.sweep(spark)
      val g0 = System.nanoTime()
      val ok = try {
        val df = queries(g)(spark, sf)
        val rows = df.collect().toSeq
        val t0 = System.nanoTime()
        val err = Checks.gate(g, want(g), Checks.fingerprint(df.schema, rows))
        checkNs += System.nanoTime() - t0
        err.foreach(c.fail)
        err.isEmpty
      } catch { case t: Exception => c.opFailed(s"$g: $t"); false }
      c.attempt(ok)
      c.mark(f"cold $g ${(System.nanoTime() - g0) / 1e9}%.3f s")
    }
    Heap.sample(c, "after set-up")
    c.setupS = c.sinceStart - checkNs / 1e9
    val artifactS = ArtifactLedger.snapshot.values.sum
    c.listener.clear()

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    gates.foreach(times(_) = mutable.ArrayBuffer.empty)
    // in the traced run every other gate of a pass carries a span, the
    // other half the next pass, so each gate is timed both ways
    val spannedRuns = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val plainRuns = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var pinned = 0.0
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val tw0 = System.nanoTime()
    c.loop(4) { pass =>
      var wall = 0.0
      gates.zipWithIndex.foreach { case (g, k) =>
        val spanned = c.trace && (pass + k) % 2 == 1
        BlockJanitor.sweep(spark)
        val t0 = System.nanoTime()
        val ok = try {
          if (spanned) c.tracer.span(s"gate.$g", pass)(queries(g)(spark, sf).count())
          else queries(g)(spark, sf).count()
          true
        } catch { case t: Exception => c.opFailed(s"$g: $t"); false }
        val s = if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity
        c.mark(f"pass $pass $g $s%.3f s")
        times(g) += s
        wall += s
        (if (spanned) spannedRuns else plainRuns).getOrElseUpdate(g, mutable.ArrayBuffer.empty) += s
        c.attempt(ok)
        if (c.trace) pinned = math.max(pinned, pinnedMb(c))
      }
      passWalls += wall
    }
    val tw1 = System.nanoTime()
    Heap.sample(c, "after the measured work")

    val medians = times.map { case (g, ts) => g -> Stats.median(ts.toSeq) }
    val total = medians.values.sum
    val all = times.values.flatten.toSeq
    c.e2e("throughput_per_s") = Names.size / total
    // a pass over the gates is what a user of the battery waits for; a
    // single gate's median would be whichever gate sits in the middle
    c.e2e("latency_p50_ms") = Stats.median(passWalls.toSeq) * 1e3
    c.info += (("gate_p50_ms", Stats.median(all) * 1e3, s"ms per gate run, over ${all.size} runs"))
    c.info += (("gate_p90_ms", Stats.pct(all, 90) * 1e3, s"ms per gate run, over ${all.size} runs"))
    c.info += (("gates_total_s", total, s"s, sum over ${Names.size} gates of the median of ${times.head._2.size} timed passes"))
    c.info += (("artifact_build_s", artifactS, "s of cold artifact builds inside setup_s"))

    if (c.trace) {
      medians.foreach { case (g, m) => c.layer(s"gate.${g}_s") = m }
      c.layer("gates.lowhigh_min") = times.values.map(ts => ts.min / ts.max).min
      c.layer("gates.pinned_mb_max") = pinned
      c.layer("gates.artifact_build_s") = artifactS
      // geometric mean over gates of spanned ÷ plain wall: the JIT speed-up
      // from one pass to the next falls on both sides, as neighbouring gates
      // alternate which of them is spanned first
      val ratios = gates.filter(g => spannedRuns.contains(g) && plainRuns.contains(g))
        .map(g => math.log(Stats.median(spannedRuns(g).toSeq) / Stats.median(plainRuns(g).toSeq)))
      c.layer("trace.overhead_frac") = math.exp(ratios.sum / ratios.size) - 1.0
      val gs = c.tracer.spans
      // the plain half of the gates carries no span by design: cover is the
      // spanned walls over the wall of the spanned gates
      c.layer("trace.span_cover_frac") =
        if (gs.isEmpty) 0.0 else gs.map(_.seconds).sum / spannedRuns.values.flatten.sum
      c.measured(c.listener.all, (tw1 - tw0) / 1e9)
    }
  }

  /** Writes each gate's result, its oracle SQL and its fingerprint under
    * `.bench_build/gates_dump`, for `perfbench/gates_oracle.py` to check
    * against DuckDB and record as `gates/expected.json`.
    */
  def dump(c: Ctx): Unit = {
    val spark = c.spark
    val sf = sfDir(c)
    val out = new File(c.work.getParentFile.getParentFile, "gates_dump")
    Land.rm(out)
    out.mkdirs()
    val fps = Names.map { g =>
      BlockJanitor.sweep(spark)
      val df = SparkEntry.queries(g)(spark, sf)
      val rows = df.collect().toSeq
      spark.createDataFrame(rows.asJava, df.schema).coalesce(1).write.parquet(new File(out, g).getPath)
      val fp = Checks.fingerprint(df.schema, rows)
      c.attempt(true)
      g -> ListMap("rows" -> fp.rows, "hash" -> fp.hash, "fsums" -> fp.fsums)
    }
    Files.write(new File(out, "fingerprints.json").toPath, Json.write(ListMap(fps: _*)).getBytes(UTF_8))
    val oracle = SparkEntry.oracleSql
    Files.write(new File(out, "oracle_sql.json").toPath,
      Json.write(ListMap(Names.map(g => g -> oracle.getOrElse(g, "")): _*)).getBytes(UTF_8))
  }
}
