package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Self-test of the benchmark itself, run by `run.py --selftest`:
  *   - every output check accepts a correct result and rejects a corrupted
  *     one (a dropped event, a duplicated event_id, a stale entry, a
  *     mis-ordered page, a wrong gate result);
  *   - the inputs are a pure function of the seed: the same seed gives
  *     byte-identical inputs, another seed changes each of them.
  * Needs no Spark session.
  */
object SelfTest {
  private var ok = true

  private def expect(what: String, cond: Boolean): Unit = {
    println(s"${if (cond) "PASS" else "FAIL"}  $what")
    ok &&= cond
  }

  private def rejects(what: String, errs: Seq[String]): Unit =
    expect(s"$what is rejected${errs.headOption.map(e => s" ($e)").getOrElse("")}", errs.nonEmpty)

  def run(data: java.io.File): Boolean = {
    ok = true
    val chain = Gen.chain(3000, 5L)
    val truth = new Gen.Truth(chain)
    val rows = truth.evs.zipWithIndex.map { case (e, i) =>
      Checks.EvRow(s"0x$i", e.kind, e.block, e.logIndex, Option(e.to).map(_.toUpperCase.replace("0X", "0x")).orNull, e.id)
    }
    val entries = truth.mintedSeq

    expect("correct events pass", Checks.events(truth, rows).isEmpty)
    expect("correct entries pass", Checks.minted(truth, entries).isEmpty)
    rejects("a dropped event", Checks.events(truth, rows.patch(17, Nil, 1)))
    rejects("a duplicated event_id", Checks.events(truth, rows :+ rows(42).copy(block = rows.last.block + 1)))
    val lastXfer = rows.lastIndexWhere(_.kind == "Transfer")
    rejects("a wrong owner", Checks.events(truth, rows.updated(lastXfer, rows(lastXfer).copy(to = "0x" + "77" * 20))))
    rejects("a missing minted name", Checks.minted(truth, entries.drop(1)))

    val fold = entries.map { case (h, l) => s"($h,$l,{},7)" }
    expect("equal entries pass", Checks.entriesEqual(fold.reverse, fold).isEmpty)
    rejects("a stale entry", Checks.entriesEqual(fold.updated(3, fold(3).replace(",7)", ",6)")), fold))

    val page = Gen.Q1Page("Mint", 2, 20)
    val want = truth.order("Mint").slice(20, 40)
    val total = truth.order("Mint").size.toLong
    expect("a correct page passes", Checks.query(page, Checks.Page(want, total), truth, truth).isEmpty)
    rejects("a mis-ordered page", Checks.query(page, Checks.Page(want.reverse, total), truth, truth).toSeq)
    rejects("a page past the [1,100] clamp",
      Checks.query(Gen.Q1Page("All", 1, 150), Checks.Page(truth.order("All").take(150), truth.total), truth, truth).toSeq)
    rejects("a wrong Q1 total", Checks.query(page, Checks.Page(want, total - 1), truth, truth).toSeq)
    val h = entries(5)._1
    rejects("a Q3 lookup returning two rows",
      Checks.query(Gen.Q3Lookup(h), Checks.Entry(Seq(entries(5), entries(5))), truth, truth).toSeq)

    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val gateRows = (0 until 50).map(i => Row(i.toLong, s"n$i", i * 0.37))
    val fp = Checks.fingerprint(schema, gateRows)
    expect("a reordered gate result passes", Checks.gate("g", fp, Checks.fingerprint(schema, gateRows.reverse)).isEmpty)
    rejects("a wrong gate value", Checks.gate("g", fp,
      Checks.fingerprint(schema, gateRows.updated(7, Row(7L, "n8", 7 * 0.37)))).toSeq)
    rejects("a wrong gate float", Checks.gate("g", fp,
      Checks.fingerprint(schema, gateRows.updated(7, Row(7L, "n7", 7 * 0.38)))).toSeq)
    rejects("a dropped gate row", Checks.gate("g", fp, Checks.fingerprint(schema, gateRows.drop(1))).toSeq)

    // inputs are a pure function of the seed
    def inputs(seed: Long): Seq[String] = {
      val ch = Gen.chain(2000, seed)
      val t = new Gen.Truth(ch)
      Seq(
        Gen.digest(ch.map(_.toString.getBytes("UTF-8"))),
        Gen.digest(Seq(Gen.failPlan(seed, 10, Backfill.Bursts).toSeq.sorted.mkString(",").getBytes("UTF-8"))),
        Gen.digest(ch.grouped(TailLoad.SliceLogs).map(Gen.ndjson).toSeq),
        Gen.digest(Seq(Gen.schedule(seed, TailLoad.files(2), TailLoad.MeanLandingMs).mkString(",").getBytes("UTF-8"))),
        Gen.digest(Seq(Gen.queries(seed, 500, t).mkString(",").getBytes("UTF-8"))))
    }
    val parts = Seq("chain", "429 schedule", "chunk files", "landing schedule", "query sequence")
    val a = inputs(7L)
    val b = inputs(7L)
    val c = inputs(8L)
    parts.indices.foreach { i =>
      expect(s"same seed, same ${parts(i)}", a(i) == b(i))
      expect(s"other seed, other ${parts(i)}", a(i) != c(i))
    }
    // three gates have six orders, so two seeds may share one
    expect("same seed, same gate order", Gates.order(7L) == Gates.order(7L))
    expect("the gate order depends on the seed", (1L to 20L).map(Gates.order).distinct.size > 1)
    ok
  }
}
