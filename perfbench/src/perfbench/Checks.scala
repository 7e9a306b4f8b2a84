package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import Gen.{Query, Truth}

/** Output checks. Each takes plain collected values, so the self-test can
  * hand it a corrupted result and show that it fails. An empty result
  * means the output is correct.
  */
object Checks {

  /** One `events` row as the checks read it. */
  final case class EvRow(id: String, kind: String, block: Long, logIndex: Int, to: String, tokenId: String) {
    def key: (Long, Int) = (block, logIndex)
  }

  private def diff[K, V](what: String, want: Map[K, V], got: Map[K, V]): Seq[String] = {
    val bad = (want.keySet ++ got.keySet).filter(k => want.get(k) != got.get(k)).toSeq
    if (bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} keys differ, e.g. ${bad.take(3).map(k => s"$k want=${want.get(k)} got=${got.get(k)}").mkString("; ")}")
  }

  /** The events table holds each generated log exactly once, decoded. */
  def events(t: Truth, rows: Seq[EvRow]): Seq[String] = {
    val dupIds = rows.groupBy(_.id).collect { case (id, rs) if rs.size > 1 => id }
    val dupKeys = rows.groupBy(_.key).collect { case (k, rs) if rs.size > 1 => k }
    val want = t.evs.map(_.key).toSet
    val got = rows.map(_.key).toSet
    val missing = want -- got
    val extra = got -- want
    Seq(
      if (dupIds.nonEmpty) Some(s"duplicate event_id: ${dupIds.size}, e.g. ${dupIds.head}") else None,
      if (dupKeys.nonEmpty) Some(s"log landed more than once: ${dupKeys.size}, e.g. ${dupKeys.head}") else None,
      if (missing.nonEmpty) Some(s"missing logs: ${missing.size}, e.g. ${missing.head}") else None,
      if (extra.nonEmpty) Some(s"unexpected logs: ${extra.size}, e.g. ${extra.head}") else None).flatten ++
      diff("count by eventType", t.byType.filter(_._2 > 0),
        rows.groupBy(_.kind).map { case (k, v) => k -> v.size.toLong }) ++
      diff("transferred owners", t.owners,
        rows.filter(_.kind == "Transfer").sortBy(_.key).foldLeft(Map.empty[String, String])((m, r) => m.updated(r.tokenId, Option(r.to).map(_.toLowerCase).orNull)))
  }

  /** Every minted name is an entry with its label, and nothing else is. */
  def minted(t: Truth, entries: Seq[(String, String)]): Seq[String] =
    diff("minted names", t.minted, entries.toMap) ++
      (if (entries.size != entries.map(_._1).distinct.size) Seq("entries: duplicate namehash") else Nil)

  /** Entries kept by the tail equal a full fold of the final events. Rows
    * are compared as canonical strings, as multisets.
    */
  def entriesEqual(tail: Seq[String], fold: Seq[String]): Seq[String] = {
    def bag(xs: Seq[String]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val a = bag(tail)
    val b = bag(fold)
    val bad = (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    if (bad.isEmpty) Nil
    else Seq(s"tail entries differ from a full fold: ${bad.size} rows, e.g. ${bad.head.take(160)}")
  }

  // ------------------------------------------------------------ queries

  sealed trait Answer
  final case class Page(rows: Seq[(Long, Int)], total: Long) extends Answer
  final case class Keys(rows: Seq[(Long, Int)]) extends Answer
  final case class Entry(rows: Seq[(String, String)]) extends Answer
  final case class Counts(m: Map[String, Long]) extends Answer
  final case class Sync(lastBlock: Long, next: Long) extends Answer
  final case class Chunks(m: Map[(Long, String), Long]) extends Answer

  private def clamp(limit: Int): Int = math.min(100, math.max(1, limit))

  private def newestFirst(rows: Seq[(Long, Int)]): Boolean =
    rows.zip(rows.drop(1)).forall { case ((b1, i1), (b2, i2)) => b1 > b2 || (b1 == b2 && i1 > i2) }

  private def within(what: String, v: Long, lo: Long, hi: Long): Option[String] =
    if (v < lo || v > hi) Some(s"$what=$v outside [$lo, $hi]") else None

  /** Checks one answer. `lo` and `hi` are what the table held at the
    * earliest and latest moment the query could have read; they are the
    * same truth when the table does not change (serve), and then the
    * answer must be exact.
    */
  def query(q: Query, a: Answer, lo: Truth, hi: Truth): Option[String] = {
    val exact = lo eq hi
    (q, a) match {
      case (Gen.Q1Page(t, p, l), Page(rows, total)) =>
        val want = hi.order(t).slice((p - 1) * clamp(l), p * clamp(l))
        if (rows.size > clamp(l)) Some(s"q1 page holds ${rows.size} rows, above the clamp ${clamp(l)}")
        else if (!newestFirst(rows)) Some("q1 page not in contract order")
        else if (exact && total != hi.order(t).size) Some(s"q1 total=$total want ${hi.order(t).size}")
        else if (exact && rows != want) Some(s"q1 page $p of $t: rows differ from the contract slice")
        else within("q1 total", total, lo.order(t).size, hi.order(t).size)
      case (Gen.Q1Keyset(t, b, i, l), Keys(rows)) =>
        val want = hi.order(t).filter { case (rb, ri) => rb < b || (rb == b && ri < i) }.take(clamp(l))
        if (rows.size > clamp(l)) Some(s"q1 keyset holds ${rows.size} rows, above the clamp ${clamp(l)}")
        else if (!newestFirst(rows)) Some("q1 keyset not in contract order")
        else if (!rows.forall { case (rb, ri) => rb < b || (rb == b && ri < i) }) Some("q1 keyset row not below the key")
        else if (rows != want) Some("q1 keyset rows differ from the contract slice")
        else None
      case (Gen.Q2Entry(h), Keys(rows)) =>
        if (rows != rows.sorted) Some("q2 not in ascending chain order")
        else within(s"q2 rows for $h", rows.size.toLong, lo.q2Counts.getOrElse(h, 0L), hi.q2Counts.getOrElse(h, 0L))
      case (Gen.Q3Lookup(h), Entry(rows)) =>
        if (rows != Seq(h -> hi.minted(h))) Some(s"q3 for $h returned ${rows.take(3)}, want exactly the minted entry")
        else None
      case (Gen.A1Status(), Counts(m)) =>
        Gen.Types.flatMap(t => within(s"a1 $t", m.getOrElse(t, 0L), lo.byType(t), hi.byType(t))).headOption
      case (Gen.A3Sync(_), Sync(last, next)) =>
        if (next != last + 1) Some("a3 nextStartBlock is not lastBlock + 1")
        else within("a3 lastBlock", last, lo.lastBlock, hi.lastBlock)
      case (Gen.A5Chunks(c), Chunks(m)) =>
        if (exact) diff("a5 chunk counts", hi.chunkCounts(c), m).headOption
        else within("a5 total", m.values.sum, lo.total, hi.total)
      case _ => Some(s"answer ${a.getClass.getSimpleName} does not fit query ${q.kind}")
    }
  }

  // ------------------------------------------------------------ gates

  /** A gate result reduced to a row count, a hash of every non-float value
    * and a sum per float column. Floats are summed, not hashed, so the
    * last-bit drift of a parallel sum cannot fail a correct gate.
    */
  final case class Fp(rows: Long, hash: String, fsums: Map[String, Double])

  private def canon(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "∅"
    case (d: Double, _) => "%.9g".format(d)
    case (f: Float, _) => "%.6g".format(f.toDouble)
    case (d: java.math.BigDecimal, _) => d.stripTrailingZeros.toPlainString
    case (d: scala.math.BigDecimal, _) => d.bigDecimal.stripTrailingZeros.toPlainString
    case (b: Array[Byte], _) => b.map("%02x".format(_)).mkString
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) => xs.map(canon(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => canon(k, kt) + "=" + canon(x, vt) }.sorted.mkString("{", ",", "}")
    case (r: Row, st: StructType) => st.fields.indices.map(i => canon(r.get(i), st.fields(i).dataType)).mkString("(", ",", ")")
    case (x, _) => x.toString
  }

  /** A row as one canonical string (map entries sorted). */
  def canonRow(schema: StructType, r: Row): String = canon(r, schema)

  def fingerprint(schema: StructType, rows: Seq[Row]): Fp = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val isFloat: DataType => Boolean = { case DoubleType | FloatType => true; case _ => false }
    val lines = rows.map { r =>
      cols.map { case (f, i) =>
        if (isFloat(f.dataType)) (if (r.isNullAt(i)) "∅" else "F") else canon(r.get(i), f.dataType)
      }.mkString("\u0001")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.map { case (f, _) => f.name }.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(Array[Byte](10)) }
    val fsums = cols.collect { case (f, i) if isFloat(f.dataType) =>
      f.name -> rows.filterNot(_.isNullAt(i)).map(r => r.getAs[Any](i) match {
        case d: Double => d; case x: Float => x.toDouble; case _ => 0.0 }).sum
    }.toMap
    Fp(rows.size.toLong, md.digest().map("%02x".format(_)).mkString, fsums)
  }

  def gate(name: String, want: Fp, got: Fp): Option[String] =
    if (want.rows != got.rows) Some(s"$name: ${got.rows} rows, want ${want.rows}")
    else if (want.hash != got.hash) Some(s"$name: non-float values differ from the oracle-checked result")
    else want.fsums.collectFirst {
      case (c, w) if !got.fsums.get(c).exists(g => math.abs(g - w) <= 1e-6 * math.max(1.0, math.max(math.abs(g), math.abs(w)))) =>
        s"$name: float column $c sums to ${got.fsums.get(c)}, want $w"
    }
}
