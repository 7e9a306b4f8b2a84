package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.hypermap.{Decode, Fixtures}

/** Everything the workloads feed the program, made from the seed alone:
  * the chain, the 429 schedule of the mock node, the tail's chunk files and
  * landing times, and the read query sequence. The generator also knows
  * the answers, which is what the output checks compare against.
  */
object Gen {
  type Log = Fixtures.Log

  val Types: IndexedSeq[String] = IndexedSeq("Mint", "Note", "Fact", "Transfer", "Gene")

  /** One power-law `Fixtures.randomLogs` chain. */
  def chain(n: Int, seed: Long): IndexedSeq[Log] = Fixtures.randomLogs(n, seed).toIndexedSeq

  /** eth_getLogs request ordinals the mock answers with HTTP 429: `bursts`
    * bursts of 1 to 3 requests, below `Rpc.MaxRetries` so every chunk still
    * lands, starting at seeded ordinals below `span`. A fixed burst count
    * keeps the share of retried chunks the same for every seed.
    */
  def failPlan(seed: Long, span: Int, bursts: Int): Set[Int] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val starts = rnd.shuffle((0 until span / 5).toList).take(bursts).map(_ * 5)
    starts.flatMap(s => s until s + 1 + rnd.nextInt(3)).toSet
  }

  /** A log as the checks see it. */
  final case class Ev(kind: String, block: Long, logIndex: Int, parent: String, child: String,
                      label: String, id: String, to: String, entry: String) {
    def key: (Long, Int) = (block, logIndex)
  }

  private def addr(word: String): String = "0x" + word.takeRight(40)

  private def firstBytesArg(data: String): String = {
    val hex = data.stripPrefix("0x")
    val len = Integer.parseInt(hex.substring(64, 128).dropWhile(_ == '0') match {
      case "" => "0"; case s => s }, 16)
    new String(graft.functions.Keccak.hexToBytes("0x" + hex.substring(128, 128 + 2 * len)), UTF_8)
  }

  def parse(l: Log): Ev = {
    val t = l.topics
    val kind = t.head match {
      case Decode.SigMint => "Mint"
      case Decode.SigNote => "Note"
      case Decode.SigFact => "Fact"
      case Decode.SigTransfer => "Transfer"
      case Decode.SigGene => "Gene"
      case other => sys.error(s"generator emitted an unknown topic0 $other")
    }
    kind match {
      case "Mint" => Ev(kind, l.blockNumber, l.logIndex, t(1), t(2), firstBytesArg(l.data), null, null, null)
      case "Note" | "Fact" => Ev(kind, l.blockNumber, l.logIndex, t(1), null, null, null, null, null)
      case "Transfer" => Ev(kind, l.blockNumber, l.logIndex, null, null, null,
        new java.math.BigInteger(t(3).stripPrefix("0x"), 16).toString, addr(t(2)), null)
      case _ => Ev(kind, l.blockNumber, l.logIndex, null, null, null, null, null, t(1))
    }
  }

  /** What a correct pipeline must produce from `logs`. */
  final class Truth(logs: Seq[Log]) {
    val evs: IndexedSeq[Ev] = logs.map(parse).toIndexedSeq
    val byType: Map[String, Long] =
      Types.map(t => t -> evs.count(_.kind == t).toLong).toMap
    val total: Long = evs.size.toLong
    /** childhash -> label, in mint order. */
    val mintedSeq: IndexedSeq[(String, String)] = evs.filter(_.kind == "Mint").map(e => e.child -> e.label)
    val minted: Map[String, String] = mintedSeq.toMap
    /** token id -> the last Transfer's recipient. */
    val owners: Map[String, String] = evs.filter(_.kind == "Transfer").sortBy(_.key)
      .foldLeft(Map.empty[String, String])((m, e) => m.updated(e.id, e.to))
    val lastBlock: Long = evs.map(_.block).max
    /** The Q1 contract order: newest first. */
    def newestFirst(t: String): IndexedSeq[(Long, Int)] =
      evs.filter(e => t == "All" || e.kind == t).map(_.key).sortBy { case (b, i) => (-b, -i) }
    private lazy val ordered: Map[String, IndexedSeq[(Long, Int)]] =
      (Types :+ "All").map(t => t -> newestFirst(t)).toMap
    def order(t: String): IndexedSeq[(Long, Int)] = ordered(t)
    /** Rows `QueryService.getEventsForEntry` returns for `h`. */
    lazy val q2Counts: Map[String, Long] = evs.flatMap { e =>
      e.kind match {
        case "Mint" => Seq(e.parent, e.child).distinct
        case "Note" | "Fact" => Seq(e.parent)
        case "Gene" => Seq(e.entry)
        case _ => Seq(e.id)
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def chunkCounts(chunk: Long): Map[(Long, String), Long] =
      evs.groupBy(e => (Math.floorDiv(e.block, chunk) * chunk, e.kind)).map { case (k, v) => k -> v.size.toLong }
  }

  // ------------------------------------------------------------ queries

  sealed trait Query { def kind: String }
  final case class Q1Page(t: String, page: Int, limit: Int) extends Query { val kind = "q1_page" }
  final case class Q1Keyset(t: String, afterBlock: Long, afterLog: Int, limit: Int) extends Query {
    val kind = "q1_keyset"
  }
  final case class Q2Entry(h: String) extends Query { val kind = "q2_entry" }
  final case class Q3Lookup(h: String) extends Query { val kind = "q3_lookup" }
  final case class A1Status() extends Query { val kind = "a1_status" }
  final case class A3Sync(head: Long) extends Query { val kind = "a3_sync" }
  final case class A5Chunks(chunk: Long) extends Query { val kind = "a5_chunks" }

  val QueryKinds: Seq[String] =
    Seq("q1_page", "q1_keyset", "q2_entry", "q3_lookup", "a1_status", "a3_sync", "a5_chunks")

  /** The read mix over what `truth` holds: the seven query kinds in turn,
    * each with seeded arguments, so every seed loads the tables the same
    * way. Q2 draws its entry power-law (hubs recur); the limit is drawn past
    * both ends of the [1,100] clamp so the clamp itself is exercised.
    */
  def queries(seed: Long, n: Int, truth: Truth): IndexedSeq[Query] = {
    val rnd = new scala.util.Random(seed * 131 + 3)
    val minted = truth.mintedSeq.map(_._1)
    def powerLaw(): String = minted(math.min(minted.size - 1, (math.pow(rnd.nextDouble(), 3.0) * minted.size).toInt))
    def anyType(): String = (Types :+ "All")(rnd.nextInt(Types.size + 1))
    def limit(): Int = Seq(0, 10, 20, 50, 100, 150)(rnd.nextInt(6))
    (0 until n).map { i =>
      QueryKinds(i % QueryKinds.size) match {
        case "q1_page" => Q1Page(anyType(), 1 + rnd.nextInt(5), limit())
        case "q1_keyset" =>
          val t = anyType()
          val o = truth.order(t)
          val (b, li) = o(rnd.nextInt(o.size))
          Q1Keyset(t, b, li, limit())
        case "q2_entry" => Q2Entry(powerLaw())
        case "q3_lookup" => Q3Lookup(minted(rnd.nextInt(minted.size)))
        case "a1_status" => A1Status()
        case "a3_sync" => A3Sync(truth.lastBlock + 100)
        case _ => A5Chunks(5000L)
      }
    }
  }

  // ------------------------------------------------------------ tail inputs

  /** One raw-log NDJSON chunk file, in the shape `Rpc.fetch` lands. */
  def ndjson(logs: Seq[Log]): Array[Byte] = {
    val sb = new StringBuilder
    logs.foreach { l =>
      sb.append("{\"address\":").append(Json.write(l.address))
        .append(",\"topics\":").append(Json.write(l.topics))
        .append(",\"data\":").append(Json.write(l.data))
        .append(",\"blockNumber\":").append(l.blockNumber)
        .append(",\"blockHash\":").append(Json.write(l.blockHash))
        .append(",\"transactionHash\":").append(Json.write(l.transactionHash))
        .append(",\"transactionIndex\":").append(l.transactionIndex)
        .append(",\"logIndex\":").append(l.logIndex).append("}\n")
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Landing offsets in ms: one file every `meanMs`, each moved by a
    * seeded jitter of up to half an interval, so the window is fixed.
    */
  def schedule(seed: Long, files: Int, meanMs: Double): IndexedSeq[Long] = {
    val rnd = new scala.util.Random(seed * 17 + 11)
    (0 until files).map(i => ((i + 0.5 + (rnd.nextDouble() - 0.5)) * meanMs).toLong)
  }

  /** Digest of everything a seed produces, for the determinism self-test. */
  def digest(parts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }
}
