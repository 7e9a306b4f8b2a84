package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.hypermap.Rpc

/** Shared steps: land a chain through the mock node, read tables back for
  * the checks, remove scratch directories.
  */
object Land {
  /** Lands `logs` one chunk per `Rpc.fetch` call and returns each call's
    * latency in ms, or infinity for a call that threw. The 429 bursts of
    * `plan` run the retry path; the no-op sleeper keeps backoff off the clock.
    */
  def fetch(c: Ctx, logs: Seq[Gen.Log], rawDir: File, chunk: Long, plan: Set[Int]): (Seq[Double], Long, Long, Long) = {
    val from = logs.head.blockNumber
    val to = logs.last.blockNumber
    val rpc = new Rpc.MockRpc(logs, to, o => plan(o))
    val lat = ArrayBuffer.empty[Double]
    var landed = 0L
    var retries = 0L
    try {
      var s = from
      while (s <= to) {
        val e = math.min(s + chunk - 1, to)
        val t0 = System.nanoTime()
        val ok = try {
          val rep = Rpc.fetch(rpc.endpoint, s, e, rawDir.getPath, chunkSize = chunk, sleeper = _ => ())
          landed += rep.logs
          retries += rep.retries
          true
        } catch { case t: Exception => c.opFailed(s"Rpc.fetch $s-$e: $t"); false }
        lat += (if (ok) (System.nanoTime() - t0) / 1e6 else Double.PositiveInfinity)
        c.attempt(ok)
        s = e + 1
      }
      (lat.toSeq, landed, retries, rpc.logsRequests.toLong)
    } finally rpc.stop()
  }

  def eventRows(spark: SparkSession, dir: String): Seq[Checks.EvRow] =
    spark.read.parquet(dir).select("event_id", "eventType", "blockNumber", "logIndex", "to", "id")
      .collect().toSeq.map(r => Checks.EvRow(r.getString(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.getString(4), r.getString(5)))

  def entryLabels(spark: SparkSession, dir: String): Seq[(String, String)] =
    spark.read.parquet(dir).select("namehash", "label").collect().toSeq.map(r => r.getString(0) -> r.getString(1))

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(): Unit
  }
}
