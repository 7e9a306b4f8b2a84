package perfbench

/** `pipeline`: the Hypermap pipeline end to end in one JVM. The backfill
  * phase lands a seeded chain through `Rpc.fetch` and builds the tables
  * with `EtlJob.run`; the tail phase runs `Tail.startWithEntries` on those
  * tables while later slices of the same chain land and a reader queries
  * the live tables. The tail reuses the backfill's warm JVM, so the run
  * pays for one cold start where two workloads would pay for two.
  */
object Pipeline {
  def run(c: Ctx): Unit = {
    val chain = c.gen(Gen.chain(Backfill.Logs + TailLoad.files(c.seconds) * TailLoad.SliceLogs, c.seed))
    val backfilled = chain.take(Backfill.Logs)
    val tables = Backfill.run(c, backfilled, c.gen(new Gen.Truth(backfilled)))
    Heap.sample(c, "after the backfill")
    TailLoad.run(c, chain, Backfill.Logs, tables)
    Heap.sample(c, "after the tail")
  }
}
