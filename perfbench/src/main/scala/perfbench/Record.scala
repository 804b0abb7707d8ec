package perfbench

/** Prints the expected outputs the benchmark checks against: the
  * fingerprint of every deck query and the backfill's table row counts.
  * Record them once, after `graft.Verify` and `scripts/check.py` have
  * matched the oracle on the same data.
  * Usage: `python3 perfbench/run.py --record` */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, work) = args
    val spark = Main.session(4, work)
    val fps = (Decks.report ++ Decks.curation).map { n =>
      n -> Fingerprint.of(graft.SparkEntry.queries(n)(spark, data))
    }
    println("== fingerprints.tsv")
    fps.foreach { case (n, fp) => println(s"$n\t$fp") }
    println("== backfill.tsv")
    graft.etl.StarEtl.runBatch(spark, data, s"$work/backfill").toSeq.sorted
      .foreach { case (t, c) => println(s"$t\t$c") }
    spark.stop()
  }
}
