package perfbench

/** A shortest run of every workload, in one JVM, so the JVM can archive the
  * classes they load (class-data sharing) and later runs start faster.
  * Usage: `Train <data> <work> <bench>` */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(data, work, bench) = args
    Seq("report_mix", "log_ingest", "curation_batch").foreach { w =>
      Main.run(Array("--workload", w, "--seed", "0", "--seconds", "0", "--trace", "0",
        "--data", data, "--work", s"$work/$w", "--bench", bench, "--spans", s"$work/spans.jsonl"))
    }
  }
}
