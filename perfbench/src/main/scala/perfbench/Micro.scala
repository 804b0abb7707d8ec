package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{LongDot, Md5Word, MinHashSig, ShingleHashes, SimhashPacked}
import graft.model.Tables

/** Layers timed alone, outside the end-to-end timing: table resolution,
  * the two log parsers and the native kernels. */
final class Micro(ctx: Ctx) {
  private val spark = ctx.spark

  private val jobs = new AtomicInteger(0)
  private val counter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  /** Wall milliseconds and Spark jobs of `body`. */
  private def measure(body: => Unit): (Double, Int) = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val j0 = jobs.get()
    val t0 = System.nanoTime()
    body
    val ms = Stats.ms(System.nanoTime() - t0)
    PerfbenchBridge.drainListeners(spark.sparkContext)
    (ms, jobs.get() - j0)
  }

  private def withCounter[T](body: => T): T = {
    spark.sparkContext.addSparkListener(counter)
    try body finally spark.sparkContext.removeSparkListener(counter)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Rows per second of `f` over a cached input, median of 3. */
  private def rowsPerS(input: DataFrame, rows: Long)(f: DataFrame => DataFrame): Double = {
    noop(f(input))   // compile and warm once
    rows / (Stats.median((1 to 3).map(_ => measure(noop(f(input)))._1)) / 1000)
  }

  private def cached(df: DataFrame): DataFrame = {
    val c = df.repartition(ctx.cores).cache()
    c.count()
    c
  }

  /** Each loader of `graft.model.Tables`, a first call then four repeats. */
  def tables(): Map[String, Double] = withCounter {
    val loaders: Seq[String => DataFrame] = Seq(
      Tables.region(spark, _), Tables.nation(spark, _), Tables.customer(spark, _),
      Tables.supplier(spark, _), Tables.part(spark, _), Tables.orders(spark, _),
      Tables.lineitem(spark, _), Tables.events(spark, _), Tables.documents(spark, _),
      Tables.embeddings(spark, _))
    val calls = (1 to 5).flatMap(_ => loaders.map(l => measure(l(ctx.data))))
    Map(
      "tables.resolve_ms" -> Stats.mean(calls.map(_._1)),
      "tables.resolve_first_ms" -> Stats.mean(calls.take(loaders.size).map(_._1)),
      "tables.resolve_jobs" -> Stats.mean(calls.map(_._2.toDouble)))
  }

  /** The style-5 and Caudium parsers over one generated rotation each. */
  def parse(): Map[String, Double] = withCounter {
    import spark.implicits._
    val gen = new LogGen(ctx.seed + 17)
    val s5 = gen.rotation(5, web = false, 100000, None)
    val wb = gen.rotation(5, web = true, 100000, None)
    val s5df = cached(s5.lines.toSeq.toDF("value"))
    val wbdf = cached(wb.lines.toSeq.toDF("value"))
    val out = Map(
      "parse.style5_lines_per_s" ->
        rowsPerS(s5df, s5.lines.length)(graft.streaming.StreamEtl.parseLines),
      "parse.web_lines_per_s" ->
        rowsPerS(wbdf, wb.lines.length)(graft.streaming.StreamEtl.parseWebLines),
      "parse.accept_ratio" ->
        graft.streaming.StreamEtl.parseLines(s5df).count().toDouble / s5.lines.length)
    s5df.unpersist(); wbdf.unpersist()
    out
  }

  /** Each native kernel's public `apply` over generated columns. */
  def kernels(): Map[String, Double] = withCounter {
    val n = 200000L
    val id = col("id") + lit(ctx.seed)
    def words(k: Int): Column =
      transform(sequence(lit(1), lit(k)), i => concat(lit("w"), pmod(xxhash64(id, i), lit(5000L)).cast("string")))
    val base = cached(spark.range(n).select(
      concat_ws(" ", words(12)).as("text"),
      words(20).as("toks"),
      transform(sequence(lit(1), lit(30)), i => pmod(xxhash64(id, i, lit(1)), lit(4294967296L))).as("hs"),
      transform(sequence(lit(1), lit(64)), i => pmod(xxhash64(id, i, lit(2)), lit(2001L)) - 1000L).as("a"),
      transform(sequence(lit(1), lit(64)), i => pmod(xxhash64(id, i, lit(3)), lit(2001L)) - 1000L).as("b")))
    val affine = (1 to 64).map(i => (i * 2654435761L % 4294967311L, i * 40503L))
    val out = Map(
      "kernel.md5word_rows_per_s" -> rowsPerS(base, n)(_.select(Md5Word(col("text"), "k_", hi = true))),
      "kernel.simhash_rows_per_s" -> rowsPerS(base, n)(_.select(SimhashPacked(col("toks"), "sim_"))),
      "kernel.minhash_rows_per_s" -> rowsPerS(base, n)(_.select(MinHashSig(col("hs"), affine, 4294967311L))),
      "kernel.shingle_rows_per_s" -> rowsPerS(base, n)(_.select(ShingleHashes(col("text"), 8))),
      "kernel.long_dot_rows_per_s" -> rowsPerS(base, n)(_.select(LongDot(col("a"), col("b")))))
    base.unpersist()
    out
  }
}
