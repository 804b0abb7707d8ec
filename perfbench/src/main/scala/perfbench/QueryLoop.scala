package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the harness knows about one run. */
final case class Ctx(spark: SparkSession, data: String, work: String,
                     benchDir: String, seed: Long, cores: Int)

/** One timed operation: a request, a pipeline or a drain. */
final case class Sample(name: String, ok: Boolean, ms: Double)

/** Samples of one measured phase: `batches` are the wall seconds of its
  * full passes over a deck, `throughput` its work done per second. */
final case class Phase(samples: Seq[Sample], batches: Seq[Double], wallMs: Double,
                       throughput: Double) {
  def okMs: Seq[Double] = samples.filter(_.ok).map(_.ms)
  def failed: Int = samples.count(!_.ok)
}

object Ops {
  /** Cancels the session's jobs if one operation overruns, so a hang
    * becomes a failed operation instead of a stuck run. */
  private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  val timeoutSeconds = 60L

  def guarded[T](spark: SparkSession)(body: => T): Either[Throwable, T] = {
    @volatile var timedOut = false
    val f = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; spark.sparkContext.cancelAllJobs() }
    }, timeoutSeconds, java.util.concurrent.TimeUnit.SECONDS)
    try {
      val v = body
      if (timedOut) Left(new RuntimeException(s"timed out after ${timeoutSeconds}s")) else Right(v)
    } catch { case e: Throwable => Left(e) }
    finally f.cancel(false)
  }
}

/** Closed loop with one client over a fixed deck of registered queries.
  * The sequence is a seeded shuffle of the deck per pass;
  * each request is the query function call plus a write to the noop
  * sink. `clearEach` drops every staged table before each request,
  * untimed, so each request pays its own staged builds, as in a new
  * session, whatever ran before it. */
final class QueryLoop(ctx: Ctx, deck: Seq[String], clearEach: Boolean) {
  private val fns: Map[String, (SparkSession, String) => DataFrame] =
    deck.map(n => n -> graft.SparkEntry.queries(n)).toMap

  def deckSize: Int = deck.size

  private def passOrder(pass: Int): Seq[String] =
    new Random(ctx.seed * 7919L + pass).shuffle(deck)

  // staged-table reuse, seen from outside: cached relations the
  // requests' plans read, RDDs the requests persisted, and storage peak
  var stagedReads, stagedPersists = 0
  var storagePeakBytes = 0.0

  private def persisted: Set[Int] = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cacheReads(df: DataFrame): Int =
    df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.size

  /** Share of cached-relation reads that needed no new persisted RDD. */
  def stagedReuseRatio: Double =
    if (stagedReads == 0) 0.0 else math.max(0, stagedReads - stagedPersists).toDouble / stagedReads

  /** `count` whole passes over the deck, so every query is sampled
    * equally often whatever the seed and however fast the program is. */
  def run(count: Int, tracer: Option[Tracer], tag: String): Phase = {
    val spark = ctx.spark
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (passes.size < count) {
      val passStart = System.nanoTime()
      passOrder(passes.size).foreach { name =>
        if (clearEach) graft.util.Staged.clearSession(spark)
        val id = s"$tag${samples.size}"
        spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
        val before = if (tracer.isDefined) persisted else Set.empty[Int]
        val op = tracer.map(_.begin(id, name))
        val t0 = System.nanoTime()
        val res = Ops.guarded(spark) {
          val df = fns(name)(spark, ctx.data)
          op.foreach(o => tracer.get.markBuilt(o))
          df.write.format("noop").mode("overwrite").save()
          df
        }
        val t1 = System.nanoTime()
        op.foreach(o => tracer.get.end(o))
        spark.sparkContext.clearJobGroup()
        if (tracer.isDefined) res.foreach { df =>
          val reads = cacheReads(df)
          if (reads > 0) {
            stagedReads += reads
            stagedPersists += math.min(reads, (persisted -- before).size)
          }
          storagePeakBytes = math.max(storagePeakBytes,
            spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
        }
        res.left.foreach(e => System.err.println(s"[perfbench] $name failed: ${e.getMessage}"))
        samples += Sample(name, res.isRight, Stats.ms(t1 - t0))
        Main.log(f"$id $name ${Stats.ms(t1 - t0)}%.1f ms")
      }
      passes += Stats.ms(System.nanoTime() - passStart) / 1000
    }
    val wall = Stats.ms(System.nanoTime() - start)
    Phase(samples.toSeq, passes.toSeq, wall, samples.count(_.ok) / (wall / 1000))
  }

  /** One untimed call of every deck query, fingerprinted; returns the
    * queries whose result differs from the recorded one. This pass is
    * also the run's warm-up. */
  def check(expected: Map[String, String]): Seq[String] = deck.filter { name =>
    val got = Ops.guarded(ctx.spark)(Fingerprint.of(fns(name)(ctx.spark, ctx.data)))
    val ok = got.toOption.exists(fp => expected.get(name).contains(fp))
    if (!ok) System.err.println(
      s"[perfbench] $name: wrong result ${got.fold(_.getMessage, identity)}, expected ${expected.getOrElse(name, "<none>")}")
    !ok
  }
}
