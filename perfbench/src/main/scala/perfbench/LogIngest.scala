package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.streaming.StreamEtl

/** `log_ingest`: a 7-table backfill, then an open loop that lands seeded
  * rotated logs on a fixed schedule and drains each landing with an
  * `AvailableNow` ingest into parquet. */
final class LogIngest(ctx: Ctx) {
  import LogIngest._
  private val spark = ctx.spark
  private val gen = new LogGen(ctx.seed)
  private val root = Paths.get(ctx.work, "ingest")

  /** Lane of one log kind: its landing dir, checkpoint and output. */
  private final class Lane(val web: Boolean) {
    val name: String = if (web) "web" else "style5"
    val in: Path = Files.createDirectories(root.resolve(s"in/$name"))
    val checkpoint: String = root.resolve(s"checkpoint/$name").toString
    val out: String = root.resolve(s"out/$name").toString
    val rotations = ArrayBuffer.empty[Rotation]
    val landed = new AtomicInteger(0)
    private val landedAt = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    var committed = 0
    /** Landing time of the oldest rotation not yet committed. */
    def oldestPending: Option[Long] =
      if (landed.get() > committed) Some(landedAt.get(committed)) else None
    def next(lines: Int): Rotation = {
      val r = gen.rotation(rotations.size, web, lines, rotations.lastOption)
      rotations += r
      r
    }
    def land(r: Rotation): Unit = {
      val tmp = root.resolve(s"tmp/${r.fileName}")
      Files.createDirectories(tmp.getParent)
      Files.write(tmp, r.lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.move(tmp, in.resolve(r.fileName), StandardCopyOption.ATOMIC_MOVE)
      landedAt.add(System.nanoTime())
      landed.incrementAndGet()
    }
    def start(): org.apache.spark.sql.streaming.StreamingQuery =
      if (web) StreamEtl.ingestWebStream(spark, s"$in/*.log", checkpoint, out)
      else StreamEtl.ingestStream(spark, s"$in/*.log", checkpoint, out)
  }

  private val style5 = new Lane(web = false)
  private val web = new Lane(web = true)
  private val lanes = Seq(style5, web)

  var backfillsFailed = 0
  val startMs = ArrayBuffer.empty[Double]
  var generatorLagS = 0.0
  var backlogMax = 0
  var busyMs = 0.0
  var committedLines = 0L

  /** Backfill: the 7 star tables from the batch ETL into a fresh
    * directory, row counts checked; returns its milliseconds. */
  def backfill(dir: String): Double = {
    val t0 = System.nanoTime()
    val got = Ops.guarded(spark)(
      graft.etl.StarEtl.runBatch(spark, ctx.data, root.resolve(dir).toString))
    val ms = Stats.ms(System.nanoTime() - t0)
    val want = Expected.table(ctx.benchDir, "backfill.tsv").map { case (k, v) => k -> v.toLong }
    val ok = got.toOption.contains(want)
    if (!ok) System.err.println(
      s"[perfbench] backfill: got ${got.fold(_.getMessage, _.toString)}, expected $want")
    backfillsFailed += (if (ok) 0 else 1)
    ms
  }

  /** Bytes of the 7 parquet tables the backfill wrote per byte of its
    * input table. */
  def backfillBytesRatio: Double = {
    val out = Files.walk(root.resolve("backfill1")).iterator()
    var bytes = 0L
    while (out.hasNext) {
      val f = out.next()
      if (f.toString.endsWith(".parquet")) bytes += Files.size(f)
    }
    bytes.toDouble / Files.size(Paths.get(ctx.data, "events.parquet"))
  }

  /** Primes each lane with one small rotation, drained alone, so the
    * watermark stands before late lines arrive (from rotation 2 on). */
  def prime(): Unit = lanes.foreach { lane =>
    lane.land(lane.next(primeLines))
    drain(lane, None, None)
  }

  /** Drains everything landed in `lane`, appending each committed
    * rotation's (commit time, drain ok) to `commits`. */
  private def drain(lane: Lane, tracer: Option[Tracer],
                    commits: Option[ArrayBuffer[(Long, Boolean)]]): Unit = {
    val id = s"${lane.name}-drain${lane.committed}"
    val op = tracer.map(_.begin(id, lane.name))
    val t0 = System.nanoTime()
    val res = Ops.guarded(spark) {
      val q = lane.start()
      startMs += Stats.ms(System.nanoTime() - t0)
      op.foreach(o => tracer.get.markBuilt(o))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      prefixEnd(lane, q.recentProgress.map(_.numInputRows).sum)
    }
    val t1 = System.nanoTime()
    op.foreach(o => tracer.get.end(o))
    res.left.foreach(e => System.err.println(s"[perfbench] ${lane.name} drain failed: ${e.getMessage}"))
    busyMs += Stats.ms(t1 - t0)
    // a failed drain fails every rotation landed so far
    val upTo = res.getOrElse(lane.landed.get())
    (lane.committed until upTo).foreach { i =>
      committedLines += lane.rotations(i).lines.length
      commits.foreach(_ += (t1 -> res.isRight))
    }
    lane.committed = upTo
  }

  /** The rotations a drain committed. Its file listing saw a prefix of
    * the lane's uncommitted landings, since they land one at a time in
    * order: the prefix whose lines add up to the rows the drain read.
    * A drain starts only with a landing pending, so reading nothing (as
    * from a reused checkpoint) is a failure too. */
  private def prefixEnd(lane: Lane, rows: Long): Int = {
    var i = lane.committed
    var n = 0L
    while (n < rows && i < lane.landed.get()) { n += lane.rotations(i).lines.length; i += 1 }
    if (n != rows || i == lane.committed) throw new IllegalStateException(
      s"${lane.name}: the drain read $rows lines, not a whole number of pending rotations")
    i
  }

  /** The open loop. Landing `k` is due at `k * periodMs` from the start;
    * every fourth landing is a Caudium rotation. A drain takes every
    * rotation of its lane landed so far, so landings that arrive during
    * a drain queue for the next one. Each sample is one rotation's
    * freshness: from its due time to the end of the drain that
    * committed it. */
  def openLoop(seconds: Double, tracer: Option[Tracer]): Phase = {
    startMs.clear(); busyMs = 0.0; committedLines = 0L; backlogMax = 0
    val count = math.max(1, (seconds * 1000 / periodMs).toInt)
    val plan = (0 until count).map(k => if (k % 4 == 3) web else style5)
    val rotations = plan.map(_.next(rotationLines))   // generated before the clock starts
    val t0 = System.nanoTime() + 50000000L
    val lagNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val lander = new Thread("perfbench-lander") {
      override def run(): Unit = plan.zip(rotations).zipWithIndex.foreach { case ((lane, r), k) =>
        val due = t0 + (k * periodMs * 1e6).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lane.land(r)
        lagNs.accumulateAndGet(System.nanoTime() - due, (a, b) => math.max(a, b))
      }
    }
    val committedAt = lanes.map(l => l -> ArrayBuffer.empty[(Long, Boolean)]).toMap
    val firstTimed = lanes.map(l => l -> l.committed).toMap
    lander.start()
    while (lander.isAlive || lanes.exists(l => l.landed.get() > l.committed)) {
      // the lane whose oldest undrained rotation landed first
      lanes.filter(_.oldestPending.isDefined).sortBy(_.oldestPending.get).headOption match {
        case Some(lane) =>
          backlogMax = math.max(backlogMax, lanes.map(l => l.landed.get() - l.committed).sum)
          drain(lane, tracer, Some(committedAt(lane)))
        case None => Thread.sleep(2)
      }
    }
    lander.join()
    generatorLagS = lagNs.get() / 1e9
    // freshness: the k-th timed landing of a lane pairs with the k-th commit time of that lane
    val samples = lanes.flatMap { lane =>
      val dues = plan.indices.filter(k => plan(k) eq lane)
        .map(k => t0 + (k * periodMs * 1e6).toLong)
      dues.zip(committedAt(lane)).zipWithIndex.map { case ((due, (at, ok)), i) =>
        Sample(s"${lane.name}-${firstTimed(lane) + i}", ok, Stats.ms(at - due))
      }
    }
    Phase(samples, Nil, Stats.ms(System.nanoTime() - t0),
      if (busyMs > 0) committedLines / (busyMs / 1000) else 0.0)
  }

  /** Rotations whose committed rows or `bytes_sent` sum differ from
    * what the generator planted; each counts as a failed operation. */
  def wrongRotations(): Seq[String] = lanes.flatMap { lane =>
    val key =
      if (lane.web) regexp_extract(col("name"), "^r(\\d+)_", 1).try_cast("int")
      else (col("presentation_id") / 1000000L).try_cast("int")
    val got = Ops.guarded(spark) {
      spark.read.parquet(lane.out).groupBy(coalesce(key, lit(-1)).as("rot"))
        .agg(count(lit(1)), sum(col("bytes_sent"))).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    }.fold(e => { System.err.println(s"[perfbench] ${lane.name} readback: ${e.getMessage}"); Map.empty[Int, (Long, Long)] }, identity)
    val extra = got.keySet -- lane.rotations.map(_.idx)
    lane.rotations.filter(r => !got.get(r.idx).contains((r.rows, r.bytes)))
      .map { r =>
        System.err.println(s"[perfbench] ${lane.name} rotation ${r.idx}: got ${got.get(r.idx)}, expected ${(r.rows, r.bytes)}")
        s"${lane.name}-${r.idx}"
      } ++ extra.map(i => s"${lane.name}-unexpected-$i")
  }

}

object LogIngest {
  val rotationLines = 4000
  val primeLines = 1000
  val periodMs = 250.0
}
