package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One rotated log file and what a correct ingest commits from it. */
final case class Rotation(idx: Int, web: Boolean, lines: Array[String],
                          rows: Long, bytes: Long) {
  def fileName: String = f"${if (web) "access" else "rmaccess"}-$idx%05d.log"
}

/** Seeded generator of rotated RealServer style-5 and Caudium logs.
  *
  * It writes the formats from their published layouts and never calls
  * the parser under test. Rotation `idx` covers the event-time window
  * `[T0 + idx * span, T0 + (idx + 1) * span)`, so rotations are monotone
  * in time. Each rotation plants:
  *  - malformed lines (truncated partial writes, foreign syslog lines);
  *  - re-delivered duplicates of lines already written;
  *  - from rotation 2 on, late lines two days behind the 1-hour watermark;
  *  - style-5 lines with no, Stat1, Stat1+Stat2 or Stat3 blocks;
  *  - Caudium lines for `.wma`/`.wmv` media and for pages the web
  *    ingest must skip.
  * The committed rows are the good lines only. Every good line carries
  * a unique natural key; its rotation is recoverable from the row
  * (style-5 `presentation_id / 1e6`, web file name `r<idx>_...`). */
final class LogGen(seed: Long) {
  private val t0 = LocalDateTime.of(2002, 10, 13, 0, 0, 0)
  private val spanSeconds = 600
  private val fmt = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss", Locale.ENGLISH)
  private val lateFrom = 2

  private val dirs = Array("/media/promo", "/media/news", "/live/radio", "/archive/2002/oct")
  private val realExts = Array("rm", "ra", "rv", "smil")
  private val players = Array(
    "WinNT_5.1_6.0.11.818_play32_RN01_EN_586_0",
    "Win98_4.10_6.0.9.584_plus32_RN9_EN_686_0",
    "Mac_10.2_6.0.10.505_play_RN01_DE_PPC_0",
    "QTS (qtver=6.0;os=Mac 10.1.5)")
  private val statuses = Array(200, 200, 200, 200, 206, 304, 404)
  private val formats = Array("sipr", "cook", "atrc", "dnet")
  private val pages = Array("html", "jpg", "css")
  private val agents = Array("Windows-Media-Player/9.0", "NSPlayer/7.10.0.3059",
    "Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1)")

  private def ip(r: Random) =
    s"${10 + r.nextInt(200)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"

  private def stamp(sec: Long) = t0.plusSeconds(sec).format(fmt)

  private def statBlocks(r: Random): String = r.nextInt(10) match {
    case 0 | 1 | 2 => ""
    case 3 | 4 | 5 | 6 =>
      s" [Stat1: ${r.nextInt(5000)} ${r.nextInt(9)} ${r.nextInt(9)} 0 ${r.nextInt(9)} ${formats(r.nextInt(4))}]"
    case 7 | 8 =>
      s" [Stat1: ${r.nextInt(5000)} 0 ${r.nextInt(9)} 0 0 ${formats(r.nextInt(4))}]" +
        s" [Stat2: 225000 225000 225000 80000 ${150000 + r.nextInt(50000)} 1050" +
        s" ${r.nextInt(1050)} ${r.nextInt(5)} 1.500 1 ${r.nextInt(9)} ${formats(r.nextInt(4))}]"
    case _ => s" [Stat3: buffering ${r.nextInt(30)} events]"
  }

  private def style5(r: Random, sec: Long, pid: Long, bytes: Long): String = {
    val status = statuses(r.nextInt(statuses.length))
    val file = s"${dirs(r.nextInt(dirs.length))}/clip${r.nextInt(900)}.${realExts(r.nextInt(4))}"
    val guid = new java.util.UUID(r.nextLong(), r.nextLong())
    s"""${ip(r)} - - [${stamp(sec)} -0700] "GET $file RTSP/1.0" $status $bytes""" +
      s" [${players(r.nextInt(players.length))}] [$guid]${statBlocks(r)}" +
      s" ${bytes + r.nextInt(1000)} ${r.nextInt(3600)} ${r.nextInt(3600)} ${r.nextInt(20)} ${r.nextInt(5)} $pid"
  }

  private def web(r: Random, sec: Long, name: String, bytes: Long): String =
    s"""${ip(r)} - - [${stamp(sec)} -0700] "GET /media/$name HTTP/1.1" 206 $bytes "-" "${agents(r.nextInt(3))}""""

  private def malformed(r: Random, good: String): String =
    if (r.nextBoolean()) good.take(12 + r.nextInt(14))   // cut before the request
    else s"Oct 13 ${"%02d".format(r.nextInt(24))}:00:01 rmserver[${r.nextInt(9999)}]: client ${ip(r)} disconnected"

  /** Rotation `idx` of one kind, with `n` lines. `prev` is the previous
    * rotation of the same kind, whose tail may be re-delivered. */
  def rotation(idx: Int, web: Boolean, n: Int, prev: Option[Rotation]): Rotation = {
    val r = new Random(seed * 1000003L + idx * 2L + (if (web) 1 else 0))
    val out = new Array[String](n)
    val goods = ArrayBuffer.empty[String]
    var rows, bytes = 0L
    var seq = 0
    def good(sec: Long, count: Boolean): String = {
      seq += 1
      val b = 1000L + r.nextInt(5000000)
      val line =
        if (!web) style5(r, sec, idx * 1000000L + seq, b)
        else {
          val media = r.nextInt(10) < 8
          val ext = if (media) (if (r.nextBoolean()) "wma" else "wmv")
                    else pages(r.nextInt(pages.length))
          val l = this.web(r, sec, s"r${idx}_$seq.$ext", b)
          if (media && count) { rows += 1; bytes += b }
          l
        }
      if (!web && count) { rows += 1; bytes += b }
      if (count) goods += line
      line
    }
    var i = 0
    while (i < n) {
      val sec = idx.toLong * spanSeconds + (i.toLong * spanSeconds) / n
      val k = r.nextInt(100)
      out(i) =
        if (k < 2) malformed(r, good(sec, count = false))
        else if (k < 5 && (goods.nonEmpty || prev.isDefined)) {
          // re-delivery: the tail of the previous rotation or an earlier line of this one
          val from = prev.filter(_ => goods.isEmpty || r.nextBoolean())
            .map(p => p.lines(p.lines.length - 1 - r.nextInt(math.min(200, p.lines.length))))
          from.getOrElse(goods(r.nextInt(goods.size)))
        }
        else if (k < 6 && idx >= lateFrom) good(-2L * 86400 + r.nextInt(3600), count = false)
        else good(sec, count = true)
      i += 1
    }
    Rotation(idx, web, out, rows, bytes)
  }
}
