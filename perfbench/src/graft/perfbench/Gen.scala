package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** A GitHub-API-shaped commit (`CommitEtl.rawCommitSchema`). `None` for a
  * whole author/committer means the field is JSON null; `Some((email,
  * None))` means the person is present but the date is null. Dates are
  * epoch seconds. */
final case class Commit(sha: String, message: String,
                        author: Option[(String, Option[Long])],
                        committer: Option[(String, Option[Long])]) {

  /** The stored timestamp under the pipeline's pairing rule: the author
    * date if present, else the committer date, else none. */
  def ts: Option[Long] = author.flatMap(_._2).orElse(committer.flatMap(_._2))

  def json: String = {
    def person(p: Option[(String, Option[Long])]) = p match {
      case None => "null"
      case Some((email, date)) =>
        s"""{"email":"$email","date":${date.map(d => "\"" + Gen.iso(d) + "\"").getOrElse("null")}}"""
    }
    s"""{"sha":"$sha","commit":{"message":"$message","author":${person(author)},"committer":${person(committer)}}}"""
  }
}

object Gen {
  private val isoFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  def iso(epochSecond: Long): String = isoFmt.format(Instant.ofEpochSecond(epochSecond))

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(UTF_8))
  }

  /** Split `items` into API pages of `size` whose successors start with the
    * last `shift` items of the page before: the duplicates a paginated
    * listing returns when new commits arrive while it is being read. */
  def pages[T](items: IndexedSeq[T], size: Int, shift: Int): Seq[IndexedSeq[T]] = {
    val out = ArrayBuffer[IndexedSeq[T]]()
    var i = 0
    while (i < items.length) {
      out += items.slice(i, i + size)
      i = if (i + size >= items.length) items.length else i + size - shift
    }
    out.toSeq
  }

  def shuffle[T](items: IndexedSeq[T], rnd: SplittableRandom): IndexedSeq[T] = {
    val a = items.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** Sizes and shares of the commit input; see `perfbench/workloads.json`.
  * The tick fields only matter to a workload that lands ticks. */
final case class CommitParams(history: Int, historyNullEach: Int, pageSize: Int, pageShift: Int,
                              tickNew: Int = 0, nullEach: Int = 0, sameSecond: Int = 0,
                              late: Int = 0, redeliver: Int = 0)

/** Seeded commit history and per-tick deltas. The generator tracks the
  * store's watermark in closed form so each tick can place commits exactly
  * on it (same second, dropped by the +1 s slice), before it (late-dated,
  * dropped) and after it (landed). */
final class CommitGen(seed: Long, p: CommitParams) {
  private val rnd = new SplittableRandom(seed)
  private var clock = 1577836800L // 2020-01-01T00:00:00Z
  private var wm = Long.MinValue
  private var prev = IndexedSeq.empty[Commit]
  private var serial = 0

  private def sha(): String =
    f"${rnd.nextLong()}%016x${rnd.nextLong()}%016x${rnd.nextInt()}%08x"

  private def message(): String = {
    serial += 1
    s"change $serial touches w${rnd.nextInt(5000)} and w${rnd.nextInt(5000)}"
  }

  private def withDate(d: Long, when: Char): Option[(String, Option[Long])] = {
    val who = rnd.nextInt(400)
    when match {
      case 'P' => Some((s"dev$who@example.org", Some(d)))
      case 'N' => Some((s"dev$who@example.org", None))
      case _   => None
    }
  }

  /** The eight author/committer cases besides "both dated": P = dated,
    * N = present with a null date, A = absent. */
  private val nullCases = Seq("PN", "PA", "NP", "NN", "NA", "AP", "AN", "AA")

  private def commit(d: Long, kind: String): Commit = {
    val a = withDate(d, kind(0))
    // the committer date trails the author's; when it supplies the stored
    // timestamp (author undated or absent) it is the window date itself
    val cd = if (kind(0) == 'P') d + rnd.nextInt(3600) else d
    Commit(sha(), message(), a, withDate(cd, kind(1)))
  }

  /** `n` new commits dated inside `(clock, clock + span]`, `each` of them
    * per null case and the rest dated on both sides. */
  private def window(n: Int, each: Int, span: Long): IndexedSeq[Commit] = {
    val kinds = nullCases.flatMap(k => Seq.fill(each)(k)) ++
      Seq.fill(n - each * nullCases.size)("PP")
    val out = kinds.map(k => commit(clock + 1 + rnd.nextLong(span), k)).toIndexedSeq
    clock += span
    out
  }

  private def land(items: IndexedSeq[Commit], dir: Path): Int = {
    val shuffled = Gen.shuffle(items, rnd)
    val ps = Gen.pages(shuffled, p.pageSize, p.pageShift)
    ps.zipWithIndex.foreach { case (page, i) =>
      Gen.write(dir.resolve(f"page_$i%05d.json"), page.map(_.json).mkString("[\n", ",\n", "\n]\n"))
    }
    ps.map(_.size).sum
  }

  private def advanceWatermark(items: Seq[Commit]): Unit = {
    val kept = items.flatMap(_.ts).filter(t => wm == Long.MinValue || t >= wm + 1)
    if (kept.nonEmpty) wm = math.max(wm, kept.max)
  }

  /** Land the full history under `dir`; returns the number of rows landed. */
  def history(dir: Path): Int = {
    val items = window(p.history, p.historyNullEach, p.history * 60L)
    advanceWatermark(items)
    prev = items.takeRight(p.redeliver)
    land(items, dir)
  }

  /** Land one tick's delta under `dir`; returns the number of rows landed. */
  def tick(dir: Path): Int = {
    val fresh = window(p.tickNew, p.nullEach, p.tickNew * 30L)
    val sameSecond = (0 until p.sameSecond).map(_ => commit(wm, "PP"))
    val late = (0 until p.late).map(_ => commit(wm - 1 - rnd.nextLong(30L * 86400), "PP"))
    val redelivered = Gen.shuffle(prev, rnd).take(p.redeliver)
    val items = fresh ++ sameSecond ++ late ++ redelivered
    advanceWatermark(items)
    prev = fresh
    land(items, dir)
  }
}

/** Seeded document arrivals with near-duplicate families: `dupPercent` of
  * the documents are edited copies of an earlier document, which may have
  * arrived in an earlier tick. */
final class DocGen(seed: Long, vocab: Int, dupPercent: Int) {
  private val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val docs = ArrayBuffer[Array[Int]]()

  private def fresh(): Array[Int] = Array.fill(30 + rnd.nextInt(50))(rnd.nextInt(vocab))

  private def variant(of: Array[Int]): Array[Int] = {
    // light, medium and heavy edits, so families straddle the LSH and
    // verification thresholds
    val rate = Seq(20, 8, 3)(rnd.nextInt(3))
    val out = ArrayBuffer[Int]()
    of.foreach { w =>
      val r = rnd.nextInt(rate)
      if (r != 0) out += w
      else if (rnd.nextBoolean()) out += rnd.nextInt(vocab)
      else { out += w; out += rnd.nextInt(vocab) }
    }
    out.toArray
  }

  /** Land `n` documents as JSON lines at `file`; returns the count. */
  def batch(file: Path, n: Int): Int = {
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      val toks =
        if (docs.nonEmpty && rnd.nextInt(100) < dupPercent) variant(docs(rnd.nextInt(docs.size)))
        else fresh()
      docs += toks
      sb ++= s"""{"doc_id":${docs.size},"text":"${toks.map("w" + _).mkString(" ")}"}""" += '\n'
    }
    Gen.write(file, sb.toString)
    n
  }
}
