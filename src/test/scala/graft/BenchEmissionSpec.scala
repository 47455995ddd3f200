package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's stdout contract: the must-survive suffix and the
  * sparse util line fit the driver's 2000-char archive window, the sweep
  * order, and the floor table in BASELINE-notes.md that
  * dev/driftcheck.py reads.
  */
class BenchEmissionSpec extends AnyFunSuite {

  test("worst-case tail lines fit the driver's 2000-char archive window") {
    // The driver archives only the LAST 2000 chars of Bench stdout and
    // parses the final {"metric":...} line; truncation eats from the
    // HEAD, so the print order makes earlier lines (full util map, sweep
    // stats, sparse util ladder) deliberately expendable.
    // The MUST-SURVIVE suffix is the last three lines: the sparse cold
    // map (hard-capped at 16 entries since r17), the COMPLETE warm map
    // (driftcheck's input — rounds 1–5 and 8–9 lost it to overflow), and
    // the metric line. Budget them at contended-host worst case (4-digit
    // centisecond values — a 100 s single slot would time out to -100
    // first) so adding query #N trips this test BEFORE the driver
    // archive starts truncating drift evidence.
    val n = SparkEntry.queries.size
    // warm entry: "NNN":9999, → 2 quotes + ≤3-digit key + colon + 4-digit
    // value (or -100) + comma = 11 chars
    val warmLine = 24 + n * 11
    val metricLine = 310 // measured 302 with failures/3-decimal totals
    val coldLine = 30 + 16 * 12 // ds values, 16-entry cap
    val total = warmLine + metricLine + coldLine + 3
    assert(total < 2000,
      s"worst-case must-survive suffix $total chars >= 2000 at $n " +
        "queries — shrink the cold cap or re-encode the warm map before " +
        "adding queries")
  }

  test("the sparse util line survives the archive window when every warm slot is under 10 s") {
    // The line just before the must-survive suffix: the top-16 warm
    // slots' util, which driftcheck reads from driver archives. Archived
    // driver warm slots peak at 3.55 s (BENCH_r20), so 3-digit
    // centisecond values are the realistic ceiling; the cold map stays
    // at its 16-entry worst case.
    val keys = SparkEntry.queries.keys.toSeq.map(_.takeWhile(_ != '_').stripPrefix("q"))
    // "KEY":999, per warm entry around {"bench_warm_pass_cs":{ … }}
    val warmLine = 24 + keys.map(_.length + 6).sum
    val metricLine = 310
    val coldLine = 30 + 16 * 12
    // {"bench_self_util_pct":{ … }} with 16 × "NNN":100,
    val utilLine = 26 + 16 * 10
    val total = utilLine + warmLine + metricLine + coldLine + 4
    assert(total < 2000,
      s"sparse util line + suffix $total chars >= 2000 at ${keys.size} " +
        "queries — driftcheck's util labels would go silent on driver rounds")
  }

  test("sweepOrder: LPT heavy-first when parallel, pure alphabetical when sequential") {
    val par = Bench.sweepOrder(8).map(_._1)
    val seqOrder = Bench.sweepOrder(1).map(_._1)
    assert(seqOrder === SparkEntry.queries.keys.toSeq.sorted)
    assert(par.toSet === seqOrder.toSet, "same steps, different order")
    // the heavy prefix: every known multi-second builder sorts before any
    // non-heavy step (q01 is the first light query alphabetically)
    val heavy = Set("q112", "q114", "q115", "q116", "q121", "q124")
    heavy.foreach { h =>
      val at = par.indexWhere(_.startsWith(h + "_"))
      assert(at >= 0, s"$h missing from the sweep order")
      assert(at < par.indexWhere(_.startsWith("q01_")),
        s"$h must be enqueued before the light steps")
    }
  }

  test("the repo's own BASELINE-notes parses and covers the suite") {
    val text = scala.io.Source.fromFile("BASELINE-notes.md")(
      scala.io.Codec.UTF8).mkString
    // the LAST floors.py-format table is canonical, the same anchor
    // dev/driftcheck.py uses; rows key by SHORT query id ("q102")
    val header = "| query | floor (s) | query | floor (s) | query | floor (s) |"
    val at = text.lastIndexOf(header)
    assert(at >= 0, "no floors.py-format floor table")
    val floors = text.substring(at).linesIterator.drop(2)
      .takeWhile(_.startsWith("|"))
      .flatMap("""(q\d+) \| ([\d.]+)""".r.findAllMatchIn(_))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // every floor key must correspond to a real query (a renamed or
    // deleted query leaving a stale floor row would mis-normalize flags)
    val known = SparkEntry.queries.keys.map(_.takeWhile(_ != '_')).toSet
    assert(floors.nonEmpty)
    assert(floors.keySet.subsetOf(known),
      s"stale floor rows: ${floors.keySet.diff(known).toSeq.sorted}")
  }
}
