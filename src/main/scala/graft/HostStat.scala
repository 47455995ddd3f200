package graft

/** Kernel jiffy sampling for the bench's per-slot self-utilization
  * (round 15). A sample is (aggregate total jiffies, this process's
  * utime+stime jiffies); two samples bracketing a timed region yield
  * [[selfUtilPct]], this JVM's own share of the machine — the dilation
  * discriminator separating "did more work" (wall up, util at its quiet
  * baseline) from "got fewer cycles" (wall up, util proportionally down).
  *
  * The denominator is the kernel's total jiffies, not wall × processors:
  * the committed quiet-util table that dev/driftcheck.py labels slots
  * against was folded from this form. The JVM's process CPU time gives
  * the same numerator, but over wall × processors it read up to 8 points
  * higher per slot on a host with 9–13% hypervisor steal (total jiffies
  * ran 5–26% above wall × 4), so switching forms needs a re-declared
  * table first.
  *
  * Telemetry may never break the bench: any read/parse failure yields
  * None, and [[selfUtilPct]] answers -1 for missing samples or sub-jiffy
  * regions. HostStatSpec pins the subtle parts — the comm field of
  * /proc/self/stat may contain spaces and parentheses, and the /proc/stat
  * cpu line's column count differs across kernels.
  */
object HostStat {
  /** (total, self) jiffies — None on any failure. */
  def sample(): Option[(Long, Long)] =
    try {
      def read(p: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
      val stat = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).get
      for (t <- parseCpuLine(stat); s <- parseSelfJiffies(read("/proc/self/stat")))
        yield (t, s)
    } catch { case _: Throwable => None }

  /** Total jiffies of the aggregate "cpu " line of /proc/stat. Columns:
    * user nice system idle iowait irq softirq steal [guest guest_nice];
    * total sums the first eight (guest time is already inside user/nice).
    * Older kernels omit trailing columns, so fewer are summed as read.
    */
  def parseCpuLine(line: String): Option[Long] =
    try {
      val c = line.trim.split("\\s+").drop(1).map(_.toLong)
      if (c.length < 4) None else Some(c.take(8).sum)
    } catch { case _: Throwable => None }

  /** utime+stime of a /proc/<pid>/stat line. The comm field (2) is an
    * arbitrary thread name in parentheses — it may contain spaces and
    * even ')' — so fields are counted from the LAST ')' (the kernel
    * prints comm as a single parenthesized token; everything after the
    * final close-paren is fixed-position). utime/stime are fields 14/15
    * of the full line = indices 11/12 after "<paren>) ".
    */
  def parseSelfJiffies(stat: String): Option[Long] =
    try {
      val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      Some(rest(11).toLong + rest(12).toLong)
    } catch { case _: Throwable => None }

  /** Percent of machine capacity THIS process held between two samples;
    * -1 when either sample is missing or no jiffy elapsed. */
  def selfUtilPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Int =
    (a, b) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 =>
        (100L * math.max(0L, s1 - s0) / (t1 - t0)).toInt
      case _ => -1
    }
}
