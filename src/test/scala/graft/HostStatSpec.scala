package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the /proc parsing and percent arithmetic behind the bench's
  * per-slot self-utilization (bench_self_util_all_pct /
  * bench_self_util_pct). These are fixture-string tests — the live
  * /proc sampling itself is exercised by the one smoke test at the
  * bottom, which only asserts shape (telemetry must degrade to None/-1,
  * never throw).
  */
class HostStatSpec extends AnyFunSuite {

  // a real-shaped aggregate cpu line:
  //            user    nice system  idle   iowait irq softirq steal guest
  val cpuLine = "cpu  100     2     30     800     8     0     4     6 1 1"

  test("parseCpuLine: total counts idle, iowait and steal, not guest") {
    // 100+2+30+800+8+0+4+6 = 950; guest/guest_nice are inside user/nice
    assert(HostStat.parseCpuLine(cpuLine) === Some(950L))
  }

  test("parseCpuLine: kernels without steal/iowait columns parse defensively") {
    // only user nice system idle
    assert(HostStat.parseCpuLine("cpu 10 0 5 100") === Some(115L))
    // with iowait+irq+softirq but no steal
    assert(HostStat.parseCpuLine("cpu 10 0 5 100 3 0 2") === Some(120L))
    // fewer than the four base columns is not a cpu line
    assert(HostStat.parseCpuLine("cpu 10 0 5") === None)
  }

  test("parseCpuLine: garbage yields None, never a throw") {
    assert(HostStat.parseCpuLine("cpu  a b c") === None)
    assert(HostStat.parseCpuLine("") === None)
  }

  test("parseSelfJiffies: fields count from the LAST ')' — comm may hold spaces and ')'") {
    // pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    // majflt cmajflt utime stime ...  → utime=111 stime=22
    val plain = "1234 (java) S 1 1 1 0 -1 4194304 9 0 0 0 111 22 0 0 20"
    assert(HostStat.parseSelfJiffies(plain) === Some(133L))
    val evil = "1234 (a b)c) ) S 1 1 1 0 -1 4194304 9 0 0 0 7 3 0 0 20"
    assert(HostStat.parseSelfJiffies(evil) === Some(10L))
  }

  test("parseSelfJiffies: truncated line yields None") {
    assert(HostStat.parseSelfJiffies("1234 (java) S 1 1") === None)
    assert(HostStat.parseSelfJiffies("no parens at all") === None)
  }

  test("selfUtilPct: the JVM's own share of capacity") {
    val a = Some((10000L, 400L))
    val b = Some((11000L, 600L))
    assert(HostStat.selfUtilPct(a, b) === 20) // 200/1000
    assert(HostStat.selfUtilPct(a, Some((11000L, 400L))) === 0)
  }

  test("percent functions answer -1 for missing samples or sub-jiffy windows") {
    val s = Some((1L, 1L))
    assert(HostStat.selfUtilPct(None, s) === -1)
    assert(HostStat.selfUtilPct(s, None) === -1)
    assert(HostStat.selfUtilPct(None, None) === -1)
    assert(HostStat.selfUtilPct(s, s) === -1) // no jiffy elapsed
  }

  test("live sample: well-formed on Linux, and monotone across a busy spin") {
    val a = HostStat.sample()
    assume(a.isDefined, "/proc not readable on this platform")
    // burn ~50 ms of CPU so self jiffies advance
    val t0 = System.nanoTime(); var x = 0L
    while (System.nanoTime() - t0 < 50e6) { x += 1 }
    assert(x > 0)
    Thread.sleep(30) // let total jiffies tick even at coarse HZ
    val b = HostStat.sample()
    (a, b) match {
      case (Some((t0j, s0)), Some((t1j, s1))) =>
        assert(s0 <= t0j && s1 <= t1j, "self can never exceed total")
        assert(t1j > t0j && s1 >= s0, "jiffies are monotone")
        val util = HostStat.selfUtilPct(a, b)
        assert(util >= 0 && util <= 100)
      case _ => fail("second sample failed after first succeeded")
    }
  }
}
