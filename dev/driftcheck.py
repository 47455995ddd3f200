#!/usr/bin/env python3
"""Mechanical driver-warm drift adjudication: diff a driver BENCH_r{N}.json
(or a local bench log) against the committed per-query warm-floor table in
BASELINE-notes.md (the LAST floor table in the file — later tables
supersede earlier ones by convention).

Usage: python3 dev/driftcheck.py BENCH_r13.json [--ratio 2.0]

Reading rules (BASELINE-notes, protocol v2): driver-warm / floor <= ~2x is
host contention; a query consistently above the ratio is a real regression
to root-cause with QProbe. When the bench carries calibration probes
("calib_cs", round 13+: a fixed synthetic workload timed before the first
pass and after every pass), the host multiplier is MEASURED — each ratio is
also shown normalized by calib instead of inferred circularly from the
suite itself. Benches also carry each warm slot's self-utilization (the
JVM's share of the kernel's total jiffies during that slot), which
separates "did more work" from "got fewer cycles" even when the contention
is hypervisor-level. Exit code 0 always — this is an adjudication AID, not a
gate; the 2x suite gate is the driver's.
"""
import json
import re
import sys

USAGE = "usage: python3 dev/driftcheck.py BENCH_r{N}.json|bench.log [--ratio 2.0]"

# floors.py emits exactly this header; the LAST block under it is canonical
FLOOR_HEADER = "| query | floor (s) | query | floor (s) | query | floor (s) |"

# floors.py's r17 quiet-util table header (VERDICT r16 item 2); the LAST
# block under it is canonical, same convention as the floor table
UTIL_HEADER = ("| query | util % (min-max) | query | util % (min-max) "
               "| query | util % (min-max) |")


def bench_text(path):
    """The bench stdout (driver json wraps it as an escaped 'tail' string)."""
    text = open(path).read()
    try:
        j = json.loads(text)
        text = j.get("tail", text)
    except ValueError:
        pass
    return text.replace("\\\"", '"')


def warm_map(text, path):
    """Per-query warm seconds from bench stdout."""
    m = re.search(r'\{"bench_warm_pass_cs":(\{[^}]*\})\}', text)
    if not m:
        sys.exit(f"{path}: no bench_warm_pass_cs map found")
    return {k.lstrip("q"): v / 100.0 for k, v in json.loads(m.group(1)).items()}


def calib_values(text):
    """[pre-pass1, post-pass1, ..., post-passN] probe seconds, or None."""
    m = re.search(r'"calib_cs":\[([\d,\s]*)\]', text)
    if not m or not m.group(1).strip():
        return None
    return [int(v) / 100.0 for v in m.group(1).split(",")]


def self_util(text):
    """{q: JVM share of the machine %}. The dilation discriminator: a
    slot 3x its floor at its usual utilization did 3x the work; at a
    third of its usual utilization it got a third of the cycles
    (starved). Reads the complete r17+ map when the log carries it
    (local logs; the driver's tail window truncates it), overlaid with
    the sparse map of the 16 most expensive warm slots, which survives
    the tail window (r16-r22 benches also added flagged slots to it)."""
    out = {}
    a = re.search(r'\{"bench_self_util_all_pct":(\{[^}]*\})\}', text)
    if a:
        out.update({k.lstrip("q"): v for k, v in json.loads(a.group(1)).items()})
    m = re.search(r'\{"bench_self_util_pct":(\{[^}]*\})\}', text)
    if m:
        out.update({k.lstrip("q"): v for k, v in json.loads(m.group(1)).items()})
    return out


def floor_table():
    """The LAST committed floor table in BASELINE-notes.md — anchored to the
    final occurrence of the floors.py header, scanning only its contiguous
    table rows (advice r12: a whole-file regex also matched unrelated
    '| qNN | <number>' tables, e.g. driver-comparison tables, so absent
    queries silently inherited stale driver times as floors)."""
    text = open("BASELINE-notes.md").read()
    at = text.rfind(FLOOR_HEADER)
    if at < 0:
        sys.exit("BASELINE-notes.md: no floors.py-format floor table found")
    rows = {}
    for line in text[at:].splitlines()[2:]:  # skip header + |---| separator
        if not line.startswith("|"):
            break
        for m in re.finditer(r"(q\d+) \| ([\d.]+)", line):
            rows[m.group(1).lstrip("q")] = float(m.group(2))
    if not rows:
        sys.exit("BASELINE-notes.md: floor table header found but no rows")
    return rows


def quiet_util_table():
    """The LAST committed quiet-util table in BASELINE-notes.md ->
    {q: (lo, hi)} quiet self-utilization range per query, or {} (pre-r17
    notes). This is what makes flagged-slot reading MECHANICAL (VERDICT
    r16 item 2): a flagged slot at >= 80% of its quiet-low util did more
    WORK; at <= 50% of quiet-low it was STARVED of cycles."""
    try:
        text = open("BASELINE-notes.md").read()
    except OSError:
        return {}
    at = text.rfind(UTIL_HEADER)
    if at < 0:
        return {}
    rows = {}
    for line in text[at:].splitlines()[2:]:  # skip header + |---| separator
        if not line.startswith("|"):
            break
        for m in re.finditer(r"(q\d+) \| (\d+)-(\d+)", line):
            rows[m.group(1).lstrip("q")] = (int(m.group(2)), int(m.group(3)))
    return rows


def util_verdict(u, quiet):
    """Label a flagged slot's util against its quiet range, or None when
    either side is missing. Thresholds follow the documented reading
    recipe (same util = more work, proportionally lower = starved), with
    a band between left ambiguous rather than force-labeled."""
    if u is None or u < 0 or quiet is None:
        return None
    lo = quiet[0]
    if lo <= 0:
        return None
    if u >= 0.8 * lo:
        return "WORK"
    if u <= 0.5 * lo:
        return "STARVED"
    return "AMBIGUOUS"


def warmup_floor(cpus=None):
    """The LAST declared quiet-host warmup floor in BASELINE-notes.md
    ('Warmup floor (cpus=32): **NN.N s**'), or None (pre-r20 notes).
    Warmup was the one headline number with no floor protocol — r19's
    driver run read 141.9 s vs 41-54 s on the builder's hosts and the
    only adjudication was prose (VERDICT r19 item 1)."""
    text = open("BASELINE-notes.md").read()
    if cpus is not None:
        ms = re.findall(
            r"Warmup floor \(cpus=%s\): \*\*([\d.]+) s\*\*" % re.escape(cpus),
            text)
        if ms:
            return float(ms[-1])
    ms = re.findall(r"Warmup floor: \*\*([\d.]+) s\*\*", text)
    return float(ms[-1]) if ms else None


def warmup_probe_floor(cpus=None):
    """The LAST declared quiet-host value of the r20 start-of-run probe
    ('Warmup probe floor (cpus=32): **0.NN s**'). The probe runs before
    any other Spark job, so it carries residual JIT the mid-run calib
    samples don't (~2x the calib floor on a quiet host) — it must be
    normalized by ITS OWN quiet floor, not the calib floor."""
    text = open("BASELINE-notes.md").read()
    if cpus is not None:
        ms = re.findall(
            r"Warmup probe floor \(cpus=%s\): \*\*([\d.]+) s\*\*"
            % re.escape(cpus), text)
        if ms:
            return float(ms[-1])
    ms = re.findall(r"Warmup probe floor: \*\*([\d.]+) s\*\*", text)
    return float(ms[-1]) if ms else None


def warmup_stats(text):
    """(warmup_sec, warmup_probe_cs/100 or None, sweep_width or None) from
    the bench stdout. The probe (r20) is the start-of-warmup calib sample;
    with it and calib[0] (the end-of-warmup sample) the warmup window is
    bracketed by measurements the same way the timed passes are. The
    sweep width is a constant 8 now; older benches printed it."""
    m = re.search(r'"warmup_sec":([\d.]+)', text)
    w = float(m.group(1)) if m else None
    p = re.search(r'"warmup_probe_cs":(\d+)', text)
    probe = int(p.group(1)) / 100.0 if p else None
    sw = re.search(r'"warmup_sweep_width":(\d+)', text)
    return w, probe, (int(sw.group(1)) if sw else None)


def calib_floor(cpus=None):
    """The LAST declared quiet-host calib value in BASELINE-notes.md.

    The probe is parallelism-dependent (fixed work / local[N] threads), so
    r13+ declarations carry the session size: 'Calib floor (cpus=32):
    **0.32 s**'. When the bench line self-describes its cpus, prefer the
    matching declaration; fall back to the last unqualified declaration."""
    text = open("BASELINE-notes.md").read()
    if cpus is not None:
        ms = re.findall(
            r"Calib floor \(cpus=%s\): \*\*([\d.]+) s\*\*" % re.escape(cpus),
            text)
        if ms:
            return float(ms[-1])
    # fallback: UNQUALIFIED declarations only — a qualified floor for a
    # DIFFERENT parallelism must not be silently adopted (the probe is
    # ~4x apart between local[4] and local[32]; normalizing by the wrong
    # one inverts the drift verdict). No match -> raw ratios.
    ms = re.findall(r"Calib floor: \*\*([\d.]+) s\*\*", text)
    return float(ms[-1]) if ms else None


def main():
    if len(sys.argv) < 2 or sys.argv[1].startswith("--"):
        sys.exit(USAGE)
    path = sys.argv[1]
    ratio = float(sys.argv[sys.argv.index("--ratio") + 1]) if "--ratio" in sys.argv else 2.0
    text = bench_text(path)
    warm, floors = warm_map(text, path), floor_table()
    mcpus = re.search(r'"cpus":"?(\w+|\*)"?,"sf"', text)
    # measured host multiplier for the WARM (last) pass: mean of the two
    # probes bracketing it, over the declared quiet-host calib floor
    # matching this session's parallelism
    calib = calib_values(text)
    cfloor = calib_floor(mcpus.group(1) if mcpus else None)
    cmult = None
    if calib and len(calib) >= 2 and cfloor:
        cmult = max((calib[-2] + calib[-1]) / 2.0 / cfloor, 0.01)
    utils = self_util(text)
    quiet = quiet_util_table()
    flagged, starved = [], []
    missing = []
    for q in sorted(warm, key=lambda k: int(k)):
        w = warm[q]
        f = floors.get(q)
        if f is None:
            missing.append(q)
            continue
        r = w / f if f > 0 else float("inf")
        rn = r / cmult if cmult else None
        above = (rn if rn is not None else r) > ratio or w < 0
        # util vs the committed quiet range (r17): proportionally-low util
        # = fewer cycles, not more work — adjudicated as starvation by
        # measurement. WORK/AMBIGUOUS labels stay flagged for QProbe.
        uverdict = util_verdict(utils.get(q), quiet.get(q)) if above else None
        if above and w >= 0 and uverdict == "STARVED":
            starved.append((q, r, utils[q], quiet[q][0]))
            above = False
        mark = "  <-- ABOVE RATIO" if above else ""
        if uverdict and not above:
            mark = "  <-- starved (util vs quiet)"
        elif uverdict:
            mark += f" [{uverdict.lower()}]"
        u = utils.get(q)
        qu = quiet.get(q)
        us = f"  util {u:3d}%" if u is not None else ""
        if u is not None and qu is not None:
            us += f" (quiet {qu[0]}-{qu[1]})"
        norm = f"  norm {rn:5.2f}" if rn is not None else ""
        print(f"q{q:>3}  warm {w:6.2f}  floor {f:5.2f}  ratio {r:5.2f}{norm}{us}{mark}")
        if above:
            flagged.append((q, w, f, r))
    # both totals over the same query set: a failed query (warm = -1) is
    # excluded from total_w, so its floor must leave total_f too or the
    # suite-inferred multiplier reads low exactly when things are broken
    total_w = sum(v for v in warm.values() if v >= 0)
    total_f = sum(floors[q] for q in warm if q in floors and warm[q] >= 0)
    if total_f > 0:
        print(f"\nsuite: warm {total_w:.1f} s vs floor-sum {total_f:.1f} s "
              f"= {total_w / total_f:.2f}x (suite-inferred multiplier)")
    else:
        print(f"\nsuite: warm {total_w:.1f} s; no overlapping floors — "
              f"re-run floors.py and commit a table for these queries")
    if calib:
        pretty = "/".join(f"{c:.2f}" for c in calib)
        if cmult:
            print(f"calib probes: [{pretty}] s vs floor {cfloor:.2f} s — "
                  f"MEASURED warm-pass host multiplier {cmult:.2f}x "
                  f"(norm column = ratio / {cmult:.2f})")
        else:
            print(f"calib probes: [{pretty}] s, but no 'Calib floor: "
                  f"**N.NN s**' declared in BASELINE-notes.md — raw ratios only")
    # round 13: the bench line self-describes its local[N] parallelism; a
    # floor table declared at a different N is apples-to-oranges (the
    # driver's BENCH_r12.json metadata says cpus:32 while Bench defaulted
    # to local[4] when the env var is unset — invisible until now)
    if mcpus:
        print(f"bench session parallelism: cpus={mcpus.group(1)} — floors are "
              f"comparable only if declared at the same local[N] "
              f"(see the floor table's protocol line in BASELINE-notes.md)")
    # warmup adjudication (r20): warmup_sec against its own declared floor,
    # normalized by the probes BRACKETING the warmup window — the r20
    # start-of-warmup probe and calib[0] (taken right after warmup) — so
    # warmup drift is mechanically adjudicable like per-query slots. The
    # bar is WIDER than the per-query ratio: warmup's parallel sweep is
    # intrinsically high-variance (same-HEAD quiet runs spread 41-93 s in
    # the r19/r20 series, ~2.3x over the min-floor), so only >3x
    # normalized is drift worth adjudicating (the r19 driver's 141.9 s at
    # a 1.44x host normalizes to ~2.4x = inside the band).
    WARMUP_RATIO = 3.0
    wsec, wprobe, swidth = warmup_stats(text)
    wfloor = warmup_floor(mcpus.group(1) if mcpus else None)
    if wsec is not None:
        if wfloor:
            wr = wsec / wfloor
            # each bracketing sample normalized by ITS OWN quiet floor:
            # the start-of-run probe carries residual JIT the calib floor
            # doesn't describe
            pfloor = warmup_probe_floor(mcpus.group(1) if mcpus else None)
            ratios = []
            if wprobe is not None and pfloor:
                ratios.append(wprobe / pfloor)
            if calib and cfloor:
                ratios.append(calib[0] / cfloor)
            wm = max(sum(ratios) / len(ratios), 0.01) if ratios else None
            wn = wr / wm if wm else None
            above = (wn if wn is not None else wr) > WARMUP_RATIO
            if above:
                verdict = (f"ABOVE {WARMUP_RATIO}x — adjudicate the sweep "
                           "(per-step costs in warmup_sweep_top_cs)")
            else:
                verdict = "ok"
            wms = f"  norm {wn:5.2f} (warmup-window mult {wm:.2f}x)" if wm else ""
            sws = f"  sweep-width {swidth}" if swidth is not None else ""
            print(f"warmup: {wsec:.1f} s vs floor {wfloor:.1f} s "
                  f"= {wr:.2f}x{wms}{sws}  {verdict}")
        else:
            print(f"warmup: {wsec:.1f} s — no 'Warmup floor: **N.N s**' "
                  f"declared in BASELINE-notes.md yet (r20 protocol); "
                  f"declare one from kept quiet runs")
    if utils:
        print("util = JVM share of the machine during that slot; compare a "
              "flagged slot's util against a quiet round's for the same "
              "query — same util means more WORK (regression), "
              "proportionally lower util means fewer CYCLES (starved)")
    if starved:
        print(f"{len(starved)} flagged slot(s) adjudicated as STARVED by the "
              f"quiet-util table (util <= half its quiet-low): "
              + ", ".join(f"q{q} ({r:.2f}x @ util {u}% vs quiet-low {lo}%)"
                          for q, r, u, lo in starved))
    if not quiet:
        print("no quiet-util table in BASELINE-notes.md yet — run r17+ "
              "bench logs through dev/floors.py and commit its second table")
    if missing:
        print(f"no committed floor yet (new queries?): {', '.join('q' + q for q in missing)}")
    if flagged:
        basis = "calib-normalized" if cmult else "raw"
        print(f"{len(flagged)} quer{'y' if len(flagged) == 1 else 'ies'} above "
              f"{ratio}x floor ({basis}) — QProbe what remains: "
              + ", ".join("q" + q for q, *_ in flagged))
    else:
        print(f"no query above {ratio}x its floor — no drift to adjudicate")


if __name__ == "__main__":
    main()
