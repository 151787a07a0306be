#!/usr/bin/env python3
"""Mechanical triage of a graft.Bench draw against the committed baseline.

Encodes the repo's bench-noise discipline (PERF.md) as a machine call
instead of judgment-call prose:

  python3 tools/bench_triage.py <draw.json> [baseline.json]

(baseline defaults to the committed bench_full.json next to this repo).

Classification rules, in order:
 0. CORES: the draw and the baseline must have run on the same number of
    cores (the "cpus" field graft.Bench writes; a file without it was
    drawn at SPARK_GRAFT_CPUS=32, see bench_budgets.json "_note").
    Per-query medians at different core counts do not compare: the draw
    is DIRTY whatever its timings say.
 1. CALIB: the draw's calibration probes must sit in the documented clean
    band (pre/post _1t <= 0.33, _allcore <= 0.38, and post/pre drift
    <= 1.25x). Outside it => the HOST was noisy during the draw; per-query
    deltas are uninterpretable and the draw must be discarded, whatever
    the total says.
 2. MEDIAN RATIO: per-query ratio draw/baseline over the shared query
    set. A clean draw has median ratio in [0.8, 1.2].
 3. LOCALIZED SPIKES: queries with ratio > 1.5x AND baseline time > 0.2 s
    (small bases are pure jitter). With a clean calib block and a clean
    median, localized spikes are REGRESSIONS (the repo's triage rule:
    uniform drift => host, localized => regression); with a dirty calib
    they are unattributable. When both files carry graft.Bench's
    "ledger", each flagged query also shows its job count and
    task-seconds, baseline -> draw, so a spike reads as more Spark work
    (jobs, task-seconds up) or as waiting (both flat).
 4. BUILDS: any in-sweep `.build`/`.train` forensic event means an
    artifact retrained inside the measured sweep — the draw measured a
    cold build, not the serve path; rebuild the cache and redraw.

Exit status: 0 = CLEAN (commit it), 1 = DIRTY (discard / redraw),
2 = REGRESSION (clean host, localized slowdowns — investigate the named
queries before committing).
"""
import json
import os
import statistics
import sys

CAL_1T_MAX = 0.33
CAL_ALL_MAX = 0.38
CAL_DRIFT_MAX = 1.25
SPIKE_RATIO = 1.5
SPIKE_BASE = 0.2
# Absolute-delta floor: every flagged-then-hand-adjudicated "spike" in
# rounds 11-12 with a delta under ~0.3 s re-measured at baseline (draws
# rotate ONE different small query above 1.5x per draw — scheduler
# jitter). A real regression on a served query is an artifact rebuild
# or a plan change — whole seconds. Ratio alone over-triggers on small
# bases; require the draw to actually lose meaningful time.
SPIKE_DELTA = 0.3
MEDIAN_BAND = (0.8, 1.2)
# Per-query budget gate (round-15 verdict item 3): EVERY query carries a
# pinned clean median in tools/bench_budgets.json (pin_budgets.py
# regenerates the table from a committed clean draw), and a draw fails
# when any query exceeds 2x its pin by more than the absolute floor —
# even if the total passes. 2x (vs the 1.5x baseline-ratio rule) because
# pins age across rounds while the baseline is re-committed per round;
# the budget is the backstop against creep hiding under total weather,
# not the primary per-draw comparison.
BUDGET_RATIO = 2.0
# Core count of a draw or baseline that predates the "cpus" field.
DEFAULT_CPUS = 32


def load(p):
    with open(p) as f:
        return json.load(f)


def ledger_note(draw, base, k):
    """The query's Spark cost, baseline -> draw, when both files carry a
    ledger entry for it (graft.Bench's per-query median jobs and
    task-seconds); empty otherwise. Informational: no rule reads it."""
    d = (draw.get("ledger") or {}).get(k)
    b = (base.get("ledger") or {}).get(k)
    if not d or not b:
        return ""
    return (f"; jobs {b['jobs']:g} -> {d['jobs']:g}, "
            f"task_s {b['task_s']:.2f} -> {d['task_s']:.2f}")


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    draw = load(sys.argv[1])
    base_path = (sys.argv[2] if len(sys.argv) > 2 else
                 os.path.join(os.path.dirname(__file__), "..", "bench_full.json"))
    base = load(base_path)

    problems, notes = [], []

    # 0. core counts
    draw_cpus = draw.get("cpus", DEFAULT_CPUS)
    base_cpus = base.get("cpus", DEFAULT_CPUS)
    cpus_differ = draw_cpus != base_cpus
    if cpus_differ:
        problems.append(f"draw ran on {draw_cpus} cpus, baseline on {base_cpus}")

    # 1. calibration band
    cal = draw.get("calib", {})
    cal_dirty = False
    for k in ("pre_1t", "post_1t"):
        if cal.get(k, 0) > CAL_1T_MAX:
            cal_dirty = True
            problems.append(f"calib {k}={cal[k]:.3f} > {CAL_1T_MAX}")
    for k in ("pre_allcore", "post_allcore"):
        if cal.get(k, 0) > CAL_ALL_MAX:
            cal_dirty = True
            problems.append(f"calib {k}={cal[k]:.3f} > {CAL_ALL_MAX}")
    for a, b in (("pre_1t", "post_1t"), ("pre_allcore", "post_allcore")):
        if cal.get(a) and cal.get(b) and cal[b] / cal[a] > CAL_DRIFT_MAX:
            cal_dirty = True
            problems.append(f"calib drift {a}->{b} = {cal[b]/cal[a]:.2f}x > {CAL_DRIFT_MAX}")

    # 1b. memory-bandwidth probe (round 12+: the ALU burn misses
    # bandwidth-level contention — a sustained phase measured uniform
    # 1.26x query drift with a clean burn calib). Hard-gate against the
    # baseline's probe when both sides carry it; print informationally
    # otherwise.
    for k in ("pre_membw", "post_membw"):
        if k in cal:
            bl = base.get("calib", {}).get(k)
            if bl:
                if cal[k] / bl > 1.3:
                    cal_dirty = True
                    problems.append(
                        f"calib {k}={cal[k]:.3f} > 1.3x baseline {bl:.3f} "
                        "(bandwidth contention)")
            else:
                notes.append(f"calib {k}={cal[k]:.3f} (no baseline reference)")

    # 2. per-query median ratio over the shared set
    dq, bq = draw.get("queries", {}), base.get("queries", {})
    shared = [k for k in dq if k in bq and bq[k] > 0]
    ratios = {k: dq[k] / bq[k] for k in shared}
    med = statistics.median(ratios.values()) if ratios else float("nan")
    uniform_drift = med > MEDIAN_BAND[1] or med < MEDIAN_BAND[0]
    if uniform_drift:
        notes.append(f"median ratio {med:.2f} outside {MEDIAN_BAND} (uniform => host)")

    # 3. localized spikes
    spikes = sorted(
        ((k, r) for k, r in ratios.items()
         if r > SPIKE_RATIO and bq[k] > SPIKE_BASE
         and dq[k] - bq[k] > SPIKE_DELTA),
        key=lambda kv: -kv[1])
    for k, r in spikes:
        notes.append(f"spike {k}: {bq[k]:.2f} -> {dq[k]:.2f} s ({r:.2f}x)"
                     + ledger_note(draw, base, k))

    # 4. in-sweep builds
    builds = []
    for q, ev in (draw.get("forensics") or {}).items():
        for kind, n in ev.items():
            if kind.endswith(".build") or kind.endswith(".train"):
                builds.append(f"{q}:{kind}={n}")
    if builds:
        notes.append("in-sweep builds: " + ", ".join(builds))

    # New-surface budgets: a query's FIRST appearance has no committed
    # median to compare against, so every registration pins its own
    # clean-window budget in tools/bench_budgets.json at the time it is
    # added. A budgeted new query is triaged exactly like a baselined
    # one (ratio + absolute-delta spike rule against the budget); an
    # unbudgeted one is called out so the gap is closed at registration
    # time, not discovered when the query first misbehaves.
    budgets = {}
    budget_path = os.path.join(os.path.dirname(__file__), "bench_budgets.json")
    if os.path.exists(budget_path):
        budgets = {k: v for k, v in load(budget_path).items()
                   if isinstance(v, (int, float))}

    new_qs = [k for k in dq if k not in bq]
    gone_qs = [k for k in bq if k not in dq]
    # Budget gate over EVERY query (not just new surface): 2x the pinned
    # clean median + the absolute SPIKE_DELTA floor fails the draw even
    # when the total and the median ratio pass. No SPIKE_BASE floor:
    # budgets are hand-pinned/committed clean medians, not jittery draw
    # values, so a small-budget query (e.g. a 0.15 s streaming probe)
    # must still be able to fire; the absolute floor suppresses jitter.
    budget_spikes = []
    unbudgeted = []
    for k in sorted(dq):
        if not isinstance(dq[k], (int, float)):
            continue
        if k in budgets and budgets[k] > 0:
            r = dq[k] / budgets[k]
            if r > BUDGET_RATIO and dq[k] - budgets[k] > SPIKE_DELTA:
                budget_spikes.append((k, r))
                notes.append(
                    f"budget breach {k}: pin {budgets[k]:.2f} -> {dq[k]:.2f} s ({r:.2f}x)"
                    + ledger_note(draw, base, k))
        elif k in new_qs:
            unbudgeted.append(k)
    if dq and budgets:
        covered = sum(1 for k in dq if k in budgets)
        notes.append(f"budget coverage: {covered}/{len(dq)} queries pinned")
    spikes = spikes + budget_spikes
    if new_qs:
        notes.append(f"{len(new_qs)} queries not in baseline (new surface; "
                     f"{len(new_qs) - len(unbudgeted)} budgeted)")
    if unbudgeted:
        notes.append("unbudgeted new queries (pin a median in "
                     "tools/bench_budgets.json): " + ", ".join(sorted(unbudgeted)))
    if gone_qs:
        notes.append(f"{len(gone_qs)} baseline queries missing from draw")

    total = draw.get("value")
    header = (f"draw total {total:.2f} s over {len(dq)} queries; "
              f"baseline {base.get('value', float('nan')):.2f} s over {len(bq)}; "
              f"median ratio {med:.2f}; {len(spikes)} spike(s)")

    # A draw with no comparable per-query data is NOT clean — it's
    # untriageable (wrong file, stdout summary line instead of
    # bench_full.json, or a draw compared against itself).
    if not shared:
        print(header)
        print("VERDICT: INVALID (no shared per-query timings — pass the "
              "draw's bench_full.json and the COMMITTED baseline)")
        sys.exit(1)
    if os.path.realpath(sys.argv[1]) == os.path.realpath(base_path):
        print(header)
        print("VERDICT: INVALID (draw and baseline are the same file)")
        sys.exit(1)

    if cpus_differ:
        verdict, code = (f"DIRTY (core counts differ: draw {draw_cpus} cpus, "
                         f"baseline {base_cpus} cpus — redraw at the "
                         "baseline's core count)"), 1
    elif cal_dirty:
        verdict, code = "DIRTY (noisy host: calib outside clean band — discard, redraw)", 1
    elif builds:
        verdict, code = "DIRTY (in-sweep artifact builds — warm the cache, redraw)", 1
    elif uniform_drift:
        verdict, code = "DIRTY (uniform drift with clean calib — treat as host, redraw)", 1
    elif spikes:
        verdict, code = ("REGRESSION (clean host, localized spikes: " +
                         ", ".join(k for k, _ in spikes[:5]) + ")"), 2
    else:
        verdict, code = "CLEAN (commit this draw)", 0

    print(header)
    for p in problems:
        print("  ! " + p)
    for n in notes:
        print("  - " + n)
    print("VERDICT: " + verdict)
    sys.exit(code)


if __name__ == "__main__":
    main()
