#!/usr/bin/env python3
"""Per-query bench floor regression gate (VERDICT r7 #7).

Compares a fresh bench_local.json against a committed baseline (by
default the git-HEAD version of bench_local.json) per query and fails
when any query's best-of-N time drifted above DRIFT x its baseline
floor — automating the per-query floor diff the round-7 verdict did by
hand. Only meaningful on a quiet machine (the committed floors are
quiet-run numbers; EXPERIMENTS.md "Round-14 close" documents the
contamination signature).

Usage:
  python3 tools/bench_floor_gate.py NEW.json [BASELINE.json] [--drift 1.5]

- BASELINE defaults to `git show HEAD:bench_local.json`.
- Queries present only in NEW are reported as "new" (never fail).
- Queries missing from NEW fail (a silently dropped query is a
  regression too).
- Sub-floor times (NEW faster) always pass.
- Tiny floors are noise-dominated: queries under MIN_SEC on both sides
  are exempt from the ratio gate.
- A NEW record whose flat `failed` field names any query fails: a query
  that threw is timed like one that ran, so its time is no floor.

Exit 0 = clean; exit 1 = a failed or missing query, or drift without an
EXPERIMENTS.md explanation — either fix the regression or document the
cause and re-baseline.
"""
import json
import subprocess
import sys

MIN_SEC = 0.5


def load_record(blob):
    d = json.loads(blob)
    return d.get("best_of_2", d)


def main():
    # positional args = everything that is neither a flag nor a flag's
    # value (the token after --drift is consumed by the flag, ADVICE r8)
    drift = 1.5
    args, skip = [], False
    for a in sys.argv[1:]:
        if skip:
            drift = float(a)
            skip = False
        elif a == "--drift":
            skip = True
        elif not a.startswith("--"):
            args.append(a)
    if not args:
        print(__doc__)
        return 2
    record = load_record(open(args[0]).read())
    new = record["queries"]
    failed = [q for q in record.get("failed", "").split(",") if q]
    if len(args) > 1:
        base = load_record(open(args[1]).read())["queries"]
    else:
        blob = subprocess.check_output(
            ["git", "show", "HEAD:bench_local.json"],
            cwd=subprocess.check_output(
                ["git", "rev-parse", "--show-toplevel"]).decode().strip())
        base = load_record(blob)["queries"]

    # mechanical regime adjudication (VERDICT r9 #7): the per-query
    # ratio distribution tells contamination apart from regressions —
    # a uniformly elevated median is a machine REGIME (reject the run,
    # rerun quiet), isolated spikes over a clean median are scheduler
    # STALLs, anything else judges per-query drift as real.
    ratios = sorted(new[q] / b for q, b in base.items()
                    if q in new and (b >= MIN_SEC or new[q] >= MIN_SEC))
    if ratios:
        mid = len(ratios) // 2
        median = (ratios[mid] if len(ratios) % 2
                  else (ratios[mid - 1] + ratios[mid]) / 2)
        if median > 1.25:
            verdict = f"regime (median ratio {median:.2f}x — machine contaminated, rerun quiet)"
        elif ratios[-1] > 3.0:
            spikes = sum(1 for r in ratios if r > 3.0)
            verdict = f"stall ({spikes} spike(s) > 3x over a clean {median:.2f}x median)"
        else:
            verdict = f"clean (median ratio {median:.2f}x, max {ratios[-1]:.2f}x)"
        print(f"[bench-floor-gate] verdict: {verdict}")

    failures = [f"FAILED   {q}: the query threw during the run" for q in failed]
    news = []
    for q, b in sorted(base.items()):
        if q not in new:
            failures.append(f"MISSING  {q}: in baseline ({b:.2f}s) but not in the new run")
            continue
        n = new[q]
        if b < MIN_SEC and n < MIN_SEC:
            continue
        if n > b * drift:
            failures.append(f"DRIFT    {q}: {b:.2f}s -> {n:.2f}s ({n / b:.2f}x > {drift}x)")
    for q in sorted(set(new) - set(base)):
        news.append(f"new      {q}: {new[q]:.2f}s (no baseline floor yet)")

    for line in news:
        print(line)
    if failures:
        for line in failures:
            print(line)
        print(f"\n[bench-floor-gate] {len(failures)} failed, missing or over-{drift}x "
              "queries — fix them, or explain the drift in docs/EXPERIMENTS.md "
              "before re-baselining")
        return 1
    print(f"[bench-floor-gate] clean: {len(base)} baselined queries within "
          f"{drift}x of their floors, {len(news)} new")
    return 0


if __name__ == "__main__":
    sys.exit(main())
