#!/usr/bin/env python3
"""Bench-reference adoption gate.

A candidate BENCH_QUERIES.json map may only become the committed reference
after passing two health gates, and its drift must be reported against TWO
baselines — the previous adopt AND the prior round's reference — so that
intra-round re-baselining can never hide cumulative drift (the r14 lesson:
two same-round adopts each showed geomean ~0.98 vs the previous adopt
while the chain vs the r13 reference was 1.071).

Gates (either failing refuses adoption):
  1. host_contended must be false (the run's own sentinel tripwire).
  2. max intra-run spread ratio must be <= --max-spread (default 4.0).
     Calibration over the committed history: every healthy adopted map
     tops out at <= 2.9x (q_dedup_embed's bucketed-join variance); the
     r14 end-of-round map the driver mistakenly committed carried an
     11.2x q_stats_agg spread and a 3.3x q_ann_pq spread. 4.0 separates
     the populations with margin on both sides.
  3. geomean drift (r16): |log geomean| vs the previous adopt beyond
     --max-geomean (default 1.08) = an ambient window in either
     direction, refused — on geomean alone, regardless of how many
     rows cross the per-row threshold. A genuine few-row code change
     cannot move a full-map geomean 8%; lumpy ambient drift can even push untouched
     rows past the per-row threshold (r16: 7 such rows in a
     1.19-geomean window). --force for deliberate global changes.
  4. run stolen_frac (r19): Bench integrates /proc/stat hypervisor
     steal over the timed pass; above --max-steal (default 0.05) the
     run is refused outright — steal bursts inflate rows 1.3-2x while
     sentinels and load average stay clean. Absent/-1 (old artifact,
     non-Linux) passes.

Since r16 Bench writes its run to BENCH_LAST_RUN.json (gitignored) and
never touches BENCH_QUERIES.json — this gate's --adopt is the ONLY path
into the committed reference.

Usage:
  python3 tools/adopt_bench.py CANDIDATE.json \
      [--prev PATH|GITREV] [--prior-round PATH|GITREV] \
      [--max-spread 4.0] [--adopt] [--force]

  --prev         previous adopt (default: HEAD:BENCH_QUERIES.json)
  --prior-round  prior round's reference (a path, or a git rev whose
                 BENCH_QUERIES.json is read); optional but recommended
  --adopt        on gate pass, copy CANDIDATE over BENCH_QUERIES.json
  --force        adopt even on gate failure (prints a loud warning)

Exit code: 0 = gates pass, 1 = gates fail (regardless of --force).
"""
import argparse, json, math, os, shutil, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(src):
    """Load a bench map from a file path or `git show <rev>:BENCH_QUERIES.json`."""
    if os.path.exists(src):
        with open(src) as f:
            return json.load(f), src
    out = subprocess.run(
        ["git", "-C", REPO, "show", f"{src}:BENCH_QUERIES.json"],
        capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"cannot load '{src}': not a file, and git show failed: "
                 f"{out.stderr.strip()}")
    return json.loads(out.stdout), f"{src}:BENCH_QUERIES.json"


def compare(cand, base, label):
    """Geomean + regressed/improved rows of candidate vs a baseline map."""
    cq, bq = cand.get("queries", {}), base.get("queries", {})
    shared = [(k, cq[k], bq[k]) for k in sorted(cq)
              if k in bq and cq[k] > 0 and bq[k] > 0]
    if not shared:
        print(f"  vs {label}: no shared queries")
        return
    logs = [math.log(c / b) for _, c, b in shared]
    geomean = math.exp(sum(logs) / len(logs))
    # same thresholds as Bench.scala's confirm pass: >1.5x AND +0.25s
    regressed = {k: [b, c] for k, c, b in shared
                 if c > 1.5 * b and c - b >= 0.25}
    improved = {k: [b, c] for k, c, b in shared
                if b > 1.5 * c and b - c >= 0.25}
    print(f"  vs {label}: total {base.get('value')} -> {cand.get('value')}, "
          f"geomean {geomean:.3f} over {len(shared)} shared queries")
    for name, (b, c) in sorted(regressed.items(), key=lambda x: -x[1][1] / x[1][0]):
        print(f"    REGRESSED {name}: {b:.3f} -> {c:.3f} ({c / b:.2f}x)")
    for name, (b, c) in sorted(improved.items(), key=lambda x: -x[1][0] / x[1][1]):
        print(f"    improved  {name}: {b:.3f} -> {c:.3f} ({c / b:.2f}x)")
    if not regressed and not improved:
        print("    no rows past the 1.5x/0.25s threshold in either direction")
    return geomean, len(regressed) + len(improved), len(shared)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("candidate")
    ap.add_argument("--prev", default="HEAD")
    ap.add_argument("--prior-round", default=None)
    ap.add_argument("--max-spread", type=float, default=4.0)
    ap.add_argument("--max-geomean", type=float, default=1.08)
    ap.add_argument("--max-steal", type=float, default=0.05)
    ap.add_argument("--adopt", action="store_true")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    cand, cand_src = load(args.candidate)
    failures = []

    if cand.get("host_contended"):
        failures.append("host_contended=true (sentinel tripwire fired)")

    # Gate 4 (r19): refuse a steal-polluted run outright. Bench now
    # integrates /proc/stat hypervisor steal over the whole timed pass;
    # the named-whipsaw discovery (SCALING.md) showed steal BURSTS
    # inflate rows 1.3-2x while sentinels and load average stay clean.
    # -1.0 / absent = steal unknown (old artifact or non-Linux): pass.
    stolen = cand.get("stolen_frac", -1.0)
    if stolen is not None and stolen > args.max_steal:
        failures.append(
            f"run stolen_frac {stolen:.3f} exceeds gate {args.max_steal} "
            f"— the hypervisor denied the guest CPU during the timed pass")

    spread = cand.get("spread", {})
    # a 3-decimal-rounded min of 0.000 is itself suspicious — flag it
    # instead of crashing the ratio (r15 advice)
    zeroish = [k for k, (mn, mx) in spread.items() if mn <= 0]
    if zeroish:
        failures.append(
            f"spread rows with min <= 0 (broken timing?): {sorted(zeroish)}")
    # Bench records a row's runs here only when they spread; a candidate
    # may also record every row's runs. Mirror Bench's absolute-diff
    # escape: a sub-second row whose two runs differ by < 0.25 s can post
    # a large RATIO without the window being unhealthy.
    worst = max(((mx / mn, k, mn, mx) for k, (mn, mx) in spread.items()
                 if mn > 0 and (mx - mn) >= 0.25),
                default=None)
    if worst:
        ratio, k, mn, mx = worst
        print(f"candidate {cand_src}: total {cand.get('value')}, "
              f"worst spread {k} [{mn:.3f},{mx:.3f}] = {ratio:.2f}x")
        if ratio > args.max_spread:
            failures.append(
                f"max intra-run spread {ratio:.2f}x ({k}) exceeds gate "
                f"{args.max_spread}x — the window is unhealthy even if the "
                f"sentinels stayed quiet")
    else:
        print(f"candidate {cand_src}: total {cand.get('value')}, no spread rows")

    prev, prev_src = load(args.prev)
    drift = compare(cand, prev, f"previous adopt ({prev_src})")
    # Gate 3 (r16): refuse UNIFORM drift — a geomean shifted past
    # --max-geomean with (almost) no per-row 1.5x/0.25s flags is an
    # ambient window, not a code change (r16's 1.235-geomean slow-window
    # map passed gates 1+2 cleanly: host quiet by the sentinels' own
    # standard, spread 2.26x). Real code changes move SPECIFIC rows past
    # the threshold; ambient drift moves ALL rows a little. Refused in
    # BOTH directions — an ambient-FAST window would set a reference
    # that false-flags every later honest run. A deliberate global
    # change (session config, Spark upgrade) uses --force.
    if drift is not None:
        geomean, flagged, nshared = drift
        if abs(math.log(geomean)) > math.log(args.max_geomean):
            failures.append(
                f"geomean drift {geomean:.3f} vs previous adopt exceeds the "
                f"{args.max_geomean} gate ({flagged} rows past the per-row "
                f"threshold) — a genuine few-row code change cannot move a "
                f"{nshared}-row geomean this far; this is an ambient window (lumpy "
                f"drift can even push untouched rows past 1.5x, as r16's "
                f"1.19-geomean window did to 7 of them). Re-run in a "
                f"calibrated-quiet window (graft.Measure time --runs 4 "
                f"<sf0.1> q_dedup_embed steady 0.35-0.5s) or --force for a "
                f"deliberate global change")
    if args.prior_round:
        prior, prior_src = load(args.prior_round)
        compare(cand, prior, f"prior round ({prior_src})")
    else:
        print("  (no --prior-round given: cumulative drift vs the round-open "
              "baseline is NOT being checked)")

    if failures:
        print("\nGATE FAIL:")
        for f in failures:
            print(f"  - {f}")
    else:
        print("\nGATE PASS")

    if args.adopt:
        if failures and not args.force:
            print("refusing to adopt (use --force to override)")
        else:
            if failures:
                print("WARNING: adopting a gate-failing map under --force")
            target = os.path.join(REPO, "BENCH_QUERIES.json")
            shutil.copyfile(args.candidate, target)
            print(f"adopted {args.candidate} -> {target}")

    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
