#!/usr/bin/env python3
"""Bench-reference adoption.

`graft.Bench` writes each run to BENCH_LAST_RUN.json and only reads the
committed reference, BENCH_QUERIES.json; this tool is the one path into
it. It does not judge the run itself: it reads the verdict Bench wrote
into the candidate and refuses the candidate when
  - a row failed (`failed` is not empty),
  - the run was compared with nothing (`reference` is not "ok": the
    reference was taken at another core count or scale factor, has no
    counters, or is missing), or
  - a row's work counters moved against the reference (`regressed`).

Usage:
  python3 tools/adopt_bench.py CANDIDATE.json [--adopt] [--force]

  --adopt  copy CANDIDATE over BENCH_QUERIES.json unless it is refused
  --force  with --adopt, copy a refused candidate too: a deliberate
           re-baseline (a plan change, another core count or scale factor)

Exit code: 0 = accepted, 1 = refused (also under --force).
"""
import argparse, json, os, shutil, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def refusals(cand):
    """Why Bench's own verdict on the candidate refuses it (empty: accepted)."""
    out = []
    if cand.get("failed", []):
        out.append(f"failed rows: {cand['failed']}")
    if cand.get("reference") != "ok":
        out.append(f"not compared with the reference: {cand.get('reference', 'no verdict')}")
    for name, moved in sorted(cand.get("regressed", {}).items()):
        out.append(f"regressed {name}: {', '.join(moved)}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("candidate")
    ap.add_argument("--adopt", action="store_true")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    with open(args.candidate) as f:
        cand = json.load(f)
    print(f"candidate {args.candidate}: cpus {cand.get('cpus')}, sf {cand.get('sf')}, "
          f"{len(cand.get('queries', {}))} rows, total {cand.get('value')} s")
    refused = refusals(cand)
    for r in refused:
        print(f"  REFUSED {r}")
    print("REFUSED" if refused else "ACCEPTED")

    if args.adopt:
        if refused and not args.force:
            print("not adopted (use --force to override)")
        else:
            if refused:
                print("WARNING: adopting a refused candidate under --force")
            target = os.path.join(REPO, "BENCH_QUERIES.json")
            shutil.copyfile(args.candidate, target)
            print(f"adopted {args.candidate} -> {target}")

    sys.exit(1 if refused else 0)


if __name__ == "__main__":
    main()
