#!/usr/bin/env python3
"""Bench-reference adoption.

`graft.Bench` writes each run to BENCH_LAST_RUN.json and only reads the
committed reference, BENCH_QUERIES.json; this tool is the one path into
it. It does not judge a run itself: it reads the verdict Bench wrote
into each candidate and refuses a candidate when
  - a row failed (`failed` is not empty),
  - the run was compared with nothing (`reference` is not "ok": the
    reference was taken at another core count or scale factor, has no
    counters, or is missing), or
  - a row's work counters moved against the reference (`regressed`).

Two clean runs of the same code may be adopted together. Their exact
counters (Bench's: files, input records, spill bytes) must agree row by
row, or the pair is refused. The reference is the first run with each
row's `cpu_s` and `driver_cpu_s` the larger of the two: CPU time moves
with the host, and a reference holding one run's low reading flags the
next ordinary run of unchanged code.

Usage:
  python3 tools/adopt_bench.py CANDIDATE.json [CANDIDATE2.json] [--adopt] [--force]

  --adopt  write the candidate (or the pair's merge) over
           BENCH_QUERIES.json unless it is refused
  --force  with --adopt, write a refused candidate too: a deliberate
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


EXACT = ("files", "input_records", "memory_spill_bytes", "disk_spill_bytes")
CPU = ("cpu_s", "driver_cpu_s")


def disagreements(a, b):
    """Where two runs' exact counters differ (empty: the same work)."""
    ca, cb = a.get("counters", {}), b.get("counters", {})
    out = [f"rows only in one run: {sorted(set(ca) ^ set(cb))}"] if set(ca) != set(cb) else []
    for q in sorted(set(ca) & set(cb)):
        for k in EXACT:
            if ca[q].get(k) != cb[q].get(k):
                out.append(f"{q} {k} {ca[q].get(k)} != {cb[q].get(k)}")
    return out


def merged(a, b):
    """The first run, each row's CPU times the larger of the two runs'."""
    out = json.loads(json.dumps(a))
    for q, row in out.get("counters", {}).items():
        other = b.get("counters", {}).get(q, {})
        for k in CPU:
            if k in row and k in other:
                row[k] = max(row[k], other[k])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("candidates", nargs="+", metavar="candidate")
    ap.add_argument("--adopt", action="store_true")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()
    if len(args.candidates) > 2:
        ap.error("at most two candidates")

    cands = []
    refused = []
    for path in args.candidates:
        with open(path) as f:
            cand = json.load(f)
        cands.append(cand)
        print(f"candidate {path}: cpus {cand.get('cpus')}, sf {cand.get('sf')}, "
              f"{len(cand.get('queries', {}))} rows, total {cand.get('value')} s")
        refused += [f"{path}: {r}" for r in refusals(cand)]
    if len(cands) == 2:
        refused += [f"exact counters disagree: {d}" for d in disagreements(*cands)]
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
            if len(cands) == 1:
                shutil.copyfile(args.candidates[0], target)
            else:
                with open(target, "w") as f:
                    json.dump(merged(*cands), f, separators=(",", ":"))
                    f.write("\n")
            print(f"adopted {' + '.join(args.candidates)} -> {target}")

    sys.exit(1 if refused else 0)


if __name__ == "__main__":
    main()
