"""Self-check of the benchmark at a tiny size: `python3 perfbench/run.py --selfcheck`.

For every workload it asserts that an untraced run prints each end-to-end
metric, each above zero, and a traced run each per-layer metric, with the
units BENCHMARK.json gives them, and that a deliberately broken output — a
corrupted artifact, a wrong reference checksum — is reported as a failed
operation with a non-zero exit.
"""
import json
import math
import os
import subprocess
import sys

import run

FAULTS = {"ingest_backfill": "corrupt", "query_suite": "checksum"}


def spec_units():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def invoke(script, workload, trace, inject="none"):
    cmd = [sys.executable, script, "--workload", workload, "--seed", "3", "--seconds", "2",
           "--trace", str(trace), "--size", "tiny", "--inject", inject]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    lines = p.stdout.decode().strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main(script):
    units = spec_units()
    problems = []
    declared = set()
    for w in run.WORKLOADS:
        for trace in (0, 1):
            names = run.ALL_LAYERS if trace else run.END_TO_END
            declared.update(names)
            code, res = invoke(script, w, trace)
            if code != 0 or not res or not res["correct"] or res["failed"] != 0:
                problems.append("%s trace=%d: exit %s, result %s" % (w, trace, code, res))
                continue
            for n in names:
                m = res["metrics"].get(n)
                if m is None:
                    problems.append("%s trace=%d: %s missing" % (w, trace, n))
                elif m["unit"] != units.get(n):
                    problems.append("%s: %s unit %s, BENCHMARK.json %s" % (w, n, m["unit"], units.get(n)))
                elif not isinstance(m["value"], (int, float)) or math.isnan(m["value"]):
                    problems.append("%s: %s value %r" % (w, n, m["value"]))
                elif not trace and m["value"] <= 0:
                    problems.append("%s: end-to-end %s is %r, not positive" % (w, n, m["value"]))
            print("selfcheck: %s trace=%d ok (%d metrics)" % (w, trace, len(names)))
        code, res = invoke(script, w, 0, FAULTS[w])
        if code == 0 or not res or res["correct"] or res["failed"] < 1:
            problems.append("%s: injected %s fault not reported: exit %s, %s" % (w, FAULTS[w], code, res))
        else:
            print("selfcheck: %s %s fault -> %d of %d operations failed"
                  % (w, FAULTS[w], res["failed"], res["attempted"]))
    for n in sorted(set(units) - declared):
        problems.append("BENCHMARK.json names %s, which no workload prints" % n)
    for p in problems:
        print("selfcheck: FAIL " + p)
    print("selfcheck: %s" % ("ok" if not problems else "%d problems" % len(problems)))
    return 1 if problems else 0
