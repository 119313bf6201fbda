#!/usr/bin/env python3
"""Split `graft.Measure explain` output into one plan file per query.

Usage: python3 tools/split_plans.py EXPLAIN_LOG OUT_DIR SUFFIX
Writes OUT_DIR/<query>_<SUFFIX>.txt for every '========== name =========='
section found in EXPLAIN_LOG (sbt [info]/[error] prefixes stripped).
"""
import os
import re
import sys


def main() -> None:
    log, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    os.makedirs(out_dir, exist_ok=True)
    name = None
    buf: list[str] = []
    written = 0

    def flush() -> int:
        if name is None:
            return 0
        body = "".join(buf).strip() + "\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(body)
        return 1

    with open(log, errors="replace") as f:
        for raw in f:
            line = re.sub(r"^\[(info|error)\] ", "", raw)
            m = re.match(r"={10} (\S+) ={10}\s*$", line)
            if m:
                written += flush()
                name, buf = m.group(1), []
            elif name is not None:
                buf.append(line)
    written += flush()
    print(f"wrote {written} plan files to {out_dir} (suffix {suffix})")


if __name__ == "__main__":
    main()
