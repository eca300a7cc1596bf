#!/usr/bin/env python
"""One-command round checkpoint: pytest + dual-tier oracle parity (both
scales) + the benchmark's correctness run + bench, summarized as a single
JSON line.

Encodes the per-round validation workflow (see README "Correctness"):

    python tools/verify_all.py            # full checkpoint (~20-30 min)
    python tools/verify_all.py --fast     # skip sf0.1 parity, benchmark, bench

Exit code 0 iff every stage passed.  Each stage's full log lands in
/tmp/verify_all/<stage>.log for triage.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LOGDIR = Path("/tmp/verify_all")


def run(stage: str, cmd: list[str]) -> dict:
    LOGDIR.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    log = LOGDIR / f"{stage}.log"
    log.write_text(proc.stdout + "\n--- stderr ---\n" + proc.stderr)
    tail = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    return {
        "ok": proc.returncode == 0,
        "seconds": round(time.time() - t0, 1),
        "tail": tail[:200],
        "log": str(log),
    }


def main() -> int:
    fast = "--fast" in sys.argv
    py = sys.executable
    stages = {
        "pytest": [py, "-m", "pytest", "tests/", "-q"],
        "oracle_sf001": [py, "tools/oracle_check.py", "--extra"],
    }
    if not fast:
        stages["oracle_sf01"] = [py, "tools/oracle_check.py",
                                 "/root/testdata/sf0.1", "--extra"]
        # perfbench checks every dashboard result against DuckDB and
        # exits non-zero on a wrong one
        stages["perfbench_dashboard"] = [
            py, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
            "--seconds", "22", "--trace", "0"]
        stages["bench"] = [py, "bench.py"]
    report = {}
    for name, cmd in stages.items():
        report[name] = run(name, cmd)
        status = "PASS" if report[name]["ok"] else "FAIL"
        print(f"{status} {name} ({report[name]['seconds']}s): "
              f"{report[name]['tail']}", file=sys.stderr)
    ok = all(r["ok"] for r in report.values())
    print(json.dumps({"ok": ok, "stages": report}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
