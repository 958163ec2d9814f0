#!/usr/bin/env python3
"""Run the full test suite (slow tests included) and record the outcome.

    python tools/record_full_run.py            # writes FULL_TEST_RUN.json

``pytest.ini`` deselects the ``slow`` tests by default, so the default
run never executes them; this runs ``pytest tests/ -m ""`` once and
writes its exit code, the pass/fail/skip/deselect counts, the failed
test ids and the wall duration as JSON at the repo root. Run it on a
round's final tree.
"""
from __future__ import annotations

import json
import os
import re
import shlex
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / "FULL_TEST_RUN.json"
COMMAND = [sys.executable, "-m", "pytest", "tests/", "-m", "", "-q", "-rf", "-p", "no:cacheprovider"]


def main() -> int:
    t0 = time.time()
    lines = []
    with subprocess.Popen(COMMAND, cwd=ROOT, stdout=subprocess.PIPE, text=True) as proc:
        for line in proc.stdout:
            sys.stdout.write(line)
            lines.append(line.rstrip("\n"))
    duration = time.time() - t0
    summary = next((l for l in reversed(lines) if re.search(r" in [\d.]+s", l)), "")
    counts = {
        k: 0 for k in ("passed", "failed", "skipped", "deselected", "errors", "xfailed", "xpassed")
    }
    for n, kind in re.findall(r"(\d+) (\w+)", summary):
        kind = "errors" if kind.startswith("error") else kind
        if kind in counts:
            counts[kind] = int(n)
    record = {
        "command": shlex.join(["python", *COMMAND[1:]]),
        "exit_code": proc.returncode,
        **counts,
        "failed_tests": [l.split(" ", 1)[1].split(" - ")[0] for l in lines if l.startswith("FAILED ")],
        "duration_s": round(duration, 1),
        "cpus": len(os.sched_getaffinity(0)),
        "finished_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "summary": summary.strip("= "),
    }
    OUT.write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps(record))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
