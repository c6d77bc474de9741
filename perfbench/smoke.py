"""Smoke test: every workload at ``--scale tiny``, untraced and traced,
must finish with ``correct: true`` and print every metric that
``BENCHMARK.json`` names.

    python3 perfbench/smoke.py

Takes about 3 minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w["name"], "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--scale", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                               text=True, timeout=300)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines \
                else {}
            ok = (res.get("correct") is True and res.get("failed") == 0
                  and set(res.get("metrics", {})) == want[trace])
            print(f"{w['name']} trace={trace}: {'ok' if ok else 'FAIL'}")
            if not ok:
                bad += 1
                sys.stderr.write(p.stderr[-4000:])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
