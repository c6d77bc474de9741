"""Write ``BENCHMARK.json`` from the workload and metric definitions.

    python3 perfbench/make_spec.py

The per-layer list is generated from the spans each workload records,
so the file and the program cannot disagree.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

RUN_SECONDS = 1
WHY = {
    "tv_daily": "the paper's daily cycle on a backfilled warehouse: "
                "ingest one drop, then the incremental DAG; job overhead, "
                "merge anti-joins and partition rewrites dominate",
    "llm_daily": "LLM-data day: curation DAG pass over a new document drop "
                 "(dedup against the persisted band index, eval excision), "
                 "then a read-only IVF probe batch; TV code idle",
}
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "rows_per_s", "unit": "rows/s", "better": "higher",
     "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.1},
]


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import per_layer_names
    from perfbench.workloads import WORKLOADS

    spec = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": WHY[n]} for n in WORKLOADS],
        "end_to_end": END_TO_END,
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in per_layer_names()],
    }
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
        json.dump(spec, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
