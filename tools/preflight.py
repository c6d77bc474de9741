#!/usr/bin/env python
"""End-of-session preflight: invariants a snapshot commit must never
violate (r13 post-mortem: the end-of-round snapshot fired mid-stash-swap
A/B and committed a tree with unresolved conflict markers in
sources/writer.py plus the WRONG A/B arm — 4 oracle queries, pytest
collection, and the driver bench all died on the SyntaxError).

Run as the LAST step of every session, before any end-of-round commit:

    python tools/preflight.py

Exits non-zero with a loud reason on the first violated invariant:

1. `git stash list` is EMPTY — a live stash means an A/B swap is
   mid-flight and the working tree is one arm of it, not the tree you
   verified.
2. No unresolved merge/stash conflicts — neither git unmerged paths
   (`git status` UU/AA/...) nor conflict markers in tracked *.py files.
3. The package IMPORTS — `import samba_tv_ingest_etl_spark` plus the
   driver entry module (`__spark_entry__`) in a fresh interpreter.
4. pytest COLLECTION succeeds (`pytest --collect-only -q`): every test
   module imports; ~seconds, no Spark session.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, timeout=600
    )


def fail(msg: str) -> None:
    print(f"PREFLIGHT FAIL: {msg}", file=sys.stderr)
    sys.exit(1)


def main() -> None:
    # 1. no live stash
    r = run(["git", "stash", "list"])
    if r.stdout.strip():
        fail(
            "git stash is not empty — an A/B swap is mid-flight; pop or "
            "drop it and re-verify before snapshotting:\n" + r.stdout
        )

    # 2a. no unmerged paths
    r = run(["git", "status", "--porcelain"])
    unmerged = [
        ln for ln in r.stdout.splitlines()
        if ln[:2] in ("UU", "AA", "DD", "AU", "UA", "DU", "UD")
    ]
    if unmerged:
        fail("unmerged paths in git status:\n" + "\n".join(unmerged))

    # 2b. no conflict markers in tracked python files
    r = run(["git", "ls-files", "*.py"])
    for path in r.stdout.split():
        full = os.path.join(REPO, path)
        try:
            with open(full, encoding="utf-8", errors="replace") as f:
                for i, line in enumerate(f, 1):
                    # a bare "=======" line is also an RST underline,
                    # so only the two arrow markers count
                    if line.startswith(("<<<<<<< ", ">>>>>>> ")):
                        fail(f"conflict marker at {path}:{i}: {line.rstrip()}")
        except FileNotFoundError:
            continue

    # 3. package + entry import in a fresh interpreter
    r = run([
        sys.executable, "-c",
        "import sys; sys.path.insert(0, %r); "
        "import samba_tv_ingest_etl_spark; import __spark_entry__; "
        "print('imports ok')" % REPO,
    ])
    if r.returncode != 0:
        fail("package/entry import failed:\n" + r.stderr[-2000:])

    # 4. pytest collection
    r = run([sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"])
    if r.returncode != 0:
        fail("pytest collection failed:\n" + (r.stdout + r.stderr)[-2000:])

    print("PREFLIGHT OK: stash empty, no conflicts, imports ok, "
          "pytest collects")


if __name__ == "__main__":
    main()
