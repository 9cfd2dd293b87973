"""Arm the skew/scale stress tier and record an artifact.

Runs ``SPARK_GRAFT_STRESS=1 pytest -m stress tests/`` and writes a
per-test JSON record (outcome + wall seconds + the row scale N) so the
10⁶-row "would survive 100×" shapes leave an auditable artifact each
round instead of a dormant opt-in marker. Usage:

    python tools/run_stress.py [out.json] [rows]

Defaults: ``STRESS.json`` in the repo root, rows =
``SPARK_GRAFT_STRESS_ROWS`` or the tier's 2,000,000 default.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import xml.etree.ElementTree as ET

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "STRESS.json"
    )
    rows = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_STRESS_ROWS", "2000000"
    )
    junit = os.path.join(REPO, ".stress_junit.xml")
    env = dict(os.environ)
    env["SPARK_GRAFT_STRESS"] = "1"
    env["SPARK_GRAFT_STRESS_ROWS"] = str(rows)
    t0 = time.time()
    proc = subprocess.run(
        [
            sys.executable, "-m", "pytest", "-m", "stress", "tests/",
            "-q", "--tb=line", f"--junitxml={junit}",
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
    )
    wall = round(time.time() - t0, 2)
    tests: dict[str, dict] = {}
    try:
        root = ET.parse(junit).getroot()
        for case in root.iter("testcase"):
            name = case.get("name", "?")
            outcome = "passed"
            if case.find("failure") is not None or case.find("error") is not None:
                outcome = "failed"
            elif case.find("skipped") is not None:
                outcome = "skipped"
            tests[name] = {
                "outcome": outcome,
                "wall_sec": round(float(case.get("time", "0")), 2),
            }
    finally:
        if os.path.exists(junit):
            os.remove(junit)
    n_failed = sum(1 for t in tests.values() if t["outcome"] == "failed")
    record = {
        "rows": int(rows),
        "total_wall_sec": wall,
        "n_tests": len(tests),
        "n_failed": n_failed,
        "tests": tests,
        "pytest_exit": proc.returncode,
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    tail = proc.stdout.strip().splitlines()[-1:] or [""]
    print(f"{out_path}: {len(tests)} tests, {n_failed} failed, "
          f"{wall}s at N={rows} — {tail[0]}")
    return 1 if n_failed or proc.returncode not in (0, 5) else 0


if __name__ == "__main__":
    raise SystemExit(main())
