"""Branch attestation for scale-gated strategies (VERDICT r10 item 3).

pacf and the connected-components family pick a strategy branch from input
statistics, so the normal oracle tier (sf0.01) only ever attests the
below-gate branch (pacf: interpreted SQL Durbin-Levinson fold; CC: driver
union-find). This script runs the bit-exact driver-gate simulation TWICE
over the gated queries — once with the measured gates (default) and once
with ``SPARK_GRAFT_FORCE_PATH=scale`` forcing the above-gate branch (pacf:
vectorized numpy mapInPandas fold; CC: distributed Kiveris hybrid) — so
BOTH branches of BOTH gates carry a CORRECTNESS-grade parity record
against the DuckDB oracle at a tier where they are live.

Each pass is its own subprocess (its own Spark JVM): the strategy knob is
read at build time, but the session-lifetime materialization memos
(mh_pairs, cc_labels) must not leak across passes.

Usage: python scripts/gate_branches.py   (writes GATE_BRANCHES_r11.json)
Exit 0 iff every query is green in every pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# the queries whose plans contain a strategy gate (pacf's fold; the CC
# family — dedup_clusters and its two oracle-checked consumers)
QUERIES = ["pacf", "dedup_clusters", "neardup_survivors", "curate_decisions"]
# where driver_gate.py writes its per-query results
GATE_SIM = "/tmp/gate_sim.json"


def _run(force: "str | None") -> dict:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_FORCE_PATH", None)
    if force:
        env["SPARK_GRAFT_FORCE_PATH"] = force
    # a pass must never read the results an earlier run left behind
    if os.path.exists(GATE_SIM):
        os.remove(GATE_SIM)
    rc = subprocess.run(
        [sys.executable, os.path.join(HERE, "driver_gate.py"), *QUERIES],
        env=env,
    ).returncode
    if not os.path.exists(GATE_SIM):
        raise SystemExit(
            f"driver_gate.py (force_path={force!r}, exit {rc}) wrote no {GATE_SIM}"
        )
    with open(GATE_SIM) as f:
        results = json.load(f)
    return {"rc": rc, "force_path": force or "", "results": results}


def main() -> int:
    out = {
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        "queries": QUERIES,
        "passes": {
            # default gates at sf0.01: pacf takes the SQL fold, the CC
            # family takes the driver union-find (below-gate branches)
            "default_gates": _run(None),
            # forced: pacf takes the numpy fold, CC takes the distributed
            # hybrid (the branches the bench tier / 100 TB path run)
            "forced_scale_branch": _run("scale"),
        },
    }
    path = os.path.join(REPO, "GATE_BRANCHES_r11.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    rc = max(p["rc"] for p in out["passes"].values())
    print(f"wrote {path} (exit {rc})")
    return rc


if __name__ == "__main__":
    sys.exit(main())
