"""Pins exact work counters from a traced ``scan_10x`` run.

Input is counted in rows read by Spark stages, which do not depend on
the host or the seed (the fixture's row counts are fixed), so a change
that drops or adds a table scan moves these numbers exactly:

- ``agg_group_sums`` reads lineitem once: 600,000 rows.
- ``tpch_q21_sole_blame_supplier`` reads lineitem once, plus orders
  and supplier: 600,000 + 150,000 + 1,000 = 751,000 rows.
- ``stream_corpus_ingest`` ingests the 5,000 documents in 3 micro-batches.

Run from the checkout root (takes about a minute):

    python3 -m pytest perfbench/test_counters.py
    python3 perfbench/test_counters.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 3


def traced_scan_10x() -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", "scan_10x",
           "--seed", str(SEED), "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"traced run failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"oracle mismatch in traced run:\n{proc.stdout[-3000:]}")
    path = os.path.join(ROOT, ".perfbench", "results", f"scan_10x-seed{SEED}-trace.json")
    with open(path) as fh:
        return json.load(fh)


def input_rows(per_query: dict, name: str) -> int:
    row = per_query[name]
    return row["build.input_rows"] + row["exec.input_rows"] + row["drain.input_rows"]


def test_scan_10x_counters() -> None:
    per_query = traced_scan_10x()["per_query"]
    assert input_rows(per_query, "agg_group_sums") == 600_000
    assert input_rows(per_query, "tpch_q21_sole_blame_supplier") == 751_000
    ingest = per_query["stream_corpus_ingest"]
    assert ingest["build.streaming_batches"] + ingest["exec.streaming_batches"] == 3
    assert ingest["build.streaming_input_rows"] + ingest["exec.streaming_input_rows"] == 5_000


if __name__ == "__main__":
    test_scan_10x_counters()
    print("scan_10x counters: ok")
