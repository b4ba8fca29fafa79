#!/usr/bin/env python
"""Per-query time breakdown for optimization targeting (guide §1):
split each headliner's wall-clock into

  build   — Python plan construction (queries()[name](spark, sf_dir))
  exec    — noop-sink materialization of the returned DataFrame

Build time is driver-side Python + any actions the builder itself
runs (iterative fixpoints, K-sizing counts); exec time is the final
plan. Queries whose build dominates need driver-side work (fewer
actions per round, shallower lineage); queries whose exec dominates
need plan work (shuffles, joins, Python boundary).

Usage: python tools/profile_breakdown.py [name ...]   # default: all
A full run writes tools/profile_breakdown.json; a run over named
headliners only prints, so a subset never overwrites the full table.
A name that is not a headliner exits non-zero.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    only = set(sys.argv[1:])
    from bench import EXTRA_CONFS, HEADLINE

    unknown = sorted(only - set(HEADLINE))
    if unknown:
        sys.exit(f"profile_breakdown: not headliners: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from database_scan_spark.session import get_spark

    spark = get_spark("database-scan-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as _entry

    by_name = _entry.queries()
    names = [n for n in HEADLINE if not only or n in only]

    def one(name: str) -> tuple[float, float]:
        extra = EXTRA_CONFS.get(name, {})
        saved = {k: spark.conf.get(k, None) for k in extra}
        for k, v in extra.items():
            spark.conf.set(k, v)
        try:
            _entry.drain()
            spark.sparkContext.setJobDescription(f"profile: {name}")
            t0 = time.perf_counter()
            df = by_name[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            return t1 - t0, t2 - t1
        finally:
            spark.sparkContext.setJobDescription(None)
            for k, v in saved.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)

    out: dict[str, dict[str, float]] = {}
    for name in names:  # warm pass, unmeasured (same protocol as bench.py)
        try:
            one(name)
        except Exception as exc:  # noqa: BLE001
            print(f"WARM FAIL {name}: {exc}", file=sys.stderr)
    for name in names:
        b1, e1 = one(name)
        b2, e2 = one(name)
        out[name] = {
            "build": round(min(b1, b2), 3),
            "exec": round(min(e1, e2), 3),
            "total": round(min(b1 + e1, b2 + e2), 3),
        }
        print(
            f"{out[name]['total']:8.3f} build={out[name]['build']:7.3f} "
            f"exec={out[name]['exec']:7.3f}  {name}",
            flush=True,
        )
    if not only:
        with open(os.path.join(REPO, "tools", "profile_breakdown.json"), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    tot = sum(v["total"] for v in out.values())
    b = sum(v["build"] for v in out.values())
    print(f"TOTAL {tot:.1f}s  build {b:.1f}s  exec {tot - b:.1f}s")


if __name__ == "__main__":
    main()
