#!/usr/bin/env python3
"""Per-workload benchmark of the query engine, run from a checkout root.

    python3 perfbench/run.py --workload fixpoint --seed 1 --seconds 10 --trace 0

One process, one SparkSession on ``local[nproc]``, one query in flight
(closed loop with a single client). A run:

1. sets up ``SETUP_REPS`` times -- session start (``session.get_spark``),
   registry load (``__spark_entry__.queries()``) and fixture generation
   from ``--seed`` -- and reports the median as ``setup_s``;
2. runs one warm-up pass that collects every query and hash-matches it
   against its DuckDB oracle (``database_scan_spark.testing``); the pass
   is discarded from timing and reported as ``warmup_s``;
3. runs timed passes, each a seeded shuffle of the workload's queries,
   until ``--seconds`` have passed and the workload's number of passes
   is complete. Each query run is build, execution through the ``noop``
   sink, and ``__spark_entry__.drain()``.

``--trace 0`` times with ``perf_counter`` only and prints the end-to-end
metrics. ``--trace 1`` runs two untraced passes, then alternates traced
and untraced ones, ending untraced; the tracing overhead compares the
traced passes with the untraced ones after the first. A traced pass
tags each query phase with a job group and reads Spark's status store
(see ``spark_trace.py``). It prints the per-layer metrics and the
tracing overhead, and writes spans and per-query counters to
``.perfbench/results/<workload>-seed<n>-trace.json``. Every run writes
its full record, host stamp included, beside it.

Everything the run reads or writes stays under ``.perfbench/`` in the
checkout: fixtures, ``SPARK_GRAFT_TMP``, Spark's local and warehouse
dirs and the JVM's temp dir. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import math
import os
import platform
import random
import runpy
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

from fixture import TABLES, write_fixture  # noqa: E402

# The program under test: the driver contract, its session factory and
# oracle helpers, and the repo's 10x fixture scaler.
PROGRAM_FILES = (
    "__spark_entry__.py",
    "database_scan_spark/session.py",
    "database_scan_spark/testing.py",
    "tools/gen_scale_fixture.py",
    "tools/verify_scale.py",
)

# ``copies``: 1 is the seeded base fixture, 10 scales it with the repo's
# scaler. ``passes``: least number of timed passes per run; passes go on
# until ``--seconds`` have passed too. The first passes after the oracle
# pass still warm up (up to 30% slower on a 4-core host), so every
# per-query median needs three samples: with two, it is the mean of a
# warming sample and a warmer one.
# Each run also pays a JVM start and a cold oracle pass of 15-25 s on a
# 4-core host; the query lists are short so that a run stays near a
# minute there.
WORKLOADS = {
    # bound by job count and driver actions, not data: the base fixture
    "fixpoint": {
        "copies": 1,
        "passes": 3,
        "queries": [
            "graph_label_propagation",
            "dedup_cluster_cc",
        ],
    },
    # bound by scan, shuffle and compute: the base fixture scaled 10x by
    # tools/gen_scale_fixture.py; stream_corpus_ingest carries the
    # streaming and write layers
    "scan_10x": {
        "copies": 10,
        "passes": 3,
        "queries": [
            "agg_group_sums",
            "tpch_q21_sole_blame_supplier",
            "candidate_parts",
            "stream_corpus_ingest",
        ],
    },
}

ENGINE_MODULES = ("__spark_entry__", "database_scan_spark")
BASE_SF = 0.01          # row counts of the sf0.01 fixture before scaling
SETUP_REPS = 3
# Fits scan_10x in a 15 GB host. -Xms equal to it fixes the heap size:
# with G1 resizing the heap, VmHWM moved by a quarter between runs.
# AlwaysPreTouch maps the whole heap at start: fixpoint touches only part
# of it, and how much moved its VmHWM by up to 16% between runs.
DRIVER_MEM = "3g"
MAX_MEASURE_FACTOR = 6  # hard stop at this multiple of --seconds


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def host_stamp(spark, fixture_dir: str) -> dict:
    import pyarrow.parquet as pq

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEM,
        "fixture_rows": {
            t: pq.read_metadata(os.path.join(fixture_dir, f"{t}.parquet")).num_rows
            for t in TABLES
        },
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM"))
    return kb / 1024


def prepare_env(work: str) -> None:
    """Confine the engine, Spark and the JVM to ``work`` (before pyspark)."""
    dirs = {k: os.path.join(work, k) for k in ("graft", "tmp", "spark-local", "cwd", "fixtures")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    java_opts = (f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{DRIVER_MEM}"
                 " -XX:+AlwaysPreTouch")
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_GRAFT_TMP": dirs["graft"],
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    })
    os.chdir(dirs["cwd"])  # saveAsTable's spark-warehouse/ lands here


def make_fixture(work: str, name: str, copies: int, seed: int) -> str:
    """Seeded base fixture, scaled by the repo's scaler when copies > 1.

    ``name`` becomes the snapshot dir's basename, which scopes the
    engine's staging dirs, so a fresh name means fresh staging."""
    out = os.path.join(work, "fixtures", name)
    if copies == 1:
        write_fixture(out, BASE_SF, seed)
        return out
    base = out + "-base"
    write_fixture(base, BASE_SF, seed)
    argv = sys.argv
    sys.argv = ["gen_scale_fixture.py", "--src", base, "--out", out, "--copies", str(copies)]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            runpy.run_path(os.path.join(ROOT, "tools", "gen_scale_fixture.py"), run_name="__main__")
    finally:
        sys.argv = argv
    shutil.rmtree(base)
    return out


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.attempted = 0
        self.failures: list[str] = []
        self.warmup_by_query: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self, work: str) -> None:
        """SETUP_REPS set-ups; the first also launches the JVM.

        Each repetition re-imports the engine's modules, so import-time
        work is part of every registry load, not only the first."""
        reps = []
        fixture = None
        for rep in range(SETUP_REPS):
            for mod in [m for m in sys.modules if m.split(".")[0] in ENGINE_MODULES]:
                del sys.modules[mod]
            t0 = time.perf_counter()
            from database_scan_spark.session import get_spark

            spark = get_spark(app_name="perfbench")
            t1 = time.perf_counter()
            import __spark_entry__ as entry

            queries = entry.queries()
            t2 = time.perf_counter()
            if fixture is not None:
                shutil.rmtree(fixture)
            fixture = make_fixture(
                work, f"{self.args.workload}-seed{self.args.seed}-r{rep}",
                self.wl["copies"], self.args.seed,
            )
            t3 = time.perf_counter()
            reps.append((t1 - t0, t2 - t1, t3 - t2, t3 - t0))
            if rep < SETUP_REPS - 1:
                spark.stop()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark, self.entry, self.queries, self.fixture = spark, entry, queries, fixture
        self.setup_reps = reps

    # -- correctness + warm-up -----------------------------------------
    def warmup(self) -> float:
        """One discarded pass that also hash-matches every oracle."""
        from database_scan_spark.testing import assert_match, run_oracle

        materialize_ctes = runpy.run_path(
            os.path.join(ROOT, "tools", "verify_scale.py")
        )["materialize_ctes"]
        oracles = self.entry.oracle_sql()
        spent = 0.0
        for name in self.order(-1):
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                pdf = self.queries[name](self.spark, self.fixture).toPandas()
                self.entry.drain()
                self.warmup_by_query[name] = time.perf_counter() - t0
                spent += self.warmup_by_query[name]
                assert_match(pdf, run_oracle(materialize_ctes(oracles[name]), self.fixture), name)
                print(f"oracle {name}: match ({len(pdf)} rows)", flush=True)
            except Exception as ex:  # noqa: BLE001 - counted in failed_frac
                self.fail(name, ex, "oracle")
        return spent

    def fail(self, name: str, ex: Exception, stage: str) -> None:
        first = (str(ex).splitlines() or [type(ex).__name__])[0]
        self.failures.append(f"{name}: {first[:300]}")
        print(f"{stage} {name}: FAIL {self.failures[-1]}", flush=True)

    def order(self, pass_idx: int) -> list[str]:
        names = list(self.wl["queries"])
        random.Random(self.args.seed * 1009 + pass_idx).shuffle(names)
        return names

    # -- one query: build, exec, drain ----------------------------------
    def run_query(self, name: str, tracer=None) -> dict | None:
        self.attempted += 1
        rec = {"query": name}
        phase = tracer.phase if tracer else (lambda q, p: contextlib.nullcontext())
        try:
            t0 = time.perf_counter()
            with phase(name, "build") as b:
                df = self.queries[name](self.spark, self.fixture)
            t1 = time.perf_counter()
            with phase(name, "exec") as e:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if tracer:
                rec["cache_rdds"] = tracer.persistent_rdds()
                rec["cache_mb"] = tracer.cached_mb()
            with phase(name, "drain") as d:
                self.entry.drain()
            t3 = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 - counted in failed_frac
            self.fail(name, ex, "query")
            return None
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, drain_s=t3 - t2, wall_s=t3 - t0)
        if tracer:
            rec["released_rdds"] = rec["cache_rdds"] - tracer.persistent_rdds()
            rec["phases"] = {p.phase: p.counters for p in (b, e, d)}
            rec["span"] = {
                "kind": "query", "name": name, "start": b.start, "end": d.end,
                "children": [p.span() for p in (b, e, d)],
            }
        return rec

    # -- timed passes ---------------------------------------------------
    def measure(self, tracer=None) -> list[dict]:
        passes: list[dict] = []
        t_start = time.perf_counter()
        deadline = t_start + self.args.seconds
        hard_stop = t_start + MAX_MEASURE_FACTOR * max(self.args.seconds, 10)
        while True:
            idx = len(passes)
            traced = tracer is not None and idx >= 2 and idx % 2 == 0
            if traced:
                tracer.skip()
            t0, w0 = time.perf_counter(), time.time()
            recs = [self.run_query(q, tracer if traced else None) for q in self.order(idx)]
            p = {
                "pass": idx, "traced": traced, "wall_s": time.perf_counter() - t0,
                "queries": [r for r in recs if r is not None],
                "complete": all(r is not None for r in recs),
            }
            if traced:
                p["write_bytes"] = self.workdir_bytes()
                p["span"] = {
                    "kind": "pass", "index": idx, "start": w0, "end": time.time(),
                    "children": [r["span"] for r in p["queries"]],
                }
            passes.append(p)
            now = time.perf_counter()
            timed = [p for p in passes if not p["traced"]]
            if tracer is not None:  # untraced passes on both sides of the traced ones
                enough = len(timed) >= 3 and not traced
            else:
                enough = sum(p["complete"] for p in timed) >= self.wl["passes"]
            if (now >= deadline and enough) or now >= hard_stop:
                return passes

    def workdir_bytes(self) -> int:
        from spark_trace import disk_bytes

        snap = os.path.basename(self.fixture)
        return disk_bytes(
            os.path.join(os.environ["SPARK_GRAFT_TMP"], snap),
            os.path.join(os.getcwd(), "spark-warehouse"),
        )


def end_to_end(run: Run, passes: list[dict], rss_mb: float) -> dict:
    timed = [p for p in passes if not p["traced"]]
    samples = [q["wall_s"] for p in timed for q in p["queries"]]
    per_query: dict[str, list[float]] = {}
    for q in (q for p in timed for q in p["queries"]):
        per_query.setdefault(q["query"], []).append(q["wall_s"])
    geo = math.exp(statistics.fmean(math.log(median(v)) for v in per_query.values()))
    pass_walls = [p["wall_s"] for p in timed if p["complete"]]
    return {
        "setup_s": (median([r[3] for r in run.setup_reps]), "s", len(run.setup_reps),
                    "median of set-up repetitions"),
        "pass_s": (median(pass_walls), "s", len(pass_walls), "median of timed passes"),
        "query_geomean_s": (geo, "s", len(samples),
                            f"geomean over {len(per_query)} queries of each one's median"),
        # The slowest query's median, at any run length: a 10 s run holds
        # 6-12 samples of 2-4 queries, so no percentile has 10 samples
        # beyond it, and a pooled percentile would change with the run
        # length and follow the query mix. A single slow sample cannot
        # move this one.
        "query_tail_s": (max(median(v) for v in per_query.values()), "s", len(samples),
                         f"slowest of {len(per_query)} queries' medians"),
        "jvm_peak_rss_mb": (rss_mb, "MB", 1, "VmHWM of the driver JVM"),
    }


def per_layer(run: Run, passes: list[dict], warmup_s: float, steal_pct: float) -> tuple[dict, dict]:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"] and p["complete"]]  # pass 0 still warms
    reps = run.setup_reps

    def pass_sum(fn) -> float:
        return median([sum(fn(q) for q in p["queries"]) for p in traced])

    def ctr(phase: str, key: str):
        return lambda q: q["phases"][phase][key]

    def all_phases(key: str):
        return lambda q: sum(q["phases"][ph][key] for ph in ("build", "exec", "drain"))

    mb = 1024 * 1024
    stages = pass_sum(all_phases("stages"))
    skipped = pass_sum(all_phases("skipped_stages"))
    shuffle_w = pass_sum(all_phases("shuffle_write_bytes"))
    m = {
        "session.get_spark_s": (median([r[0] for r in reps]), "s"),
        "registry.queries_s": (median([r[1] for r in reps]), "s"),
        "fixture.gen_s": (median([r[2] for r in reps]), "s"),
        "setup.first_s": (reps[0][3], "s"),
        "warmup_s": (warmup_s, "s"),
        "entry.drain_s": (pass_sum(lambda q: q["drain_s"]), "s"),
        "entry.released_rdds": (pass_sum(lambda q: q["released_rdds"]), "count"),
        "build.s": (pass_sum(lambda q: q["build_s"]), "s"),
        "build.jobs": (pass_sum(ctr("build", "jobs")), "count"),
        "build.action_s": (pass_sum(ctr("build", "action_s")), "s"),
        "build.python_s": (pass_sum(lambda q: q["build_s"] - q["phases"]["build"]["action_s"]), "s"),
        "exec.s": (pass_sum(lambda q: q["exec_s"]), "s"),
        "exec.jobs": (pass_sum(ctr("exec", "jobs")), "count"),
        "spark.stages": (stages, "count"),
        "spark.skipped_stages": (skipped, "count"),
        "spark.skipped_ratio": (skipped / (stages + skipped) if stages + skipped else 0.0, "ratio"),
        "spark.tasks": (pass_sum(all_phases("tasks")), "count"),
        "spark.failed_tasks": (pass_sum(all_phases("failed_tasks")), "count"),
        "spark.input_rows": (pass_sum(all_phases("input_rows")), "count"),
        "spark.shuffle_read_mb": (pass_sum(all_phases("shuffle_read_bytes")) / mb, "MB"),
        "spark.shuffle_write_mb": (shuffle_w / mb, "MB"),
        "spark.shuffle_read_per_write": (
            pass_sum(all_phases("shuffle_read_bytes")) / shuffle_w if shuffle_w else 0.0, "ratio"),
        "spark.spill_mb": (pass_sum(all_phases("spill_bytes")) / mb, "MB"),
        "spark.executor_cpu_s": (pass_sum(all_phases("executor_cpu_s")), "s"),
        "spark.executor_run_s": (pass_sum(all_phases("executor_run_s")), "s"),
        "spark.gc_s": (pass_sum(all_phases("gc_s")), "s"),
        "cache.peak_mb": (median([max(q["cache_mb"] for q in p["queries"]) for p in traced]), "MB"),
        "cache.rdds": (pass_sum(lambda q: q["cache_rdds"]), "count"),
        "streaming.batches": (pass_sum(all_phases("streaming_batches")), "count"),
        "streaming.input_rows": (pass_sum(all_phases("streaming_input_rows")), "count"),
        "streaming.batch_s": (pass_sum(all_phases("streaming_batch_s")), "s"),
        "write.rows": (pass_sum(all_phases("output_rows")), "count"),
        "write.mb": (median([p["write_bytes"] for p in traced]) / mb, "MB"),
        "host.steal_pct": (steal_pct, "%"),
        "trace.overhead_s": (
            median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in untraced]), "s"),
    }
    breakdown: dict[str, dict] = {}
    for q in (q for p in traced for q in p["queries"]):
        row = breakdown.setdefault(q["query"], {"runs": 0})
        row["runs"] += 1
        for k in ("build_s", "exec_s", "drain_s", "wall_s", "cache_rdds", "cache_mb", "released_rdds"):
            row.setdefault(k, []).append(q[k])
        for ph, counters in q["phases"].items():
            for k, v in counters.items():
                row.setdefault(f"{ph}.{k}", []).append(v)
    for row in breakdown.values():
        for k, v in row.items():
            if isinstance(v, list):
                row[k] = median(v)
    return m, breakdown


def main() -> None:
    ap = argparse.ArgumentParser(description="Per-workload benchmark of the query engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: run from the root of a checkout of the engine; missing {', '.join(missing)}",
              file=sys.stderr)
        sys.exit(2)

    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, ROOT)

    run = Run(args)
    spark = None
    try:
        run.setup(work)
        spark = run.spark
        stamp = host_stamp(spark, run.fixture)
        stamp.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace)
        print("host " + json.dumps(stamp), flush=True)
        warmup_s = run.warmup()
        tracer = None
        if args.trace:
            from spark_trace import Tracer

            tracer = Tracer(spark)
        steal0, total0 = cpu_jiffies()
        passes = run.measure(tracer)
        steal1, total1 = cpu_jiffies()
        stamp["steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
        if tracer:
            tracer.close()
        rss = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    print(f"warm-up pass {warmup_s:.3f} s (discarded); "
          f"timed passes {sum(1 for p in passes if not p['traced'])}, "
          f"traced passes {sum(1 for p in passes if p['traced'])}", flush=True)
    failed = len(run.failures)
    print(f"metric failed_frac = {failed / run.attempted:.4f} "
          f"({failed} of {run.attempted} query runs raised or mismatched)", flush=True)
    record = {"host": stamp, "warmup_s": warmup_s, "warmup_by_query": run.warmup_by_query,
              "failures": run.failures,
              "setup_reps": run.setup_reps}
    if args.trace:
        metrics, breakdown = per_layer(run, passes, warmup_s, stamp["steal_pct"])
        for name, (v, unit) in metrics.items():
            print(f"layer {name} = {v:.6g} {unit}", flush=True)
        for q, row in sorted(breakdown.items()):
            print(f"query {q}: build {row['build_s']:.3f}s ({row['build.jobs']:g} jobs) "
                  f"exec {row['exec_s']:.3f}s ({row['exec.jobs']:g} jobs) "
                  f"input_rows {row['build.input_rows'] + row['exec.input_rows']:g}", flush=True)
        record.update(per_layer=metrics, per_query=breakdown,
                      spans=[p["span"] for p in passes if p["traced"]],
                      untraced_pass_s=[p["wall_s"] for p in passes if not p["traced"]])
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        metrics = end_to_end(run, passes, rss)
        for name, (v, unit, n, how) in metrics.items():
            print(f"metric {name} = {v:.6g} {unit} (n={n}; {how})", flush=True)
        record.update(end_to_end={k: v[:3] for k, v in metrics.items()},
                      passes=[{k: v for k, v in p.items() if k != "span"} for p in passes])
        out = {k: {"value": v, "unit": u} for k, (v, u, _, _) in metrics.items()}
    os.makedirs(os.path.join(out_root, "results"), exist_ok=True)
    kind = "trace" if args.trace else "result"
    with open(os.path.join(out_root, "results", f"{args.workload}-seed{args.seed}-{kind}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted, "failed": failed, "metrics": out,
    }))


if __name__ == "__main__":
    main()
