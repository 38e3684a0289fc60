"""Benchmark of the SEO-audit engine: concurrent audits and a catalog mix.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload audit_burst --seed 1 --seconds 5 --trace 0

Workloads are `audit_burst` and `catalog_mix` (see perfbench/README.md).
Inputs are generated from `--seed`; every output is checked. The last line
of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones from the span recorder. A diagnostics line
(host CPU count, SPARK_GRAFT_CPUS, CPU-probe time, the figures under
their workload names and any failures) is printed just before it.

Exit code: 0 when every output is correct, 1 when a check failed, 2 when
the program under test is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE_DIR = ROOT / "seo_audit_etl_actor_spark"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "kind_geomean_s": "s",
    "ops_per_min": "1/min",
    "main_peak_rss_mb": "MB",
}


# Workload names of some end-to-end figures, repeated in the diagnostics.
FIGURE_NAMES = {
    "audit_burst": {"op_p50_s": "audit_p50_s", "op_tail_s": "audit_tail_s", "ops_per_min": "audits_per_min"},
    "catalog_mix": {"op_p50_s": "catalog_pass_s", "kind_geomean_s": "query_geomean_s"},
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import CATALOG_MODULES

    units = {
        "spark.jobs_per_audit": "count",
        "spark.tasks_per_audit": "count",
        "spark.failed_tasks": "count",
        "spark.jobs_per_pass": "count",
        "spark.tasks_per_pass": "count",
        "stanzas.busy_s": "s",
        "stanzas.calls": "count",
        "scoring.compute_scores.busy_s": "s",
        "run.process_zip.self_s": "s",
        "csv_smart.parse.busy_s": "s",
        "csv_smart.parse.rows": "rows",
        "csv_smart.parse.bytes": "B",
        "csv_smart.parse.first_try_ratio": "ratio",
        "csv_smart.to_dataframe.busy_s": "s",
        "csv_smart.to_dataframe.rows": "rows",
        "zip_io.busy_s": "s",
        "zip_io.bytes": "B",
        "output.write.busy_s": "s",
        "output.write.bytes": "B",
        "session.load_table.calls": "count",
        "session.load_table.busy_s": "s",
        "jvm.peak_rss_mb": "MB",
        "pyworkers.peak_rss_mb": "MB",
    }
    for m in CATALOG_MODULES:
        units[f"queries.{m}.build_s"] = "s"
        units[f"queries.{m}.exec_s"] = "s"
    return units


class TreeRss:
    """Samples the RSS of this process and all its descendants (the JVM and
    its Python workers) from /proc, keeping the peak of the sum and of each
    part."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_parts = {"main": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                with open(f"/proc/{entry.name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry.name))
        parts = {"main": self._rss(os.getpid()), "jvm": 0, "workers": 0}
        for child in children.get(os.getpid(), ()):
            # the JVM is this process's child; Python workers descend from it
            parts["jvm"] += self._rss(child)
            todo = list(children.get(child, ()))
            while todo:
                pid = todo.pop()
                todo.extend(children.get(pid, ()))
                parts["workers"] += self._rss(pid)
        self.peak = max(self.peak, sum(parts.values()))
        for k, v in parts.items():
            self.peak_parts[k] = max(self.peak_parts[k], v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> TreeRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_probe() -> float:
    """Fixed pure-Python workload, best of three: a throttled host reads
    slower here whatever the program does."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best


def geomean(values) -> float:
    logs = [math.log(v) for v in values]
    return math.exp(statistics.fmean(logs)) if logs else math.nan


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, never below
    the median; with fewer samples, the maximum. → (value, percentile,
    samples beyond)."""
    xs = sorted(values)
    n = len(xs)
    idx = n - 11
    if idx < (n - 1) // 2:
        return xs[-1], 100.0, 0
    return xs[idx], 100.0 * idx / (n - 1), n - 1 - idx


def set_environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python create inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def setup(workload: str):
    """Program bring-up: import, JVM + SparkSession, package ship. Timed."""
    t0 = time.perf_counter()
    from seo_audit_etl_actor_spark.session import ensure_package_on_executors, get_spark

    if workload == "audit_burst":
        import seo_audit_etl_actor_spark.pipeline.run  # noqa: F401
    else:
        import seo_audit_etl_actor_spark.queries.catalog  # noqa: F401
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_on_executors(spark)
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (PACKAGE_DIR / "__init__.py").is_file():
        print(f"perfbench: program package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2

    from perfbench.spans import Recorder
    from perfbench.workloads import AUDIT_CLIENTS, Ctx, install_tracing, prepare

    work = ROOT / ".bench_build" / "perfbench" / f"run-{os.getpid()}"
    set_environment(work)
    nproc = len(os.sched_getaffinity(0))
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "cpu_probe_s": round(cpu_probe(), 6),
    }
    spark = None
    try:
        with TreeRss() as rss:
            prepare(args.workload, work, args.seed)
            spark, setup_s = setup(args.workload)
            rec = None
            if args.trace:
                rec = Recorder()
                install_tracing(args.workload, rec)
            clients = min(AUDIT_CLIENTS, nproc) if args.workload == "audit_burst" else 1
            ctx = Ctx(spark, work, args.seed, args.seconds, clients, nproc, rec)
            t0 = time.perf_counter()
            outcome = WORKLOADS[args.workload](ctx)
            diag["workload_wall_s"] = round(time.perf_counter() - t0, 3)
            stop_spark(spark)
            spark = None
        if rec is not None:
            rec.uninstall()
            rec.dump(ROOT / ".bench_build" / "perfbench" / f"spans-{args.workload}-{args.seed}.jsonl")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    lat = outcome.op_s
    tail_v, tail_pct, tail_n = tail(lat) if lat else (math.nan, math.nan, 0)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat) if lat else math.nan,
        "op_tail_s": tail_v,
        "kind_geomean_s": geomean(statistics.median(v) for v in outcome.kind_s.values()),
        "ops_per_min": 60.0 * outcome.good_ops / outcome.wall_s if outcome.wall_s else 0.0,
        "main_peak_rss_mb": rss.peak_parts["main"] / 2**20,
    }
    outcome.layers["jvm.peak_rss_mb"] = rss.peak_parts["jvm"] / 2**20
    outcome.layers["pyworkers.peak_rss_mb"] = rss.peak_parts["workers"] / 2**20
    failed = len(outcome.failures)
    diag.update(
        {
            "ops": len(lat),
            "tail_percentile": tail_pct,
            "tail_samples_beyond": tail_n,
            "fail_ratio": failed / outcome.attempted if outcome.attempted else 1.0,
            **{name: round(e2e[k], 6) for k, name in FIGURE_NAMES[args.workload].items()},
            "peak_rss_mb": round(rss.peak / 2**20, 1),
            "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
            "peak_rss_parts_mb": {k: round(v / 2**20, 1) for k, v in rss.peak_parts.items()},
            "ops_s": outcome.detail,
            "failures": outcome.failures,
        }
    )
    if args.trace:
        metrics = {k: {"value": outcome.layers.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    correct = failed == 0 and outcome.attempted > 0
    print(json.dumps({"diagnostics": diag}), flush=True)
    print(
        json.dumps({"correct": correct, "attempted": outcome.attempted, "failed": failed, "metrics": metrics}),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path[0] = str(ROOT)
    sys.exit(main())
