"""The benchmark's workloads.

Each workload takes a `Ctx` (live SparkSession, seed, measuring time,
optional span recorder) and returns an `Outcome`: every operation's
latency, what failed, and the per-layer figures a traced run reports.

- `audit_burst`: one untimed warm-up audit, then one client thread per ZIP
  kind (two) sharing one SparkSession; each client submits reference-sized
  audit ZIPs, alternating kinds, each after the previous one is written,
  until the measuring time is up (at least one round).
- `catalog_mix`: one client; each query once oracle-checked and once more
  as a warm-up, concurrently, then timed passes through the noop sink
  until the measuring time is up (at least one pass).
"""

from __future__ import annotations

import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.audit_zips import VARIANTS, build_case, check_outputs
from perfbench.spans import NoTracer, Recorder, Tracer, install_audit_layers, install_catalog_layers

# Catalog queries of the catalog_mix workload, by name: one from each module
# in CATALOG_MODULES — TPC-H joins, ANN similarity, curation, a streaming
# differential, the reference's SEO operators, and a lake write-path query
# (publish two versions, diff them, merge the diff into a view) beside the
# reads. lake_maintenance_audit is not in the list: it keeps its result per
# session, so only its first call would run the lake lifecycle.
QUERY_MIX = (
    "keyword_position_buckets",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "cosine_topk_ivf",
    "gopher_quality_rules",
    "streaming_enrichment_differential",
    "mv_merge_audit",
    "conversion_funnel",
    "pivot_status_priority",
)
CATALOG_MODULES = (
    "relational",
    "tpch_ext",
    "llm_ext",
    "curation_ext",
    "streaming_ext",
    "audit_ext",
    "reference_ops",
    "events_ext",
    "reshape",
)
CATALOG_SF = 0.01
# Concurrent audit clients: one per ZIP kind, so every round holds the same
# mix. On a 4-CPU host two warm audits side by side take about 19 s, four
# about 33 s.
AUDIT_CLIENTS = len(VARIANTS)


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: float
    clients: int
    cpus: int
    rec: Recorder | None = None


@dataclass
class Outcome:
    op_s: list[float] = field(default_factory=list)  # latency of each completed operation
    kind_s: dict[str, list[float]] = field(default_factory=dict)  # latencies by ZIP kind / query
    good_ops: int = 0  # completed operations whose outputs were all correct
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    detail: dict = field(default_factory=dict)  # timings for the diagnostics line
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced run)

    def add(self, kind: str, seconds: float) -> None:
        self.kind_s.setdefault(kind, []).append(seconds)


def tracer(ctx: Ctx) -> Tracer | NoTracer:
    return Tracer(ctx.rec, ctx.spark) if ctx.rec is not None else NoTracer()


def audit_burst(ctx: Ctx) -> Outcome:
    from seo_audit_etl_actor_spark.pipeline import run as pipeline

    out = Outcome()
    tr = tracer(ctx)
    lock = threading.Lock()
    last_done = 0.0

    def one_audit(client: int, rnd: int, variant: str, timed: bool) -> None:
        nonlocal last_done
        case = build_case(ctx.seed, client, rnd, variant)
        out_dir = ctx.work / "out" / case.case_id
        job = pipeline.JobInput(case.client, case.domain, case.run_date, f"memory://{case.case_id}")
        with tr.op(("t:" if timed else "w:") + case.case_id):
            t0 = time.perf_counter()
            try:
                result = pipeline.process_zip(ctx.spark, job, fetch_impl=lambda _url: case.zip_bytes)
                pipeline.write_outputs(result, str(out_dir))
                done = time.perf_counter()
                problems = check_outputs(case, out_dir)
            except Exception as e:  # a failed audit is a counted failure
                done, problems = time.perf_counter(), [f"{type(e).__name__}: {e}"]
        with lock:
            out.attempted += 1
            if problems:
                out.failures.append(f"{case.case_id}: " + "; ".join(problems[:5]))
            if timed:
                last_done = max(last_done, done)
                out.op_s.append(done - t0)
                out.add(variant, done - t0)
                out.good_ops += not problems

    # Warm-up, untimed: one audit of the `full` kind (every entry, so every
    # stanza runs), so the timed audits start past the steep part of the
    # JVM's JIT and codegen warm-up. It runs under an extra client index, so
    # its case differs from every timed one.
    t_warm = time.perf_counter()
    one_audit(ctx.clients, 0, "full", timed=False)
    out.detail["warm_s"] = round(time.perf_counter() - t_warm, 3)

    start = last_done = time.perf_counter()
    deadline = start + ctx.seconds

    def client(i: int) -> None:
        rnd = 0
        while rnd == 0 or time.perf_counter() < deadline:
            one_audit(i, rnd, VARIANTS[(i + rnd + ctx.seed) % len(VARIANTS)], timed=True)
            rnd += 1

    with ThreadPoolExecutor(max_workers=ctx.clients, thread_name_prefix="client") as pool:
        list(pool.map(client, range(ctx.clients)))  # re-raises a client's error
    out.wall_s = last_done - start
    if ctx.rec is not None:
        n = len(out.op_s)
        jobs, tasks, failed = tr.spark_totals("t:")
        out.layers = _audit_layers(ctx.rec, n)
        out.layers["spark.jobs_per_audit"] = jobs / n
        out.layers["spark.tasks_per_audit"] = tasks / n
        out.layers["spark.failed_tasks"] = failed
    return out


def _audit_layers(rec: Recorder, n_audits: int) -> dict:
    """Per-audit means of the audit layers' busy time and work counts,
    over the timed audits."""
    t = "t:"  # timed audits only
    parses = rec.count("csv_smart.parse", t)
    first_try = rec.total("csv_smart.parse", "first_try", t)
    layers = {
        "stanzas.busy_s": rec.total("stanzas", trace_prefix=t),
        "stanzas.calls": rec.count("stanzas", t),
        "scoring.compute_scores.busy_s": rec.total("scoring.compute_scores", trace_prefix=t),
        "run.process_zip.self_s": rec.self_time("run.process_zip", t),
        "csv_smart.parse.busy_s": rec.total("csv_smart.parse", trace_prefix=t),
        "csv_smart.parse.rows": rec.total("csv_smart.parse", "rows", t),
        "csv_smart.parse.bytes": rec.total("csv_smart.parse", "bytes", t),
        "csv_smart.to_dataframe.busy_s": rec.total("csv_smart.to_dataframe", trace_prefix=t),
        "csv_smart.to_dataframe.rows": rec.total("csv_smart.to_dataframe", "rows", t),
        "zip_io.busy_s": rec.total("zip_io", trace_prefix=t),
        "zip_io.bytes": rec.total("zip_io", "bytes", t),
        "output.write.busy_s": rec.total("output.write", trace_prefix=t),
        "output.write.bytes": rec.total("output.write", "bytes", t),
    }
    layers = {k: v / n_audits for k, v in layers.items()}
    layers["csv_smart.parse.first_try_ratio"] = first_try / parses if parses else 0.0
    return layers


def _oracle(data_dir: Path):
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
    return con


def catalog_mix(ctx: Ctx) -> Outcome:
    from seo_audit_etl_actor_spark.queries.catalog import QUERIES

    from tests.oracle_diff import compare

    data_dir = ctx.work / "tables"
    sf_dir = str(data_dir)
    out = Outcome()
    by_name = {q.name: q for q in QUERIES}
    specs = []
    for name in QUERY_MIX:
        if name in by_name:
            specs.append(by_name[name])
        else:
            out.attempted += 1
            out.failures.append(f"{name}: not in the catalog")

    # Output check and warm-up, outside the timed passes: each query once
    # against its DuckDB oracle (the cold run), then, if it matched, once
    # more through the noop sink, so the timed passes start past the
    # steepest part of JIT/codegen warm-up (the first pass after that runs
    # as fast as later ones). The queries run concurrently, one thread per
    # CPU, to keep the run short; the timed passes run them one at a time.
    con = _oracle(data_dir)

    def check_and_warm(spec) -> list[str]:
        cur = con.cursor()
        t0 = time.perf_counter()
        try:
            problems = compare(spec.fn(ctx.spark, sf_dir), cur.execute(spec.sql))
            if not problems:
                spec.fn(ctx.spark, sf_dir).write.format("noop").mode("overwrite").save()
            return problems
        except Exception as e:
            return [f"{type(e).__name__}: {e}"]
        finally:
            cur.close()
            out.detail[f"check:{spec.name}"] = round(time.perf_counter() - t0, 3)

    t_check = time.perf_counter()
    try:
        with ThreadPoolExecutor(max_workers=ctx.cpus) as pool:
            checked = list(pool.map(check_and_warm, specs))
    finally:
        con.close()
    out.detail["check_warm_s"] = round(time.perf_counter() - t_check, 3)
    failing = set()
    for spec, problems in zip(specs, checked):
        out.attempted += 1
        if problems:
            failing.add(spec.name)
            out.failures.append(f"{spec.name}: " + "; ".join(problems)[:500])

    tr = tracer(ctx)
    start = time.perf_counter()
    deadline = start + ctx.seconds
    while not out.op_s or time.perf_counter() < deadline:
        p = len(out.op_s)
        t_pass = time.perf_counter()
        pass_ok = not failing
        for spec in specs:
            module = spec.fn.__module__.rsplit(".", 1)[-1]
            out.attempted += 1
            with tr.op(f"p{p}:{spec.name}"):
                t0 = time.perf_counter()
                try:
                    with tr.span(f"queries.{module}.build"):
                        df = spec.fn(ctx.spark, sf_dir)
                    with tr.span(f"queries.{module}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    query_s = time.perf_counter() - t0
                except Exception as e:
                    out.failures.append(f"pass {p} {spec.name}: {type(e).__name__}: {e}"[:500])
                    query_s = None
            if query_s is None:
                pass_ok = False
            else:
                out.add(spec.name, query_s)
        out.op_s.append(time.perf_counter() - t_pass)
        out.good_ops += pass_ok
    out.wall_s = time.perf_counter() - start

    out.detail.update({n: round(statistics.median(v), 3) for n, v in out.kind_s.items()})
    if ctx.rec is not None:
        rec, n = ctx.rec, len(out.op_s)
        layers = {}
        for m in CATALOG_MODULES:
            layers[f"queries.{m}.build_s"] = rec.total(f"queries.{m}.build", trace_prefix="p") / n
            layers[f"queries.{m}.exec_s"] = rec.total(f"queries.{m}.exec", trace_prefix="p") / n
        layers["session.load_table.calls"] = rec.count("session.load_table", trace_prefix="p") / n
        layers["session.load_table.busy_s"] = rec.total("session.load_table", trace_prefix="p") / n
        jobs, tasks, failed = tr.spark_totals("p")
        layers["spark.jobs_per_pass"] = jobs / n
        layers["spark.tasks_per_pass"] = tasks / n
        layers["spark.failed_tasks"] = failed
        out.layers = layers
    return out


def prepare(workload: str, work: Path, seed: int) -> None:
    """Generate the workload's on-disk inputs (before set-up is timed)."""
    if workload == "catalog_mix":
        from perfbench.catalog_tables import generate

        generate(work / "tables", seed, CATALOG_SF)


def install_tracing(workload: str, rec: Recorder) -> None:
    if workload == "audit_burst":
        install_audit_layers(rec)
    else:
        install_catalog_layers(rec)


WORKLOADS = {"audit_burst": audit_burst, "catalog_mix": catalog_mix}
