"""Time one audit of large exports: a seeded ZIP whose keywords, backlinks
and sf_internal exports hold ROWS rows each (default 5×10⁵), next to the
small entries of a normal audit.

Usage: python tools/bench_large_audit.py [--rows N] [--seed S]

A small audit of the same shape runs first, untimed, to warm the JVM; then
the large audit is timed from `process_zip` to its returned document. The
keyword buckets, referring domains, mean DR, 4xx/5xx counts and
pages_total are checked against values this script computes from the
planted cells with the reference's rules (JS `toNum`: strip everything
but `[0-9.-]`, '' → 0, malformed → NaN). Prints one JSON line
{"rows", "seed", "seconds", "layers", "main_peak_rss_mb", "correct",
"mismatches"}; exits 1 when a value is wrong.

`layers` splits the timed audit into seconds spent in ZIP reads
(`open_zip`, `read_entry`), CSV decode and parse, the audit-frame build
(`stanzas.audit_frame`, the Arrow handoff included), the stanza query
(the rest of `stanzas.aggregate_audit`: plan, execute, apply) and
scoring. `main_peak_rss_mb` is this process's peak resident set
(`ru_maxrss`); the JVM is a child process and not counted.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import random
import re
import resource
import sys
import time
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_POSITIONS = [str(p) for p in range(1, 151)] + ["abc", "", "-2", "1.2.3"]
_STATUS = ["200", "200", "200", "301", "404", "410", "500", "503", "abc", ""]


def _js_to_num(cell: str) -> float | None:
    stripped = re.sub(r"[^0-9.\-]", "", cell)
    if stripped == "":
        return 0.0
    try:
        return float(stripped)
    except ValueError:
        return None


def build_zip(rows: int, seed: int) -> tuple[bytes, dict]:
    """The audit ZIP and the values the pipeline must derive from it."""
    rng = random.Random(seed)
    positions = [rng.choice(_POSITIONS) for _ in range(rows)]
    drs = [rng.choice([str(rng.randint(0, 100)), ""]) for _ in range(rows)]
    codes = [rng.choice(_STATUS) for _ in range(rows)]

    pos = [p for p in map(_js_to_num, positions) if p is not None and p > 0]
    dr = [d for d in map(_js_to_num, drs) if d is not None]
    sc = [c for c in map(_js_to_num, codes) if c is not None]
    expected = {
        "keywords": {
            "top3": sum(p <= 3 for p in pos),
            "top10": sum(p <= 10 for p in pos),
            "top100": sum(p <= 100 for p in pos),
        },
        "ref_domains": rows,
        "dr": sum(dr) / len(dr),
        "4xx": sum(400 <= c < 500 for c in sc),
        "5xx": sum(c >= 500 for c in sc),
        "pages_total": rows,  # no top-pages export: sf_internal's row count
    }

    def utf16(lines: list[str]) -> bytes:
        return b"\xff\xfe" + "\n".join(lines).encode("utf-16-le")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "ahrefs_keywords.csv",
            utf16(["Keyword\tCurrent position\tVolume"]
                  + [f"kw{i}\t{p}\t{i % 997}" for i, p in enumerate(positions)]),
        )
        z.writestr(
            "ahrefs_backlinks.csv",
            utf16(["Referring domain\tDR"] + [f"d{i}.example\t{d}" for i, d in enumerate(drs)]),
        )
        z.writestr(
            "sf_internal_all.csv",
            "\n".join(["Address,Status Code,Title 1"]
                      + [f"/p{i},{c},Title {i}" for i, c in enumerate(codes)]).encode(),
        )
        z.writestr("brightlocal_ranks.csv", "Keyword,Position\nkw1,1\nkw2,4\n")
        z.writestr("gbp_categories.csv", "category_type,category_name\nprimary,Plumber\n")
    return buf.getvalue(), expected


def check(doc: dict, expected: dict) -> list[str]:
    onsite = doc["onsite"]
    got = {
        "keywords": onsite["keywords"],
        "ref_domains": doc["backlinks"]["ref_domains"],
        "dr": doc["backlinks"]["dr"],
        "4xx": onsite["errors"]["4xx"],
        "5xx": onsite["errors"]["5xx"],
        "pages_total": onsite["content"]["pages_total"],
    }
    bad = []
    for key, want in expected.items():
        ok = abs(got[key] - want) <= 1e-9 * abs(want) if key == "dr" else got[key] == want
        if not ok:
            bad.append(f"{key}: got {got[key]!r}, expected {want!r}")
    return bad


class _Layers:
    """Seconds per layer, accumulated by wrapping the functions the
    pipeline calls through module globals."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = {}

    def wrap(self, module, attr: str, layer: str) -> None:
        fn = getattr(module, attr)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] = self.seconds.get(layer, 0.0) + time.perf_counter() - t0

        setattr(module, attr, timed)

    def split(self) -> dict[str, float]:
        s = {k: self.seconds.get(k, 0.0) for k in ("zip_read", "csv_parse", "frame_build", "stanzas", "scoring")}
        s["stanza_query"] = s.pop("stanzas") - s["frame_build"]
        return {f"{k}_s": round(v, 3) for k, v in s.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, default=500_000, help="rows per large export")
    ap.add_argument("--seed", type=int, default=7)
    ns = ap.parse_args()

    from seo_audit_etl_actor_spark.pipeline import run, stanzas
    from seo_audit_etl_actor_spark.pipeline.run import JobInput, process_zip
    from seo_audit_etl_actor_spark.session import get_spark

    layers = _Layers()
    layers.wrap(run, "open_zip", "zip_read")
    layers.wrap(run, "read_entry", "zip_read")
    layers.wrap(run, "parse_csv_smart_rows", "csv_parse")
    layers.wrap(stanzas, "audit_frame", "frame_build")
    layers.wrap(stanzas, "aggregate_audit", "stanzas")
    layers.wrap(run, "compute_scores", "scoring")

    spark = get_spark("bench-large-audit")
    spark.sparkContext.setLogLevel("ERROR")
    job = JobInput(client="bench", domain="bench.example", run_date="2025-06-01", zip_url="memory://large")

    warm, _ = build_zip(1000, ns.seed + 1)
    process_zip(spark, job, fetch_impl=lambda url: warm)

    payload, expected = build_zip(ns.rows, ns.seed)
    layers.seconds.clear()
    t0 = time.perf_counter()
    result = process_zip(spark, job, fetch_impl=lambda url: payload)
    seconds = time.perf_counter() - t0
    bad = check(result["normalized_audit"], expected)
    peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(json.dumps({"rows": ns.rows, "seed": ns.seed, "seconds": round(seconds, 3),
                      "layers": layers.split(), "main_peak_rss_mb": round(peak_mb, 1),
                      "correct": not bad, "mismatches": bad}))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
