"""Pipeline orchestration: the reference's `processZip` re-expressed as
driver orchestration over per-source Spark stanzas (SURVEY §3.2, §3.4).

Flow: fetch → PK validation → unzip → driver-side parse of every entry →
manifest and provenance in reference order, collecting the CSV entries a
stanza aggregates as `(stanza, ParsedCsv)` pairs → ONE Spark aggregation
for all of them (`stanzas.aggregate_audit`, applied in reference order)
→ coverage-weighted scoring (one more Spark query) → {normalized_audit,
scores, manifest}. Cross-stanza dependencies are exactly the reference's:
the errors.* `+=` accumulation (A11) and the pages_total coalesce
priority (A12) — everything else is independent.

Row counts and the login-wall placeholder check are driver facts: the
manifest `rows`, every "has rows" test and the first-row `status` /
`message` lookup read the `ParsedCsv` the driver already holds, so none
of them costs a Spark job.

Citations: /root/reference/src/main.js:4-41, src/etl.js:93-454.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession

from seo_audit_etl_actor_spark.pipeline import stanzas
from seo_audit_etl_actor_spark.pipeline.document import (
    empty_normalized,
    to_reference_json,
)
from seo_audit_etl_actor_spark.pipeline.scoring import compute_scores
from seo_audit_etl_actor_spark.sources.csv_smart import ParsedCsv, parse_csv_smart_rows
from seo_audit_etl_actor_spark.sources.lighthouse import extract_lighthouse
from seo_audit_etl_actor_spark.sources.zip_io import (
    FetchImpl,
    default_fetch,
    open_nested_zip,
    open_zip,
    read_entry,
)

LIGHTHOUSE_FILES = ("lighthouse_home.json", "lighthouse_service.json", "lighthouse_city.json")
PLACEHOLDER_FILES = (
    "surfer_page_queue.csv",
    "gsc_queries_28d.csv",
    "gsc_pages_28d.csv",
    "ga4_pages.csv",
    "ga4_conversions.csv",
    "ga4_channels.csv",
    "leadsnap_leads.csv",
    "leadsnap_calls.csv",
    "leadsnap_reviews.csv",
)
GSC_FILES = ("gsc_queries_28d.csv", "gsc_pages_28d.csv")
GA4_FILES = ("ga4_pages.csv", "ga4_conversions.csv", "ga4_channels.csv")


@dataclass(frozen=True)
class JobInput:
    """Typed job contract (S9; .actor/actor.json:13-41, src/main.js:17-22)."""

    client: str
    domain: str
    run_date: str
    zip_url: str

    def __post_init__(self) -> None:
        missing = [
            k
            for k, v in (
                ("client", self.client),
                ("domain", self.domain),
                ("runDate", self.run_date),
                ("zipUrl", self.zip_url),
            )
            if not v
        ]
        if missing:
            raise ValueError(f"Missing required input: {', '.join(missing)}")


def _frame_rows(parsed: ParsedCsv) -> int:
    """Rows an entry holds: none without a header (a file whose first
    line is blank)."""
    return len(parsed.rows) if parsed.header else 0


def _login_wall(parsed: ParsedCsv) -> bool:
    """Login-wall placeholder: the first row has truthy `status` AND
    `message` fields — exact keys, no fuzzy match (P10, src/etl.js:372).
    A missing cell (NULL) and an empty one ('') are both falsy in JS."""
    header = parsed.header
    if not parsed.rows or "status" not in header or "message" not in header:
        return False
    first = parsed.rows[0]
    return bool(first[header.index("status")]) and bool(first[header.index("message")])


def process_zip(
    spark: SparkSession,
    job: JobInput,
    fetch_impl: FetchImpl | None = None,
    debug: dict | None = None,
) -> dict:
    """→ {"normalized_audit": dict, "scores": dict, "manifest": dict}
    (engine-typed; serialize with `write_outputs`/`to_reference_json`).

    `debug`, when passed a dict, collects the reference's observability
    artifacts (S8): `ahrefs_keywords_headers` — the headers actually seen
    (src/etl.js:121)."""
    manifest: dict = {}
    raw = (fetch_impl or default_fetch)(job.zip_url)
    zf = open_zip(raw)  # raises NotAZipError with payload for debug dump
    doc = empty_normalized(job.client, job.domain, job.run_date)
    prov = doc["provenance"]

    def parse_entry(name: str) -> ParsedCsv | None:
        buf = read_entry(zf, name, manifest)
        return None if buf is None else parse_csv_smart_rows(buf)

    entries: list[tuple[str, ParsedCsv]] = []  # CSV stanza inputs, reference order

    def csv_stanza(name: str, stanza: str, source: str) -> None:
        """Shared shape: read entry → parse → rows>0 → stanza + rows count;
        empty parse → 'partial' (src/etl.js:149,164,180,229)."""
        parsed = parse_entry(name)
        if parsed is None:
            return
        if n := _frame_rows(parsed):
            entries.append((stanza, parsed))
            manifest[name]["rows"] = n
            prov[source] = True
        else:
            manifest[name]["status"] = "partial"

    # ---- Ahrefs keywords / top pages / backlinks (src/etl.js:115-181)
    csv_stanza("ahrefs_keywords.csv", "ahrefs_keywords", "ahrefs")
    if debug is not None and entries:  # S8 headers dump (src/etl.js:121)
        debug["ahrefs_keywords_headers"] = list(entries[0][1].header)
    csv_stanza("ahrefs_top_pages.csv", "ahrefs_top_pages", "ahrefs")
    csv_stanza("ahrefs_backlinks.csv", "ahrefs_backlinks", "ahrefs")

    # ---- Ahrefs site audit — nested ZIP (src/etl.js:184-213)
    buf = read_entry(zf, "ahrefs_site_audit.zip", manifest)
    if buf is not None:
        try:
            inner = open_nested_zip(buf)
            names = set(inner.namelist())
            counts = {
                f: len(parse_csv_smart_rows(inner.read(f)).rows)
                for files in stanzas.SITE_AUDIT_ISSUES.values()
                for f in files
                if f in names
            }
            stanzas.site_audit_issue_counts(counts, doc)
            prov["ahrefs"] = True
            manifest["ahrefs_site_audit.zip"]["status"] = "full"
        except Exception as e:  # degrade, don't abort (src/etl.js:209-212)
            manifest["ahrefs_site_audit.zip"]["status"] = "partial"
            manifest["ahrefs_site_audit.zip"]["note"] = str(e)

    # ---- Screaming Frog internal (src/etl.js:216-230)
    csv_stanza("sf_internal_all.csv", "sf_internal", "screamingfrog")

    # ---- Screaming Frog structured data (src/etl.js:234-250)
    parsed = parse_entry("sf_structured_data.csv")
    if parsed is not None and (n := _frame_rows(parsed)):
        note = stanzas.sf_structured_data(doc)
        manifest["sf_structured_data.csv"]["rows"] = n
        manifest["sf_structured_data.csv"]["note"] = note
        prov["screamingfrog"] = True

    # ---- duplicates / images: row counts only (src/etl.js:253-256)
    for name in ("sf_duplicates.csv", "sf_images.csv"):
        parsed = parse_entry(name)
        if parsed is not None:
            manifest[name]["rows"] = len(parsed.rows)

    # ---- Lighthouse JSONs (src/etl.js:259-304)
    lh_metrics = []
    for name in LIGHTHOUSE_FILES:
        data = read_entry(zf, name, manifest)
        if data is None:
            continue
        try:
            lh_metrics.append(extract_lighthouse(data))
            manifest[name] = {"status": "full"}
            prov["lighthouse"] = True
        except Exception as e:
            manifest[name] = {"status": "partial", "note": str(e)}
    if lh_metrics:
        stanzas.lighthouse_rollup(lh_metrics, doc)

    # ---- BrightLocal ranks / citations (src/etl.js:307-366)
    csv_stanza("brightlocal_ranks.csv", "brightlocal_ranks", "brightlocal")
    csv_stanza("brightlocal_citations.csv", "brightlocal_citations", "brightlocal")

    # ---- BrightLocal reviews — placeholder-prone (src/etl.js:369-379)
    parsed = parse_entry("brightlocal_reviews.csv")
    if parsed is not None:
        n = _frame_rows(parsed)
        if n and not _login_wall(parsed):
            prov["brightlocal"] = True
            manifest["brightlocal_reviews.csv"]["rows"] = n
        else:
            manifest["brightlocal_reviews.csv"]["status"] = "placeholder"
            manifest["brightlocal_reviews.csv"]["note"] = "login_required"

    # ---- BrightLocal GBP insights (src/etl.js:382-397)
    parsed = parse_entry("brightlocal_gbp_insights.csv")
    if parsed is not None and (n := _frame_rows(parsed)):
        entries.append(("brightlocal_gbp_insights", parsed))
        prov["brightlocal"] = True
        manifest["brightlocal_gbp_insights.csv"] = {
            "status": "partial",
            "rows": n,
            "note": "public listing only; true Insights missing",
        }

    # ---- GBP categories / photos (src/etl.js:400-421)
    for name, stanza in (("gbp_categories.csv", "gbp_categories"), ("gbp_photos.csv", "gbp_photos")):
        parsed = parse_entry(name)
        if parsed is None:
            continue
        if parsed.header:
            entries.append((stanza, parsed))
        prov["gbp_public"] = True
        manifest[name]["rows"] = _frame_rows(parsed)

    # ---- login-required placeholders (src/etl.js:424-434)
    real_rows: dict[str, bool] = {}
    for name in PLACEHOLDER_FILES:
        parsed = parse_entry(name)
        if parsed is None:
            continue
        n = _frame_rows(parsed)
        real_rows[name] = bool(n) and not _login_wall(parsed)
        if real_rows[name]:
            manifest[name] = {"status": "full", "rows": n}
        else:
            manifest[name] = {"status": "placeholder", "note": "access_required_or_empty"}

    # ---- GSC/GA4 presence flags (src/etl.js:437-448)
    if any(real_rows.get(n) for n in GSC_FILES):
        prov["gsc"] = True
    if any(real_rows.get(n) for n in GA4_FILES):
        prov["ga4"] = True

    stanzas.aggregate_audit(spark, entries, doc)
    scores = compute_scores(spark, doc)
    return {"normalized_audit": doc, "scores": scores, "manifest": manifest}


def write_outputs(result: dict, out_dir: str) -> dict[str, str]:
    """KV-sink analog (S7, src/main.js:30-38): three JSON artifacts + the
    OUTPUT index, reference-shaped (sentinels restored by the serializer)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    artifacts = {
        "normalized_audit.json": to_reference_json(result["normalized_audit"]),
        "scores.json": result["scores"],
        "etl_manifest.json": result["manifest"],
    }
    paths = {}
    for name, obj in artifacts.items():
        p = out / name
        p.write_text(json.dumps(obj, indent=2, ensure_ascii=False))
        paths[name] = str(p)
    index = {"artifacts": sorted(artifacts), "client": result["normalized_audit"]["meta"]["client"]}
    (out / "OUTPUT.json").write_text(json.dumps(index, indent=2))
    paths["OUTPUT.json"] = str(out / "OUTPUT.json")
    return paths
