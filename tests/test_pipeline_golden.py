"""Golden end-to-end pipeline test (SURVEY §5.2 strategy #2): fixture ZIP →
process_zip → compare the three artifacts against hand-computed
expectations, including every degradation path (missing entry, corrupted
nested zip, non-ZIP payload, missing position column, placeholder files).

All expected numbers are derived BY HAND from tests/fixtures_seo.py data —
see the arithmetic notes inline.
"""

from __future__ import annotations

import io
import struct
import zipfile

import pytest

from seo_audit_etl_actor_spark import session
from seo_audit_etl_actor_spark.pipeline import stanzas
from seo_audit_etl_actor_spark.pipeline.document import to_reference_json
from seo_audit_etl_actor_spark.pipeline.run import JobInput, process_zip, write_outputs
from seo_audit_etl_actor_spark.sources.csv_smart import ParsedCsv
from seo_audit_etl_actor_spark.sources.zip_io import NotAZipError, read_entry
from tests.fixtures_seo import _csv, build_fixture_zip

JOB = JobInput(client="Acme Plumbing", domain="acme.example", run_date="2025-06-01", zip_url="memory://fixture")


@pytest.fixture(scope="module")
def result(spark):
    return process_zip(spark, JOB, fetch_impl=lambda url: build_fixture_zip())


def test_meta_and_provenance(result):
    doc = result["normalized_audit"]
    assert doc["meta"] == {"client": "Acme Plumbing", "domain": "acme.example", "run_date": "2025-06-01"}
    ref = to_reference_json(doc)
    assert ref["provenance"] == {
        "ahrefs": True,
        "screamingfrog": True,
        "lighthouse": True,
        "brightlocal": True,
        "gbp_public": True,
        "gsc": "present",  # real gsc_queries_28d rows
        "ga4": "missing",  # only a placeholder ga4 file
        "leadsnap": "missing",
    }


def test_keywords_buckets(result):
    # positions 1,2,3,5,9,15,50,120 valid (abc→0 and -2 dropped by >0)
    assert result["normalized_audit"]["onsite"]["keywords"] == {"top3": 3, "top10": 5, "top100": 7}


def test_pages_and_backlinks(result):
    doc = result["normalized_audit"]
    # distinct URLs /a /b /c — ahrefs wins the ?? coalesce over sf's 7 rows
    assert doc["onsite"]["content"]["pages_total"] == 3
    assert doc["backlinks"]["ref_domains"] == 4
    # DR mean over [50, 70, 0, 30] — empty cell coerces to 0 (JS Number(''))
    assert doc["backlinks"]["dr"] == pytest.approx(37.5)


def test_error_accumulation(result):
    # site audit: 4xx 2+1, 5xx 1, redirects 2, dup_titles 1, orphans 2
    # sf_internal adds: 404,404 → +2 4xx; 500 → +1 5xx ('abc'→0 out of range)
    assert result["normalized_audit"]["onsite"]["errors"] == {
        "4xx": 5,
        "5xx": 2,
        "redirect_chains": 2,
        "canonical": 0,
        "thin": 0,
        "duplicate_titles": 1,
        "orphan_pages": 2,
    }


def test_cwv_rollup(result):
    cwv = result["normalized_audit"]["onsite"]["cwv"]
    # two lighthouse files: p75 index floor(.75*1)=0 → the smaller value
    assert cwv["lcp_p75"] == 2000
    assert cwv["cls_p75"] == 0.05
    assert cwv["inp_p75"] == 150
    assert cwv["pass_rate"] == pytest.approx(0.5)  # home passes, service fails


def test_local_block(result):
    local = result["normalized_audit"]["local"]
    assert local["rank"] == {
        "avg_pos": pytest.approx(7.0),  # (1+3+4+20)/4
        "pct_top3": pytest.approx(0.5),  # 1,3 of 4
        "keywords_tracked": 4,
    }
    # Live / OK+link / Dead / (blank, uncounted) / link-only → 3 of 4
    assert local["citations"]["consistency"] == pytest.approx(0.75)
    assert local["reviews"]["count_total"] == pytest.approx(120)
    assert local["reviews"]["avg_rating"] == pytest.approx(4.4)
    assert local["gbp"]["primary_category"] == "Plumber"
    # an empty name ('') and a missing one (NULL) are both skipped: the
    # NULL values of non-matching rows never reach the collected list
    assert local["gbp"]["secondary_categories"] == ["Emergency Plumber", "Drainage Service"]
    # gbp_photos 'total' row overwrites the insights max (35 → 42)
    assert local["gbp"]["photos_total"] == pytest.approx(42)


def test_scores(result):
    s = result["scores"]
    # OSS: used = kw 20 + health 20 + cwv 15 = 55 of 100
    #   kw = min(5/7, 1); health = clamp(1 - (12/3)/0.5) = 0; cwv = 0.5
    #   score = round((20*(5/7) + 0 + 7.5) / 55 * 1000)/10 = 39.6
    assert s["oss"] == pytest.approx(39.6)
    assert s["oss_coverage"] == pytest.approx(0.55)
    assert s["oss_weight_used"] == 55 and s["oss_weight_total"] == 100
    # LSS: used = rank 40 + pct_top3 25 + citations 15 + reviews 10 = 90
    #   rank = 1-(7-1)/19 = 13/19; pct .5; cit .75; reviews (4.4-3.5)/1.5
    #   score = round((40*13/19 + 12.5 + 11.25 + 6.0)/90*1000)/10 = 63.5
    assert s["lss"] == pytest.approx(63.5)
    assert s["lss_coverage"] == pytest.approx(0.9)
    assert s["lss_weight_used"] == 90 and s["lss_weight_total"] == 100
    raw = s["components"]["oss"]["raw"]
    assert raw["kw_top10"] == pytest.approx(5 / 7)
    assert raw["site_health"] == pytest.approx(0.0)
    assert raw["gsc_clicks"] is None and raw["indexed_valid"] is None


def test_manifest_statuses(result):
    m = result["manifest"]
    assert m["ahrefs_keywords.csv"] == {"status": "present", "size": m["ahrefs_keywords.csv"]["size"], "rows": 10}
    assert m["ahrefs_site_audit.zip"]["status"] == "full"
    assert m["sf_images.csv"] == {"status": "missing"}
    assert m["lighthouse_city.json"] == {"status": "missing"}
    assert m["lighthouse_home.json"] == {"status": "full"}
    assert m["brightlocal_reviews.csv"]["status"] == "placeholder"
    assert m["brightlocal_reviews.csv"]["note"] == "login_required"
    assert m["brightlocal_gbp_insights.csv"]["note"] == "public listing only; true Insights missing"
    assert m["gsc_queries_28d.csv"] == {"status": "full", "rows": 2}
    assert m["ga4_pages.csv"] == {"status": "placeholder", "note": "access_required_or_empty"}
    assert m["leadsnap_calls.csv"] == {"status": "missing"}
    assert m["sf_duplicates.csv"]["rows"] == 3


def test_missing_sentinels_serialized(result):
    ref = to_reference_json(result["normalized_audit"])
    gbp = ref["local"]["gbp"]
    assert gbp["insights_calls"] == "missing"
    assert gbp["insights_directions"] == "missing"
    assert gbp["insights_website_clicks"] == "missing"


def test_write_outputs(result, tmp_path):
    paths = write_outputs(result, str(tmp_path / "out"))
    import json

    audit = json.loads(open(paths["normalized_audit.json"]).read())
    assert audit["provenance"]["gsc"] == "present"
    scores = json.loads(open(paths["scores.json"]).read())
    assert scores["oss"] == pytest.approx(39.6)
    assert "etl_manifest.json" in paths and "OUTPUT.json" in paths


# ---------------------------------------------------------- degradations
def test_non_zip_payload(spark):
    with pytest.raises(NotAZipError) as ei:
        process_zip(spark, JOB, fetch_impl=lambda url: b"<html>not a zip</html>")
    assert ei.value.payload.startswith(b"<html>")  # debug-dump material


def test_corrupt_nested_zip_degrades_to_partial(spark):
    res = process_zip(
        spark, JOB, fetch_impl=lambda url: build_fixture_zip(corrupt_site_audit=True)
    )
    m = res["manifest"]["ahrefs_site_audit.zip"]
    assert m["status"] == "partial" and m["note"]
    # inner counts skipped, sf_internal still contributes
    assert res["normalized_audit"]["onsite"]["errors"]["4xx"] == 2
    assert res["normalized_audit"]["onsite"]["errors"]["orphan_pages"] == 0


def _patch_central_entry(buf: bytes, name: str, offset: int, value: bytes) -> bytes:
    """`buf` with `value` written at `offset` of `name`'s central-directory
    record (8: flag bits, 10: compression method, 16: CRC-32); zipfile
    reads an entry by that record."""
    start = buf.find(b"PK\x01\x02")
    while start >= 0:
        name_len = struct.unpack_from("<H", buf, start + 28)[0]
        if buf[start + 46 : start + 46 + name_len] == name.encode():
            at = start + offset
            return buf[:at] + value + buf[at + len(value) :]
        start = buf.find(b"PK\x01\x02", start + 46)
    raise KeyError(name)


def _flip_crc(buf: bytes, name: str) -> bytes:
    with zipfile.ZipFile(io.BytesIO(buf)) as zf:
        flipped = zf.getinfo(name).CRC ^ 0xFF
    return _patch_central_entry(buf, name, 16, struct.pack("<I", flipped))


@pytest.mark.parametrize(
    "name",
    ["sf_internal_all.csv", "ahrefs_site_audit.zip", "lighthouse_home.json", "gsc_queries_28d.csv"],
)
def test_crc_corrupt_entry_degrades_to_partial(spark, name):
    """A CRC-corrupt outer entry — a CSV stanza, the nested site-audit ZIP,
    a Lighthouse JSON, a login-required placeholder — no longer aborts the
    audit: its manifest entry reads `partial` with the zipfile error as
    note, and every other artifact value equals a run without that entry."""
    corrupt = process_zip(spark, JOB, fetch_impl=lambda url: _flip_crc(build_fixture_zip(), name))
    omitted = process_zip(spark, JOB, fetch_impl=lambda url: build_fixture_zip(omit={name}))
    entry = corrupt["manifest"].pop(name)
    assert entry == {"status": "partial", "note": entry["note"]} and "CRC" in entry["note"]
    assert omitted["manifest"].pop(name) == {"status": "missing"}
    assert corrupt == omitted


@pytest.mark.parametrize(
    ("offset", "value", "error"),
    [
        pytest.param(10, struct.pack("<H", 99), "compression method is not supported", id="method"),
        pytest.param(8, struct.pack("<H", 0x1), "password required", id="encrypted"),
    ],
)
def test_read_entry_degrades_unreadable_entries(offset, value, error):
    """`read_entry` turns an entry with an unsupported compression method,
    or an encrypted one, into a `partial` manifest entry noting the error,
    and returns None; the other entries still read."""
    name = "sf_duplicates.csv"
    buf = _patch_central_entry(build_fixture_zip(), name, offset, value)
    manifest: dict = {}
    with zipfile.ZipFile(io.BytesIO(buf)) as zf:
        assert read_entry(zf, name, manifest) is None
        assert read_entry(zf, "ahrefs_backlinks.csv", manifest) is not None
    assert manifest[name]["status"] == "partial" and error in manifest[name]["note"], manifest
    assert manifest["ahrefs_backlinks.csv"]["status"] == "present"


def test_missing_keywords_entry(spark):
    res = process_zip(
        spark, JOB, fetch_impl=lambda url: build_fixture_zip(omit={"ahrefs_keywords.csv"})
    )
    assert res["manifest"]["ahrefs_keywords.csv"] == {"status": "missing"}
    assert res["normalized_audit"]["onsite"]["keywords"] == {"top3": None, "top10": None, "top100": None}
    # kw component unavailable → OSS used drops to 35
    assert res["scores"]["oss_weight_used"] == 35


def test_keywords_without_position_column(spark):
    res = process_zip(
        spark,
        JOB,
        fetch_impl=lambda url: build_fixture_zip(keywords_no_position_col=True),
    )
    # warning path: file present with rows, but buckets stay null
    assert res["manifest"]["ahrefs_keywords.csv"]["rows"] == 10
    assert res["normalized_audit"]["onsite"]["keywords"]["top10"] is None


def test_placeholder_check_reads_exact_keys(spark):
    """A header holding both `Status` and `status` (plus `message`): the
    login-wall check reads the exact JS keys `status` and `message` of the
    first row (src/etl.js:372), so `Status` plays no part. A
    case-insensitive lookup would either fail as ambiguous or read
    `Status` and get both files the wrong way round."""
    # status + message truthy, Status empty → login wall
    reviews = _csv("Status,status,message", ",error,login required", "Live,,").encode()
    # Status + message truthy, status empty → real rows
    gsc = _csv("Status,status,message", "error,,see logs", "ok,,", "ok,,").encode()
    res = process_zip(
        spark,
        JOB,
        fetch_impl=lambda url: build_fixture_zip(
            replace={"brightlocal_reviews.csv": reviews, "gsc_queries_28d.csv": gsc}
        ),
    )
    m = res["manifest"]
    assert m["brightlocal_reviews.csv"] == {
        "status": "placeholder",
        "size": len(reviews),
        "note": "login_required",
    }
    assert m["gsc_queries_28d.csv"] == {"status": "full", "rows": 3}
    assert to_reference_json(res["normalized_audit"])["provenance"]["gsc"] == "present"


def test_pick_col_stanzas_tolerate_case_collisions(spark):
    """Headers holding both `Status` and `status`: the fuzzy pick keeps the
    reference's last-wins Map.set (src/etl.js:44-72), so the later `status`
    column is the one read. It is read by position, so Spark's
    case-insensitive resolver never has to choose between the two names."""
    sf = _csv("Address,Status,status", "/p1,200,OK", "/p2,404,Client Error", "/p3,200,503").encode()
    citations = _csv(
        "Directory,Status,status,Citation Link",
        "d1,Live,Dead,",
        "d2,Dead,Live,",
        "d3,Live,,",
        "d4,,Pending,http://x",
    ).encode()
    res = process_zip(
        spark,
        JOB,
        fetch_impl=lambda url: build_fixture_zip(
            replace={"sf_internal_all.csv": sf, "brightlocal_citations.csv": citations}
        ),
    )
    doc = res["normalized_audit"]
    # site audit: 4xx 3, 5xx 1; `status` adds 'OK' → 0, 'Client Error' → 0
    # (nothing), 503 → +1 5xx; `Status` (200, 404, 200) plays no part
    assert doc["onsite"]["errors"]["4xx"] == 3
    assert doc["onsite"]["errors"]["5xx"] == 2
    # `status`: dead (counted), live (good), '' (uncounted), pending with
    # a link (good) → 2 of 3
    assert doc["local"]["citations"]["consistency"] == pytest.approx(2 / 3)


def test_audit_runs_two_spark_queries(spark, monkeypatch):
    """A warm audit of the golden fixture runs at most 3 Spark jobs: one
    aggregation for every CSV stanza (under AQE, a job for its shuffle map
    stage and one for its result) and one scoring projection, which
    Catalyst folds into a local relation. Its audit frame plans as a
    `LocalTableScan`, not `Scan ExistingRDD`, so no Python worker pickles
    its rows."""

    def fetch(url):
        return build_fixture_zip()

    process_zip(spark, JOB, fetch_impl=fetch)  # warm-up
    frames = []
    build = stanzas.audit_frame

    def recording(*args):
        frames.append(build(*args))
        return frames[-1]

    monkeypatch.setattr(stanzas, "audit_frame", recording)
    sc = spark.sparkContext
    group = "test-audit-job-count"
    sc.setJobGroup(group, group)
    try:
        process_zip(spark, JOB, fetch_impl=fetch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, jobs
    [frame] = frames
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_audit_runs_one_job_of_one_task(spark, monkeypatch):
    """A warm audit of the golden fixture (about 40 aggregated rows) runs
    exactly 1 Spark job of 1 task: its audit frame is one partition, so the
    audit query's partial and final aggregates run in one stage with no
    `Exchange`, and the scoring projection is folded on the driver. Every
    query is collected, not `first()`-ed, so none is planned twice."""

    def fetch(url):
        return build_fixture_zip()

    process_zip(spark, JOB, fetch_impl=fetch)  # warm-up
    queries = []
    DataFrame = type(spark.range(0))  # the session's concrete DataFrame class
    collect = DataFrame.collect

    def recording(self):
        queries.append(self)
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", recording)
    monkeypatch.setattr(DataFrame, "first", lambda self: pytest.fail("first() re-plans the query"))
    sc = spark.sparkContext
    group = "test-audit-one-task"
    sc.setJobGroup(group, group)
    try:
        process_zip(spark, JOB, fetch_impl=fetch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jobs[0]).stageIds]
    assert sum(s.numTasks for s in stages) == 1, stages
    stanza_query, _scoring_query = queries
    plan = stanza_query._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" in plan and "Exchange" not in plan, plan


def test_audit_frame_partitions_by_rows(spark, monkeypatch):
    """The audit frame gets one partition per `ROWS_PER_PARTITION` rows,
    at least one and at most `defaultParallelism`, whichever way Spark
    holds it; a frame no larger than the constant is one partition."""
    per = 10
    monkeypatch.setattr(session, "ROWS_PER_PARTITION", per)
    cores = spark.sparkContext.defaultParallelism

    def partitions(n: int) -> int:
        parsed = ParsedCsv(header=["x"], rows=[[str(i)] for i in range(n)])
        return stanzas.audit_frame(spark, [("t", parsed, [0])]).rdd.getNumPartitions()

    assert partitions(1) == 1
    assert partitions(per) == 1
    assert partitions(per + 1) == min(2, cores)
    assert partitions(per * (cores + 3)) == cores
    # Past the Arrow local-relation threshold the frame is an RDD with one
    # partition per Arrow batch (here per part): capped all the same.
    parts = [(f"t{i}", ParsedCsv(header=["x"], rows=[["v"]] * per), [0]) for i in range(cores + 3)]
    key = "spark.sql.execution.arrow.localRelationThreshold"
    spark.conf.set(key, "0")
    try:
        df = stanzas.audit_frame(spark, parts)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset(key)
    assert "ExistingRDD" in plan and df.rdd.getNumPartitions() == cores, plan


def test_validation_rejects_blank_input():
    with pytest.raises(ValueError, match="zipUrl"):
        JobInput(client="c", domain="d", run_date="2025-01-01", zip_url="")
