"""Seeded audit-ZIP generator and output checker for the audit workload.

Every ZIP is built from values drawn from a seeded RNG, and the generator
records what it planted: keyword position buckets, distinct pages,
referring domains and mean DR, status-code bands, site-audit issue counts,
Lighthouse CWV values, local rank / citation / review figures and the
manifest status every entry must end with. `build_case` turns those
planted values into the artifacts the pipeline has to write, using the
reference's rules directly (no code of the program under test is
imported here), and `check_outputs` compares the written JSON artifacts
against them.

Two ZIP kinds cover the reference's input matrix between them:

- ``full``: every core entry (18 in all), UTF-16LE with and without BOM
  next to UTF-8, a nested site-audit ZIP, real GSC rows.
- ``degraded``: entries left out (top pages, images, one Lighthouse file,
  most GSC/GA4 slots), login-wall placeholder files, a header-only export
  that walks the whole decode/parse fallback chain, a corrupt nested
  site-audit ZIP, UTF-8 with BOM and bare UTF-16LE (17 entries).
"""

from __future__ import annotations

import io
import json
import math
import random
import zipfile
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

VARIANTS = ("full", "degraded")

# Rows per row-bearing export. Fixed per run so the work per audit does not
# depend on the seed; only the values do.
ROWS = {
    "keywords": 300,
    "top_pages": 200,
    "backlinks": 250,
    "sf_internal": 300,
    "ranks": 60,
    "citations": 40,
    "duplicates": 30,
    "images": 30,
    "structured": 20,
}

SITE_AUDIT_FILES = {
    "4xx": ["Error-4XX_page.csv", "Error-404_page.csv"],
    "5xx": ["Error-5XX_page.csv"],
    "redirect_chains": ["Error-Redirect_chain.csv", "Warning-3XX_redirect.csv"],
    "canonical": ["Error-indexable-Canonical_chain.csv", "Warning-Canonical_to_redirected_URL.csv"],
    "duplicate_titles": ["Warning-indexable-Title_tag_duplicate.csv"],
    "thin": ["Warning-indexable-Content_thin.csv"],
    "orphan_pages": ["Error-indexable-Orphan_page.csv"],
}
LIGHTHOUSE = ("lighthouse_home.json", "lighthouse_service.json", "lighthouse_city.json")
GSC = ("gsc_queries_28d.csv", "gsc_pages_28d.csv")
GA4 = ("ga4_pages.csv", "ga4_conversions.csv", "ga4_channels.csv")
LEADSNAP = ("leadsnap_leads.csv", "leadsnap_calls.csv", "leadsnap_reviews.csv")
PLACEHOLDER_SLOTS = ("surfer_page_queue.csv", *GSC, *GA4, *LEADSNAP)
PLACEHOLDER_TEXT = "status,message\nerror,login required\n"

ANY_NOTE = None  # a note whose text the program chooses: only its presence is checked
OSS_WEIGHTS = {"gsc_clicks": 30, "kw_top10": 20, "site_health": 20, "cwv_pass": 15, "indexed_valid": 15}
LSS_WEIGHTS = {"avg_local_rank": 40, "pct_top3": 25, "citations": 15, "reviews": 10, "gbp_actions": 10}


@dataclass
class AuditCase:
    """One generated audit: job fields, the ZIP, and what it must produce."""

    case_id: str
    variant: str
    client: str
    domain: str
    run_date: str
    zip_bytes: bytes
    doc: dict = field(default_factory=dict)  # reference-JSON path -> value
    scores: dict = field(default_factory=dict)
    manifest: dict = field(default_factory=dict)


def _round_half_up(x: float, places: int = 0) -> float:
    q = Decimal(1).scaleb(-places)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _clamp01(x: float) -> float:
    return min(max(x, 0.0), 1.0)


def _nz(x, default: float) -> float:
    """JS `x || default` over numbers (None and 0 fall through)."""
    return default if not x else float(x)


def _text(header: str, rows: list[str]) -> str:
    return "\n".join([header, *rows]) + "\n"


def _encode(text: str, encoding: str) -> bytes:
    if encoding == "utf-16-bom":
        return b"\xff\xfe" + text.encode("utf-16-le")
    if encoding == "utf-16":
        return text.encode("utf-16-le")
    if encoding == "utf-8-bom":
        return b"\xef\xbb\xbf" + text.encode("utf-8")
    return text.encode("utf-8")


# Per-variant choices: which entries are left out, encodings, and which
# entries carry placeholder / header-only content.
_PLAN = {
    "full": dict(
        omit=set(),
        enc={"keywords": "utf-16-bom", "top_pages": "utf-16", "backlinks": "utf-16-bom"},
        default_enc="utf-8",
        placeholders=set(),
        real={"gsc_queries_28d.csv"},
        reviews_placeholder=False,
        header_only=set(),
        corrupt_site_audit=False,
    ),
    "degraded": dict(
        omit={"ahrefs_top_pages.csv", "sf_images.csv", "lighthouse_city.json"},
        enc={"keywords": "utf-8", "backlinks": "utf-16"},
        default_enc="utf-8-bom",
        placeholders={"surfer_page_queue.csv", "gsc_pages_28d.csv", "ga4_pages.csv"},
        real=set(),
        reviews_placeholder=True,
        header_only={"gbp_photos.csv"},
        corrupt_site_audit=True,
    ),
}


class _Entries:
    """Accumulates ZIP entries, the manifest they imply, and planted values."""

    def __init__(self, rng: random.Random, plan: dict):
        self.rng = rng
        self.plan = plan
        self.entries: dict[str, bytes] = {}
        self.manifest: dict[str, dict] = {}

    def present(self, name: str) -> bool:
        return name not in self.plan["omit"]

    def add(self, name: str, data: bytes) -> None:
        self.entries[name] = data

    def csv(self, name: str, key: str | None, header: str, rows: list[str]) -> bytes:
        enc = self.plan["enc"].get(key, self.plan["default_enc"]) if key else self.plan["default_enc"]
        data = _encode(_text(header, rows), enc)
        self.add(name, data)
        return data


def build_case(seed: int, client_idx: int, round_idx: int, variant: str) -> AuditCase:
    """Generate one audit ZIP and its expected artifacts from the seed."""
    rng = random.Random(f"{seed}:{client_idx}:{round_idx}:{variant}")
    plan = _PLAN[variant]
    b = _Entries(rng, plan)
    m = b.manifest
    doc: dict = {}
    errors = {k: 0 for k in SITE_AUDIT_FILES}
    prov = {k: False for k in ("ahrefs", "screamingfrog", "lighthouse", "brightlocal", "gbp_public")}
    gsc = ga4 = False
    doc_keywords = {"top3": None, "top10": None, "top100": None}
    pages_total = None

    def present_rows(name: str, data: bytes, n: int) -> None:
        m[name] = {"status": "present", "size": len(data), "rows": n}

    # ---- Ahrefs keywords: positions 1..150 plus invalid cells ('', abc, -2)
    name = "ahrefs_keywords.csv"
    if b.present(name):
        positions = []
        rows = []
        for i in range(ROWS["keywords"]):
            r = rng.random()
            if r < 0.06:
                cell, pos = rng.choice(["", "abc", "-2"]), None
            else:
                pos = rng.randint(1, 150)
                cell = str(pos)
            positions.append(pos)
            rows.append(f"kw {i} {rng.randint(0, 9999)}\t{cell}\t{rng.randint(10, 5000)}")
        data = b.csv(name, "keywords", "Keyword\tCurrent position\tVolume", rows)
        present_rows(name, data, len(rows))
        valid = [p for p in positions if p is not None]
        doc_keywords = {
            "top3": sum(p <= 3 for p in valid),
            "top10": sum(p <= 10 for p in valid),
            "top100": sum(p <= 100 for p in valid),
        }
        prov["ahrefs"] = True
    else:
        m[name] = {"status": "missing"}

    # ---- Ahrefs top pages: distinct URLs decide pages_total
    name = "ahrefs_top_pages.csv"
    if b.present(name):
        urls = [f"/page-{rng.randint(0, 160)}" for _ in range(ROWS["top_pages"])]
        rows = [f"{u}\t{rng.randint(0, 900)}" for u in urls]
        data = b.csv(name, "top_pages", "Current URL\tTraffic", rows)
        present_rows(name, data, len(rows))
        pages_total = len(set(urls))
        prov["ahrefs"] = True
    else:
        m[name] = {"status": "missing"}

    # ---- Ahrefs backlinks: row count and mean DR ('' coerces to 0)
    name = "ahrefs_backlinks.csv"
    ref_domains = dr = None
    if b.present(name):
        drs, rows = [], []
        for i in range(ROWS["backlinks"]):
            if rng.random() < 0.05:
                cell, v = "", 0
            else:
                v = rng.randint(0, 100)
                cell = str(v)
            drs.append(v)
            rows.append(f"ref{i}-{rng.randint(0, 99999)}.example\t{cell}")
        data = b.csv(name, "backlinks", "Referring domain\tDR", rows)
        present_rows(name, data, len(rows))
        ref_domains, dr = len(rows), sum(drs) / len(drs)
        prov["ahrefs"] = True
    else:
        m[name] = {"status": "missing"}

    # ---- Ahrefs site audit: nested ZIP, or corrupt bytes
    name = "ahrefs_site_audit.zip"
    if b.present(name):
        if plan["corrupt_site_audit"]:
            data = b"PK\x03\x04 truncated site audit " + bytes(rng.randrange(256) for _ in range(64))
            m[name] = {"status": "partial", "size": len(data), "note": ANY_NOTE}
        else:
            inner = io.BytesIO()
            with zipfile.ZipFile(inner, "w") as z:
                for key, files in SITE_AUDIT_FILES.items():
                    for f in files:
                        if rng.random() < 0.2:
                            continue  # absent category file counts 0
                        k = rng.randint(0, 12)
                        z.writestr(f, _text("URL", [f"/{key}-{j}" for j in range(k)]))
                        errors[key] += k
            data = inner.getvalue()
            m[name] = {"status": "full", "size": len(data)}
            prov["ahrefs"] = True
        b.add(name, data)
    else:
        m[name] = {"status": "missing"}

    # ---- Screaming Frog internal: status-code bands
    name = "sf_internal_all.csv"
    if b.present(name):
        rows = []
        codes = [200, 200, 200, 301, 302, 404, 410, 403, 500, 503]
        for i in range(ROWS["sf_internal"]):
            c = rng.choice(codes) if rng.random() > 0.03 else "abc"
            if c != "abc":
                if 400 <= c < 500:
                    errors["4xx"] += 1
                elif c >= 500:
                    errors["5xx"] += 1
            rows.append(f"/p{i},{c},Title {i}")
        data = b.csv(name, None, "Address,Status Code,Title 1", rows)
        present_rows(name, data, len(rows))
        if pages_total is None:
            pages_total = len(rows)
        prov["screamingfrog"] = True
    else:
        m[name] = {"status": "missing"}

    name = "sf_structured_data.csv"
    if b.present(name):
        rows = [f"/p{i},{rng.randint(0, 3)},{rng.randint(0, 3)},2,2" for i in range(ROWS["structured"])]
        data = b.csv(name, None, "Address,Errors,Warnings,Total Types,Unique Types", rows)
        m[name] = {"status": "present", "size": len(data), "rows": len(rows), "note": ANY_NOTE}
        prov["screamingfrog"] = True
    else:
        m[name] = {"status": "missing"}

    for name, key in (("sf_duplicates.csv", "duplicates"), ("sf_images.csv", "images")):
        if b.present(name):
            rows = [f"/a{i},{rng.randint(0, 9)}" for i in range(ROWS[key])]
            data = b.csv(name, None, "Address,Hash", rows)
            present_rows(name, data, len(rows))
        else:
            m[name] = {"status": "missing"}

    # ---- Lighthouse: p75 (lower nearest rank) and pass rate
    lh = []
    for name in LIGHTHOUSE:
        if not b.present(name):
            m[name] = {"status": "missing"}
            continue
        v = {
            "score": round(rng.uniform(0.3, 1.0), 2),
            "lcp": rng.randint(900, 4500),
            "cls": round(rng.uniform(0.0, 0.3), 3),
            "inp": rng.randint(60, 400),
            "ttfb": rng.randint(80, 900),
        }
        obj = {
            "categories": {"performance": {"score": v["score"]}},
            "audits": {
                "largest-contentful-paint": {"numericValue": v["lcp"]},
                "cumulative-layout-shift": {"numericValue": v["cls"]},
                "interactive": {"numericValue": v["inp"]},
                "server-response-time": {"numericValue": v["ttfb"]},
            },
        }
        b.add(name, json.dumps(obj).encode())
        m[name] = {"status": "full"}
        lh.append(v)
        prov["lighthouse"] = True

    def p75(xs):
        xs = sorted(xs)
        return xs[int(0.75 * (len(xs) - 1))]

    if lh:
        cwv = {
            "lcp_p75": p75([v["lcp"] for v in lh]),
            "cls_p75": p75([v["cls"] for v in lh]),
            "inp_p75": p75([v["inp"] for v in lh]),
            "pass_rate": sum(v["lcp"] <= 2500 and v["cls"] <= 0.1 and v["inp"] <= 200 for v in lh) / len(lh),
        }
    else:
        cwv = {"lcp_p75": None, "cls_p75": None, "inp_p75": None, "pass_rate": None}

    # ---- BrightLocal ranks
    name = "brightlocal_ranks.csv"
    rank = {"avg_pos": None, "pct_top3": None, "keywords_tracked": None}
    if b.present(name):
        pos = [rng.randint(1, 30) for _ in range(ROWS["ranks"])]
        data = b.csv(name, None, "Keyword,Position", [f"local kw {i},{p}" for i, p in enumerate(pos)])
        present_rows(name, data, len(pos))
        mean10 = (sum(pos) / len(pos)) * 10
        rank = {
            "avg_pos": _round_half_up(mean10) / 10,
            "pct_top3": sum(p <= 3 for p in pos) / len(pos),
            "keywords_tracked": len(pos),
        }
        prov["brightlocal"] = True
    else:
        m[name] = {"status": "missing"}

    # ---- BrightLocal citations: liveness-proxy consistency
    name = "brightlocal_citations.csv"
    consistency = None
    if b.present(name):
        good = total = 0
        rows = []
        for i in range(ROWS["citations"]):
            s = rng.choice(["Live", "Dead", "Pending", ""])
            gs = rng.choice(["", "OK found", "Not found"])
            link = rng.choice(["", f"http://dir{i}.example/listing"])
            rows.append(f"{s},{gs},{link}")
            if s or gs or link:
                total += 1
                if "live" in s.lower() or "ok" in gs.lower() or link:
                    good += 1
        data = b.csv(name, None, "Status,General Status,Citation Link", rows)
        present_rows(name, data, len(rows))
        consistency = good / total if total else None
        prov["brightlocal"] = True
    else:
        m[name] = {"status": "missing"}

    # ---- BrightLocal reviews: placeholder or real rows
    name = "brightlocal_reviews.csv"
    if b.present(name):
        if plan["reviews_placeholder"]:
            data = _encode(PLACEHOLDER_TEXT, "utf-8")
            m[name] = {"status": "placeholder", "size": len(data), "note": "login_required"}
        else:
            data = _encode(_text("Author,Rating", [f"r{i},{rng.randint(1, 5)}" for i in range(12)]), "utf-8")
            m[name] = {"status": "present", "size": len(data), "rows": 12}
            prov["brightlocal"] = True
        b.add(name, data)
    else:
        m[name] = {"status": "missing"}

    # ---- GBP insights: max-of-coerced public listing metrics
    name = "brightlocal_gbp_insights.csv"
    reviews = {"avg_rating": None, "count_total": None}
    photos_total = None
    if b.present(name):
        ins = [(rng.randint(5, 400), round(rng.uniform(3.0, 5.0), 1), rng.randint(0, 90)) for _ in range(3)]
        data = b.csv(name, None, "Review count,Star rating,Photos", [f"{a},{r},{p}" for a, r, p in ins])
        m[name] = {"status": "partial", "rows": len(ins), "note": "public listing only; true Insights missing"}
        reviews = {"count_total": float(max(a for a, _, _ in ins)), "avg_rating": max(r for _, r, _ in ins)}
        photos_total = float(max(p for _, _, p in ins))
        prov["brightlocal"] = True
    else:
        m[name] = {"status": "missing"}

    # ---- GBP categories / photos
    name = "gbp_categories.csv"
    primary, secondary = None, []
    if b.present(name):
        rows = []
        for i in range(8):
            kind = rng.choice(["primary", "secondary", "secondary", "Secondary"])
            cat = rng.choice(["", f"Category {i}"])
            rows.append(f"{kind},{cat}")
            if cat and kind.lower() == "primary" and primary is None:
                primary = cat
            elif cat and kind.lower() == "secondary":
                secondary.append(cat)
        data = b.csv(name, None, "category_type,category_name", rows)
        present_rows(name, data, len(rows))
        prov["gbp_public"] = True
    else:
        m[name] = {"status": "missing"}

    name = "gbp_photos.csv"
    if b.present(name):
        if name in plan["header_only"]:
            data = b.csv(name, None, "photo_type,count", [])
            present_rows(name, data, 0)
        else:
            total = rng.randint(10, 120)
            rows = [f"owner,{rng.randint(0, 9)}", f"customer,{rng.randint(0, 9)}", f"total,{total}", "total,1"]
            data = b.csv(name, None, "photo_type,count", rows)
            present_rows(name, data, len(rows))
            photos_total = float(total)
        prov["gbp_public"] = True
    else:
        m[name] = {"status": "missing"}

    # ---- login-required placeholder slots (GSC / GA4 / LeadSnap / Surfer)
    for name in PLACEHOLDER_SLOTS:
        if not b.present(name) or (name not in plan["placeholders"] and name not in plan["real"]):
            m[name] = {"status": "missing"}
            continue
        if name in plan["real"]:
            n = rng.randint(2, 15)
            data = _encode(_text("Query,Clicks", [f"q{i},{rng.randint(0, 99)}" for i in range(n)]), "utf-8")
            m[name] = {"status": "full", "rows": n}
            gsc = gsc or name in GSC
            ga4 = ga4 or name in GA4
        else:
            data = _encode(PLACEHOLDER_TEXT, "utf-8")
            m[name] = {"status": "placeholder", "note": "access_required_or_empty"}
        b.add(name, data)

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w", zipfile.ZIP_DEFLATED) as z:
        for n, d in b.entries.items():
            z.writestr(n, d)

    doc = {
        ("onsite", "keywords"): doc_keywords,
        ("onsite", "content", "pages_total"): pages_total,
        ("onsite", "errors"): errors,
        ("onsite", "cwv"): {k: ("missing" if v is None else v) for k, v in cwv.items()},
        ("backlinks", "ref_domains"): ref_domains,
        ("backlinks", "dr"): dr,
        ("local", "rank"): rank,
        ("local", "citations", "consistency"): consistency,
        ("local", "reviews", "avg_rating"): reviews["avg_rating"],
        ("local", "reviews", "count_total"): reviews["count_total"],
        ("local", "gbp", "photos_total"): photos_total,
        ("local", "gbp", "primary_category"): primary,
        ("local", "gbp", "secondary_categories"): secondary,
        ("provenance",): {
            **prov,
            "gsc": "present" if gsc else "missing",
            "ga4": "present" if ga4 else "missing",
            "leadsnap": "missing",
        },
    }
    scores = _expected_scores(doc_keywords, cwv, errors, pages_total, rank, consistency, reviews)
    case_id = f"s{seed}-c{client_idx}-r{round_idx}-{variant}"
    return AuditCase(
        case_id=case_id,
        variant=variant,
        client=f"Client {client_idx}-{round_idx}",
        domain=f"client{client_idx}-{round_idx}.example",
        run_date="2025-06-01",
        zip_bytes=zbuf.getvalue(),
        doc={"/".join(k): v for k, v in doc.items()},
        scores=scores,
        manifest=m,
    )


def _expected_scores(kw, cwv, errors, pages_total, rank, consistency, reviews) -> dict:
    """The reference's coverage-weighted OSS/LSS scores."""
    total_err = float(sum(errors.values()))
    rating = reviews["avg_rating"]
    raw = {
        "kw_top10": min((kw["top10"] or 0) / max(_nz(kw["top100"], 1.0), 1.0), 1.0),
        "cwv_pass": cwv["pass_rate"],
        "site_health": _clamp01(1.0 - (total_err / _nz(pages_total, 100.0)) / 0.5),
        "gsc_clicks": None,
        "indexed_valid": None,
        "avg_local_rank": _clamp01(1.0 - (_nz(rank["avg_pos"], 20.0) - 1) / 19),
        "pct_top3": rank["pct_top3"] or 0.0,
        "citations": consistency,
        "reviews": None if rating is None else _clamp01((rating - 3.5) / 1.5),
        "gbp_actions": None,
    }
    avail = {
        "kw_top10": kw["top10"] is not None,
        "site_health": True,
        "cwv_pass": cwv["pass_rate"] is not None,
        "gsc_clicks": False,
        "indexed_valid": False,
        "avg_local_rank": True,
        "pct_top3": rank["pct_top3"] is not None,
        "citations": consistency is not None,
        "reviews": rating is not None or reviews["count_total"] is not None,
        "gbp_actions": False,
    }
    out: dict = {}
    for fam, weights in (("oss", OSS_WEIGHTS), ("lss", LSS_WEIGHTS)):
        used = sum(w for c, w in weights.items() if avail[c] and raw[c] is not None)
        acc = sum(w * raw[c] for c, w in weights.items() if avail[c] and raw[c] is not None)
        total = sum(weights.values())
        out[fam] = _round_half_up(acc / used * 1000) / 10 if used else 0.0
        out[f"{fam}_coverage"] = _round_half_up(used / total, 2)
        out[f"{fam}_weight_used"] = used
        out[f"{fam}_weight_total"] = total
    out["components"] = {
        "oss": {"raw": {k: raw[k] for k in OSS_WEIGHTS}},
        "lss": {"raw": {k: raw[k] for k in LSS_WEIGHTS}},
    }
    return out


def _same(got, want, path: str, problems: list[str]) -> None:
    if isinstance(want, dict):
        if not isinstance(got, dict) or set(got) != set(want):
            problems.append(f"{path}: keys {sorted(got) if isinstance(got, dict) else got!r} != {sorted(want)}")
            return
        for k in want:
            _same(got[k], want[k], f"{path}/{k}", problems)
    elif isinstance(want, float) and isinstance(got, (int, float)) and not isinstance(got, bool):
        if not math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12):
            problems.append(f"{path}: {got!r} != {want!r}")
    elif got != want or (type(got) is bool) != (type(want) is bool):
        problems.append(f"{path}: {got!r} != {want!r}")


def _get(d: dict, path: str):
    for k in path.split("/"):
        d = d[k]
    return d


ARTIFACTS = ("OUTPUT.json", "etl_manifest.json", "normalized_audit.json", "scores.json")


def check_outputs(case: AuditCase, out_dir: Path) -> list[str]:
    """Compare the artifacts written for `case` with what it planted."""
    problems: list[str] = []
    try:
        files = {name: json.loads((out_dir / name).read_text()) for name in ARTIFACTS}
    except (OSError, ValueError) as e:
        return [f"artifacts unreadable: {e}"]
    index = files["OUTPUT.json"]
    if sorted(index.get("artifacts", [])) != sorted(a for a in ARTIFACTS if a != "OUTPUT.json"):
        problems.append(f"OUTPUT.json artifacts {index.get('artifacts')}")
    doc = files["normalized_audit.json"]
    if doc.get("meta") != {"client": case.client, "domain": case.domain, "run_date": case.run_date}:
        problems.append(f"meta {doc.get('meta')}")
    for path, want in case.doc.items():
        try:
            got = _get(doc, path)
        except (KeyError, TypeError):
            problems.append(f"{path}: absent")
            continue
        _same(got, want, path, problems)
    _same(files["scores.json"], case.scores, "scores", problems)
    manifest = files["etl_manifest.json"]
    want_m = {}
    for name, entry in case.manifest.items():
        entry = dict(entry)
        if "note" in entry and entry["note"] is ANY_NOTE:
            got_note = manifest.get(name, {}).get("note")
            if not isinstance(got_note, str) or not got_note:
                problems.append(f"manifest/{name}/note: {got_note!r}")
            entry["note"] = got_note
        want_m[name] = entry
    _same(manifest, want_m, "manifest", problems)
    return problems
