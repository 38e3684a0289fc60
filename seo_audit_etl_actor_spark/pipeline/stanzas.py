"""Per-source stanzas (SURVEY §3.2, §3.4): every CSV stanza of one audit
aggregates over ONE audit frame, in ONE Spark query.

A CSV stanza has three parts:

- a driver-side column pick: `pick_col` over the parsed header, resolved
  to a header *position* (so `Status` and `status` stay two columns);
- conditional aggregate Columns over fixed slot names, built once per
  shape — the stanza plus which of its inputs the header had — and
  memoised; each is conditioned on the stanza's tag, so it reads only
  its own rows;
- an `apply(values, rows, doc)` step that writes the results.

`aggregate_audit` does the rest: it builds one Arrow-backed frame per
audit (`audit_frame`: a `__stanza` tag, the ingest-order `__row_id` and
the picked cells, handed over column by column), projects each numeric
slot through `to_num_js` once, runs one `agg().collect()` and applies
the results in reference order, so the errors.* `+=` accumulation (A11)
and the pages_total `??` coalesce (A12) see the reference's order.

The frame has one partition per `session.ROWS_PER_PARTITION` rows, at
most `defaultParallelism`. A small audit's frame is one partition, so
the aggregate needs no shuffle and the audit is one Spark job of one
task; a large export spreads over the cores, and map-side partial
aggregation keeps the query one pass over the frame.

Citations are `file:line` into /root/reference/.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.functions.coercion import to_num_js
from seo_audit_etl_actor_spark.operators.aggregates import (
    collect_sorted,
    conditional_count,
)
from seo_audit_etl_actor_spark.pipeline.resolve import pick_col
from seo_audit_etl_actor_spark.session import local_frame
from seo_audit_etl_actor_spark.sources.csv_smart import ParsedCsv

TAG = "__stanza"
ROW_ID = "__row_id"


def _cell(i: int) -> Column:
    """Slot i of the audit frame: a picked cell, as parsed (a string)."""
    return F.col(f"__c{i}")


def _num(i: int) -> Column:
    """Slot i through `to_num_js`, projected once (`_numeric_slots`)."""
    return F.col(f"__n{i}")


def _fuzzy(*candidates: str) -> Callable[[list[str]], int | None]:
    return lambda header: pick_col(header, list(candidates))


def _exact(key: str) -> Callable[[list[str]], int | None]:
    """Exact key, no fuzzy match (src/etl.js:400-421)."""
    return lambda header: header.index(key) if key in header else None


@dataclass(frozen=True)
class _Stanza:
    """One CSV stanza. `picks` resolve its inputs (slot i ← picks[i]) to
    header positions; `numeric` holds the slots read through `to_num_js`;
    `aggregates(mine, has)` builds the named aggregates for a shape (`mine`
    selects the stanza's rows, `has[i]` says whether input i was found),
    none when the shape has nothing to aggregate; `apply(values, rows, doc)`
    writes them, given the entry's row count."""

    picks: tuple[Callable[[list[str]], int | None], ...]
    numeric: frozenset[int]
    aggregates: Callable[[Column, tuple[bool, ...]], dict[str, Column]]
    apply: Callable[[dict, int, dict], None]


# ---------------------------------------------------------------- Ahrefs


def _keywords_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """Position buckets top3/top10/top100 (src/etl.js:115-151, A3/P3/P6)."""
    if not has[0]:
        return {}  # warning path: no position column (src/etl.js:142-144)
    pos = _num(0)
    valid = mine & pos.isNotNull() & (pos > 0)
    return {
        "n": conditional_count(valid),
        "top3": conditional_count(valid & (pos <= 3)),
        "top10": conditional_count(valid & (pos <= 10)),
        "top100": conditional_count(valid & (pos <= 100)),
    }


def _keywords_apply(v: dict, rows: int, doc: dict) -> None:
    if v and v["n"] > 0:
        kw = doc["onsite"]["keywords"]
        kw["top3"], kw["top10"], kw["top100"] = v["top3"], v["top10"], v["top100"]


def _top_pages_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """pages_total = distinct URLs (A2, src/etl.js:153-165). A set, not
    countDistinct: a distinct aggregate adds a shuffle by the URL, one
    more job for every audit."""
    return {"urls": F.size(F.collect_set(F.when(mine, _cell(0))))} if has[0] else {}


def _top_pages_apply(v: dict, rows: int, doc: dict) -> None:
    content = doc["onsite"]["content"]
    if content["pages_total"] is None:  # ?? coalesce: first source wins (src/etl.js:159-161)
        content["pages_total"] = v["urls"] if v else rows


def _backlinks_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """dr = mean Domain Rating (A4, src/etl.js:168-181)."""
    return {"dr": F.avg(F.when(mine, _num(0)))} if has[0] else {}


def _backlinks_apply(v: dict, rows: int, doc: dict) -> None:
    """ref_domains = row count (A1)."""
    doc["backlinks"]["ref_domains"] = rows
    if v and v["dr"] is not None:
        doc["backlinks"]["dr"] = v["dr"]


# issue-category → inner CSV files (src/etl.js:188-196)
SITE_AUDIT_ISSUES = {
    "4xx": ["Error-4XX_page.csv", "Error-404_page.csv"],
    "5xx": ["Error-5XX_page.csv"],
    "redirect_chains": ["Error-Redirect_chain.csv", "Warning-3XX_redirect.csv"],
    "canonical": [
        "Error-indexable-Canonical_chain.csv",
        "Warning-Canonical_to_redirected_URL.csv",
    ],
    "duplicate_titles": ["Warning-indexable-Title_tag_duplicate.csv"],
    "thin": ["Warning-indexable-Content_thin.csv"],
    "orphan_pages": ["Error-indexable-Orphan_page.csv"],
}


def site_audit_issue_counts(inner_row_counts: dict[str, int], doc: dict) -> None:
    """Accumulate inner-CSV row counts into errors.* (A11,
    src/etl.js:197-205). Counting happens where the CSVs were parsed; this
    applies the += accumulation."""
    for key, files in SITE_AUDIT_ISSUES.items():
        doc["onsite"]["errors"][key] += sum(inner_row_counts.get(f, 0) for f in files)


# --------------------------------------------------------- Screaming Frog


def _sf_internal_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """Status-code range counts (P5, src/etl.js:216-230)."""
    if not has[0]:
        return {}
    sc = _num(0)
    return {
        "c4": conditional_count(mine & (sc >= 400) & (sc < 500)),
        "c5": conditional_count(mine & (sc >= 500)),
    }


def _sf_internal_apply(v: dict, rows: int, doc: dict) -> None:
    """errors += (A11) and the pages_total fallback (A12)."""
    if v:
        doc["onsite"]["errors"]["4xx"] += v["c4"]
        doc["onsite"]["errors"]["5xx"] += v["c5"]
    if doc["onsite"]["content"]["pages_total"] is None:
        doc["onsite"]["content"]["pages_total"] = rows


def sf_structured_data(doc: dict) -> str:
    """Summary export detected → all schema booleans false + note
    (src/etl.js:234-250)."""
    for k in doc["onsite"]["schema"]:
        doc["onsite"]["schema"][k] = False
    return (
        "Structured data summary detected. For per-type booleans, export "
        "Reports → Structured Data → Extracted Structured Data."
    )


def lighthouse_rollup(metrics: list[dict], doc: dict) -> None:
    """p75 (lower-nearest-rank, A8) per CWV metric + pass rate (P11) over
    the extracted per-URL metric dicts (src/etl.js:282-304).

    Three fixed URLs → driver arithmetic; the corpus-scale equivalent is
    operators.aggregates.percentile_nearest_rank over a metrics table.
    """

    def p75(vals: list[float]):
        xs = sorted(v for v in vals if v is not None)
        if not xs:
            return None
        return xs[int(0.75 * (len(xs) - 1))]

    cwv = doc["onsite"]["cwv"]
    cwv["lcp_p75"] = p75([m["lcp_ms"] for m in metrics])
    cwv["cls_p75"] = p75([m["cls"] for m in metrics])
    cwv["inp_p75"] = p75([m["inp_ms"] for m in metrics])
    passed = total = 0
    for m in metrics:
        if m["lcp_ms"] is None or m["cls"] is None or m["inp_ms"] is None:
            continue
        total += 1
        if m["lcp_ms"] <= 2500 and m["cls"] <= 0.1 and m["inp_ms"] <= 200:
            passed += 1
    cwv["pass_rate"] = passed / total if total else None


# ------------------------------------------------------------ BrightLocal


def _ranks_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """avg_pos (rounded 0.1), pct_top3, keywords_tracked (A4/A7,
    src/etl.js:307-328)."""
    if not has[0]:
        return {}
    pos = _num(0)
    valid = mine & pos.isNotNull() & (pos > 0)
    return {
        "n": conditional_count(valid),
        "avg_pos": F.round(F.avg(F.when(valid, pos)) * 10) / 10,
        "t3": conditional_count(valid & (pos <= 3)),
    }


def _ranks_apply(v: dict, rows: int, doc: dict) -> None:
    if not v:
        return
    rank = doc["local"]["rank"]
    if v["n"] > 0:
        rank["avg_pos"] = v["avg_pos"]
        rank["pct_top3"] = v["t3"] / v["n"]
        rank["keywords_tracked"] = v["n"]
    else:
        rank["keywords_tracked"] = rows


def _citations_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """Liveness-proxy consistency ratio (P9/A7, src/etl.js:332-366);
    slots: Status, General Status, Citation Link.

    Bug-for-bug parity on ragged rows: the reference's `String(r[col])`
    turns a MISSING cell (row shorter than header) into the truthy string
    'undefined' (src/etl.js:345-347), so such rows count toward `total` and
    — via `link.length > 0` — toward `good`. csv_smart preserves the
    distinction (missing cell → NULL, empty cell → ''), so NULL coalesces to
    'undefined' here, exactly mirroring the JS. An input the header lacks
    reads as ''.
    """
    if not any(has):
        return {}  # nothing is ever counted

    def text(i: int) -> Column:
        return F.coalesce(_cell(i), F.lit("undefined")) if has[i] else F.lit("")

    s, gs, link = F.lower(text(0)), F.lower(text(1)), F.trim(text(2))
    live_pat = "(live|present|ok)"
    looks_live = s.rlike(live_pat) | gs.rlike(live_pat) | (F.length(link) > 0)
    counted = mine & ((s != "") | (gs != "") | (link != ""))
    return {
        "total": conditional_count(counted),
        "good": conditional_count(counted & looks_live),
    }


def _citations_apply(v: dict, rows: int, doc: dict) -> None:
    if v and v["total"] > 0:
        doc["local"]["citations"]["consistency"] = v["good"] / v["total"]


_GBP_INSIGHTS = ("count_total", "avg_rating", "photos_total")


def _gbp_insights_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """max-of-coerced public listing metrics (A5 maxNum,
    src/etl.js:382-397); slots: review count, rating, photos."""
    return {k: F.max(F.when(mine, _num(i))) for i, k in enumerate(_GBP_INSIGHTS) if has[i]}


def _gbp_insights_apply(v: dict, rows: int, doc: dict) -> None:
    local = doc["local"]
    for key, block in zip(_GBP_INSIGHTS, (local["reviews"], local["reviews"], local["gbp"])):
        if key in v:
            block[key] = v[key]


def _gbp_categories_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """First primary category + ordered secondary list (A9/A10 with the H2
    ingest-order discipline, src/etl.js:400-412); slots: category_type,
    category_name."""
    if not all(has):
        return {}
    ctype = F.lower(F.coalesce(_cell(0), F.lit("")))
    name = _cell(1)
    truthy = mine & name.isNotNull() & (name != "")

    def picked(kind: str) -> Column:
        return collect_sorted(F.when(truthy & (ctype == kind), name), F.col(ROW_ID))

    return {"prim": picked("primary"), "sec": picked("secondary")}


def _gbp_categories_apply(v: dict, rows: int, doc: dict) -> None:
    gbp = doc["local"]["gbp"]
    gbp["primary_category"] = v["prim"][0] if v and v["prim"] else None
    gbp["secondary_categories"] = list(v["sec"]) if v else []


def _gbp_photos_aggs(mine: Column, has: tuple[bool, ...]) -> dict[str, Column]:
    """photos_total from the first `photo_type == 'total'` row (P8/A9,
    src/etl.js:414-421); slots: photo_type, count. The struct keeps a
    NaN count (NULL) of a matching row apart from no matching row."""
    if not all(has):
        return {}
    total = mine & (F.lower(F.coalesce(_cell(0), F.lit(""))) == "total")
    return {"hits": collect_sorted(F.when(total, F.struct(_num(1).alias("n"))), F.col(ROW_ID))}


def _gbp_photos_apply(v: dict, rows: int, doc: dict) -> None:
    if v and v["hits"]:
        doc["local"]["gbp"]["photos_total"] = v["hits"][0]["n"]


STANZAS: dict[str, _Stanza] = {
    "ahrefs_keywords": _Stanza(
        (_fuzzy("Current position", "Previous position"),),
        frozenset({0}),
        _keywords_aggs,
        _keywords_apply,
    ),
    "ahrefs_top_pages": _Stanza(
        (_fuzzy("Current URL", "url", "page url", "address"),),
        frozenset(),
        _top_pages_aggs,
        _top_pages_apply,
    ),
    "ahrefs_backlinks": _Stanza(
        (_fuzzy("dr", "domain rating"),), frozenset({0}), _backlinks_aggs, _backlinks_apply
    ),
    "sf_internal": _Stanza(
        (_fuzzy("status code", "status"),), frozenset({0}), _sf_internal_aggs, _sf_internal_apply
    ),
    "brightlocal_ranks": _Stanza(
        (_fuzzy("position", "rank", "serp position", "pos"),),
        frozenset({0}),
        _ranks_aggs,
        _ranks_apply,
    ),
    "brightlocal_citations": _Stanza(
        (_fuzzy("Status"), _fuzzy("General Status"), _fuzzy("Citation Link")),
        frozenset(),
        _citations_aggs,
        _citations_apply,
    ),
    "brightlocal_gbp_insights": _Stanza(
        (
            _fuzzy("review count", "reviews", "reviews_total"),
            _fuzzy("star rating", "rating", "reviews_average_rating"),
            _fuzzy("photos", "photos_total"),
        ),
        frozenset({0, 1, 2}),
        _gbp_insights_aggs,
        _gbp_insights_apply,
    ),
    "gbp_categories": _Stanza(
        (_exact("category_type"), _exact("category_name")),
        frozenset(),
        _gbp_categories_aggs,
        _gbp_categories_apply,
    ),
    "gbp_photos": _Stanza(
        (_exact("photo_type"), _exact("count")),
        frozenset({1}),
        _gbp_photos_aggs,
        _gbp_photos_apply,
    ),
}


@functools.cache
def _aggregates(name: str, has: tuple[bool, ...]) -> tuple[tuple[str, Column], ...]:
    """A stanza's named aggregates for one shape, built once."""
    mine = F.col(TAG) == F.lit(name)
    return tuple(
        (k, c.alias(f"{name}.{k}")) for k, c in STANZAS[name].aggregates(mine, has).items()
    )


@functools.cache
def _numeric_slots(width: int) -> tuple[Column, ...]:
    """`__n{i}` = `to_num_js(__c{i})` on the rows of the stanzas that read
    slot i as a number, NULL elsewhere. Projected once below the aggregate:
    inlined, the coercion would be evaluated again at every reference."""
    return tuple(
        F.when(
            F.col(TAG).isin(*[n for n, s in STANZAS.items() if i in s.numeric]),
            to_num_js(_cell(i)),
        ).alias(f"__n{i}")
        for i in range(width)
    )


def audit_frame(
    spark: SparkSession, parts: Sequence[tuple[str, ParsedCsv, Sequence[int | None]]]
) -> DataFrame:
    """One Arrow-backed frame (`session.local_frame`, a `LocalTableScan`)
    for the `(tag, parsed, positions)` parts of an audit: each parsed row
    becomes a row of the `__stanza` tag, its ingest-order `__row_id` within
    the entry (H2: deterministic first/collect need an explicit order
    column) and one string slot `__c{i}` per position. A missing cell
    stays NULL, an empty one stays '', and a None position (an input the
    header lacks) or a slot past a part's positions reads NULL.

    Built column by column: per part, one Arrow array per column straight
    from the parsed rows, chunked by part; no row tuple is built."""
    import pyarrow as pa

    width = max((len(positions) for _, _, positions in parts), default=0)
    schema = T.StructType(
        [T.StructField(TAG, T.StringType(), False), T.StructField(ROW_ID, T.LongType(), False)]
        + [T.StructField(f"__c{i}", T.StringType(), True) for i in range(width)]
    )
    columns: list[list] = [[] for _ in range(2 + width)]
    for tag, parsed, positions in parts:
        rows, n = parsed.rows, len(parsed.rows)
        columns[0].append(pa.repeat(pa.scalar(tag, pa.string()), n))
        columns[1].append(pa.array(range(n), pa.int64()))
        picked = [*positions, *[None] * (width - len(positions))]
        for column, p in zip(columns[2:], picked):
            column.append(
                pa.nulls(n, pa.string())
                if p is None
                else pa.array(map(operator.itemgetter(p), rows), pa.string(), size=n)
            )
    return local_frame(spark, columns, schema)


def aggregate_audit(
    spark: SparkSession, entries: Sequence[tuple[str, ParsedCsv]], doc: dict
) -> None:
    """Run the CSV stanzas of one audit — `(stanza name, parsed entry)`
    pairs in reference order — as one Spark aggregation, then apply each
    stanza's results to `doc` in that order. An entry whose shape has
    nothing to aggregate adds no rows; with no aggregate at all, no Spark
    job runs."""
    parts, aggs, applies = [], [], []
    for name, parsed in entries:
        stanza = STANZAS[name]
        positions = tuple(pick(parsed.header) for pick in stanza.picks)
        named = _aggregates(name, tuple(p is not None for p in positions))
        if named:
            parts.append((name, parsed, positions))
            aggs.extend(c for _, c in named)
        applies.append((stanza.apply, [k for k, _ in named], len(parsed.rows)))
    values = iter(())
    if aggs:
        width = max(len(positions) for _, _, positions in parts)
        frame = audit_frame(spark, parts).select("*", *_numeric_slots(width))
        values = iter(frame.agg(*aggs).collect()[0])
    for apply, keys, rows in applies:
        apply({k: next(values) for k in keys}, rows, doc)
