"""Coverage-weighted OSS/LSS scoring (SURVEY §3.3; reference
/root/reference/src/scoring.js:1-77).

Scoring is ONE Spark query. The driver puts the document's scalars and
the availability flags into one single-row local Arrow-backed frame
(`session.local_frame`, no Python worker). One projection over it
derives the raw components (the F5-F9 expression library — JS `||`-zero
semantics via nonzero_coalesce, clamps via clamp01) and scores each
family with the A13 formula (`coverage_terms` summed over the family's
components, then `coverage_weighted`); the raw components come back in
the same row. The expressions are built once per process.

A projection, not a group-by over long-format rows: an aggregate shuffles,
and under AQE a shuffle is one more Spark job per audit, while a
projection over a local relation is folded on the driver by Catalyst
(ConvertToLocalRelation) and runs no job. The same projection scores a
million-document table row by row, with no shuffle either.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.functions.coercion import clamp01, nonzero_coalesce
from seo_audit_etl_actor_spark.operators.aggregates import coverage_terms, coverage_weighted
from seo_audit_etl_actor_spark.session import local_frame

OSS_WEIGHTS = {
    "gsc_clicks": 30,
    "kw_top10": 20,
    "site_health": 20,
    "cwv_pass": 15,
    "indexed_valid": 15,
}
LSS_WEIGHTS = {
    "avg_local_rank": 40,
    "pct_top3": 25,
    "citations": 15,
    "reviews": 10,
    "gbp_actions": 10,
}
BAD_ERRORS_PER_PAGE = 0.5

_SCALARS = (
    "top10",
    "top100",
    "pass_rate",
    "total_err",
    "pages_total",
    "avg_pos",
    "pct_top3",
    "consistency",
    "avg_rating",
)
_FAMILIES = (("oss", OSS_WEIGHTS), ("lss", LSS_WEIGHTS))
_COMPONENTS = tuple(c for _, weights in _FAMILIES for c in weights)
_FRAME = T.StructType(
    [T.StructField(name, T.DoubleType(), True) for name in _SCALARS]
    + [T.StructField(f"avail_{c}", T.BooleanType(), False) for c in _COMPONENTS]
)


def _f(v) -> float | None:
    return None if v is None else float(v)


def _scalars(doc: dict) -> tuple[float | None, ...]:
    """The document values the components derive from, in `_SCALARS` order."""
    onsite, local = doc["onsite"], doc["local"]
    total_err = float(sum(v for v in onsite["errors"].values() if isinstance(v, int)))
    return (
        _f(onsite["keywords"]["top10"]),
        _f(onsite["keywords"]["top100"]),
        _f(onsite["cwv"]["pass_rate"]),
        total_err,
        _f(onsite["content"]["pages_total"]),
        _f(local["rank"]["avg_pos"]),
        _f(local["rank"]["pct_top3"]),
        _f(local["citations"]["consistency"]),
        _f(local["reviews"]["avg_rating"]),
    )


def _raw_components() -> dict[str, Column]:
    """Raw 0..1 component scores (src/scoring.js:16-36, 59-68) over the
    scalar columns; NULL for a component with no source."""
    # kw_top10 = min((top10 || 0) / max(top100 || 1, 1), 1)   (:18-20)
    kw = F.least(
        F.coalesce(F.col("top10"), F.lit(0.0))
        / F.greatest(nonzero_coalesce(F.col("top100"), 1.0), F.lit(1.0)),
        F.lit(1.0),
    )
    # site_health = clamp(1 - (totalErr / (pages || 100)) / 0.5)   (:26-33)
    epp = F.col("total_err") / nonzero_coalesce(F.col("pages_total"), 100.0)
    health = clamp01(F.lit(1.0) - epp / F.lit(BAD_ERRORS_PER_PAGE))
    # avg_local_rank = clamp(1 - ((avgPos || 20) - 1) / 19)   (:60-61)
    rank = clamp01(F.lit(1.0) - (nonzero_coalesce(F.col("avg_pos"), 20.0) - 1) / 19)
    # reviews = clamp((rating - 3.5) / 1.5), only when rating present  (:65-67)
    # explicit null gate: Spark's greatest/least skip nulls, so a bare
    # clamp01(null) would collapse to 0.0 — the reference keeps null
    reviews = F.when(
        F.col("avg_rating").isNotNull(), clamp01((F.col("avg_rating") - 3.5) / 1.5)
    )
    none = F.lit(None).cast("double")
    return {
        "kw_top10": kw,
        "cwv_pass": F.col("pass_rate"),
        "site_health": health,
        "gsc_clicks": none,
        "indexed_valid": none,
        "avg_local_rank": rank,
        "pct_top3": F.coalesce(F.col("pct_top3"), F.lit(0.0)),
        "citations": F.col("consistency"),
        "reviews": reviews,
        "gbp_actions": none,
    }


def _availability(doc: dict) -> dict[str, bool]:
    """Availability gates (src/scoring.js:7-13, 51-57); the reference's
    `!== "missing"` checks are `is not None` on the engine-typed doc."""
    onsite, local = doc["onsite"], doc["local"]
    return {
        "kw_top10": onsite["keywords"]["top10"] is not None,
        "site_health": True,
        "cwv_pass": onsite["cwv"]["pass_rate"] is not None,
        "gsc_clicks": False,
        "indexed_valid": False,
        "avg_local_rank": True,
        "pct_top3": local["rank"]["pct_top3"] is not None,
        "citations": local["citations"]["consistency"] is not None,
        "reviews": (
            local["reviews"]["avg_rating"] is not None
            or local["reviews"]["count_total"] is not None
        ),
        "gbp_actions": False,
    }


@functools.cache
def _score_columns() -> tuple[Column, ...]:
    """Per family a struct of the A13 results, plus the raw components;
    built once."""
    raw = _raw_components()
    families = []
    for family, weights in _FAMILIES:
        terms = [
            coverage_terms(F.lit(float(w)), raw[c], F.col(f"avail_{c}")) for c, w in weights.items()
        ]
        sums = [functools.reduce(operator.add, column) for column in zip(*terms)]
        families.append(F.struct(*coverage_weighted(*sums)).alias(family))
    return (*families, F.struct(*[raw[c].alias(c) for c in _COMPONENTS]).alias("raw"))


def compute_scores(spark: SparkSession, doc: dict) -> dict:
    """→ the reference's scores document (src/scoring.js:72-76)."""
    avail = _availability(doc)
    values = (*_scalars(doc), *(avail[c] for c in _COMPONENTS))
    frame = local_frame(spark, [[[v]] for v in values], _FRAME)
    row = frame.select(*_score_columns()).collect()[0]
    oss, lss, raw = row["oss"], row["lss"], row["raw"]
    return {
        "oss": oss["score"],
        "oss_coverage": oss["coverage"],
        "oss_weight_used": int(oss["weight_used"]),
        "oss_weight_total": int(oss["weight_total"]),
        "lss": lss["score"],
        "lss_coverage": lss["coverage"],
        "lss_weight_used": int(lss["weight_used"]),
        "lss_weight_total": int(lss["weight_total"]),
        "components": {
            "oss": {"raw": {k: raw[k] for k in OSS_WEIGHTS}},
            "lss": {"raw": {k: raw[k] for k in LSS_WEIGHTS}},
        },
    }
