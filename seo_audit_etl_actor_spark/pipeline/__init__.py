"""The SEO-audit ETL pipeline: fuzzy schema resolution, per-source stanzas
sharing one Spark aggregation per audit, the nested output document, coverage-
weighted scoring, provenance manifest, and the reference-compatible JSON
serializer (SURVEY §3.2, §7.1 steps 5-6)."""
