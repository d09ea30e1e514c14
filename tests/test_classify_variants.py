"""Classify has one implementation: the registered ``classify_documents_full``.

Its output is pinned here against its DuckDB oracle (``_full_oracle()``) on
the real sf0.001 documents, and ``bench.py`` is held to timing registered
queries only.
"""

from __future__ import annotations

import duckdb

import __spark_entry__ as m
from hdx_metadata_crawler_spark.plans.queries_text import (
    _full_oracle,
    classify_documents_full,
)
from hdx_metadata_crawler_spark.sources.tables import TABLE_NAMES

from conftest import SF_SMALL


def _norm(rows, cols):
    return sorted(tuple(str(r[c]) for c in sorted(cols)) for r in rows)


def test_registered_classify_matches_full_oracle(spark):
    df = classify_documents_full(spark, SF_SMALL)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    oracle = con.execute(_full_oracle()).fetchdf()
    cols = df.columns
    assert sorted(cols) == sorted(oracle.columns)
    spark_rows = _norm([r.asDict() for r in df.collect()], cols)
    assert len(spark_rows) == len(oracle)
    assert spark_rows == _norm(oracle.to_dict("records"), cols)


def test_full_is_registered_variants_are_not():
    qs = m.queries()
    assert [n for n in qs if n.startswith("classify")] == ["classify_documents_full"]


def test_bench_headline_names_are_registered():
    import bench

    qs = m.queries()
    assert [n for n in bench.HEADLINE if n not in qs] == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
