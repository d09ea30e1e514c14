"""Registry contract: every query runs at sf0.001, entry() works, and every
oracle key has a matching query key (driver contract)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30


def test_driver_window_samples_every_module():
    """The external driver records CORRECTNESS rows for only the FIRST 50
    registry entries; the reorder in ``registry._ensure_loaded`` must keep
    every query module represented inside that window."""
    from hdx_metadata_crawler_spark.plans import registry

    registry._ensure_loaded()
    names = list(registry.REGISTRY)
    assert len(names) == len(set(names))
    first50_modules = {
        registry.REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in names[:50]
    }
    all_modules = {
        spec.fn.__module__.rsplit(".", 1)[-1] for spec in registry.REGISTRY.values()
    }
    assert first50_modules == all_modules
    # the must-sample block stays pinned at the very front
    assert names[: len(registry._PRIORITY_NAMES)] == registry._PRIORITY_NAMES
    # queries whose plan or oracle changed since their last driver row
    changed = {
        "classify_documents_full", "top15_candidates", "review_override_apply",
        "neardup_threshold_sweep", "exact_dedup_groups", "minhash_lsh_dedup",
        "ngram_jaccard_pairs", "doc_repetition_score", "tfidf_top_terms",
        "curation_funnel", "duplicate_passages",
    }
    assert changed <= set(names[:50])


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert "score_max" in df.columns and "confidence" in df.columns


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_small(spark, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF_SMALL)
    # schema resolves and the query executes end-to-end
    df.limit(3).collect()
    assert df.columns
