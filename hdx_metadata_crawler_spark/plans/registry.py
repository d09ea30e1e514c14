"""Query registry: every implemented SURVEY.md §2 operator as a
(Spark callable, DuckDB oracle SQL) pair.

Conventions (driver contract, see /root/repo/__spark_entry__.py):
- callables take ``(spark, sf_dir)`` and return a DataFrame;
- every computed column is aliased identically in Spark and oracle SQL;
- float aggregates are rounded (2-4 dp) in BOTH engines so the value-hash
  comparison is robust to summation-order differences;
- timestamps are emitted as formatted strings in BOTH engines;
- top-k queries carry a TOTAL deterministic ORDER BY (tie-broken by key) so
  LIMIT contents agree.

``oracle=None`` would record a rows-only driver check, but as of round 3
every registered query is oracle-backed (the xxhash64 sketches were
converted to portable md5 oracles; the iterative k-means re-runs as chained
SQL CTEs); the crawl frontier itself is verified by simulator-parity tests
rather than the registry.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


_LOADED = False


# The external driver samples only the FIRST 50 registry entries (dict
# iteration order) for its CORRECTNESS report.  Plain import order would
# fill that window with core/text/dedup alone, leaving whole families
# (blocks, spans, streaming, quality, integration, multimodal) invisible.
# We therefore (a) seat the must-sample block below at the front, then
# (b) one query from every module not yet represented, then (c) the
# flagship block, then (d) round-robin the rest one-per-module.
#
# Must-sample rule: seat every query whose plan or oracle changed since its
# last driver CORRECTNESS row.  A query leaves this list once the driver
# has recorded a green row for its current plan and oracle.
_PRIORITY_NAMES = [
    # classify has one body (the zero-shuffle cascade, NULL text == ''),
    # and its consumers read it
    "classify_documents_full",
    "top15_candidates",
    "review_override_apply",
    "pipeline_funnel",
    # oracle gates on the 4-dp cosine, as the kernel does
    "neardup_threshold_sweep",
    # plan rewrites with no driver row since
    "exact_dedup_groups",
    "minhash_lsh_dedup",
    "ngram_jaccard_pairs",
    "doc_repetition_score",
    "tfidf_top_terms",
    "curation_funnel",
    "duplicate_passages",
]

# Flagship per-family block (families that would otherwise land past slot
# 50 under plain import order).  Seated AFTER the one-per-module samples:
# when the must-sample block grows, it is these — not the module coverage
# guarantee — that spill past the 50-slot window.
_FLAGSHIP_NAMES = [
    # blocks (RDLS assembly pipeline)
    "exposure_block_assembly",
    "loss_block_assembly",
    "translate_records",
    "full_schema_validation",
    "pipeline_funnel",
    # spans (interleaved text+media surface)
    "span_reassembly",
    "media_ref_dedup",
    "stream_media_firstseen",
    "stream_span_ingest",
    # streaming
    "stream_hourly_rollup",
    "stream_stateful_dedup",
    "session_windows",
    # quality
    "jsonschema_validation",
    "validate_records",
    "dup_titles",
    # integration
    "integrate_records",
    # multimodal
    "media_features",
    # dedup ladder (clusters + keep list + consensus + ingestion-time)
    "neardup_components",
    "dedup_keep_list",
    "neardup_consensus",
    "incremental_dedup",
    "benchmark_decontamination",
    "corpus_mix_sample",
    "sequence_packing",
    # curation (chained keep/drop pipeline + PII + export planning)
    "curation_funnel",
    "pii_redaction",
    "shard_manifest",
    "bpe_merge_candidates",
    "tfidf_top_terms",
    "embedding_norm_stats",
]


def _reorder_for_driver_window() -> None:
    """Rebuild REGISTRY so any 50-entry prefix samples every query module.

    Order: (1) the must-sample block (queries whose plan or oracle changed
    since their last driver row), (2) ONE query from every module not
    already represented — this is what keeps the guarantee as the
    must-sample list grows toward the window size, (3) the flagship
    per-family block, (4) the remainder round-robined one-per-module."""
    from collections import defaultdict

    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY_NAMES:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    represented = {spec.fn.__module__ for spec in ordered.values()}
    by_module: dict[str, list[tuple[str, QuerySpec]]] = defaultdict(list)
    for name, spec in REGISTRY.items():
        if name not in ordered and name not in _FLAGSHIP_NAMES:
            by_module[spec.fn.__module__].append((name, spec))
    for m in sorted(by_module):
        if m not in represented and by_module[m]:
            name, spec = by_module[m].pop(0)
            ordered[name] = spec
    for name in _FLAGSHIP_NAMES:
        if name in REGISTRY and name not in ordered:
            ordered[name] = REGISTRY[name]
    queues = [by_module[m] for m in sorted(by_module) if by_module[m]]
    while queues:
        for q in queues:
            name, spec = q.pop(0)
            ordered[name] = spec
        queues = [q for q in queues if q]
    REGISTRY.clear()
    REGISTRY.update(ordered)


def _ensure_loaded() -> None:
    """Import all query-defining modules exactly once (they self-register)."""
    global _LOADED
    if _LOADED:
        return
    from . import queries_core  # noqa: F401
    from . import queries_text  # noqa: F401
    from . import queries_dedup  # noqa: F401
    from . import queries_similarity  # noqa: F401
    from . import queries_crawl  # noqa: F401
    from . import queries_extractors  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_multimodal  # noqa: F401
    from . import queries_quality  # noqa: F401
    from . import queries_integration  # noqa: F401
    from . import queries_blocks  # noqa: F401
    from . import queries_spans  # noqa: F401
    from . import queries_curation  # noqa: F401
    _reorder_for_driver_window()
    _LOADED = True
