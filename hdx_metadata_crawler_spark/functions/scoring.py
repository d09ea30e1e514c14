"""Weighted keyword/tag scoring — the reference's classification core.

``04…ipynb:549-668 classify_dataset`` scores each record per risk component:
  score = Σ tag weights + 2 × (# distinct keyword-pattern hits)
          + org hints − 3 × exclusion-pattern hits   (floor 0)
then thresholds: ≥5 candidate, ≥7 high confidence, ≥4 medium, else low.

Here the whole cascade is a generated column-expression DAG — one ``select``,
zero shuffles (``plans/queries_text.classify_documents_full``).  Patterns are
baked into the plan as literals (the reference captures them in closures;
Catalyst constant-folds them).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def keyword_hit_count(text_col: Column, patterns: list[str]) -> Column:
    """# of patterns (distinct) that match — Σ int(rlike), codegen'd.

    Mirrors the reference's 'count each pattern once regardless of match
    count' semantics (04…ipynb classify_dataset step 2).
    """
    if not patterns:
        return F.lit(0)
    hits = [text_col.rlike(p).cast("int") for p in patterns]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def confidence_bucket(
    score_col: Column, high: int = 7, medium: int = 4
) -> Column:
    """Reference threshold ladder (04…ipynb:549, thresholds :288-289)."""
    return (
        F.when(score_col >= high, F.lit("high"))
        .when(score_col >= medium, F.lit("medium"))
        .otherwise(F.lit("low"))
    )


def composite_confidence(
    coverage: Column, richness: Column, schema: Column, metadata: Column
) -> Column:
    """NB13 composite score: .40·coverage + .25·richness + .20·schema +
    .15·metadata (13…ipynb:949 compute_composite_confidence).  Returned
    UNROUNDED — tiering (tier_of) must see the exact value and display
    precision is the caller's choice (composite_scoring rounds to 4 dp)."""
    return coverage * 0.40 + richness * 0.25 + schema * 0.20 + metadata * 0.15


def tier_of(score: Column, high: float = 0.8, medium: float = 0.5) -> Column:
    """Tier thresholds .8/.5 (13…ipynb:149)."""
    return (
        F.when(score >= high, F.lit("high"))
        .when(score >= medium, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
