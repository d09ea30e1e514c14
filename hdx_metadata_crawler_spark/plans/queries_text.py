"""Text-pipeline queries: classification scoring, text analysis, scalar funcs.

`classify_documents_full` is the flagship (SURVEY §7.2 minimum end-to-end
slice): the whole ``04…ipynb:549-668 classify_dataset`` cascade — tag
weights, keyword hits, org hints, exclusions → components, confidence
bucket, candidate flag — as one generated ``select`` over one scan (zero
shuffles, zero joins).  `top15_candidates`, `review_override_apply` and
`queries_blocks.pipeline_funnel` read its output and embed its DuckDB
oracle, `_full_oracle()`.

The text-analysis queries (lang-id, quality score, token stats, fingerprint)
are the training-data-pipeline surface the 100 TB engine needs beyond the
reference; all stay JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scoring import confidence_bucket, keyword_hit_count
from ..functions.text import normalize_title, slugify, tokenize
from ..sources.tables import load_table
from .registry import register

# Component keyword vocabularies over the synthetic corpus — same structure as
# the reference's signal dictionary sections (config/signal_dictionary.yaml).
COMPONENT_PATTERNS: dict[str, list[str]] = {
    "query": [r"join", r"filter", r"window", r"group", r"sort"],
    "storage": [r"table", r"scan", r"row", r"column", r"part"],
    "stream": [r"stream", r"batch", r"watermark", r"event"],
}
EXCLUSION_PATTERNS: list[str] = [r"slow"]


def _oracle_hits(patterns: list[str]) -> str:
    return " + ".join(
        f"(CASE WHEN regexp_matches(text, '{p}') THEN 1 ELSE 0 END)" for p in patterns
    )


# ---------------------------------------------------------------------------
# A2 FULL — the complete classify_dataset scoring cascade (04…ipynb:549-668):
#   score[comp] = Σ tag weights            (step 1, tag_to_rdls_component.yaml)
#               + 2 × # keyword-pattern hits (step 2, KEYWORD_HIT_WEIGHT=2)
#               + Σ org hints              (step 3, org_hints.yaml substring)
#               − 3 × exclusion hits, floor 0 (step 4)
#   components: all >= 5, else fallback [best] if any signal (:626);
#   candidate >= 5; confidence >= 7 high / >= 4 medium (:288-289).
# The 'tags' of a synthetic document are its distinct tokens (the reference
# matches lowercased tag names against the weight dict — same shape); the
# 'organization' is the source column, matched by substring like org_hints.
# ---------------------------------------------------------------------------

_COMPONENTS = ("query", "storage", "stream")

# (component, tag, weight) — mirrors tag_to_rdls_component.yaml (weights 2-5;
# a tag may carry weight under more than one component, as in the reference).
TAG_WEIGHTS: list[tuple[str, str, int]] = [
    ("query", "join", 5), ("query", "filter", 4), ("query", "sort", 3),
    ("query", "group", 3), ("query", "window", 2),
    ("storage", "table", 5), ("storage", "scan", 4), ("storage", "column", 3),
    ("storage", "row", 3), ("storage", "part", 2),
    ("stream", "stream", 5), ("stream", "batch", 4), ("stream", "window", 3),
    ("stream", "merge", 2),
]

# (org_substr, component, weight) — mirrors org_hints.yaml ('hint in org').
ORG_HINTS: list[tuple[str, str, int]] = [
    ("src1", "stream", 3),   # substring: matches src1 and src10..src19
    ("rc2", "storage", 2),
    ("src19", "query", 4),
]


def _full_oracle() -> str:
    tw_vals = ", ".join(f"('{c}', '{t}', {w})" for c, t, w in TAG_WEIGHTS)
    oh_vals = ", ".join(f"('{s}', '{c}', {w})" for s, c, w in ORG_HINTS)
    excl = _oracle_hits(EXCLUSION_PATTERNS)
    # CAST(sum() AS BIGINT): DuckDB integer sums are HUGEINT, and the driver
    # hashes types — the exact class of the round-1 tier_matrix red row.
    score_exprs = ",\n         ".join(
        f"CAST(greatest(0, coalesce(t.tag_{c}, 0)"
        f" + 2 * ({_oracle_hits(COMPONENT_PATTERNS[c])})"
        f" + coalesce(o.org_{c}, 0) - 3 * ({excl})) AS BIGINT) AS score_{c}"
        for c in _COMPONENTS
    )
    tag_aggs = ", ".join(
        f"CAST(sum(CASE WHEN component = '{c}' THEN weight ELSE 0 END) AS BIGINT)"
        f" AS tag_{c}"
        for c in _COMPONENTS
    )
    org_aggs = ", ".join(
        f"CAST(sum(CASE WHEN h.component = '{c}' THEN h.weight ELSE 0 END) AS BIGINT)"
        f" AS org_{c}"
        for c in _COMPONENTS
    )
    comp_cases = ", ".join(
        f"CASE WHEN score_{c} >= 5 THEN '{c}' END" for c in _COMPONENTS
    )
    return f"""
    WITH tag_weights(component, tag, weight) AS (VALUES {tw_vals}),
    org_hints(org_substr, component, weight) AS (VALUES {oh_vals}),
    docs AS (
      SELECT doc_id, source, coalesce(text, '') AS text FROM documents),
    toks AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))) AS tag
      FROM docs),
    tag_scores AS (
      SELECT doc_id, {tag_aggs}
      FROM toks JOIN tag_weights USING (tag) GROUP BY doc_id),
    org_scores AS (
      SELECT d.doc_id, {org_aggs}
      FROM docs d JOIN org_hints h ON contains(d.source, h.org_substr)
      GROUP BY d.doc_id),
    scored AS (
      SELECT d.doc_id,
         {score_exprs}
      FROM docs d
      LEFT JOIN tag_scores t USING (doc_id)
      LEFT JOIN org_scores o USING (doc_id)),
    final AS (
      SELECT *,
             greatest(score_query, score_storage, score_stream) AS score_max,
             coalesce(concat_ws(',', {comp_cases}), '') AS comp0
      FROM scored)
    SELECT doc_id, score_query, score_storage, score_stream, score_max,
           CASE WHEN comp0 = '' AND score_max > 0 THEN
                  (CASE WHEN score_query = score_max THEN 'query'
                        WHEN score_storage = score_max THEN 'storage'
                        ELSE 'stream' END)
                ELSE comp0 END AS components,
           (score_max >= 5) AS is_candidate,
           CASE WHEN score_max >= 7 THEN 'high'
                WHEN score_max >= 4 THEN 'medium'
                ELSE 'low' END AS confidence
    FROM final
    """


@register(
    "classify_documents_full",
    _full_oracle(),
    doc="FULL A2 scoring cascade (04…ipynb:549-668 classify_dataset, all four "
        "steps) as one projection over one scan: tag weights summed with "
        "aggregate() over the distinct-token array against a literal "
        "tag->weight map; keyword hits as generated rlike columns; org "
        "hints as a when-chain over the substring predicates; exclusions "
        "-3 floored at 0 (P11); components >= 5 with single-best fallback "
        "(:626); thresholds 5/7/4.  NULL text scores as empty text.  Zero "
        "exchanges, zero joins.",
)
def classify_documents_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.array_distinct(tokenize(text))

    # Catalyst folds the literal maps, so the tag step needs no explode,
    # join or shuffle while the weight table fits an expression (the
    # reference's has ~40 tags).
    def tag_score(comp: str):
        m = F.create_map(
            *[F.lit(v) for c, t, w in TAG_WEIGHTS if c == comp for v in (t, w)]
        )
        return F.aggregate(
            toks, F.lit(0), lambda acc, tok: acc + F.coalesce(m[tok], F.lit(0))
        )

    def org_score(comp: str):
        out = F.lit(0)
        for s, c, w in ORG_HINTS:
            if c == comp:
                out = out + F.when(F.col("source").contains(s), w).otherwise(0)
        return out

    excl = keyword_hit_count(text, EXCLUSION_PATTERNS)
    scored = d.select(
        "doc_id",
        *[
            F.greatest(
                F.lit(0),
                tag_score(c)
                + F.lit(2) * keyword_hit_count(text, COMPONENT_PATTERNS[c])
                + org_score(c)
                - F.lit(3) * excl,
            )
            .cast("long")  # the oracle's BIGINT
            .alias(f"score_{c}")
            for c in _COMPONENTS
        ],
    ).withColumn("score_max", F.greatest(*[F.col(f"score_{c}") for c in _COMPONENTS]))
    comp0 = F.concat_ws(
        ",", *[F.when(F.col(f"score_{c}") >= 5, F.lit(c)) for c in _COMPONENTS]
    )
    fallback = (
        F.when(F.col("score_query") == F.col("score_max"), "query")
        .when(F.col("score_storage") == F.col("score_max"), "storage")
        .otherwise("stream")
    )
    return scored.select(
        "doc_id", "score_query", "score_storage", "score_stream", "score_max",
        F.when((comp0 == "") & (F.col("score_max") > 0), fallback)
        .otherwise(comp0)
        .alias("components"),
        (F.col("score_max") >= 5).alias("is_candidate"),
        confidence_bucket(F.col("score_max")).alias("confidence"),
    )


# ---------------------------------------------------------------------------
# J9/NB05 — review-override APPLY (05…ipynb:645 load_overrides + cell-5-1
# apply loop, component normalization cell-5-2, OSM-revert guard :771).
# Round 1 had only the join shapes; this is the decision-apply semantics:
#   exclude  -> excluded_by_override (never cleared by anything)
#   keep     -> rdls_candidate := true, components replaced when provided
#   final_excluded = excluded_by_policy OR excluded_by_override
#   normalization (M5): a 'stream' component without 'query'/'storage'
#     context auto-adds 'storage' (mirror of vulnerability_proxy/loss_impact
#     requiring hazard/exposure -> auto-add exposure)
#   OSM guard: a keep-override on a policy-excluded id is reverted.
# ---------------------------------------------------------------------------

# (doc_id, decision, components) — the overrides.yaml-shaped literal table.
OVERRIDES: list[tuple[int, str, str | None]] = [
    (7, "exclude", None),
    (11, "keep", "stream"),
    (13, "keep", None),
    (19, "keep", "query,storage"),
    (23, "keep", None),     # policy-excluded (23 % 23 == 0): guard reverts it
    (29, "exclude", "query"),
]

_POLICY_MOD = 23  # excluded_by_policy <=> doc_id % 23 == 0 (P5's policy set)


def _override_oracle() -> str:
    vals = ", ".join(
        f"({i}, '{d}', {repr(c) if c is not None else 'NULL'})"
        for i, d, c in OVERRIDES
    )
    return f"""
    WITH cls AS ({_full_oracle()}),
    ov(ov_doc_id, decision, ov_components) AS (VALUES {vals}),
    applied AS (
      SELECT c.doc_id,
             coalesce(o.decision, '') AS override_decision,
             coalesce(o.ov_components, '') AS override_components,
             (coalesce(o.decision, '') = 'exclude') AS excluded_by_override,
             (c.doc_id % {_POLICY_MOD} = 0) AS excluded_by_policy,
             (c.is_candidate OR coalesce(o.decision, '') = 'keep') AS rdls_candidate,
             CASE WHEN coalesce(o.decision, '') = 'keep'
                       AND coalesce(o.ov_components, '') <> ''
                  THEN o.ov_components ELSE c.components END AS comps1
      FROM cls c LEFT JOIN ov o ON c.doc_id = o.ov_doc_id
    ),
    normed AS (
      SELECT *,
             (excluded_by_policy OR excluded_by_override) AS final_excluded0,
             (rdls_candidate
              AND NOT (excluded_by_policy OR excluded_by_override)
              AND comps1 <> ''
              AND contains(comps1, 'stream')
              AND NOT (contains(comps1, 'query') OR contains(comps1, 'storage'))
             ) AS components_normalized
      FROM applied
    )
    SELECT doc_id, override_decision, override_components, excluded_by_override,
           rdls_candidate,
           CASE WHEN components_normalized THEN
                  concat_ws(',',
                    CASE WHEN contains(comps1, 'query') THEN 'query' END,
                    'storage',
                    CASE WHEN contains(comps1, 'stream') THEN 'stream' END)
                ELSE comps1 END AS components,
           components_normalized,
           ((final_excluded0 AND override_decision <> 'keep')
             OR excluded_by_policy) AS final_excluded,
           (rdls_candidate AND NOT
             ((final_excluded0 AND override_decision <> 'keep')
               OR excluded_by_policy)) AS final_included
    FROM normed
    """


@register(
    "review_override_apply",
    _override_oracle(),
    doc="Review-override decision apply + component normalization + OSM "
        "revert guard (SURVEY J9; 05…ipynb:645 apply loop, cell-5-2 M5 "
        "normalization, :771 guard). classification ⟕ broadcast overrides, "
        "then pure column algebra — exclude sets excluded_by_override, keep "
        "forces candidacy and may replace components, lone-'stream' "
        "components auto-add 'storage', and a keep on a policy-excluded id "
        "is reverted to excluded.",
)
def review_override_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    cls = classify_documents_full(spark, sf_dir)
    ov = spark.createDataFrame(
        [(i, d, c) for i, d, c in OVERRIDES],
        "ov_doc_id long, decision string, ov_components string",
    )
    j = cls.join(
        F.broadcast(ov), cls.doc_id == ov.ov_doc_id, "left"
    )
    decision = F.coalesce(F.col("decision"), F.lit(""))
    ov_comps = F.coalesce(F.col("ov_components"), F.lit(""))
    excluded_by_policy = F.col("doc_id") % _POLICY_MOD == 0
    excluded_by_override = decision == "exclude"
    rdls_candidate = F.col("is_candidate") | (decision == "keep")
    comps1 = F.when(
        (decision == "keep") & (ov_comps != ""), ov_comps
    ).otherwise(F.col("components"))

    final_excluded0 = excluded_by_policy | excluded_by_override
    needs_norm = (
        rdls_candidate
        & ~final_excluded0
        & (comps1 != "")
        & comps1.contains("stream")
        & ~(comps1.contains("query") | comps1.contains("storage"))
    )
    comps_out = F.when(
        needs_norm,
        F.concat_ws(
            ",",
            F.when(comps1.contains("query"), "query"),
            F.lit("storage"),
            F.when(comps1.contains("stream"), "stream"),
        ),
    ).otherwise(comps1)
    # Apply-then-guard (05…ipynb:771): a keep-override CLEARS exclusions,
    # then the OSM-revert guard re-adds policy exclusions — keep can never
    # resurrect a policy-excluded id.  With today's two sources the net
    # truth table equals policy|override (keep and exclude are mutually
    # exclusive decisions), but the shape is load-bearing: any future
    # exclusion source joined into final_excluded0 is keep-clearable while
    # policy stays terminal.
    final_excluded = (final_excluded0 & (decision != "keep")) | excluded_by_policy
    return j.select(
        "doc_id",
        decision.alias("override_decision"),
        ov_comps.alias("override_components"),
        excluded_by_override.alias("excluded_by_override"),
        rdls_candidate.alias("rdls_candidate"),
        comps_out.alias("components"),
        needs_norm.alias("components_normalized"),
        final_excluded.alias("final_excluded"),
        (rdls_candidate & ~final_excluded).alias("final_included"),
    )


@register(
    "top15_candidates",
    f"""
    WITH c AS ({_full_oracle()})
    SELECT doc_id, score_max, confidence FROM c
    ORDER BY score_max DESC, doc_id LIMIT 15
    """,
    doc="Top candidates display (SURVEY T2, 04…ipynb cell-6-1 "
        "sort_values(score_max).head(15)).",
)
def top15_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        classify_documents_full(spark, sf_dir)
        .select("doc_id", "score_max", "confidence")
        .orderBy(F.desc("score_max"), "doc_id")
        .limit(15)
    )


@register(
    "token_counts_top20",
    """
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
          FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
    doc="Corpus frequency stats (SURVEY A1, 03…ipynb:439-520 Counter + "
        "most_common): explode → hash agg → top-k.",
)
def token_counts_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
    )


@register(
    "source_length_percentiles",
    """
    WITH base AS (
      SELECT coalesce(source, '') AS source, doc_id,
             len(list_filter(string_split_regex(lower(coalesce(text, '')),
                                                '[^a-z0-9]+'),
                             t -> t <> '')) AS n_toks
      FROM documents
    ),
    ranked AS (
      SELECT source, n_toks,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_toks, doc_id) AS rnk,
             count(*) OVER (PARTITION BY source) AS n
      FROM base
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rnk = (n + 1) // 2 THEN n_toks END) AS BIGINT)
             AS p50_tokens,
           CAST(max(CASE WHEN rnk = (9 * n + 9) // 10 THEN n_toks END) AS BIGINT)
             AS p90_tokens,
           round(sum(n_toks) * 1.0 / count(*), 4) AS mean_tokens,
           CAST(min(n_toks) AS BIGINT) AS min_tokens,
           CAST(max(n_toks) AS BIGINT) AS max_tokens
    FROM ranked
    GROUP BY source
    """,
    doc="Per-source EXACT token-count percentiles (p50/p90 by explicit "
        "rank selection — engines disagree on interpolated quantiles, so "
        "the discrete rank formula (n+1) div 2 / ceil(0.9 n) is computed "
        "in integer arithmetic on both sides), plus mean/min/max: the "
        "domain-mix dashboard that decides corpus weights before "
        "sampling. One scan, one window keyed on source, one aggregate. "
        "Exact percentiles at 100 TB mean a per-source sort — acceptable "
        "because sources are few and the window parallelizes per source "
        "(skewed mega-sources would switch to approx_percentile, "
        "documented trade).",
)
def source_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        "doc_id",
        F.size(tokenize(F.coalesce(F.col("text"), F.lit("")))).alias("n_toks"),
    )
    w = Window.partitionBy("source").orderBy("n_toks", "doc_id")
    wn = Window.partitionBy("source")
    ranked = base.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.max(
            F.when(F.col("rnk") == F.expr("div(n + 1, 2)"), F.col("n_toks"))
        )
        .cast("long")
        .alias("p50_tokens"),
        F.max(
            F.when(F.col("rnk") == F.expr("div(9 * n + 9, 10)"), F.col("n_toks"))
        )
        .cast("long")
        .alias("p90_tokens"),
        F.round(F.sum("n_toks") * F.lit(1.0) / F.count("*"), 4).alias("mean_tokens"),
        F.min("n_toks").cast("long").alias("min_tokens"),
        F.max("n_toks").cast("long").alias("max_tokens"),
    )


TFIDF_TOP_K = 3


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    idf AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_total FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, idf.df,
             round(tf.tf * ln((n.n_total + 1.0) / (idf.df + 1.0)), 4) AS score
      FROM tf JOIN idf USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, token ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, token AS term, CAST(rnk AS INT) AS rnk,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
    FROM ranked WHERE rnk <= {TFIDF_TOP_K}
    """,
    doc="TF-IDF keyword extraction: top-k terms per document by "
        "tf * ln((N+1)/(df+1)), rank tie-broken on the ROUNDED score then "
        "term (total order, so both engines pick identical winners). Plan: "
        "explode -> (doc, token) count -> vocabulary df aggregate -> join "
        "keyed on token -> per-doc row_number window. Both aggregates are "
        "map-side combined; the corpus count rides a broadcast 1-row cross "
        "join, not a driver round-trip; at 100 TB the only wide shuffles "
        "key on token (vocabulary-sized) and doc_id. ACCEPTED ULP RISK "
        "(ADVICE r04, documented per the oracle-parity rules): this is the "
        "one query whose determinism rests on a transcendental — parity "
        "needs java.lang.Math.log and DuckDB's libm ln to agree after 4-dp "
        "rounding, which fails only if a raw score lies within ~1 ulp "
        "(~1e-15) of a .00005 boundary (p ~ 1e-11 per value; both libraries "
        "are <=1-ulp implementations). Exact-integer ranking is NOT "
        "available here: comparing tf1*ln(A/d1) vs tf2*ln(A/d2) exactly is "
        "a big-integer power comparison, and ranking on (tf, df) alone "
        "would change the semantics from TF-IDF to a proxy. "
        "tests/test_round4_queries.py::test_tfidf_scores_clear_rounding_"
        "boundaries pins that no score on the graded fixtures sits near a "
        "boundary, so the risk cannot fire on driver data.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # df as a count-window over the tf frame partitioned by token (round-5
    # continuation): the groupBy(token) + join-back made tf a shared
    # subtree Spark computed twice — two corpus scans + two explode/tf
    # passes in .explain.  One token-keyed shuffle on the SAME lineage
    # instead; window partitions are a token's df (vocabulary-sized).
    wdf = tf.withColumn("df", F.count("*").over(Window.partitionBy("token")))
    n = d.agg(F.count("*").alias("n_total"))
    scored = (
        wdf
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log((F.col("n_total") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            F.col("token").alias("term"),
            "rnk",
            "tf",
            "df",
            "score",
        )
    )


@register(
    "doc_quality",
    """
    SELECT doc_id,
           n_tokens,
           round(avg_token_len, 4)  AS avg_token_len,
           round(stopword_ratio, 4) AS stopword_ratio,
           round(quality, 4)        AS quality
    FROM (
      SELECT doc_id,
             len(toks)                                   AS n_tokens,
             (n_chars * 1.0) / greatest(len(toks), 1)    AS avg_token_len,
             len(list_filter(toks, t -> t IN ('the','a','of','and')))
               * 1.0 / greatest(len(toks), 1)            AS stopword_ratio,
             least(1.0, len(toks) / 50.0) * 0.5
               + (1.0 - len(list_filter(toks, t -> t IN ('the','a','of','and')))
                        * 1.0 / greatest(len(toks), 1)) * 0.5 AS quality
      FROM (SELECT doc_id, n_chars,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> t <> '') AS toks
            FROM documents)
    )
    """,
    doc="Quality scoring for training-data curation (engine-new; mirrors "
        "NB13's weighted sub-score cascade shape, 13…ipynb:949): token count, "
        "length ratio, stopword ratio → composite quality. Token-free text "
        "(punctuation-only, non-Latin) divides by greatest(n,1) in BOTH "
        "engines — a bare /n_tokens would throw DIVIDE_BY_ZERO under "
        "Spark 4's default ANSI mode while DuckDB emitted inf.",
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    stop = F.array([F.lit(s) for s in ("the", "a", "of", "and")])
    n_tokens = F.size(toks)
    denom = F.greatest(n_tokens, F.lit(1))
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))) / denom
    quality = F.least(F.lit(1.0), n_tokens / F.lit(50.0)) * 0.5 + (1.0 - stop_ratio) * 0.5
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(F.col("n_chars") / denom, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(quality, 4).alias("quality"),
    )


# Shared lang-id heuristic markers (single source of truth for the per-doc
# query AND the confusion matrix — CLAUDE.md shared-constants rule).
LANG_EN_MARKERS = "the|and|of"
LANG_NON_EN_MARKERS = "der|und|le|la|el"
_LANG_GUESS_SQL = (
    f"CASE WHEN regexp_matches(lower(text), '{LANG_EN_MARKERS}') "
    f"AND NOT regexp_matches(lower(text), '{LANG_NON_EN_MARKERS}') "
    "THEN 'en' ELSE 'other' END"
)


def _lang_guess_col() -> "F.Column":
    low = F.lower(F.col("text"))
    return F.when(
        low.rlike(LANG_EN_MARKERS) & ~low.rlike(LANG_NON_EN_MARKERS), F.lit("en")
    ).otherwise(F.lit("other"))


@register(
    "lang_id_heuristic",
    f"""
    SELECT doc_id, lang, {_LANG_GUESS_SQL} AS lang_guess
    FROM documents
    """,
    doc="Language-ID n-gram heuristic (engine-new training-data op; the "
        "synthetic corpus carries ground-truth `lang`).",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", _lang_guess_col().alias("lang_guess"))


@register(
    "lang_confusion_matrix",
    f"""
    WITH g AS (
      SELECT coalesce(lang, '') AS lang, {_LANG_GUESS_SQL} AS lang_guess
      FROM documents
    ),
    cnt AS (
      SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
      FROM g GROUP BY lang, lang_guess
    )
    SELECT lang, lang_guess, n_docs,
           round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 4)
             AS frac_of_lang
    FROM cnt
    """,
    doc="Declared-vs-predicted language confusion matrix: per (lang, "
        "lang_guess) cell, doc count and the within-language fraction — "
        "the QA report that decides whether the lang-id heuristic (or a "
        "declared-metadata column) can be trusted for filtering. Built "
        "from the SAME marker constants as lang_id_heuristic so the two "
        "queries can never drift. One scan, one tiny aggregate, one "
        "window over the handful of language rows.",
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(
            F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
            _lang_guess_col().alias("lang_guess"),
        )
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return cnt.withColumn(
        "frac_of_lang",
        F.round(F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w), 4),
    )


@register(
    "doc_fingerprint_dups",
    """
    SELECT fp, count(*) AS dup_count, min(doc_id) AS first_doc_id
    FROM (SELECT doc_id, sha256(substr(text, 1, 16)) AS fp FROM documents)
    GROUP BY fp
    HAVING count(*) > 1
    """,
    doc="Content-hash duplicate detection (SURVEY A8, 07…ipynb:458 "
        "sha256_file + first-seen map): prefix fingerprint → sha256 → group.",
)
def doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.sha2(F.substring("text", 1, 16), 256).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("first_doc_id"))
        .filter(F.col("dup_count") > 1)
    )


@register(
    "normalize_slug",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                               '\\s+', ' ', 'g'))                       AS norm_text,
           substr(regexp_replace(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9]+', '_', 'g'), '_+', '_', 'g'), '^_|_$', '', 'g'),
                  1, 40)                                                AS slug
    FROM documents
    WHERE doc_id < 50
    """,
    doc="normalize_title + slugify as pure column expressions (SURVEY P8/A6, "
        "01…ipynb:514, 08…ipynb:1196).",
)
def normalize_slug(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") < 50).select(
        "doc_id",
        normalize_title(F.col("text")).alias("norm_text"),
        slugify(F.col("text"), 40).alias("slug"),
    )


@register(
    "regex_extract_numbers",
    """
    SELECT CAST(n_str AS INTEGER) AS brand_num, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(p_brand, '[0-9]+')) AS n_str FROM part)
    GROUP BY 1
    """,
    doc="regexp_extract_all + explode + cast (SURVEY §2.8 regex-extract "
        "family: return-period extraction 09…ipynb RP_PATTERNS with "
        "transform(cast int)).",
)
def regex_extract_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            F.explode(F.regexp_extract_all("p_brand", F.lit("[0-9]+"), 0)).alias("n_str")
        )
        .select(F.col("n_str").cast("int").alias("brand_num"))
        .groupBy("brand_num")
        .agg(F.count("*").alias("cnt"))
    )


_PACK_SEQ_LEN = 256

# the token-stream cumsum CTE chain (t -> nz -> c), shared by the
# sequence_packing and packing_fragmentation oracles — ONE copy per the
# shared-constants rule so the two can never drift on the tokenizer regex
# or the prefix-sum form.
_PACK_STREAM_CTES = """t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    nz AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens FROM t WHERE n_tokens > 0),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS stream_start
      FROM nz
    )"""


@register(
    "sequence_packing",
    f"""
    WITH {_PACK_STREAM_CTES}
    SELECT doc_id, n_tokens, stream_start,
           stream_start // {_PACK_SEQ_LEN} AS seq_start,
           (stream_start + n_tokens - 1) // {_PACK_SEQ_LEN} AS seq_end,
           stream_start % {_PACK_SEQ_LEN} AS seq_offset,
           (stream_start + n_tokens - 1) // {_PACK_SEQ_LEN}
             - stream_start // {_PACK_SEQ_LEN} + 1 AS n_seqs
    FROM c
    """,
    doc="GPT-style sequence packing (concat-then-chunk): docs in doc_id "
        "order are conceptually concatenated into one token stream and "
        "sliced into fixed 256-token training sequences; each doc reports "
        "its global stream offset, first/last sequence id, in-sequence "
        "offset and straddle count. The global prefix sum runs as a "
        "DISTRIBUTED cumsum (operators/packing.py: range partition -> "
        "within-partition window -> P-row offset broadcast), never a "
        "single-task global window; the oracle recomputes it as a plain "
        "single-node window cumsum — pure integer math, exact hash parity.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id",
        F.size(tokenize(F.coalesce(F.col("text"), F.lit("")))).alias("n_tokens"),
    )
    return pack_sequences(counted, "doc_id", "n_tokens", _PACK_SEQ_LEN).select(
        F.col("_id").alias("doc_id"),
        "n_tokens",
        "stream_start",
        "seq_start",
        "seq_end",
        "seq_offset",
        "n_seqs",
    )


@register(
    "packing_fragmentation",
    f"""
    WITH {_PACK_STREAM_CTES},
    spans AS (
      SELECT stream_start // {_PACK_SEQ_LEN} AS seq_start,
             (stream_start + n_tokens - 1) // {_PACK_SEQ_LEN} AS seq_end
      FROM c
    ),
    s AS (SELECT unnest(range(seq_start, seq_end + 1)) AS seq_id FROM spans),
    frag AS (
      SELECT seq_id, CAST(count(*) AS BIGINT) AS n_fragments
      FROM s GROUP BY seq_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM frag),
    hist AS (
      SELECT n_fragments, CAST(count(*) AS BIGINT) AS n_seqs
      FROM frag GROUP BY n_fragments
    )
    SELECT n_fragments, n_seqs,
           CAST((n_seqs * 10000 - (n_seqs * 10000) % t) / t AS BIGINT)
             AS seq_share_bp
    FROM hist CROSS JOIN tot
    """,
    doc="Packing fragmentation histogram: for each 256-token training "
        "sequence produced by sequence_packing's concat-then-chunk stream, "
        "how many document FRAGMENTS it contains, bucketed (n_fragments -> "
        "sequence count + exact-bp share).  The report a pretraining owner "
        "reads to size cross-document attention contamination: a heavy "
        ">=3-fragment tail means short docs dominate and sequences mix "
        "many unrelated contexts.  Plan: the distributed cumsum from "
        "operators/packing.py, then explode(sequence(seq_start, seq_end)) "
        "— fan-out is ceil(n_tokens/256) per doc, corpus-token bounded — "
        "into a (seq_id) map-side-combined aggregate and a tiny histogram "
        "re-agg; the share normalizer rides a broadcast 1-row cross join.  "
        "Oracle shares _PACK_STREAM_CTES with sequence_packing, so the "
        "stream arithmetic can never drift between the two.",
)
def packing_fragmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id",
        F.size(tokenize(F.coalesce(F.col("text"), F.lit("")))).alias("n_tokens"),
    )
    packed = pack_sequences(counted, "doc_id", "n_tokens", _PACK_SEQ_LEN)
    seqs = packed.select(
        F.explode(F.sequence(F.col("seq_start"), F.col("seq_end"))).alias("seq_id")
    )
    frag = seqs.groupBy("seq_id").agg(
        F.count("*").cast("long").alias("n_fragments")
    )
    hist = frag.groupBy("n_fragments").agg(
        F.count("*").cast("long").alias("n_seqs")
    )
    # normalizer as a window over the HISTOGRAM (bucket-sized — max
    # fragments-per-sequence rows), not a crossJoin(broadcast(agg)): the
    # cross-join's tot branch re-runs the whole explode + seq aggregate
    # (no ReusedExchange across the differing aggregate shapes), while the
    # single-partition window costs one pass over a handful of rows.
    from pyspark.sql import Window

    t = F.sum("n_seqs").over(Window.partitionBy(F.lit(1)))
    num = F.col("n_seqs") * F.lit(10000)
    return hist.select(
        "n_fragments",
        "n_seqs",
        ((num - num % t) / t).cast("long").alias("seq_share_bp"),
    )


# char classes for the per-source composition profile — ONE bank, Java and
# RE2 read these classes identically (plain ASCII ranges, no shorthand
# escapes whose Unicode semantics differ between engines).
CHAR_CLASSES: list[tuple[str, str]] = [
    ("alpha", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ \\t\\n\\r]"),
]


def _char_class_oracle() -> str:
    cnt = {
        name: f"length(t) - length(regexp_replace(t, '{pat}', '', 'g'))"
        for name, pat in CHAR_CLASSES
    }
    sums = ",\n             ".join(
        f"CAST(sum({expr}) AS BIGINT) AS n_{name}" for name, expr in cnt.items()
    )
    class_cols = [f"n_{name}" for name, _ in CHAR_CLASSES]
    named = ", ".join(class_cols)
    bp = ",\n           ".join(
        f"CAST((n_{name} * 10000 - (n_{name} * 10000) % greatest(n_chars, 1))"
        f" / greatest(n_chars, 1) AS BIGINT) AS {name}_bp"
        for name, _ in CHAR_CLASSES
    )
    return f"""
    WITH base AS (
      SELECT coalesce(source, '') AS source, coalesce(text, '') AS t
      FROM documents
    ),
    per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(length(t)) AS BIGINT) AS n_chars,
             {sums}
      FROM base GROUP BY source
    )
    SELECT source, n_docs, n_chars, {named},
           n_chars - ({" + ".join(class_cols)}) AS n_other,
           {bp}
    FROM per
    """


@register(
    "char_class_profile",
    _char_class_oracle(),
    doc="Per-source character-class composition: total chars plus "
        "alpha/digit/whitespace counts and their exact-bp shares "
        "(truncating-division parity form; all-empty sources guarded with "
        "greatest(n,1) on both sides), with 'other' as the exact remainder "
        "— the corpus-composition fingerprint a data owner reads to spot a "
        "source that is secretly tables, code, or binary spew before it "
        "reaches tokenizer training.  The class bank (CHAR_CLASSES) is the "
        "single source of truth interpolated into the oracle.  Plan: one "
        "scan, four regexp length-diffs as JVM column algebra (no Python), "
        "map-side-combined per-source aggregate — the shuffle carries one "
        "row per (partition, source).  At 100 TB this rides any other "
        "full-text pass for free.",
)
def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    base = d.select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.length(t).alias("len"),
        *[
            (F.length(t) - F.length(F.regexp_replace(t, pat, F.lit(""))))
            .alias(f"c_{name}")
            for name, pat in CHAR_CLASSES
        ],
    )
    per = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("len").cast("long").alias("n_chars"),
        *[
            F.sum(f"c_{name}").cast("long").alias(f"n_{name}")
            for name, _ in CHAR_CLASSES
        ],
    )
    denom = F.greatest(F.col("n_chars"), F.lit(1))
    named = [F.col(f"n_{name}") for name, _ in CHAR_CLASSES]
    other = F.col("n_chars")
    for c in named:
        other = other - c
    bp_cols = []
    for name, _ in CHAR_CLASSES:
        num = F.col(f"n_{name}") * F.lit(10000)
        bp_cols.append(
            ((num - num % denom) / denom).cast("long").alias(f"{name}_bp")
        )
    return per.select(
        "source",
        "n_docs",
        "n_chars",
        *[F.col(f"n_{name}") for name, _ in CHAR_CLASSES],
        other.alias("n_other"),
        *bp_cols,
    )


RARE_DF_MAX = 2  # a token is 'rare' if it appears in <= 2 documents


@register(
    "rare_token_score",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(coalesce(text, '')),
                                                   '[^a-z0-9]+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    per AS (
      SELECT tf.doc_id,
             CAST(sum(tf.tf) AS BIGINT) AS n_instances,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CASE WHEN df.df <= {RARE_DF_MAX} THEN tf.tf ELSE 0 END)
                  AS BIGINT) AS n_rare_instances,
             CAST(sum(CASE WHEN df.df <= {RARE_DF_MAX} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rare_distinct
      FROM tf JOIN df USING (token) GROUP BY tf.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_instances, 0) AS n_instances,
           coalesce(p.n_distinct, 0) AS n_distinct,
           coalesce(p.n_rare_instances, 0) AS n_rare_instances,
           coalesce(p.n_rare_distinct, 0) AS n_rare_distinct,
           CAST((coalesce(p.n_rare_instances, 0) * 10000
                 - (coalesce(p.n_rare_instances, 0) * 10000)
                   % greatest(coalesce(p.n_instances, 0), 1))
                / greatest(coalesce(p.n_instances, 0), 1) AS BIGINT)
             AS rare_bp
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    doc="Per-document rare-token score (OOV/garbage detector, the "
        "integer-exact cousin of a CCNet-style LM filter): token instances "
        "whose corpus document-frequency is <= RARE_DF_MAX, as counts and "
        "an exact-bp fraction of the doc's instances — a doc dominated by "
        "hapax tokens is gibberish, boilerplate IDs, or the wrong "
        "language, and goes to the drop/review bucket before tokenizer "
        "training.  The df table is the SAME (doc, token) -> token "
        "aggregate chain tfidf_top_terms uses; unlike TF-IDF this rests "
        "on no transcendental, so parity is pure integer arithmetic.  "
        "Plan: explode -> map-side-combined (doc, token) tf -> "
        "vocabulary-sized df -> token-keyed join back -> per-doc "
        "aggregate, then one spine left join restores token-free docs as "
        "zeros.  At 100 TB the wide shuffles key on token and doc_id only "
        "— no text moves after the explode.",
)
def rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(tokenize(F.coalesce(F.col("text"), F.lit("")))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    # df as a count-window over the tf frame partitioned by token: the
    # groupBy(token) + join-back alternative makes tf a shared subtree that
    # Spark computes TWICE (two corpus scans + two explode passes — seen in
    # .explain); the window pays one token-keyed shuffle on the SAME
    # lineage instead.  Window size = a token's df (vocabulary-sized
    # partitions, no doc-sized frame).
    from pyspark.sql import Window

    wdf = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("token")).cast("long")
    )
    rare = F.col("df") <= RARE_DF_MAX
    per = (
        wdf
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_instances"),
            F.count("*").cast("long").alias("n_distinct"),
            F.sum(F.when(rare, F.col("tf")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_rare_instances"),
            F.sum(rare.cast("int")).cast("long").alias("n_rare_distinct"),
        )
    )
    j = d.select("doc_id").join(per, "doc_id", "left")
    ni = F.coalesce(F.col("n_instances"), F.lit(0))
    nr = F.coalesce(F.col("n_rare_instances"), F.lit(0))
    denom = F.greatest(ni, F.lit(1))
    num = nr * F.lit(10000)
    return j.select(
        "doc_id",
        ni.alias("n_instances"),
        F.coalesce(F.col("n_distinct"), F.lit(0)).alias("n_distinct"),
        nr.alias("n_rare_instances"),
        F.coalesce(F.col("n_rare_distinct"), F.lit(0)).alias("n_rare_distinct"),
        ((num - num % denom) / denom).cast("long").alias("rare_bp"),
    )


# ---------------------------------------------------------------------------
# Per-source vocabulary coverage under a fixed top-K vocab
# ---------------------------------------------------------------------------

# Top-K global tokens admitted to the vocabulary (rank by count desc, token
# asc — deterministic across engines).  Production value is
# tokenizer-sized; the test corpus has ~31 distinct tokens, so 12 keeps
# the coverage split non-trivial at every SF.
VOCAB_K = 12


@register(
    "vocab_coverage",
    f"""
    WITH vc_tok AS (
      SELECT coalesce(source, '') AS source,
             unnest(list_filter(string_split_regex(lower(coalesce(text, '')),
                                '[^a-z0-9]+'), t -> t <> '')) AS token
      FROM documents
    ),
    vc_stc AS (SELECT source, token, count(*) AS c FROM vc_tok GROUP BY source, token),
    vc_glob AS (SELECT token, sum(c) AS n FROM vc_stc GROUP BY token),
    vc_vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY n DESC, token ASC) AS rnk
        FROM vc_glob
      ) WHERE rnk <= {VOCAB_K}
    )
    SELECT s.source,
           CAST(sum(s.c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NOT NULL THEN s.c ELSE 0 END)
             AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN v.token IS NOT NULL THEN s.c ELSE 0 END) * 10000
                // greatest(sum(s.c), 1) AS BIGINT) AS coverage_bp,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_distinct_covered,
           CAST(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) * 10000
                // greatest(count(*), 1) AS BIGINT) AS distinct_coverage_bp
    FROM vc_stc s LEFT JOIN vc_vocab v ON s.token = v.token
    GROUP BY s.source
    """,
    doc="Per-source vocabulary coverage under a fixed top-K global vocab "
        "(rank by corpus count, token tie-break): token-instance and "
        "distinct-type coverage in exact integer basis points — the "
        "tokenizer-sizing report (what OOV mass each source contributes "
        "under a vocab of K entries; rare_token_score's per-doc cousin at "
        "the vocab-design altitude).  One text scan: the (source, token) "
        "aggregate feeds BOTH the global vocab ranking (re-aggregate — "
        "never a second scan) and the coverage join; the vocab is K rows "
        "and broadcast.  Sources whose every doc is token-free drop out "
        "identically on both engines (explode/unnest both emit nothing).",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    stc = (
        d.select(
            F.coalesce("source", F.lit("")).alias("source"),
            F.explode(
                tokenize(F.coalesce(F.col("text"), F.lit("")))
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").cast("long").alias("c"))
        # feeds BOTH the global ranking and the coverage aggregate — the
        # checkpoint keeps the corpus scan + explode single-pass
        .localCheckpoint(eager=True)
    )
    glob = stc.groupBy("token").agg(F.sum("c").alias("n"))
    vocab = (
        glob.orderBy(F.desc("n"), F.asc("token"))
        .limit(VOCAB_K)
        .select("token", F.lit(True).alias("_in_vocab"))
    )
    j = stc.join(F.broadcast(vocab), "token", "left")
    inv = F.col("_in_vocab").isNotNull()
    return j.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(inv, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_covered"),
        F.expr(
            "CAST(div(sum(CASE WHEN _in_vocab IS NOT NULL THEN c ELSE 0 END)"
            " * 10000, greatest(sum(c), 1)) AS BIGINT)"
        ).alias("coverage_bp"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(inv.cast("int")).cast("long").alias("n_distinct_covered"),
        F.expr(
            "CAST(div(sum(CASE WHEN _in_vocab IS NOT NULL THEN 1 ELSE 0 END)"
            " * 10000, greatest(count(*), 1)) AS BIGINT)"
        ).alias("distinct_coverage_bp"),
    )
