"""Interleaved-span operator invariants (input_hint table shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdx_metadata_crawler_spark.operators import spans as sp
from tests.conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_reassembly_roundtrip(spark):
    """title+notes reassembled FROM the span array must equal the source
    text for every doc (the input_hint per-row invariant, array side)."""
    d = _docs(spark)
    out = sp.reassemble(sp.synthesize_spans(d)).join(
        d.select("doc_id", "text"), "doc_id"
    )
    bad = out.filter(F.col("title_notes") != F.col("text")).count()
    assert bad == 0


def test_offsets_dense(spark):
    """Span offsets are exactly 0..n-1 in every row."""
    s = sp.synthesize_spans(_docs(spark))
    bad = s.filter(
        ~F.forall(
            F.transform(
                "spans", lambda sp_, i: sp_["offset"] == i.cast("int")
            ),
            lambda x: x,
        )
    ).count()
    assert bad == 0


def test_media_conservation(spark):
    """Catalog occurrences must conserve the exploded media-span count, and
    first_doc must be a doc that actually references the ref."""
    d = _docs(spark)
    s = sp.synthesize_spans(d)
    total_media = s.select(
        F.sum(F.size(F.filter("spans", lambda x: x["kind"] == "media"))).alias("n")
    ).collect()[0]["n"]
    cat = sp.media_catalog(s)
    assert cat.agg(F.sum("n_occurrences")).collect()[0][0] == total_media
    # first_doc really references the ref
    refs = s.select(
        "doc_id",
        F.explode(F.filter("spans", lambda x: x["kind"] == "media")).alias("m"),
    ).select("doc_id", F.col("m.media_ref").alias("media_ref"))
    bad = (
        cat.join(refs, ["media_ref"])
        .groupBy("media_ref", "first_doc")
        .agg(F.min("doc_id").alias("true_first"))
        .filter(F.col("first_doc") != F.col("true_first"))
        .count()
    )
    assert bad == 0


def test_transitions_closed_form(spark):
    """Kind transitions computed from the array equal the layout's closed
    form: 0 when no media, else 2*m."""
    m = sp.interleave_metrics(sp.synthesize_spans(_docs(spark)))
    bad = m.filter(
        F.col("n_transitions")
        != F.when(F.col("n_media") == 0, 0).otherwise(2 * F.col("n_media"))
    ).count()
    assert bad == 0


def test_degenerate_span_arrays(spark):
    """Empty and single-span rows are legal in the input_hint schema and
    must not crash: slice() length guard in interleave_metrics, title_notes
    definition in reassemble."""
    schema = (
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    df = spark.createDataFrame(
        [
            (1, []),
            (2, [("text", "only", "", 0)]),
            (3, [("media", "", "ref://x", 0)]),
        ],
        schema,
    )
    m = {r["doc_id"]: r for r in sp.interleave_metrics(df).collect()}
    assert m[1]["n_spans"] == 0 and m[1]["n_transitions"] == 0
    assert m[2]["n_transitions"] == 0 and m[2]["text_chars"] == 4
    assert m[3]["n_media"] == 1
    r = {r["doc_id"]: r for r in sp.reassemble(df).collect()}
    assert r[1]["title_notes"] == "" and r[1]["full_text"] == ""
    assert r[2]["title_notes"] == "only"  # lone span, not doubled
    assert r[3]["title_notes"] == ""


def test_random_span_arrays_match_python_reference(spark):
    """Seeded pseudo-random span arrays (uneven offsets with gaps, shuffled
    order, any kind mix, empty/single rows) — reassemble and
    interleave_metrics must match a plain-Python reference on every row.
    One Spark pass over 200 rows, no per-example jobs."""
    import random

    rng = random.Random(20260817)
    rows = []
    for doc_id in range(200):
        n = rng.choice([0, 1, 1, 2, 3, 5, 8])
        offsets = rng.sample(range(0, 50), n)  # unique, gappy
        spans = []
        for off in offsets:
            if rng.random() < 0.4:
                spans.append(("media", "", f"ref://{rng.randint(0, 9)}", off))
            else:
                spans.append(("text", f"t{rng.randint(0, 99)}.", "", off))
        rng.shuffle(spans)
        rows.append((doc_id, spans))
    schema = (
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    df = spark.createDataFrame(rows, schema)

    def ref(spans):
        s = sorted(spans, key=lambda x: x[3])
        texts = [x[1] for x in s if x[0] == "text"]
        kinds = [x[0] for x in s]
        return {
            "full_text": "".join(texts),
            "title_notes": (texts[0] + texts[-1]) if len(texts) >= 2
                           else (texts[0] if texts else ""),
            "n_media": sum(1 for x in s if x[0] == "media"),
            "n_spans": len(s),
            "n_transitions": sum(
                1 for a, b in zip(kinds, kinds[1:]) if a != b
            ),
            "text_chars": sum(len(t) for t in texts),
        }

    expected = {doc_id: ref(spans) for doc_id, spans in rows}
    got_r = {r["doc_id"]: r for r in sp.reassemble(df).collect()}
    got_m = {r["doc_id"]: r for r in sp.interleave_metrics(df).collect()}
    for doc_id, e in expected.items():
        r, m = got_r[doc_id], got_m[doc_id]
        assert r["full_text"] == e["full_text"], doc_id
        assert r["title_notes"] == e["title_notes"], doc_id
        assert r["n_media"] == e["n_media"] == m["n_media"], doc_id
        assert r["n_spans"] == e["n_spans"] == m["n_spans"], doc_id
        assert m["n_transitions"] == e["n_transitions"], doc_id
        assert m["text_chars"] == e["text_chars"], doc_id


def test_frontier_spans_reassemble(spark, tmp_path):
    """The analytics operators consume the CRAWL ENGINE's own output shape:
    reassembling the documents of one real CrawlEngine round reproduces
    title+notes and counts media spans = resource count."""
    from hdx_metadata_crawler_spark.sources import synthetic
    from hdx_metadata_crawler_spark.streaming.frontier import CrawlConfig, CrawlEngine

    engine = CrawlEngine(
        spark, str(tmp_path / "ckpt"), CrawlConfig(page_size=40, max_rounds=1)
    )
    docs = engine.run(seed_urls=synthetic.seed_urls(40))["state"]["documents"]
    out = sp.reassemble(docs.select("doc_id", "spans"))
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        # frontier layout: [title] + tags + resources(name, media) + [notes]
        assert r["n_spans"] >= 2
        assert r["full_text"]  # text spans reassemble to non-empty text

    # full analytics stack over the SAME crawl output: media dedup catalog
    # conserves the exploded media-span count, and exact-dedup + simhash
    # consume the reassembled text without error — the engine's dedup layer
    # runs directly on what its own frontier emits.
    span_df = docs.select("doc_id", "spans")
    cat = sp.media_catalog(span_df)
    total_media = span_df.select(
        F.sum(F.size(F.filter("spans", lambda x: x["kind"] == "media"))).alias("n")
    ).collect()[0]["n"]
    assert cat.agg(F.sum("n_occurrences")).collect()[0][0] == total_media

    from hdx_metadata_crawler_spark.operators import dedup as dd

    texts = sp.reassemble(span_df).select("doc_id", F.col("full_text").alias("text"))
    groups = dd.exact_dedup(texts, ["text"], "doc_id")
    assert groups.count() <= texts.count()
    fps = dd.simhash64(texts, "doc_id", "text")
    assert fps.count() == texts.count()
