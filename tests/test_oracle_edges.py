"""Edge-input parity fixtures for divergences found in the round-3 review:
cases the driver's sf corpora never exercise (negative sums, NULL / empty
text) run the REGISTERED query and its REGISTERED oracle on a fixture dir
and require exact agreement."""

from __future__ import annotations

import datetime
import sys

import duckdb
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry  # noqa: E402


def _parity(spark, tmp_path, name, round_floats=4):
    out = entry.queries()[name](spark, str(tmp_path))
    cols = sorted(out.columns)

    def norm(rows):
        o = []
        for r in rows:
            vals = []
            for c in cols:
                v = r[c]
                if isinstance(v, float):
                    v = round(v, round_floats)
                vals.append(v)
            o.append(tuple(vals))
        return sorted(o, key=lambda t: tuple(str(x) for x in t))

    spark_rows = norm([row.asDict() for row in out.collect()])
    con = duckdb.connect()
    for p in tmp_path.glob("*.parquet"):
        con.sql(
            f"CREATE VIEW {p.stem} AS SELECT * FROM "
            f"read_parquet('{p}/*.parquet')"
        )
    orc = con.sql(entry.oracle_sql()[name])
    oracle_rows = norm([dict(zip(orc.columns, row)) for row in orc.fetchall()])
    assert spark_rows == oracle_rows


def test_events_hourly_negative_sums_parity(spark, tmp_path):
    """pmod-floor vs //-truncate diverged on negative hourly sums (e.g.
    x=-26598, d=4: -6650 vs -6649); both sides now truncate."""
    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    vals = [-1.23, -0.10, -5.55, 2.50, -0.005, 0.015, -99.99]
    for i, v in enumerate(vals):
        rows.append((i, base + datetime.timedelta(minutes=7 * i), i % 3,
                     f"t{i % 2}", float(v), "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string"
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    _parity(spark, tmp_path, "events_hourly")


def test_media_features_null_and_empty_text_parity(spark, tmp_path):
    """NULL text crashed extract_features (len(None)); empty text gave
    byte_sum_mod 0 vs oracle NULL.  Both are pinned: NULL==''
    and the empty-payload checksum is 0 on both sides."""
    rows = [
        (0, None, "src1", "en", 0),
        (1, "", "src2", "en", 0),
        (2, "abc def", "src1", "en", 7),
        (3, "x" * 50, "src3", "fr", 50),
        (4, "short", "src1", "en", 5),
        (5, "media payload bytes", "src2", "en", 19),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    _parity(spark, tmp_path, "media_features")
    _parity(spark, tmp_path, "frame_offsets")


def test_ngram_jaccard_null_text_parity(spark, tmp_path):
    """A NULL-text document must behave exactly like an empty one in BOTH
    engines (round-3 review: Spark folded NULL to [''] while the oracle's
    array_to_string yielded [NULL] — one NULL row silently diverged every
    sketch oracle before the coalesce guards)."""
    rows = [
        (0, None, "src1", "en", 0),
        (1, "", "src2", "en", 0),
        (2, "alpha beta gamma delta epsilon", "src1", "en", 30),
        (3, "alpha beta gamma delta epsilon", "src3", "en", 30),
        (4, "totally different words here now", "src1", "en", 32),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    _parity(spark, tmp_path, "ngram_jaccard_pairs")
    _parity(spark, tmp_path, "minhash_lsh_dedup")
    _parity(spark, tmp_path, "simhash_fingerprints")


def test_classify_null_empty_and_org_hint_parity(spark, tmp_path):
    """NULL text scores exactly like empty text: the org hint alone still
    counts (src1 -> stream 3).  The fixture also covers every org-hint
    substring (src1 / src19 / rc2), an all-exclusion text and the
    single-best component fallback."""
    rows = [
        (0, None, "src1", "en", 0),
        (1, "", "src1", "en", 0),
        (2, None, "src19", "en", 0),
        (3, "", "src2", "en", 0),
        (4, "slow slow slow", "src1", "en", 14),
        (5, "slow slow slow", "src3", "en", 14),
        (6, "join filter table stream batch window", "src19", "en", 37),
        (7, "a table scan over every row and column part", "src20", "en", 43),
        (8, "stream batch merge with a watermark event", "src12", "en", 41),
        (9, "sort the group then slow join", "src5", "en", 29),
        (10, None, None, "en", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    _parity(spark, tmp_path, "classify_documents_full")
    _parity(spark, tmp_path, "top15_candidates")


def test_neardup_threshold_sweep_floor_boundary_parity(spark, tmp_path):
    """The sweep's kernel gates on the cosine rounded to 4 dp, so a pair at
    cosine 0.29996 survives the 0.30 floor with cos_bp 3000 and one at
    0.29994 does not; the oracle must gate and project the same value."""
    def unit_pair(cos):
        return [float(cos), float((1.0 - cos * cos) ** 0.5), 0.0, 0.0]

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, unit_pair(0.29996), 0),
        (2, [0.0, 0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.0, 0.29994, (1.0 - 0.29994**2) ** 0.5], 1),
        (4, [0.0, 0.0, 0.0, 1.0], 2),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r["threshold_bp"]: r["n_pairs"]
        for r in entry.queries()["neardup_threshold_sweep"](
            spark, str(tmp_path)
        ).collect()
    }
    # 0-1 (0.29996 -> 3000) is in, 2-3 (0.29994 -> 2999) is out, and 3-4
    # (0.95396) passes every cutoff.
    assert out[3000] == 2 and out[4000] == 1
    _parity(spark, tmp_path, "neardup_threshold_sweep")
