"""Output checks, run outside the timed region.

Crawl: the engine's final state must equal the pure-Python simulator's
(``streaming.simulator.run_crawl``) on the same seeds and ``CrawlConfig`` —
manifest in crawl order, seen set, errors and every document's span
sequence.  Analytics: each query's result must match its DuckDB oracle under
``tools/verify_local.py``'s rule (row count, column names, order-insensitive
value hash).  Expected values come from the simulator or the oracle, never
from the engine under test; the oracle digests of the vendored tables are
computed once and kept in ``expected_board.json``.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
from dataclasses import asdict, dataclass


@functools.cache
def _verify_local(root: str):
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass(frozen=True)
class Digest:
    rows: int
    columns: tuple[str, ...]
    value_hash: str


def digest(root: str, columns: list[str], rows: list[dict]) -> Digest:
    normalized = _verify_local(root).normalize_rows(columns, rows)
    h = hashlib.sha256("\n".join(normalized).encode()).hexdigest()
    return Digest(len(rows), tuple(sorted(columns)), h)


def oracle_digests(root: str, data_dir: str, names: list[str]) -> dict[str, Digest]:
    """DuckDB oracle digest per query over the parquet tables in ``data_dir``."""
    import duckdb

    from hdx_metadata_crawler_spark.plans.registry import oracle_sql
    from hdx_metadata_crawler_spark.sources.tables import TABLE_NAMES

    sql = oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    out: dict[str, Digest] = {}
    for name in names:
        rel = con.sql(sql[name])
        cols = [c[0] for c in rel.description]
        out[name] = digest(root, cols, [dict(zip(cols, r)) for r in rel.fetchall()])
    con.close()
    return out


def load_expected(path: str, data_name: str) -> dict[str, Digest]:
    """The oracle digests recorded in ``path`` for the tables ``data_name``."""
    with open(path) as f:
        recorded = json.load(f)[data_name]
    return {n: Digest(d["rows"], tuple(d["columns"]), d["value_hash"]) for n, d in recorded.items()}


def compare_digest(name: str, got: Digest, want: Digest) -> list[str]:
    problems = []
    if got.columns != want.columns:
        problems.append(f"{name}: columns {got.columns} != oracle {want.columns}")
    if got.rows != want.rows:
        problems.append(f"{name}: {got.rows} rows != oracle {want.rows}")
    elif got.value_hash != want.value_hash:
        problems.append(f"{name}: value hash differs from the oracle")
    return problems


def simulate_crawl(seeds: list[str], cfg):
    """Uninterrupted simulator crawl with ``cfg``'s semantics.  The fields
    the crawler extracts do not depend on the body scale, so the simulator
    fetches the small body."""
    from hdx_metadata_crawler_spark.streaming import simulator

    prev = os.environ.get("SPARK_GRAFT_BODY_SCALE")
    os.environ["SPARK_GRAFT_BODY_SCALE"] = "1"
    try:
        return simulator.run_crawl(
            seeds,
            page_size=cfg.page_size,
            rps=cfg.rps,
            max_retries=cfg.max_retries,
            max_rounds=cfg.max_rounds,
            politeness_salts=cfg.politeness_salts,
            respect_robots=cfg.respect_robots,
        )
    finally:
        if prev is None:
            del os.environ["SPARK_GRAFT_BODY_SCALE"]
        else:
            os.environ["SPARK_GRAFT_BODY_SCALE"] = prev


@dataclass
class CrawlExpectation:
    manifest: list[tuple]
    seen: set[str]
    errors: list[tuple]
    spans: dict[str, list[tuple]]


def expected_crawl(sim) -> CrawlExpectation:
    return CrawlExpectation(
        manifest=[
            (m["round"], m["canon_url"], m["dataset_id"], m["title"], m["host"],
             m["time_slot"], m["attempt"])
            for m in sim.manifest
        ],
        seen=set(sim.seen),
        errors=sorted((e["round"], e["canon_url"], e["error"]) for e in sim.errors),
        spans=dict(sim.spans),
    )


def check_crawl(state: dict, want: CrawlExpectation) -> list[str]:
    """Compare the engine's final state frames against the simulator."""
    problems = []
    manifest = [
        (r["round"], r["canon_url"], r["dataset_id"], r["title"], r["host"],
         r["time_slot"], r["attempt"])
        for r in state["manifest"].orderBy("round", "rank").collect()
    ]
    if manifest != want.manifest:
        problems.append(f"manifest: {len(manifest)} rows differ from simulator's {len(want.manifest)}")
    seen = {r["canon_url"] for r in state["seen"].collect()}
    if seen != want.seen:
        problems.append(f"seen set: {len(seen ^ want.seen)} URLs differ")
    errors = sorted(
        (r["round"], r["canon_url"], r["error"]) for r in state["errors"].collect()
    )
    if errors != want.errors:
        problems.append(f"errors: {len(errors)} rows differ from simulator's {len(want.errors)}")
    docs = state["documents"].collect()
    spans = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in docs
    }
    if len(docs) != len(want.spans) or spans != want.spans:
        problems.append(f"spans: {len(docs)} documents differ from simulator's {len(want.spans)}")
    return problems


def write_expected(root: str, data_root: str, data_names: list[str], names: list[str], path: str) -> None:
    """Record the oracle digests of ``names`` for each table set under ``data_root``."""
    recorded = {
        d: {n: asdict(dg) for n, dg in oracle_digests(root, os.path.join(data_root, d), names).items()}
        for d in data_names
    }
    with open(path, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    # Recompute perfbench/expected_board.json from the DuckDB oracles (only
    # needed when the board, an oracle or the vendored tables change):
    #     python3 perfbench/checks.py
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    import run

    write_expected(os.path.dirname(here), run.DATA, [run.BOARD_DATA, run.BOARD_WARM_DATA],
                   run.BOARD, run.EXPECTED)
