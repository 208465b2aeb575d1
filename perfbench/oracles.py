"""Correctness references, run after the timed loop. None of them goes
through the code path it checks: the dashboard queries against their
DuckDB twins, the OHLCV stores against the generator's own bars, the
corpus operators against DuckDB and plain-Python recomputations."""

from __future__ import annotations

import importlib.util
import os
from collections import Counter
from dataclasses import dataclass

import duckdb

from etl_project_spark.catalog import TABLES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_checker():
    """tools/check_correctness.py: the repository's canonicalization
    (float format, binary normalization, tolerant compare)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(_ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_cc = _load_checker()


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare_to_oracle(pdf, name: str, con) -> str | None:
    """None when a collected Spark result matches the registry's DuckDB twin:
    same row count and columns, and equal canonical rows (exactly, or
    within 1e-6 relative where the engines round floats differently,
    as tools/check_correctness.py accepts)."""
    from etl_project_spark import registry

    spdf = _cc.normalize_binary(pdf)
    opdf = _cc.normalize_binary(con.sql(registry.get(name).oracle).df())
    if len(spdf) != len(opdf):
        return f"rowcount spark={len(spdf)} oracle={len(opdf)}"
    if sorted(spdf.columns) != sorted(opdf.columns):
        return f"columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
    if _cc.canon_frame(spdf) == _cc.canon_frame(opdf):
        return None
    problems = _cc.compare_tolerant(spdf, opdf, 1e-6)
    return "; ".join(problems) if problems else None


# --- ohlcv_ingest ---------------------------------------------------------------


def _store_keys(con, path: str) -> list[tuple]:
    return con.sql(
        f"SELECT coin, strftime(time_period_start, '%Y-%m-%d %H:%M:%S'), price_close "
        f"FROM read_parquet('{path}/*/*/*.parquet', hive_partitioning = true)"
    ).fetchall()


def _bar_key(b: dict) -> tuple:
    return (b["coin"], b["time_period_start"][:19].replace("T", " "), b["price_close"])


def check_ohlcv(stream, bronze: str, gold: str,
                exported_days: list[str]) -> list[tuple[str, str]]:
    """Bronze holds every distinct bar the feed sent, once (else the ticks
    are wrong); gold holds exactly the distinct bars of the exported days,
    once (else the day closes are wrong)."""
    con = duckdb.connect()
    try:
        bad = []
        want_bronze = Counter(_bar_key(b) for b in stream.bars)
        days = set(exported_days)
        want_gold = Counter(
            _bar_key(b) for b in stream.bars if b["time_period_start"][:10] in days
        )
        for op, label, path, want in (("ingest.tick", "bronze", bronze, want_bronze),
                                      ("export.day", "gold", gold, want_gold)):
            got = Counter(_store_keys(con, path))
            dups = sum(c - 1 for c in got.values() if c > 1)
            if dups:
                bad.append((op, f"{label}: {dups} duplicate (coin, time_period_start) rows"))
            if set(got) != set(want):
                bad.append((op, f"{label}: {len(set(want) - set(got))} bars missing, "
                                f"{len(set(got) - set(want))} unexpected"))
        return bad
    finally:
        con.close()


# --- corpus_build ---------------------------------------------------------------


def shingles(text: str) -> frozenset:
    """Distinct word 3-shingles of lower(text) split on ' ', as the dd7
    oracle forms them (a text shorter than 3 tokens is one shingle)."""
    t = text.lower().split(" ")
    return frozenset(" ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 1)))


def dup_clusters(docs: list[tuple[int, str]], threshold: float = 0.5) -> dict[int, int]:
    """Exact reference for dd7: doc_id -> smallest doc_id connected to it
    through pairs with shingle Jaccard >= threshold. Candidate pairs are
    every pair sharing a shingle (pairs sharing none have Jaccard 0)."""
    sh = {d: shingles(t) for d, t in docs}
    index: dict[str, list[int]] = {}
    for d, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(d)
    shared: Counter = Counter()
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                shared[(a, b)] += 1
    parent = {d: d for d in sh}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), k in shared.items():
        if k / (len(sh[a]) + len(sh[b]) - k) >= threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in sh}


@dataclass
class CorpusOutputs:
    """What one corpus build handed back to its caller."""

    audit_docs: int  # materialize_corpus's n_docs
    landed_docs: int  # rows in the landed clean_corpus table files
    clusters: list  # dd7 rows (doc_id, cluster_id)
    topk: object  # x19 result, pandas


def landed_rows(spark) -> int:
    """Rows in the clean_corpus table's files, read by DuckDB (not Spark)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    con = duckdb.connect()
    try:
        return con.sql(
            f"SELECT count(*) FROM read_parquet('{warehouse}/clean_corpus/*/*.parquet')"
        ).fetchone()[0]
    finally:
        con.close()


def check_corpus(data_dir: str, out: CorpusOutputs) -> list[str]:
    """dd7 against the exact Jaccard closure, x19 against its DuckDB twin,
    and the materialize_corpus audit against the landed table and an
    independent DuckDB count of the documents the cascade keeps."""
    bad = []
    con = duck(data_dir)
    try:
        want = dup_clusters(con.sql("SELECT doc_id, text FROM documents").fetchall())
        got = {r["doc_id"]: r["cluster_id"] for r in out.clusters}
        if got != want:
            diff = sum(1 for d in want if got.get(d) != want[d])
            bad.append(f"dd7_dup_clusters: {diff} of {len(want)} docs in the wrong cluster")
        problem = compare_to_oracle(out.topk, "x19_ivfpq_serving_topk", con)
        if problem:
            bad.append(f"x19_ivfpq_serving_topk: {problem}")
        keep = con.sql(
            """
            SELECT count(*) FROM (
                SELECT doc_id, n_chars, lang, row_number() OVER (
                    PARTITION BY md5(array_to_string(list_sort(list_distinct(
                        str_split(lower(text), ' '))), ' '))
                    ORDER BY doc_id) AS rn
                FROM documents)
            WHERE rn = 1 AND n_chars BETWEEN 150 AND 500 AND lang = 'en'
            """
        ).fetchone()[0]
        if not out.audit_docs == out.landed_docs == keep:
            bad.append(f"materialize_corpus: audit {out.audit_docs}, "
                       f"table rows {out.landed_docs}, expected {keep}")
        return bad
    finally:
        con.close()
