"""Benchmark inputs: generated, never read from outside the checkout.

* ``query_suite`` reads a TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, shaped like the sf0.1 fixture
  set: same tables, columns and types, row counts, key ranges and value
  domains, one row group per file.  It is generated once from a fixed seed,
  and its expected per-query row counts come from the DuckDB oracle SQL in
  ``__spark_entry__.oracle_sql()`` run over the same files.
* ``tile_rollup`` reads a parquet pages table shaped like ``synth.pages``
  with seed-offset page ids, and its expected rollup totals come from the
  shared geocode/hex SQL run in DuckDB.
* the ``landcover`` probe set of traced ``tile_rollup`` runs reads a
  CLC-like coverage of touching rectangles with holes, generated from the
  seed.

Everything is cached under ``<checkout>/.bench_cache`` keyed by (size,
seed).  A cache entry becomes visible only once it is complete.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

SUITE_SEED = 42
SUITE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
              "orders": 150000, "lineitem": 600000, "events": 100000,
              "documents": 5000, "embeddings": 2000}
_WORDS = ("query row stream the spark line small fast group customer batch "
          "sort value hash filter big data part column order scan a slow agg "
          "key window table merge vector join").split()
PAGES = 2_000_000                    # tile_rollup pages per seed
_PAGE_FILES = 8
_PAGE_SEED_STRIDE = 10_000_000       # page ids of one seed: [off, off + n)
GRID = 60                            # landcover probes: GRID x GRID rects
_COVER_FILES = 4                     # one input partition per file
LANDCOVER_CODES = ("112", "211", "311", "411", "512")
MASK_SIDE_M = 50_000.0
_KEEP_PER_KIND = 3                   # cached seeded inputs kept per kind


def cached(cache: str, name: str, build) -> None:
    """Build ``cache/name`` with ``build(tmp_path)`` unless a complete copy
    exists.  Older entries of the same kind (the name up to its first
    ``-``) beyond ``_KEEP_PER_KIND`` are evicted."""
    path = os.path.join(cache, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    kind = name.split("-", 1)[0] + "-"
    same = sorted((e for e in os.listdir(cache)
                   if e.startswith(kind) and ".tmp" not in e
                   and e != name),
                  key=lambda e: os.path.getmtime(os.path.join(cache, e)))
    for old in same[:max(0, len(same) - (_KEEP_PER_KIND - 1))]:
        shutil.rmtree(os.path.join(cache, old), ignore_errors=True)


# ---------------------------------------------------------------------------
# query_suite: fixed star schema + oracle row counts
# ---------------------------------------------------------------------------

def _write(out: str, name: str, frame) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.Table.from_pandas(frame, preserve_index=False)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, len(frame)), compression="snappy")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def write_suite_tables(out: str, seed: int = SUITE_SEED) -> None:
    import pandas as pd
    rng = np.random.default_rng(seed)
    n = SUITE_ROWS
    _write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(segments, n["customer"])}))
    _write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}))
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
    pk = np.arange(n["part"], dtype=np.int64)
    _write(out, "part", pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, len(pk)), rng.integers(0, 8, len(pk)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": rng.choice(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                       "SMALL", "STANDARD"]), len(pk)),
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}))
    no = n["orders"]
    _write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(np.array([
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), no)}))
    nl = n["lineitem"]
    _write(out, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
        "l_linestatus": rng.choice(np.array(["F", "O"]), nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)}))
    ne = n["events"]
    secs = np.sort(rng.uniform(0.0, 30 * 86400.0, ne))
    _write(out, "events", pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": rng.choice(np.array(["click", "error", "purchase",
                                           "signup", "view"]), ne),
        "value": _money(rng, 0.0, 560.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}))
    nd = n["documents"]
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 101)))))
    _write(out, "documents", pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "de", "fr", "es", "zh"]), nd,
                           p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, nv).astype(np.int32)}))


def oracle_row_counts(table_dir: str, names: list[str], threads: int) -> dict:
    """Row count of each named query per the DuckDB oracle SQL."""
    import duckdb

    import __spark_entry__ as entry
    con = duckdb.connect(config={"threads": threads})
    try:
        for t in entry.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_dir}/{t}.parquet')")
        sql = entry.oracle_sql()
        return {q: con.execute(f"SELECT COUNT(*) FROM ({sql[q]}) AS t")
                .fetchone()[0] for q in names}
    finally:
        con.close()


def _write_suite(tmp: str, cores: int) -> None:
    import bench
    write_suite_tables(tmp)
    rows = oracle_row_counts(tmp, list(bench.BENCH_QUERIES), cores)
    with open(os.path.join(tmp, "oracle_rows.json"), "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# tile_rollup: seeded pages + DuckDB rollup totals
# ---------------------------------------------------------------------------

def _write_pages(tmp: str, seed: int) -> None:
    """A pages table shaped like ``synth.pages`` (FIXTURES.md F1): each
    page's text is 12 words picked by arithmetic on its row number, and the
    seed offsets the page ids, hence the geocoded locations.  Written as
    ``_PAGE_FILES`` parquet files by DuckDB."""
    import duckdb
    off = (seed % 1_000_003) * _PAGE_SEED_STRIDE
    vocab = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    words = ", ".join(f"{vocab}[(id * {48271 + 2 * j} + {7919 * j}) "
                      f"% {len(_WORDS)} + 1]" for j in range(12))
    data = os.path.join(tmp, "data")
    os.makedirs(data)
    step = PAGES // _PAGE_FILES
    con = duckdb.connect(config={"threads": 8})
    try:
        for i in range(_PAGE_FILES):
            con.execute(
                f"COPY (SELECT id + {off} AS page_id, "
                f"concat_ws(' ', {words}) AS text, "
                f"['en', 'de', 'da', 'et', 'pl'][id % 5 + 1] AS lang "
                f"FROM range({i * step}, {(i + 1) * step}) AS r(id)) "
                f"TO '{data}/part-{i}.parquet' (FORMAT parquet)")
    finally:
        con.close()
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(_pages_oracle(data), f, sort_keys=True)


def _pages_oracle(data: str) -> dict:
    """Cell count, page count and character total of the per-cell rollup,
    from the shared geocode/hex SQL run in DuckDB."""
    import duckdb

    from hexscape_spark import sqlgen
    con = duckdb.connect(config={"threads": 8})
    try:
        src = f"(SELECT * FROM read_parquet('{data}/*.parquet'))"
        cells = (f"SELECT cell_id, q, r, COUNT(*) AS n, SUM(length(text)) AS c "
                 f"FROM ({sqlgen.assign_sql(src, 'page_id', keep=['text'])}) "
                 "AS t GROUP BY cell_id, q, r")
        n_cells, n_pages, chars = con.execute(
            f"SELECT COUNT(*), SUM(n), SUM(c) FROM ({cells}) AS g").fetchone()
        return {"cells": int(n_cells), "pages": int(n_pages),
                "chars": int(chars)}
    finally:
        con.close()


# ---------------------------------------------------------------------------
# landcover probes: seeded touching-rectangle coverage with holes
# ---------------------------------------------------------------------------

def coverage_rows(grid: int, seed: int) -> list[tuple[int, str, bytes]]:
    """``grid`` x ``grid`` touching rectangles over the square mask with
    jittered shared edges; 10% of them are left out as holes.  Returns
    (poly_id, clc, wkb) rows."""
    from hexscape_spark import geo
    rng = np.random.default_rng(seed)
    step = MASK_SIDE_M / grid

    def edges():
        e = np.arange(grid + 1) * step
        e[1:-1] += rng.uniform(-0.3, 0.3, grid - 1) * step
        return e

    xs, ys = edges(), edges()
    keep = np.ones(grid * grid, dtype=bool)
    keep[rng.permutation(grid * grid)[:grid * grid // 10]] = False
    codes = rng.choice(np.array(LANDCOVER_CODES), grid * grid)
    return [(int(k), str(codes[k]),
             geo.rect_wkb(float(xs[k % grid]), float(ys[k // grid]),
                          float(xs[k % grid + 1]), float(ys[k // grid + 1])))
            for k in np.nonzero(keep)[0]]


def _write_coverage(tmp: str, seed: int) -> None:
    import pandas as pd
    rows = coverage_rows(GRID, seed)
    step = -(-len(rows) // _COVER_FILES)
    for i in range(_COVER_FILES):
        _write(tmp, f"coverage-{i}", pd.DataFrame(
            rows[i * step:(i + 1) * step],
            columns=["poly_id", "clc", "geom_wkb"]))


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------

def entry_name(kind: str, seed: int) -> str:
    return {"query_suite": f"suite-sf0.1-s{SUITE_SEED}",
            "tile_rollup": f"pages-{PAGES}-s{seed}",
            "landcover": f"landcover-{GRID}-s{seed}"}[kind]


def ready(cache: str, kind: str, seed: int) -> bool:
    return os.path.exists(os.path.join(cache, entry_name(kind, seed),
                                       "_DONE"))


def build(cache: str, kind: str, seed: int, cores: int) -> None:
    os.makedirs(cache, exist_ok=True)
    writer = {"query_suite": lambda t: _write_suite(t, cores),
              "tile_rollup": lambda t: _write_pages(t, seed),
              "landcover": lambda t: _write_coverage(t, seed)}[kind]
    cached(cache, entry_name(kind, seed), writer)


def load(cache: str, kind: str, seed: int) -> dict:
    """Paths (and expected results) of a built input."""
    path = os.path.join(cache, entry_name(kind, seed))
    os.utime(path)
    if kind == "query_suite":
        with open(os.path.join(path, "oracle_rows.json")) as f:
            return {"tables": path, "rows": json.load(f)}
    if kind == "tile_rollup":
        with open(os.path.join(path, "expected.json")) as f:
            return {"pages": os.path.join(path, "data"),
                    "totals": json.load(f)}
    return {"coverage": [os.path.join(path, f"coverage-{i}.parquet")
                         for i in range(_COVER_FILES)]}


if __name__ == "__main__":
    # python3 perfbench/inputs.py <cache dir> <kind> <seed> <cores>:
    # the benchmark builds missing inputs in this separate process, so the
    # measured process neither pays for nor is shaped by generating them
    import sys
    _cache, _kind, _seed, _cores = sys.argv[1:5]
    build(_cache, _kind, int(_seed), int(_cores))
