"""Seeded input generator for the benchmark (DuckDB, no Spark).

Writes parquet tables under a data directory and returns the counts the
benchmark's correctness gate compares the program's outputs against. The
counts come from the generator's own per-document flags (SQL over the
generated rows), never from ``valideer_spark.plans``.

Documents follow FIXTURES.md section A. Each invalid document carries
exactly one injected fault at span 0, so it yields exactly one violation
row under the flagship schema:

* ``v1`` span kind outside the enum ("figure");
* ``v2`` a text span with NULL text;
* ``v3`` a media_ref with a suffix-only pattern match ("Xmedia://...");
* ``v3b`` a media_ref with a 5-digit id (pins the ``$`` anchor);
* ``v4`` a negative offset;
* ``v7`` an empty spans array (min_length=1).

Independently of row validity, a ``HOT_SHARE`` of documents reuse one hot
``doc_id`` (uniqueness, skew), and an ``ORPHAN_SHARE`` of documents have
their media refs left out of the generated ``media_catalog``
(referential). Every media ref is unique: an 8-hex token that is a
bijection of the document index, plus the span number.

TPC-H tables come from DuckDB's bundled ``dbgen`` at a fixed scale
factor; the seed then picks which ``part`` and ``supplier`` rows are
dropped (orphans), which ``l_key`` values collide (duplicates), which
``l_linestatus`` values flip (functional-dependency violations) and the
drift factor of the reference snapshot.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import duckdb

FAULT_CLASSES = ("v1", "v2", "v3", "v3b", "v4", "v7")
KINDS = ("text", "image", "audio", "video", "table")
# One flagship-schema violation per injected fault (module docstring).
VIOLATIONS_PER_FAULT = 1
DOC_FILES = 16
# Shares of documents that reuse the hot doc_id and that have their media
# refs left out of the catalog.
HOT_SHARE = 0.005
ORPHAN_SHARE = 0.005

# Quantiles and bound of the NoDrift constraint; the reference snapshot
# scales l_extendedprice by a seeded factor in [1.2, 1.4), which moves
# every quantile by more than twice this bound.
DRIFT_PROBS = (0.05, 0.25, 0.5, 0.75, 0.95)
DRIFT_MAX_ABS_DIFF = 400.0


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    return con


def _u(expr: str, seed: int, tag: str) -> str:
    """SQL for a seeded uniform integer in [0, 1e6) keyed by ``expr``."""
    return f"(hash({expr}, {int(seed)}, '{tag}') % 1000000)"


def _docs_sql(n_docs: int, seed: int, invalid_share: float) -> str:
    inv = int(invalid_share * 1_000_000)
    hot = int(HOT_SHARE * 1_000_000)
    orph = int(ORPHAN_SHARE * 1_000_000)
    classes = "[" + ", ".join(f"'{c}'" for c in FAULT_CLASSES) + "]"
    kind0 = "CASE (kbase + 2 * j) % 5 " + " ".join(
        f"WHEN {n} THEN '{k}'" for n, k in enumerate(KINDS)) + " END"
    # hot_index is the document whose own id is the hot key; it is never
    # itself redirected, so the hot key occurs 1 + (redirected docs) times
    return f"""
CREATE OR REPLACE TABLE docs_flags AS
WITH params AS (
  SELECT CAST(hash({int(seed)}, 'mask') % 4294967296 AS BIGINT) AS mask,
         CAST(hash({int(seed)}, 'hot') % {int(n_docs)} AS BIGINT) AS hot_index
), base AS (
  SELECT range AS i FROM range({int(n_docs)})
)
SELECT
  i,
  CASE WHEN {_u('i', seed, 'inv')} < {inv}
       THEN {classes}[CAST(hash(i, {int(seed)}, 'cls') % {len(FAULT_CLASSES)} AS INTEGER) + 1]
       END AS fault,
  ({_u('i', seed, 'hot')} < {hot} AND i <> hot_index) AS is_hot,
  {_u('i', seed, 'orph')} < {orph} AS is_orphan,
  printf('%08x', xor(i, mask)) AS tok,
  CAST(hash(i, {int(seed)}, 'n') % 8 + 1 AS INTEGER) AS n_spans,
  CAST(hash(i, {int(seed)}, 'k') % 5 AS INTEGER) AS kbase,
  hot_index
FROM base, params;

CREATE OR REPLACE TABLE documents AS
SELECT
  i, fault, is_hot, is_orphan,
  CASE WHEN is_hot THEN printf('doc-%012d', hot_index)
       ELSE printf('doc-%012d', i) END AS doc_id,
  CASE WHEN fault = 'v7' THEN
    []::STRUCT(kind VARCHAR, text VARCHAR, media_ref VARCHAR, "offset" INTEGER)[]
  ELSE list_transform(range(0, n_spans), j -> {{
      'kind': CASE WHEN j = 0 AND fault = 'v1' THEN 'figure'
                   WHEN j = 0 AND fault = 'v2' THEN 'text'
                   WHEN j = 0 AND fault IN ('v3', 'v3b') THEN 'image'
                   ELSE {kind0} END,
      'text': CASE WHEN j = 0 AND fault IN ('v1', 'v2', 'v3', 'v3b') THEN NULL
                   WHEN {kind0} = 'text'
                   THEN 'txt-' || i || '-' || j || ' ' || repeat('w', CAST((kbase * 7 + j * 13) % 48 AS INTEGER))
                   END,
      'media_ref': CASE WHEN j = 0 AND fault = 'v2' THEN NULL
                        WHEN j = 0 AND fault = 'v3' THEN 'Xmedia://' || tok || '/1'
                        WHEN j = 0 AND fault = 'v3b' THEN 'media://' || tok || '/' || (10000 + j)
                        WHEN j = 0 AND fault = 'v1' THEN 'media://' || tok || '/' || (j + 1)
                        WHEN {kind0} <> 'text' THEN 'media://' || tok || '/' || (j + 1)
                        END,
      'offset': CASE WHEN j = 0 AND fault = 'v4' THEN -1
                     ELSE CAST(j * (i % 17 + 1) AS INTEGER) END
    }})
  END AS spans
FROM docs_flags;
"""


def _write_docs(con, data_dir: str) -> None:
    """Write ``documents.parquet`` as DOC_FILES files split by index, so
    Spark gets several splits and file contents do not depend on threads."""
    out = os.path.join(data_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    for k in range(DOC_FILES):
        path = os.path.join(out, f"part-{k:03d}.parquet")
        con.execute(
            f"COPY (SELECT doc_id, spans FROM documents WHERE i % {DOC_FILES} = {k} "
            f") TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 16384)"
        )


def _write_catalog(con, data_dir: str) -> None:
    path = os.path.join(data_dir, "media_catalog.parquet")
    con.execute(
        f"""COPY (
          SELECT media_ref, 'blob' AS media_kind, length(media_ref) * 1024 AS bytes
          FROM (SELECT unnest(spans).media_ref AS media_ref FROM documents
                WHERE NOT is_orphan)
          WHERE media_ref IS NOT NULL
        ) TO '{path}' (FORMAT parquet)"""
    )


def _docs_expected(con) -> dict:
    row = con.execute(
        """SELECT count(*), count(*) FILTER (WHERE fault IS NULL),
                  count(*) FILTER (WHERE is_hot), sum(len(spans))
           FROM documents"""
    ).fetchone()
    per_class = dict(
        con.execute(
            "SELECT fault, count(*) FROM documents WHERE fault IS NOT NULL GROUP BY 1"
        ).fetchall()
    )
    faults = {c: int(per_class.get(c, 0)) for c in FAULT_CLASSES}
    orphans = con.execute(
        """SELECT count(DISTINCT m) FROM (
             SELECT unnest(spans).media_ref AS m FROM documents WHERE is_orphan)
           WHERE m IS NOT NULL"""
    ).fetchone()[0]
    hot_id = con.execute(
        "SELECT printf('doc-%012d', any_value(hot_index)) FROM docs_flags"
    ).fetchone()[0]
    n_hot = int(row[2])
    return {
        "n_docs": int(row[0]),
        "n_valid": int(row[1]),
        "n_spans": int(row[3]),
        "violations_per_class": faults,
        "n_violation_rows": VIOLATIONS_PER_FAULT * sum(faults.values()),
        "hot_doc_id": hot_id,
        "hot_occurrences": 1 + n_hot if n_hot else 0,
        "duplicate_keys": 1 if n_hot else 0,
        "orphan_refs": int(orphans),
    }


def generate_docs(data_dir: str, n_docs: int, seed: int, invalid_share: float,
                  catalog: bool = False) -> dict:
    """Write the seeded documents table (and optionally its media catalog)
    under ``data_dir``; return the expected counts."""
    os.makedirs(data_dir, exist_ok=True)
    con = _connect()
    try:
        con.execute(_docs_sql(n_docs, seed, invalid_share))
        _write_docs(con, data_dir)
        if catalog:
            _write_catalog(con, data_dir)
        return _docs_expected(con)
    finally:
        con.close()


def generate_tpch(data_dir: str, seed: int, sf: float) -> dict:
    """Write seeded ``lineitem``, ``part``, ``supplier`` and
    ``lineitem_prev`` tables; return the expected violations per
    constraint, computed by DuckDB over the written parquet."""
    os.makedirs(data_dir, exist_ok=True)
    con = _connect()
    s = int(seed)
    try:
        con.execute(f"CALL dbgen(sf={float(sf)})")
        # l_key = l_orderkey * 8 + l_linenumber is unique; a seeded 0.05%
        # of rows take the key of their order's first line (duplicates),
        # and 0.02% flip l_linestatus (breaks l_shipdate -> l_linestatus)
        con.execute(
            f"""CREATE OR REPLACE TABLE li AS SELECT
                  CASE WHEN l_linenumber > 1 AND {_u('l_orderkey, l_linenumber', s, 'dup')} < 500
                       THEN l_orderkey * 8 + 1 ELSE l_orderkey * 8 + l_linenumber END AS l_key,
                  l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                  CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                  l_discount, l_tax, l_returnflag,
                  CASE WHEN {_u('l_orderkey, l_linenumber', s, 'fd')} < 200
                       THEN CASE l_linestatus WHEN 'O' THEN 'F' ELSE 'O' END
                       ELSE l_linestatus END AS l_linestatus,
                  l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct,
                  l_shipmode, l_comment
                FROM lineitem ORDER BY l_orderkey, l_linenumber"""
        )
        factor = 1.2 + 0.2 * random.Random(s).random()
        paths = {
            name: os.path.join(data_dir, f"{name}.parquet")
            for name in ("lineitem", "part", "supplier", "lineitem_prev")
        }
        con.execute(f"COPY li TO '{paths['lineitem']}' (FORMAT parquet, ROW_GROUP_SIZE 65536)")
        con.execute(
            f"COPY (SELECT * FROM part WHERE {_u('p_partkey', s, 'part')} >= 10000 "
            f"ORDER BY p_partkey) TO '{paths['part']}' (FORMAT parquet)"
        )
        con.execute(
            f"COPY (SELECT * FROM supplier WHERE {_u('s_suppkey', s, 'supp')} >= 20000 "
            f"ORDER BY s_suppkey) TO '{paths['supplier']}' (FORMAT parquet)"
        )
        con.execute(
            f"COPY (SELECT l_extendedprice * {factor!r} AS l_extendedprice FROM li "
            f"WHERE l_orderkey % 2 = 1 ORDER BY l_orderkey, l_linenumber) "
            f"TO '{paths['lineitem_prev']}' (FORMAT parquet)"
        )
        return _tpch_expected(con, paths)
    finally:
        con.close()


def _tpch_expected(con, paths: dict) -> dict:
    """Violations per constraint, recomputed from the written parquet."""
    li = f"read_parquet('{paths['lineitem']}')"
    one = lambda sql: int(con.execute(sql).fetchone()[0])  # noqa: E731
    q_cur = con.execute(
        f"SELECT quantile_cont(l_extendedprice, {list(DRIFT_PROBS)}) FROM {li}"
    ).fetchone()[0]
    q_prev = con.execute(
        f"SELECT quantile_cont(l_extendedprice, {list(DRIFT_PROBS)}) "
        f"FROM read_parquet('{paths['lineitem_prev']}')"
    ).fetchone()[0]
    diffs = [abs(a - b) for a, b in zip(q_cur, q_prev)]
    # percentile_approx is within 1e-4 relative rank of the exact
    # quantile; the factor range keeps every diff far from the bound
    if any(abs(d - DRIFT_MAX_ABS_DIFF) < 0.25 * DRIFT_MAX_ABS_DIFF for d in diffs):
        raise RuntimeError(f"drift quantile diffs {diffs} too close to the bound")
    stats = con.execute(
        f"SELECT min(l_quantity), max(l_quantity), count(*) FILTER (WHERE l_quantity IS NULL) FROM {li}"
    ).fetchone()
    return {
        "n_lineitem": one(f"SELECT count(*) FROM {li}"),
        "unique:l_key": one(
            f"SELECT count(*) FROM (SELECT l_key FROM {li} GROUP BY 1 HAVING count(*) > 1)"
        ),
        "references:l_partkey": one(
            f"SELECT count(DISTINCT l_partkey) FROM {li} WHERE l_partkey NOT IN "
            f"(SELECT p_partkey FROM read_parquet('{paths['part']}'))"
        ),
        "references:l_suppkey": one(
            f"SELECT count(DISTINCT l_suppkey) FROM {li} WHERE l_suppkey NOT IN "
            f"(SELECT s_suppkey FROM read_parquet('{paths['supplier']}'))"
        ),
        # StatsBounds(l_quantity, min 1, max 50, null rate 0) is written to
        # pass; a regression that mis-evaluates it shows as a violation
        "stats:l_quantity": int(stats[0] < 1) + int(stats[1] > 50) + int(stats[2] > 0),
        "fd:l_shipdate->l_linestatus": one(
            f"SELECT count(*) FROM (SELECT l_shipdate FROM {li} GROUP BY 1 "
            f"HAVING count(DISTINCT l_linestatus) > 1)"
        ),
        "drift:l_extendedprice": sum(d > DRIFT_MAX_ABS_DIFF for d in diffs),
    }


# Inputs per workload: documents (count, invalid share, with catalog) and
# whether the TPC-H tables are written.
INPUTS = {
    "docs_check": {"docs": (200_000, 0.05, False), "tpch": False},
    "table_constraints": {"docs": (50_000, 0.05, True), "tpch": True},
}
TPCH_SF = 0.1


def generate_inputs(workload: str, seed: int, data_dir: str) -> dict:
    """Write ``workload``'s inputs under ``data_dir``; return the expected
    counts (TPC-H ones keyed by constraint name)."""
    n_docs, invalid_share, catalog = INPUTS[workload]["docs"]
    expected = generate_docs(data_dir, n_docs, seed, invalid_share, catalog=catalog)
    if INPUTS[workload]["tpch"]:
        expected.update(generate_tpch(data_dir, seed, TPCH_SF))
    return expected


if __name__ == "__main__":
    # python3 gen.py <workload> <seed> <data_dir>: writes the inputs and
    # prints one JSON line with the expected counts and the time taken
    t0 = time.perf_counter()
    counts = generate_inputs(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({"expected": counts, "seconds": time.perf_counter() - t0}))
