"""The generator's expected counts, checked against the row validator
(``valideer_spark.core``, no Spark) on the rows it wrote."""

import duckdb

import gen
from valideer_spark.flagship import doc_schema


def _docs(data_dir):
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT doc_id, spans FROM read_parquet('{data_dir}/documents.parquet/*.parquet')"
        ).fetchall()
    finally:
        con.close()


def _doc(doc_id, spans):
    return {
        "doc_id": doc_id,
        "spans": [{k: v for k, v in s.items() if v is not None} for s in spans],
    }


def test_expected_counts_match_row_validator(tmp_path):
    expected = gen.generate_docs(str(tmp_path), 3000, seed=7, invalid_share=0.2, catalog=True)
    rows = _docs(tmp_path)
    schema = doc_schema()
    assert len(rows) == expected["n_docs"] == 3000
    assert sum(schema.is_valid(_doc(d, s)) for d, s in rows) == expected["n_valid"]
    assert expected["n_violation_rows"] == expected["n_docs"] - expected["n_valid"]
    assert all(expected["violations_per_class"][c] > 0 for c in gen.FAULT_CLASSES)
    ids = [d for d, _ in rows]
    assert ids.count(expected["hot_doc_id"]) == expected["hot_occurrences"] > 1
    assert len(set(ids)) == len(ids) - expected["hot_occurrences"] + 1

    con = duckdb.connect()
    try:
        catalog = {r[0] for r in con.execute(
            f"SELECT media_ref FROM read_parquet('{tmp_path}/media_catalog.parquet')"
        ).fetchall()}
    finally:
        con.close()
    refs = {sp["media_ref"] for _, s in rows for sp in s if sp["media_ref"] is not None}
    assert len(refs - catalog) == expected["orphan_refs"] > 0


def test_same_seed_same_inputs(tmp_path):
    a = gen.generate_docs(str(tmp_path / "a"), 1000, seed=3, invalid_share=0.1)
    b = gen.generate_docs(str(tmp_path / "b"), 1000, seed=3, invalid_share=0.1)
    c = gen.generate_docs(str(tmp_path / "c"), 1000, seed=4, invalid_share=0.1)
    assert a == b and a != c
    assert _docs(tmp_path / "a") == _docs(tmp_path / "b")


def test_tpch_expected_counts_are_seeded(tmp_path):
    a = gen.generate_tpch(str(tmp_path / "a"), seed=1, sf=0.01)
    b = gen.generate_tpch(str(tmp_path / "b"), seed=1, sf=0.01)
    assert a == b
    assert a["stats:l_quantity"] == 0
    assert a["drift:l_extendedprice"] == len(gen.DRIFT_PROBS)
    for name in ("unique:l_key", "references:l_partkey", "fd:l_shipdate->l_linestatus"):
        assert a[name] > 0, name
