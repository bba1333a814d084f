"""The oracle registry's gate: every queries() entry runs on Spark; its
oracle_sql() entry runs on DuckDB over the same parquet; the two must
match on row-count + schema-ordered values (order-insensitive)."""

import math
import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("MRE_ORACLE_SF", "/root/testdata/sf0.001")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con.execute(sql).fetch_df()


def _normalize(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf


def _values_equal(a, b, exact: bool = False) -> bool:
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            if exact:
                return fa == fb
            return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


def test_every_query_has_an_oracle():
    """Every registry entry has an exact oracle (no rows-only checks), and
    every oracle has a query."""
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, name, tmp_path, monkeypatch):
    # queries that run a job into a scratch dir (mkdtemp) get it under
    # this test's tmp_path, which pytest owns and prunes — not in /tmp
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    got = sdf.toPandas()
    exp = _duck(entrymod.oracle_sql()[name])
    assert len(got) == len(exp), f"{name}: rowcount {len(got)} != {len(exp)}"
    assert sorted(got.columns) == sorted(exp.columns), \
        f"{name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    g, e = _normalize(got), _normalize(exp)
    import numpy as np
    for col in g.columns:
        # driver-strength dtype gate (VERDICT r7 #2): the driver hashes
        # pandas frames, so an integer-typed Spark column against a
        # float-typed oracle column (e.g. an uncast DuckDB sum() whose
        # HUGEINT widens the frame — rule 8, SURVEY §7.2) diverges on
        # EVERY row even when the values agree. Mirror that: if Spark
        # renders integral, the oracle must too, and compare exactly.
        g_int = np.issubdtype(g[col].dtype, np.integer)
        e_int = np.issubdtype(e[col].dtype, np.integer)
        assert not (g_int and np.issubdtype(e[col].dtype, np.floating)), (
            f"{name}.{col}: oracle dtype {e[col].dtype} vs Spark "
            f"{g[col].dtype} — uncast integer sum in the oracle? "
            f"(rule 8: CAST(sum(x) AS BIGINT))")
        exact = g_int or e_int
        gv, ev = g[col].tolist(), e[col].tolist()
        mism = [(i, a, b) for i, (a, b) in enumerate(zip(gv, ev))
                if not _values_equal(a, b, exact=exact)]
        assert not mism, f"{name}.{col}: first mismatches {mism[:5]}"


@pytest.mark.parametrize("name", ["minhash_near_dups", "dup_clusters",
                                  "lineage_rollup"])
def test_coverage_guard_fires_on_uncovered_corpus(name):
    """ADVICE r3: the loud-coverage probe must error on an UNCOVERED
    corpus even though the golden scan matches zero rows for it (the
    probe is a guaranteed-executed UNION ALL branch, not a row filter
    that an empty scan would skip)."""
    sql = entrymod.oracle_sql()[name]
    con = duckdb.connect()
    # one-row fake corpus: its corpus_key (sum of text lengths) and row
    # count match no covered sf dir, and the goldens contain zero rows
    # for it — the silent-pass mode the guard exists to prevent
    con.execute("CREATE VIEW documents AS SELECT CAST(1 AS BIGINT) AS "
                "doc_id, 'zz uncovered corpus probe' AS text, "
                "'zz' AS lang, 'zz' AS source, 25 AS n_chars")
    with pytest.raises(duckdb.Error, match="not covered"):
        con.execute(sql).fetch_df()

