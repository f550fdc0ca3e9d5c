"""Mimics the driver's correctness gate: run every queries() entry via Spark
and its oracle_sql() via DuckDB on the same parquet tables, compare row
count, column names, and order-insensitive values (floats to 4dp)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("WHOOSH_SPARK_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(dicts: list[dict], order: list[str]) -> list[tuple]:
    """Rows as tuples in ``order`` with floats rounded to 4dp, sorted by
    their repr with -0.0 read as 0.0. The rounded values keep their sign,
    which a value hash that formats floats tells apart."""
    out = [tuple(round(v, 4) if isinstance(v, float) else v
                 for v in (d[c] for c in order)) for d in dicts]

    def key(row):
        return repr(tuple(v + 0.0 if isinstance(v, float) else v for v in row)), repr(row)

    return sorted(out, key=key)


NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    sdicts = [r.asDict() for r in sdf.collect()]
    if sql is None:
        assert isinstance(sdicts, list)  # rows-only check
        return
    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    ddicts = [dict(zip(dcols, r)) for r in res.fetchall()]
    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(sdicts) == len(ddicts), f"{name}: rows {len(sdicts)} vs {len(ddicts)}"
    order = sorted(scols)
    a, b = _canon(sdicts, order), _canon(ddicts, order)
    for i, (ra, rb) in enumerate(zip(a, b)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                assert float(x) == pytest.approx(float(y), abs=2e-4), f"{name} row {i}: {ra} vs {rb}"
                assert math.copysign(1.0, x) == math.copysign(1.0, y), \
                    f"{name} row {i}: signed zero {ra} vs {rb}"
            else:
                assert x == y, f"{name} row {i}: {ra} vs {rb}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "score"]


def test_emb_lang_centroids_is_layout_invariant(spark, monkeypatch):
    """The r5 red driver row. Two layouts (shuffle partitions 3 vs 31,
    inputs repartitioned 5 vs 17 ways) must give identical values, equal
    to the DuckDB oracle at sf0.01. Values compare by ``repr``, as a value
    hash does, so 0.0 and -0.0 differ: DuckDB's ``round`` gives -0.0 for
    means in (-0.00005, 0) where Spark's gives 0.0."""
    import whoosh_spark.entry_pipeline as ep

    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    name = "emb_lang_centroids"
    raw_emb, raw_docs = ep._emb, ep._docs
    conf = {k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled")}
    runs = []
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for shuffle, n_in in ((3, 5), (31, 17)):
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
            monkeypatch.setattr(ep, "_emb", lambda s, d, n=n_in: raw_emb(s, d).repartition(n))
            monkeypatch.setattr(ep, "_docs", lambda s, d, n=n_in: raw_docs(s, d).repartition(n))
            sdf = entry_mod.queries()[name](spark, sf)
            runs.append(sorted(repr(tuple(r[c] for c in sorted(sdf.columns)))
                               for r in sdf.collect()))
    finally:
        for k, v in conf.items():
            spark.conf.set(k, v)
    assert runs[0] == runs[1]

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    res = con.execute(entry_mod.oracle_sql()[name])
    cols = [d[0] for d in res.description]
    oracle = sorted(repr(tuple(d[c] for c in sorted(cols)))
                    for d in (dict(zip(cols, r)) for r in res.fetchall()))
    assert runs[0] == oracle
