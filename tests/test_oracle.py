"""DuckDB oracle: each query in oracle_queries.QUERIES must return the
same rows as its independent DuckDB SQL over the same parquet tables.

Every pair runs at sf0.001; the pairs whose SQL pins constants that could
depend on corpus size (VALUES maps, seeded-simulation sums, identity
pins) also run at sf0.01. Rows are compared order-insensitively: same
columns, same row count, and the same canonical values (floats rounded to
1e-9).
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import pytest
from conftest import SF_DIR

import oracle_queries

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

SF_LARGE = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
PINNED = [
    "faf_by_nation",
    "lambda_gc_events",
    "balding_nichols_stats",
    "maximal_independent_set",
    "approx_cdf_struct",
]
CASES = [(SF_DIR, n) for n in oracle_queries.QUERIES] + [(SF_LARGE, n) for n in PINNED]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # JSON-style repr so +0.0 vs -0.0 differ here too — Python ==
        # hides the sign of zero.
        return json.dumps(round(v, 9))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):
        return canon(v.item())
    return v


def rows_to_canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon(r[i]) for i in order))
    out.sort(key=lambda t: json.dumps(t, default=str))
    return out


def _check_one(spark, con, sf_dir: str, fn, sql: str) -> str:
    """One query vs its oracle; returns the status string."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return f"SPARK FAIL: {type(e).__name__}: {str(e)[:200]}"
    # Array/map cells have no portable sort or hash (pandas sort_values
    # crashes on them), so outputs must be scalar columns. Structs
    # collect as Row, a hashable tuple, so only array/map are rejected.
    container = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map")
    ]
    if container:
        return (
            f"OUTPUT TYPE: column(s) {container} are array/map — "
            "posexplode to scalar rows or md5(to_json(...)) the column"
        )
    try:
        ddf = con.sql(sql)
        dcols = [c.lower() for c in ddf.columns]
        dtypes = [str(t) for t in ddf.types]
        drows = ddf.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"ORACLE FAIL: {type(e).__name__}: {str(e)[:200]}"
    # Bare DuckDB integer aggregates come back as HUGEINT/DECIMAL —
    # value-identical to Spark's BIGINT but a different type under an
    # Arrow-level compare.
    wide = [
        c
        for c, t in zip(dcols, dtypes)
        if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")
    ]
    if wide:
        return (
            f"ORACLE TYPE: column(s) {wide} are HUGEINT/DECIMAL — "
            "add CAST(... AS BIGINT/DOUBLE) in the oracle SQL"
        )
    if sorted(c.lower() for c in scols) != sorted(dcols):
        return f"COLS MISMATCH spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}"
    a = rows_to_canonical([c.lower() for c in scols], srows)
    b = rows_to_canonical(dcols, drows)
    if a == b:
        return f"OK ({len(srows)} rows)"
    bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
    return (
        f"VALUES MISMATCH ({len(srows)} rows) first diff row {bad}:\n"
        f"    spark: {a[bad]}\n    duck : {b[bad]}"
    )


@pytest.fixture(scope="module", autouse=True)
def staging(tmp_path_factory):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(oracle_queries, "STAGING", str(tmp_path_factory.mktemp("oracle_staging")))
        yield


@pytest.fixture(scope="module")
def duck():
    cons = {}

    def get(sf_dir):
        if sf_dir not in cons:
            con = cons[sf_dir] = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return cons[sf_dir]

    yield get
    for con in cons.values():
        con.close()


@pytest.mark.parametrize(
    "sf_dir, name", CASES, ids=[f"{os.path.basename(sf)}-{n}" for sf, n in CASES]
)
def test_oracle(spark, duck, sf_dir, name):
    fn, sql = oracle_queries.QUERIES[name]
    status = _check_one(spark, duck(sf_dir), sf_dir, fn, sql)
    assert status.startswith("OK"), f"{name} at {sf_dir}: {status}"
