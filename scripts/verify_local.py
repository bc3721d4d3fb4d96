"""Local stand-in for the driver's correctness gate: run every
queries() entry and its oracle_sql() side-by-side at sf0.01 and compare
row counts + order-insensitive canonicalized values (floats rounded to
1e-9, like the driver per FIXTURES.md).

``run_gate(spark, sf_dir, only=None)`` is importable (the two-SF pytest
guard in tests/test_oracle_two_sf.py uses it so SF-pinned oracle
constants can never recur); the CLI wraps it.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # JSON-style repr so +0.0 vs -0.0 (and any bit-level float
        # divergence the driver's value-hash would catch) differ here
        # too — Python == hides the sign of zero (r03 ld_matrix_window).
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


def _check_one(spark, con, sf_dir: str, name: str, fn, oracles) -> str:
    """One query vs its oracle; returns the status string."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return f"SPARK FAIL: {type(e).__name__}: {str(e)[:200]}"
    # The DRIVER harness canonicalizes with pandas sort_values, which
    # crashes on list/dict cells (r05 pool_embeddings_mean red) — our
    # canon() handles them, so a raw-container output column is a
    # local-green/driver-red trap. Reject it here so the class is dead.
    # (structs collect as Row — a hashable tuple the driver sorts fine,
    # e.g. approx_cdf_struct green r03 — so only array/map are fatal.)
    container = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map")
    ]
    if name in oracles and container:
        return (
            f"OUTPUT TYPE: column(s) {container} are array/map — "
            "the driver canonicalizer cannot sort container cells; "
            "posexplode to scalar rows or md5(to_json(...)) the column"
        )
    if name not in oracles:
        return f"rows-only ({len(srows)} rows, no oracle)"
    try:
        ddf = con.sql(oracles[name])
        dcols = [c.lower() for c in ddf.columns]
        dtypes = [str(t) for t in ddf.types]
        drows = ddf.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"ORACLE FAIL: {type(e).__name__}: {str(e)[:200]}"
    # Bare DuckDB integer aggregates come back as HUGEINT/DECIMAL —
    # value-identical to Spark's BIGINT but hash-divergent under the
    # driver's Arrow canonicalization (r03 binom/summarize reds).
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
    dt = time.time() - t0
    if sorted(c.lower() for c in scols) != sorted(dcols):
        return f"COLS MISMATCH spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}"
    a = rows_to_canonical([c.lower() for c in scols], srows)
    b = rows_to_canonical(dcols, drows)
    if a == b:
        return f"OK ({len(srows)} rows, {dt:.1f}s)"
    bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
    return (
        f"VALUES MISMATCH ({len(srows)} rows) first diff row {bad}:\n"
        f"    spark: {a[bad]}\n    duck : {b[bad]}"
    )


def run_gate(spark, sf_dir: str, only=None, workers: int | None = None) -> dict[str, str]:
    """Run the oracle gate; returns {query: status string} where status
    starts with 'OK' or 'rows-only' on success.

    ``workers`` > 1 checks queries CONCURRENTLY on a small driver thread
    pool (guide §2.6 — actions are independent jobs, so one query's
    straggler tail back-fills with the next query's stages; measured
    ~2.5x on the full 330-query gate). Default from
    $SPARK_GRAFT_GATE_WORKERS (1 = the old serial behavior). Each worker
    gets its own DuckDB cursor.
    """
    if workers is None:
        workers = int(os.environ.get("SPARK_GRAFT_GATE_WORKERS", "1"))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = [n for n in qs if not only or n in only]
    results: dict[str, str] = {}
    if workers <= 1:
        for name in names:
            results[name] = _check_one(spark, con, sf_dir, name, qs[name], oracles)
        return results
    from concurrent.futures import ThreadPoolExecutor

    def work(name):
        cur = con.cursor()
        try:
            return name, _check_one(spark, cur, sf_dir, name, qs[name], oracles)
        finally:
            cur.close()

    with ThreadPoolExecutor(max_workers=workers) as pool:
        for name, res in pool.map(work, names):
            results[name] = res
    return results


def main():
    from hail_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = get_spark("verify_local")
    results = run_gate(spark, sf_dir, only)
    width = max(len(n) for n in results)
    fails = 0
    for name, res in results.items():
        ok = res.startswith("OK") or res.startswith("rows-only")
        if not ok:
            fails += 1
        print(f"{'PASS' if ok else 'FAIL'}  {name:<{width}}  {res}")
    print(f"\n{len(results) - fails}/{len(results)} passed")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
