"""NDArray struct ops (differential vs numpy)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hail_spark.expr import ndarray as nd


@pytest.fixture(scope="module")
def mats(spark):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(6):
        a = rng.normal(size=(3, 4))
        b = rng.normal(size=(4, 2))
        s = a @ a.T + 5 * np.eye(3)  # SPD for inv/eigh
        rows.append(
            {
                "id": i,
                "a": {"shape": [3, 4], "data": a.ravel().tolist()},
                "b": {"shape": [4, 2], "data": b.ravel().tolist()},
                "s": {"shape": [3, 3], "data": s.ravel().tolist()},
            }
        )
    schema = f"id int, a {nd.ND_TYPE}, b {nd.ND_TYPE}, s {nd.ND_TYPE}"
    return spark.createDataFrame(rows, schema), rows


def _np(row):
    return np.asarray(row["data"]).reshape(row["shape"])


def test_structural_ops(spark):
    df = spark.range(1).select(
        nd.arange(10).alias("r"),
        nd.full([2, 3], 7.0).alias("f"),
        nd.from_array(F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0))).alias("v"),
    )
    r = df.select(
        nd.ndsum("r").alias("s"),
        nd.ref("f", 1, 2).alias("f12"),
        nd.ndmap("v", lambda x: x * x).alias("sq"),
        nd.reshape("r", [2, 5]).alias("m"),
    ).first()
    assert r["s"] == 45.0
    assert r["f12"] == 7.0
    assert r["sq"]["data"] == [1.0, 4.0, 9.0]
    assert r["m"]["shape"] == [2, 5]
    r2 = df.select(nd.ref(nd.reshape("r", [2, 5]), 1, 3).alias("x")).first()
    assert r2["x"] == 8.0  # row-major [1][3]


def test_transpose_rowsums_concat(mats):
    df, rows = mats
    out = df.select(
        "id",
        nd.transpose2d("a").alias("at"),
        nd.row_sums("a").alias("rs"),
        nd.concat([F.col("a"), F.col("a")]).alias("cc"),
        nd.ndmap2("a", "a", lambda x, y: x + y).alias("dbl"),
    ).collect()
    for r in out:
        A = _np(rows[r["id"]]["a"])
        assert np.allclose(_np(r["at"]), A.T)
        assert np.allclose(_np(r["rs"]), A.sum(axis=1))
        assert _np(r["cc"]).shape == (6, 4)
        assert np.allclose(_np(r["dbl"]), 2 * A)


def test_numeric_kernels(mats):
    df, rows = mats
    out = df.select(
        "id",
        nd.matmul("a", "b").alias("ab"),
        nd.inv("s").alias("si"),
        nd.solve("s", "a").alias("sx"),
        nd.qr_r("a").alias("r"),
        nd.svd_singular_values("a").alias("sv"),
        nd.eigh_vals("s").alias("ev"),
    ).collect()
    for r in out:
        A, B, S = (_np(rows[r["id"]][k]) for k in ("a", "b", "s"))
        assert np.allclose(_np(r["ab"]), A @ B, atol=1e-12)
        assert np.allclose(_np(r["si"]), np.linalg.inv(S), atol=1e-10)
        assert np.allclose(_np(r["sx"]), np.linalg.solve(S, A), atol=1e-10)
        Rq = np.linalg.qr(A, mode="r")
        sign = np.sign(np.diag(Rq))
        sign[sign == 0] = 1
        assert np.allclose(_np(r["r"]), Rq * sign[:, None], atol=1e-10)
        assert np.allclose(_np(r["sv"]), np.linalg.svd(A, compute_uv=False), atol=1e-10)
        assert np.allclose(_np(r["ev"]), np.linalg.eigvalsh(S), atol=1e-10)


def test_singular_matrix_returns_null(spark):
    df = spark.createDataFrame(
        [{"m": {"shape": [2, 2], "data": [1.0, 2.0, 2.0, 4.0]}}], f"m {nd.ND_TYPE}"
    )
    assert df.select(nd.inv("m").alias("i")).first()["i"] is None


def test_vstack_hstack(spark):
    from hail_spark.expr import ndarray as nd

    df = spark.range(1)
    a = nd.make([2, 2], F.array(*[F.lit(float(x)) for x in [1, 2, 3, 4]]))
    b = nd.make([1, 2], F.array(F.lit(5.0), F.lit(6.0)))
    v = df.select(nd.vstack([a, b]).alias("v")).collect()[0]["v"]
    assert v["shape"] == [3, 2] and v["data"] == [1, 2, 3, 4, 5, 6]
    c = nd.make([2, 1], F.array(F.lit(9.0), F.lit(10.0)))
    h = df.select(nd.hstack([a, c]).alias("h")).collect()[0]["h"]
    assert h["shape"] == [2, 3] and h["data"] == [1, 2, 9, 3, 4, 10]


def test_svd_eigh_qr_with_vectors(spark):
    import numpy as np

    from hail_spark.expr import ndarray as nd

    rng = np.random.default_rng(3)
    A = rng.normal(size=(5, 3))
    df = spark.range(1)
    a = nd.make([5, 3], F.array(*[F.lit(float(x)) for x in A.ravel()]))
    res = df.select(nd.svd(a).alias("s")).collect()[0]["s"]
    U = np.array(res["out0"]["data"]).reshape(5, 3)
    S = np.array(res["out1"]["data"])
    Vt = np.array(res["out2"]["data"]).reshape(3, 3)
    np.testing.assert_allclose(U @ np.diag(S) @ Vt, A, atol=1e-10)
    np.testing.assert_allclose(U.T @ U, np.eye(3), atol=1e-10)

    M = A.T @ A
    m = nd.make([3, 3], F.array(*[F.lit(float(x)) for x in M.ravel()]))
    eres = df.select(nd.eigh(m).alias("e")).collect()[0]["e"]
    w = np.array(eres["out0"]["data"])
    V = np.array(eres["out1"]["data"]).reshape(3, 3)
    np.testing.assert_allclose(V @ np.diag(w) @ V.T, M, atol=1e-10)
    np.testing.assert_allclose(np.sort(w), np.sort(S**2), atol=1e-8)

    qres = df.select(nd.qr(a).alias("q")).collect()[0]["q"]
    Q = np.array(qres["out0"]["data"]).reshape(5, 3)
    R = np.array(qres["out1"]["data"]).reshape(3, 3)
    np.testing.assert_allclose(Q @ R, A, atol=1e-10)
    assert np.all(np.diag(R) > 0)


def test_solve_triangular(spark):
    import numpy as np

    from hail_spark.expr import ndarray as nd

    A = np.array([[2.0, 1.0, 3.0], [0.0, 1.0, 4.0], [0.0, 0.0, 5.0]])
    b = np.array([[10.0], [12.0], [15.0]])
    df = spark.range(1)
    a_c = nd.make([3, 3], F.array(*[F.lit(float(x)) for x in A.ravel()]))
    b_c = nd.make([3, 1], F.array(*[F.lit(float(x)) for x in b.ravel()]))
    res = df.select(nd.solve_triangular(a_c, b_c).alias("x")).collect()[0]["x"]
    x = np.array(res["data"]).reshape(3, 1)
    np.testing.assert_allclose(A @ x, b, atol=1e-10)


def test_blockmatrix_svd(spark):
    import numpy as np

    from hail_spark.linalg.blockmatrix import BlockMatrix

    rng = np.random.default_rng(4)
    A = rng.normal(size=(40, 6))
    bm = BlockMatrix.from_numpy(spark, A, block_size=16)
    U, s, V = bm.svd()
    np.testing.assert_allclose(s, np.linalg.svd(A, compute_uv=False), atol=1e-8)
    Un = U.to_numpy()
    np.testing.assert_allclose(Un @ np.diag(s) @ V.T, A, atol=1e-8)
    np.testing.assert_allclose(Un.T @ Un, np.eye(6), atol=1e-8)
    s_only = bm.svd(compute_uv=False)
    np.testing.assert_allclose(s_only, s, atol=1e-12)


def test_nd_tail_eye_diagonal_maximum_minimum(spark):
    rng = np.random.default_rng(11)
    A = rng.normal(size=(3, 5))
    B = rng.normal(size=(3, 5))
    B[1, 2] = float("nan")
    df = spark.createDataFrame(
        [(A.flatten().tolist(), B.flatten().tolist())], ["a", "b"]
    )
    nda = nd.make([3, 5], F.col("a"))
    ndb = nd.make([3, 5], F.col("b"))
    row = df.select(
        nd.eye(3)["data"].alias("eye3"),
        nd.eye(2, 4)["data"].alias("eye24"),
        nd.diagonal(nda).alias("diag"),
        nd.maximum(nda, ndb)["data"].alias("mx"),
        nd.minimum(nda, ndb)["data"].alias("mn"),
    ).collect()[0]
    np.testing.assert_allclose(row["eye3"], np.eye(3).flatten())
    np.testing.assert_allclose(row["eye24"], np.eye(2, 4).flatten())
    assert row["diag"]["shape"] == [3]
    np.testing.assert_allclose(row["diag"]["data"], np.diag(A))
    # numpy maximum/minimum propagate NaN like the reference
    np.testing.assert_allclose(row["mx"], np.maximum(A, B).flatten())
    np.testing.assert_allclose(row["mn"], np.minimum(A, B).flatten())


