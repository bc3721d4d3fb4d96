"""BlockMatrix — distributed dense matrix in block-grid layout.

Parity target: Hail's ``BlockMatrix`` (ref hail/hail/src/is/hail/linalg/
BlockMatrix.scala, 2600 LoC; GridPartitioner.scala; Python
hail/python/hail/linalg/blockmatrix.py). Representation here: a
DataFrame with one row per (block_row, block_col) carrying the dense
block as ``data: array<double>`` (row-major) + block dims — the grid
partitioning is Spark hash partitioning on (bi, bj).

Strategy split:
* structural ops (transpose, elementwise arithmetic, scalar map,
  row/col sums, to-long) — pure Spark array HOFs, whole-stage codegen;
* multiply — the one genuinely numeric kernel: block pairs join on the
  inner index, numpy gemm per pair inside ``applyInPandas`` (Arrow
  batches; the same BLAS the reference calls via LAPACK.scala), partial
  products summed per output block.

At scale the multiply shuffles A once and B once (hash on the join
key), then one aggregation shuffle for the partial sums — matching the
communication pattern of the reference's tree_matmul.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SCHEMA = "bi bigint, bj bigint, r int, c int, data array<double>"


class BlockMatrix:
    def __init__(self, df: DataFrame, n_rows: int, n_cols: int, block_size: int):
        self.df = df  # columns: bi, bj, r, c, data (row-major)
        self.n_rows = n_rows
        self.n_cols = n_cols
        self.block_size = block_size

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #
    @classmethod
    def from_long(
        cls,
        df: DataFrame,
        n_rows: int,
        n_cols: int,
        block_size: int = 1024,
        i: str = "i",
        j: str = "j",
        v: str = "v",
    ) -> "BlockMatrix":
        """Build from a long (i, j, value) DataFrame; absent cells = 0
        (ref BlockMatrix.from_entry_expr, blockmatrix.py)."""
        bs = block_size
        blocks = (
            df.select(
                (F.col(i) / bs).cast("bigint").alias("bi"),
                (F.col(j) / bs).cast("bigint").alias("bj"),
                (F.col(i) % bs).alias("li"),
                (F.col(j) % bs).alias("lj"),
                F.col(v).cast("double").alias("v"),
            )
            .groupBy("bi", "bj")
            .agg(F.collect_list(F.struct("li", "lj", "v")).alias("cells"))
        )

        def fill(bi, bj, cells_list):
            r = min(bs, n_rows - bi * bs)
            c = min(bs, n_cols - bj * bs)
            return r, c

        r_of = F.least(F.lit(bs), F.lit(n_rows) - F.col("bi") * bs).cast("int")
        c_of = F.least(F.lit(bs), F.lit(n_cols) - F.col("bj") * bs).cast("int")
        dense = blocks.select(
            "bi",
            "bj",
            r_of.alias("r"),
            c_of.alias("c"),
            F.transform(
                F.sequence(F.lit(0), (r_of * c_of - 1).cast("int")),
                lambda idx: F.coalesce(
                    F.element_at(
                        F.map_from_entries(
                            F.transform(
                                F.col("cells"),
                                lambda s: F.struct(
                                    (s["li"] * c_of + s["lj"]).cast("int").alias("k"),
                                    s["v"].alias("v"),
                                ),
                            )
                        ),
                        idx.cast("int"),
                    ),
                    F.lit(0.0),
                ),
            ).alias("data"),
        ).drop("cells")
        return cls(dense, n_rows, n_cols, bs)

    @classmethod
    def from_numpy(
        cls, spark: SparkSession, M: np.ndarray, block_size: int = 1024
    ) -> "BlockMatrix":
        """Driver-side ndarray → BlockMatrix (for small projection /
        codebook matrices that ride along distributed matmuls)."""
        M = np.asarray(M, dtype=float)
        nr, nc = M.shape
        bs = block_size
        rows = []
        for bi in range(-(-nr // bs)):
            for bj in range(-(-nc // bs)):
                blk = M[bi * bs : (bi + 1) * bs, bj * bs : (bj + 1) * bs]
                rows.append(
                    (bi, bj, blk.shape[0], blk.shape[1], blk.ravel().tolist())
                )
        df = spark.createDataFrame(
            rows, "bi bigint, bj bigint, r int, c int, data array<double>"
        )
        return cls(df, nr, nc, bs)

    # ------------------------------------------------------------------ #
    # structural ops (pure Spark)
    # ------------------------------------------------------------------ #
    def _zip_elementwise(
        self, other: "BlockMatrix", fn, how: str = "inner"
    ) -> "BlockMatrix":
        """Blockwise zip. ``how='outer'`` treats a block present in only
        one operand as zeros (sparse-union semantics after sparsify_*);
        ``'inner'`` keeps the intersection (right for Hadamard, where a
        missing/zero block annihilates the product)."""
        a = self.df.select("bi", "bj", "r", "c", F.col("data").alias("da"))
        b = other.df.select(
            "bi",
            "bj",
            F.col("r").alias("rb"),
            F.col("c").alias("cb"),
            F.col("data").alias("db"),
        )
        if how == "inner":
            out = a.join(b, on=["bi", "bj"], how="inner").select(
                "bi", "bj", "r", "c", F.zip_with("da", "db", fn).alias("data")
            )
        else:
            j = a.join(b, on=["bi", "bj"], how="full_outer")
            r = F.coalesce("r", "rb")
            c = F.coalesce("c", "cb")
            zeros = F.array_repeat(F.lit(0.0), (r * c).cast("int"))
            out = j.select(
                "bi",
                "bj",
                r.cast("int").alias("r"),
                c.cast("int").alias("c"),
                F.zip_with(
                    F.coalesce("da", zeros), F.coalesce("db", zeros), fn
                ).alias("data"),
            )
        return BlockMatrix(out, self.n_rows, self.n_cols, self.block_size)

    def add(self, other: "BlockMatrix") -> "BlockMatrix":
        return self._zip_elementwise(other, lambda x, y: x + y, how="outer")

    def sub(self, other: "BlockMatrix") -> "BlockMatrix":
        return self._zip_elementwise(other, lambda x, y: x - y, how="outer")

    def mul(self, other: "BlockMatrix") -> "BlockMatrix":
        """Hadamard product (ref BlockMatrix.mul :816). Inner join: a
        block absent on either side is zero, so the product block is
        zero and stays absent (block-sparsity preserved)."""
        return self._zip_elementwise(other, lambda x, y: x * y)

    def map(self, fn) -> "BlockMatrix":
        """Elementwise scalar map (sqrt/pow/log/abs family :933-947)."""
        out = self.df.withColumn("data", F.transform("data", fn))
        return BlockMatrix(out, self.n_rows, self.n_cols, self.block_size)

    def scalar_mul(self, s: float) -> "BlockMatrix":
        return self.map(lambda x: x * s)

    def transpose(self) -> "BlockMatrix":
        """(ref BlockMatrix.transpose :961) — swap grid coords and
        permute each block in place (array HOF, no shuffle beyond the
        implicit repartition of downstream ops)."""
        # two steps: permute first (against the ORIGINAL r/c), then swap
        # names — a single select would resolve r/c against the aliases
        permuted = self.df.select(
            "bi",
            "bj",
            "r",
            "c",
            F.transform(
                F.sequence(F.lit(0), F.col("r") * F.col("c") - 1),
                lambda idx: F.element_at(
                    "data",
                    ((idx % F.col("r")) * F.col("c") + F.floor(idx / F.col("r")) + 1).cast(
                        "int"
                    ),
                ),
            ).alias("tdata"),
        )
        out = permuted.select(
            F.col("bj").alias("bi"),
            F.col("bi").alias("bj"),
            F.col("c").alias("r"),
            F.col("r").alias("c"),
            F.col("tdata").alias("data"),
        )
        return BlockMatrix(out, self.n_cols, self.n_rows, self.block_size)

    def matmul(self, other: "BlockMatrix") -> "BlockMatrix":
        """C = A @ B (ref BlockMatrix.dot :950).

        Join A(bi, bk) with B(bk, bj) on the inner block index, numpy
        gemm per pair (Arrow-batched pandas UDF), sum partial blocks per
        (bi, bj). Two hash shuffles + one agg shuffle — same pattern as
        the reference's distributed multiply."""
        if self.n_cols != other.n_rows:
            raise ValueError("dimension mismatch")
        a = self.df.select(
            F.col("bi"), F.col("bj").alias("bk"), F.col("r").alias("ar"),
            F.col("c").alias("ac"), F.col("data").alias("da"),
        )
        b = other.df.select(
            F.col("bi").alias("bk"), F.col("bj"), F.col("r").alias("br"),
            F.col("c").alias("bc"), F.col("data").alias("db"),
        )
        joined = a.join(b, on="bk")

        def gemm_sum(pdf: pd.DataFrame) -> pd.DataFrame:
            bi = pdf["bi"].iloc[0]
            bj = pdf["bj"].iloc[0]
            r = int(pdf["ar"].iloc[0])
            c = int(pdf["bc"].iloc[0])
            acc = np.zeros((r, c))
            for _, row in pdf.iterrows():
                A = np.asarray(row["da"]).reshape(int(row["ar"]), int(row["ac"]))
                B = np.asarray(row["db"]).reshape(int(row["br"]), int(row["bc"]))
                acc += A @ B
            return pd.DataFrame(
                [{"bi": bi, "bj": bj, "r": r, "c": c, "data": acc.ravel().tolist()}]
            )

        out = joined.groupBy("bi", "bj").applyInPandas(gemm_sum, schema=_SCHEMA)
        return BlockMatrix(out, self.n_rows, other.n_cols, self.block_size)

    def tree_matmul(self, other: "BlockMatrix", splits: int = 4) -> "BlockMatrix":
        """C = A @ B with a two-level (tree) reduction over the inner
        dimension (ref python blockmatrix.py:1545 tree_matmul).

        The reference splits the inner dimension into ``splits`` groups
        and materializes per-group partial products to bound per-task
        memory; here the same shape is two aggregation levels — partial
        blocks per (bi, bj, g = bk % splits) then the final sum per
        (bi, bj). At 100 TB this turns one wide shuffle-reduce with
        n_inner_blocks rows per group into two narrow ones (map-side
        combine applies at both levels), which matters when the inner
        dimension is much larger than the output grid."""
        if self.n_cols != other.n_rows:
            raise ValueError("dimension mismatch")
        a = self.df.select(
            F.col("bi"), F.col("bj").alias("bk"), F.col("r").alias("ar"),
            F.col("c").alias("ac"), F.col("data").alias("da"),
        )
        b = other.df.select(
            F.col("bi").alias("bk"), F.col("bj"), F.col("r").alias("br"),
            F.col("c").alias("bc"), F.col("data").alias("db"),
        )
        joined = a.join(b, on="bk").withColumn("g", F.pmod(F.col("bk"), F.lit(splits)))

        def gemm_partial(pdf: pd.DataFrame) -> pd.DataFrame:
            r, c = int(pdf["ar"].iloc[0]), int(pdf["bc"].iloc[0])
            acc = np.zeros((r, c))
            for da, db, ar, ac, br, bc in zip(
                pdf["da"], pdf["db"], pdf["ar"], pdf["ac"], pdf["br"], pdf["bc"]
            ):
                acc += np.asarray(da).reshape(int(ar), int(ac)) @ np.asarray(
                    db
                ).reshape(int(br), int(bc))
            return pd.DataFrame(
                [{
                    "bi": pdf["bi"].iloc[0], "bj": pdf["bj"].iloc[0],
                    "r": r, "c": c, "data": acc.ravel().tolist(),
                }]
            )

        partial = joined.groupBy("bi", "bj", "g").applyInPandas(
            gemm_partial, schema=_SCHEMA
        )
        out = partial.groupBy("bi", "bj", "r", "c").agg(
            F.aggregate(
                F.collect_list("data"),
                F.transform(
                    F.sequence(F.lit(1), F.col("r") * F.col("c")),
                    lambda _: F.lit(0.0),
                ),
                lambda acc, d: F.zip_with(acc, d, lambda x, y: x + y),
            ).alias("data")
        )
        return BlockMatrix(out, self.n_rows, other.n_cols, self.block_size)

    # ------------------------------------------------------------------ #
    # sparsification (ref BlockMatrix.scala band :591, rectangles :726,
    # rowIntervals :662) — drop blocks wholly outside the kept region
    # (partition pruning: the filter is on block coords, evaluated before
    # any data movement), zero out-of-region entries inside kept blocks.
    # ------------------------------------------------------------------ #
    def _global_ij(self, idx):
        bs = self.block_size
        gi = F.col("bi") * bs + F.floor(idx / F.col("c"))
        gj = F.col("bj") * bs + idx % F.col("c")
        return gi, gj

    def _sparsify(self, block_keep, cell_keep) -> "BlockMatrix":
        out = self.df.filter(block_keep).select(
            "bi",
            "bj",
            "r",
            "c",
            F.transform(
                F.sequence(F.lit(0), F.col("r") * F.col("c") - 1),
                lambda idx: F.when(
                    cell_keep(*self._global_ij(idx)),
                    F.element_at("data", (idx + 1).cast("int")),
                ).otherwise(F.lit(0.0)),
            ).alias("data"),
        )
        return BlockMatrix(out, self.n_rows, self.n_cols, self.block_size)

    def sparsify_band(self, lower: int, upper: int) -> "BlockMatrix":
        """Keep entries with lower <= j - i <= upper; drop blocks whose
        full diagonal range misses the band (ref band :591)."""
        bs = self.block_size
        # block (bi,bj) spans j-i in [bj*bs - (bi*bs + r - 1), bj*bs + c-1 - bi*bs]
        lo = F.col("bj") * bs - (F.col("bi") * bs + F.col("r") - 1)
        hi = F.col("bj") * bs + F.col("c") - 1 - F.col("bi") * bs
        keep = (hi >= F.lit(lower)) & (lo <= F.lit(upper))
        return self._sparsify(
            keep,
            lambda gi, gj: (gj - gi >= F.lit(lower)) & (gj - gi <= F.lit(upper)),
        )

    def sparsify_rectangles(self, rectangles: list) -> "BlockMatrix":
        """Keep entries inside any [i0, i1) x [j0, j1) rectangle (ref
        rectangles :726). The rectangle list is a driver-side constant
        folded into the expression — at scale it is broadcast with the
        plan, never shuffled."""
        def block_pred():
            bs = self.block_size
            conds = []
            for i0, i1, j0, j1 in rectangles:
                conds.append(
                    (F.col("bi") * bs < i1)
                    & (F.col("bi") * bs + F.col("r") > i0)
                    & (F.col("bj") * bs < j1)
                    & (F.col("bj") * bs + F.col("c") > j0)
                )
            out = F.lit(False)
            for c in conds:
                out = out | c
            return out

        def cell_pred(gi, gj):
            out = F.lit(False)
            for i0, i1, j0, j1 in rectangles:
                out = out | (
                    (gi >= i0) & (gi < i1) & (gj >= j0) & (gj < j1)
                )
            return out

        return self._sparsify(block_pred(), cell_pred)

    def sparsify_row_intervals(self, starts, stops) -> "BlockMatrix":
        """Keep entries with starts[i] <= j < stops[i] per row (ref
        rowIntervals :662). The intervals ride in as a TABLE joined on
        the block-row index (not a plan literal whose size grows with
        n_rows): per block-row they collapse to one array of
        (local_row, start, stop), blocks fully outside their row span
        are pruned, and the cell mask is an element_at lookup.
        ``starts``/``stops`` may be Python lists or a DataFrame
        (i, start, stop) for interval sets too large to ship from the
        driver."""
        bs = self.block_size
        spark = self.df.sparkSession
        if isinstance(starts, DataFrame):
            iv = starts
        else:
            iv = spark.createDataFrame(
                [(i, int(s), int(e)) for i, (s, e) in enumerate(zip(starts, stops))],
                "i bigint, start bigint, stop bigint",
            )
        per_block = iv.groupBy(
            F.floor(F.col("i") / bs).cast("bigint").alias("bi")
        ).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.col("i") % bs).cast("int").alias("li"),
                        F.col("start").cast("bigint").alias("start"),
                        F.col("stop").cast("bigint").alias("stop"),
                    )
                )
            ).alias("__iv"),
            F.min("start").alias("__smin"),
            F.max("stop").alias("__smax"),
        )
        j = self.df.join(per_block, on="bi", how="inner").filter(
            (F.col("bj") * bs < F.col("__smax"))
            & (F.col("bj") * bs + F.col("c") > F.col("__smin"))
        )
        out = j.select(
            "bi",
            "bj",
            "r",
            "c",
            F.transform(
                F.sequence(F.lit(0), F.col("r") * F.col("c") - 1),
                lambda idx: F.when(
                    (
                        F.col("bj") * bs + idx % F.col("c")
                        >= F.element_at(
                            "__iv", (F.floor(idx / F.col("c")) + 1).cast("int")
                        )["start"]
                    )
                    & (
                        F.col("bj") * bs + idx % F.col("c")
                        < F.element_at(
                            "__iv", (F.floor(idx / F.col("c")) + 1).cast("int")
                        )["stop"]
                    ),
                    F.element_at("data", (idx + 1).cast("int")),
                ).otherwise(F.lit(0.0)),
            ).alias("data"),
        )
        return BlockMatrix(out, self.n_rows, self.n_cols, self.block_size)

    # ------------------------------------------------------------------ #
    # persistence (ref write :993 / read :214) — parquet blocks + JSON
    # metadata sidecar, mirroring the native-table layout in io/impex.
    # ------------------------------------------------------------------ #
    def write(self, path: str) -> None:
        import json
        import os

        self.df.write.mode("overwrite").parquet(os.path.join(path, "blocks"))
        meta = {
            "n_rows": self.n_rows,
            "n_cols": self.n_cols,
            "block_size": self.block_size,
        }
        with open(os.path.join(path, "_bm_metadata.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def read(cls, spark: SparkSession, path: str) -> "BlockMatrix":
        import json
        import os

        with open(os.path.join(path, "_bm_metadata.json")) as f:
            meta = json.load(f)
        df = spark.read.parquet(os.path.join(path, "blocks"))
        return cls(df, meta["n_rows"], meta["n_cols"], meta["block_size"])

    # ------------------------------------------------------------------ #
    # reductions / export
    # ------------------------------------------------------------------ #
    def to_long(self) -> DataFrame:
        """(i, j, v) long form (ref entriesTable :1555)."""
        bs = self.block_size
        return self.df.select(
            "bi", "bj", "r", "c", F.posexplode("data").alias("idx", "v")
        ).select(
            (F.col("bi") * bs + F.floor(F.col("idx") / F.col("c"))).alias("i"),
            (F.col("bj") * bs + F.col("idx") % F.col("c")).alias("j"),
            "v",
        )

    def row_sums(self) -> DataFrame:
        """Σ_j — per-block row sums then groupBy global row."""
        bs = self.block_size
        per_block = self.df.select(
            "bi", "r", "c", F.posexplode("data").alias("idx", "v")
        ).select(
            (F.col("bi") * bs + F.floor(F.col("idx") / F.col("c"))).alias("i"), "v"
        )
        return per_block.groupBy("i").agg(F.sum("v").alias("row_sum"))

    def diagonal(self) -> DataFrame:
        return self.to_long().filter(F.col("i") == F.col("j")).select("i", "v")

    def sum(self) -> float:
        return self.df.select(
            F.sum(F.aggregate("data", F.lit(0.0), lambda a, x: a + x)).alias("s")
        ).collect()[0]["s"]

    def to_numpy(self) -> np.ndarray:
        """Collect to a driver-side dense ndarray (small matrices)."""
        out = np.zeros((self.n_rows, self.n_cols))
        for row in self.df.collect():
            r, c = row["r"], row["c"]
            blk = np.asarray(row["data"]).reshape(r, c)
            i0, j0 = row["bi"] * self.block_size, row["bj"] * self.block_size
            out[i0 : i0 + r, j0 : j0 + c] = blk
        return out

    def svd(self, compute_uv: bool = True):
        """Tall-skinny SVD (ref linalg/blockmatrix.py:2365 `svd`):
        the gramian path the reference uses when n_cols is modest —
        Aᵀ A is computed by a DISTRIBUTED block matmul (one shuffle of
        A's blocks), only the tiny n_cols × n_cols gram reaches the
        driver for eigh, and U = A · V · diag(1/s) goes back through
        distributed matmuls, so neither A nor U is ever collected.

        Returns ``(U BlockMatrix, s ndarray, V ndarray)`` with singular
        values descending, or just ``s`` when ``compute_uv=False``.
        Driver memory is O(n_cols²) — for wide matrices transpose
        first or use methods.statgen._blanczos_pca's randomized path.
        """
        gram = self.transpose().matmul(self).to_numpy()
        w, v = np.linalg.eigh(gram)  # ascending
        order = np.argsort(w)[::-1]
        w, v = w[order], v[:, order]
        s = np.sqrt(np.maximum(w, 0.0))
        if not compute_uv:
            return s
        # sign-normalize V for determinism
        idx = np.abs(v).argmax(axis=0)
        sign = np.sign(v[idx, np.arange(v.shape[1])])
        sign[sign == 0] = 1.0
        v = v * sign[None, :]
        pos = s > 1e-12 * (s[0] if s.size else 1.0)
        inv_s = np.where(pos, 1.0 / np.where(pos, s, 1.0), 0.0)
        proj = v * inv_s[None, :]
        spark = self.df.sparkSession
        u = self.matmul(
            BlockMatrix.from_numpy(spark, proj, block_size=self.block_size)
        )
        return u, s, v

    # ------------------------------------------------------------------ #
    # class-surface completion (ref linalg/blockmatrix.py:
    # default_block_size :704, from_entry_expr :221, random :398, fill
    # :440, element math :933-:1185, filter :1533-:1650,
    # sparsify_triangle :826, entries :1555, to_table_row_major :1462,
    # export :1727-:2058, persistence :1380)
    # ------------------------------------------------------------------ #
    @staticmethod
    def default_block_size() -> int:
        """Reference default (blockmatrix.py:704): 4096 — 128 MB dense
        blocks of float64."""
        return 4096

    @property
    def shape(self) -> tuple:
        return (self.n_rows, self.n_cols)

    @property
    def element_type(self):
        from pyspark.sql.types import DoubleType

        return DoubleType()

    @property
    def T(self) -> "BlockMatrix":
        return self.transpose()

    @property
    def is_sparse(self) -> bool:
        """True when blocks are missing from the grid (one count job)."""
        bs = self.block_size
        full = -(-self.n_rows // bs) * -(-self.n_cols // bs)
        return self.df.count() < full

    def densify(self) -> "BlockMatrix":
        """Materialize dropped blocks as zeros (ref densify): outer join of
        the full grid against the present blocks; the grid frame is tiny
        (#blocks rows, no data arrays) so the join broadcasts."""
        spark = self.df.sparkSession
        bs = self.block_size
        nbr, nbc = -(-self.n_rows // bs), -(-self.n_cols // bs)
        grid = (
            spark.range(nbr).select(F.col("id").alias("bi"))
            .crossJoin(spark.range(nbc).select(F.col("id").alias("bj")))
        )
        r_of = F.least(F.lit(bs), F.lit(self.n_rows) - F.col("bi") * bs).cast("int")
        c_of = F.least(F.lit(bs), F.lit(self.n_cols) - F.col("bj") * bs).cast("int")
        joined = grid.join(self.df, on=["bi", "bj"], how="left").select(
            "bi",
            "bj",
            F.coalesce(F.col("r"), r_of).alias("r"),
            F.coalesce(F.col("c"), c_of).alias("c"),
            F.coalesce(
                F.col("data"), F.array_repeat(F.lit(0.0), (r_of * c_of).cast("int"))
            ).alias("data"),
        )
        return BlockMatrix(joined, self.n_rows, self.n_cols, bs)

    @staticmethod
    def fill(n_rows: int, n_cols: int, value: float, block_size: int = 4096) -> "BlockMatrix":
        """Constant matrix (ref fill :440) — grid frame + array_repeat,
        fully distributed, no driver data."""
        from ..session import get_spark

        spark = get_spark()
        bs = block_size
        nbr, nbc = -(-n_rows // bs), -(-n_cols // bs)
        grid = (
            spark.range(nbr).select(F.col("id").alias("bi"))
            .crossJoin(spark.range(nbc).select(F.col("id").alias("bj")))
        )
        r_of = F.least(F.lit(bs), F.lit(n_rows) - F.col("bi") * bs).cast("int")
        c_of = F.least(F.lit(bs), F.lit(n_cols) - F.col("bj") * bs).cast("int")
        df = grid.select(
            "bi", "bj", r_of.alias("r"), c_of.alias("c"),
            F.array_repeat(F.lit(float(value)), (r_of * c_of).cast("int")).alias("data"),
        )
        return BlockMatrix(df, n_rows, n_cols, bs)

    @staticmethod
    def random(
        n_rows: int, n_cols: int, block_size: int = 4096, seed: int = 0, gaussian: bool = True
    ) -> "BlockMatrix":
        """Seeded random matrix (ref random :398): element (bi,bj,k) hashes
        to a uniform via xxhash64 → Box-Muller for gaussian — deterministic,
        generated where the block lives, nothing shipped."""
        bm = BlockMatrix.fill(n_rows, n_cols, 0.0, block_size)

        def u(k, salt):
            h = F.xxhash64(F.col("bi"), F.col("bj"), k, F.lit(seed), F.lit(salt))
            return (F.pmod(h, F.lit(1 << 40)).cast("double") + 0.5) / float(1 << 40)

        if gaussian:
            gen = lambda k: F.sqrt(-2.0 * F.log(u(k, 1))) * F.cos(  # noqa: E731
                2.0 * math.pi * u(k, 2)
            )
        else:
            gen = lambda k: u(k, 1)  # noqa: E731
        df = bm.df.withColumn(
            "data",
            F.transform(F.sequence(F.lit(0), F.col("r") * F.col("c") - 1), gen),
        )
        return BlockMatrix(df, n_rows, n_cols, block_size)

    @staticmethod
    def from_entry_expr(
        mt,
        field: str = "GT",
        mean_impute: bool = False,
        center: bool = False,
        normalize: bool = False,
        block_size: int = 4096,
    ) -> "BlockMatrix":
        """MatrixTable entries → BlockMatrix (ref from_entry_expr :221):
        rows indexed by the distributed add_row_index scan, one posexplode
        to long form, then the blocked gather.  Row-wise mean_impute /
        center / normalize are array HOFs computed before the explode —
        the same per-variant standardization the reference applies."""
        from ..matrixtable import ENTRIES

        idx = mt.add_row_index("__bm_i")
        e = F.col(ENTRIES)
        vals = F.transform(e, lambda x: x[field].cast("double"))
        if mean_impute or center or normalize:
            nn = F.filter(vals, lambda v: v.isNotNull())
            n_def = F.size(nn)
            mean = F.when(
                n_def > 0,
                F.aggregate(nn, F.lit(0.0), lambda a, v: a + v) / n_def,
            ).otherwise(F.lit(0.0))
            if mean_impute:
                vals = F.transform(vals, lambda v: F.coalesce(v, mean))
            if center:
                vals = F.transform(vals, lambda v: v - mean)
            if normalize:
                norm = F.sqrt(
                    F.aggregate(
                        F.filter(vals, lambda v: v.isNotNull()),
                        F.lit(0.0),
                        lambda a, v: a + v * v,
                    )
                )
                vals = F.transform(
                    vals, lambda v: F.when(norm > 0, v / norm).otherwise(F.lit(0.0))
                )
        long = idx._df.select(
            F.col("__bm_i").alias("i"), F.posexplode(vals).alias("j", "v")
        ).filter(F.col("v").isNotNull())
        return BlockMatrix.from_long(
            long, mt.count_rows(), len(mt._cols), block_size=block_size
        )

    @staticmethod
    def write_from_entry_expr(mt, path: str, overwrite: bool = False, **kwargs) -> None:
        BlockMatrix.from_entry_expr(mt, **kwargs).write(path)

    def checkpoint(self, path: str) -> "BlockMatrix":
        self.write(path)
        return BlockMatrix.read(self.df.sparkSession, path)

    def persist(self, level: str = "MEMORY_AND_DISK") -> "BlockMatrix":
        from pyspark import StorageLevel

        self.df.persist(getattr(StorageLevel, level))
        return self

    def cache(self) -> "BlockMatrix":
        return self.persist("MEMORY_ONLY")

    def unpersist(self) -> "BlockMatrix":
        self.df.unpersist()
        return self

    def sqrt(self):
        return self.map(lambda x: F.sqrt(x))

    def ceil(self):
        return self.map(lambda x: F.ceil(x).cast("double"))

    def floor(self):
        return self.map(lambda x: F.floor(x).cast("double"))

    def abs(self):
        return self.map(lambda x: F.abs(x))

    def log(self):
        return self.map(lambda x: F.log(x))

    def filter(self, rows_to_keep, cols_to_keep) -> "BlockMatrix":
        """Subset + reindex rows and cols (ref filter :1533): the index
        remaps ride as broadcast map literals for driver-sized lists (the
        reference requires the lists driver-side too), applied on the long
        form, then one blocked regather."""
        rmap = F.create_map(*[F.lit(x) for old, new in
                              ((int(o), i) for i, o in enumerate(rows_to_keep))
                              for x in (old, new)])
        cmap = F.create_map(*[F.lit(x) for old, new in
                              ((int(o), i) for i, o in enumerate(cols_to_keep))
                              for x in (old, new)])
        long = self.to_long().select(
            rmap[F.col("i")].alias("i"), cmap[F.col("j")].alias("j"), "v"
        ).filter(F.col("i").isNotNull() & F.col("j").isNotNull())
        return BlockMatrix.from_long(
            long, len(rows_to_keep), len(cols_to_keep), block_size=self.block_size
        )

    def filter_rows(self, rows_to_keep) -> "BlockMatrix":
        return self.filter(rows_to_keep, list(range(self.n_cols)))

    def filter_cols(self, cols_to_keep) -> "BlockMatrix":
        return self.filter(list(range(self.n_rows)), cols_to_keep)

    def sparsify_triangle(self, lower: bool = False, blocks_only: bool = False) -> "BlockMatrix":
        """Keep the upper (default) or lower triangle (ref
        sparsify_triangle :826) — the +/-inf half of sparsify_band."""
        big = max(self.n_rows, self.n_cols)
        keep_all = lambda gi, gj: F.lit(True)  # noqa: E731
        if lower:
            if blocks_only:
                return self._sparsify(
                    F.col("bj") * self.block_size
                    <= F.col("bi") * self.block_size + F.col("r") - 1,
                    keep_all,
                )
            return self.sparsify_band(-big, 0)
        if blocks_only:
            return self._sparsify(
                F.col("bj") * self.block_size + F.col("c") - 1
                >= F.col("bi") * self.block_size,
                keep_all,
            )
        return self.sparsify_band(0, big)

    def entries(self):
        """(i, j, entry) long Table (ref entries :1555)."""
        from ..table import Table

        return Table(self.to_long().withColumnRenamed("v", "entry"), ("i", "j"))

    def to_table_row_major(self, n_partitions: int | None = None):
        """One row per matrix row with the full row as an array (ref
        to_table_row_major :1462): block-rows join on bi, each block
        contributes its slice at offset bj*block_size."""
        from ..table import Table

        bs = self.block_size
        per_row = self.df.select(
            "bi", "bj", "c",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("r") - 1),
                    lambda li: F.slice(F.col("data"), li * F.col("c") + 1, F.col("c")),
                )
            ).alias("li", "rowpart"),
        ).select(
            (F.col("bi") * bs + F.col("li")).alias("row_idx"),
            F.col("bj"),
            "rowpart",
        )
        gathered = per_row.groupBy("row_idx").agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("bj"), F.col("rowpart")))
                    ),
                    lambda s: s["rowpart"],
                )
            ).alias("entries")
        )
        if n_partitions:
            gathered = gathered.repartition(n_partitions)
        return Table(gathered, ("row_idx",))

    def to_matrix_table_row_major(self, n_partitions: int | None = None):
        """MatrixTable with one float64 entry field 'element' (ref
        to_matrix_table_row_major :1410)."""
        from ..matrixtable import ENTRIES, MatrixTable

        t = self.to_table_row_major(n_partitions)
        df = t.df.withColumn(
            ENTRIES,
            F.transform(F.col("entries"), lambda v: F.struct(v.alias("element"))),
        ).drop("entries")
        cols = [{"col_idx": j} for j in range(self.n_cols)]
        return MatrixTable(df, ("row_idx",), cols, ("col_idx",))

    def export(self, path: str, delimiter: str = "\t", header: str | None = None) -> None:
        """Dense TSV export (ref export :1727): row-major table, one text
        line per row — distributed write, driver never sees the matrix."""
        t = self.to_table_row_major()
        lines = t.df.orderBy("row_idx").select(
            F.array_join(
                F.transform(F.col("entries"), lambda v: v.cast("string")), delimiter
            ).alias("value")
        )
        lines.write.mode("overwrite").text(path)
        if header is not None:
            import os

            with open(os.path.join(path, "_header.txt"), "w") as f:
                f.write(header + "\n")

    def tofile(self, uri: str) -> None:
        """Row-major raw float64 dump, numpy-compatible (ref tofile :2006).
        Collects to the driver — same constraint as the reference, which
        requires the matrix to fit in memory for fromfile round-trips."""
        self.to_numpy().astype(np.float64).tofile(uri)

    @staticmethod
    def fromfile(
        uri: str, n_rows: int, n_cols: int, block_size: int = 4096
    ) -> "BlockMatrix":
        """Inverse of tofile (ref fromfile :336)."""
        from ..session import get_spark

        M = np.fromfile(uri, dtype=np.float64).reshape(n_rows, n_cols)
        return BlockMatrix.from_numpy(get_spark(), M, block_size=block_size)

    @staticmethod
    def from_ndarray(ndarray, block_size: int = 4096) -> "BlockMatrix":
        """Alias of from_numpy with the reference's name (ref from_ndarray)."""
        from ..session import get_spark

        return BlockMatrix.from_numpy(get_spark(), np.asarray(ndarray), block_size)

    def to_ndarray(self) -> np.ndarray:
        return self.to_numpy()

    def export_blocks(self, path: str, binary: bool = True) -> None:
        """One file per block under path/ (ref export_blocks :1952)."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        meta = {"n_rows": self.n_rows, "n_cols": self.n_cols, "block_size": self.block_size}
        with open(os.path.join(path, "metadata.json"), "w") as f:
            json.dump(meta, f)
        for r in self.df.collect():
            blk = np.array(r["data"], dtype=np.float64).reshape(r["r"], r["c"])
            name = f"block_{r['bi']}_{r['bj']}"
            if binary:
                blk.tofile(os.path.join(path, name + ".npy.bin"))
            else:
                np.savetxt(os.path.join(path, name + ".tsv"), blk, delimiter="\t")

    def export_rectangles(
        self, path: str, rectangles: list, delimiter: str = "\t", binary: bool = False
    ) -> None:
        """One file per [i0,i1)x[j0,j1) rectangle (ref export_rectangles
        :1826): each rectangle filters the long form distributed; only the
        rectangle's cells are collected."""
        import os

        os.makedirs(path, exist_ok=True)
        long = self.to_long().persist()
        try:
            for k, (i0, i1, j0, j1) in enumerate(rectangles):
                sub = (
                    long.filter(
                        (F.col("i") >= i0) & (F.col("i") < i1)
                        & (F.col("j") >= j0) & (F.col("j") < j1)
                    )
                    .orderBy("i", "j")
                    .collect()
                )
                M = np.zeros((i1 - i0, j1 - j0))
                for r in sub:
                    M[r["i"] - i0, r["j"] - j0] = r["v"]
                name = f"rect-{k}-{i0}-{i1}-{j0}-{j1}"
                if binary:
                    M.tofile(os.path.join(path, name))
                else:
                    np.savetxt(os.path.join(path, name), M, delimiter=delimiter)
        finally:
            long.unpersist()

    @staticmethod
    def rectangles_to_numpy(path: str, binary: bool = False) -> dict:
        """Read export_rectangles output back (ref rectangles_to_numpy
        :2030): {(i0,i1,j0,j1): ndarray}."""
        import os

        out = {}
        for name in os.listdir(path):
            if not name.startswith("rect-"):
                continue
            _, _k, i0, i1, j0, j1 = name.split("-")
            shape = (int(i1) - int(i0), int(j1) - int(j0))
            full = os.path.join(path, name)
            if binary:
                M = np.fromfile(full, dtype=np.float64).reshape(shape)
            else:
                M = np.loadtxt(full, delimiter="\t").reshape(shape)
            out[(int(i0), int(i1), int(j0), int(j1))] = M
        return out
