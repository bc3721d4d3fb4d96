"""t-digest quantile sketch (Dunning & Ertl 2019, merging-digest
family) — a mergeable quantile summary next to GK
``percentile_approx``.

Why another quantile sketch: KLL/GK bound RANK error (quantiles of
uniform accuracy everywhere), the t-digest bounds error RELATIVE to
``q(1-q)`` — tight tails (p99.9 latency, contamination thresholds) at
the same memory. This implementation uses the uniform weight-bound
("k0") merge rule: a post-merge centroid may hold at most
``total_n / compression`` points, so with ``n <= compression`` every
point stays a singleton centroid and quantiles are EXACT — the same
exact-regime-with-loud-guard contract the KLL and HLL queries use for
oracle replay (estimates beyond it are property-tested instead).

Distributed shape (mirrors kll_sketch): one ``mapInPandas`` pass
builds a digest per partition (numpy, vectorized), each partial is
O(compression) (mean, weight) pairs, partials collect to the driver
and merge — bytes moved = #partitions x O(compression), never the
data. Merging is associative; in the exact regime the result is also
ORDER-independent (singletons stay singletons), which is what makes
the oracle replay well-defined.

Quantile rule (the part an oracle must pin down): centroid i, sorted
by mean with cumulative weight C_i, sits at position
``x_i = C_{i-1} + (w_i - 1) / 2`` on the 0..n-1 axis; ``quantile(q)``
linearly interpolates between the bracketing centroids at position
``t = q * (n - 1)``. For singleton centroids this is EXACTLY the
"linear" order-statistic rule (numpy default / SQL
``quantile_cont``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


class TDigest:
    """Mergeable t-digest over float64 values (uniform-bound merge)."""

    def __init__(self, compression: int = 200):
        if compression < 2:
            raise ValueError("TDigest: compression must be >= 2")
        self.compression = int(compression)
        self.means = np.empty(0)
        self.weights = np.empty(0, dtype=np.int64)
        self._buf: list[np.ndarray] = []
        self._buf_n = 0
        self.n = 0
        self.min = np.inf
        self.max = -np.inf

    # ---------------------------------------------------------- #
    def update(self, vals) -> "TDigest":
        vals = np.asarray(vals, dtype=float)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return self
        self.n += int(vals.size)
        self.min = min(self.min, float(vals.min()))
        self.max = max(self.max, float(vals.max()))
        self._buf.append(vals)
        self._buf_n += int(vals.size)
        if self._buf_n >= 8 * self.compression:
            self._compress()
        return self

    def _compress(self) -> None:
        if self._buf_n == 0 and self.means.size <= self.compression:
            return
        m = np.concatenate(
            [self.means] + self._buf if self._buf else [self.means]
        )
        w = np.concatenate(
            [self.weights]
            + [np.ones(b.size, dtype=np.int64) for b in self._buf]
        ) if self._buf else self.weights
        self._buf, self._buf_n = [], 0
        order = np.argsort(m, kind="stable")
        m, w = m[order], w[order]
        bound = self.n / self.compression
        out_m: list[float] = []
        out_w: list[int] = []
        acc_sum = 0.0  # weighted mean numerator of the open cluster
        acc_w = 0
        for mi, wi in zip(m, w):
            if acc_w > 0 and acc_w + wi > bound:
                out_m.append(acc_sum / acc_w)
                out_w.append(acc_w)
                acc_sum, acc_w = 0.0, 0
            acc_sum += mi * wi
            acc_w += int(wi)
        if acc_w > 0:
            out_m.append(acc_sum / acc_w)
            out_w.append(acc_w)
        self.means = np.asarray(out_m)
        self.weights = np.asarray(out_w, dtype=np.int64)

    def merge(self, other: "TDigest") -> "TDigest":
        other._compress()
        if other.n == 0:
            return self
        self.n += other.n
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        self._compress()
        return self

    # ---------------------------------------------------------- #
    def centroids(self) -> tuple[np.ndarray, np.ndarray]:
        self._compress()
        order = np.argsort(self.means, kind="stable")
        return self.means[order], self.weights[order]

    def quantile(self, q: float) -> float:
        if self.n == 0:
            return float("nan")
        q = min(max(float(q), 0.0), 1.0)
        m, w = self.centroids()
        cum = np.cumsum(w)
        # centroid position on the 0..n-1 axis (weight midpoint)
        x = (cum - w) + (w - 1) / 2.0
        t = q * (self.n - 1)
        if t <= x[0]:
            return float(self.min if t <= 0 else m[0])
        if t >= x[-1]:
            return float(self.max if t >= self.n - 1 else m[-1])
        i = int(np.searchsorted(x, t, side="right")) - 1
        x0, x1 = x[i], x[i + 1]
        if x1 == x0:
            return float(m[i])
        f = (t - x0) / (x1 - x0)
        return float(m[i] + f * (m[i + 1] - m[i]))

    def is_exact(self) -> bool:
        """True while every centroid is a singleton — quantiles then
        equal the linear order-statistic rule exactly."""
        _, w = self.centroids()
        return bool((w == 1).all())

    # ---------------------------------------------------------- #
    def to_rows(self) -> list[tuple[list[float], list[float]]]:
        # meta row tagged by the w == [-1.0] sentinel (an empty
        # centroid row is legitimate for an empty partition, so "w is
        # empty" cannot mark the meta row)
        m, w = self.centroids()
        return [
            (
                [float(x) for x in m],
                [float(x) for x in w],
            ),
            ([float(self.n), self.min, self.max], [-1.0]),
        ]

    @classmethod
    def from_rows(cls, rows, compression: int = 200) -> "TDigest":
        sk = cls(compression)
        for m, w in rows:
            if list(w) == [-1.0]:  # meta row
                sk.n = int(m[0])
                sk.min = m[1]
                sk.max = m[2]
            else:
                sk.means = np.asarray(m)
                sk.weights = np.asarray(w, dtype=np.int64)
        return sk


def tdigest_sketch(
    df: DataFrame, col: str, compression: int = 200
) -> TDigest:
    """Distributed t-digest over one column: digest per partition on
    the executors, merge on the driver (the kll_sketch shape)."""
    import pandas as pd

    def build(batches):
        sk = TDigest(compression)
        for pdf in batches:
            sk.update(pdf[col].to_numpy(dtype=float, na_value=np.nan))
        rows = sk.to_rows()
        yield pd.DataFrame(
            {"m": [r[0] for r in rows], "w": [r[1] for r in rows]}
        )

    parts = df.select(col).mapInPandas(
        build, schema="m array<double>, w array<double>"
    )
    merged = TDigest(compression)
    cur: list = []
    for row in parts.collect():
        cur.append((list(row["m"]), list(row["w"])))
        if list(row["w"]) == [-1.0]:  # meta row closes a partition
            merged.merge(TDigest.from_rows(cur, compression))
            cur = []
    return merged


def tdigest_quantiles(
    df: DataFrame, col: str, qs, compression: int = 200
) -> list[float]:
    """Convenience: one sketch pass, many quantiles."""
    sk = tdigest_sketch(df, col, compression)
    return [sk.quantile(q) for q in qs]
