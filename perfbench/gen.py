"""Seeded input generators and numpy/pandas reference answers.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and a size dict, writes its inputs under a work directory,
and returns the reference answers the workload's outputs are checked
against. The program under test only ever sees the written files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASES = np.array(list("ACGT"))
TRANSITIONS = {("A", "G"), ("G", "A"), ("C", "T"), ("T", "C")}


def file_digest(paths: list[str]) -> str:
    """sha256 over the bytes of the given files, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------- #
# genotypes
# ---------------------------------------------------------------------- #
def _alleles(rng, n_variants):
    ref = rng.integers(0, 4, n_variants)
    alt = (ref + rng.integers(1, 4, n_variants)) % 4
    return BASES[ref], BASES[alt]


def genotype_matrix(rng, n_variants: int, n_samples: int, n_causal: int = 0):
    """Structured genotypes: three subpopulations drawn Balding-Nichols
    style from one ancestral frequency, ~1% missing calls with a tail of
    poorly called variants, and a band of rare variants for QC to drop.

    Returns dict with int GT/DP/GQ matrices (variants x samples, missing
    GT = -1), positions, alleles, population labels and the indices of
    ``n_causal`` variants chosen as causal."""
    anc = rng.uniform(0.05, 0.5, n_variants)
    rare = rng.random(n_variants) < 0.06
    anc[rare] = rng.uniform(0.001, 0.01, rare.sum())
    fst = 0.08
    a = anc * (1 - fst) / fst
    b = (1 - anc) * (1 - fst) / fst
    pop_af = rng.beta(a[:, None], b[:, None], size=(n_variants, 3))
    pop = rng.integers(0, 3, n_samples)
    af = pop_af[:, pop]
    gt = rng.binomial(2, af).astype(np.int32)
    miss_rate = np.where(rng.random(n_variants) < 0.05, 0.12, 0.01)
    missing = rng.random((n_variants, n_samples)) < miss_rate[:, None]
    gt[missing] = -1
    dp = rng.poisson(30, (n_variants, n_samples)).astype(np.int32) + 1
    gq = rng.integers(10, 99, (n_variants, n_samples)).astype(np.int32)
    pos = (np.cumsum(rng.integers(1, 200, n_variants)) + 10_000).astype(np.int32)
    ref, alt = _alleles(rng, n_variants)
    # causal variants are common, well called and barely differentiated
    # between populations, so PC covariates do not absorb their effect
    called = 1 - missing.mean(axis=1)
    sample_af = np.where(missing, 0, gt).sum(axis=1) / (2 * np.maximum(called * n_samples, 1))
    common = np.flatnonzero(
        (sample_af >= 0.25) & (sample_af <= 0.5) & (called >= 0.97) & (pop_af.std(axis=1) < 0.05)
    )
    causal = np.sort(rng.choice(common, n_causal, replace=False)) if n_causal else np.array([], int)
    return {
        "gt": gt, "dp": dp, "gq": gq, "missing": missing, "pos": pos,
        "ref": ref, "alt": alt, "pop": pop, "causal": causal,
        "samples": [f"S{i:04d}" for i in range(n_samples)],
    }


def write_vcf(path: str, g: dict) -> None:
    """Multi-sample VCF 4.2 with FORMAT GT:AD:DP:GQ; missing calls are
    written as ``./.:.:.:.``."""
    gt, dp, gq, missing = g["gt"], g["dp"], g["gq"], g["missing"]
    ad_ref = np.where(gt == 2, 0, np.where(gt == 0, dp, dp // 2))
    gt_txt = np.array(["0/0", "0/1", "1/1"])[np.clip(gt, 0, 2)]
    cells = np.char.add(
        np.char.add(np.char.add(gt_txt, ":"), ad_ref.astype(str)),
        np.char.add(np.char.add(",", (dp - ad_ref).astype(str)), ":"),
    )
    cells = np.char.add(np.char.add(np.char.add(cells, dp.astype(str)), ":"), gq.astype(str))
    cells = np.where(missing, "./.:.:.:.", cells)
    header = [
        "##fileformat=VCFv4.2",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">',
        '##INFO=<ID=NS,Number=1,Type=Integer,Description="Samples with data">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
        '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">',
        "##contig=<ID=1>",
        "\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"] + g["samples"]),
    ]
    dp_sum = np.where(missing, 0, dp).sum(axis=1)
    ns = (~missing).sum(axis=1)
    with open(path, "w") as f:
        f.write("\n".join(header) + "\n")
        for v in range(gt.shape[0]):
            f.write(
                f"1\t{g['pos'][v]}\trs{v + 1}\t{g['ref'][v]}\t{g['alt'][v]}\t50\tPASS\t"
                f"DP={dp_sum[v]};NS={ns[v]}\tGT:AD:DP:GQ\t" + "\t".join(cells[v]) + "\n"
            )


def write_genotype_parquet(path: str, g: dict) -> None:
    """Rows of a MatrixTable in the engine's layout: ``locus``,
    ``alleles`` and an ``__entries`` array of int32 ``GT/DP/GQ`` structs
    (missing call = NULL GT/DP/GQ, the shape ``import_vcf`` produces)."""
    nv, ns = g["gt"].shape
    miss = g["missing"].ravel()
    fields = []
    for name in ("gt", "dp", "gq"):
        fields.append(pa.array(g[name].ravel(), pa.int32(), mask=miss))
    entries = pa.StructArray.from_arrays(fields, ["GT", "DP", "GQ"])
    offsets = pa.array(np.arange(0, nv * ns + 1, ns, dtype=np.int32))
    tbl = pa.table({
        "locus": pa.StructArray.from_arrays(
            [pa.array(["1"] * nv), pa.array(g["pos"], pa.int32())], ["contig", "position"]
        ),
        "alleles": pa.array([[r, a] for r, a in zip(g["ref"], g["alt"])], pa.list_(pa.string())),
        "__entries": pa.ListArray.from_arrays(offsets, entries),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"), row_group_size=max(1, nv // 4))


N_CASE_CAUSAL = 2


def phenotypes(rng, g: dict) -> dict:
    """A quantitative trait driven by every causal variant and a
    binary trait driven by the first ``N_CASE_CAUSAL`` of them, each
    plus a population shift (so PC covariates matter). Missing
    genotypes count as the variant's mean dosage."""
    X = g["gt"][g["causal"]].astype(float)
    X[X < 0] = np.nan
    X = np.where(np.isnan(X), np.nanmean(X, axis=1, keepdims=True), X)
    Xs = (X - X.mean(axis=1, keepdims=True)) / X.std(axis=1, keepdims=True)
    shift = np.array([0.0, 0.6, -0.6])[g["pop"]]
    n = Xs.shape[1]
    out = {}
    eff = rng.choice([-1, 1], Xs.shape[0]) * 1.3
    out["y0"] = eff @ Xs + shift + rng.normal(0, 1, n)
    eff = rng.choice([-1, 1], N_CASE_CAUSAL) * 2.0
    liability = eff @ Xs[:N_CASE_CAUSAL] + shift + rng.logistic(0, 1, n)
    out["case"] = (liability > np.median(liability)).astype(float)
    return out


# ---------------------------------------------------------------------- #
# genotype reference answers
# ---------------------------------------------------------------------- #
def qc_reference(g: dict, min_call_rate: float, min_af: float, max_af: float) -> dict:
    """variant_qc filter + sample_qc counts computed with numpy."""
    gt = g["gt"]
    called = gt >= 0
    n_called = called.sum(axis=1)
    call_rate = n_called.astype(float) / gt.shape[1]
    ac = np.where(called, gt, 0).sum(axis=1)
    an = 2 * n_called
    with np.errstate(divide="ignore", invalid="ignore"):
        af = np.where(an > 0, ac / an, np.nan)
    keep = (call_rate >= min_call_rate) & (af >= min_af) & (af <= max_af)
    k = gt[keep]
    kc = k >= 0
    ti = np.array([(r, a) in TRANSITIONS for r, a in zip(g["ref"][keep], g["alt"][keep])])
    dose = np.where(k > 0, k, 0)
    dp = np.where(kc, g["dp"][keep], 0).astype(float)
    per_sample = {
        "n_called": kc.sum(axis=0),
        "n_het": (k == 1).sum(axis=0),
        "n_hom_var": (k == 2).sum(axis=0),
        "n_hom_ref": (k == 0).sum(axis=0),
        "n_singleton": ((ac[keep] == 1)[:, None] & (k == 1)).sum(axis=0),
        "n_transition": (dose * ti[:, None]).sum(axis=0),
        "n_transversion": (dose * ~ti[:, None]).sum(axis=0),
        "dp_mean": dp.sum(axis=0) / np.maximum(kc.sum(axis=0), 1),
    }
    per_sample["call_rate"] = per_sample["n_called"] / float(keep.sum())
    return {"rows_kept": int(keep.sum()), "keep": keep, "per_sample": per_sample}


def subset(g: dict, keep: np.ndarray) -> dict:
    """The genotype dict restricted to the variants ``keep`` selects,
    with causal indices renumbered."""
    out = dict(g)
    for k in ("gt", "dp", "gq", "missing", "pos", "ref", "alt"):
        out[k] = g[k][keep]
    new_index = np.cumsum(keep) - 1
    out["causal"] = new_index[g["causal"][keep[g["causal"]]]]
    return out


def dosage(g: dict) -> np.ndarray:
    """Alt-allele dosage as float, missing calls as NaN."""
    X = g["gt"].astype(float)
    X[X < 0] = np.nan
    return X


def pca_reference(g: dict, k: int) -> np.ndarray:
    """Top-k eigenvalues of the HWE-normalised genotype gram matrix."""
    X = dosage(g)
    n_rows = X.shape[0]
    mean = np.nanmean(X, axis=1)
    p = mean / 2
    keep = (p > 0) & (p < 1)
    X, mean, p = X[keep], mean[keep], p[keep]
    X = np.where(np.isnan(X), mean[:, None], X)
    Xn = (X - mean[:, None]) / np.sqrt(2 * p * (1 - p))[:, None]
    evals = np.linalg.eigvalsh(Xn.T @ Xn / n_rows)
    return np.sort(evals)[::-1][:k]


def ols_reference(x: np.ndarray, y: np.ndarray, C: np.ndarray) -> tuple[float, float]:
    """beta and standard error of ``x`` in y ~ C + x by least squares
    (x mean-imputed)."""
    x = np.where(np.isnan(x), np.nanmean(x), x)
    A = np.column_stack([C, x])
    coef = np.linalg.lstsq(A, y, rcond=None)[0]
    resid = y - A @ coef
    dof = A.shape[0] - A.shape[1]
    cov = np.linalg.inv(A.T @ A) * (resid @ resid) / dof
    return float(coef[-1]), float(np.sqrt(cov[-1, -1]))


def logit_reference(x: np.ndarray, y: np.ndarray, C: np.ndarray) -> tuple[float, float]:
    """Wald beta and standard error of ``x`` in a logistic fit by Newton
    iterations (x mean-imputed)."""
    x = np.where(np.isnan(x), np.nanmean(x), x)
    A = np.column_stack([C, x])
    b = np.zeros(A.shape[1])
    for _ in range(100):
        mu = 1 / (1 + np.exp(-(A @ b)))
        H = A.T @ (A * (mu * (1 - mu))[:, None])
        step = np.linalg.solve(H, A.T @ (y - mu))
        b += step
        if np.max(np.abs(step)) < 1e-12:
            break
    mu = 1 / (1 + np.exp(-(A @ b)))
    H = A.T @ (A * (mu * (1 - mu))[:, None])
    return float(b[-1]), float(np.sqrt(np.linalg.inv(H)[-1, -1]))


# ---------------------------------------------------------------------- #
# TPC-H shaped tables
# ---------------------------------------------------------------------- #
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY0 = 8036  # 1992-01-01 as days since the epoch


def tpch_tables(rng, n_orders: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """orders and lineitem in TPC-H's shape: sparse order keys (a key
    range where three of four keys are absent), one to seven lines per
    order, seven years of ship dates."""
    okeys = np.sort(rng.choice(np.arange(1, 4 * n_orders + 1), n_orders, replace=False)).astype(np.int64)
    odate = DAY0 + rng.integers(0, 7 * 365 - 151, n_orders)
    orders = pd.DataFrame({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_orders // 10 + 2, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": odate.astype(np.int32),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    owner = np.repeat(np.arange(n_orders), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n).astype(float)
    lineitem = pd.DataFrame({
        "l_orderkey": okeys[owner],
        "l_partkey": rng.integers(1, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_000, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - first + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": (odate[owner] + rng.integers(1, 122, n)).astype(np.int32),
    })
    return orders, lineitem


def write_parquet_dates(df: pd.DataFrame, path: str, date_cols: list[str]) -> None:
    """Write ``df`` as one parquet file; ``date_cols`` hold day numbers
    and are stored as DATE."""
    cols = {}
    for c in df.columns:
        if c in date_cols:
            cols[c] = pa.array(df[c].to_numpy(np.int32), pa.date32())
        else:
            cols[c] = pa.array(df[c].to_numpy())
    pq.write_table(pa.table(cols), path)


def table_reference(orders, lineitem, lo_day: int, hi_day: int, top_n: int) -> dict:
    """Filter + join + grouped aggregate + top-N + per-key rows."""
    li = lineitem[(lineitem.l_shipdate >= lo_day) & (lineitem.l_shipdate < hi_day)]
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey", how="inner")
    j = j.assign(rev=j.l_extendedprice * (1 - j.l_discount))
    grp = j.groupby(["o_orderpriority", "l_returnflag"]).agg(
        n=("l_quantity", "size"), qty_sum=("l_quantity", "sum"),
        qty_mean=("l_quantity", "mean"), qty_max=("l_quantity", "max"), rev=("rev", "sum"),
    )
    top = j.sort_values(
        ["l_extendedprice", "l_orderkey", "l_linenumber"], ascending=[False, True, True]
    ).head(top_n)
    by_key = {
        int(k): sorted((int(k), ln, pk) for ln, pk in zip(v.l_linenumber.tolist(), v.l_partkey.tolist()))
        for k, v in j.groupby("l_orderkey")
    }
    return {
        "joined_rows": len(j),
        "groups": {k: row for k, row in grp.to_dict("index").items()},
        "top": list(zip(top.l_orderkey.tolist(), top.l_linenumber.tolist())),
        "by_key": by_key,
        "keys_present": np.array(sorted(by_key), dtype=np.int64),
    }


LOOKUP_ABSENT_FRAC = 0.1
LOOKUP_INTERVAL_FRAC = 0.15
LOOKUP_INTERVAL_WIDTH = 16


def lookup_plan(rng, ref: dict, n: int, key_hi: int) -> list[tuple]:
    """Closed-loop lookup sequence: Zipf-skewed present keys, ~10%
    absent keys, and ~15% short key intervals. Each item is
    ``("point", k)`` or ``("interval", lo, hi)``."""
    present = ref["keys_present"]
    present_set = set(present.tolist())
    ranks = rng.zipf(1.2, 4 * n)
    ranks = ranks[ranks <= len(present)][:n]
    perm = rng.permutation(len(present))
    out = []
    for i in range(n):
        u = rng.random()
        if u < LOOKUP_ABSENT_FRAC:
            k = int(rng.integers(1, key_hi))
            while k in present_set:
                k = int(rng.integers(1, key_hi))
            out.append(("point", k))
        elif u < LOOKUP_ABSENT_FRAC + LOOKUP_INTERVAL_FRAC:
            lo = int(present[perm[ranks[i] - 1]])
            out.append(("interval", lo, lo + LOOKUP_INTERVAL_WIDTH))
        else:
            out.append(("point", int(present[perm[ranks[i] - 1]])))
    return out


def expected_lookup(ref: dict, item: tuple) -> list:
    """Rows (orderkey, linenumber, partkey) a lookup must return, in key
    order."""
    by_key, keys = ref["by_key"], ref["keys_present"]
    if item[0] == "point":
        return by_key.get(item[1], [])
    lo_i = np.searchsorted(keys, item[1], side="left")
    hi_i = np.searchsorted(keys, item[2], side="right")
    rows = []
    for k in keys[lo_i:hi_i]:
        rows.extend(by_key[int(k)])
    return rows
