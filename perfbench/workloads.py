"""The benchmark workloads. Each one generates its inputs from the seed,
prepares what the program needs before timing starts, runs one timed
pass through the public ``hail_spark`` API, and checks the pass's
outputs against the generator's reference answers.

Span names are ``<module>.<public call>`` of the layer being called, so
the traced run's self times read as per-layer costs.
"""

from __future__ import annotations

import datetime
import glob
import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from probes import host_ticks, steal_share
from hail_spark import agg, desc
from hail_spark.io.query_table import matrix_table_cols, query_table, table_stats
from hail_spark.io.vcf import import_vcf
from hail_spark.matrixtable import MatrixTable
from hail_spark.methods.qc import sample_qc, variant_qc
from hail_spark.methods.statgen import (
    hwe_normalized_pca,
    linear_regression_rows,
    logistic_regression_rows,
)
from hail_spark.table import Table


def _close(a, b, rel: float, abs_: float = 0.0) -> bool:
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def storage(path: str) -> dict:
    """Files, row groups and bytes of a written native table."""
    st = table_stats(path)
    files = glob.glob(os.path.join(path, "rows", "*.parquet"))
    return {
        "files": st["n_files"], "row_groups": st["n_row_groups"], "rows": st["n_rows"],
        "bytes": sum(os.path.getsize(f) for f in files), "key_bounds": st["key_bounds"],
    }


def _rows_df(mt: MatrixTable):
    # the rows DataFrame with its entries array is the MatrixTable's
    # documented representation; no public accessor returns it whole
    return mt._df


class Workload:
    name = ""
    sizes: dict = {}
    warmup_passes = 1         # untimed passes before timing

    def __init__(self, size: str, work: str):
        self.p = self.sizes[size]
        self.work = work
        self.items = 0            # work units in one pass
        self.input_files: list[str] = []
        self.stored_path = ""     # native output whose bytes/item is reported

    def generate(self, rng) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Program-side set-up, timed as part of ``setup_s``."""

    def run_pass(self, spark, tr) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> tuple[int, list[str]]:
        """(operations checked, mismatch messages) for one pass."""
        raise NotImplementedError

    def final_check(self, spark) -> list[str]:
        """Deeper output check run once after timing."""
        return []

    def stored_items(self) -> int:
        return self.items


# ---------------------------------------------------------------------- #
class Gwas(Workload):
    """The genomics pipeline in two parts. Ingest: import a small VCF,
    write it as a native MatrixTable and read it back. Analysis, on a
    native MatrixTable of int32 GT/DP/GQ written once before timing:
    variant_qc, filter_rows and sample_qc run on the JVM alone; PCA and
    the regressions run numpy in Python workers over the QC-filtered
    matrix. The analysed cohort is not read from the VCF because
    import_vcf's plan cost grows faster than the sample count: one
    import of 800 variants x 100 samples takes about 16 s on 4 cores."""

    name = "gwas"
    # the first pass pays JIT compilation and Python worker start-up;
    # the second was still about 7% slower than the third
    warmup_passes = 2
    sizes = {
        "full": {"vcf_variants": 1000, "vcf_samples": 10,
                 "variants": 800, "samples": 100, "causal": 3, "checked": 15},
        "tiny": {"vcf_variants": 120, "vcf_samples": 4,
                 "variants": 400, "samples": 120, "causal": 3, "checked": 5},
    }
    MIN_CALL_RATE, MIN_AF, MAX_AF = 0.95, 0.02, 0.98
    K, N_COV = 10, 3

    def generate(self, rng):
        p = self.p
        self.v = gen.genotype_matrix(rng, p["vcf_variants"], p["vcf_samples"])
        self.vcf = os.path.join(self.work, "input.vcf")
        gen.write_vcf(self.vcf, self.v)
        self.vcf_mb = os.path.getsize(self.vcf) / 1e6
        self.stored_path = os.path.join(self.work, "vcf_mt")

        self.g = gen.genotype_matrix(rng, p["variants"], p["samples"], p["causal"])
        self.src = os.path.join(self.work, "genotypes_input")
        gen.write_genotype_parquet(self.src, self.g)
        self.input_files = [self.vcf] + sorted(glob.glob(os.path.join(self.src, "*.parquet")))
        self.items = self.v["gt"].size + self.g["gt"].size
        self.cohort_path = os.path.join(self.work, "genotypes_mt")
        self.pheno = gen.phenotypes(rng, self.g)
        self.cols = [
            {"s": s, **{k: float(v[i]) for k, v in self.pheno.items()}}
            for i, s in enumerate(self.g["samples"])
        ]
        self.qc = gen.qc_reference(self.g, self.MIN_CALL_RATE, self.MIN_AF, self.MAX_AF)
        # association runs on the variants QC keeps
        self.kept = gen.subset(self.g, self.qc["keep"])
        self.evals = gen.pca_reference(self.kept, self.K)
        X = gen.dosage(self.kept)
        mean = np.nanmean(X, axis=1)
        common = np.setdiff1d(np.flatnonzero((mean > 0.2) & (mean < 1.8)), self.kept["causal"])
        extra = rng.choice(common, p["checked"], replace=False)
        self.checked = np.union1d(self.kept["causal"], extra)
        self.pos_index = {int(pos): i for i, pos in enumerate(self.kept["pos"])}

    def prepare(self, spark):
        mt = MatrixTable(spark.read.parquet(self.src), ("locus", "alleles"), self.cols, ("s",))
        mt.write(self.cohort_path, overwrite=True)

    def stored_items(self) -> int:
        return self.v["gt"].size

    def run_pass(self, spark, tr):
        out = self._ingest(spark, tr)
        out.update(self._analyse(spark, tr))
        return out

    def _ingest(self, spark, tr):
        with tr.span("io.vcf.import_vcf"):
            mt = import_vcf(spark, self.vcf)
        with tr.span("io.vcf.parse"):
            tr.force(_rows_df(mt))
        with tr.span("matrixtable.write"):
            mt.write(self.stored_path, overwrite=True)
        with tr.span("matrixtable.read"):
            n = MatrixTable.read(spark, self.stored_path).count_rows()
        return {"n_rows": n, "n_cols": mt.count_cols()}

    def _analyse(self, spark, tr):
        with tr.span("matrixtable.read"):
            mt = MatrixTable.read(spark, self.cohort_path)
            tr.force(_rows_df(mt))
        with tr.span("methods.qc.variant_qc"):
            mt = variant_qc(mt)
            tr.force(mt.rows().df)
        with tr.span("matrixtable.filter_rows"):
            af = F.col("variant_qc.AF")[1]
            mt = mt.filter_rows(
                (F.col("variant_qc.call_rate") >= self.MIN_CALL_RATE)
                & (af >= self.MIN_AF) & (af <= self.MAX_AF)
            )
            if tr.enabled:
                mt.count_rows()
        with tr.span("methods.qc.sample_qc"):
            samples = sample_qc(mt).collect()
        with tr.span("methods.statgen.hwe_normalized_pca"):
            evals, scores, _ = hwe_normalized_pca(mt, k=self.K)
            score_rows = scores.collect()
        by_s = {r["s"]: r["scores"] for r in score_rows}
        pcs = np.array([by_s[c["s"]] for c in self.cols])[:, : self.N_COV]
        covs = [pcs[:, j] for j in range(self.N_COV)]
        with tr.span("methods.statgen.linear_regression_rows"):
            lin = {"y0": linear_regression_rows(mt, "y0", covariates=covs).collect()}
        with tr.span("methods.statgen.logistic_regression_rows"):
            logit = logistic_regression_rows(mt, "wald", "case", covariates=covs).collect()
        return {"samples": samples, "evals": evals, "pcs": pcs, "lin": lin, "logit": logit}

    def check(self, out):
        bad = self._check_ingest(out) + self._check_qc(out["samples"]) + self._check_assoc(out)
        return 10, bad[:20]

    def _check_ingest(self, out):
        bad = []
        if out["n_rows"] != self.p["vcf_variants"]:
            bad.append(f"count_rows {out['n_rows']} != {self.p['vcf_variants']}")
        if out["n_cols"] != self.p["vcf_samples"]:
            bad.append(f"count_cols {out['n_cols']} != {self.p['vcf_samples']}")
        return bad

    def final_check(self, spark):
        """Every entry written from the VCF equals the generated genotype."""
        bad = []
        if [c["s"] for c in matrix_table_cols(self.stored_path)] != self.v["samples"]:
            bad.append("written sample ids differ")
        files = sorted(glob.glob(os.path.join(self.stored_path, "rows", "*.parquet")))
        tbl = pa.concat_tables([pq.read_table(f) for f in files])
        pos = np.array([r["position"] for r in tbl.column("locus").to_pylist()])
        order = np.argsort(pos, kind="stable")
        if not np.array_equal(pos[order], self.v["pos"]):
            return bad + ["written positions differ"]
        ent = tbl.column("__entries").combine_chunks()
        flat = ent.flatten()
        ns = self.p["vcf_samples"]
        for fld, want in (("GT", self.v["gt"]), ("DP", self.v["dp"]), ("GQ", self.v["gq"])):
            got = flat.field(fld).to_numpy(zero_copy_only=False)
            got = np.where(np.isnan(got.astype(float)), -1, got).astype(np.int64).reshape(-1, ns)[order]
            exp = np.where(self.v["missing"], -1, want)
            if not np.array_equal(got, exp):
                bad.append(f"entry field {fld} differs in {int((got != exp).sum())} entries")
        return bad

    def _check_qc(self, rows):
        bad = []
        ref = self.qc["per_sample"]
        idx = {s: i for i, s in enumerate(self.g["samples"])}
        if len(rows) != len(idx):
            return [f"sample_qc returned {len(rows)} samples, want {len(idx)}"]
        kept = {r["n_total"] for r in rows}
        if kept != {self.qc["rows_kept"]}:
            bad.append(f"rows kept {sorted(kept)} != {self.qc['rows_kept']}")
        for r in rows:
            i = idx[r["s"]]
            for f in ("n_called", "n_het", "n_hom_var", "n_hom_ref", "n_singleton",
                      "n_transition", "n_transversion"):
                if r[f] != ref[f][i]:
                    bad.append(f"{r['s']}.{f} {r[f]} != {ref[f][i]}")
            if not _close(r["call_rate"], ref["call_rate"][i], 1e-12):
                bad.append(f"{r['s']}.call_rate {r['call_rate']} != {ref['call_rate'][i]}")
            if not _close(r["dp_stats"]["mean"], ref["dp_mean"][i], 1e-9):
                bad.append(f"{r['s']}.dp_stats.mean {r['dp_stats']['mean']} != {ref['dp_mean'][i]}")
        return bad

    def _by_variant(self, rows, field):
        out = np.full(len(self.pos_index), np.nan)
        for r in rows:
            out[self.pos_index[r["locus"]["position"]]] = r[field]
        return out

    def _top_k_ok(self, p: np.ndarray, slack: int, n_causal: int | None = None) -> bool:
        """The first ``n_causal`` planted variants rank among the
        ``n_causal + slack`` smallest p-values."""
        causal = self.kept["causal"][:n_causal]
        p = np.where(np.isnan(p), np.inf, p)
        top = set(np.argsort(p, kind="stable")[: len(causal) + slack].tolist())
        return set(causal.tolist()) <= top

    def _check_assoc(self, out):
        bad = []
        ev = np.asarray(out["evals"])
        if ev.shape != self.evals.shape or not np.allclose(ev, self.evals, rtol=1e-6, atol=1e-9):
            bad.append(f"PCA eigenvalues {ev[:3]} != {self.evals[:3]}")
        X = gen.dosage(self.kept)
        C = np.column_stack([np.ones(len(self.cols)), out["pcs"]])
        n = len(self.pos_index)
        for y, rows in out["lin"].items():
            if len(rows) != n:
                bad.append(f"linreg {y}: {len(rows)} rows, want {n}")
                continue
            beta, se = self._by_variant(rows, "beta"), self._by_variant(rows, "standard_error")
            for v in self.checked:
                b, s = gen.ols_reference(X[v], self.pheno[y], C)
                if not (_close(beta[v], b, 1e-6, 1e-9) and _close(se[v], s, 1e-6, 1e-9)):
                    bad.append(f"linreg {y} variant {v}: ({beta[v]}, {se[v]}) != ({b}, {s})")
            if not self._top_k_ok(self._by_variant(rows, "p_value"), 10):
                bad.append(f"linreg {y}: planted variants not in the top {self.p['causal'] + 10}")
        rows = out["logit"]
        if len(rows) != n:
            bad.append(f"logreg: {len(rows)} rows, want {n}")
        else:
            beta, se = self._by_variant(rows, "beta"), self._by_variant(rows, "standard_error")
            for v in self.checked:
                b, s = gen.logit_reference(X[v], self.pheno["case"], C)
                if not (_close(beta[v], b, 1e-5, 1e-8) and _close(se[v], s, 1e-5, 1e-8)):
                    bad.append(f"logreg variant {v}: ({beta[v]}, {se[v]}) != ({b}, {s})")
            if not self._top_k_ok(self._by_variant(rows, "p_value"), 25, gen.N_CASE_CAUSAL):
                bad.append(f"logreg: planted variants not in the top {gen.N_CASE_CAUSAL + 25}")
        return bad


# ---------------------------------------------------------------------- #
class TableKeyed(Workload):
    name = "table_keyed"
    # pass times level off from the second pass on
    warmup_passes = 2
    sizes = {
        "full": {"orders": 2000, "lookups": 250, "top": 20},
        "tiny": {"orders": 600, "lookups": 40, "top": 10},
    }

    def generate(self, rng):
        orders, lineitem = gen.tpch_tables(rng, self.p["orders"])
        self.src_o = os.path.join(self.work, "orders.parquet")
        self.src_l = os.path.join(self.work, "lineitem.parquet")
        gen.write_parquet_dates(orders, self.src_o, ["o_orderdate"])
        gen.write_parquet_dates(lineitem, self.src_l, ["l_shipdate"])
        self.input_files = [self.src_o, self.src_l]
        # a fixed-width ship-date window at a seeded start keeps the
        # joined size, and so the work per pass, the same across seeds
        self.lo_day = gen.DAY0 + int(rng.integers(0, 3 * 365))
        self.hi_day = self.lo_day + 3 * 365
        self.ref = gen.table_reference(orders, lineitem, self.lo_day, self.hi_day, self.p["top"])
        self.plan = gen.lookup_plan(rng, self.ref, 16 * self.p["lookups"], 4 * self.p["orders"])
        self.next_lookup = 0
        self.items = len(lineitem)
        self.nat_o = os.path.join(self.work, "orders_ht")
        self.nat_l = os.path.join(self.work, "lineitem_ht")
        self.stored_path = os.path.join(self.work, "joined_ht")

    def prepare(self, spark):
        Table.from_spark(spark.read.parquet(self.src_o), ("o_orderkey",)).write(self.nat_o, overwrite=True)
        Table.from_spark(spark.read.parquet(self.src_l), ("l_orderkey", "l_linenumber")).write(
            self.nat_l, overwrite=True
        )

    @staticmethod
    def _day(d: int) -> datetime.date:
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=d)

    def run_pass(self, spark, tr):
        ticks0 = host_ticks()
        t0 = time.perf_counter()
        with tr.span("table.read"):
            li = Table.read(spark, self.nat_l)
            orders = Table.read(spark, self.nat_o)
        shipped = F.col("l_shipdate")
        li = li.filter((shipped >= F.lit(self._day(self.lo_day))) & (shipped < F.lit(self._day(self.hi_day))))
        with tr.span("table.key_by"):
            li = li.key_by("l_orderkey")
        with tr.span("table.join"):
            j = li.join(orders)
            tr.force(j.df)
        with tr.span("table.group_by"):
            groups = j.group_by("o_orderpriority", "l_returnflag").aggregate(
                n=agg.count(), qty=agg.stats(F.col("l_quantity")),
                rev=agg.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            ).collect()
        with tr.span("table.order_by"):
            top = j.order_by(desc("l_extendedprice"), "l_orderkey", "l_linenumber").head(self.p["top"]).collect()
        with tr.span("table.write"):
            j.write(self.stored_path, overwrite=True)
        batch_s = time.perf_counter() - t0
        batch_steal_share = steal_share(ticks0, host_ticks())
        n = self.p["lookups"]
        items = [self.plan[(self.next_lookup + i) % len(self.plan)] for i in range(n)]
        self.next_lookup += n
        lat, got = [], []
        with tr.span("io.query_table.query_table", lookups=n):
            for it in items:
                a = time.perf_counter()
                if it[0] == "point":
                    rows = query_table(self.stored_path, point=it[1])
                else:
                    rows = query_table(self.stored_path, interval=(it[1], it[2]))
                lat.append(time.perf_counter() - a)
                got.append(rows)
        return {"groups": groups, "top": top, "batch_s": batch_s,
                "batch_steal_share": batch_steal_share,
                "lookups": items, "lookup_s": lat, "lookup_rows": got}

    def check(self, out):
        bad = []
        ref = self.ref
        if len(out["groups"]) != len(ref["groups"]):
            bad.append(f"{len(out['groups'])} groups, want {len(ref['groups'])}")
        for r in out["groups"]:
            want = ref["groups"].get((r["o_orderpriority"], r["l_returnflag"]))
            if want is None:
                bad.append(f"unexpected group {r['o_orderpriority']}/{r['l_returnflag']}")
                continue
            q = r["qty"]
            if (r["n"] != want["n"] or q["n"] != want["n"] or q["max"] != want["qty_max"]
                    or not _close(q["sum"], want["qty_sum"], 1e-12)
                    or not _close(q["mean"], want["qty_mean"], 1e-12)
                    or not _close(r["rev"], want["rev"], 1e-9)):
                bad.append(f"group {r['o_orderpriority']}/{r['l_returnflag']} differs")
        top = [(r["l_orderkey"], r["l_linenumber"]) for r in out["top"]]
        if top != ref["top"]:
            bad.append(f"top rows {top[:3]} != {ref['top'][:3]}")
        n_bad_lookups = 0
        for it, rows in zip(out["lookups"], out["lookup_rows"]):
            have = sorted((r["l_orderkey"], r["l_linenumber"], r["l_partkey"]) for r in rows)
            if have != gen.expected_lookup(ref, it):
                n_bad_lookups += 1
                if n_bad_lookups <= 5:
                    bad.append(f"lookup {it} returned {len(rows)} rows, want {len(gen.expected_lookup(ref, it))}")
        return 5 + len(out["lookups"]), bad[:20]

    def final_check(self, spark):
        st = storage(self.stored_path)
        if st["rows"] != self.ref["joined_rows"]:
            return [f"written rows {st['rows']} != {self.ref['joined_rows']}"]
        return []

    def stored_items(self) -> int:
        return self.ref["joined_rows"]

    def lookup_stats(self, out: dict) -> dict:
        """Row groups a lookup overlaps and rows examined per row
        returned, from the written table's row-group key bounds."""
        st = storage(self.stored_path)
        bounds = st["key_bounds"]
        per_group = st["rows"] / max(st["row_groups"], 1)
        groups = examined = returned = hits = 0
        for it, rows in zip(out["lookups"], out["lookup_rows"]):
            lo, hi = (it[1], it[1]) if it[0] == "point" else (it[1], it[2])
            g = sum(1 for a, b in bounds if a <= hi and b >= lo)
            groups += g
            examined += g * per_group
            returned += len(rows)
            hits += bool(rows)
        n = len(out["lookups"])
        return {
            "row_groups_per_lookup": groups / n,
            "rows_examined_per_row_returned": examined / max(returned, 1),
            "hit_frac": hits / n,
        }


WORKLOADS = {w.name: w for w in (Gwas, TableKeyed)}
