"""Benchmark runner for hail_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``.perfbench_work/``, starts a Spark session through
``hail_spark.session``, prepares the workload, runs a fixed number of
untimed warm-up passes, then times passes through the public API for
``--seconds`` seconds (at least two) and checks every output. Times
are reported net of the share of CPU time the hypervisor stole from
the machine while they ran (``steal_share``). The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``,
with the end-to-end metrics of BENCHMARK.json under ``--trace 0`` and
the per-layer metrics under ``--trace 1``. Exits non-zero if an output is
wrong or the program cannot be found.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 3
DRIVER_MEM = "2g"


def pin_env() -> dict:
    """Environment every run uses; set before the JVM and the Python
    workers start, and echoed in the run's info line."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # Python workers import hail_spark inside mapInPandas
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": tmp,
        # every JVM, including spark-submit's launcher, keeps its temp
        # files and perf data inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    return env


def spark_conf() -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed young generation keeps peak RSS repeatable between runs
        "spark.driver.extraJavaOptions": "-Xms2g -Xmn256m",
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    return sorted(xs)[max(0, math.ceil(q / 100 * len(xs)) - 1)]


def stop_jvm():
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    import hail_spark

    hail_spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args):
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload](args.size, WORK)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.run_id = uuid.uuid4().hex[:12]

    # -- bookkeeping ---------------------------------------------------- #
    def checked_pass(self, spark, tr) -> dict | None:
        """One pass plus its output check; None if the program raised."""
        from probes import host_ticks, steal_share

        try:
            ticks0 = host_ticks()
            t0 = time.perf_counter()
            w0 = time.time()
            with tr.span("pass"):
                out = self.wl.run_pass(spark, tr)
            out["wall_s"] = time.perf_counter() - t0
            out["wall_window"] = (w0, time.time())
            out["steal_share"] = steal_share(ticks0, host_ticks())
        except Exception:
            self.attempted += 1
            self.failed += 1
            self.errors.append(traceback.format_exc())
            return None
        n_ops, bad = self.wl.check(out)
        self.attempted += n_ops
        self.failed += min(len(bad), n_ops)
        self.errors.extend(bad)
        return out

    def passes(self, spark, seconds, min_passes, tracer_factory, counters=None):
        from probes import delta

        outs = []
        end = time.perf_counter() + seconds
        while len(outs) < min_passes or time.perf_counter() < end:
            before = counters.snapshot() if counters else None
            tr = tracer_factory()
            out = self.checked_pass(spark, tr)
            if out is None:
                break
            out["tracer"] = tr
            if counters:
                out["counters"] = delta(counters.snapshot(), before)
                out["no_job_s"] = counters.no_job_seconds(*out["wall_window"])
            outs.append(out)
        return outs

    # -- phases --------------------------------------------------------- #
    def setup(self):
        """SETUP_REPS cycles of session start, first job and the
        workload's program-side preparation; the first cycle also
        launches the JVM, so the median is a warm cycle."""
        import hail_spark

        from probes import host_ticks, steal_share

        cycles = []
        spark = None
        for _ in range(SETUP_REPS):
            if spark is not None:
                hail_spark.stop()
            ticks0 = host_ticks()
            t0 = time.perf_counter()
            spark = hail_spark.get_spark("perfbench", **spark_conf())
            t1 = time.perf_counter()
            spark.range(1000).selectExpr("sum(id)").collect()
            t2 = time.perf_counter()
            self.wl.prepare(spark)
            t3 = time.perf_counter()
            keep = 1 - steal_share(ticks0, host_ticks())
            cycles.append({"get_spark_s": (t1 - t0) * keep, "first_job_s": (t2 - t1) * keep,
                           "total_s": (t3 - t0) * keep})
        return spark, cycles

    def execute(self) -> tuple[dict, dict]:
        import numpy as np

        from gen import file_digest

        args, wl = self.args, self.wl
        t = time.perf_counter()
        wl.generate(np.random.default_rng(args.seed))
        gen_s = time.perf_counter() - t
        info = {"workload": wl.name, "seed": args.seed, "size": args.size, "run_id": self.run_id,
                "input_sha256": file_digest(wl.input_files), "generate_s": round(gen_s, 3)}
        try:
            return self._measure(info)
        finally:
            stop_jvm()

    def _measure(self, info: dict) -> tuple[dict, dict]:
        from pyspark import SparkContext

        from probes import RssSampler, SparkCounters, Tracer

        args, wl = self.args, self.wl
        spark, cycles = self.setup()
        jvm_pid = SparkContext._gateway.proc.pid
        counters = SparkCounters(spark) if args.trace else None
        untraced = lambda: Tracer(self.run_id, enabled=False)  # noqa: E731
        info["setup_cycles_s"] = [round(c["total_s"], 3) for c in cycles]
        m = {"setup_s": median([c["total_s"] for c in cycles])}
        # the first passes pay JIT compilation of the workload's plans;
        # a fixed count of them, checked but not timed, leaves every run
        # at the same point of that warm-up however loaded the host is
        outs, traced = [], []
        warm = self.passes(spark, 0, wl.warmup_passes, untraced)
        if warm and args.trace:
            # untraced and traced passes alternate, so the JIT warm-up
            # trend does not leak into the tracing overhead
            end = time.perf_counter() + args.seconds
            while len(traced) < 2 or time.perf_counter() < end:
                plain = self.passes(spark, 0, 1, untraced, counters)
                spans = plain and self.passes(spark, 0, 1, lambda: Tracer(self.run_id, counters), counters)
                if not spans:
                    break
                outs += plain
                traced += spans
        elif warm:
            with RssSampler([os.getpid(), jvm_pid]) as rss:
                outs = self.passes(spark, args.seconds, 2, untraced)
            m["peak_rss_mb"] = rss.peak_bytes / 1e6
        info["warmup_s"] = [round(o["wall_s"], 3) for o in warm]
        if outs and not self.failed:
            self.attempted += 1
            bad = wl.final_check(spark)
            self.failed += bool(bad)
            self.errors.extend(bad)
        if outs:
            m.update(self.end_to_end(outs))
            if args.trace:
                m.update(self.per_layer(outs, traced, cycles, info))
        info["pass_s"] = [round(o["wall_s"], 3) for o in outs + traced]
        info["pass_steal_share"] = [round(o["steal_share"], 4) for o in outs + traced]
        if outs and "batch_s" in outs[0]:
            info["batch_s"] = [round(o["batch_s"], 3) for o in outs + traced]
        return m, info

    # -- metrics -------------------------------------------------------- #
    def end_to_end(self, outs) -> dict:
        from workloads import storage

        wl = self.wl
        # each pass's wall time less the share the hypervisor stole from
        # the machine while it ran; on an uncontended host the two agree
        walls = [o["wall_s"] * (1 - o["steal_share"]) for o in outs]
        item_walls = [o["batch_s"] * (1 - o["batch_steal_share"]) if "batch_s" in o
                      else o["wall_s"] * (1 - o["steal_share"]) for o in outs]
        st = storage(wl.stored_path)
        return {
            "wall_s": median(walls),
            "items_per_s": wl.items / median(item_walls),
            "stored_bytes_per_item": st["bytes"] / wl.stored_items(),
        }

    def per_layer(self, outs, traced, cycles, info) -> dict:
        from workloads import storage

        wl = self.wl
        m = {
            "session.get_spark_s": median([c["get_spark_s"] for c in cycles]),
            "session.first_job_s": median([c["first_job_s"] for c in cycles]),
        }
        # substrate counters per untraced pass
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        for k in outs[0]["counters"]:
            m[f"spark.{k}"] = median([o["counters"][k] for o in outs])
        m["spark.cpu_util"] = median(
            [o["counters"]["executor_cpu_s"] / (o["wall_s"] * cores) for o in outs]
        )
        m["driver.no_job_s"] = median([o["no_job_s"] for o in outs])
        m["host.steal_share"] = median([o["steal_share"] for o in outs])
        # per-layer self time, summed per traced pass
        layer: dict[str, list[float]] = {}
        spans_out, layer_self, glue, twalls = [], [], [], []
        for o in traced:
            tr = o["tracer"]
            self_t = tr.self_times()
            sums: dict[str, float] = {}
            for s in tr.spans:
                if s["name"] == "pass":
                    glue.append(self_t[s["id"]])
                    twalls.append(s["end"] - s["start"])
                else:
                    sums[s["name"]] = sums.get(s["name"], 0.0) + self_t[s["id"]]
            layer_self.append(sum(sums.values()))
            for k, v in sums.items():
                layer.setdefault(k, []).append(v)
            spans_out.extend(tr.spans)
        for name in ("io.vcf.import_vcf", "io.vcf.parse", "matrixtable.write", "matrixtable.read",
                     "methods.qc.variant_qc", "matrixtable.filter_rows", "methods.qc.sample_qc",
                     "methods.statgen.hwe_normalized_pca", "methods.statgen.linear_regression_rows",
                     "methods.statgen.logistic_regression_rows", "table.join", "table.group_by",
                     "table.order_by", "table.write"):
            m[f"{name}_s"] = median(layer.get(name, []))
        parse_s = m["io.vcf.parse_s"]
        m["io.vcf.parse_mb_per_s"] = getattr(wl, "vcf_mb", 0.0) / parse_s if parse_s else 0.0
        st = storage(wl.stored_path)
        m.update({"storage.files": st["files"], "storage.row_groups": st["row_groups"],
                  "storage.bytes": st["bytes"]})
        kept = outs[-1]["samples"][0]["n_total"] if "samples" in outs[-1] else 0
        m["matrixtable.rows_kept"] = kept
        # variants per second through the two regressions, which run on
        # the rows QC keeps
        reg_s = m["methods.statgen.linear_regression_rows_s"] + m["methods.statgen.logistic_regression_rows_s"]
        m["methods.statgen.variants_per_s"] = 2 * kept / reg_s if reg_s else 0.0
        m.update(self.lookup_metrics(outs + traced, traced))
        m["trace.wall_s"] = median(twalls)
        m["trace.untraced_wall_s"] = median([o["wall_s"] for o in outs])
        m["trace.overhead_s"] = m["trace.wall_s"] - m["trace.untraced_wall_s"]
        m["trace.layer_self_s"] = median(layer_self)
        m["trace.glue_s"] = median(glue)
        m["trace.spans"] = len(spans_out)
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"{wl.name}-seed{self.args.seed}-{self.run_id}.json")
        with open(path, "w") as f:
            json.dump({"info": info, "spans": spans_out}, f, default=str)
        info["trace_file"] = os.path.relpath(path, ROOT)
        return m

    def lookup_metrics(self, outs, traced) -> dict:
        keys = ("point_ms_p50", "interval_ms_p50", "lookup_ms_p99", "lookups_per_s", "lookups",
                "row_groups_per_lookup", "rows_examined_per_row_returned", "hit_frac", "spark_jobs")
        if "lookups" not in outs[0]:
            return {f"io.query_table.{k}": 0.0 for k in keys}
        point, interval, every = [], [], []
        for o in outs:
            for it, s in zip(o["lookups"], o["lookup_s"]):
                (point if it[0] == "point" else interval).append(s * 1e3)
                every.append(s)
        m = {
            "point_ms_p50": median(point), "interval_ms_p50": median(interval),
            "lookup_ms_p99": pct(every, 99) * 1e3, "lookups_per_s": len(every) / sum(every),
            "lookups": len(every),
        }
        m.update(self.wl.lookup_stats(outs[-1]))
        jobs = 0
        for o in traced:
            for s in o["tracer"].spans:
                if s["name"] == "io.query_table.query_table":
                    jobs += s["counters"]["jobs"]
        m["spark_jobs"] = jobs
        return {f"io.query_table.{k}": v for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hail_spark", "__init__.py")):
        print(f"perfbench: no hail_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    env = pin_env()
    sys.path.insert(0, ROOT)

    run = Run(args)
    try:
        values, info = run.execute()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    info["env"] = {k: v.replace(ROOT, ".") for k, v in env.items()}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for mdef in wanted:
        if mdef["name"] in values:
            metrics[mdef["name"]] = {"value": values[mdef["name"]], "unit": mdef["unit"]}
        else:
            run.errors.append(f"metric {mdef['name']} not measured")
    for e in run.errors[:20]:
        print("perfbench: " + e.rstrip(), file=sys.stderr)
    correct = not run.errors and run.failed == 0
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
