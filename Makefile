# Local checks:
#   make test     — full pytest suite (the tier-1 command: no -x, so known
#                   failures do not hide later tests).
#   make perfbench-smoke — every perfbench workload at tiny size, traced
#                   and untraced, with its correctness checks (~3 min).
#   make perfbench-ab PARENT=<rev> WORKLOAD=<name> SEEDS="3000 3001 ..."
#                   — A/B of one workload's end-to-end metrics: PARENT and
#                   HEAD each run from their own `git archive` checkout for
#                   BENCHMARK.json's run_seconds, the side that runs first
#                   alternating by seed; prints each pair's wall_s, HEAD's
#                   win count, each side's median and quartiles, the
#                   parent's IQR, and each end-to-end metric of
#                   BENCHMARK.json as the change's median relative to the
#                   parent's, next to its bound, marked when it is worse
#                   by more than the bound.

PY ?= python
PARENT ?= HEAD~1
WORKLOAD ?= gwas
SEEDS ?= 3000 3001 3002 3003 3004 3005 3006 3007 3008 3009

.PHONY: test perfbench-smoke perfbench-ab

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

perfbench-smoke:
	python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

perfbench-ab:
	@set -e; d=$$(mktemp -d); trap 'rm -rf "$$d"' EXIT; \
	mkdir "$$d/parent" "$$d/change"; \
	git archive $(PARENT) | tar -x -C "$$d/parent"; \
	git archive HEAD | tar -x -C "$$d/change"; \
	secs=$$(python3 -c 'import json, sys; print(json.load(sys.stdin)["run_seconds"])' < "$$d/change/BENCHMARK.json"); \
	first=parent; second=change; \
	for s in $(SEEDS); do \
	  for side in $$first $$second; do \
	    echo "$$side $$s $$(cd "$$d/$$side" && python3 perfbench/run.py --workload $(WORKLOAD) \
	      --seed $$s --seconds $$secs --trace 0 2>/dev/null | tail -n 1)" | tee -a "$$d/ab.txt"; \
	  done; t=$$first; first=$$second; second=$$t; \
	done; \
	python3 -c "$$AB_SUMMARY" "$$d/ab.txt" "$$d/change/BENCHMARK.json"

define AB_SUMMARY
import json, sys
import numpy as np
runs = {}
for line in open(sys.argv[1]):
    side, seed, out = line.split(" ", 2)
    try:
        res = json.loads(out)
    except ValueError:
        res = {"correct": False, "metrics": {}}
    runs.setdefault(seed, {})[side] = res
pairs = [(s, r["parent"], r["change"]) for s, r in runs.items() if len(r) == 2]
val = lambda r, m: r["metrics"].get(m, {}).get("value", float("nan"))
wall = lambda r: val(r, "wall_s")
for s, p, c in pairs:
    bad = "" if p["correct"] and c["correct"] else "  (a run failed its checks)"
    print(f"seed {s}: parent {wall(p):.3f} s, change {wall(c):.3f} s{bad}")
print(f"change wins {sum(wall(c) < wall(p) for _, p, c in pairs)}/{len(pairs)} pairs on wall_s")
med = {}
for i, side in ((1, "parent"), (2, "change")):
    q1, med[side], q3 = np.percentile([wall(t[i]) for t in pairs], [25, 50, 75])
    print(f"{side}: median {med[side]:.3f} s, quartiles {q1:.3f} / {q3:.3f} s, IQR {q3 - q1:.3f} s")
    for m in sorted({m for t in pairs for m in t[i]["metrics"]}):
        print(f"  {m} median {np.median([val(t[i], m) for t in pairs]):.6g}")
print(f"median difference {med['parent'] - med['change']:.3f} s; compare it with the parent's IQR")
print("end-to-end metrics, change median against parent median:")
for m in json.load(open(sys.argv[2]))["end_to_end"]:
    p, c = (np.median([val(t[i], m["name"]) for t in pairs]) for i in (1, 2))
    rel = (c - p) / p if p else float("nan")
    worse = rel if m["better"] == "lower" else -rel
    flag = "  WORSE BY MORE THAN THE BOUND" if worse > m["bound"] else ""
    print(f"  {m['name']}: parent {p:.6g}, change {c:.6g}, {rel:+.1%}"
          f" (better {m['better']}, bound {m['bound']:.0%}){flag}")
endef
export AB_SUMMARY
