# Single entry point for the local evidence chain (r03 verdict item 10):
#   make verify   — oracle gate at sf0.01 AND sf0.001 (the two-SF guard
#                   that kills corpus-pinned / type-divergent oracles),
#                   then the plan audit (pushdown / cartesian / wide-scan).
#   make test     — full pytest suite (the tier-1 command: no -x, so known
#                   failures do not hide later tests).
#   make bench    — median-of-3 suite bench at sf0.1 (writes BENCH.json).
#   make perfbench-smoke — every perfbench workload at tiny size, traced
#                   and untraced, with its correctness checks (~3 min).

PY ?= python

.PHONY: verify gate gate-small audit test bench perfbench-smoke

verify: gate gate-small audit

gate:
	$(PY) scripts/verify_local.py /root/testdata/sf0.01

gate-small:
	$(PY) scripts/verify_local.py /root/testdata/sf0.001

audit:
	$(PY) scripts/audit_plans.py

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	$(PY) bench.py

perfbench-smoke:
	python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
