# Local CI targets. `verify-driver` is the round gate: the full DuckDB
# differential at the DRIVER's grain (sf0.01) — ties/rounding that hide
# at 6k lineitem rows surface at 60k, so every round runs it once before
# shipping. `verify-sf01` stress-runs the same differential at sf0.1
# (600k lineitem): traps that survive 60k rows (exact .5-cent rounding
# boundaries, signed-zero epsilons, tie collisions) surface here.
# `test` is ROADMAP.md's Tier-1 gate: everything at sf0.001 under the
# gate's timeout, listing the 25 slowest tests.

.PHONY: test verify-driver verify-sf01 bench bench-commit operators

test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 python -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider --durations=25

verify-driver:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_diff.py -q

verify-sf01:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1 python -m pytest tests/test_oracle_diff.py -q

# Two bench modes (r11 verdict task 3): `bench` writes per-query detail
# to the UNCOMMITTED BENCH_DETAIL.local.json (safe for driver/judge/ad-
# hoc runs — leaves `git status` clean); `bench-commit` is the builder's
# round flow, explicitly refreshing the committed round artifact.
bench:
	python bench.py

bench-commit:
	SPARK_GRAFT_BENCH_DETAIL=BENCH_DETAIL.json python bench.py

operators:
	python -m azure_batch_map_reduce_spark.registry
