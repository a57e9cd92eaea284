# Developer ergonomics (the reference ships a justfile; same idea).

SF ?= /root/testdata/sf0.001
SF1_DIR ?= /tmp/shaha_sf1

.PHONY: test test-maint perfbench-ab oracle oracle-big sf1 oracle-sf1 sf4 oracle-sf4 bench perfbench plans coverage window clean

test:  ## default (driver) lane — slow tier excluded via pytest.ini addopts
	python -m pytest tests/ -x -q

test-slow:  ## the heavy lifecycle/invariance tier (index build/append/compact, CLI e2e, partitioning invariance) — the builder runs this every round
	python -m pytest tests/ -x -q -m slow

test-maint:  ## the maintenance verbs (append, compact, forget, snapshot; the ANN index's append and compaction) with their slow-lane crash tests
	python -m pytest -m "" tests/test_append.py tests/test_compact.py tests/test_forget.py tests/test_snapshot.py tests/test_swap_safety.py tests/test_object_store.py tests/test_ann_index.py

test-all:  ## both lanes in one run (pre-round green check)
	python -m pytest tests/ -x -q -m ""

oracle:  ## differential correctness vs DuckDB at the driver-gate scale
	SHAHA_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle.py -q

oracle-big:  ## same at sf0.1 (10x the gate) — run at least once a round
	SHAHA_TEST_SF_DIR=/root/testdata/sf0.1 python -m pytest tests/test_oracle.py -q

sf1:  ## materialize the 10x replicated sf1 dataset (key-remapped; ~3 s)
	python scripts/make_sf1.py $(SF1_DIR) 10

oracle-sf1: sf1  ## magnitude-sensitive oracle family at sf1 (catches >2^53 divergence)
	SHAHA_TEST_SF_DIR=$(SF1_DIR) python -m pytest tests/test_oracle.py -q \
	  -k "query_matches_oracle and (tpch or profile or events_interarrival or events_hourly or events_rollup or events_retention or events_outliers or events_percentiles or token_budget or dsir or db_stats or build_summary or dq_ or winsorized or equidepth or gapfill or temperature or events_ks or bootstrap or events_trend or events_autocorr or mutual_info or quantile_disc or weighted_reservoir or events_ewma or seasonality or isotonic or rolling_median)"

SF4_DIR ?= /tmp/shaha_sf4

sf4:  ## 40x replicated dataset — one decade past sf1 for magnitude growth
	python scripts/make_sf1.py $(SF4_DIR) 40

oracle-sf4: sf4  ## the same magnitude-sensitive family at 40x
	SHAHA_TEST_SF_DIR=$(SF4_DIR) python -m pytest tests/test_oracle.py -q \
	  -k "query_matches_oracle and (tpch or profile or events_interarrival or events_hourly or events_rollup or events_retention or events_outliers or events_percentiles or token_budget or dsir or db_stats or build_summary or dq_ or winsorized or equidepth or gapfill or temperature or events_ks or bootstrap or events_trend or events_autocorr or mutual_info or quantile_disc or weighted_reservoir or events_ewma or seasonality or isotonic or rolling_median)"

bench:
	python bench.py

perfbench:  ## the hash-database benchmark, both workloads (run A/Bs through this)
	python3 perfbench/run.py --workload build --seed 1 --seconds 1 --trace 0
	python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 1 --trace 0

BASE ?= HEAD
SEEDS ?= 1-10

perfbench-ab:  ## the hash-database benchmark, BASE (a git revision) against the working tree, SEEDS alternating pairs
	python3 scripts/perfbench_ab.py --base $(BASE) --seeds $(SEEDS)

plans:  ## regenerate PLANS.md from live sf0.01 plans
	python scripts/gen_plans.py

coverage:  ## regenerate the COVERAGE.md registry section
	python scripts/gen_coverage_registry.py

window:  ## print the recommended next-round driver-window rotation
	python scripts/plan_window.py

clean:
	rm -rf .pytest_cache __pycache__ shaha_spark/__pycache__ spark-warehouse metastore_db derby.log
