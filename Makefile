# Round-artifact regeneration (VERDICT r4 #7): ONE command rebuilds
# every per-round evidence file from the current code, so no artifact
# can go stale against a late fix. Stages run sequentially — each
# stops its SparkSession before the next starts, and bench.py's
# contention guard additionally waits for straggler JVMs to drain.
#
#   make round-artifacts ROUND=r05          # SWEEP/FUNNEL/BENCH_local/results.csv
#   make sweep ROUND=r05 SF_DIR=/root/testdata/sf0.1
#
ROUND ?= r05
SF_DIR ?= /root/testdata/sf0.1

# Every artifact target pipes through tee — without pipefail a red
# check's non-zero exit is swallowed by tee's 0 and round-artifacts
# would happily commit a FAIL-bearing artifact.
SHELL := /bin/bash
.SHELLFLAGS := -o pipefail -ec

.PHONY: round-artifacts sweep funnel ingest bench replica test tier1

round-artifacts: sweep funnel ingest bench replica

replica:  # 10x-replica value evidence (builds /tmp/replica10 if absent)
	SPARK_GRAFT_SF_DIR=$(SF_DIR) python -m real_time_data_engineering_spark.checks.replica 2>/dev/null | tee REPLICA_$(ROUND).txt

sweep:
	python -m real_time_data_engineering_spark.checks.sweep $(SF_DIR) 2>/dev/null | tee SWEEP_$(ROUND).txt

funnel:
	python -m real_time_data_engineering_spark.checks.funnel $(SF_DIR) 2>/dev/null | tee FUNNEL_$(ROUND).txt

ingest:  # two-shard incremental ladder + in-line incremental==batch equivalence verdict
	python -m real_time_data_engineering_spark.checks.ingest $(SF_DIR) 2>/dev/null | tee INGEST_$(ROUND).txt

bench:  # writes BENCH_local.json (full report) + results.csv; prints the short driver line.
	# The committed artifact runs with a raised query-phase budget so EVERY
	# query gets the full 10-iteration protocol (no `degraded` tail); the
	# driver's own invocation keeps bench.py's safe 420s default so it can
	# never outrun the harness timeout.
	SPARK_GRAFT_BENCH_BUDGET=2400 python bench.py 2>/dev/null | tail -1

test:
	python -m pytest tests/ -x -q

tier1:  # the ROADMAP Tier-1 verify command, verbatim
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

REV ?= HEAD~1
bench-diff:  # flag per-query p50 regressions vs a prior committed BENCH_local.json
	git show $(REV):BENCH_local.json > /tmp/bench_prev.json
	-python -m real_time_data_engineering_spark.checks.bench_diff /tmp/bench_prev.json BENCH_local.json
