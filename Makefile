# Round-close verification: every registry query vs its DuckDB oracle at
# sf0.01 plus the physical-plan red-flag audit, one committed artifact
# (BENCH/VERIFY_$(TAG).md). Non-zero exit if either stage fails.
TAG ?= r05

.PHONY: verify test bench

verify:
	python scripts/verify_all.py $(TAG)

# the ROADMAP tier-1 command
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors \
	  -p no:cacheprovider

bench:
	python bench.py
