.PHONY: help install install-dev test coverage bench bench-trace bench-pairs verify loc clean

help:
	@echo "cordon-spark development Makefile"
	@echo "  make install       Editable install (console scripts)"
	@echo "  make install-dev   Install with dev extras"
	@echo "  make test          Run the test suite"
	@echo "  make bench         One untraced perfbench run (JSON result on the last line);"
	@echo "                     optional WORKLOAD=<name> (default headline_centroid) SEED=<n> (default 1)"
	@echo "  make bench-trace   The same run traced: per-layer and plans.pipeline.* metrics,"
	@echo "                     e.g. make bench-trace WORKLOAD=knn_band_snapshots"
	@echo "  make bench-pairs   Interleaved parent/change runs: PARENT=<checkout> (required)"
	@echo "                     WORKLOAD=<name>[,<name>...] PAIRS=<n> (default 10) SEED=<first seed>"
	@echo "  make verify        Driver-contract correctness gate (all oracle queries vs DuckDB);"
	@echo "                     optional SF=<sf dir> QUERIES=name,name"
	@echo "  make loc           Lines added, removed and net under cordon_spark/ and tests/"
	@echo "                     against BASE=<rev> (default HEAD), from git diff --numstat;"
	@echo "                     new files count once staged; LOC_PATHS= picks other paths"
	@echo "  make clean         Remove caches and build artifacts"

install:
	pip install -e . || python setup.py develop

install-dev:
	pip install -e ".[dev]" || python setup.py develop

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

coverage:
	python -m pytest tests/ -q --cov=cordon_spark --cov-report=term-missing

WORKLOAD ?= headline_centroid
SEED ?= 1

bench:
	python3 perfbench/run.py --workload $(WORKLOAD) --seed $(SEED) --seconds 1 --trace 0

bench-trace:
	python3 perfbench/run.py --workload $(WORKLOAD) --seed $(SEED) --seconds 1 --trace 1

PAIRS ?= 10

bench-pairs:
	python3 scripts/bench_pairs.py --parent "$(PARENT)" --workload $(WORKLOAD) --pairs $(PAIRS) --seed $(SEED)

verify:
	python scripts/check_entry.py "$(SF)" "$(QUERIES)"

BASE ?= HEAD
LOC_PATHS ?= cordon_spark tests

loc:
	@for p in $(LOC_PATHS); do \
		git diff --numstat $(BASE) -- $$p | awk -v p="$$p/" \
			'{a += $$1; r += $$2} END {printf "%-24s +%d -%d net %+d\n", p, a, r, a - r}'; \
	done
	@git diff --numstat $(BASE) -- $(LOC_PATHS) | awk \
		'{a += $$1; r += $$2} END {printf "%-24s +%d -%d net %+d\n", "total", a, r, a - r}'

clean:
	rm -rf .pytest_cache .build cordon_spark.egg-info
	find . -name __pycache__ -type d -exec rm -rf {} +
