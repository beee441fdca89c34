.PHONY: help install install-dev test coverage bench bench-trace verify clean

help:
	@echo "cordon-spark development Makefile"
	@echo "  make install       Editable install (console scripts)"
	@echo "  make install-dev   Install with dev extras"
	@echo "  make test          Run the test suite"
	@echo "  make bench         One untraced headline_centroid perfbench run (JSON result on the last line)"
	@echo "  make bench-trace   The same run traced: per-layer and plans.pipeline.* metrics"
	@echo "  make verify        Driver-contract correctness gate (all oracle queries vs DuckDB);"
	@echo "                     optional SF=<sf dir> QUERIES=name,name"
	@echo "  make clean         Remove caches and build artifacts"

install:
	pip install -e . || python setup.py develop

install-dev:
	pip install -e ".[dev]" || python setup.py develop

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

coverage:
	python -m pytest tests/ -q --cov=cordon_spark --cov-report=term-missing

bench:
	python3 perfbench/run.py --workload headline_centroid --seed 1 --seconds 1 --trace 0

bench-trace:
	python3 perfbench/run.py --workload headline_centroid --seed 1 --seconds 1 --trace 1

verify:
	python scripts/check_entry.py "$(SF)" "$(QUERIES)"

clean:
	rm -rf .pytest_cache .build cordon_spark.egg-info
	find . -name __pycache__ -type d -exec rm -rf {} +
