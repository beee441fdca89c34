.PHONY: help install install-dev test coverage bench verify clean

help:
	@echo "cordon-spark development Makefile"
	@echo "  make install       Editable install (console scripts)"
	@echo "  make install-dev   Install with dev extras"
	@echo "  make test          Run the test suite"
	@echo "  make bench         Run the headline benchmark (one JSON line)"
	@echo "  make verify        Driver-contract correctness gate (all oracle queries vs DuckDB)"
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
	python bench.py

verify:
	python scripts/check_entry.py

clean:
	rm -rf .pytest_cache .build cordon_spark.egg-info
	find . -name __pycache__ -type d -exec rm -rf {} +
