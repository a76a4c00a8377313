.PHONY: test dist bench scaling lint clean

# the tier-1 gate command (ROADMAP.md), so local runs match it
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Zip for spark-submit --py-files (the reference ships bin/g* binaries;
# we ship one zip + cli entry points).
dist:
	rm -f dist/graphblast_spark.zip
	mkdir -p dist
	cd . && python -c "import shutil; shutil.make_archive('dist/graphblast_spark', 'zip', '.', 'graphblast_spark')"
	@echo "spark-submit --py-files dist/graphblast_spark.zip ..."

bench:
	python bench.py

scaling:
	SPARK_GRAFT_DRIVER_MEM=48g SPARK_GRAFT_RMAT_SCALE=23 python bench.py --scaling 4 16

# second-algorithm north-rule evidence (CC to convergence)
scaling-cc:
	SPARK_GRAFT_SCALING_ALGO=cc SPARK_GRAFT_DRIVER_MEM=48g SPARK_GRAFT_RMAT_SCALE=22 python bench.py --scaling 4 16

clean:
	rm -rf dist .bench_scratch .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
