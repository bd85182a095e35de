PY ?= python

test:
	$(PY) -m pytest tests/ -x -q

# the full suite as ROADMAP.md's Tier-1 verify runs it: every test, no -x
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# DuckDB oracle parity at every testdata scale factor (ROADMAP aim 3);
# runs all three and fails if any failed
oracles:
	rc=0; for sf in 0.001 0.01 0.1; do \
	  echo "== sf$$sf"; \
	  SPARK_GRAFT_ORACLE_SF=/root/testdata/sf$$sf $(PY) -m pytest tests/test_oracle_parity.py -q -p no:cacheprovider || rc=1; \
	done; exit $$rc

bench:
	SPARK_GRAFT_SF_DIR=$${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
	SPARK_GRAFT_CPUS=$${SPARK_GRAFT_CPUS:-32} $(PY) bench.py

scaling:
	$(PY) scripts/scaling_bench.py --low 4 --reps 3 --write --json-out SCALING_r3.json

# spark-submit deployment artifact: zip the package for --py-files
dist/contessa_spark.zip: $(shell find contessa_spark -name '*.py')
	mkdir -p dist
	cd . && zip -qr dist/contessa_spark.zip contessa_spark -i '*.py'

zip: dist/contessa_spark.zip

pipeline-smoke: zip
	$(PY) scripts/run_pipeline.py --generate 2000 --base /tmp/cs_smoke --master 'local[8]'
	rm -rf /tmp/cs_smoke

.PHONY: test tier1 oracles bench scaling zip pipeline-smoke
