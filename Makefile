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

# sha256 row digests of the word-level, embedding, per-row text UDF, summary
# and media queries at sf0.001/0.01/0.1
# (scripts/row_digest.py); ROWS_BASE=<earlier digest file> also
# compares them and fails if any differ
rows:
	$(PY) scripts/row_digest.py --out rows_digest.json
	if [ -n "$(ROWS_BASE)" ]; then $(PY) scripts/row_digest.py --compare "$(ROWS_BASE)" rows_digest.json; fi

# fresh-process start-up with and without the driver JVM's class-data
# archive: get_spark, first SQL job, first arrow_udf job, JVM exit
# (scripts/cold_start.py)
coldstart:
	$(PY) scripts/cold_start.py --reps 3 --out cold_start.json

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

.PHONY: test tier1 oracles rows coldstart bench scaling zip pipeline-smoke
