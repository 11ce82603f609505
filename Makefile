.PHONY: dist test bench clean loc

# `make dist [DIST=<dir>]` writes <dir>/transner_spark.zip: the package's
# .py files plus the gazetteer fixtures its workers read
DIST ?= dist

dist:
	@mkdir -p $(DIST)
	@python -c "\
import zipfile, os; \
zf = zipfile.ZipFile('$(DIST)/transner_spark.zip', 'w', zipfile.ZIP_DEFLATED); \
[zf.write(os.path.join(r, f)) for r, _d, fs in os.walk('transner_spark') \
 for f in fs if f.endswith(('.py', '.csv', '.txt'))]; \
zf.close(); print('$(DIST)/transner_spark.zip')"

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
	python -m pytest perfbench/tests -q

bench:
	python bench.py

# non-test lines of code: the package, the scripts and the two entry files
loc:
	@cat $$(find transner_spark -name '*.py') scripts/*.py bench.py __spark_entry__.py | wc -l

clean:
	rm -rf dist
