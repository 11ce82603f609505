.PHONY: dist test bench clean

dist:
	@mkdir -p dist
	@cd . && python -c "\
import zipfile, os; \
zf = zipfile.ZipFile('dist/transner_spark.zip', 'w', zipfile.ZIP_DEFLATED); \
[zf.write(os.path.join(r, f)) for r, _d, fs in os.walk('transner_spark') \
 for f in fs if f.endswith('.py')]; \
zf.close(); print('dist/transner_spark.zip')"

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
	python -m pytest perfbench/tests -q

bench:
	python bench.py

clean:
	rm -rf dist
