.PHONY: test bench perfbench package demo clean

# the tier-1 suite, as ROADMAP.md runs it
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

# the registered benchmark workloads (BENCHMARK.json) at seed 1, then the
# benchmark's own smoke test
perfbench:
	python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 1 --trace 0
	python3 perfbench/run.py --workload curation_suite --seed 1 --seconds 1 --trace 0
	python -m pytest perfbench -q

package:
	mkdir -p build && rm -f build/engine.zip && zip -qr build/engine.zip bodhium_webscrapper_spark
	@echo "submit with: spark-submit --py-files build/engine.zip jobs/crawl_job.py ..."

demo: package
	$$(python -c "import pyspark,os;print(os.path.join(os.path.dirname(pyspark.__file__),'bin','spark-submit'))") \
	  --master 'local[8]' --py-files build/engine.zip jobs/crawl_job.py \
	  --synthesize 10000 --workdir build/demo --budget 10 --max-waves 4

clean:
	rm -rf build/demo build/job*
