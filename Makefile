# Build/test/bench entry points.
#
# `make package` produces the spark-submit artifact (BASELINE.json:
# "packaged for spark-submit --py-files on multi-executor clusters"):
#     spark-submit --py-files dist/mds_provider_spark.zip your_job.py

.PHONY: test bench package oracle plans clean

# perfbench/tests runs in its own session (its conftest starts a
# differently-configured Spark) and pins the fault-plan violations the
# validation assembly must keep.
test:
	python -m pytest tests/ -x -q
	python -m pytest perfbench/tests -x -q

bench:
	python bench.py

oracle:
	python tools/oracle_check.py

plans:
	python tools/explain_audit.py

package:
	mkdir -p dist
	rm -f dist/mds_provider_spark.zip
	zip -qr dist/mds_provider_spark.zip mds_provider_spark
	@echo "dist/mds_provider_spark.zip ready: spark-submit --py-files dist/mds_provider_spark.zip <job.py>"

clean:
	rm -rf dist .pytest_cache
