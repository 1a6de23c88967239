# spark-submit packaging (BASELINE.json north rule)

PKG := e_commerce_lakehouse_spark
DIST := dist/engine.zip

.PHONY: package test bench check clean

package:
	mkdir -p dist
	rm -f $(DIST)
	cd . && zip -qr $(DIST) $(PKG) -x '*__pycache__*'
	@echo "built $(DIST); run: spark-submit --py-files $(DIST) run_maintenance.py --help"

# the ROADMAP's Tier-1 command, verbatim
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

check:
	python tools/check_oracles.py

clean:
	rm -rf dist
