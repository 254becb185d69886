# spark-graft developer entry points
.PHONY: test parity-driver-scale bench sim

test:            ## tier-1 gate at sf0.001, the ROADMAP command verbatim
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

parity-driver-scale:  ## every oracle at the driver's sf0.01
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_parity.py -q

bench:           ## headline JSON line at sf0.1
	python bench.py

sim:             ## one-shot driver-contract simulation (vanilla session)
	python scripts/driver_sim.py
