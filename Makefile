## Repeatable checks. `make parity-sf001` is the per-round gate the
## verification driver mirrors: every oracle-backed registry query vs
## its DuckDB oracle at sf0.01 (the driver's scale factor).

SF001 ?= /root/testdata/sf0.01

.PHONY: test parity parity-sf001 driver-sim driver-coverage plans bench replay-sweep

# full local suite (sf0.001 oracles + goldens + e2e), run exactly as
# the Tier-1 gate runs it (ROADMAP.md "Tier-1 verify")
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# oracle parity only, default sf0.001
parity:
	python -m pytest tests/test_oracle_parity.py -q

# the driver-scale parity gate: run before ending a round
parity-sf001:
	TEST_SF_DIR=$(SF001) python -m pytest tests/test_oracle_parity.py -q

# plain-session driver simulation (no engine confs) for queries with
# no recorded driver evidence yet — run before every round ends
driver-sim:
	python tools/driver_sim.py --new

# regenerate the driver-sample rotation audit (round-11): lists
# never-sampled names and the next round's exact 50-name window
driver-coverage:
	python tools/driver_coverage.py

plans:
	python tools/dump_plans.py

# every streaming* registry replay at sf0.01: partitions, micro-batches,
# rows and normalized result hash; diff two checkouts' tables
replay-sweep:
	python tools/replay_sweep.py --sf $(SF001)

bench:
	python bench.py
