# Dev targets for the goskyr_spark engine (reference parity:
# /root/reference/Makefile ships release plumbing; this repo is a
# Python/Spark library, so the useful targets are test/bench/package).

PY ?= python

.PHONY: test
test:
	$(PY) -m pytest tests/ -q

.PHONY: test-fast
test-fast:	# kernel + oracle gates only (no multi-minute crawl drives)
	$(PY) -m pytest tests/ -q --ignore=tests/test_bucketed_frontier.py \
	  --ignore=tests/test_adaptive_priority.py \
	  --ignore=tests/test_crawl_engine.py --ignore=tests/test_live_crawl.py

.PHONY: test-browser
test-browser:	# REAL browser leg of the dynamic fetcher (S3); needs
	# `pip install playwright && playwright install chromium`
	$(PY) -m pytest tests/test_browser.py -v

.PHONY: bench
bench:	# one JSON line; SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS override
	$(PY) bench.py

.PHONY: digest
digest:	# crawl digest 768bf8d782fb251d: default/small-bucket/adaptive x driver/cluster/mixed plans
	SPARK_GRAFT_CPUS=$${SPARK_GRAFT_CPUS:-$$(nproc)} $(PY) scripts/digest_gate.py

.PHONY: floor
floor:	# fixed cost of a Python task: trivial mapInArrow job wall + launch -> UDF call wait
	SPARK_GRAFT_CPUS=$${SPARK_GRAFT_CPUS:-$$(nproc)} $(PY) scripts/python_task_floor.py

.PHONY: kernel-cpu
kernel-cpu:	# no Spark: loads_config ms/call per YAML loader, cuckoo insert_many s at 812/6,500/50,000 hashes, _dequeue_frame ms and the driver slab probe ms at crawl_wide's tail-round shape
	$(PY) scripts/kernel_cpu_bench.py

.PHONY: bench-history
bench-history:	# per-round dequeue cost vs crawl history (flatness gate)
	$(PY) scripts/dequeue_scale_bench.py history

.PHONY: completions
completions:	# regenerate shell completions from the live CLI tree
	$(PY) -m goskyr_spark completion -s bash > completions/goskyr-spark.bash
	$(PY) -m goskyr_spark completion -s zsh  > completions/goskyr-spark.zsh
	$(PY) -m goskyr_spark completion -s fish > completions/goskyr-spark.fish

.PHONY: package
package:	# source distribution via the standard build backend
	$(PY) -m pip wheel --no-deps -w dist .

.PHONY: clean
clean:
	rm -rf dist build *.egg-info .pytest_cache
	find . -name __pycache__ -type d -prune -exec rm -rf {} +
