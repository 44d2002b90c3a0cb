# Developer verification targets (VERDICT r4 item #9).
#
# The iron rule this encodes: any commit that registers or changes a
# query runs `make verify-only ONLY=<names>` first; end-of-round state
# runs `make verify` (the full driver-shaped sweep) + `make test`.

PY ?= python3
SF ?= /root/testdata/sf0.01

.PHONY: test test-fast verify verify-only plan-gates bench bench-pipeline bench-kernels all

test:            ## full pytest suite (sf0.001 oracle parity included)
	$(PY) -m pytest tests/ -q

test-fast:       ## parity tests only — the quick pre-commit gate
	$(PY) -m pytest tests/test_oracle_parity.py -q

verify:          ## full registry vs DuckDB at sf0.01 (driver-shaped)
	$(PY) tools/parity_sweep.py --sf $(SF)

verify-only:     ## targeted: make verify-only ONLY=q1,q2
	$(PY) tools/parity_sweep.py --sf $(SF) --only $(ONLY)

plan-gates:      ## plan-shape assertions over every registered query
	$(PY) -m pytest tests/test_plan_quality.py -q

bench:           ## one-line JSON headline bench (sf0.1 by default)
	$(PY) bench.py

bench-pipeline:  ## traced 100-record run_pipeline: per-layer jobs and times
	$(PY) perfbench/run.py --workload pipeline_small --seed 1 --seconds 8 --trace 1

# The 14 queries that run the shared candidate kernel
# (similarity._topk_candidates) or the driver-side Lloyd loop
# (lloyd_arrow.driver_lloyd).
KERNEL_QUERIES = emb_kmeans_assign emb_cluster_profile emb_semdedup_keep \
	emb_silhouette_by_cluster ml_kmeans_elbow sim_ivf_kmeans_knn \
	sim_ivf_incremental_assign sim_ivfpq_knn sim_pq_adc_knn sim_pq_distortion \
	sim_opq_permute_eval sim_rq_distortion ml_knn_loo_accuracy sim_abtt_recall

bench-kernels:   ## min-of-3 cold/warm times of the candidate-kernel and Lloyd consumers (sf0.1 by default)
	$(PY) tools/opt_bench.py $(KERNEL_QUERIES) --runs 3

all: test verify plan-gates
