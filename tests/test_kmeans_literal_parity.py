"""Literal-centroid Lloyd path == pure-DataFrame chain, bit-exactly.

Round-10 optimization: every Lloyd round used to be a K-way crossJoin +
a full-corpus vec_id-keyed shuffle (emb payload) + a two-level centroid
aggregate; the literal path holds the dimension-sized codebook on the
driver (lloyd_arrow.driver_lloyd) and assigns map-only (the Arrow
`assign_rows` kernel or a literal-codebook argmin expression), so a
round is one narrow aggregate. These tests pin the contract that
the rewrite is value-INVISIBLE: identical rows (floats bit-exact via
collect) with DRIVER_CENTROIDS on (literal) and off (DataFrame chain),
for one representative consumer of each rewritten kernel.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from scalable_data_ingestion_spark.operators import clustering
from scalable_data_ingestion_spark.operators.lloyd_arrow import (
    assign_rows,
    driver_lloyd,
)


def _snap(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "query",
    [
        "ml_kmeans_elbow",            # per-k driver Lloyd + map-only inertia
        "emb_kmeans_assign",          # _kmeans -> assign_rows
        "emb_silhouette_by_cluster",  # map-only literal top-2
        "sim_ivf_incremental_assign",  # non-contiguous seed ids (0,1,2,4,..)
        "sim_ivf_kmeans_knn",         # centroids consumed as df AND literal
        "sim_pq_distortion",          # pq subspace codebooks + carried dist
        "sim_rq_distortion",          # 64-wide RQ levels + literal residuals
        "sim_opq_permute_eval",       # permuted layout through pq._codebook
    ],
)
def test_literal_path_matches_dataframe_chain(spark, sf_dir, monkeypatch, query):
    from scalable_data_ingestion_spark import registry

    fn = registry.queries()[query]
    lit = _snap(fn(spark, sf_dir))
    spark.catalog.clearCache()
    monkeypatch.setattr(clustering, "DRIVER_CENTROIDS", False)
    chain = _snap(fn(spark, sf_dir))
    spark.catalog.clearCache()
    assert lit == chain
    assert lit, f"{query} returned no rows at the smoke SF"


def test_assign_exprs_tie_breaks_to_lowest_cluster_id(spark):
    # Two identical centroids: the argmin must pick the lower id, the
    # row_number()/min(struct) tie rule of the DataFrame path.
    corpus = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id long, emb array<double>"
    )
    cents = [(3, [1.0, 2.0]), (1, [1.0, 2.0])]
    out = {
        r.vec_id: (r.cluster_id, r.dist)
        for r in assign_rows(corpus, cents).collect()
    }
    assert out[0] == (1, 0.0)
    assert out[1][0] == 1  # equidistant -> lowest cid


def test_driver_lloyd_drops_empty_cluster(spark):
    # vec_id 0 and 1 are identical seeds: the tie goes to cid 0, so
    # cluster 1 ends the first round with no members. The DataFrame
    # chain's aggregate drops it; the driver loop must drop it too
    # instead of dividing by a zero count.
    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [5.1, 5.0])],
        "vec_id long, emb array<double>",
    )
    got = dict(driver_lloyd(corpus, 2, 3)[0])
    cent = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").cast("int").alias("cluster_id"), F.col("emb").alias("cemb")
    )
    for _ in range(2):
        cent = clustering._update(clustering._assign(corpus, cent))
    # the chain's `fx / (1000000.0 * cnt)` evaluates in DECIMAL
    chain = {r.cluster_id: [float(v) for v in r.cemb] for r in cent.collect()}
    corpus.unpersist()
    assert got == chain == {0: [0.0, 0.0], 2: [5.05, 5.0]}
