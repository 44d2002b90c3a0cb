"""Embedding clustering + semantic dedup (SemDeDup-style).

Cache lifecycle: builders here persist() multi-referenced relations
and deliberately never unpersist (the returned plan still references
them) — consumers own the drop via ``registry.cache_scope`` /
``spark.catalog.clearCache()``; see the registry module docstring.

K-means over the ``embeddings`` table, built so the WHOLE iterative
algorithm is exactly reproducible across engines and partitionings —
which is what makes it oracle-checkable AND safe to scale:

- **Fixed-point centroid accumulation.** The scale hazard in
  distributed k-means is that centroid means are unordered float sums:
  IEEE addition is not associative, so two runs (or two engines) can
  disagree in the last ulp, and a point near a cluster boundary then
  flips assignment — the same failure mode ADVICE.md flagged for the
  round-1 LSH projection. Here every component is quantized to an
  integer (``floor(v * 1e6 + 0.5)``) BEFORE the sum: integer addition
  is exactly associative/commutative, so the per-(cluster, dim) sums
  are identical under any shuffle order, partitioning, or engine, and
  the derived double centroids are bit-identical. No ordered fold, no
  collect_list of members — the aggregation is a plain commutative
  hash aggregate that partial-aggregates map-side and scales to any
  corpus size.
- **Deterministic seeding and tie-breaks.** Initial centroids are the
  K lowest vec_ids; argmin ties break on cluster_id (lexicographic
  struct min). Lloyd iterations are a fixed count (ITERS), so the
  logical plan is a static DAG the optimizer sees whole.
- **Per-row distances stay shuffle-free**: squared distance to each of
  the K broadcast centroids is a Catalyst higher-order fold over the
  zipped arrays, fused into the scan stage; the only shuffles are the
  K-way-keyed centroid aggregates (tiny) and the final argmin combine
  keyed on vec_id.

SemDeDup (Abbas et al. 2023): semantic dedup = cluster the corpus,
then pairwise-compare only WITHIN clusters — the published recipe for
making embedding dedup sub-quadratic. ``emb_semdedup_keep`` runs it
over the dedup module's augmented corpus (planted near-dups), keeping
the lowest vec_id of each high-cosine group per cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table, widen_if_narrow
from ..registry import register
from .dedup import _EMB_CORPUS_CTE, _emb_corpus, EMB_NEARDUP_THRESHOLD
from .lloyd_arrow import assign_rows, driver_lloyd

K = 8
ITERS = 2
DIM = 64
FX = "1000000.0"  # fixed-point scale for exact centroid accumulation

# Hold Lloyd-round centroids driver-side (K x DIM doubles) instead of as
# an ever-deepening DataFrame lineage. Off-switch for A/B path-equality
# verification, mirroring dedup.FAST_CC_EDGE_CAP.
DRIVER_CENTROIDS = (
    os.environ.get("SPARK_GRAFT_KMEANS_DRIVER_CENTROIDS", "1") != "0"
)


# --------------------------------------------------------------------------
# Shared Spark-side building blocks.
# --------------------------------------------------------------------------
def _sq_dist() -> F.Column:
    return F.aggregate(
        F.zip_with("emb", "cemb", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(corpus: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per vector (ties -> lowest cluster_id)."""
    scored = corpus.crossJoin(F.broadcast(cent)).withColumn("dist", _sq_dist())
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cluster_id")).alias("m"),
        F.first("emb").alias("emb"),
    )
    return best.select(
        "vec_id",
        "emb",
        F.col("m.cluster_id").alias("cluster_id"),
        F.col("m.dist").alias("dist"),
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Recompute centroids via exact fixed-point integer sums."""
    per_dim = assigned.select(
        "cluster_id", F.posexplode("emb").alias("d", "v")
    ).groupBy("cluster_id", "d").agg(
        F.sum(F.floor(F.col("v") * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")).alias("fx"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return per_dim.groupBy("cluster_id").agg(
        F.sort_array(F.collect_list(F.struct("d", "fx"))).alias("ds"),
        F.max("cnt").alias("cnt"),
    ).select(
        "cluster_id",
        F.expr(f"transform(ds, s -> s.fx / ({FX} * cnt))").alias("cemb"),
    )


def _materialize_centroids(cent: DataFrame) -> DataFrame:
    """Collect the K-row centroid relation and re-emit it as a local
    literal relation (bit-identical doubles).

    Gated on DRIVER_CENTROIDS (SPARK_GRAFT_KMEANS_DRIVER_CENTROIDS env,
    default on). Every caller sits on a DataFrame-chain branch, which
    runs only with the switch off, so there it returns `cent` unchanged
    and the chain stays lazy for A/B verification.
    """
    if not DRIVER_CENTROIDS:
        return cent
    rows = cent.collect()
    return cent.sparkSession.createDataFrame(rows, schema=cent.schema)


def _fmt_double(x: float) -> str:
    """A SQL literal that parses to exactly this double (17 significant
    digits round-trip; the exponent form parses as DOUBLE, not
    DECIMAL)."""
    return f"({float(x):.17e})"


def _cb_sql(cents: list[tuple[int, list[float]]]) -> tuple[str, str]:
    """(codebook, ids) SQL literals for a sorted centroid list: an
    array-of-arrays of exact doubles and the parallel cluster-id array.
    Constant-folds to two Literal nodes, so the expression tree stays
    tiny (a fully unrolled arithmetic form was measured to cost ~30 s
    of optimizer/codegen time per elbow plan at 4096 terms)."""
    cb = (
        "array("
        + ",".join(
            "array(" + ",".join(_fmt_double(v) for v in ce) + ")" for _, ce in cents
        )
        + ")"
    )
    ids = "array(" + ",".join(str(int(cid)) for cid, _ in cents) + ")"
    return cb, ids


def _dists_sql(cb: str, col: str) -> str:
    """Per-centroid squared-L2 distance array: the IDENTICAL
    `aggregate(zip_with(...))` fold the DataFrame `_assign`/`_sq_dist`
    path evaluates — same lambda, same 0.0 seed, same left-to-right
    order — mapped over the literal codebook instead of crossJoin'd
    rows. Bit-exact by construction; zero joins, zero shuffles."""
    return (
        f"transform({cb}, ce -> aggregate(zip_with({col}, ce, "
        "(a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )


def _centroids_df(spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("cluster_id", T.IntegerType(), False),
            T.StructField("cemb", T.ArrayType(T.DoubleType(), False), False),
        ]
    )
    return spark.createDataFrame(
        [(c, list(ce)) for c, ce in sorted(cents)], schema=schema
    )


def _kmeans_centroids(corpus: DataFrame) -> DataFrame:
    """ITERS Lloyd rounds from the deterministic seed; returns the final
    centroid relation (cluster_id, cemb)."""
    if DRIVER_CENTROIDS:
        return _centroids_df(corpus.sparkSession, driver_lloyd(corpus, ITERS, K)[0])
    # A/B fallback (SPARK_GRAFT_KMEANS_DRIVER_CENTROIDS=0): the pure
    # DataFrame chain — referenced once downstream, the whole
    # ITERS-round DAG executes as one pipelined job.
    corpus = corpus.persist()
    cent = corpus.filter(F.col("vec_id") < K).select(
        F.col("vec_id").cast("int").alias("cluster_id"), F.col("emb").alias("cemb")
    )
    for _ in range(ITERS):
        cent = _update(_assign(corpus, cent))
    return cent


def _kmeans(corpus: DataFrame) -> DataFrame:
    """ITERS Lloyd rounds from the deterministic seed; returns the final
    assignment (vec_id, emb, cluster_id, dist)."""
    if DRIVER_CENTROIDS:
        return assign_rows(corpus, driver_lloyd(corpus, ITERS, K)[0])
    return _assign(corpus, _kmeans_centroids(corpus))


# --------------------------------------------------------------------------
# Shared oracle building blocks (unrolled Lloyd rounds as CTEs).
# --------------------------------------------------------------------------
def _duck_assign(cent: str, out: str) -> str:
    return f"""
{out}_sc AS (
  SELECT e.vec_id, e.emb, c.cluster_id,
         list_reduce(list_transform(range(1, {DIM + 1}), i ->
           (e.emb[i] - c.cemb[i]) * (e.emb[i] - c.cemb[i])), (x, y) -> x + y) AS dist
  FROM corpus e, {cent} c
),
{out} AS (
  SELECT vec_id, emb, cluster_id, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
    FROM {out}_sc) WHERE rn = 1
)"""


def _duck_update(assigned: str, out: str) -> str:
    return f"""
{out}_s AS (
  SELECT cluster_id, d,
         sum(CAST(floor(emb[d] * {FX} + 0.5) AS BIGINT)) AS fx,
         count(*) AS cnt
  FROM {assigned}, unnest(generate_series(1, {DIM})) AS t(d)
  GROUP BY cluster_id, d
),
{out} AS (
  SELECT cluster_id, list(fx / ({FX} * cnt) ORDER BY d) AS cemb
  FROM {out}_s GROUP BY cluster_id
)"""


def _duck_kmeans_body() -> str:
    """WITH-clause fragment: requires a `corpus(vec_id, emb)` CTE to be
    defined already; produces the final assignment CTE named `fin`."""
    parts = [
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster_id, emb AS cemb "
        f"FROM corpus WHERE vec_id < {K})",
    ]
    cent = "c0"
    for it in range(ITERS):
        parts.append(_duck_assign(cent, f"a{it}").strip())
        parts.append(_duck_update(f"a{it}", f"c{it + 1}").strip())
        cent = f"c{it + 1}"
    parts.append(_duck_assign(cent, "fin").strip())
    return ",\n".join(parts)


_RAW_CORPUS_CTE = (
    "corpus AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)"
)


# --------------------------------------------------------------------------
# K-means assignment over the raw embeddings.
# --------------------------------------------------------------------------
@register(
    "emb_kmeans_assign",
    oracle=f"""
    WITH {_RAW_CORPUS_CTE},
    {_duck_kmeans_body()}
    SELECT vec_id, cluster_id, round(dist, 6) AS sq_dist FROM fin
    """,
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cluster assignment after ITERS exact Lloyd rounds."""
    corpus = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        )
    )
    fin = _kmeans(corpus)
    return fin.select(
        "vec_id", "cluster_id", F.round("dist", 6).alias("sq_dist")
    )


# --------------------------------------------------------------------------
# Cluster profile: size, dispersion, majority label.
# --------------------------------------------------------------------------
@register(
    "emb_cluster_profile",
    oracle=f"""
    WITH {_RAW_CORPUS_CTE},
    {_duck_kmeans_body()},
    lab AS (
      SELECT f.vec_id, f.cluster_id, f.dist, e.label
      FROM fin f JOIN embeddings e USING (vec_id)
    ),
    lc AS (
      SELECT cluster_id, label, count(*) AS c FROM lab GROUP BY 1, 2
    ),
    maj AS (
      SELECT cluster_id, label AS majority_label FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY c DESC, label) AS rn
        FROM lc) WHERE rn = 1
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           round(avg(dist), 6) AS avg_sq_dist,
           max(majority_label) AS majority_label
    FROM lab JOIN maj USING (cluster_id)
    GROUP BY cluster_id
    """,
)
def emb_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster membership count, mean squared distance, and the
    majority ``label`` (ties -> lowest label) — the sanity rollup a
    clustering-based curation pass reports. The label join is broadcast
    (dimension-sized); everything else is two small hash aggregates."""
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    corpus = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        )
    )
    lab = _kmeans(corpus).join(F.broadcast(emb), "vec_id")
    lc = lab.groupBy("cluster_id", "label").agg(F.count(F.lit(1)).alias("c"))
    maj = (
        lc.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("cluster_id").orderBy(F.desc("c"), F.asc("label"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("label").alias("majority_label"))
    )
    return (
        lab.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.round(F.avg("dist"), 6).alias("avg_sq_dist"),
        )
        .join(F.broadcast(maj), "cluster_id")
        .select("cluster_id", "n_members", "avg_sq_dist", "majority_label")
    )


# --------------------------------------------------------------------------
# SemDeDup: within-cluster pairwise cosine over the augmented corpus
# (planted near-dups), keep the lowest vec_id per high-cosine group.
# --------------------------------------------------------------------------
@register(
    "emb_semdedup_keep",
    oracle=f"""
    WITH {_EMB_CORPUS_CTE.strip()},
    {_duck_kmeans_body()},
    nrm AS (
      SELECT vec_id, cluster_id, emb,
             sqrt(list_dot_product(emb, emb)) AS n
      FROM fin
    ),
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM nrm a JOIN nrm b
        ON a.cluster_id = b.cluster_id AND a.vec_id > b.vec_id
      WHERE round(list_dot_product(a.emb, b.emb) / (a.n * b.n), 6)
              >= {EMB_NEARDUP_THRESHOLD}
    )
    SELECT f.vec_id, f.cluster_id,
           CAST(d.vec_id IS NULL AS BOOLEAN) AS keep
    FROM fin f LEFT JOIN dropped d USING (vec_id)
    """,
)
def emb_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the augmented corpus: k-means buckets the vectors,
    then the exact-cosine pair scan runs only within each cluster —
    candidate volume is sum(|cluster|^2) ~ n^2/K instead of n^2, and at
    real scale K grows with the corpus (the paper uses ~100k clusters)
    so per-cluster work stays bounded. A vector is dropped when a
    lower-id vector in its cluster has cosine >= threshold; the planted
    near-dups (cosine ~0.9996) are exactly the drops.

    Norms are hoisted below the pair join (once per vector, not per
    pair), and the pair join is an equi-join on cluster_id — no
    nested-loop, no cross join.
    """
    # fin feeds both sides of the within-cluster pair join AND the
    # final keep/drop join — persist or the whole Lloyd chain re-runs
    # per reference.
    fin = _kmeans(_emb_corpus(spark, sf_dir)).persist()
    norm = F.sqrt(
        F.aggregate(
            F.transform("emb", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    nrm = fin.select("vec_id", "cluster_id", "emb", norm.alias("n"))
    a = nrm.alias("a")
    b = nrm.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.emb"), F.col("b.emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
        )
        .filter(F.round(dot / (F.col("a.n") * F.col("b.n")), 6) >= EMB_NEARDUP_THRESHOLD)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        fin.join(F.broadcast(dropped), "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("is_dropped").isNull().alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# IVF ANN over the k-means cells — the real IVF (the label-cell variant
# in operators/similarity.py treats a pre-existing shard column as the
# quantizer; here the quantizer is learned from the vectors, which is
# what makes the cells align with cosine neighborhoods: measured
# recall@5 at sf0.001 is 0.88 for 2 probes vs 0.30 for label cells).
# --------------------------------------------------------------------------
IVF_PROBES = 2
IVF_QUERIES = 10  # vec_id < 10 are the query vectors (as in similarity.py)
IVF_TOP_K = 5


@register(
    "sim_ivf_kmeans_knn",
    oracle=f"""
    WITH {_RAW_CORPUS_CTE},
    {_duck_kmeans_body()},
    probe_sc AS (
      SELECT q.vec_id AS query_id, c.cluster_id,
             list_reduce(list_transform(range(1, {DIM + 1}), i ->
               (q.emb[i] - c.cemb[i]) * (q.emb[i] - c.cemb[i])), (x, y) -> x + y)
                 AS dist
      FROM corpus q, c{ITERS} c WHERE q.vec_id < {IVF_QUERIES}
    ),
    probe AS (
      SELECT query_id, cluster_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dist, cluster_id) AS rn
        FROM probe_sc) WHERE rn <= {IVF_PROBES}
    ),
    cand AS (
      SELECT p.query_id, f.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, f.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(f.emb, f.emb))), 6) AS cosine
      FROM probe p
      JOIN corpus q ON q.vec_id = p.query_id
      JOIN fin f ON f.cluster_id = p.cluster_id AND f.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
                 AS INTEGER) AS rank
      FROM cand) WHERE rank <= {IVF_TOP_K}
    """,
)
def sim_ivf_kmeans_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with learned (k-means) cells: probe the {IVF_PROBES}
    nearest centroids by squared L2 (the assignment metric, an ordered
    index fold — bit-identical cross-engine), then exact-cosine rerank
    only within those cells.

    Scale shape: centroids are K rows (broadcast); the probe is a
    per-query top-{IVF_PROBES} over K scored rows; candidate volume is
    ~{IVF_PROBES}/K of the corpus, reached by an equi-join on
    cluster_id — at real scale, partition (or cluster, in the file-
    layout sense) the corpus by cell id so the probe prunes file scans
    too. No nested loop anywhere; the only corpus-wide shuffles are the
    k-means aggregates, amortizable by materializing the assignment."""
    from pyspark.sql import Window as W

    corpus = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        )
    )
    # trained centroids are referenced TWICE (corpus assignment + query
    # probe scoring), so they are held driver-side (K x DIM);
    # driver_lloyd (chain path: _kmeans_centroids) persists the corpus
    # the rounds iterate over.
    if DRIVER_CENTROIDS:
        cents = driver_lloyd(corpus, ITERS, K)[0]
        cent = _centroids_df(spark, cents)
        fin = assign_rows(corpus, cents)
    else:
        cent = _materialize_centroids(_kmeans_centroids(corpus))
        fin = _assign(corpus, cent)

    q = corpus.filter(F.col("vec_id") < IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    sc = q.crossJoin(F.broadcast(cent)).withColumn(
        "dist",
        F.aggregate(
            F.zip_with("qe", "cemb", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    probe = (
        sc.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("dist", "cluster_id")
            ),
        )
        .filter(F.col("rn") <= IVF_PROBES)
        .select("query_id", "cluster_id")
    )
    v = fin.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster_id").alias("vcell"),
        F.col("emb").alias("ve"),
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    dot = F.aggregate(
        F.zip_with("qe", "ve", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cand = (
        F.broadcast(probe)
        .join(F.broadcast(q), "query_id")
        .join(
            v,
            (F.col("vcell") == F.col("cluster_id"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (norm("qe") * norm("ve")), 6).alias("cosine"),
        )
    )
    wk = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= IVF_TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --------------------------------------------------------------------------
# Incremental IVF index maintenance: assign a NEW vector batch to the
# FROZEN centroids trained on the existing corpus — the cheap path
# that keeps an ANN index serving while vectors stream in (full
# retraining is the scheduled job; per-batch assignment is the online
# one). Mirrors dd_incremental_new_docs' snapshot-delta contract for
# the vector side.
#
# The corpus split is deterministic (vec_id % 4: 0-2 = existing, 3 =
# new batch); training runs the same exact fixed-point Lloyd rounds as
# emb_kmeans_assign on the existing slice only, then ONLY the new
# batch is scored against the broadcast centroids — per-batch cost is
# |batch| x K distance evaluations, no retraining, no corpus scan.
# --------------------------------------------------------------------------
_IVF_INC_SEED_MAX = 10  # first K existing vec_ids seed the centroids


@register(
    "sim_ivf_incremental_assign",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE vec_id % 4 < 3
    ),
    newb AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE vec_id % 4 = 3
    ),
    c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster_id, emb AS cemb
           FROM corpus WHERE vec_id < {_IVF_INC_SEED_MAX}),
    {_duck_assign("c0", "a0").strip()},
    {_duck_update("a0", "c1").strip()},
    {_duck_assign("c1", "a1").strip()},
    {_duck_update("a1", "c2").strip()},
    new_sc AS (
      SELECT e.vec_id, c.cluster_id,
             list_reduce(list_transform(range(1, {DIM + 1}), i ->
               (e.emb[i] - c.cemb[i]) * (e.emb[i] - c.cemb[i])), (x, y) -> x + y)
                 AS dist
      FROM newb e, c2 c
    )
    SELECT vec_id, cluster_id, round(dist, 6) AS sq_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cluster_id) AS rn
      FROM new_sc) WHERE rn = 1
    """,
)
def sim_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign the new vector batch (vec_id % 4 = 3) to centroids
    trained with {ITERS} exact Lloyd rounds on the existing slice."""
    raw = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    corpus = widen_if_narrow(raw.filter(F.col("vec_id") % 4 < 3))
    newb = raw.filter(F.col("vec_id") % 4 == 3)
    if DRIVER_CENTROIDS:
        cents = driver_lloyd(corpus, ITERS, _IVF_INC_SEED_MAX)[0]
        return assign_rows(newb, cents).select(
            "vec_id", "cluster_id", F.round("dist", 6).alias("sq_dist")
        )
    cent = corpus.filter(F.col("vec_id") < _IVF_INC_SEED_MAX).select(
        F.col("vec_id").cast("int").alias("cluster_id"), F.col("emb").alias("cemb")
    )
    for _ in range(ITERS):
        cent = _update(_assign(corpus, cent))
    return _assign(newb, cent).select(
        "vec_id",
        "cluster_id",
        F.round("dist", 6).alias("sq_dist"),
    )


# --------------------------------------------------------------------------
# Simplified (centroid) silhouette — the cluster-quality readout for the
# k-means / SemDeDup stack above. For each vector, a = distance to its
# own centroid and b = distance to the nearest OTHER centroid; because
# the assignment is the argmin, b is simply the second-smallest centroid
# distance and b >= a always, so the silhouette collapses to
# s = 1 - sqrt(d1)/sqrt(d2). Medoid-free silhouette costs O(N*K)
# (the same broadcast-centroid scoring pass the assignment already
# runs) instead of the O(N^2) pairwise definition — the only silhouette
# that is computable at corpus scale.
#
# Determinism: d1/d2 come from the in-order dimension fold (bit-exact
# cross-engine, same property the assignment relies on); sqrt and the
# division are correctly-rounded IEEE scalars; per-point silhouettes are
# quantized to integers (floor(s*1e9 + .5)) BEFORE the per-cluster sum,
# so the mean is exact under any shuffle order.
# --------------------------------------------------------------------------
SIL_FX = "1000000000.0"


@register(
    "emb_silhouette_by_cluster",
    oracle=f"""
    WITH {_RAW_CORPUS_CTE},
    {_duck_kmeans_body()},
    ranked AS (
      SELECT vec_id, cluster_id, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
      FROM fin_sc
    ),
    pair AS (
      SELECT a.vec_id, a.cluster_id,
             CASE WHEN b.dist > 0
                  THEN CAST(floor((1 - sqrt(a.dist) / sqrt(b.dist)) * {SIL_FX} + 0.5)
                       AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS s_fx
      FROM ranked a JOIN ranked b USING (vec_id)
      WHERE a.rn = 1 AND b.rn = 2
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           round(sum(s_fx) / ({SIL_FX} * count(*)), 6) AS mean_silhouette
    FROM pair GROUP BY cluster_id
    """,
)
def emb_silhouette_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster mean simplified silhouette after the exact Lloyd
    rounds (centroid-based: s = 1 - sqrt(d_own)/sqrt(d_next)).

    Scale shape: one broadcast-centroid scoring pass (map-side, fused
    into the scan), one vec_id-keyed combine that keeps only the two
    smallest of the K distances, one K-row hash aggregate. No pairwise
    joins, no windows over unbounded inputs."""
    corpus = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        )
    )
    if DRIVER_CENTROIDS:
        # Map-only top-2: the K centroid distances are a literal-unrolled
        # struct array sorted per row — same (dist, cluster_id) struct
        # ordering as sort_array(collect_list(...)), minus the K-way
        # crossJoin and the vec_id-keyed shuffle of K structs per vector.
        cents = driver_lloyd(corpus, ITERS, K)[0]
        cb, ids = _cb_sql(sorted(cents))
        ds = _dists_sql(cb, "emb")
        top2 = corpus.select(
            "vec_id",
            F.expr(
                f"slice(sort_array(zip_with({ds}, {ids}, "
                "(d, c) -> named_struct('dist', d, 'cluster_id', c))), 1, 2)"
            ).alias("t"),
        )
    else:
        cent = _kmeans_centroids(corpus)
        scored = corpus.crossJoin(F.broadcast(cent)).withColumn("dist", _sq_dist())
        top2 = scored.groupBy("vec_id").agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("dist", "cluster_id"))), 1, 2
            ).alias("t")
        )
    d1 = F.col("t")[0]["dist"]
    d2 = F.col("t")[1]["dist"]
    pair = top2.select(
        F.col("t")[0]["cluster_id"].alias("cluster_id"),
        F.when(
            d2 > 0,
            F.floor((1 - F.sqrt(d1) / F.sqrt(d2)) * float(SIL_FX) + 0.5),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("s_fx"),
    )
    return pair.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.round(F.sum("s_fx") / (float(SIL_FX) * F.count(F.lit(1))), 6).alias(
            "mean_silhouette"
        ),
    )


# --------------------------------------------------------------------------
# K-means elbow curve — total within-cluster inertia after the same
# exact Lloyd procedure at k = 2 / 4 / 8, the model-selection readout
# (where the marginal inertia drop flattens) that decides how many
# IVF cells / SemDeDup buckets the corpus actually supports.
#
# Exactness: the per-k training reuses the module's fixed-point Lloyd
# rounds (deterministic low-id seeds, 1e6 centroid quantization);
# per-vector squared distances quantize to 1e-9 fixed point before
# the BIGINT inertia sum, so the curve is shuffle-order invariant.
#
# Scale shape: sum over k of the k-assignment crossJoins (broadcast
# centroid side, K <= 8 rows) — ~1.75x the single k=8 training cost;
# every reduction is map-side-combining.
# --------------------------------------------------------------------------
ELBOW_KS = (2, 4, 8)
ELBOW_FX = 10**9


def _duck_kmeans_body_k(k: int, sfx: str) -> str:
    """Per-k unrolled Lloyd CTE chain ending in ``fin{sfx}``."""
    parts = [
        f"c0{sfx} AS (SELECT CAST(vec_id AS INTEGER) AS cluster_id, "
        f"emb AS cemb FROM corpus WHERE vec_id < {k})"
    ]
    cent = f"c0{sfx}"
    for it in range(ITERS):
        parts.append(_duck_assign(cent, f"a{it}{sfx}").strip())
        parts.append(_duck_update(f"a{it}{sfx}", f"c{it + 1}{sfx}").strip())
        cent = f"c{it + 1}{sfx}"
    parts.append(_duck_assign(cent, f"fin{sfx}").strip())
    return ",\n".join(parts)


@register(
    "ml_kmeans_elbow",
    oracle=f"""
    WITH {_RAW_CORPUS_CTE},
    {",".join(_duck_kmeans_body_k(k, f"_k{k}") for k in ELBOW_KS)}
    {" UNION ALL ".join(
        f'''SELECT {k} AS k, CAST(count(*) AS BIGINT) AS n_vectors,
           round(sum(CAST(floor(dist * {ELBOW_FX}) AS BIGINT))
                 / {ELBOW_FX}.0, 6) AS inertia,
           round(sum(CAST(floor(dist * {ELBOW_FX}) AS BIGINT))
                 / ({ELBOW_FX}.0 * count(*)), 6) AS inertia_per_vec
        FROM fin_k{k}''' for k in ELBOW_KS)}
    ORDER BY k
    """,
)
def ml_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster inertia at k in {ELBOW_KS} after the exact Lloyd
    rounds — the elbow model-selection curve."""
    corpus = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "emb"
            ),
        )
    ).persist()
    fins: dict[int, DataFrame] = {}
    if DRIVER_CENTROIDS:
        # The per-k Lloyd trainings are independent job chains — run
        # them from a small thread pool so k=4's rounds back-fill the
        # executor slots k=2's tail leaves idle (guide §2.6 overlap
        # independent jobs). Results are keyed by k, so scheduling
        # order cannot affect the output.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(ELBOW_KS)) as pool:
            cents_by_k = list(
                pool.map(lambda k: driver_lloyd(corpus, ITERS, k)[0], ELBOW_KS)
            )
        fins = {
            k: assign_rows(corpus, c)
            for k, c in zip(ELBOW_KS, cents_by_k)
        }
    per_k = []
    for k in ELBOW_KS:
        if DRIVER_CENTROIDS:
            fin = fins[k]
        else:
            cent = corpus.filter(F.col("vec_id") < k).select(
                F.col("vec_id").cast("int").alias("cluster_id"),
                F.col("emb").alias("cemb"),
            )
            for _ in range(ITERS):
                cent = _update(_assign(corpus, cent))
            fin = _assign(corpus, cent)
        fx = F.sum(
            F.floor(F.col("dist") * ELBOW_FX).cast("bigint")
        )
        per_k.append(
            fin.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                F.round(fx / float(ELBOW_FX), 6).alias("inertia"),
                F.round(
                    fx / (float(ELBOW_FX) * F.count(F.lit(1))), 6
                ).alias("inertia_per_vec"),
            ).select(F.lit(k).alias("k"), "*")
        )
    out = per_k[0]
    for df in per_k[1:]:
        out = out.unionByName(df)
    return out.orderBy("k")
