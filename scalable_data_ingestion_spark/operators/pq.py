"""Product-quantization ANN over the embeddings table — plain PQ-ADC
and the composed IVF-PQ (the production ANN shape).

PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search"): split each D-dim vector into S subvectors, learn a small
codebook per subspace (k-means), store each vector as S one-byte codes,
and answer queries with Asymmetric Distance Computation (ADC) — the
query precomputes its distance to every centroid of every subspace
(an S x K lookup table), and a database vector's approximate distance
is the sum of S table lookups. The corpus is never decompressed.

Everything is expressed relationally so DuckDB value-checks the entire
pipeline — codebook training included:

- reshape: (vec_id, sub, subemb[SUBDIM]) — one row per subspace.
- train: Lloyd k-means over all subspaces AT ONCE, centroids keyed by
  (sub, cid) — the per-subspace loop becomes a grouping key, so one
  unrolled iteration trains all S codebooks simultaneously (same
  fixed-point centroid sums as operators/clustering.py: quantize to
  1e-6 BIGINT before summation, exact under any shuffle order).
- encode: argmin centroid per (vec_id, sub) (ties -> lowest cid).
- ADC: per query, squared-L2 to each (sub, cid) centroid, quantized to
  1e-6 fixed-point BIGINT; candidate distance = integer SUM of S
  lookups via an equi-join on (sub, cid = code) — exact, associative,
  engine-independent.

``sim_ivfpq_knn`` composes this with the learned IVF cells from
operators/clustering.py: probe the nearest cells by coarse-quantizer
distance, then score ONLY the probed cells' vectors in the compressed
domain. That is the IVF-PQ index of Faiss/Milvus/SCANN lineage,
expressed as four joins.

Scale notes (billions of vectors):
- The encoded corpus is S bytes/vector + vec_id — a 64-dim float
  corpus compresses 32x; the ADC join touches only (vec_id, sub, code)
  rows against a broadcast S x K distance table (tiny regardless of
  corpus size).
- Codebook training cost is one shuffle per Lloyd round keyed on
  (sub, cid) with map-side partial fixed-point sums; at real scale you
  train on a sample and broadcast the codebook — the encode step is
  then map-only against broadcast centroids.
- IVF-PQ candidate volume is ~probes/K_cells of the corpus, reached by
  an equi-join on cell id; with the corpus file-layout clustered by
  cell, the probe prunes file scans too. Per-candidate work is S
  integer lookups instead of a D-dim float kernel — the two
  multipliers (fewer candidates x cheaper scoring) are independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table, widen_if_narrow
from ..registry import register
from . import clustering
from .clustering import (
    _cb_sql,
    _dists_sql,
    _fmt_double,
    _materialize_centroids,
)
from .lloyd_arrow import SubCents, assign_rows, driver_lloyd

PQ_SUBS = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (8 x 8 = 64)
PQ_K = 16  # centroids per subspace codebook
PQ_ITERS = 1  # unrolled Lloyd rounds (init from first PQ_K vectors)
PQ_QUERIES = 10  # vec_id < 10 are the query vectors (as in similarity.py)
PQ_TOP_K = 5
_FX = "1000000.0"  # fixed-point scale (centroid sums and ADC cells)


# --------------------------------------------------------------------------
# DuckDB oracle building blocks (prefix-namespaced so the IVF-PQ oracle
# can embed them next to the full-vector k-means CTEs).
# --------------------------------------------------------------------------
def _sub_corpus_sql() -> str:
    return f"""
    sub AS (
      SELECT vec_id, s,
             list_slice(embedding::DOUBLE[], s * {PQ_SUBDIM} + 1,
                        s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS se
      FROM embeddings, unnest(generate_series(0, {PQ_SUBS - 1})) AS u(s)
    )"""


def _duck_sqdist(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM + 1}), i -> "
        f"({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def _duck_assign(cent: str, out: str) -> str:
    return f"""
    {out}_sc AS (
      SELECT sub.vec_id, sub.s, sub.se, c.cid,
             {_duck_sqdist("sub.se", "c.ce")} AS dist
      FROM sub JOIN {cent} c ON c.s = sub.s
    ),
    {out} AS (
      SELECT vec_id, s, se, cid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
        FROM {out}_sc) WHERE rn = 1
    )"""


def _duck_update(assigned: str, out: str) -> str:
    return f"""
    {out}_s AS (
      SELECT s, cid, d,
             sum(CAST(floor(se[d] * {_FX} + 0.5) AS BIGINT)) AS fx,
             count(*) AS cnt
      FROM {assigned}, unnest(generate_series(1, {PQ_SUBDIM})) AS t(d)
      GROUP BY s, cid, d
    ),
    {out} AS (
      SELECT s, cid, list(fx / ({_FX} * cnt) ORDER BY d) AS ce
      FROM {out}_s GROUP BY s, cid
    )"""


def _duck_codebook(prefix: str = "") -> str:
    """CTE chain producing `{prefix}cb` (final centroids) and
    `{prefix}codes` (encoded corpus); requires the `sub` CTE."""
    parts = [
        f"""{prefix}c0 AS (
      SELECT s, CAST(vec_id AS INTEGER) AS cid, se AS ce
      FROM sub WHERE vec_id < {PQ_K}
    )"""
    ]
    cent = f"{prefix}c0"
    for it in range(PQ_ITERS):
        parts.append(_duck_assign(cent, f"{prefix}a{it}").strip())
        parts.append(_duck_update(f"{prefix}a{it}", f"{prefix}c{it + 1}").strip())
        cent = f"{prefix}c{it + 1}"
    parts.append(f"{prefix}cb AS (SELECT * FROM {cent})")
    parts.append(_duck_assign(f"{prefix}cb", f"{prefix}codes").strip())
    return ",\n".join(parts)


def _duck_adc_table(queries_pred: str, cb: str, out: str) -> str:
    """Quantized query->centroid distance table CTE."""
    return f"""
    {out} AS (
      SELECT q.vec_id AS query_id, c.s, c.cid,
             CAST(floor({_duck_sqdist("q.se", "c.ce")} * {_FX} + 0.5) AS BIGINT)
                 AS pd_fx
      FROM sub q JOIN {cb} c ON c.s = q.s
      WHERE {queries_pred}
    )"""


# --------------------------------------------------------------------------
# Spark building blocks.
# --------------------------------------------------------------------------
def _sub_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
        )
    )
    return (
        emb.select(
            "vec_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {PQ_SUBS - 1}), "
                    f"s -> struct(s, slice(emb, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) AS se))"
                )
            ).alias("x"),
        )
        .select("vec_id", F.col("x.s").alias("s"), F.col("x.se").alias("se"))
        .persist()
    )


def _sqdist() -> F.Column:
    # built lazily: constructing lambda Columns needs an active session
    return F.aggregate(
        F.zip_with("se", "ce", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(sub: DataFrame, cent: DataFrame) -> DataFrame:
    scored = sub.join(F.broadcast(cent), "s").withColumn("dist", _sqdist())
    wa = W.partitionBy("vec_id", "s").orderBy("dist", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "se", "cid")
    )


def _update(assigned: DataFrame) -> DataFrame:
    per_dim = (
        assigned.select("s", "cid", F.posexplode("se").alias("d", "v"))
        .groupBy("s", "cid", "d")
        .agg(
            F.sum(
                F.floor(F.col("v") * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
            ).alias("fx"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return (
        per_dim.groupBy("s", "cid")
        .agg(
            F.sort_array(F.collect_list(F.struct("d", "fx"))).alias("ds"),
            F.max("cnt").alias("cnt"),
        )
        .select(
            "s", "cid", F.expr(f"transform(ds, t -> t.fx / ({_FX} * cnt))").alias("ce")
        )
    )


def _sub_assign_exprs(cents_by_s: SubCents, col: str = "se"):
    """(cid, dist) argmin Columns against driver-side per-subspace
    codebooks: the subspace key indexes that subspace's literal
    codebook, whose distance array is the `clustering._dists_sql` fold.
    `array_position(ds, array_min(ds))` takes the FIRST index holding
    the minimum, so ties go to the lowest cid (the `row_number()` /
    `min(struct(dist, cid))` rule of the DataFrame path); distances are
    always >= +0.0, so the -0.0 vs 0.0 corner cannot arise. Map-only:
    replaces the per-round broadcast join + (vec_id, s)-keyed
    row_number window of the DataFrame `_assign`."""

    def branch(cents: list[tuple[int, list[float]]]) -> tuple[str, str]:
        cents = sorted(cents, key=lambda t: t[0])
        cb, ids = _cb_sql(cents)
        ds = _dists_sql(cb, col)
        cid = f"element_at({ids}, CAST(array_position({ds}, array_min({ds})) AS INT))"
        return cid, f"array_min({ds})"

    if len(cents_by_s) == 1:
        cid_sql, dist_sql = branch(next(iter(cents_by_s.values())))
        return F.expr(cid_sql), F.expr(dist_sql)
    # subspace ids are contiguous 0..S-1 (the sub corpus explodes them
    # that way); index the per-subspace codebooks with one literal
    # array-of-codebooks lookup instead of a CASE chain.
    ss = sorted(cents_by_s)
    assert ss == list(range(len(ss))), f"non-contiguous subspace ids: {ss}"
    cbs, idss = zip(*(_cb_sql(sorted(cents_by_s[s])) for s in ss))
    cb3 = "array(" + ",".join(cbs) + ")"
    ids2 = "array(" + ",".join(idss) + ")"
    ds = _dists_sql(f"element_at({cb3}, CAST(s AS INT) + 1)", col)
    cid = (
        f"element_at(element_at({ids2}, CAST(s AS INT) + 1), "
        f"CAST(array_position({ds}, array_min({ds})) AS INT))"
    )
    return F.expr(cid), F.expr(f"array_min({ds})")


def _sub_centroids_df(spark, cents_by_s: SubCents) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("s", T.IntegerType(), False),
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("ce", T.ArrayType(T.DoubleType(), False), False),
        ]
    )
    rows = [
        (int(s), int(c), list(ce))
        for s in sorted(cents_by_s)
        for c, ce in sorted(cents_by_s[s])
    ]
    return spark.createDataFrame(rows, schema=schema)


def _centroid_case_sql(cents: list[tuple[int, list[float]]], key: str = "cid") -> str:
    """CASE mapping an assigned cid to its literal centroid array."""
    whens = " ".join(
        f"WHEN {int(c)} THEN array({','.join(_fmt_double(v) for v in ce)})"
        for c, ce in sorted(cents)
    )
    return f"(CASE {key} {whens} END)"


def _codebook(sub: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the per-subspace codebooks; returns (centroids, codes).

    `codes` additionally carries `se` and `dist` (distance to the
    assigned codeword) on the literal path so distortion consumers skip
    the codes->sub and codes->cent re-joins entirely; Catalyst prunes
    the extra columns wherever they are unused."""
    if clustering.DRIVER_CENTROIDS:
        cents = driver_lloyd(sub, PQ_ITERS, PQ_K)
        cid_col, dist_col = _sub_assign_exprs(cents)
        codes = sub.select(
            "vec_id", "s", "se", cid_col.alias("cid"), dist_col.alias("dist")
        )
        return _sub_centroids_df(sub.sparkSession, cents), codes
    cent = sub.filter(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").cast("int").alias("cid"), F.col("se").alias("ce")
    )
    for _ in range(PQ_ITERS):
        # Codebooks are dimension-sized (SUBSPACES x PQ_K rows), so they
        # are held driver-side between rounds — without this, `cent` is
        # referenced by BOTH the codes assignment and the ADC table, and
        # each reference re-executes the whole training chain.
        cent = _materialize_centroids(_update(_assign(sub, cent)))
    codes = _assign(sub, cent).select("vec_id", "s", "cid")
    return cent, codes


def _adc_table(sub: DataFrame, cent: DataFrame) -> DataFrame:
    q = sub.filter(F.col("vec_id") < PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", F.col("se").alias("se")
    )
    return (
        q.join(F.broadcast(cent), "s")
        .withColumn("dist", _sqdist().cast("double"))
        .select(
            "query_id",
            "s",
            "cid",
            F.floor(F.col("dist") * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("pd_fx"),
        )
    )


def _topk(cand: DataFrame) -> DataFrame:
    wk = W.partitionBy("query_id").orderBy("adc_fx", "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("adc_fx") / F.lit(float(_FX)), 6).alias("approx_sq_dist"),
            "rank",
        )
    )


# --------------------------------------------------------------------------
# Plain PQ-ADC kNN: exhaustive over the encoded corpus.
# --------------------------------------------------------------------------
@register(
    "sim_pq_adc_knn",
    oracle=f"""
    WITH {_sub_corpus_sql().strip()},
    {_duck_codebook()},
    {_duck_adc_table(f"q.vec_id < {PQ_QUERIES}", "cb", "dt").strip()},
    cand AS (
      SELECT dt.query_id, codes.vec_id AS neighbor_id,
             sum(dt.pd_fx) AS adc_fx
      FROM codes JOIN dt ON dt.s = codes.s AND dt.cid = codes.cid
      WHERE codes.vec_id != dt.query_id
      GROUP BY dt.query_id, codes.vec_id
    )
    SELECT query_id, neighbor_id,
           round(adc_fx / {_FX}, 6) AS approx_sq_dist, rank
    FROM (
      SELECT query_id, neighbor_id, adc_fx,
             CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY adc_fx, neighbor_id)
                 AS INTEGER) AS rank
      FROM cand) WHERE rank <= {PQ_TOP_K}
    """,
)
def sim_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed approximate kNN via asymmetric distance computation.

    All {PQ_SUBS} subspace codebooks train in ONE k-means (subspace id
    is a grouping key); queries look up quantized per-subspace
    distances from a broadcast {PQ_SUBS}x{PQ_K} table and candidates
    sum them with exact integer arithmetic — bit-identical across
    engines and shuffle orders, hence fully oracle-checked (training
    included).
    """
    sub = _sub_corpus(spark, sf_dir)
    cent, codes = _codebook(sub)
    dt = _adc_table(sub, cent)
    cand = (
        codes.join(F.broadcast(dt), ["s", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd_fx").alias("adc_fx"))
    )
    return _topk(cand)


# --------------------------------------------------------------------------
# IVF-PQ: coarse-quantizer cell probing + compressed-domain scoring.
# --------------------------------------------------------------------------
IVFPQ_PROBES = 2


def _register_ivfpq() -> None:
    """Registered via a builder because the oracle embeds clustering.py's
    coarse-quantizer CTE body (deferred import avoids a module cycle)."""
    from .clustering import (
        ITERS as IVF_ITERS,
        _assign as ivf_assign,
        _duck_kmeans_body,
        _update as ivf_update,
        _RAW_CORPUS_CTE,
    )

    oracle = f"""
    WITH {_RAW_CORPUS_CTE},
    {_duck_kmeans_body()},
    {_sub_corpus_sql().strip()},
    {_duck_codebook("p")},
    probe_sc AS (
      SELECT q.vec_id AS query_id, c.cluster_id,
             list_reduce(list_transform(range(1, 65), i ->
               (q.emb[i] - c.cemb[i]) * (q.emb[i] - c.cemb[i])), (x, y) -> x + y)
                 AS dist
      FROM corpus q, c{IVF_ITERS} c WHERE q.vec_id < {PQ_QUERIES}
    ),
    probe AS (
      SELECT query_id, cluster_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dist, cluster_id) AS rn
        FROM probe_sc) WHERE rn <= {IVFPQ_PROBES}
    ),
    {_duck_adc_table(f"q.vec_id < {PQ_QUERIES}", "pcb", "dt").strip()},
    cand_ids AS (
      SELECT p.query_id, f.vec_id AS neighbor_id
      FROM probe p JOIN fin f
        ON f.cluster_id = p.cluster_id AND f.vec_id != p.query_id
    ),
    cand AS (
      SELECT ci.query_id, ci.neighbor_id, sum(dt.pd_fx) AS adc_fx
      FROM cand_ids ci
      JOIN pcodes ON pcodes.vec_id = ci.neighbor_id
      JOIN dt ON dt.query_id = ci.query_id
             AND dt.s = pcodes.s AND dt.cid = pcodes.cid
      GROUP BY ci.query_id, ci.neighbor_id
    )
    SELECT query_id, neighbor_id,
           round(adc_fx / {_FX}, 6) AS approx_sq_dist, rank
    FROM (
      SELECT query_id, neighbor_id, adc_fx,
             CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY adc_fx, neighbor_id)
                 AS INTEGER) AS rank
      FROM cand) WHERE rank <= {PQ_TOP_K}
    """

    def sim_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF-PQ: probe the {IVFPQ_PROBES} nearest coarse cells, then
        ADC-score only those cells' vectors in the compressed domain —
        fewer candidates x cheaper scoring, the Faiss/SCANN production
        shape, fully oracle-checked (both quantizers' training
        included)."""
        # corpus feeds every Lloyd round, both quantizers and the query
        # side — persist so the scan runs once.
        corpus = widen_if_narrow(
            table(spark, sf_dir, "embeddings").select(
                "vec_id",
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
            )
        ).persist()
        # coarse quantizer (full-vector k-means from clustering.py)
        from .clustering import K as IVF_K
        from .clustering import _centroids_df

        def _coarse():
            if clustering.DRIVER_CENTROIDS:
                ccents = driver_lloyd(corpus, IVF_ITERS, IVF_K)[0]
                return _centroids_df(spark, ccents), assign_rows(corpus, ccents)
            cent = corpus.filter(F.col("vec_id") < IVF_K).select(
                F.col("vec_id").cast("int").alias("cluster_id"),
                F.col("emb").alias("cemb"),
            )
            for _ in range(IVF_ITERS):
                cent = ivf_update(ivf_assign(corpus, cent))
            # trained coarse centroids are referenced twice (corpus
            # assignment + query probe scoring) — materialize driver-side.
            cent = _materialize_centroids(cent)
            return cent, ivf_assign(corpus, cent)

        def _fine():
            sub = _sub_corpus(spark, sf_dir)
            pcent, pcodes = _codebook(sub)
            return sub, pcent, pcodes

        # The two quantizer trainings are INDEPENDENT (full-vector
        # k-means over `corpus` vs subspace codebooks over the reshaped
        # relation) — overlap their eager job chains from a 2-thread
        # pool (guide §2.6; the sim_opq_permute_eval pattern).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_coarse = pool.submit(_coarse)
            f_fine = pool.submit(_fine)
            cent, fin = f_coarse.result()
            sub, pcent, pcodes = f_fine.result()

        q = corpus.filter(F.col("vec_id") < PQ_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
        )
        cell_dist = F.aggregate(
            F.zip_with("qe", "cemb", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sc = q.crossJoin(F.broadcast(cent)).withColumn("dist", cell_dist)
        wp = W.partitionBy("query_id").orderBy("dist", "cluster_id")
        probe = (
            sc.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= IVFPQ_PROBES)
            .select("query_id", "cluster_id")
        )

        # ADC table over the (thread-pooled) fine quantizer's output
        dt = _adc_table(sub, pcent)

        cand_ids = F.broadcast(probe).join(
            fin.select("vec_id", "cluster_id"), "cluster_id"
        ).filter(F.col("vec_id") != F.col("query_id")).select("query_id", "vec_id")
        cand = (
            cand_ids.join(pcodes, "vec_id")
            .join(F.broadcast(dt), ["query_id", "s", "cid"])
            .groupBy("query_id", "vec_id")
            .agg(F.sum("pd_fx").alias("adc_fx"))
        )
        return _topk(cand)

    register("sim_ivfpq_knn", oracle=oracle)(sim_ivfpq_knn)


_register_ivfpq()


# --------------------------------------------------------------------------
# PQ quantization distortion — the codebook-quality eval next to the
# ADC/IVF-PQ search ops: per subspace, the mean squared distance
# between the true sub-vectors and their assigned codewords. This is
# the number a PQ deployment tracks when choosing S x K (more
# centroids = less distortion = better recall at the same probe
# budget) and when deciding a codebook has gone stale after corpus
# drift. Per-vector distances quantize to fixed point before the
# per-subspace mean (uniform exact-sums policy).
#
# Scale: encode is the usual broadcast-codebook map pass; the eval
# adds one S-sized aggregate. No new shuffles beyond the training's.
# --------------------------------------------------------------------------
@register(
    "sim_pq_distortion",
    oracle=f"""
    WITH {_sub_corpus_sql().strip()},
    {_duck_codebook()},
    dists AS (
      SELECT co.s,
             CAST(floor({_duck_sqdist("sub.se", "c.ce")} * {_FX} + 0.5)
                  AS BIGINT) AS dfx
      FROM codes co
      JOIN sub ON sub.vec_id = co.vec_id AND sub.s = co.s
      JOIN cb c ON c.s = co.s AND c.cid = co.cid
    )
    SELECT CAST(s AS INTEGER) AS s,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(sum(dfx) / ({_FX} * count(*)), 6) AS mean_sq_dist
    FROM dists GROUP BY s
    """,
)
def sim_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace mean squared quantization error of the trained PQ
    codebooks (exact fixed-point means)."""
    sub = _sub_corpus(spark, sf_dir)
    cent, codes = _codebook(sub)
    if "dist" in codes.columns:
        # literal path: dist to the assigned codeword is already on the
        # codes relation — the distortion rollup is one aggregate, no
        # codes->sub / codes->cent re-joins.
        dists = codes.select(
            "s",
            F.floor(F.col("dist") * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("dfx"),
        )
    else:
        dists = (
            codes.join(sub, ["vec_id", "s"])
            .join(F.broadcast(cent), ["s", "cid"])
            .withColumn("dist", _sqdist())
            .select(
                "s",
                F.floor(F.col("dist") * F.lit(1000000.0) + F.lit(0.5))
                .cast("bigint")
                .alias("dfx"),
            )
        )
    return dists.groupBy(F.col("s").cast("int").alias("s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.sum("dfx") / (F.lit(float(_FX)) * F.count(F.lit(1))), 6).alias(
            "mean_sq_dist"
        ),
    )
