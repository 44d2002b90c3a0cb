"""OPQ-style subspace balancing and residual quantization — the two
codebook refinements a PQ deployment evaluates next (round-9 shortlist
#5), both next to operators/pq.py's plain-PQ rows:

- **sim_opq_permute_eval** — OPQ (Ge et al. 2013, "Optimized Product
  Quantization") rotates vectors so every PQ subspace carries equal
  variance. The full learned rotation is an iterative SVD no SQL engine
  reproduces; its standard cheap instance — used as OPQ's own init and
  in Faiss practice — is a PERMUTATION: order dimensions by energy and
  deal them round-robin across subspaces, balancing per-subspace
  energy. A permutation is an exact orthogonal transform, so both
  engines apply it identically and the whole eval stays value-checked:
  train identical PQ codebooks on the identity layout and the balanced
  layout, report per-subspace distortion side by side. Energy ranks use
  exact fixed-point integer sums (DECIMAL(38,0) / HUGEINT) so the
  permutation — and hence every downstream float — is engine-identical.
- **sim_rq_distortion** — residual quantization (Chen et al. 2010;
  the RQ/IVF-RQ family): quantize the FULL vector with a coarse
  codebook, then quantize the RESIDUAL with a second-level codebook.
  Reports mean squared distortion at level 0 (raw energy), after level
  1, and after level 2 — the curve that decides RQ depth vs PQ width.

Scale notes (billions of vectors):
- The permutation is a 64-row broadcast mapping; applying it is a
  map-only array shuffle per vector. Energy ranking is one
  dimension-keyed aggregate (64 groups) with map-side partial sums.
- RQ training reuses the PQ Lloyd kernel on (vec_id, s=0, 64-dim)
  rows: one shuffle per level keyed on (s, cid); residuals are a
  broadcast-codebook map pass. Encoded RQ storage is 2 bytes/vector at
  K=16 — the coarse+residual codes the IVF-RQ index stores.

Spark side reuses operators/pq.py's dimension-agnostic Lloyd kernel
(_assign/_update/_codebook work on any ``se`` width); the DuckDB twins
parametrize the same CTE algebra at SUBDIM=64 where pq.py hard-codes 8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table, widen_if_narrow
from ..registry import register
from . import clustering
from .pq import (
    PQ_SUBDIM,
    PQ_SUBS,
    _centroid_case_sql,
    _codebook,
    _sqdist,
    _sub_assign_exprs,
    _sub_centroids_df,
    _sub_corpus,
    _sub_corpus_sql,
    _duck_codebook,
)
from .lloyd_arrow import driver_lloyd

_FX = "1000000.0"
DIM = 64
RQ_K = 16  # centroids per RQ level
RQ_ITERS = 1  # unrolled Lloyd rounds per level (init: first RQ_K vectors)


# --------------------------------------------------------------------------
# Shared distortion rollup (Spark): per-subspace exact fixed-point MSE.
# --------------------------------------------------------------------------
def _distortion(sub: DataFrame, cent: DataFrame, codes: DataFrame) -> DataFrame:
    if "dist" in codes.columns:
        # literal-codebook path (pq._codebook): dist to the assigned
        # codeword is already on codes — one aggregate, no re-joins.
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
        F.round(
            F.sum("dfx") / (F.lit(float(_FX)) * F.count(F.lit(1))), 6
        ).alias("mean_sq_dist"),
    )


# --------------------------------------------------------------------------
# OPQ permutation eval.
# --------------------------------------------------------------------------
def _exploded_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        )
    )
    return emb.select("vec_id", F.posexplode("emb").alias("d", "v"))


def _balanced_perm(ex: DataFrame) -> DataFrame:
    """dim -> (subspace, position) by energy-balanced round-robin deal.

    Energy = sum of squared fixed-point components per dimension, an
    exact DECIMAL(38,0) integer, so the rank order (energy desc, dim)
    is identical in both engines down to ties."""
    fx = F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("bigint")
    energy = ex.groupBy("d").agg(
        F.sum((fx * fx).cast("decimal(38,0)")).alias("e")
    )
    return energy.select(
        "d",
        (F.row_number().over(W.orderBy(F.desc("e"), "d")) - 1).alias("r"),
    ).select(
        "d",
        F.pmod("r", F.lit(PQ_SUBS)).cast("int").alias("s"),
        (F.col("r") / PQ_SUBS).cast("int").alias("pos"),
    )


def _permuted_sub(ex: DataFrame, perm: DataFrame) -> DataFrame:
    return (
        ex.join(F.broadcast(perm), "d")
        .groupBy("vec_id", "s")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            "vec_id", "s", F.expr("transform(pv, t -> t.v)").alias("se")
        )
        .persist()  # feeds init + ITERS assigns + encode + distortion
    )


_OPQ_PERM_SQL = f"""
    ex AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS d, embedding[i]::DOUBLE AS v
      FROM embeddings, unnest(generate_series(1, {DIM})) AS t(i)
    ),
    energy AS (
      SELECT d, sum(CAST(floor(v * {_FX} + 0.5) AS HUGEINT)
                    * CAST(floor(v * {_FX} + 0.5) AS HUGEINT)) AS e
      FROM ex GROUP BY d
    ),
    perm AS (
      SELECT d,
             CAST((row_number() OVER (ORDER BY e DESC, d) - 1) % {PQ_SUBS}
                  AS INTEGER) AS s,
             CAST((row_number() OVER (ORDER BY e DESC, d) - 1) // {PQ_SUBS}
                  AS INTEGER) AS pos
      FROM energy
    ),
    sub AS (
      SELECT vec_id, s, list(v ORDER BY pos) AS se
      FROM ex JOIN perm USING (d)
      GROUP BY vec_id, s
    )"""


def _variant_distortion_sql(sub_cte: str, variant: str) -> str:
    """A full SELECT (own WITH) computing per-subspace PQ distortion
    over the given ``sub`` CTE, labeled with the variant name."""
    return f"""
    SELECT '{variant}' AS variant, CAST(s AS INTEGER) AS s,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(sum(dfx) / ({_FX} * count(*)), 6) AS mean_sq_dist
    FROM (
      WITH {sub_cte.strip()},
      {_duck_codebook()},
      dists AS (
        SELECT co.s,
               CAST(floor(list_reduce(list_transform(range(1, {PQ_SUBDIM + 1}),
                     i -> (sub.se[i] - c.ce[i]) * (sub.se[i] - c.ce[i])),
                     (x, y) -> x + y) * {_FX} + 0.5) AS BIGINT) AS dfx
        FROM codes co
        JOIN sub ON sub.vec_id = co.vec_id AND sub.s = co.s
        JOIN cb c ON c.s = co.s AND c.cid = co.cid
      )
      SELECT s, dfx FROM dists
    )
    GROUP BY s
    """


@register(
    "sim_opq_permute_eval",
    oracle=f"""
    {_variant_distortion_sql(_sub_corpus_sql(), "identity")}
    UNION ALL
    {_variant_distortion_sql(_OPQ_PERM_SQL, "balanced")}
    """,
)
def sim_opq_permute_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ distortion under the identity dimension layout
    vs the OPQ-style energy-balanced permutation — identical training
    budget, the layout is the only difference.

    The two trainings are INDEPENDENT (they share only the raw
    embeddings scan), so they run from a 2-thread pool (guide §2.6
    overlap-independent-jobs; the clustering.ml_kmeans_elbow pattern):
    on the driver-centroid path each `_codebook` is a seed-collect +
    one Arrow-partials job, and the second training's jobs back-fill
    executors left idle by the first's collect round-trips. Results
    are unchanged — the branches touch disjoint relations."""

    def branch_identity() -> DataFrame:
        ident = _sub_corpus(spark, sf_dir)
        cent, codes = _codebook(ident)
        return _distortion(ident, cent, codes).select(
            F.lit("identity").alias("variant"), "s", "n_vectors", "mean_sq_dist"
        )

    def branch_balanced() -> DataFrame:
        ex = _exploded_dims(spark, sf_dir)
        balanced = _permuted_sub(ex, _balanced_perm(ex))
        centb, codesb = _codebook(balanced)
        return _distortion(balanced, centb, codesb).select(
            F.lit("balanced").alias("variant"), "s", "n_vectors", "mean_sq_dist"
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fi = pool.submit(branch_identity)
        fb = pool.submit(branch_balanced)
        return fi.result().unionByName(fb.result())


# --------------------------------------------------------------------------
# Residual quantization: full-vector Lloyd at SUBDIM=64, two levels.
# The Spark side feeds (vec_id, s=0, 64-wide se) rows through pq.py's
# dimension-agnostic kernel; the DuckDB twin re-instantiates the same
# CTE algebra at width 64 (pq.py's builders hard-code width 8).
# --------------------------------------------------------------------------
def _full_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("se"),
        )
    )
    return emb.select("vec_id", F.lit(0).cast("int").alias("s"), "se").persist()


def _rq_codebook(corpus: DataFrame, seed_cents=None):
    """One RQ level: Lloyd rounds at K=RQ_K, init = first RQ_K vectors
    (or the caller-provided ``seed_cents``, skipping the seed-collect
    job — see sim_rq_distortion's driver-side level-2 seeding).

    Returns (cent, codes, cents) — `cents` is the driver-side codebook
    (None on the DataFrame fallback path); on the literal path `codes`
    carries `se` and `dist` so residual/distortion consumers are
    join-free."""
    if clustering.DRIVER_CENTROIDS:
        cents = driver_lloyd(corpus, RQ_ITERS, RQ_K, seed_cents=seed_cents)
        cid_col, dist_col = _sub_assign_exprs(cents)
        codes = corpus.select(
            "vec_id", "s", "se", cid_col.alias("cid"), dist_col.alias("dist")
        )
        return _sub_centroids_df(corpus.sparkSession, cents), codes, cents

    from .clustering import _materialize_centroids
    from .pq import _assign, _update

    cent = corpus.filter(F.col("vec_id") < RQ_K).select(
        "s", F.col("vec_id").cast("int").alias("cid"), F.col("se").alias("ce")
    )
    for _ in range(RQ_ITERS):
        cent = _materialize_centroids(_update(_assign(corpus, cent)))
    codes = _assign(corpus, cent).select("vec_id", "s", "cid")
    return cent, codes, None


def _residuals(
    corpus: DataFrame, cent: DataFrame, codes: DataFrame, cents=None
) -> DataFrame:
    if cents is not None:
        # literal path: the assigned centroid is a CASE-on-cid literal
        # array — the residual is one map stage, no joins (codes
        # already carries se). Same `a - b` zip as the join path.
        case_sql = _centroid_case_sql(next(iter(cents.values())))  # RQ: s == 0 only
        return (
            codes.select(
                "vec_id",
                "s",
                F.expr(f"zip_with(se, {case_sql}, (a, b) -> a - b)").alias("se"),
            )
            .persist()
        )
    return (
        codes.join(corpus, ["vec_id", "s"])
        .join(F.broadcast(cent), ["s", "cid"])
        .select(
            "vec_id",
            "s",
            F.expr("zip_with(se, ce, (a, b) -> a - b)").alias("se"),
        )
        .persist()
    )


def _duck_sqd64(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {DIM + 1}), i -> "
        f"({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def _duck_rq_assign(corpus: str, cent: str, out: str) -> str:
    return f"""
    {out}_sc AS (
      SELECT v.vec_id, v.se, c.cid, {_duck_sqd64("v.se", "c.ce")} AS dist
      FROM {corpus} v JOIN {cent} c ON true
    ),
    {out} AS (
      SELECT vec_id, se, cid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM {out}_sc) WHERE rn = 1
    )"""


def _duck_rq_update(assigned: str, out: str) -> str:
    return f"""
    {out}_s AS (
      SELECT cid, d,
             sum(CAST(floor(se[d] * {_FX} + 0.5) AS BIGINT)) AS fx,
             count(*) AS cnt
      FROM {assigned}, unnest(generate_series(1, {DIM})) AS t(d)
      GROUP BY cid, d
    ),
    {out} AS (
      SELECT cid, list(fx / ({_FX} * cnt) ORDER BY d) AS ce
      FROM {out}_s GROUP BY cid
    )"""


def _duck_rq_level(corpus: str, prefix: str) -> str:
    """CTE chain: train at K={RQ_K} on ``corpus`` -> {prefix}cb,
    {prefix}codes (assignment with centroid vectors attached)."""
    parts = [
        f"""{prefix}c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cid, se AS ce
      FROM {corpus} WHERE vec_id < {RQ_K}
    )"""
    ]
    cent = f"{prefix}c0"
    for it in range(RQ_ITERS):
        parts.append(_duck_rq_assign(corpus, cent, f"{prefix}a{it}").strip())
        parts.append(_duck_rq_update(f"{prefix}a{it}", f"{prefix}c{it + 1}").strip())
        cent = f"{prefix}c{it + 1}"
    parts.append(f"{prefix}cb AS (SELECT * FROM {cent})")
    parts.append(_duck_rq_assign(corpus, f"{prefix}cb", f"{prefix}codes").strip())
    return ",\n".join(parts)


_RQ_DFX = "CAST(floor({expr} * " + _FX + " + 0.5) AS BIGINT)"


def _assign_residual_py(
    x: list[float], cents: list[tuple[int, list[float]]]
) -> list[float]:
    """Driver-side twin of the literal argmin + CASE-residual map for
    ONE vector: the identical left-to-right IEEE fold per centroid
    ((a-b)*(a-b) accumulated dimension by dimension from 0.0), the
    FIRST-minimum tie rule over cid-ascending centroids, then one
    IEEE subtract per dimension — bit-equal to evaluating
    `zip_with(se, CASE cid ..., (a, b) -> a - b)` over the
    `_sub_assign_exprs` assignment in the JVM (the centroid literals
    round-trip exactly via clustering._fmt_double)."""
    best_i = 0
    best_d: float | None = None
    for i, (_cid, ce) in enumerate(cents):  # sorted ascending cid
        acc = 0.0
        for a, b in zip(x, ce):
            t = a - b
            acc = acc + t * t
        if best_d is None or acc < best_d:
            best_d = acc
            best_i = i
    ce = cents[best_i][1]
    return [a - b for a, b in zip(x, ce)]


@register(
    "sim_rq_distortion",
    oracle=f"""
    WITH full0 AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS se
      FROM embeddings
    ),
    {_duck_rq_level("full0", "l1")},
    resid AS (
      SELECT a.vec_id,
             list_transform(range(1, {DIM + 1}),
                            i -> a.se[i] - c.ce[i]) AS se
      FROM l1codes a JOIN l1cb c ON c.cid = a.cid
    ),
    {_duck_rq_level("resid", "l2")},
    lvl AS (
      SELECT 0 AS level,
             {_RQ_DFX.format(expr="list_reduce(list_transform(se, x -> x * x), (x, y) -> x + y)")} AS dfx
      FROM full0
      UNION ALL
      SELECT 1,
             {_RQ_DFX.format(expr="list_reduce(list_transform(se, x -> x * x), (x, y) -> x + y)")}
      FROM resid
      UNION ALL
      SELECT 2, {_RQ_DFX.format(expr=_duck_sqd64("a.se", "c.ce"))}
      FROM l2codes a JOIN l2cb c ON c.cid = a.cid
    )
    SELECT CAST(level AS INTEGER) AS level,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(sum(dfx) / ({_FX} * count(*)), 6) AS mean_sq_dist
    FROM lvl GROUP BY level
    """,
)
def sim_rq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level residual-quantization distortion curve: mean squared
    norm of (level 0) the raw vectors, (level 1) the residuals after
    the coarse codebook, (level 2) the residuals after the second-level
    codebook — exact fixed-point means throughout."""
    corpus = _full_corpus(spark, sf_dir)
    if clustering.DRIVER_CENTROIDS:
        # One seed-collect job feeds BOTH levels: level 2's seeds (the
        # first RQ_K residual vectors) are exact driver-side residuals
        # of level 1's seeds, so the level-2 seed job — a full
        # materialization pass over the residual relation — disappears
        # (guide §1.2 job-cadence; round-11 verdict #1).
        seed_rows = (
            corpus.filter(F.col("vec_id") < RQ_K)
            .select("vec_id", "se")
            .collect()
        )
        seed1 = {
            0: sorted(
                (int(r.vec_id), [float(v) for v in r.se]) for r in seed_rows
            )
        }
        cent1, codes1, cents1 = _rq_codebook(corpus, seed_cents=seed1)
        resid = _residuals(corpus, cent1, codes1, cents1)
        seed2 = {
            0: [
                (cid, _assign_residual_py(vals, cents1[0]))
                for cid, vals in seed1[0]
            ]
        }
        cent2, codes2, _cents2 = _rq_codebook(resid, seed_cents=seed2)
    else:
        cent1, codes1, cents1 = _rq_codebook(corpus)
        resid = _residuals(corpus, cent1, codes1, cents1)
        cent2, codes2, _cents2 = _rq_codebook(resid)

    def norm_level(df: DataFrame, level: int) -> DataFrame:
        sq = F.expr(
            "aggregate(transform(se, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        )
        return df.select(
            F.floor(sq * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias("dfx")
        ).agg(
            F.lit(level).cast("int").alias("level"),
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                F.sum("dfx") / (F.lit(float(_FX)) * F.count(F.lit(1))), 6
            ).alias("mean_sq_dist"),
        )

    lvl2 = (
        _distortion(resid, cent2, codes2)
        .select(
            F.lit(2).cast("int").alias("level"),
            "n_vectors",
            "mean_sq_dist",
        )
    )
    return norm_level(corpus, 0).unionByName(norm_level(resid, 1)).unionByName(lvl2)
