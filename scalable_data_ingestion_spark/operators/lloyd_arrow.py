"""Vectorized Arrow kernels for the Lloyd / nearest-centroid family.

Round-10 optimization (guide §4.2 "do the heavy lifting in native code
inside the UDF", §2.4 "remove shuffles outright"): the k-means /
PQ / RQ assignment used to be a K-way crossJoin (or broadcast join +
per-(vec_id, s) ranking window) whose squared-distance expression was a
Catalyst higher-order-function fold — CodegenFallback, i.e. interpreted
per array element. A Lloyd round cost two wide shuffles and ~1 s of
interpreted lambda evaluation at sf0.1; the same work is a handful of
NumPy vector ops per Arrow batch.

Bit-exactness contract (what makes this a pure optimization):
- The fold `aggregate(zip_with(x, c, (a,b) -> (a-b)*(a-b)), 0.0, +)`
  accumulates left-to-right over dimensions. The kernel reproduces the
  identical IEEE operation order with an explicit loop over d:
  ``acc += (C[:,d]-X[:,d])**2`` — per (row, centroid) the same
  add-one-dimension-at-a-time sequence ((-z)*(-z) == z*z exactly, and
  0.0 + t == t because every term is a non-negative square).
- Ties: centroid rows are ordered by ascending cid and ``np.argmin``
  returns the FIRST minimum — exactly the `ORDER BY dist, cid` /
  `min(struct(dist, cid))` rule.
- Update sums: ``floor(v * 1e6 + 0.5)`` per component as float64 (exact
  below 2**53), cast to int64, summed exactly; the new centroid double
  is ``fx / (1000000.0 * cnt)`` — one IEEE division, computed on the
  driver with the same expression the DataFrame `_update` used.
Asserted end-to-end by tests/test_kmeans_literal_parity.py (literal vs
pure-DataFrame chain, collected floats compared bit-exactly) and by the
DuckDB oracle parity of every consumer query.

One mechanism each: `sub_lloyd_partials` is the only partials kernel
and `driver_lloyd` the only driver-side Lloyd loop, for k-means, IVF,
PQ, OPQ and RQ alike (a flat corpus is the single subspace s = 0);
`assign_rows` is the flat map-only assignment.

Scale shape: the partials kernel emits S x K x D fixed-point sums PER
TASK (map-side combining — the same shape MLlib's distributed k-means
uses), so shuffle volume is partitions x S x K x D regardless of corpus
size; the assignment kernel is map-only. Centroids ride the task
closure (dimension-sized: S x K x D doubles).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dists_exact",
    "assign_rows",
    "sub_lloyd_partials",
    "driver_lloyd",
]

SubCents = dict[int, list[tuple[int, list[float]]]]


def dists_exact(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(N, D) x (K, D) -> (K, N) squared L2, exact fold order over d."""
    acc = np.zeros((C.shape[0], X.shape[0]), dtype=np.float64)
    for d in range(C.shape[1]):
        diff = C[:, d][:, None] - X[:, d][None, :]
        acc += diff * diff
    return acc


def _emb_matrix(batch: pa.RecordBatch, col: str, dim: int) -> np.ndarray:
    arr = batch.column(batch.schema.get_field_index(col))
    return np.asarray(arr.flatten(), dtype=np.float64).reshape(-1, dim)


def _cents_np(cents: list[tuple[int, list[float]]]) -> tuple[np.ndarray, np.ndarray]:
    cents = sorted(cents, key=lambda t: t[0])
    C = np.array([ce for _, ce in cents], dtype=np.float64)
    ids = np.array([c for c, _ in cents], dtype=np.int32)
    return C, ids


def assign_rows(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    with_emb: bool = True,
    top2: bool = False,
) -> DataFrame:
    """Map-only nearest-centroid assignment: (vec_id, [emb,] cluster_id,
    dist[, dist2]) — dist2 (top2=True) is the second-smallest centroid
    distance under the (dist, cid) order, for the silhouette."""
    C, ids = _cents_np(cents)
    K, D = C.shape
    out_cols = ["vec_id"] + (["emb"] if with_emb else [])
    schema = "vec_id long" + (", emb array<double>" if with_emb else "")
    schema += ", cluster_id int, dist double"
    if top2:
        schema += ", dist2 double"

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            X = _emb_matrix(b, "emb", D)
            dm = dists_exact(X, C)
            a = np.argmin(dm, axis=0)
            arrays = [b.column(b.schema.get_field_index("vec_id"))]
            if with_emb:
                arrays.append(b.column(b.schema.get_field_index("emb")))
            arrays.append(pa.array(ids[a], type=pa.int32()))
            arrays.append(pa.array(dm[a, np.arange(dm.shape[1])], type=pa.float64()))
            names = out_cols + ["cluster_id", "dist"]
            if top2:
                # second-smallest under (dist, cid): stable sort along the
                # cid-ascending axis preserves the tie rule.
                order = np.argsort(dm, axis=0, kind="stable")
                arrays.append(
                    pa.array(
                        dm[order[1], np.arange(dm.shape[1])], type=pa.float64()
                    )
                )
                names = names + ["dist2"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    cols = ["vec_id", "emb"]
    return corpus.select(*cols).mapInArrow(kernel, schema)


def sub_lloyd_partials(frame: DataFrame, cents_by_s: SubCents) -> list:
    """Subspace-keyed Lloyd round partials over a subspace relation's
    (s, se) rows, or a flat corpus's emb rows as the single subspace
    s = 0: (s, cid, d) -> (fx, cnt), collected after a partitions x S x
    K x D shuffle. A flat corpus ships its emb column alone, so the
    scan of the cached frame needs no projection."""
    ss = sorted(cents_by_s)
    Cs = {}
    for s in ss:
        Cs[s] = _cents_np(cents_by_s[s])
    dims = {s: Cs[s][0].shape[1] for s in ss}

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fx_acc = {s: np.zeros(Cs[s][0].shape, dtype=np.int64) for s in ss}
        cnt_acc = {s: np.zeros(Cs[s][0].shape[0], dtype=np.int64) for s in ss}
        for b in batches:
            if b.num_rows == 0:
                continue
            # (s, se) columns, or the lone emb column of a flat corpus
            flat = b.num_columns == 1
            sv = None if flat else np.asarray(b.column(0), dtype=np.int64)
            se = b.column(b.num_columns - 1)
            # all subspace widths are equal within one relation (PQ: 8,
            # RQ: 64) — flatten() compacts to row-major (N, D)
            D_all = dims[ss[0]]
            X_all = np.asarray(se.flatten(), dtype=np.float64).reshape(-1, D_all)
            for s in ss:
                if flat:
                    X = X_all
                else:
                    m = sv == s
                    if not m.any():
                        continue
                    # a single-subspace batch needs no copy
                    X = X_all if m.all() else X_all[np.nonzero(m)[0]]
                C, _ids = Cs[s]
                a = np.argmin(dists_exact(X, C), axis=0)
                FXm = np.floor(X * 1e6 + 0.5).astype(np.int64)
                for k in range(C.shape[0]):
                    km = a == k
                    if km.any():
                        fx_acc[s][k] += FXm[km].sum(axis=0)
                        cnt_acc[s][k] += int(km.sum())
        cols = {"s": [], "cid": [], "d": [], "fx": [], "cnt": []}
        for s in ss:
            C, ids = Cs[s]
            K, D = C.shape
            cols["s"].append(np.full(K * D, s, dtype=np.int32))
            cols["cid"].append(np.repeat(ids, D))
            cols["d"].append(np.tile(np.arange(D, dtype=np.int32), K))
            cols["fx"].append(fx_acc[s].reshape(-1))
            cols["cnt"].append(np.repeat(cnt_acc[s], D))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(cols["s"]), type=pa.int32()),
                pa.array(np.concatenate(cols["cid"]), type=pa.int32()),
                pa.array(np.concatenate(cols["d"]), type=pa.int32()),
                pa.array(np.concatenate(cols["fx"]), type=pa.int64()),
                pa.array(np.concatenate(cols["cnt"]), type=pa.int64()),
            ],
            names=["s", "cid", "d", "fx", "cnt"],
        )

    return (
        frame.select(*(["s", "se"] if "s" in frame.columns else ["emb"]))
        .mapInArrow(kernel, "s int, cid int, d int, fx long, cnt long")
        .groupBy("s", "cid", "d")
        .agg(F.sum("fx").alias("fx"), F.sum("cnt").alias("cnt"))
        .collect()
    )


def driver_lloyd(
    frame: DataFrame, iters: int, k: int, seed_cents: SubCents | None = None
) -> SubCents:
    """Exact Lloyd rounds with the (s, cid)-keyed codebook held
    driver-side (dimension-sized: S x K x D doubles).

    `frame` is either a subspace relation (vec_id, s, se) or a flat
    corpus (vec_id, emb), which counts as the single subspace s = 0.
    The seeds are the rows with vec_id < k, unless the caller already
    holds them driver-side (``seed_cents``, e.g. the RQ level-2
    training, whose seeds are exact residuals of level-1's seeds, which
    skips the seed-collect job). Each round is ONE narrow job
    (:func:`sub_lloyd_partials`); the new centroid doubles are the
    IDENTICAL `fx / (1000000.0 * cnt)` division the DataFrame `_update`
    evaluates, and a cluster that lost every member is dropped, as the
    DataFrame chain's aggregate drops it. Bit-equal to that chain
    (pinned by tests/test_kmeans_literal_parity.py).

    The caller's frame is persisted as passed, so a later
    `assign_rows` over the same frame reads the same cache entry.

    EAGER CONTRACT: the seed and round collects run at DataFrame-
    CONSTRUCTION time, so the registered builders that train through
    this loop (k-means, IVF, IVF-PQ, PQ, OPQ and RQ, with
    DRIVER_CENTROIDS on) execute the full training jobs while merely
    BUILDING their plan. Plan-only consumers (plan-shape tests,
    tools/scan_audit.py) must expect Spark jobs — and any training-time
    runtime error — during construction for these queries. Set
    SPARK_GRAFT_KMEANS_DRIVER_CENTROIDS=0 to get fully lazy plans back."""
    frame = frame.persist()
    if seed_cents is None:
        flat = "s" not in frame.columns
        seed = (
            frame.filter(F.col("vec_id") < k)
            .select(
                F.lit(0).alias("s") if flat else F.col("s"),
                F.col("vec_id").cast("int").alias("cid"),
                F.col("emb" if flat else "se").alias("se"),
            )
            .collect()
        )
        cents: SubCents = {}
        for r in seed:
            cents.setdefault(r.s, []).append((r.cid, [float(v) for v in r.se]))
        for s in cents:
            cents[s].sort()
    else:
        cents = seed_cents
    for _ in range(iters):
        acc: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for r in sub_lloyd_partials(frame, cents):
            if r.cnt > 0:  # the kernel emits the full (s, cid, d) grid
                acc.setdefault((r.s, r.cid), {})[r.d] = (r.fx, r.cnt)
        cents = {}
        for s, cid in sorted(acc):
            dims = acc[(s, cid)]
            cents.setdefault(s, []).append(
                (cid, [dims[d][0] / (1000000.0 * dims[d][1]) for d in sorted(dims)])
            )
    return cents
