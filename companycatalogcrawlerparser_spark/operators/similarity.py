"""Similarity search over the ``embedding`` column (``array<float>``) of
frames keyed by ``vec_id``.

- brute-force cosine top-k: the correctness baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` — JVM-side, codegen'd, no Python.
- LSH-bucketed ANN: deterministic random-hyperplane signatures (±1 planes
  derived from md5 of (plane, dim) — reproducible with no RNG state);
  candidates restricted to same-bucket (multi-probe over all plane tables),
  then exact cosine re-rank. This is the 10^10-scale path: the cross
  product shrinks to per-bucket blocks.

Determinism note: scores are computed in float64 and rounded to 1e-6
before ranking (tie-break on vec_id) so rankings are stable across
engines/AQE plans.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """For each query row: top-k corpus neighbours by cosine (excluding
    self), scored in double, rounded 1e-6, tie-broken by neighbour id.
    Queries are broadcast (they're a small probe set by construction)."""
    # norms precomputed ONCE per row: cosine() inside the join would
    # re-run the interpreted HOF norm fold per PAIR (k×n times for the
    # corpus side) instead of once per vector
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("__qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --------------------------------------------------------------------------
# LSH (random hyperplane) ANN


def plane_signs(plane_idx: int, dim: int) -> list:
    """Deterministic ±1 hyperplane coefficients: sign from md5 of
    (plane, dim). Shared by the Spark expression and the DuckDB oracle
    twin (which embeds these as literal arrays)."""
    signs = []
    for d in range(dim):
        h = hashlib.md5(f"plane{plane_idx}|dim{d}".encode()).hexdigest()
        signs.append(1.0 if int(h[0], 16) >= 8 else -1.0)
    return signs


def _plane(plane_idx: int, dim: int):
    return F.array(*[F.lit(s) for s in plane_signs(plane_idx, dim)])


def lsh_signature(vec_col, num_planes: int, dim: int):
    """Bit-string signature: sign of <v, plane_i> per plane."""
    bits = []
    for p in range(num_planes):
        bits.append(
            F.when(_dot(vec_col, _plane(p, dim)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        )
    return F.concat(*bits)


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """ANN: bucket by hyperplane signature, exact cosine within the bucket.
    Recall < 1 by design; the bench compares its throughput and recall
    against the brute-force baseline."""
    if dim is None:
        dim = len(corpus.select("embedding").first()[0])
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("__cn"),
        lsh_signature(F.col("embedding"), num_planes, dim).alias("sig"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("__qn"),
        lsh_signature(F.col("embedding"), num_planes, dim).alias("sig"),
    )
    scored = (
        c.join(F.broadcast(q), "sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + nprobe cell search


def ivf_pivots(corpus: DataFrame, n_cells: int) -> list:
    """Deterministic coarse-quantizer pivots: the ``n_cells`` corpus
    vectors with the smallest ``md5(id)`` — an order-free uniform sample
    any engine reproduces exactly (no RNG state, no float averaging).
    ``orderBy + limit`` compiles to TakeOrdered: no global sort
    materializes, and only n_cells×dim floats reach the driver."""
    rows = (
        corpus.select(F.col("vec_id").alias("i"), F.col("embedding").alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def _cent_norms(cents: list) -> list:
    """Centroid norms as driver-side floats. Bit-identical to the JVM
    ``_norm`` fold: sequential double adds in the same order + IEEE
    sqrt — so embedding them as literals changes no score bit."""
    import math

    out = []
    for c in cents:
        acc = 0.0
        for x in c:
            acc += x * x
        out.append(math.sqrt(acc))
    return out


def _cell_scores(vec_col, cents: list):
    """array<struct(s,i)> of (cosine to centroid c_i, i) — struct order
    makes array_max/sort_array pick highest score, ties to higher i.

    Cost shape (r5 XL bench): HOFs are interpreted, so the naive
    ``cosine(v, c_i)`` per cell re-folded BOTH norms per cell per row —
    ~3× the necessary op count at 64 cells. The row norm is bound once
    per row (``bind_once``) and centroid norms ride as precomputed
    literals (:func:`_cent_norms` — bit-identical), leaving one dot fold
    per cell as the irreducible expression work."""
    from .dedup import bind_once

    cnorms = _cent_norms(cents)

    def per_nv(nv):
        return F.array(
            *[
                F.struct(
                    F.round(
                        _dot(vec_col, F.array(*[F.lit(x) for x in c]))
                        / (nv * F.lit(nc)),
                        6,
                    ).alias("s"),
                    F.lit(i).alias("i"),
                )
                for i, (c, nc) in enumerate(zip(cents, cnorms))
            ]
        )

    return bind_once(_norm(vec_col), per_nv)


def assign_cells(
    df: DataFrame, cents: list, vec_col: str = "embedding",
    kernel: str = "expr",
) -> DataFrame:
    """Adds ``cell`` = argmax-cosine centroid index (the inverted-list
    key). Centroids ride as broadcast literal arrays — pure JVM exprs.

    ``kernel="arrow"`` swaps the per-cell expression fold for ONE numpy
    matmul per Arrow batch (batch×dim @ dim×cells) — the scale path when
    n_cells·dim per-row expression work dominates (measured ~30× on the
    r5 XL bench at 256 cells). Same argmax semantics (scores float64,
    rounded 1e-6, ties to the HIGHER cell index, matching the struct-max
    order); the only divergence risk is summation-order last-ulp drift
    flipping an exact .5e-6 rounding boundary, which the fixture pytest
    pins as agreeing — the hash-verified driver row stays on "expr"."""
    if kernel == "expr":
        return df.withColumn(
            "cell", F.array_max(_cell_scores(F.col(vec_col), cents))["i"]
        )
    if kernel != "arrow":
        raise ValueError(f"unknown assign_cells kernel {kernel!r}")

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # the module uses `from __future__ import annotations`, so the UDF's
    # type hints are strings resolved against module globals — pandas
    # must be visible there for pandas_udf's signature inference
    globals().setdefault("pd", pd)
    cents_local = [list(map(float, c)) for c in cents]

    @pandas_udf("int")
    def argmax_cell(vecs: pd.Series) -> pd.Series:
        import numpy as np

        C = np.asarray(cents_local, dtype=np.float64)  # (cells, dim)
        cn = np.sqrt((C * C).sum(axis=1))
        M = np.stack(
            [np.asarray(v, dtype=np.float64) for v in vecs]
        )  # (batch, dim)
        vn = np.sqrt((M * M).sum(axis=1))
        scores = np.round(M @ C.T / (vn[:, None] * cn[None, :]), 6)
        # ties to the higher index, like struct-max over (s, i)
        rev = scores[:, ::-1]
        idx = scores.shape[1] - 1 - rev.argmax(axis=1)
        return pd.Series(idx.astype("int32"))

    return df.withColumn("cell", argmax_cell(F.col(vec_col)))


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    cents: list | None = None,
    kernel: str = "expr",
) -> DataFrame:
    """IVF ANN: corpus rows live in inverted lists keyed by nearest
    centroid; each query probes its ``nprobe`` closest cells and exact
    cosine re-ranks the candidates. The equi-join on ``cell`` is the
    10^10-scale shape (no cross product; candidate volume =
    nprobe/n_cells of the corpus per query on balanced cells). The
    centroids are ``cents``, or by default the deterministic
    :func:`ivf_pivots` quantizer. ``kernel`` selects the scale path: "arrow" uses the
    numpy-matmul cell assignment (:func:`assign_cells`) AND per-cell
    matmul candidate scoring with local top-k (:func:`_ivf_topk_arrow`)
    instead of the per-pair interpreted HOF dot — query-side cell
    probing stays expression-based either way (queries are few, and the
    probe order is part of the pinned semantics)."""
    if cents is None:
        cents = ivf_pivots(corpus, n_cells)
    if kernel == "arrow":
        return _ivf_topk_arrow(queries, corpus, cents, k, nprobe)
    c = assign_cells(
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
            _norm(F.col("embedding")).alias("__cn"),
        ),
        cents,
        "c_vec",
        kernel=kernel,
    )
    probes = F.slice(
        F.sort_array(_cell_scores(F.col("q_vec"), cents), asc=False),
        1,
        nprobe,
    )
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"),
            _norm(F.col("embedding")).alias("__qn"),
        )
        .withColumn("cell", F.explode(F.transform(probes, lambda p: p["i"])))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# The fused Arrow IVF kernel broadcasts the query set (ids, vectors,
# probe-cell sets) into every corpus task; above this many queries the
# per-batch score matrix (n_queries × arrow-batch-rows float64) stops
# being comfortably task-sized and the cell-cogroup variant takes over.
_ARROW_IVF_MAX_QUERIES = 2048


def _ivf_out_schema(queries: DataFrame, corpus: DataFrame):
    """applyInPandas/mapInPandas output schema with the id field types
    DERIVED from the inputs (r5 advice: a hardcoded ``long`` broke or
    miscast string vec_ids that the expr kernel handles fine)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType([
        StructField("query_id", queries.schema["vec_id"].dataType),
        StructField("neighbor_id", corpus.schema["vec_id"].dataType),
        StructField("score", DoubleType()),
    ])


def _np_seqdot(A, B):
    """(n,dim)·(m,dim) → (n,m) cosines' numerator with the accumulation
    over dim in ASCENDING index order — one IEEE double add per step,
    the exact add sequence of the JVM ``F.aggregate`` fold and the
    pure-Python twin. BLAS matmul may block/reorder the K loop and drift
    in the last ulp; this is vectorized over the (n,m) plane instead, so
    every pairwise sum is bit-identical to the sequential fold at
    roughly memory-bandwidth cost (dim is small for embeddings)."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d, None] * B[None, :, d]
    return acc


def _np_seqnorm(A):
    """Row L2 norms with the same sequential accumulation order as
    ``_norm`` / the Python twin (see :func:`_np_seqdot`)."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * A[:, d]
    return np.sqrt(acc)


def _np_round6(x):
    """Vectorized HALF-UP 1e-6 rounding — the twin's ``_round6_half_up``
    (sign·floor(|x|·1e6+0.5)/1e6), elementwise-identical IEEE ops.
    (np.round is banker's rounding and differs AT .5e-6 boundaries.)"""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _ivf_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    cents: list,
    k: int,
    nprobe: int,
) -> DataFrame:
    """FUSED Arrow IVF scoring path (r6): ONE ``mapInPandas`` pass over
    the corpus that assigns each batch's cells AND scores the batch's
    probed cells against the broadcast query set, emitting a per-batch
    local top-k — any global top-k member is by definition in its
    batch's top-k under the same (score desc, neighbor asc) tie-break,
    so the tiny global window re-rank is exact. The r5 two-pass shape
    (assignment ``pandas_udf`` + cell-cogroup ``applyInPandas``) sent
    the corpus across the Arrow boundary twice and shuffled it once — a
    measured ~16 s fixed floor at 500k vectors that dominated the job
    (8→32 efficiency 0.26-0.34 vs the 0.52 VM ceiling). Fused, the
    corpus is read once, crosses Arrow once, and never shuffles; only
    partitions×n_queries×k candidate rows reach the window.

    The query side is driver-resident by construction (gated by
    ``_ARROW_IVF_MAX_QUERIES``; past it the cell-cogroup variant takes
    over): one column-pruned count() gates, one collect() fetches id +
    vector, and the probe cells are computed ON THE DRIVER with
    :func:`_np_seqdot` / :func:`_np_round6` — bit-identical to the expr
    kernel's ``_cell_scores`` (sequential-fold adds, HALF-UP rounding,
    ties to the higher cell). The r6 first cut computed probes with the
    expr itself: an 8192-literal expression tree at 256 cells whose
    per-call analysis+codegen cost 3-15 s of driver time — more than
    the whole corpus pass. All in-kernel scoring uses the same
    sequential-order accumulation, so the fused path is bit-equal to
    the expression path BY CONSTRUCTION (no matmul last-ulp caveat);
    the ann_lsh driver row additionally hash-compares it against the
    Python twin."""
    import numpy as np

    # Broadcast-size gate: a plain count() — parallel and column-pruned.
    # NO limit() anywhere: limit(gate+1).collect()/count() looked cheaper
    # but CollectLimit scans incrementally (1 partition, then 4×, ...)
    # and, when fewer than gate+1 rows match, walks the ENTIRE corpus in
    # near-sequential waves — measured 15-22 s on the persisted 500k XL
    # corpus vs <1 s for this count.
    spark = corpus.sparkSession
    n_q = queries.count()
    if n_q > _ARROW_IVF_MAX_QUERIES:
        return _ivf_topk_arrow_cogroup(queries, corpus, cents, k, nprobe)
    qrows = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    ).collect() if n_q else []

    out_schema = _ivf_out_schema(queries, corpus)
    if not qrows:
        return (
            local_frame(corpus.sparkSession, [], out_schema)
            .withColumn("rank", F.lit(1))
            .limit(0)
        )

    qids_l = [r["query_id"] for r in qrows]
    Q_l = [[float(x) for x in r["q_vec"]] for r in qrows]
    cents_local = [list(map(float, c)) for c in cents]

    # driver-side probe cells: top-nprobe by (score desc, cell desc) —
    # the twin's sorted(cell_scores, reverse=True)[:nprobe]
    Qd = np.asarray(Q_l, dtype=np.float64)
    Cd = np.asarray(cents_local, dtype=np.float64)
    qn_d = _np_seqnorm(Qd)
    cn_d = np.asarray(_cent_norms(cents_local), dtype=np.float64)
    Sp = _np_round6(_np_seqdot(Qd, Cd) / (qn_d[:, None] * cn_d[None, :]))
    cell_idx = np.arange(Cd.shape[0])
    probes_l = [
        [int(c) for c in cell_idx[np.lexsort((-cell_idx, -Sp[qi]))][:nprobe]]
        for qi in range(Qd.shape[0])
    ]
    bc = spark.sparkContext.broadcast((qids_l, Q_l, probes_l, cents_local))

    def fused(batches):
        import numpy as np
        import pandas as pd

        qids_b, Q_b, probes_b, cents_b = bc.value
        qids = np.asarray(qids_b)
        Q = np.asarray(Q_b, dtype=np.float64)          # (nq, dim)
        qn = _np_seqnorm(Q)
        C = np.asarray(cents_b, dtype=np.float64)      # (cells, dim)
        cn = np.asarray(_cent_norms(cents_b), dtype=np.float64)
        n_cells_l = len(cents_b)
        # inverted probe lists: cell → queries probing it
        cq: list = [[] for _ in range(n_cells_l)]
        for qi, cells in enumerate(probes_b):
            for c in cells:
                cq[c].append(qi)
        cell_queries = [np.asarray(v, dtype=np.int64) for v in cq]

        for pdf in batches:
            if pdf.empty:
                continue
            nid = pdf["neighbor_id"].to_numpy()
            M = np.stack(
                [np.asarray(v, np.float64) for v in pdf["c_vec"]]
            )                                           # (B, dim)
            vn = _np_seqnorm(M)
            # cell assignment — sequential-order dot + HALF-UP rounding
            # (bit-equal to assign_cells' expression kernel), ties to
            # the higher index via the reversed argmax
            A = _np_round6(
                _np_seqdot(M, C) / (vn[:, None] * cn[None, :])
            )
            rev = A[:, ::-1]
            cell = A.shape[1] - 1 - rev.argmax(axis=1)  # (B,)
            # Score ONLY (probing query, cell member) pairs: the full
            # nq×B matrix is ~n_cells/nprobe× more work than the valid
            # pairs (measured 0.4 s/10k-batch of dead flops+round at
            # 1024 queries × 256 cells) — group the batch by cell and
            # score each cell block against just its probing queries.
            order_rows = np.argsort(cell, kind="stable")
            cs = cell[order_rows]
            bounds = np.searchsorted(cs, np.arange(n_cells_l + 1))
            qi_parts, cd_parts, sc_parts = [], [], []
            for c in np.unique(cs):
                qs = cell_queries[c]
                ridx = order_rows[bounds[c]:bounds[c + 1]]
                if qs.size == 0 or ridx.size == 0:
                    continue
                Sc = _np_round6(
                    _np_seqdot(Q[qs], M[ridx])
                    / (qn[qs, None] * vn[ridx][None, :])
                )
                qi_parts.append(np.repeat(qs, ridx.size))
                cd_parts.append(np.tile(nid[ridx], qs.size))
                sc_parts.append(Sc.ravel())
            if not qi_parts:
                continue
            qi_a = np.concatenate(qi_parts)
            cd_a = np.concatenate(cd_parts)
            sc_a = np.concatenate(sc_parts)
            keep = cd_a != qids[qi_a]                   # self-exclusion
            qi_a, cd_a, sc_a = qi_a[keep], cd_a[keep], sc_a[keep]
            if qi_a.size == 0:
                continue
            # batch-local top-k per query, fully vectorized: sort by
            # (query asc, score desc, neighbor asc) — lexsort's last key
            # is primary — then keep the first k of each query run
            order = np.lexsort((cd_a, -sc_a, qi_a))
            qi_s, cd_s, sc_s = qi_a[order], cd_a[order], sc_a[order]
            group_start = np.searchsorted(qi_s, qi_s)
            topk = (np.arange(qi_s.size) - group_start) < k
            yield pd.DataFrame(
                {"query_id": np.asarray(qids_b, dtype=object)[qi_s[topk]],
                 "neighbor_id": cd_s[topk],
                 "score": sc_s[topk]}
            )

    local = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    ).mapInPandas(fused, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _ivf_topk_arrow_cogroup(
    queries: DataFrame,
    corpus: DataFrame,
    cents: list,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Cell-cogroup Arrow IVF variant — the r5 shape, kept as the
    fallback when the query set exceeds ``_ARROW_IVF_MAX_QUERIES`` (too
    big to broadcast into every corpus task): corpus cells assigned by
    the numpy-matmul kernel, then candidates scored PER CELL with one
    matmul and cut to a LOCAL top-k before the global window — any
    global top-k member is by definition in its own cell's top-k (same
    (score desc, neighbor asc) tie-break locally and globally). Costs
    two Arrow round-trips of the corpus plus one corpus shuffle; prefer
    the fused path whenever queries fit the broadcast gate."""
    import pandas as pd  # noqa: F401

    c = assign_cells(
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
        ),
        cents,
        "c_vec",
        kernel="arrow",
    )
    probes = F.slice(
        F.sort_array(_cell_scores(F.col("q_vec"), cents), asc=False),
        1,
        nprobe,
    )
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        )
        .withColumn("cell", F.explode(F.transform(probes, lambda p: p["i"])))
    )

    def score(key, cdf: "pd.DataFrame", qdf: "pd.DataFrame"):
        import numpy as np
        import pandas as pd

        if cdf.empty or qdf.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            )
        C = np.stack([np.asarray(v, np.float64) for v in cdf["c_vec"]])
        cn = np.sqrt((C * C).sum(axis=1))
        Q = np.stack([np.asarray(v, np.float64) for v in qdf["q_vec"]])
        qn = np.sqrt((Q * Q).sum(axis=1))
        S = np.round(Q @ C.T / (qn[:, None] * cn[None, :]), 6)
        nid = cdf["neighbor_id"].to_numpy()
        out_q, out_n, out_s = [], [], []
        for qi, qid in enumerate(qdf["query_id"]):
            mask = nid != qid
            s = S[qi][mask]
            cand = nid[mask]
            # local top-k by (score desc, neighbor asc): lexsort's last
            # key is primary
            order = np.lexsort((cand, -s))[:k]
            out_q.extend([qid] * len(order))
            out_n.extend(cand[order])
            out_s.extend(s[order])
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
        )

    local = (
        c.groupBy("cell")
        .cogroup(q.groupBy("cell"))
        .applyInPandas(score, _ivf_out_schema(queries, corpus))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def planes_for_corpus(n_rows: int) -> int:
    """Plane count such that the EXPECTED bucket population n/2^planes stays
    under 128 (uniform-bucket approximation) — more planes for bigger
    corpora, floor of 6 so small inputs keep meaningful recall."""
    import math

    if n_rows <= 128:
        return 6
    return max(6, math.ceil(math.log2(n_rows / 128)))


def _signatures(df: DataFrame, num_planes, dim):
    if dim is None:
        dim = len(df.select("embedding").first()[0])
    if num_planes is None:
        num_planes = planes_for_corpus(df.count())
    return df.select(
        F.col("vec_id"), F.col("embedding"),
        lsh_signature(F.col("embedding"), num_planes, dim).alias("sig"),
    )


def cosine_pairs(
    df: DataFrame, threshold: float,
    num_planes: int | None = 6, dim: int | None = None,
    max_bucket: int | None = 1024,
    observation=None,
) -> DataFrame:
    """Embedding near-dup pairs: LSH bucket → exact cosine ≥ threshold.

    Skew guard (same contract as ``dedup.minhash_lsh_pairs``): a signature
    bucket of D rows emits D·(D-1)/2 pairs inside ONE join task, so a hot
    bucket (all-identical embeddings, or fixed planes on a corpus ≫ the
    bucket count) goes quadratic. Buckets larger than ``max_bucket`` are
    excluded from pair generation — they are de-facto exact-dup clusters
    that ``dedup.exact_dedup`` should collapse first. Pass
    ``max_bucket=None`` for the exhaustive (unguarded) behavior, and
    ``num_planes=None`` to auto-scale the plane count to the corpus size
    (:func:`planes_for_corpus`). The skipped volume stays observable via
    :func:`cosine_oversized_buckets` — nothing is silently dropped.

    Pass a ``pyspark.sql.Observation`` as ``observation`` to get the
    capped volume IN the same job (``skipped_rows`` bucket-memberships
    excluded, ``max_bucket_seen``) — same contract as
    ``dedup.minhash_lsh_pairs``; the separate audit query stays for
    callers without the metric wired (r5 verdict: capped volume should
    ride the producing job, not a second scan)."""
    sig = _signatures(df, num_planes, dim)
    if max_bucket is not None:
        bw = Window.partitionBy("sig")
        sig = sig.withColumn("__n", F.count("*").over(bw))
        if observation is not None:
            sig = sig.observe(
                observation,
                F.sum(
                    F.when(F.col("__n") > max_bucket, 1).otherwise(0)
                ).alias("skipped_rows"),
                F.max("__n").alias("max_bucket_seen"),
            )
        sig = sig.filter(F.col("__n") <= max_bucket).drop("__n")
    # norm once per row (a bucket of D rows would otherwise re-fold each
    # vector's norm D-1 times inside the pair join)
    sig = sig.withColumn("__n2", _norm(F.col("embedding")))
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "score",
            F.round(
                _dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.__n2") * F.col("b.__n2")),
                6,
            ),
        )
        .filter(F.col("score") >= threshold)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            "score",
        )
    )


# SemDeDup's cell-size cap: cells above it are excluded from pair
# generation (see semantic_dedup); tests lower it to force the cap
SEMDUP_MAX_CELL = 4096


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 12,
    threshold: float = 0.94,
    observation=None,
    cents: list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) re-expressed
    relationally: coarse-quantize the corpus into ``n_cells`` cells
    (:func:`ivf_pivots` — the deterministic md5-sample quantizer the
    IVF ANN path already uses), connect WITHIN-cell pairs whose exact
    cosine (6dp) >= ``threshold``, and keep ONE member per connected
    duplicate group — the member FARTHEST from its cell centroid
    (lowest cent_cos: the paper's keep-the-outlier rule, preserving
    diversity), ties to the lower id.

    Returns one row per corpus vector: (vec_id, cell, cent_cos,
    component, keep) — component = the dup group's min reachable id (own
    id for singletons), keep = the survivor flag; ``.filter('keep')`` IS
    the semantically deduplicated corpus.

    Scale shape: pair generation is confined to cells (the paper's own
    device — n_cells scales with the corpus so cell population stays
    bounded); cells above ``SEMDUP_MAX_CELL`` are excluded from pair
    generation with the skipped volume observable IN the producing job
    (``observation``: skipped_rows / max_cell_seen — the
    minhash/cosine cap contract; an over-cap cell is an
    exact-dup-scale cluster ``dedup.exact_dedup`` should collapse
    first). The dup graph is orders smaller than the corpus, so the
    connected-components fixpoint runs on pairs only; the corpus
    itself touches one cell-key join and one component join. The
    eager localCheckpoint pins the interpreted HOF cell scoring,
    which otherwise re-evaluates once per consumer (pair join probe,
    pair join build, final labeling)."""
    from .dedup import connected_components

    max_cell = SEMDUP_MAX_CELL
    if cents is None:
        # callers sharing the quantizer with an IVF path pass the pivots
        # in (one TakeOrdered+collect instead of one per consumer)
        cents = ivf_pivots(corpus, n_cells)
    m = F.array_max(_cell_scores(F.col("embedding"), cents))
    assigned = corpus.select(
        F.col("vec_id"),
        F.col("embedding"),
        m["i"].alias("cell"),
        m["s"].alias("cent_cos"),
    ).localCheckpoint(eager=True)
    # cell-size gate via groupBy + broadcast join (r8; was a count
    # window partitioned by cell): the window buffered each cell's rows
    # in ONE task — and the over-cap mega-cell this gate exists to
    # exclude is exactly the group that buffers worst, BEFORE being
    # excluded. The aggregate is map-side combinable and its output is
    # n_cells rows — trivially broadcastable at any corpus size.
    cell_counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
    sized = assigned.join(F.broadcast(cell_counts), "cell")
    if observation is not None:
        sized = sized.observe(
            observation,
            F.sum(
                F.when(F.col("__n") > max_cell, 1).otherwise(0)
            ).alias("skipped_rows"),
            F.max("__n").alias("max_cell_seen"),
        )
    inpair = sized.filter(F.col("__n") <= max_cell).drop("__n")
    inpair = inpair.withColumn("__n2", _norm(F.col("embedding")))
    if observation is not None:
        # fire the observed metrics in exactly ONE job: the frame
        # below is self-joined, and a CollectMetrics node that
        # appears on both sides of a join breaks Observation.get
        # when the consuming action is an RDD-path localCheckpoint
        # (measured: count() tolerates the duplication,
        # connected_components' eager checkpoint does not — the JVM
        # get asserts). The checkpoint also evaluates the cell-count
        # window once instead of once per join side.
        inpair = inpair.localCheckpoint(eager=True)
    a, b = inpair.alias("a"), inpair.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "score",
            F.round(
                _dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.__n2") * F.col("b.__n2")),
                6,
            ),
        )
        .filter(F.col("score") >= threshold)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
    )
    cc = connected_components(pairs).withColumnRenamed("node", "vec_id")
    labeled = (
        assigned.select("vec_id", "cell", "cent_cos")
        .join(cc, "vec_id", "left")
        .withColumn("component", F.coalesce("component", F.col("vec_id")))
    )
    surv = labeled.groupBy("component").agg(
        F.min(F.struct("cent_cos", "vec_id")).alias("__s")
    )
    return labeled.join(surv, "component").select(
        "vec_id",
        "cell",
        "cent_cos",
        "component",
        (F.col("__s")["vec_id"] == F.col("vec_id")).alias("keep"),
    )


def cosine_oversized_buckets(
    df: DataFrame, num_planes: int | None = 6, dim: int | None = None,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """(sig, n_rows) of buckets :func:`cosine_pairs` skipped under its
    ``max_bucket`` cap — the no-silent-truncation audit surface."""
    sig = _signatures(df, num_planes, dim)
    return (
        sig.groupBy("sig")
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > (max_bucket if max_bucket is not None else 2**63 - 1))
    )
