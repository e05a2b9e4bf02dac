"""Product quantization (PQ) for embedding search — the memory end-game
of the ANN family.

int8 scalar quantization (similarity.py::ann_quantized_topk) shrinks the
resident corpus 4×; PQ goes further: each vector becomes m sub-space code
bytes plus one shared codebook (defaults here: m=16 over 64 dims →
16 B/vector, 16× vs float32; m trades compression against recall —
m=16/shortlist=50 measures 15/15 top-3 recall on the synthetic corpus,
m=4 → 4 B/vector at ~53%). At 100 TB of embeddings this is the
difference between "the index fits in executor memory" and "it doesn't".

All three phases are DataFrame ops:

- **train**: per-subspace k-means (Lloyd), all m subspaces trained in ONE
  joint loop — vectors explode to (vec_id, sub, subvec) rows once, each
  iteration is a broadcast join + map-side-combined struct-min argmin +
  narrow-keyed mean, and the codebook frame is localCheckpointed per
  round (O(1) lineage, same pattern as connected components /
  kmeans_refine_centroids).
- **encode**: final assignment kept in LONG format (vec_id, sub, code) —
  the layout that joins; a packed array is a projection away.
- **search (ADC)**: per query, the q·centroid lookup table is
  (queries × m × k) rows — broadcast; the corpus codes join it on
  (sub, code) and one aggregation sums the m partial dots per vector.
  The corpus never shuffles and never materializes float vectors.

Approximation quality is handled the standard way: ADC produces a
shortlist, an exact re-rank over only the shortlisted ids (broadcast
semi-join) returns the final top-k. `tests/test_pq.py` pins shortlist
recall against the brute-force oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "train_pq",
    "encode_pq",
    "pq_index",
    "pq_shortlist",
    "ivfpq_index",
    "ivfpq_shortlist",
]

#: squared L2 / dot product of double arrays {a} and {b} (``.format``):
#: left-to-right folds, the add order of the DuckDB twins' list_sum
L2_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)
DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)


def _subvectors(emb: DataFrame, m: int) -> DataFrame:
    """(vec_id, sub, subvec): each embedding split into m equal slices.
    One narrow explode — the only time full vectors are touched."""
    d = emb.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    return (
        d.select("vec_id", "emb", F.explode(F.expr(f"sequence(0, {m - 1})")).alias("sub"))
        .select(
            "vec_id",
            "sub",
            F.expr(f"slice(emb, CAST(sub * (size(emb) div {m}) + 1 AS INT), "
                   f"size(emb) div {m})").alias("subvec"),
        )
    )


def train_pq(
    emb: DataFrame, m: int = 16, k: int = 16, iters: int = 2, seed_stride: int = 31
) -> DataFrame:
    """Train the PQ codebook: (sub, cent_id, c_vec) — m·k rows total.

    Seeds are every ``seed_stride``-th vector's subvectors (deterministic,
    no RNG); ``iters`` Lloyd rounds run over ALL subspaces jointly.

    Preconditions (validated here, not silently degraded): the embedding
    dimension must be divisible by ``m`` (otherwise the trailing d % m
    dims would be dropped from every code), and the seed filter must
    yield exactly ``k`` centroids per subspace, which requires vec_ids
    dense enough to cover [0, seed_stride*k) — sparse ids would silently
    train fewer centroids and degrade recall with no signal."""
    _check_dim(emb, m)
    sv = _subvectors(emb, m).persist()
    try:
        return _train_from_sv(sv, m=m, k=k, iters=iters, seed_stride=seed_stride)
    finally:
        sv.unpersist()


def _check_dim(emb: DataFrame, m: int) -> None:
    first = emb.select(F.size("embedding").alias("d")).first()
    if first is None:
        raise ValueError("train_pq: empty embeddings input")
    if first["d"] % m != 0:
        raise ValueError(
            f"train_pq: embedding dim {first['d']} not divisible by m={m}; "
            f"the trailing {first['d'] % m} dims would be dropped from every code"
        )


def _train_from_sv(
    sv: DataFrame, m: int, k: int, iters: int, seed_stride: int
) -> DataFrame:
    """The Lloyd loop over a caller-materialized subvector table — split
    out so pq_index can share ONE sv materialization between training and
    encoding (r10: encode_pq re-derived the whole subvector explode —
    and, for IVF-PQ, the coarse-assign corpus pass under it — a second
    time)."""
    cent = (
        sv.where((F.col("vec_id") % seed_stride == 0) & (F.col("vec_id") < seed_stride * k))
        .select(
            "sub",
            (F.col("vec_id") / seed_stride).cast("int").alias("cent_id"),
            F.col("subvec").alias("c_vec"),
        )
    )
    n_seeds = cent.count()  # tiny filtered frame; train is multi-job anyway
    if n_seeds != m * k:
        raise ValueError(
            f"train_pq: seed selection yielded {n_seeds} centroids, expected "
            f"m*k={m * k}; vec_id must be dense over [0, {seed_stride * k})"
        )
    for _ in range(iters):
        assign = _assign(sv, cent)
        cent = (
            assign.select("sub", "cent_id", F.posexplode("subvec").alias("p", "x"))
            .groupBy("sub", "cent_id", "p")
            .agg(
                (F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
                 / F.count("*")).alias("c")
            )
            .groupBy("sub", "cent_id")
            .agg(
                F.expr("transform(sort_array(collect_list(struct(p, c))), s -> s.c)")
                .alias("c_vec")
            )
            .localCheckpoint(eager=True)
        )
    return cent


def pq_index(
    emb: DataFrame, m: int = 16, k: int = 16, iters: int = 2, seed_stride: int = 31
) -> tuple[DataFrame, DataFrame]:
    """(codebook, codes) built over ONE materialized subvector table.

    train_pq + encode_pq as separate calls each derive the (vec_id, sub,
    subvec) explode from scratch — for the IVF-PQ residual index that
    repeats the whole coarse-assign corpus pass. Here the explode
    localCheckpoints once and feeds the seed filter, every Lloyd round,
    AND the final encode assignment (within-invocation reuse only —
    nothing persists across calls). Results are bit-identical to the
    two-call form: same expressions, one materialization boundary."""
    _check_dim(emb, m)
    sv = _subvectors(emb, m).localCheckpoint(eager=False)
    cb = _train_from_sv(sv, m=m, k=k, iters=iters, seed_stride=seed_stride)
    codes = _assign(sv, cb).select(
        "vec_id", "sub", F.col("cent_id").alias("code")
    )
    return cb, codes


def _assign(sv: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per (vec_id, sub), ROW-LOCALLY: the k candidates
    of each subspace collect into ONE array per sub (a 16-row
    broadcast), each (vec_id, sub) row folds its own candidate structs
    via array_min(transform(...)), and the assignment is a pure map —
    ZERO exchange. array_min orders the structs by dist, then cent_id,
    over round(L2, 9) values, so ties break on the lower cent_id."""
    cands = F.broadcast(
        cent.groupBy("sub").agg(
            F.expr("array_sort(collect_list(struct(cent_id, c_vec)))").alias(
                "cands"
            )
        )
    )
    l2_c = L2_SPARK.format(a="subvec", b="c.c_vec")
    return (
        sv.join(cands, "sub")
        .select(
            "vec_id",
            "sub",
            "subvec",
            F.expr(
                "array_min(transform(cands, c -> "
                f"struct(round({l2_c}, 9) AS dist, c.cent_id AS cent_id)))"
            ).alias("best"),
        )
        .select(
            "vec_id",
            "sub",
            "subvec",
            F.col("best.cent_id").alias("cent_id"),
        )
    )


def encode_pq(emb: DataFrame, cent: DataFrame, m: int = 16) -> DataFrame:
    """Encode the corpus: (vec_id, sub, code) long-format code table —
    the ~64×-smaller representation the search joins against."""
    return _assign(_subvectors(emb, m), cent).select(
        "vec_id", "sub", F.col("cent_id").alias("code")
    )


def pq_shortlist(
    queries: DataFrame, codes: DataFrame, cent: DataFrame, m: int = 16, shortlist: int = 50
) -> DataFrame:
    """ADC search: (query_id, vec_id, approx_dot, rnk ≤ shortlist).

    ``queries`` must carry (vec_id, embedding). The lookup table —
    q-subvector · centroid for every (query, sub, centroid) — is
    queries×m×k rows, built by one broadcast join and folded back into
    the plan as a broadcast; the corpus code table joins it on (sub,
    code) and sums the m partials per (query, vec)."""
    from pyspark.sql import Window as W

    qsv = _subvectors(queries, m).select(
        F.col("vec_id").alias("query_id"), "sub", "subvec"
    )
    # partials round to 6 BEFORE the sum and merge as DECIMAL: the m-way
    # sum is then exact in any partial-aggregation arrival order, so the
    # ADC score is run-deterministic (and cross-engine hashable) — same
    # stabilization pattern as lm_perplexity's per-token NLL
    table = (
        qsv.join(F.broadcast(cent), "sub")
        .select(
            "query_id",
            "sub",
            F.col("cent_id").alias("code"),
            F.round(F.expr(DOT_SPARK.format(a="subvec", b="c_vec")), 6)
            .cast("decimal(18,6)")
            .alias("partial"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_dot").desc(), "vec_id")
    return (
        codes.join(F.broadcast(table), ["sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("partial").cast("double").alias("approx_dot"))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= shortlist)
    )


# ---------------------------------------------------------------------------
# IVF-PQ (residual) — the FAISS-style composition of the coarse quantizer
# (similarity.py's IVF) with product quantization of the RESIDUALS.
# Encoding the residual (vector minus its cell centroid) instead of the raw
# vector is what makes PQ codes sharp at scale: residual norms are a
# fraction of vector norms, so the same 16 bytes quantize a much smaller
# space. This is the standard billion-vector index layout.
# ---------------------------------------------------------------------------


def _coarse_assign(d: DataFrame, coarse: DataFrame, id_col: str = "vec_id"):
    """Nearest coarse cell per vector + the residual: (id, cell_id,
    embedding=emb−centroid). Distances round to 9 before the argmin and
    ties break on cell_id — the same determinism contract as PQ's
    _assign. ROW-LOCAL: the n_cells centroids collect into ONE broadcast
    array row; each vector folds its candidates via array_min (struct
    order: dist, then cell_id — the winner's c_vec rides third and is
    never compared since (dist, cell_id) is unique) and takes its
    residual against the winner locally. The assignment is a pure
    projection: ZERO exchange, no crossJoin row expansion."""
    cells_row = F.broadcast(
        coarse.agg(
            F.expr("array_sort(collect_list(struct(cell_id, c_vec)))").alias(
                "cells"
            )
        )
    )
    l2_c = L2_SPARK.format(a="emb", b="c.c_vec")
    return (
        d.crossJoin(cells_row)
        .select(
            id_col,
            "emb",
            F.expr(
                "array_min(transform(cells, c -> "
                f"struct(round({l2_c}, 9) AS dist, "
                "c.cell_id AS cell_id, c.c_vec AS c_vec)))"
            ).alias("best"),
        )
        .select(
            id_col,
            F.col("best.cell_id").alias("cell_id"),
            F.expr("zip_with(emb, best.c_vec, (x, y) -> x - y)").alias(
                "embedding"
            ),
        )
    )


def ivfpq_index(
    emb: DataFrame,
    n_cells: int = 8,
    cell_stride: int = 59,
    m: int = 16,
    k: int = 16,
    iters: int = 0,
):
    """Build the IVF-PQ index: (coarse, codebook, codes).

    coarse    — (cell_id, c_vec): anchor centroids (every cell_stride-th
                vector; deterministic, refinable by kmeans_refine the same
                way the IVF queries do).
    codebook  — (sub, cent_id, c_vec): PQ codebook trained on RESIDUALS.
    codes     — (vec_id, cell_id, sub, code): 16 B/vector + 1 cell byte.

    iters=0 keeps the anchor codebook (closed-form → oracle-checkable);
    production uses iters>0 Lloyd refinement (quality pinned in pytest).
    """
    d = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    coarse = d.where(
        (F.col("vec_id") % cell_stride == 0)
        & (F.col("vec_id") < cell_stride * n_cells)
    ).select(
        (F.col("vec_id") / cell_stride).cast("int").alias("cell_id"),
        F.col("emb").alias("c_vec"),
    )
    # r10: the residual table feeds FOUR consumers (the dim check, the
    # Lloyd train, the encode assignment, and the cell-id join below) —
    # un-materialized, each re-ran the coarse-assign corpus pass.
    # Checkpoint it once (within-invocation), and build codebook + codes
    # over ONE shared subvector explode (pq_index).
    resid = _coarse_assign(d, coarse).localCheckpoint(eager=False)
    cb, pcodes = pq_index(
        resid.select("vec_id", "embedding"), m=m, k=k, iters=iters
    )
    codes = pcodes.join(resid.select("vec_id", "cell_id"), "vec_id")
    return coarse, cb, codes


def ivfpq_shortlist(
    queries: DataFrame,
    coarse: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    m: int = 16,
    probes: int = 2,
    shortlist: int = 10,
) -> DataFrame:
    """ADC search over the residual index: (query_id, vec_id,
    approx_dist, rnk ≤ shortlist) — smaller approx_dist = nearer (L2).

    Per query, the ``probes`` nearest cells are scanned; the residual of
    the QUERY is taken per probed cell (q − cell centroid — residuals are
    cell-relative, which is why the lookup table keys on cell_id), the
    per-subspace dot table is (queries × probes × m × k) rows — broadcast
    — and the corpus code table joins it on (cell_id, sub, code). The
    corpus never shuffles, never re-materializes floats, and only the
    probed cells' codes survive the join: search cost scales with
    probes/cells of the corpus, not the corpus."""
    from pyspark.sql import Window as W

    qd = queries.select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    wq = W.partitionBy("query_id").orderBy("dist", "cell_id")
    qcells = (
        qd.crossJoin(F.broadcast(coarse))
        .withColumn(
            "dist", F.round(F.expr(L2_SPARK.format(a="emb", b="c_vec")), 9)
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= probes)
        .select(
            "query_id",
            "cell_id",
            F.expr("zip_with(emb, c_vec, (x, y) -> x - y)").alias("resid"),
        )
    )
    qsv = qcells.select(
        "query_id",
        "cell_id",
        F.explode(F.expr(f"sequence(0, {m - 1})")).alias("sub"),
        F.col("resid"),
    ).select(
        "query_id",
        "cell_id",
        "sub",
        F.expr(
            f"slice(resid, CAST(sub * (size(resid) div {m}) + 1 AS INT), "
            f"size(resid) div {m})"
        ).alias("subvec"),
    )
    # L2 ADC (the FAISS IVF-PQ formulation): the true distance
    # ||q - (c + r̂)||² = ||(q - c) - r̂||² decomposes into per-subspace
    # L2 terms between the QUERY RESIDUAL subvector and the code's PQ
    # centroid — summable from a lookup table. (A dot-product table of
    # (q-c)·r̂ would NOT be monotone with q·x: the cross terms q·c, c·x
    # differ per cell.) Partials round to 6 and merge as DECIMAL so the
    # sum is arrival-order-exact.
    table = qsv.join(F.broadcast(cb), "sub").select(
        "query_id",
        "cell_id",
        "sub",
        F.col("cent_id").alias("code"),
        F.round(F.expr(L2_SPARK.format(a="subvec", b="c_vec")), 6)
        .cast("decimal(18,6)")
        .alias("partial"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), "vec_id")
    return (
        codes.join(F.broadcast(table), ["cell_id", "sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("partial").cast("double").alias("approx_dist"))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= shortlist)
    )
