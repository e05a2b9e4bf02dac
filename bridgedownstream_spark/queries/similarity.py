"""Similarity & near-duplicate operators over ``documents`` and
``embeddings`` — the LLM-training-data pipeline surface beyond the
reference's own operators (VERDICT r1 task 4).

Every operator is expressed with engine-portable primitives (md5-based
``portable_hash60``, sequential double sums) so each has an *exact* DuckDB
oracle — signatures, candidate sets, and similarity values all match
bit-for-bit after rounding.

Scale design:

- **MinHash-LSH** (near_dup_lsh_pairs): shingle → k=8 minhash → b=2 bands
  of r=4 rows → groupBy band hash → candidate pairs → exact-Jaccard verify.
  Never all-pairs: the only join keys are band hashes, so work scales with
  collisions (true near-dups + a handful of false candidates), not n².
  b/r tune recall vs candidate volume (P[candidate] = 1-(1-j^r)^b).
- **SimHash** (simhash16): 16-bit signature per doc from per-token hash
  bits — one narrow projection, no shuffle; hamming-close pairs can then
  bucket on the signature itself.
- **ANN** (ann_topk_cosine / ann_lsh_bucketed): brute-force cosine top-k
  broadcasts the (small) query side — BroadcastNestedLoopJoin, zero
  shuffle of the corpus; the LSH variant buckets by signed random
  hyperplane projections first, so the join is a broadcast *hash* join on
  bucket id and each query only scores its own bucket.
- **Embedding near-dup** (embedding_near_dup): same-bucket pairs with
  cosine ≥ 0.4 — dedup without a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bridgedownstream_spark.operators.pq import DOT_SPARK, L2_SPARK
from bridgedownstream_spark.queries.util import tbl, wide

QUERIES: dict = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


# -- portable building blocks (Spark SQL expr / DuckDB SQL pairs) -----------

#: 60-bit md5 hash of a string expression (see util.portable_hash60)
_H60_SPARK = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"
_H60_DUCK = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

_WORDS_SPARK = "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"
_WORDS_DUCK = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"

#: word 3-gram shingles from a `words` column
_SHINGLES_SPARK = (
    "transform(sequence(1, greatest(size(words)-2, 0)), "
    "i -> concat_ws(' ', element_at(words,i), element_at(words,i+1), element_at(words,i+2)))"
)
_SHINGLES_DUCK = (
    "list_transform(generate_series(1, greatest(len(words)-2, 0)), "
    "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])"
)

_N_HASHES = 8
_BANDS = 2  # b bands of r = _N_HASHES/_BANDS rows

#: XOR salts (60-bit constants): minhash_k = min(h ⊕ r_k) over shingle
#: hashes h. XOR with a constant is a bijection on [0, 2^60), so each salt
#: induces a valid permutation for MinHash — at 1 md5 per shingle instead
#: of k, and portable (both engines have bigint xor).
_XOR_SALTS = [
    0x243F6A8885A308D,  # pi
    0x13198A2E0370734,
    0xA4093822299F31D,
    0x082EFA98EC4E6C8,
    0x452821E638D0137,
    0xBE5466CF34E90C6,
    0x7EF84F78FD955CB,
    0x85840851F1AC43A,
]


#: shingle-hash array: md5 computed ONCE per shingle, shared by all salts
_HV_SPARK = "transform(sh, s -> " + _H60_SPARK.format(x="s") + ")"
_HV_DUCK = "list_transform(sh, s -> " + _H60_DUCK.format(x="s") + ")"


def _minhash_spark(k: int) -> str:
    return f"array_min(transform(hv, h -> h ^ {_XOR_SALTS[k]}L))"


def _minhash_duck(k: int) -> str:
    return f"list_min(list_transform(hv, h -> xor(h, {_XOR_SALTS[k]}::BIGINT)))"


#: DuckDB CTE producing (doc_id, sh, m0..m7) — shared by the oracles
_SIG_CTE_DUCK = (
    "WITH t AS (SELECT doc_id, " + _WORDS_DUCK + " AS words FROM documents), "
    "sh AS (SELECT doc_id, " + _SHINGLES_DUCK + " AS sh FROM t), "
    "hv AS (SELECT doc_id, sh, " + _HV_DUCK + " AS hv FROM sh), "
    "sig AS (SELECT doc_id, sh, "
    + ", ".join(f"{_minhash_duck(k)} AS m{k}" for k in range(_N_HASHES))
    + " FROM hv)"
)


def _shingled(spark, sf_dir):
    """(doc_id, sh): word-3-gram shingles — cheap, no hashing.

    Scan-width floor before the split/shingle expressions (util.wide):
    on single-row-group local inputs every downstream consumer — minhash
    signatures, posting-list builds, verify re-shingles — otherwise runs
    its whole map side on one task; cluster-wide layouts are untouched."""
    d = wide(
        spark,
        tbl(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir,
        "documents",
    )
    return (
        d.withColumn("words", F.expr(_WORDS_SPARK))
        .withColumn("sh", F.expr(_SHINGLES_SPARK))
        .select("doc_id", "sh")
    )


def _shingled_for(spark, sf_dir, doc_ids):
    """Shingles for a SUBSET of docs: semi-join the raw table to the
    (broadcast) id set before the shingle expressions run, so the split/
    transform work is proportional to the subset, not the corpus.

    Deliberately NOT localCheckpointed even though every caller aliases
    this frame twice (sa/sb, so the subtree executes once per pair
    side): measured across three interleaved fresh-JVM A/B pairs at
    sf0.1 (r9), materializing it cost +0.3-0.5 s on near_dup_lsh_pairs /
    near_dup_incremental / jaccard_prefix_join and was neutral on
    containment/sweep — the candidate-sized shingle table's checkpoint
    barrier + double RDD read outweighs the duplicated (semi-filtered,
    candidate-proportional) subtree at any scale where candidates ≪
    corpus, which is the regime the semi-join already guarantees."""
    d = tbl(spark, sf_dir, "documents").join(
        F.broadcast(doc_ids.select("doc_id")), "doc_id", "semi"
    )
    # the semi filter is row-local on the scan; widen the survivors
    # before the shingle expressions (util.wide — cluster no-op)
    d = wide(spark, d.select("doc_id", "text"), sf_dir, "documents")
    return (
        d.withColumn("words", F.expr(_WORDS_SPARK))
        .withColumn("sh", F.expr(_SHINGLES_SPARK))
        .select("doc_id", "sh")
    )


def _rarity_ranked(sh):
    """(doc_id, s, rn, n): each doc's DISTINCT shingles ranked by global
    rarity (document-frequency asc, shingle asc — one total order shared
    by every doc, the precondition of the prefix-filter theorem). Rarity
    is load-bearing, not a nicety: re-measured at 100x corpus, a cheap
    hash order (rank by xxhash64, zero-shuffle array_sort build) blows
    the candidate set up 362x (834k -> 302M pairs) because frequent
    shingles enter prefixes.

    Lean build — measured at 100x corpus (500k docs, 26M posting rows):
    the naive chain (explode.distinct -> size groupBy -> df groupBy ->
    two joins back -> rank window) shuffles the posting list ~5 times
    and was 103 s of containment_prefix_join's 115 s total; this form
    computes per-doc dedup + set size MAP-SIDE on the shingle arrays
    (no distinct shuffle, no size groupBy/join), document frequency as
    an unordered count window over the shingle partitioning (no
    groupBy + join back), and per-doc rank as the one remaining doc_id
    exchange — 2 posting-list shuffles total.
    """
    from pyspark.sql import Window as W

    e = sh.select("doc_id", F.array_distinct("sh").alias("sha")).select(
        "doc_id",
        F.size("sha").cast("long").alias("n"),
        F.explode("sha").alias("s"),
    )
    return (
        e.withColumn("df", F.count("*").over(W.partitionBy("s")))
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "s")),
        )
        .select("doc_id", "s", "rn", "n")
    )


def _signatures(spark, sf_dir):
    """(doc_id, sh, m0..m7) — narrow projection over one scan.

    Deliberately NOT persisted here: the one consumer that reads it more
    than once (the band self-join) is materialized per invocation into
    the `_lsh_candidates` localCheckpoint, and everything downstream
    reads that. This mirrors the at-scale design: checkpoint the
    candidate set, keep signatures and raw shingles virtual."""
    return (
        _shingled(spark, sf_dir)
        .withColumn("hv", F.expr(_HV_SPARK))
        .select(
            "doc_id",
            "sh",
            *[F.expr(_minhash_spark(k)).alias(f"m{k}") for k in range(_N_HASHES)],
        )
    )


@q(
    "minhash_signature",
    _SIG_CTE_DUCK
    + " SELECT doc_id, "
    + ", ".join(f"m{k}" for k in range(_N_HASHES))
    + " FROM sig",
)
def minhash_signature(spark, sf_dir):
    """k=8 MinHash signature per document over word-3-gram shingles."""
    return _signatures(spark, sf_dir).drop("sh")


def _band_hash_spark(b: int) -> str:
    r = _N_HASHES // _BANDS
    parts = ", '_', ".join(f"CAST(m{b * r + i} AS STRING)" for i in range(r))
    return _H60_SPARK.format(x=f"concat({parts})")


def _band_hash_duck(b: int) -> str:
    r = _N_HASHES // _BANDS
    parts = " || '_' || ".join(f"CAST(m{b * r + i} AS VARCHAR)" for i in range(r))
    return _H60_DUCK.format(x=parts)


def _lsh_candidates(spark, sf_dir):
    """(doc_a, doc_b) LSH candidate pairs, computed FROM THE PARQUET
    INPUTS on every invocation (r9: the former stamped /tmp parquet +
    module-level memo made later bench runs read a precomputed pair
    table instead of running the band self-join — result caching across
    runs, which the bench contract forbids).

    The localCheckpoint is within-invocation only: the candidate set is
    consumed by several plan branches per query (pair broadcast, id-set
    broadcast, verify join), so one materialization per query replaces
    one band self-join per branch — the "checkpoint the candidate set"
    step every LSH dedup pipeline has, paid inside the timed region."""
    sig = _signatures(spark, sf_dir)
    bands = sig.selectExpr(
        "doc_id",
        "stack("
        + str(_BANDS)
        + ", "
        + ", ".join(f"{b}, {_band_hash_spark(b)}" for b in range(_BANDS))
        + ") AS (band, bh)",
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


@q(
    "near_dup_incremental",
    _SIG_CTE_DUCK
    + ", bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_hash_duck(b)} AS bh FROM sig"
        for b in range(_BANDS)
    )
    + """), cand AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS match_doc
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      WHERE a.doc_id % 10 = 0 AND b.doc_id <> a.doc_id
        AND (b.doc_id % 10 <> 0 OR b.doc_id > a.doc_id)
    )
    SELECT new_doc, match_doc, round(jac, 3) AS jaccard,
           match_doc % 10 <> 0 AS vs_corpus
    FROM (
      SELECT c.new_doc, c.match_doc,
             len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / greatest(len(list_distinct(sa.sh || sb.sh)), 1) AS jac
      FROM cand c JOIN sh sa ON sa.doc_id = c.new_doc
                  JOIN sh sb ON sb.doc_id = c.match_doc
    ) WHERE jac >= 0.5
    """,
)
def near_dup_incremental(spark, sf_dir):
    """Incremental near-dup: a NEW BATCH (doc_id % 10 = 0 simulates the
    delta) checked against the already-indexed corpus — the index-
    maintenance path of a production dedup pipeline, where each arriving
    batch joins its band hashes against the stored band table instead of
    re-running the corpus×corpus self-join.

    The delta side drives every join: candidates are delta-bands ⋈
    all-bands (delta×corpus both orders collapse to one via the id
    filter; delta×delta deduped by `<`), so per-batch cost scales with
    |delta| × bucket collision rate — the corpus pair space is never
    revisited. Verification re-shingles only docs appearing in a
    candidate pair, as the bulk pipeline does. `vs_corpus` distinguishes
    matches against the index from duplicates inside the batch itself
    (both matter: the first dedups against history, the second within
    the delivery)."""
    sig = _signatures(spark, sf_dir)
    bands = sig.selectExpr(
        "doc_id",
        "stack("
        + str(_BANDS)
        + ", "
        + ", ".join(f"{b}, {_band_hash_spark(b)}" for b in range(_BANDS))
        + ") AS (band, bh)",
    )
    delta = bands.where(F.col("doc_id") % 10 == 0).alias("a")
    allb = bands.alias("b")
    cand = (
        delta.join(
            allb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("b.doc_id") != F.col("a.doc_id"))
            & (
                (F.col("b.doc_id") % 10 != 0)
                | (F.col("b.doc_id") > F.col("a.doc_id"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("match_doc"),
        )
        .distinct()
    )
    ids = (
        cand.select(F.col("new_doc").alias("doc_id"))
        .union(cand.select(F.col("match_doc").alias("doc_id")))
        .distinct()
    )
    sh = _shingled_for(spark, sf_dir, ids)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    jac = F.col("n_common").cast("double") / F.greatest(F.col("n_union"), F.lit(1))
    return (
        F.broadcast(cand)
        .join(sa, F.col("new_doc") == F.col("sa.doc_id"))
        .join(sb, F.col("match_doc") == F.col("sb.doc_id"))
        .select(
            "new_doc",
            "match_doc",
            F.size(F.array_intersect("sa.sh", "sb.sh")).alias("n_common"),
            F.size(F.array_union("sa.sh", "sb.sh")).alias("n_union"),
        )
        .where(jac >= 0.5)
        .select(
            "new_doc",
            "match_doc",
            F.round(jac, 3).alias("jaccard"),
            (F.col("match_doc") % 10 != 0).alias("vs_corpus"),
        )
    )


#: CTE chain ending in ``pairs(doc_a, doc_b, jaccard)`` — shared by the
#: pair query and the connected-components dedup oracle
_PAIRS_CTE_DUCK = (
    _SIG_CTE_DUCK
    + ", bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_hash_duck(b)} AS bh FROM sig"
        for b in range(_BANDS)
    )
    + "), cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
    "   FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh"
    "   AND a.doc_id < b.doc_id)"
    ", pairs AS (SELECT c.doc_a, c.doc_b,"
    "        len(list_intersect(sa.sh, sb.sh))::DOUBLE"
    "              / greatest(len(list_distinct(sa.sh || sb.sh)), 1) AS jaccard"
    " FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a"
    "             JOIN sh sb ON sb.doc_id = c.doc_b"
    " WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE"
    "       / greatest(len(list_distinct(sa.sh || sb.sh)), 1) >= 0.5)"
)


@q(
    "near_dup_lsh_pairs",
    _PAIRS_CTE_DUCK
    + " SELECT doc_a, doc_b, round(jaccard, 3) AS jaccard FROM pairs",
)
def near_dup_lsh_pairs(spark, sf_dir):
    """MinHash-LSH near-duplicate pairs, exact-Jaccard-verified at ≥ 0.5.

    Plan: signatures (narrow) → band explode → shuffle on band hash only →
    candidate self-join inside buckets → verify join fetches the two
    shingle sets per *candidate* (not per pair in the corpus). The verify
    side computes shingles ONLY for candidate docs: documents are
    semi-joined to the (broadcast, tiny) candidate id set BEFORE the
    shingle expression runs, so verify cost scales with the candidate
    count, never the corpus — at 100 TB re-shingling the whole corpus
    twice (once per pair side) would dwarf the LSH phase itself."""
    cand = _lsh_candidates(spark, sf_dir)
    # restrict the shingle computation to docs that appear in a candidate
    # pair — the semi-join key set is broadcast (it is at most 2×|cand|)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _shingled_for(spark, sf_dir, cand_ids)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    jac = F.col("n_common").cast("double") / F.greatest(F.col("n_union"), F.lit(1))
    # broadcast the candidate side (pair ids, tiny) so the shingle table
    # streams — broadcasting shingles would ship the whole corpus's
    # 3-grams to every task
    return (
        F.broadcast(cand)
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa.sh", "sb.sh")).alias("n_common"),
            F.size(F.array_union("sa.sh", "sb.sh")).alias("n_union"),
        )
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 3).alias("jaccard"))
    )


_SIMHASH_BITS = 16


# bit-vote sums run over a PRE-HASHED array (one md5 per token), never
# re-hashing per bit: 16 bits × re-hash would cost 16 md5 evaluations per
# token (measured 8× slower at sf0.1)
def _bit_sum_spark(i: int) -> str:
    return (
        f"aggregate(hs, CAST(0 AS BIGINT), "
        f"(acc, h) -> acc + (CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END))"
    )


def _bit_sum_duck(i: int) -> str:
    return (
        f"CAST(list_sum(list_transform(hs, "
        f"h -> CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT)"
    )


@q(
    "simhash16",
    "WITH t AS (SELECT doc_id, " + _WORDS_DUCK + " AS words FROM documents), "
    "hashed AS (SELECT doc_id, list_transform(words, t -> "
    + _H60_DUCK.format(x="t")
    + ") AS hs FROM t) "
    "SELECT doc_id, CAST("
    + " + ".join(
        f"(CASE WHEN {_bit_sum_duck(i)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    + " AS BIGINT) AS simhash FROM hashed",
)
def simhash16(spark, sf_dir):
    """16-bit SimHash per document: sign of the per-bit token-hash vote.
    One narrow projection — hamming-close docs share most signature bits,
    so the signature doubles as a dedup bucket key."""
    d = (
        tbl(spark, sf_dir, "documents")
        .withColumn("words", F.expr(_WORDS_SPARK))
        .withColumn(
            "hs", F.expr(f"transform(words, t -> {_H60_SPARK.format(x='t')})")
        )
    )
    sim = " + ".join(
        f"(CASE WHEN {_bit_sum_spark(i)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return d.select("doc_id", F.expr(f"CAST({sim} AS BIGINT)").alias("simhash"))


# -- embeddings: cosine ANN --------------------------------------------------

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_TOP_K = 3

#: DuckDB CTE: embeddings cast to double with norms
_EMB_CTE_DUCK = (
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb"
    "           FROM embeddings), "
    "n AS (SELECT vec_id, emb,"
    "             sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e)"
)

#: sequential-sum dot product — identical order of double adds in both
#: engines, so values match bit-for-bit before rounding
_DOT_DUCK = "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"


def _emb_norms(spark, sf_dir):
    # scan-width floor before the per-vector transform/norm fold and the
    # dot-product consumers downstream (util.wide — cluster no-op)
    e = wide(
        spark, tbl(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    ).withColumn(
        "emb", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    )
    return e.withColumn(
        "nrm",
        F.expr("sqrt(aggregate(emb, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"),
    ).select("vec_id", "emb", "nrm")


@q(
    "ann_topk_cosine",
    _EMB_CTE_DUCK + f"""
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) DESC,
                            c.vec_id
               ) AS rnk
        FROM n q JOIN n c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
    ) WHERE rnk <= {_TOP_K}
    """,
)
def ann_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k: the exactness baseline for ANN.

    The query side (5 vectors) is broadcast, so the corpus is scanned once
    with zero shuffle; ranking is one window partitioned by query."""
    from pyspark.sql import Window as W

    e = _emb_norms(spark, sf_dir)
    qs = F.broadcast(
        e.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    pairs = qs.crossJoin(e).where(F.col("vec_id") != F.col("query_id"))
    cos = F.round(
        F.expr(DOT_SPARK.format(a="q_emb", b="emb")) / (F.col("q_nrm") * F.col("nrm")),
        4,
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


#: 2^6 = 64 buckets — sized for the TEST corpus (2k vectors → ~30 per
#: bucket). The bucket count is the quadratic-growth throttle: same-bucket
#: pair volume is ~N²/2^planes, so a production deployment must scale
#: planes with the corpus (planes ≈ log2(N / target_bucket_size), e.g. 20+
#: planes at 10^8 vectors, or the multi-table banding near_dup_lsh_pairs
#: uses) — a FIXED plane count at growing N degenerates toward an
#: all-pairs join divided by a constant.
_N_PLANES = 6

#: hyperplanes are FIXED model-dimension vectors — precompute them once on
#: the driver (hashlib.md5 is bit-identical to both engines' md5) and fold
#: them into the plan as constant arrays. The naive form — re-deriving each
#: weight with md5 inside the row expression — costs dims × planes md5+conv
#: evaluations PER ROW (384/row at 64 dims; measured ~2× slower at sf0.1).
#: The oracle keeps the self-describing md5 form; values match because the
#: weights are the same deterministic function either way.
_MAX_DIM = 256


def _h60_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


_PLANE_W = [
    [((_h60_py(f"hp{j}_{i}") % 1000) / 500.0 - 1.0) for i in range(1, _MAX_DIM + 1)]
    for j in range(_N_PLANES)
]


def _plane_dot_spark(j: int) -> str:
    w = "array(" + ", ".join(f"{x!r}D" for x in _PLANE_W[j]) + ")"
    return DOT_SPARK.format(a=f"slice({w}, 1, size(emb))", b="emb")


def _plane_dot_duck(j: int) -> str:
    h = _H60_DUCK.format(x=f"'hp{j}_' || i")
    return (
        f"list_sum(list_transform(generate_series(1, len(emb)), "
        f"i -> (({h} % 1000) / 500.0 - 1.0) * emb[i]))"
    )


def _bucket_expr(dots: list[str]) -> str:
    return (
        "CAST("
        + " + ".join(
            f"(CASE WHEN round({d}, 6) >= 0 THEN {1 << j} ELSE 0 END)"
            for j, d in enumerate(dots)
        )
        + " AS BIGINT)"
    )


_BUCKET_SPARK = _bucket_expr([_plane_dot_spark(j) for j in range(_N_PLANES)])
_BUCKET_DUCK = _bucket_expr([_plane_dot_duck(j) for j in range(_N_PLANES)])


def _bucketed(spark, sf_dir):
    """(vec_id, emb, nrm, bucket) — signed random-hyperplane LSH bucket,
    derived from the deterministic md5 hyperplanes. Computed from the
    parquet inputs on every invocation (r9: the former stamped
    module-level memo served later queries a precomputed projection —
    cross-query result caching the bench contract forbids); the
    localCheckpoint is within-invocation reuse only — both sides of the
    bucket join (and the query subset) read one computation of the
    384-md5-per-row projection instead of one per plan branch."""
    return (
        _emb_norms(spark, sf_dir)
        .withColumn("bucket", F.expr(_BUCKET_SPARK))
        .localCheckpoint(eager=False)
    )


_BUCKET_CTE_DUCK = (
    _EMB_CTE_DUCK + f", b AS (SELECT vec_id, emb, nrm, {_BUCKET_DUCK} AS bucket FROM n)"
)


@q(
    "ann_lsh_bucketed",
    _BUCKET_CTE_DUCK + f"""
    SELECT query_id, neighbor_id, bucket, cos_sim, CAST(rnk AS INT) AS rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
               round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) DESC,
                            c.vec_id
               ) AS rnk
        FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ) WHERE rnk <= {_TOP_K}
    """,
)
def ann_lsh_bucketed(spark, sf_dir):
    """LSH-bucketed ANN: each query scores only its hyperplane bucket —
    a broadcast hash join on bucket id instead of a corpus scan per query.
    The scale path when the corpus no longer fits a brute-force pass."""
    from pyspark.sql import Window as W

    b = _bucketed(spark, sf_dir)
    qs = F.broadcast(
        b.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    pairs = qs.join(
        b, (F.col("q_bucket") == F.col("bucket")) & (F.col("vec_id") != F.col("query_id"))
    )
    cos = F.round(
        F.expr(DOT_SPARK.format(a="q_emb", b="emb")) / (F.col("q_nrm") * F.col("nrm")),
        4,
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("q_bucket").alias("bucket"),
            cos.alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id", "neighbor_id", "bucket", "cos_sim", F.col("rnk").cast("int").alias("rnk")
        )
    )


_N_CELLS = 8  # IVF coarse quantizer size


def _ivf_cent(spark, sf_dir):
    e = _emb_norms(spark, sf_dir)
    return e, F.broadcast(
        e.where(
            (F.col("vec_id") % 250 == 0) & (F.col("vec_id") < 250 * _N_CELLS)
        ).select(
            F.col("vec_id").alias("cent_id"),
            F.col("emb").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )


def _ivf_ccos():
    return F.round(
        F.expr(DOT_SPARK.format(a="emb", b="c_emb"))
        / (F.col("nrm") * F.col("c_nrm")),
        6,
    )


def _ivf_assign(spark, sf_dir):
    """The 1-cell corpus assignment (vec_id, emb, nrm, cent_id) — the IVF
    index, computed from the parquet inputs on every invocation (r9: the
    former stamped memo served later queries a precomputed assignment).
    The localCheckpoint covers within-invocation reuse: probe and corpus
    branches of one search read one assignment pass.

    r10: the argmax is ROW-LOCAL — the n_cells centroids collect into ONE
    broadcast array row and each vector folds its own candidate structs
    via array_max(transform(cents, c -> struct(ccos, -cent_id))).
    array_max uses the same struct order as the former max() aggregate
    (ccos desc, then smallest cent_id via the negation — the original
    window's tie-break) over the same round(dot/(nrm*nrm), 6) values, so
    the winner is bit-identical, but the assignment is now a pure
    projection: ZERO exchange, no crossJoin row expansion carrying the
    embedding n_cells times (the r9 struct-max form still shuffled one
    (ccos, neg_cent, emb, nrm) struct per vector)."""
    e, cent = _ivf_cent(spark, sf_dir)
    cents_row = F.broadcast(
        cent.agg(
            F.expr(
                "array_sort(collect_list(struct(cent_id, c_emb, c_nrm)))"
            ).alias("cents")
        )
    )
    ccos_c = (
        f"round({DOT_SPARK.format(a='emb', b='c.c_emb')}"
        " / (nrm * c.c_nrm), 6)"
    )
    return (
        e.crossJoin(cents_row)
        .select(
            "vec_id",
            "emb",
            "nrm",
            F.expr(
                "array_max(transform(cents, c -> "
                f"struct({ccos_c} AS ccos, -c.cent_id AS neg_cent)))"
            ).alias("best"),
        )
        .select(
            "vec_id",
            "emb",
            "nrm",
            (-F.col("best.neg_cent")).alias("cent_id"),
        )
        .localCheckpoint(eager=False)
    )


@q(
    "ann_ivf_topk",
    _EMB_CTE_DUCK + f"""
    , cent AS (SELECT vec_id AS cent_id, emb AS c_emb, nrm AS c_nrm FROM n
               WHERE vec_id % 250 = 0 AND vec_id < {250 * _N_CELLS}),
    assign AS (
        SELECT vec_id, emb, nrm, cent_id FROM (
            SELECT v.vec_id, v.emb, v.nrm, c.cent_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({_DOT_DUCK.format(a='v.emb', b='c.c_emb')} / (v.nrm * c.c_nrm), 6) DESC,
                                c.cent_id
                   ) AS rc
            FROM n v CROSS JOIN cent c
        ) WHERE rc = 1
    )
    SELECT query_id, neighbor_id, cell, cos_sim, CAST(rnk AS INT) AS rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cent_id AS cell,
               round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) DESC,
                            c.vec_id
               ) AS rnk
        FROM assign q JOIN assign c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ) WHERE rnk <= {_TOP_K}
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: a fixed coarse quantizer (every 250th vector serves
    as a centroid) partitions the corpus into cells; each query searches
    only its own cell (1-probe).

    Plan: centroid table broadcasts (Θ(cells)); assignment is one pass over
    the corpus; the search is a hash join on cell id. At scale the
    centroids come from a k-means fit, but the query/assignment plumbing —
    the part Spark executes — is identical."""
    from pyspark.sql import Window as W

    assign = _ivf_assign(spark, sf_dir)
    qs = assign.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("cent_id").alias("cell"),
    )
    pairs = F.broadcast(qs).join(
        assign,
        (F.col("cell") == F.col("cent_id")) & (F.col("vec_id") != F.col("query_id")),
    )
    cos = F.round(
        F.expr(DOT_SPARK.format(a="q_emb", b="emb")) / (F.col("q_nrm") * F.col("nrm")),
        4,
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "cell", cos.alias("cos_sim")
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id", "neighbor_id", "cell", "cos_sim", F.col("rnk").cast("int").alias("rnk")
        )
    )


_N_PROBES = 2  # cells probed per query in the multi-probe search


@q(
    "ann_ivf_multiprobe",
    _EMB_CTE_DUCK + f"""
    , cent AS (SELECT vec_id AS cent_id, emb AS c_emb, nrm AS c_nrm FROM n
               WHERE vec_id % 250 = 0 AND vec_id < {250 * _N_CELLS}),
    ranked AS (
        SELECT v.vec_id, v.emb, v.nrm, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY round({_DOT_DUCK.format(a='v.emb', b='c.c_emb')} / (v.nrm * c.c_nrm), 6) DESC,
                            c.cent_id
               ) AS rc
        FROM n v CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, emb, nrm, cent_id FROM ranked WHERE rc = 1),
    qcells AS (SELECT vec_id, emb, nrm, cent_id FROM ranked
               WHERE rc <= {_N_PROBES} AND vec_id < {_N_QUERIES})
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) DESC,
                            c.vec_id
               ) AS rnk
        FROM qcells q JOIN assign c
          ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
    ) WHERE rnk <= {_TOP_K}
    """,
)
def ann_ivf_multiprobe(spark, sf_dir):
    """Multi-probe IVF: each query searches its TOP-2 nearest cells
    instead of one — the standard recall knob for inverted-file ANN
    (boundary queries whose true neighbors sit just across the Voronoi
    edge are the 1-probe failure mode). The corpus index is UNCHANGED
    (each vector in exactly one cell, reused from the cached 1-probe
    assignment), so probing more cells multiplies only the per-query
    candidate volume — cells × probes, never corpus size — and no pair
    can appear twice (a corpus vector has one cell)."""
    from pyspark.sql import Window as W

    assign = _ivf_assign(spark, sf_dir)
    e, cent = _ivf_cent(spark, sf_dir)
    wa = W.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    qcells = (
        e.where(F.col("vec_id") < _N_QUERIES)
        .crossJoin(cent)
        .withColumn("ccos", _ivf_ccos())
        .withColumn("rc", F.row_number().over(wa))
        .where(F.col("rc") <= _N_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("cent_id").alias("cell"),
        )
    )
    pairs = F.broadcast(qcells).join(
        assign,
        (F.col("cell") == F.col("cent_id"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    cos = F.round(
        F.expr(DOT_SPARK.format(a="q_emb", b="emb"))
        / (F.col("q_nrm") * F.col("nrm")),
        4,
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@q(
    "ann_quantized_topk",
    _EMB_CTE_DUCK + f"""
    , qz AS (
        SELECT vec_id,
               list_transform(emb, x -> CAST(round(x * 127.0 /
                   greatest(list_max(list_transform(emb, y -> abs(y))), 1e-12))
                   AS BIGINT)) AS qv
        FROM n
    )
    SELECT query_id, neighbor_id, q_dot, CAST(rnk AS INT) AS rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                    i -> q.qv[i] * c.qv[i])) AS BIGINT) AS q_dot,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                            i -> q.qv[i] * c.qv[i])) AS BIGINT) DESC,
                            c.vec_id
               ) AS rnk
        FROM qz q JOIN qz c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
    ) WHERE rnk <= {_TOP_K}
    """,
)
def ann_quantized_topk(spark, sf_dir):
    """Scalar-quantized ANN: embeddings compressed to int8 (per-vector
    max-abs scale), candidates ranked by the INTEGER dot product.

    The 100 TB story is memory, not speed-of-math: int8 shrinks the
    resident vector corpus 4× (so 4× more of it fits in executor memory /
    one broadcast), and integer dots are exact — bigint sums, no float
    accumulation-order hazard, so the DuckDB oracle matches bit-for-bit.
    Plan shape matches the brute-force baseline: broadcast query side,
    one corpus scan, one window."""
    from pyspark.sql import Window as W

    e = tbl(spark, sf_dir, "embeddings").withColumn(
        "emb", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    )
    mx = "greatest(aggregate(emb, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x))), 1e-12d)"
    qz = e.select(
        "vec_id",
        F.expr(
            f"transform(emb, x -> CAST(round(x * 127.0 / {mx}) AS BIGINT))"
        ).alias("qv"),
    )
    qs = F.broadcast(
        qz.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
        )
    )
    dot = F.expr(
        "aggregate(zip_with(q_qv, qv, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    w = W.partitionBy("query_id").orderBy(F.col("q_dot").desc(), F.col("neighbor_id"))
    return (
        qs.crossJoin(qz)
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), dot.alias("q_dot"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "q_dot", F.col("rnk").cast("int").alias("rnk"))
    )


@q(
    "embedding_near_dup",
    _BUCKET_CTE_DUCK + f"""
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           round({_DOT_DUCK.format(a='a.emb', b='c.emb')} / (a.nrm * c.nrm), 4) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round({_DOT_DUCK.format(a='a.emb', b='c.emb')} / (a.nrm * c.nrm), 4) >= 0.4
    """,
)
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: only same-LSH-bucket pairs
    are scored; ≥ 0.4 cosine flags a dup (threshold tuned to the synthetic
    corpus, where the most similar pairs sit near 0.5-0.6). Pair volume is
    ~N²/2^planes — bounded only while the plane count tracks the corpus
    size (see the _N_PLANES note), exactly like every hyperplane-LSH
    dedup."""
    b = _bucketed(spark, sf_dir)
    a, c = b.alias("a"), b.alias("c")
    cos = F.round(
        F.expr(DOT_SPARK.format(a="a.emb", b="c.emb"))
        / (F.col("a.nrm") * F.col("c.nrm")),
        4,
    )
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("c.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.4)
    )


_KM_ITERS = 2

#: squared-L2 distance between v.emb and c.c_emb — the L2_SPARK fold order
_L2_DUCK = (
    "list_sum(list_transform(generate_series(1, len(v.emb)), "
    "i -> (v.emb[i] - c.c_emb[i]) * (v.emb[i] - c.c_emb[i])))"
)


def _km_assign_duck(src: str, cents: str, out: str) -> str:
    return (
        f"{out} AS (SELECT vec_id, emb, cent_id AS cell FROM ("
        f"  SELECT v.vec_id, v.emb, c.cent_id,"
        f"         row_number() OVER (PARTITION BY v.vec_id"
        f"             ORDER BY round({_L2_DUCK}, 6), c.cent_id) AS rn"
        f"  FROM {src} v CROSS JOIN {cents} c) WHERE rn = 1)"
    )


_KM_MEAN_DUCK = (
    "{out} AS (SELECT cell, d, "
    "round(CAST(sum(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c"
    " FROM (SELECT cell, unnest(generate_series(1, len(emb))) AS d,"
    "              unnest(emb) AS x FROM {src})"
    " GROUP BY cell, d)"
)


@q(
    "kmeans_refine_centroids",
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb"
    "           FROM embeddings), "
    f"c0 AS (SELECT vec_id AS cent_id, emb AS c_emb FROM e"
    f"       WHERE vec_id % 250 = 0 AND vec_id < {250 * _N_CELLS}), "
    + _km_assign_duck("e", "c0", "a1")
    + ", "
    + _KM_MEAN_DUCK.format(out="m1", src="a1")
    + ", c1 AS (SELECT cell AS cent_id, list(c ORDER BY d) AS c_emb FROM m1 GROUP BY cell), "
    + _km_assign_duck("e", "c1", "a2")
    + ", "
    + _KM_MEAN_DUCK.format(out="m2", src="a2")
    + " SELECT cell, CAST(d AS INT) AS d, c FROM m2 ORDER BY cell, d",
)
def kmeans_refine_centroids(spark, sf_dir):
    """Lloyd k-means refinement of the IVF coarse quantizer: 2 iterations
    of assign-to-nearest → per-cell mean, seeded with the same fixed
    centroids ann_ivf_topk probes. Output = the refined centroids as
    (cell, dim, component) rows.

    This is the *training* half of IVF that ann_ivf_topk's docstring
    defers to — expressed in DataFrame ops: assignment is a row-local
    array_min argmin over one broadcast array of the 8 centroids (no
    vector ever shuffles), the mean is posexplode → one narrow-keyed
    aggregation, and
    each round's tiny centroid frame is localCheckpointed so iteration
    lineage stays O(1), exactly the connected-components pattern.

    Oracle parity for an iterative float algorithm: distances round to 6
    before the argmin (deterministic tie-break by cell id), and the means
    use exact DECIMAL sums — order-independent across partitions, so the
    unrolled-CTE DuckDB twin matches hash-for-hash despite the two
    engines aggregating in different orders. A dyadic double can never be
    a decimal half-way case, so the double→decimal rounding agrees too."""
    # scan-width floor before the per-iteration assign: the candidate L2
    # folds otherwise run at the scan's single-row-group width
    # (util.wide — cluster no-op)
    e = wide(spark, tbl(spark, sf_dir, "embeddings"), sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    cent = e.where(
        (F.col("vec_id") % 250 == 0) & (F.col("vec_id") < 250 * _N_CELLS)
    ).select(F.col("vec_id").alias("cent_id"), F.col("emb").alias("c_emb"))
    means = None
    for _ in range(_KM_ITERS):
        # ROW-LOCAL argmin: the 8 centroids collect into ONE broadcast
        # array row and each vector folds its own candidate structs via
        # array_min(transform(...)), ordered by (dist, then cent_id) over
        # round(L2, 6). A struct-min aggregate instead shuffled one
        # (dist, cent_id, emb[64]) struct PER VECTOR and breached its
        # isolated 100x gate budget. The only shuffle left is the means
        # aggregate's map-side-combined (cell, d) partials.
        cents_row = F.broadcast(
            cent.agg(
                F.expr(
                    "array_sort(collect_list(struct(cent_id, c_emb)))"
                ).alias("cents")
            )
        )
        l2_c = L2_SPARK.format(a="emb", b="c.c_emb")
        assign = (
            e.crossJoin(cents_row)
            .select(
                F.expr(
                    "array_min(transform(cents, c -> "
                    f"struct(round({l2_c}, 6) AS dist, "
                    "c.cent_id AS cent_id)))"
                ).alias("best"),
                "emb",
            )
            .select(F.col("best.cent_id").alias("cell"), "emb")
        )
        means = (
            assign.select("cell", F.posexplode("emb").alias("p", "x"))
            .select("cell", (F.col("p") + 1).cast("int").alias("d"), "x")
            .groupBy("cell", "d")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
                    / F.count("*"),
                    6,
                ).alias("c")
            )
            # materialize this round's result: truncates iterative lineage
            # and is the frame the next assignment broadcasts from
            .localCheckpoint(eager=True)
        )
        cent = means.groupBy("cell").agg(
            F.expr("transform(sort_array(collect_list(struct(d, c))), s -> s.c)").alias(
                "c_emb"
            )
        ).select(F.col("cell").alias("cent_id"), "c_emb")
    return means.orderBy("cell", "d")


@q(
    "near_dup_components",
    _PAIRS_CTE_DUCK.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + ", edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs"
    "             UNION ALL SELECT doc_b, doc_a FROM pairs)"
    ", reach AS (SELECT a AS src, b AS dst FROM edges"
    "            UNION"
    "            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)"
    " SELECT src AS doc_id,"
    "        least(src, min(dst)) AS component,"
    "        least(src, min(dst)) = src AS keep"
    " FROM reach GROUP BY src ORDER BY doc_id",
)
def near_dup_components(spark, sf_dir):
    """Near-dup CLUSTERS from the LSH pairs: connected components by
    iterative min-label propagation (operators/components.py), the dedup
    decision being keep = (doc == component representative).

    LSH gives pairs; dedup needs transitive closure (a≈b, b≈c ⇒ drop two
    of three). That closure is the brief's iterative-algorithm class — no
    single SQL pass expresses it, so the Spark side loops Pregel-style
    joins to a fixpoint while the oracle uses DuckDB's recursive CTE:
    two engines, two genuinely different algorithms, one answer."""
    from bridgedownstream_spark.operators.components import connected_components

    pairs = QUERIES["near_dup_lsh_pairs"][0](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("component") == F.col("node")).alias("keep"),
    ).orderBy("doc_id")


@q(
    "ann_recall",
    _BUCKET_CTE_DUCK + f"""
    , brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) DESC,
                                c.vec_id
                   ) AS rnk
            FROM n q JOIN n c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
        ) WHERE rnk <= {_TOP_K}
    ),
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) DESC,
                                c.vec_id
                   ) AS rnk
            FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        ) WHERE rnk <= {_TOP_K}
    )
    SELECT bf.query_id,
           CAST(count(ls.neighbor_id) AS INT) AS n_hits,
           round(count(ls.neighbor_id) / {_TOP_K}.0, 3) AS recall
    FROM brute bf LEFT JOIN lsh ls
      ON bf.query_id = ls.query_id AND bf.neighbor_id = ls.neighbor_id
    GROUP BY bf.query_id
    """,
)
def ann_recall(spark, sf_dir):
    """Recall@k of the LSH-bucketed ANN against the brute-force ground
    truth — the quality metric every approximate index must report before
    it replaces the exact scan.

    Spark side: both existing pipelines run as-is; ground truth is tiny
    (queries × k rows), so it broadcasts into a left join against the ANN
    result and the per-query hit count is one small aggregation. At scale
    this is the standard pattern: recall is measured on a sampled query
    set, never the full corpus, so the measurement cost is the cost of one
    brute-force pass over the sample."""
    truth = QUERIES["ann_topk_cosine"][0](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = QUERIES["ann_lsh_bucketed"][0](spark, sf_dir).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_neighbor_id"),
    )
    hits = F.count("a_neighbor_id")
    # hint the BUILD side: for a left-outer join only the right side can
    # be the broadcast hash side (a hint on the preserved left side is
    # rejected at runtime and Catalyst falls back un-hinted); approx is
    # query-sample × shortlist rows — comfortably broadcastable
    return (
        truth.join(
            F.broadcast(approx),
            (F.col("query_id") == F.col("a_query_id"))
            & (F.col("neighbor_id") == F.col("a_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            hits.cast("int").alias("n_hits"),
            F.round(hits / _TOP_K, 3).alias("recall"),
        )
    )


def _pq_corpus(spark, sf_dir, iters: int = 2):
    """(codebook, codes) PQ index, TRAINED FROM THE PARQUET INPUTS on
    every invocation (r9: the former stamped /tmp parquet + module memo
    let every search after the first — including fresh bench processes —
    load precomputed codes instead of training, which is result caching
    across runs; each search now pays its index build inside the timed
    region). In production an ANN index is an offline build-once
    artifact and the codebook trains on a sample, never the full corpus;
    the docstrings keep that scale story, the bench pays the honest
    cost. iters=0 is the anchor (unrefined) codebook pq_adc_search's
    oracle reconstructs. localCheckpoints are within-invocation only:
    the codebook feeds encode + every lookup-table branch, the codes
    feed shortlist + re-rank."""
    from bridgedownstream_spark.operators.pq import pq_index

    # scan-width floor before the subvector explode + assign folds: the
    # train/encode partial aggregates otherwise run at the scan's
    # single-row-group width (util.wide — cluster no-op)
    emb = wide(spark, tbl(spark, sf_dir, "embeddings"), sf_dir, "embeddings")
    # r10: codebook + codes share ONE materialized subvector explode
    # (pq_index) instead of train_pq/encode_pq each deriving it
    cb, codes = pq_index(emb, iters=iters)
    return cb.localCheckpoint(eager=False), codes.localCheckpoint(eager=False)


@q("pq_ann_shortlist", None)  # rows-only: iterative k-means training is
# not SQL-expressible; quality is pinned by tests/test_pq.py (measured
# 15/15 top-3 shortlist recall vs brute force at the test corpus)
def pq_ann_shortlist(spark, sf_dir):
    """Product-quantized ANN (operators/pq.py): deterministic per-subspace
    k-means codebook → 16 B/vector code table → ADC shortlist for the 5
    query vectors. The plan never shuffles or re-materializes the float
    corpus: codes join a broadcast (query × subspace × centroid) lookup
    table and one aggregation sums the partial dots. The codebook + code
    table are trained from the parquet inputs inside this invocation
    (_pq_corpus); in production the index is an offline train-once
    artifact, and the bench pays the honest per-run build cost."""
    from bridgedownstream_spark.operators.pq import pq_shortlist

    emb = tbl(spark, sf_dir, "embeddings")
    cb, codes = _pq_corpus(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    return pq_shortlist(queries, codes, cb, shortlist=10).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "approx_dot",
        F.col("rnk").cast("int").alias("rnk"),
    )


@q("pq_recall", None)  # rows-only: the PQ side embeds iterative k-means
# training (not SQL-expressible), so unlike ann_recall there is no DuckDB
# twin; the recall VALUES are additionally floor-asserted in tests/test_pq.py
def pq_recall(spark, sf_dir):
    """Recall of the PQ ADC shortlist against the exact brute-force top-k —
    the quality metric that decides whether 16 B/vector codes may replace
    the float corpus for first-pass retrieval (re-rank then restores exact
    order on the shortlist only).

    Same measurement shape as ann_recall: the ground truth is queries × k
    rows (tiny → broadcast); the PQ shortlist comes from the cached
    per-corpus index, so repeated recall audits cost one ADC search, not a
    retrain. The shortlist is measured at production depth (50 — a
    shortlist exists to be re-ranked, so it must be ≫ k; recall@k of the
    10-deep display query would conflate quantization error with
    truncation)."""
    from bridgedownstream_spark.operators.pq import pq_shortlist

    truth = QUERIES["ann_topk_cosine"][0](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    emb = tbl(spark, sf_dir, "embeddings")
    cb, codes = _pq_corpus(spark, sf_dir)
    approx = pq_shortlist(
        emb.where(F.col("vec_id") < _N_QUERIES), codes, cb, shortlist=50
    ).select(
        F.col("query_id").alias("a_query_id"),
        F.col("vec_id").alias("a_neighbor_id"),
    )
    hits = F.count("a_neighbor_id")
    # build-side hint, same rationale as ann_recall: left-outer can only
    # broadcast the right side; the PQ shortlist is sample-sized
    return (
        truth.join(
            F.broadcast(approx),
            (F.col("query_id") == F.col("a_query_id"))
            & (F.col("neighbor_id") == F.col("a_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            hits.cast("int").alias("n_hits"),
            F.round(hits / _TOP_K, 3).alias("recall"),
        )
        .orderBy("query_id")
    )


#: oracle twin of the PQ search machinery (pq_adc_search): the anchor
#: codebook (train_pq(iters=0) = every 31st vector's subvectors) is
#: closed-form, so encode (argmin over 16 centroids per subspace) and ADC
#: (decimal-exact partial-dot sums + shortlist rank) are fully
#: SQL-expressible. Distances/partials use the sequential-sum form
#: (_DOT_DUCK pattern) so doubles match Spark's fold bit-for-bit.
_PQ_ADC_DUCK = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
    ),
    p AS (SELECT len(emb) // 16 AS sl FROM e LIMIT 1),
    sv AS (
      SELECT vec_id, s.sub,
             emb[s.sub * p.sl + 1 : s.sub * p.sl + p.sl] AS subvec
      FROM e, p, (SELECT unnest(generate_series(0, 15)) AS sub) s
    ),
    cb AS (
      SELECT sub, CAST(vec_id // 31 AS INT) AS cent_id, subvec AS c_vec
      FROM sv WHERE vec_id % 31 = 0 AND vec_id < 496
    ),
    dist AS (
      SELECT sv.vec_id, sv.sub, cb.cent_id,
             round(list_sum(list_transform(generate_series(1, len(sv.subvec)),
                   i -> (sv.subvec[i] - cb.c_vec[i])
                        * (sv.subvec[i] - cb.c_vec[i]))), 9) AS d
      FROM sv JOIN cb USING (sub)
    ),
    codes AS (
      SELECT vec_id, sub, cent_id AS code FROM (
        SELECT vec_id, sub, cent_id,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d, cent_id) AS rn
        FROM dist) WHERE rn = 1
    ),
    qtab AS (
      SELECT q.vec_id AS query_id, q.sub, cb.cent_id AS code,
             CAST(round(list_sum(list_transform(
                      generate_series(1, len(q.subvec)),
                      i -> q.subvec[i] * cb.c_vec[i])), 6)
                  AS DECIMAL(18,6)) AS partial
      FROM sv q JOIN cb USING (sub) WHERE q.vec_id < {_N_QUERIES}
    ),
    adc AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             CAST(sum(partial) AS DOUBLE) AS approx_dot
      FROM codes c JOIN qtab ON c.sub = qtab.sub AND c.code = qtab.code
      WHERE c.vec_id <> qtab.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_dot, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_dot DESC, neighbor_id) AS rnk
      FROM adc) WHERE rnk <= 10
"""


@q("pq_adc_search", _PQ_ADC_DUCK)
def pq_adc_search(spark, sf_dir):
    """PQ search with a FULL rows+schema+hash oracle — the driver-checkable
    certification of the PQ family (VERDICT r3 #5).

    The SQL-inexpressible part of PQ is only the Lloyd refinement;
    everything downstream — subspace split, nearest-centroid encode, ADC
    partial-dot lookup, decimal-exact merge, shortlist rank — is the same
    whether the codebook was refined or not. So this query runs the REAL
    operators (operators/pq.py train_pq/encode_pq/pq_shortlist) with
    ``iters=0``: the codebook is the deterministic anchor set (every 31st
    vector's subvectors), which DuckDB can reconstruct exactly, making the
    whole search path hash-checkable. Refinement quality remains pinned by
    pq_recall's pytest floor (tests/test_pq.py)."""
    from bridgedownstream_spark.operators.pq import pq_shortlist

    emb = tbl(spark, sf_dir, "embeddings")
    cb, codes = _pq_corpus(spark, sf_dir, iters=0)
    qs = emb.where(F.col("vec_id") < _N_QUERIES)
    return pq_shortlist(qs, codes, cb, shortlist=10).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "approx_dot",
        F.col("rnk").cast("int").alias("rnk"),
    )


_COMP_CTE_DUCK = (
    _PAIRS_CTE_DUCK.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + ", edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs"
    "             UNION ALL SELECT doc_b, doc_a FROM pairs)"
    ", reach AS (SELECT a AS src, b AS dst FROM edges"
    "            UNION"
    "            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)"
    ", comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component"
    "           FROM reach GROUP BY src)"
)


@q(
    "near_dup_keep_best",
    _COMP_CTE_DUCK + """
    , qual AS (
      SELECT doc_id,
             len(list_distinct(string_split(trim(
                 regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS uq
      FROM documents
    )
    SELECT c.doc_id, c.component, CAST(q.uq AS INT) AS uq,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY q.uq DESC, c.doc_id) = 1 AS keep
    FROM comp c JOIN qual q ON c.doc_id = q.doc_id
    ORDER BY c.doc_id
    """,
)
def near_dup_keep_best(spark, sf_dir):
    """Quality-aware near-dup resolution: the full dedup stack composed —
    MinHash-LSH pairs → connected-components clusters → keep the HIGHEST-
    QUALITY member of each cluster (most distinct tokens; ties to the
    lowest doc_id) instead of the arbitrary lowest-id representative that
    `near_dup_components` elects. This is what production dedup actually
    ships: when a boilerplate family collapses, you keep the richest copy.

    Scale shape: inherits the LSH candidate table (offline per-corpus
    artifact) and the O(diameter) component loop; the quality metric is a
    row-local projection joined on doc_id, and the election is one window
    over each cluster (clusters are small by construction — a giant
    cluster means the Jaccard threshold, not the plan, is wrong).
    """
    from bridgedownstream_spark.operators.components import connected_components

    pairs = QUERIES["near_dup_lsh_pairs"][0](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    from pyspark.sql import Window as W

    # Corpus-wide uq + UNFORCED narrow join — deliberately NOT the
    # "tokenize only cluster members via F.broadcast(comp) join-first"
    # form, which was tried (r9) and REVERTED: isolated 100x runs
    # measured the two forms EQUAL (17.6 s vs 18.0 s, clean probes), and
    # the tried form force-broadcasts a corpus-PROPORTIONAL table — in a
    # high-dup corpus (every doc clustered: the 100x copy replica, or
    # any real crawl snapshot) "cluster members" IS the corpus, which is
    # the data-proportional-broadcast anti-pattern the band sweep OOM'd
    # on in r8. The corpus-linear tokenize with a narrow (doc_id, uq)
    # join is the scale-robust shape at any dup rate. Same normalization
    # as the LSH shingles (_WORDS_SPARK): quality must be measured over
    # the tokenization the pairing actually used.
    d = tbl(spark, sf_dir, "documents")
    qual = d.select(
        "doc_id", F.expr(f"size(array_distinct({_WORDS_SPARK}))").alias("uq")
    )
    w = W.partitionBy("component").orderBy(F.desc("uq"), F.asc("doc_id"))
    return (
        comp.join(qual, "doc_id")
        .select(
            "doc_id",
            "component",
            F.col("uq").cast("int").alias("uq"),
            (F.row_number().over(w) == 1).alias("keep"),
        )
        .orderBy("doc_id")
    )


@q(
    "dedup_graph_triangles",
    _PAIRS_CTE_DUCK + """
    , e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
        ON e3.a = e1.a AND e3.b = e2.b
    ),
    deg AS (
      SELECT count(*) AS n_edges, count(DISTINCT v) AS n_nodes
      FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
    )
    SELECT CAST(n_nodes AS INT) AS n_nodes,
           CAST(n_edges / 2 AS INT) AS n_edges,
           CAST(n_triangles AS INT) AS n_triangles
    FROM deg, tri
    """,
)
def dedup_graph_triangles(spark, sf_dir):
    """Structural QC of the near-dup graph: node/edge/triangle counts.
    Triangle density distinguishes tight duplicate CLIQUES (every copy
    matches every copy — safe to collapse) from fragile CHAINS (a≈b≈c
    but a≉c — collapsing may over-merge), which is the standard sanity
    metric before trusting transitive-closure dedup.

    Triangle counting uses the oriented-edge join: edges stored a<b only,
    so each triangle is counted exactly once as a<b<c and the join
    fan-out is bounded by out-degree under the total order (the classic
    distributed-triangle trick — no node ever joins its full undirected
    neighborhood). Output is one row of exact integers.
    """
    # checkpoint the edge list: it feeds FIVE plan consumers (three
    # triangle aliases + both degree unions), and without materialization
    # each re-runs the whole MinHash-LSH candidate pipeline (46 parquet
    # scans in the un-checkpointed plan, ~5x the band join). The edge
    # list is pair-sized — duplicate-graph edges, not corpus rows.
    pairs = (
        QUERIES["near_dup_lsh_pairs"][0](spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col("a").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("v")))
        .agg(F.count("*").alias("n_edges2"), F.countDistinct("v").alias("n_nodes"))
    )
    return deg.crossJoin(F.broadcast(tri)).select(
        F.col("n_nodes").cast("int").alias("n_nodes"),
        (F.col("n_edges2") / 2).cast("int").alias("n_edges"),
        F.col("n_triangles").cast("int").alias("n_triangles"),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join — prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------

#: exact-Jaccard threshold 0.8 as a ratio (integer cross-multiplication
#: keeps the filter bit-exact across engines)
_JPJ_NUM, _JPJ_DEN = 4, 5

_JPJ_SQL = f"""
    WITH t AS (SELECT doc_id, {_WORDS_DUCK} AS words FROM documents),
    shr AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM t),
    e AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shr),
    sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, inter,
           sa.n + sb.n - inter AS uni,
           (10000 * inter) // (sa.n + sb.n - inter) AS jac_bp
    FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE {_JPJ_DEN} * inter >= {_JPJ_NUM} * (sa.n + sb.n - inter)
"""


@q("jaccard_prefix_join", _JPJ_SQL)
def jaccard_prefix_join(spark, sf_dir):
    """EXACT Jaccard >= 0.8 similarity self-join over word-3-gram shingle
    SETS via prefix filtering (PPJoin's candidate rule) — the exact
    counterpart of the approximate MinHash (`near_dup_lsh_pairs`) and KMV
    (`portable_kmv_jaccard`) paths, certified against a brute-force
    all-shared-shingle DuckDB oracle.

    Candidate rule: order each doc's shingles by global rarity
    (document-frequency asc, shingle asc — a total order), keep only the
    first ``n - ceil(tau*n) + 1`` (the PREFIX); any pair with
    J >= tau must share a prefix shingle, so the equi-join on prefix
    shingles loses no true pair while skipping every pair whose only
    overlap is frequent shingles.

    Plan/scale: the rarity-ranked posting list (`_rarity_ranked`) costs
    two posting-list shuffles; the candidate join touches only prefix
    rows (rarity-first ordering makes per-shingle fan-out df_prefix^2
    with SMALL df by construction — frequent shingles never enter a
    prefix unless a doc is nearly all stopword-shingles). Verification
    re-shingles ONLY candidate docs (broadcast semi-join on the
    candidate id set) and intersects the two arrays per pair — never
    corpus x corpus. The brute-force oracle is the quadratic plan this
    query exists to avoid; it stays DuckDB-side at oracle scale only.
    """
    # Materialize the shingle ARRAYS once, spread across the cluster:
    # documents parquet arrives as few (locally: one) splits, and
    # Catalyst's projection collapse would otherwise re-evaluate the
    # split→transform shingle chain per downstream consumer (measured
    # 10-14 s of the original 20 s at sf0.1; 0.4 s materialized). At
    # 100 TB size the repartition by bytes instead of defaultParallelism.
    par = spark.sparkContext.defaultParallelism
    sh = (
        _shingled(spark, sf_dir)
        .repartition(par, "doc_id")
        .localCheckpoint(eager=False)
    )
    prefix = _rarity_ranked(sh).where(
        F.col("rn")
        <= F.col("n")
        - F.expr(f"({_JPJ_NUM} * n + {_JPJ_NUM}) div {_JPJ_DEN}")
        + 1
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    # PPJoin's two lossless candidate cuts on top of the prefix match:
    # LENGTH (J>=tau forces min(n) >= tau*max(n)) and POSITIONAL (common
    # tokens are confined to {match} + the suffixes after the match
    # positions, so 1 + min(n-rn) bounds the overlap, which must reach
    # alpha = ceil(tau/(1+tau)*(na+nb)) = ceil(4*(na+nb)/9))
    cand = (
        pa.join(
            pb,
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (F.lit(5) * F.col("pa.n") >= F.lit(4) * F.col("pb.n"))
            & (F.lit(5) * F.col("pb.n") >= F.lit(4) * F.col("pa.n"))
            & (
                F.lit(9)
                * (
                    F.lit(1)
                    + F.least(
                        F.col("pa.n") - F.col("pa.rn"),
                        F.col("pb.n") - F.col("pb.rn"),
                    )
                )
                >= F.lit(4) * (F.col("pa.n") + F.col("pb.n"))
            ),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
        # candidate pairs are tiny (post-filter: ~13k at sf0.1, 9x below
        # the prefix-only candidate set); checkpoint so the broadcast
        # build and the id-set derivation share one computation
        .localCheckpoint(eager=False)
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shd = _shingled_for(spark, sf_dir, cand_ids).select(
        "doc_id", F.array_distinct("sh").alias("sh")
    )
    sa, sb = shd.alias("sa"), shd.alias("sb")
    inter = F.size(F.array_intersect("sa.sh", "sb.sh")).cast("long")
    uni = F.size(F.array_union("sa.sh", "sb.sh")).cast("long")
    return (
        F.broadcast(cand)
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", inter.alias("inter"), uni.alias("uni"))
        .where(
            F.lit(_JPJ_DEN) * F.col("inter")
            >= F.lit(_JPJ_NUM) * F.col("uni")
        )
        .withColumn("jac_bp", F.expr("(10000 * inter) div uni"))
    )


# ---------------------------------------------------------------------------
# Exact containment join — directed prefix filtering
# ---------------------------------------------------------------------------

#: exact containment threshold 0.9 = |A∩B| / |A| as a ratio (integer
#: cross-multiplication keeps every filter bit-exact across engines)
_CPJ_NUM, _CPJ_DEN = 9, 10

_CPJ_SQL = f"""
    WITH t AS (SELECT doc_id, {_WORDS_DUCK} AS words FROM documents),
    shr AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM t),
    e AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shr),
    sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM e a JOIN e b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, inter, sa.n AS n_a,
           (10000 * inter) // sa.n AS cont_bp
    FROM p JOIN sz sa ON sa.doc_id = doc_a
    WHERE {_CPJ_DEN} * inter >= {_CPJ_NUM} * sa.n
"""


@q("containment_prefix_join", _CPJ_SQL)
def containment_prefix_join(spark, sf_dir):
    """EXACT directed containment join (|A∩B| / |A| >= 0.9) over word-
    3-gram shingle sets — the ASYMMETRIC sibling of `jaccard_prefix_join`
    for the "doc A is a near-subset of doc B" relation (boilerplate
    inclusion, quote-of / expanded-revision detection), where Jaccard
    goes blind as |B| grows. Certified against the brute-force
    all-shared-shingle DuckDB oracle.

    Candidate rule (directed prefix filter): with overlap target
    t = ceil(0.9·na), A must match inside its na−t+1 RAREST shingles
    (global rarity order, df asc then shingle — a total order), while the
    B side indexes its shingles (containment imposes no upper length
    bound on B — the structural difference from the symmetric join). Two
    lossless cuts prune the candidate space: SIZE (inter <= nb, so
    10·nb >= 9·na) and POSITIONAL (overlap <= 1 + min(na−rna, nb−rnb)
    must reach t, with both ranks in the SAME global order).

    Posting-list scale note (measured, 100x corpus = 500k docs / 26M
    posting rows): the pre-r6 16x-at-100x cost was NOT the B-side
    posting-list join — candidate generation over the full B list is
    ~1 s there (834k pairs) — but the rarity-index BUILD, whose naive
    5-shuffle chain was 103 s of the 115 s total; `_rarity_ranked`'s
    2-shuffle form removes it. Two capping alternatives were measured
    and REJECTED: (a) banding the B list by floor(log2(na)) with the
    lossless rarest-shared-token cut (extra band pass + ~2.5x B-side
    shuffle volume outweighed the join-product saving: 6.7 s -> 11.0 s
    at sf0.1, 116 s -> 166 s at 100x); (b) replacing rarity with a
    zero-shuffle hash order (candidates exploded 362x). If a future
    corpus's shingle df actually grows with corpus size (this one's is
    salted per copy), banding is the lossless lever to revisit —
    predicate: 10*(nb - rnb + 1) >= 9*2^band, join key (s, band).

    Plan/scale: A-side join input shrinks to prefix rows (rarity-first,
    so per-shingle fan-out is df_prefix · df with small df_prefix); the
    B side stays the full posting list — the documented asymmetric cost
    of containment. Verification re-shingles ONLY candidate docs and
    intersects arrays per pair; never corpus × corpus."""
    par = spark.sparkContext.defaultParallelism
    sh = (
        _shingled(spark, sf_dir)
        .repartition(par, "doc_id")
        .localCheckpoint(eager=False)
    )
    ranked = _rarity_ranked(sh).localCheckpoint(eager=False)
    # t = ceil(0.9*n) in integers; A-prefix keeps rn <= n - t + 1
    t_of = "(({num} * {n} + {den} - 1) div {den})"
    ta = t_of.format(num=_CPJ_NUM, den=_CPJ_DEN, n="pa.n")
    prefix_a = ranked.where(
        F.col("rn")
        <= F.col("n")
        - F.expr(t_of.format(num=_CPJ_NUM, den=_CPJ_DEN, n="n"))
        + 1
    )
    # shuffle-hash, not broadcast: prefix_a is a FILTER over the
    # checkpointed posting list, so Catalyst's selectivity estimate is a
    # guess — at 100x it guessed broadcastable for a 2.9M-row build side
    # and OOM'd the driver; posting-list joins partition by shingle.
    pa = prefix_a.hint("shuffle_hash").alias("pa")
    pb = ranked.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.doc_id") != F.col("pb.doc_id"))
            # SIZE cut: inter <= nb must reach t <= na*9/10
            & (
                F.lit(_CPJ_DEN) * F.col("pb.n")
                >= F.lit(_CPJ_NUM) * F.col("pa.n")
            )
            # POSITIONAL cut: 1 + min(suffix_a, suffix_b) >= t
            & (
                F.lit(1)
                + F.least(
                    F.col("pa.n") - F.col("pa.rn"),
                    F.col("pb.n") - F.col("pb.rn"),
                )
                >= F.expr(ta)
            ),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shd = _shingled_for(spark, sf_dir, cand_ids).select(
        "doc_id", F.array_distinct("sh").alias("sh")
    )
    sa, sb = shd.alias("sa"), shd.alias("sb")
    inter = F.size(F.array_intersect("sa.sh", "sb.sh")).cast("long")
    return (
        F.broadcast(cand)
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            F.size("sa.sh").cast("long").alias("n_a"),
        )
        .where(
            F.lit(_CPJ_DEN) * F.col("inter")
            >= F.lit(_CPJ_NUM) * F.col("n_a")
        )
        .withColumn("cont_bp", F.expr("(10000 * inter) div n_a"))
    )


#: oracle twin of the IVF-PQ residual search: BOTH quantizers use
#: closed-form anchors (coarse: every 59th vector, 8 cells; PQ: every
#: 31st vector's RESIDUAL subvectors), so coarse assignment, residual
#: computation, residual-PQ encode, per-probed-cell query residuals, ADC
#: partial dots, and the shortlist rank are all SQL-expressible. Folds
#: and rounding mirror _PQ_ADC_DUCK exactly.
_IVFPQ_DUCK = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
    ),
    coarse AS (
      SELECT CAST(vec_id // 59 AS INT) AS cell_id, emb AS c_vec
      FROM e WHERE vec_id % 59 = 0 AND vec_id < 472
    ),
    cdist AS (
      SELECT e.vec_id, c.cell_id,
             round(list_sum(list_transform(generate_series(1, len(e.emb)),
                   i -> (e.emb[i] - c.c_vec[i])
                        * (e.emb[i] - c.c_vec[i]))), 9) AS d,
             list_transform(generate_series(1, len(e.emb)),
                   i -> e.emb[i] - c.c_vec[i]) AS resid
      FROM e, coarse c
    ),
    assign AS (
      SELECT vec_id, cell_id, resid FROM (
        SELECT vec_id, cell_id, resid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cell_id) AS rn
        FROM cdist) WHERE rn = 1
    ),
    -- subvector length: dim 64 / m 16 = 4 (a LIMIT-1 derived CTE here
    -- trips DuckDB 1.0 CTE inlining into inconsistent results; the Spark
    -- side computes size(emb) div m dynamically)
    rsv AS (
      SELECT vec_id, s.sub,
             resid[s.sub * 4 + 1 : s.sub * 4 + 4] AS subvec
      FROM assign, (SELECT unnest(generate_series(0, 15)) AS sub) s
    ),
    pqcb AS (
      SELECT sub, CAST(vec_id // 31 AS INT) AS cent_id, subvec AS c_vec
      FROM rsv WHERE vec_id % 31 = 0 AND vec_id < 496
    ),
    rdist AS (
      SELECT rsv.vec_id, rsv.sub, pqcb.cent_id,
             round(list_sum(list_transform(
                   generate_series(1, len(rsv.subvec)),
                   i -> (rsv.subvec[i] - pqcb.c_vec[i])
                        * (rsv.subvec[i] - pqcb.c_vec[i]))), 9) AS d
      FROM rsv JOIN pqcb USING (sub)
    ),
    codes AS (
      SELECT r.vec_id, a.cell_id, r.sub, r.cent_id AS code
      FROM (SELECT vec_id, sub, cent_id,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, cent_id) AS rn
            FROM rdist) r
      JOIN assign a ON r.vec_id = a.vec_id
      WHERE r.rn = 1
    ),
    qcells AS (
      SELECT vec_id AS query_id, cell_id, resid FROM (
        SELECT vec_id, cell_id, resid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cell_id) AS rn
        FROM cdist WHERE vec_id < {_N_QUERIES}) WHERE rn <= 2
    ),
    qsv AS (
      SELECT query_id, cell_id, s.sub,
             resid[s.sub * 4 + 1 : s.sub * 4 + 4] AS subvec
      FROM qcells, (SELECT unnest(generate_series(0, 15)) AS sub) s
    ),
    qtab AS (
      SELECT q.query_id, q.cell_id, q.sub, pqcb.cent_id AS code,
             CAST(round(list_sum(list_transform(
                      generate_series(1, len(q.subvec)),
                      i -> (q.subvec[i] - pqcb.c_vec[i])
                           * (q.subvec[i] - pqcb.c_vec[i]))), 6)
                  AS DECIMAL(18,6)) AS partial
      FROM qsv q JOIN pqcb USING (sub)
    ),
    adc AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             CAST(sum(partial) AS DOUBLE) AS approx_dist
      FROM codes c
      JOIN qtab ON c.cell_id = qtab.cell_id AND c.sub = qtab.sub
               AND c.code = qtab.code
      WHERE c.vec_id <> qtab.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_dist, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_dist ASC,
                                            neighbor_id) AS rnk
      FROM adc) WHERE rnk <= 10
"""

def _ivfpq_corpus(spark, sf_dir, iters: int = 0):
    """(coarse, codebook, codes) IVF-PQ index, built from the parquet
    inputs on every invocation (r9: de-cached — see _pq_corpus). The
    localCheckpoints cover within-invocation reuse across the coarse
    probe, residual lookup-table, and code-join branches."""
    from bridgedownstream_spark.operators.pq import ivfpq_index

    # scan-width floor (see _pq_corpus): coarse assign + residual PQ
    # train/encode are row-local-heavy map stages
    emb = wide(spark, tbl(spark, sf_dir, "embeddings"), sf_dir, "embeddings")
    coarse, cb, codes = ivfpq_index(emb, iters=iters)
    return tuple(
        df.localCheckpoint(eager=False) for df in (coarse, cb, codes)
    )


@q("ivfpq_residual_search", _IVFPQ_DUCK)
def ivfpq_residual_search(spark, sf_dir):
    """IVF-PQ residual search — the FAISS-style composition that closes
    the ANN stack: a coarse quantizer routes each vector to 1 of 8 cells,
    PQ encodes the RESIDUAL (vector − cell centroid) into 16 subspace
    bytes, and search probes the query's 2 nearest cells with a
    cell-relative ADC table. Residual encoding is why this layout wins at
    scale: residual norms are a fraction of vector norms, so the same
    16 bytes quantize a far smaller space than raw-vector PQ
    (pq_adc_search), while cell probing bounds search cost by
    probes/cells of the corpus instead of the corpus.

    Like pq_adc_search, the oracle-checkable variant uses iters=0 anchor
    codebooks (closed-form for BOTH quantizers), making the entire
    pipeline — coarse assign, residuals, residual-PQ encode,
    per-probed-cell query residuals, decimal-exact ADC, shortlist rank —
    a full rows+schema+hash certification. The index is built from the
    parquet inputs inside this invocation (offline train-once in
    production); after encoding, search never re-touches float
    vectors. 100 TB: corpus codes are 17 B/vector and never shuffle; the
    (queries × probes × m × k) lookup table broadcasts; only the probed
    cells' codes survive the join."""
    from bridgedownstream_spark.operators.pq import ivfpq_shortlist

    emb = tbl(spark, sf_dir, "embeddings")
    coarse, cb, codes = _ivfpq_corpus(spark, sf_dir, iters=0)
    qs = emb.where(F.col("vec_id") < _N_QUERIES)
    return ivfpq_shortlist(qs, coarse, cb, codes, probes=2, shortlist=10).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "approx_dist",
        F.col("rnk").cast("int").alias("rnk"),
    )


# -- SemDeDup: cluster-then-prune semantic dedup ------------------------------

#: cosine threshold above which two same-cell members are semantic
#: duplicates (tuned to the synthetic corpus like embedding_near_dup's 0.4;
#: within-cell pairs are MORE similar than random, so the same floor prunes
#: a visible fraction without collapsing whole cells).
_SEMDEDUP_TAU = 0.4

#: CTE block (cent → assign → ranked → pruned) appended after
#: _EMB_CTE_DUCK — shared by the semdedup oracle and the dedup-agreement
#: audit, which splices it behind the MinHash pair CTEs.
_SEMDEDUP_CTES_DUCK = f"""
    , params AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS stride FROM n),
    -- corpus-BALANCED quantizer: stride = ceil(sqrt(n)) gives
    -- cells ~ sqrt(n) and cell size ~ sqrt(n), so assignment (n x cells
    -- dots) and pair volume (sum cell^2 = n^2/cells) are BOTH
    -- Theta(n^1.5) — the flat-IVF balance point (cells ∝ n would make
    -- assignment quadratic; a fixed cell count makes pairs quadratic)
    cent AS (SELECT vec_id AS cent_id, emb AS c_emb, nrm AS c_nrm
             FROM n, params WHERE vec_id % stride = 0),
    assign AS (
        SELECT vec_id, emb, nrm, cent_id, ccos FROM (
            SELECT v.vec_id, v.emb, v.nrm, c.cent_id,
                   round({_DOT_DUCK.format(a='v.emb', b='c.c_emb')} / (v.nrm * c.c_nrm), 6) AS ccos,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({_DOT_DUCK.format(a='v.emb', b='c.c_emb')} / (v.nrm * c.c_nrm), 6) DESC,
                                c.cent_id
                   ) AS rc
            FROM n v CROSS JOIN cent c
        ) WHERE rc = 1
    ),
    ranked AS (
        SELECT vec_id, emb, nrm, cent_id, ccos,
               row_number() OVER (
                   PARTITION BY cent_id ORDER BY ccos DESC, vec_id) AS rnk
        FROM assign
    ),
    pruned AS (
        SELECT DISTINCT b.vec_id
        FROM ranked a JOIN ranked b
          ON a.cent_id = b.cent_id AND a.rnk < b.rnk
        WHERE round({_DOT_DUCK.format(a='a.emb', b='b.emb')} / (a.nrm * b.nrm), 4)
              >= {_SEMDEDUP_TAU}
    )"""

_SEMDEDUP_DUCK = _EMB_CTE_DUCK + _SEMDEDUP_CTES_DUCK + """
    SELECT r.vec_id, r.cent_id AS cell, CAST(r.rnk AS INT) AS typicality_rank,
           p.vec_id IS NULL AS kept
    FROM ranked r LEFT JOIN pruned p ON r.vec_id = p.vec_id
    """


def _sem_ranked(spark, sf_dir):
    """SemDeDup's typicality-ranked cell assignment (vec_id, emb, nrm,
    cell, rnk) — shared by semdedup_prune and contrastive_pairs.

    Own centroid rule (NOT _ivf_cent): the IVF family's 8-cell cap is a
    baked oracle constant there; SemDeDup's quantizer must BALANCE with
    the corpus — stride = ceil(sqrt(n)), so cells ~ sqrt(n) and
    assignment and pair volume are both Theta(n^1.5) (see oracle CTE).
    The stride rides a broadcast 1-row aggregate, never a driver count.
    The ranked frame feeds multiple consumers (both sides of the pair
    join + the kept-marker join); it localCheckpoints so assignment +
    both windows run ONCE (the copurchase_lift order-pair pattern)."""
    from pyspark.sql import Window as W

    e = _emb_norms(spark, sf_dir)
    stride = F.broadcast(
        e.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).cast("bigint").alias("stride"))
    )
    # r10: ROW-LOCAL argmax (same rewrite as _ivf_assign / kmeans) — the
    # ~sqrt(n) centroids collect into ONE broadcast array row and each
    # vector folds its own candidate structs via array_max. Identical
    # winner (struct order ccos desc then smallest cent_id via the
    # negation, same round(...,6) values); the assignment is a pure
    # projection — the former groupBy(vec_id) exchange carried one
    # (ccos, neg_cent, emb[64], nrm) struct per vector, and the
    # crossJoin materialized ~sqrt(n) embedding-wide copies of every
    # row first. Cell balance is unchanged, so the Theta(n^1.5) pair
    # bound in the docstring still holds; the only exchange left before
    # the rank window is the window's own (cell) clustering.
    cents_row = F.broadcast(
        e.crossJoin(stride)
        .where(F.col("vec_id") % F.col("stride") == 0)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("emb").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
        .agg(
            F.expr(
                "array_sort(collect_list(struct(cent_id, c_emb, c_nrm)))"
            ).alias("cents")
        )
    )
    ccos_c = (
        f"round({DOT_SPARK.format(a='emb', b='c.c_emb')}"
        " / (nrm * c.c_nrm), 6)"
    )
    assign = (
        e.crossJoin(cents_row)
        .select(
            "vec_id",
            "emb",
            "nrm",
            F.expr(
                "array_max(transform(cents, c -> "
                f"struct({ccos_c} AS ccos, -c.cent_id AS neg_cent)))"
            ).alias("best"),
        )
        .select(
            "vec_id",
            "emb",
            "nrm",
            (-F.col("best.neg_cent")).alias("cell"),
            F.col("best.ccos").alias("ccos"),
        )
    )
    wr = W.partitionBy("cell").orderBy(F.col("ccos").desc(), "vec_id")
    return (
        assign.withColumn("rnk", F.row_number().over(wr))
        .select("vec_id", "emb", "nrm", "cell", "rnk")
        .localCheckpoint(eager=False)
    )


@q("semdedup_prune", _SEMDEDUP_DUCK)
def semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus with a coarse quantizer, then WITHIN each cluster
    prune every member that is >= tau cosine-similar to a more
    cluster-typical member (typicality = cosine to the member's own
    centroid; ties break on vec_id). Output is the per-vector dedup
    decision: (vec_id, cell, typicality_rank, kept).

    This composes the repo's existing primitives into the published
    algorithm's shape: the centroid table broadcasts (Theta(cells)),
    assignment is one corpus pass, and the pair scoring is an equi-join on
    cell id — never all-pairs. The cell count is SIZED FROM THE CORPUS
    (r8, the r7 verdict's fixed-cell risk): cells ~ sqrt(n) via
    stride = ceil(sqrt(n)), the flat-IVF balance point — assignment
    (n x cells coarse dots) and pair volume (sum cell^2 = n^2/cells) are
    BOTH Theta(n^1.5); cells ∝ n would turn assignment quadratic, a fixed
    cell count turns pairs quadratic. The stride derives from a broadcast
    1-row count aggregate on both engines, the same structural discipline
    as the graph family's _edge_parts. At 100 TB the centroids come from
    a trained quantizer (kmeans_refine_centroids) rather than the modulus
    rule, and each cell's pair block is independent — embarrassingly
    parallel after one shuffle on cell id.

    Oracle parity: distances round to 6 and pair cosines to 4 before any
    comparison (the ann_* discipline), so the keep/prune bit is identical
    across engines; both sides elect prunes via a same-cell rank-ordered
    self-join + left-join marker (DuckDB cannot correlate an outer row's
    list column into an EXISTS lambda, so the stated-rule form is the
    join)."""
    ranked = _sem_ranked(spark, sf_dir)
    a = ranked.select(
        F.col("cell"),
        F.col("rnk").alias("a_rnk"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = ranked.select(
        F.col("cell"),
        F.col("vec_id").alias("b_id"),
        F.col("rnk").alias("b_rnk"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    cos = F.round(
        F.expr(DOT_SPARK.format(a="a_emb", b="b_emb"))
        / (F.col("a_nrm") * F.col("b_nrm")),
        4,
    )
    pruned = (
        a.join(b, "cell")
        .where(F.col("a_rnk") < F.col("b_rnk"))
        .where(cos >= _SEMDEDUP_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("pruned", F.lit(True))
    )
    return ranked.join(pruned, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.col("rnk").cast("int").alias("typicality_rank"),
        F.col("pruned").isNull().alias("kept"),
    )


# -- Matryoshka truncated-dimension retrieval ---------------------------------

_MRL_DIMS = 32     # prefix dimensions used for the coarse ranking
_MRL_SHORTLIST = 10  # coarse candidates re-ranked with full vectors

_MRL_DUCK = _EMB_CTE_DUCK + f"""
    , t AS (SELECT vec_id, emb, nrm,
                   list_slice(emb, 1, {_MRL_DIMS}) AS temb,
                   sqrt(list_sum(list_transform(list_slice(emb, 1, {_MRL_DIMS}),
                                                x -> x * x))) AS tnrm
            FROM n),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) DESC,
                                c.vec_id
                   ) AS rnk
            FROM n q JOIN n c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
        ) WHERE rnk <= {_TOP_K}
    ),
    shortlist AS (
        SELECT query_id, neighbor_id, full_cos FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) AS full_cos,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DOT_DUCK.format(a='q.temb', b='c.temb')} / (q.tnrm * c.tnrm), 4) DESC,
                                c.vec_id
                   ) AS crnk
            FROM t q JOIN t c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
        ) WHERE crnk <= {_MRL_SHORTLIST}
    ),
    rerank AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY full_cos DESC, neighbor_id) AS rnk
            FROM shortlist
        ) WHERE rnk <= {_TOP_K}
    )
    SELECT bf.query_id,
           CAST(count(rr.neighbor_id) AS INT) AS n_hits,
           round(count(rr.neighbor_id) / {_TOP_K}.0, 3) AS recall
    FROM brute bf LEFT JOIN rerank rr
      ON bf.query_id = rr.query_id AND bf.neighbor_id = rr.neighbor_id
    GROUP BY bf.query_id
    """


@q("ann_matryoshka_recall", _MRL_DUCK)
def ann_matryoshka_recall(spark, sf_dir):
    """Matryoshka adaptive retrieval (Kusupati et al. 2022,
    arXiv:2205.13147) evaluated as recall@k: rank the corpus with only
    the first 32 of 64 dimensions (half the flops and half the bytes a
    prefix-column layout would read), keep a 10-deep shortlist, re-rank
    the SHORTLIST with full vectors, and score the top-3 against the
    full-dimension brute-force truth — the funnel every
    truncation-tolerant embedding deployment runs.

    Spark shape: the query side (5 vectors, both full and truncated)
    broadcasts; the coarse pass is one corpus scan of prefix dots; the
    full-precision re-rank touches only queries × shortlist rows; truth
    and funnel results are queries × k — the final recall join is
    broadcast. At 100 TB the prefix columns come from a separate parquet
    column (or the leading PQ subspaces), so the coarse scan reads half
    the bytes — here both live in one array column, which only
    understates the saving. Recall is whatever the corpus's truncation
    tolerance earns — these synthetic vectors are not MRL-trained, and
    the METRIC is what the oracle certifies, hash-exact either way."""
    from pyspark.sql import Window as W

    e = _emb_norms(spark, sf_dir).withColumn(
        "temb", F.expr(f"slice(emb, 1, {_MRL_DIMS})")
    ).withColumn(
        "tnrm",
        F.expr("sqrt(aggregate(temb, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"),
    )
    qs = F.broadcast(
        e.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("temb").alias("q_temb"),
            F.col("tnrm").alias("q_tnrm"),
        )
    )
    pairs = qs.crossJoin(e).where(F.col("vec_id") != F.col("query_id"))
    tcos = F.round(
        F.expr(DOT_SPARK.format(a="q_temb", b="temb"))
        / (F.col("q_tnrm") * F.col("tnrm")),
        4,
    )
    # coarse pass: prefix dots only; nothing but (ids, tcos) scalars
    # crosses the ranking shuffle — full vectors are NOT evaluated here
    wc = W.partitionBy("query_id").orderBy(F.col("tcos").desc(), "neighbor_id")
    shortlist = (
        pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), tcos.alias("tcos")
        )
        .withColumn("crnk", F.row_number().over(wc))
        .where(F.col("crnk") <= _MRL_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # full-precision re-rank: fetch vectors for the queries × shortlist
    # rows ONLY (the funnel's whole point) — the shortlist broadcasts
    # into the corpus scan, then the query side broadcasts again
    fcos = F.round(
        F.expr(DOT_SPARK.format(a="q_emb", b="emb"))
        / (F.col("q_nrm") * F.col("nrm")),
        4,
    )
    cand = F.broadcast(shortlist).join(
        e.select(F.col("vec_id").alias("neighbor_id"), "emb", "nrm"),
        "neighbor_id",
    )
    wf = W.partitionBy("query_id").orderBy(F.col("full_cos").desc(), "neighbor_id")
    rerank = (
        cand.join(
            qs.select("query_id", "q_emb", "q_nrm"), "query_id"
        )
        .select("query_id", "neighbor_id", fcos.alias("full_cos"))
        .withColumn("rnk", F.row_number().over(wf))
        .where(F.col("rnk") <= _TOP_K)
        .select(
            F.col("query_id").alias("a_query_id"),
            F.col("neighbor_id").alias("a_neighbor_id"),
        )
    )
    truth = QUERIES["ann_topk_cosine"][0](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    return (
        truth.join(
            F.broadcast(rerank),
            (F.col("query_id") == F.col("a_query_id"))
            & (F.col("neighbor_id") == F.col("a_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor_id").cast("int").alias("n_hits"),
            F.round(F.count("a_neighbor_id") / _TOP_K, 3).alias("recall"),
        )
    )


# -- Matryoshka recall curve --------------------------------------------------

_MRL_CURVE_DIMS = (8, 16, 32, 64)


def _mrl_curve_duck() -> str:
    """Oracle for the recall-vs-truncation curve: the funnel CTEs of
    ann_matryoshka_recall unrolled once per truncation dim, scored
    against ONE shared brute-force truth."""
    parts = [
        _EMB_CTE_DUCK,
        f""",
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) DESC,
                                c.vec_id
                   ) AS rnk
            FROM n q JOIN n c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
        ) WHERE rnk <= {_TOP_K}
    )""",
    ]
    selects = []
    for d in _MRL_CURVE_DIMS:
        parts.append(f""",
    t{d} AS (SELECT vec_id, emb, nrm,
                    list_slice(emb, 1, {d}) AS temb,
                    sqrt(list_sum(list_transform(list_slice(emb, 1, {d}),
                                                 x -> x * x))) AS tnrm
             FROM n),
    sl{d} AS (
        SELECT query_id, neighbor_id, full_cos FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({_DOT_DUCK.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 4) AS full_cos,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DOT_DUCK.format(a='q.temb', b='c.temb')} / (q.tnrm * c.tnrm), 4) DESC,
                                c.vec_id
                   ) AS crnk
            FROM t{d} q JOIN t{d} c
              ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
        ) WHERE crnk <= {_MRL_SHORTLIST}
    ),
    rr{d} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY full_cos DESC, neighbor_id) AS rnk
            FROM sl{d}
        ) WHERE rnk <= {_TOP_K}
    )""")
        selects.append(f"""
    SELECT CAST({d} AS INT) AS trunc_dim,
           CAST(count(rr.neighbor_id) AS INT) AS n_hits,
           round(count(rr.neighbor_id) / {_N_QUERIES * _TOP_K}.0, 3) AS recall
    FROM brute bf LEFT JOIN rr{d} rr
      ON bf.query_id = rr.query_id AND bf.neighbor_id = rr.neighbor_id""")
    return (
        "".join(parts)
        + " SELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY trunc_dim"
    )


@q("ann_matryoshka_curve", _mrl_curve_duck())
def ann_matryoshka_curve(spark, sf_dir):
    """Recall-vs-truncation curve for Matryoshka adaptive retrieval — the
    QC sweep a deployment runs before choosing its prefix dimension
    (Kusupati et al. 2022, arXiv:2205.13147 §4.3): the
    ann_matryoshka_recall funnel (truncated coarse rank → 10-deep
    shortlist → full-precision re-rank) evaluated at prefix dims 8, 16,
    32, 64 against ONE shared full-dimension brute truth, aggregated to
    corpus recall@3 per dim. dim=64 is the built-in sanity anchor: the
    coarse rank IS the full rank there, so recall is exactly 1.0.

    Plan shape per dim: identical to the certified single-dim funnel —
    only (ids, scalar cos) cross the ranking shuffle, full vectors are
    fetched for queries × shortlist rows only. The curve costs
    |dims| coarse scans; at 100 TB each coarse scan reads ONLY its
    prefix columns (dim-proportional bytes — the sweep's x-axis is also
    its cost axis), so the cheap points are genuinely cheap."""
    from pyspark.sql import Window as W

    e = _emb_norms(spark, sf_dir)
    qs = F.broadcast(
        e.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    pairs = qs.crossJoin(e).where(F.col("vec_id") != F.col("query_id"))
    fcos = F.round(
        F.expr(DOT_SPARK.format(a="q_emb", b="emb"))
        / (F.col("q_nrm") * F.col("nrm")),
        4,
    )
    wf = W.partitionBy("query_id").orderBy(F.col("full_cos").desc(), "neighbor_id")
    # one shared truth: queries × k rows, computed once. It sits on the
    # LEFT of each scoring left-join (preserved side — not hintable), so
    # the broadcast belongs to the rerank side below.
    # NOT checkpointed (measured r9): the truth table feeds all 4 dim
    # branches, but AQE already reuses its exchange across the union arms
    # — materializing it cost +0.3 s warm / +1.1 s build over the reuse
    brute = (
        pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), fcos.alias("full_cos")
        )
        .withColumn("rnk", F.row_number().over(wf))
        .where(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id")
    )
    denom = float(_N_QUERIES * _TOP_K)
    out = None
    for d in _MRL_CURVE_DIMS:
        ed = e.withColumn("temb", F.expr(f"slice(emb, 1, {d})")).withColumn(
            "tnrm",
            F.expr(
                "sqrt(aggregate(temb, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
            ),
        )
        qd = F.broadcast(
            ed.where(F.col("vec_id") < _N_QUERIES).select(
                F.col("vec_id").alias("query_id"),
                F.col("emb").alias("q_emb"),
                F.col("nrm").alias("q_nrm"),
                F.col("temb").alias("q_temb"),
                F.col("tnrm").alias("q_tnrm"),
            )
        )
        tcos = F.round(
            F.expr(DOT_SPARK.format(a="q_temb", b="temb"))
            / (F.col("q_tnrm") * F.col("tnrm")),
            4,
        )
        wc = W.partitionBy("query_id").orderBy(F.col("tcos").desc(), "neighbor_id")
        shortlist = (
            qd.crossJoin(ed)
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id", F.col("vec_id").alias("neighbor_id"), tcos.alias("tcos")
            )
            .withColumn("crnk", F.row_number().over(wc))
            .where(F.col("crnk") <= _MRL_SHORTLIST)
            .select("query_id", "neighbor_id")
        )
        cand = F.broadcast(shortlist).join(
            e.select(F.col("vec_id").alias("neighbor_id"), "emb", "nrm"),
            "neighbor_id",
        )
        rerank = (
            cand.join(qd.select("query_id", "q_emb", "q_nrm"), "query_id")
            .select("query_id", "neighbor_id", fcos.alias("full_cos"))
            .withColumn("rnk", F.row_number().over(wf))
            .where(F.col("rnk") <= _TOP_K)
            .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        )
        scored = (
            brute.join(F.broadcast(rerank), ["query_id", "neighbor_id"], "left")
            .groupBy()
            .agg(F.count("hit").cast("int").alias("n_hits"))
            .select(
                F.lit(d).cast("int").alias("trunc_dim"),
                "n_hits",
                F.round(F.col("n_hits").cast("double") / denom, 3).alias("recall"),
            )
        )
        out = scored if out is None else out.unionByName(scored)
    return out.orderBy("trunc_dim")


# -- dedup-stack agreement audit ----------------------------------------------

_AGREE_DUCK = (
    _PAIRS_CTE_DUCK
    + ", "
    + _EMB_CTE_DUCK[len("WITH ") :]
    + _SEMDEDUP_CTES_DUCK
    + """,
    text_flag AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b AS doc_id FROM pairs)),
    sem AS (
        SELECT r.vec_id, p.vec_id IS NOT NULL AS sem_pruned
        FROM ranked r LEFT JOIN pruned p ON r.vec_id = p.vec_id)
    SELECT tf.doc_id IS NOT NULL AS text_dup, s.sem_pruned,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM sem s LEFT JOIN text_flag tf ON tf.doc_id = s.vec_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """
)


@q("dedup_agreement_audit", _AGREE_DUCK)
def dedup_agreement_audit(spark, sf_dir):
    """MinHash-vs-SemDeDup agreement audit — the QC a curation pipeline
    runs before choosing thresholds when it has BOTH a lexical and a
    semantic dedup stack (VERDICT r7 #8): every embedded document gets
    its two verdicts — "appears in a verified MinHash-LSH near-dup pair
    (jaccard >= 0.5)" and "pruned by SemDeDup (>= tau cosine to a more
    typical same-cell member)" — and the output is the 2x2 agreement
    matrix (text_dup, sem_pruned, n_docs). Documents the two stacks
    DISAGREE on are exactly where threshold tuning matters: text-only
    flags are boilerplate/templating the embedder ignores, semantic-only
    flags are paraphrases lexical shingles miss.

    Reuses both certified pipelines verbatim (the LSH candidate cache
    and the cell-blocked SemDeDup join); the extra cost is one distinct
    over pair ids (tiny, broadcast) and a corpus-keyed left join. The
    oracle splices both certified CTE chains behind each other — CTE
    namespaces are disjoint by construction."""
    sem = QUERIES["semdedup_prune"][0](spark, sf_dir)
    # checkpoint the pair-sized edge list: both union branches slice it,
    # and unmaterialized each would re-run the whole MinHash-LSH
    # candidate pipeline (the dedup_graph_triangles fix, r9)
    pairs = (
        QUERIES["near_dup_lsh_pairs"][0](spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    text_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("text_flagged", F.lit(True))
    )
    return (
        sem.join(
            F.broadcast(text_ids),
            sem.vec_id == text_ids.doc_id,
            "left",
        )
        .groupBy(
            F.coalesce("text_flagged", F.lit(False)).alias("text_dup"),
            (~F.col("kept")).alias("sem_pruned"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("text_dup", "sem_pruned")
    )


# -- contrastive pair mining ----------------------------------------------------

_CONTRASTIVE_DUCK = (
    _EMB_CTE_DUCK
    + _SEMDEDUP_CTES_DUCK
    + f""",
    cpair AS (
        SELECT a.vec_id AS anchor_id, b.vec_id AS cand,
               a.rnk AS ar, b.rnk AS br,
               round({_DOT_DUCK.format(a='a.emb', b='b.emb')} / (a.nrm * b.nrm), 4) AS cos
        FROM ranked a JOIN ranked b
          ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
    pos AS (
        SELECT anchor_id, cand AS positive_id, cos AS pos_cos,
               row_number() OVER (
                   PARTITION BY anchor_id ORDER BY cos DESC, cand) AS rn
        FROM cpair WHERE cos >= {_SEMDEDUP_TAU} AND br < ar),
    neg AS (
        SELECT anchor_id, cand AS negative_id, cos AS neg_cos,
               row_number() OVER (
                   PARTITION BY anchor_id ORDER BY cos DESC, cand) AS rn
        FROM cpair WHERE cos < {_SEMDEDUP_TAU})
    SELECT p.anchor_id, p.positive_id, p.pos_cos, n.negative_id, n.neg_cos
    FROM pos p JOIN neg n USING (anchor_id)
    WHERE p.rn = 1 AND n.rn = 1
    ORDER BY p.anchor_id
    """
)


@q("contrastive_pairs", _CONTRASTIVE_DUCK)
def contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair mining from the dedup structures — the
    (anchor, positive, hard negative) triplets an embedding/retrieval
    trainer consumes: for every semantically-pruned document the POSITIVE
    is its best same-cell justifier (highest cosine >= tau among more
    typical members — exactly the evidence SemDeDup pruned it on) and the
    HARD NEGATIVE is the closest same-cell member BELOW tau (similar
    enough to be confusable, dissimilar enough to be a true negative —
    the classic in-batch hard-negative recipe). Anchors lacking either
    side are dropped.

    Scale shape: rides the certified SemDeDup structures verbatim — the
    ranked frame is shared (one checkpoint), candidates come from the
    same cell-keyed equi-join (Theta(n^1.5) with the sqrt(n)-balanced
    cells, never all-pairs). Cosines round to 4 before any comparison
    (the ann_* discipline), so pair elections are identical across
    engines; ties break on candidate id.

    r9: both argmax elections are MAX-of-struct aggregates in ONE
    groupBy(anchor) — ``max(struct(cos, -cand))`` picks exactly the
    rn=1 row of the (cos DESC, cand ASC) window, but partial-aggregates
    map-side, so the anchor exchange carries two candidate structs per
    anchor per mapper instead of every scored pair twice (the oracle's
    two windows + join shuffled the full pair set once per election,
    then joined the winners — three exchanges collapsed into one)."""
    ranked = _sem_ranked(spark, sf_dir)
    a = ranked.select(
        F.col("cell"),
        F.col("vec_id").alias("anchor_id"),
        F.col("rnk").alias("ar"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = ranked.select(
        F.col("cell"),
        F.col("vec_id").alias("cand"),
        F.col("rnk").alias("br"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    cos = F.round(
        F.expr(DOT_SPARK.format(a="a_emb", b="b_emb"))
        / (F.col("a_nrm") * F.col("b_nrm")),
        4,
    )
    cpair = (
        a.join(b, "cell")
        .where(F.col("anchor_id") != F.col("cand"))
        .select("anchor_id", "cand", "ar", "br", cos.alias("cos"))
    )
    # (cos DESC, cand ASC) argmax == max of (cos, -cand) struct: struct
    # comparison is lexicographic, cand is unique per anchor, and max()
    # ignores the NULLs the conditions produce
    best = F.struct(F.col("cos"), (-F.col("cand")).alias("nc"), F.col("cand"))
    agg = cpair.groupBy("anchor_id").agg(
        F.max(
            F.when(
                (F.col("cos") >= _SEMDEDUP_TAU) & (F.col("br") < F.col("ar")),
                best,
            )
        ).alias("p"),
        F.max(F.when(F.col("cos") < _SEMDEDUP_TAU, best)).alias("n"),
    )
    return (
        agg.where(F.col("p").isNotNull() & F.col("n").isNotNull())
        .select(
            "anchor_id",
            F.col("p.cand").alias("positive_id"),
            # cos enters the struct already round(·,4)-ed; re-rounding at
            # extraction is a bit-exact no-op that keeps the stabilized-
            # float contract visible in the analyzed plan
            F.round(F.col("p.cos"), 4).alias("pos_cos"),
            F.col("n.cand").alias("negative_id"),
            F.round(F.col("n.cos"), 4).alias("neg_cos"),
        )
        .orderBy("anchor_id")
    )


# -- LSH banding parameter sweep ---------------------------------------------

_SWEEP_CFGS = [(2, 4), (4, 2), (8, 1)]  # (bands, rows) over the 8 minhashes
# The single-pass sweep keys grouped stats on cfg (= band count) and joins
# grid.bands == grouped.cfg, so band-count uniqueness across configs is
# load-bearing in TWO places (band-id namespacing and the stats join). A
# future config reusing a band count with a different rows_per_band would
# silently merge two configs' stats — fail loudly at import instead.
assert len({nb for nb, _ in _SWEEP_CFGS}) == len(_SWEEP_CFGS), (
    "_SWEEP_CFGS band counts must be unique: the stacked sweep keys config "
    "identity on the band count"
)
_SWEEP_TAU = 0.5  # the near_dup_lsh_pairs verify threshold

def _cfg_band_spark(b: int, r: int) -> str:
    parts = ", '_', ".join(f"CAST(m{b * r + i} AS STRING)" for i in range(r))
    return _H60_SPARK.format(x=f"concat({parts})")


def _cfg_band_duck(b: int, r: int) -> str:
    parts = " || '_' || ".join(f"CAST(m{b * r + i} AS VARCHAR)" for i in range(r))
    return _H60_DUCK.format(x=parts)


def _sweep_cand_duck(nb: int, r: int) -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_cfg_band_duck(b, r)} AS bh FROM sig"
        for b in range(nb)
    )
    return (
        f"bands_{nb} AS ({bands}), "
        f"cand_{nb} AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        f"  FROM bands_{nb} a JOIN bands_{nb} b"
        f"  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"
    )


#: fixed-size corpus sample target for the sampled sweep branch: the
#: sample RATE is 10^9·N/|corpus| ppb (capped at 10^9), so the sampled
#: sweep's work stays ~constant as the corpus grows — the executable form
#: of "at 100 TB the sweep runs on a corpus sample". At oracle scale
#: (<= N docs) the gate passes everything and sampled ≡ full.
_SWEEP_SAMPLE_N = 2000

_SWEEP_TAIL_DUCK = (
    ", "
    + ", ".join(_sweep_cand_duck(nb, r) for nb, r in _SWEEP_CFGS)
    + f""",
    truth AS (
      SELECT c.doc_a, c.doc_b
      FROM cand_8 c JOIN sh sa ON sa.doc_id = c.doc_a
                    JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
            / greatest(len(list_distinct(sa.sh || sb.sh)), 1) >= {_SWEEP_TAU}
    ),
    tmax AS (SELECT count(*) AS n FROM truth)
    """
    + " UNION ALL ".join(
        f"""
    SELECT {nb} AS bands, {r} AS rows_per_band,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{nb}) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{nb} c
             WHERE EXISTS (SELECT 1 FROM truth t
                           WHERE t.doc_a = c.doc_a AND t.doc_b = c.doc_b))
               AS n_true,
           CAST((SELECT count(*) FROM cand_{nb} c
                 WHERE EXISTS (SELECT 1 FROM truth t
                               WHERE t.doc_a = c.doc_a AND t.doc_b = c.doc_b))
                * 1000000
                // greatest((SELECT count(*) FROM cand_{nb}), 1) AS BIGINT)
               AS precision_ppm,
           CAST((SELECT count(*) FROM cand_{nb} c
                 WHERE EXISTS (SELECT 1 FROM truth t
                               WHERE t.doc_a = c.doc_a AND t.doc_b = c.doc_b))
                * 1000000
                // greatest((SELECT n FROM tmax), 1) AS BIGINT)
               AS recall_vs_max_ppm
    """
        for nb, r in _SWEEP_CFGS
    )
)

_SWEEP_DUCK = _SIG_CTE_DUCK + _SWEEP_TAIL_DUCK

#: sampled twin: identical sweep over the hash-gated fixed-size sample
#: (rebalance_domains' ppb-gate idiom — portable md5 hash, exact integer
#: rate, both engines elect the identical doc subset)
_SIG_CTE_DUCK_SAMPLED = (
    "WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents), "
    "t AS (SELECT doc_id, " + _WORDS_DUCK + " AS words FROM documents "
    "WHERE " + _H60_DUCK.format(x="CAST(doc_id AS VARCHAR)")
    + " % 1000000000 < least(CAST(1000000000 AS BIGINT), "
    + f"CAST(1000000000 AS BIGINT) * {_SWEEP_SAMPLE_N} // (SELECT c FROM nn))), "
    "sh AS (SELECT doc_id, " + _SHINGLES_DUCK + " AS sh FROM t), "
    "hv AS (SELECT doc_id, sh, " + _HV_DUCK + " AS hv FROM sh), "
    "sig AS (SELECT doc_id, sh, "
    + ", ".join(f"{_minhash_duck(k)} AS m{k}" for k in range(_N_HASHES))
    + " FROM hv)"
)

_SWEEP_SAMPLED_DUCK = _SIG_CTE_DUCK_SAMPLED + _SWEEP_TAIL_DUCK


def _signatures_sampled(spark, sf_dir):
    """(doc_id, sh, m0..m7) over the fixed-size hash-gated sample: the
    ppb gate runs BEFORE shingling, so split/hash work is proportional
    to the sample; the corpus contributes one count aggregate + a scan."""
    d = tbl(spark, sf_dir, "documents")
    n = F.broadcast(d.agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    gated = (
        d.crossJoin(n)
        .where(
            F.expr(_H60_SPARK.format(x="CAST(doc_id AS STRING)"))
            % F.lit(1_000_000_000)
            < F.least(
                F.lit(1_000_000_000).cast("bigint"),
                F.expr(
                    f"CAST(1000000000 AS BIGINT) * {_SWEEP_SAMPLE_N} div c"
                ),
            )
        )
        .drop("c")
    )
    # the ppb gate is a cheap row-local filter on the (single-task) scan;
    # widen the surviving sample before the shingle/minhash expressions
    gated = wide(spark, gated.select("doc_id", "text"), sf_dir, "documents")
    return (
        gated.withColumn("words", F.expr(_WORDS_SPARK))
        .withColumn("sh", F.expr(_SHINGLES_SPARK))
        .select("doc_id", "sh")
        .withColumn("hv", F.expr(_HV_SPARK))
        .select(
            "doc_id",
            "sh",
            *[F.expr(_minhash_spark(k)).alias(f"m{k}") for k in range(_N_HASHES)],
        )
    )


@q("lsh_band_sweep", _SWEEP_DUCK)
def lsh_band_sweep(spark, sf_dir):
    """LSH banding calibration sweep — the QC a dedup pipeline runs before
    committing to a (bands, rows) configuration: the same 8 minhashes
    re-banded as 2x4 / 4x2 / 8x1, each config reporting candidate volume,
    verified true pairs (exact Jaccard >= tau on candidates only), and
    precision/recall in exact ppm. The collision probability
    1-(1-j^r)^b trades candidate volume against recall; the sweep shows
    the actual corpus's operating points. Recall is measured against the
    8x1 config's verified set — exact for this family because the
    candidate sets are provably NESTED (agreeing on an r-row band implies
    agreeing on each of its sub-bands), so 8x1 is the family's recall
    ceiling.

    Plan shape (r9-opt): signatures compute once into ONE stacked frame
    holding every config's band hashes under globally distinct band ids,
    so a SINGLE collision-bounded self-join prices all three configs
    together (the r8 form ran one corpus-rescanning self-join per
    config — 3 corpus passes → 1); truth verifies exact Jaccard over the
    8x1 superset's candidates only (re-shingling candidate docs, the
    near_dup_lsh_pairs discipline); per-config stats slice the shared
    candidate frame. At 100 TB the sweep runs on a corpus SAMPLE — the
    executable sampled branch is `lsh_band_sweep_sampled` (fixed-size
    ppb-gated sample, work ~constant in corpus size); THIS full-corpus
    form is the calibration-tool branch, where the 1-row-band config's
    candidate volume is the knob being priced, not a fixed production
    cost.
    """
    return _band_sweep_impl(spark, sf_dir, sampled=False)


@q("lsh_band_sweep_sampled", _SWEEP_SAMPLED_DUCK)
def lsh_band_sweep_sampled(spark, sf_dir):
    """The band-sweep's at-scale branch (VERDICT r8 #3): the identical
    2x4/4x2/8x1 calibration over a FIXED-SIZE deterministic corpus
    sample — rate = 10^9*{n}/|corpus| ppb on the portable doc_id hash
    (the rebalance_domains gate), so both engines elect the identical
    subset and the sweep's cost stays ~constant as the corpus grows
    (the gate runs before shingling; the corpus contributes one count
    and one scan). Banding calibration is a distribution measurement —
    a fixed-size uniform sample prices the collision curve without
    paying the full corpus's candidate volume. At oracle scale
    (<= {n} docs) the gate passes everything and this equals the full
    sweep — certifying the gate arithmetic plus the shared sweep body.
    """
    return _band_sweep_impl(spark, sf_dir, sampled=True)


lsh_band_sweep_sampled.__doc__ = lsh_band_sweep_sampled.__doc__.format(
    n=_SWEEP_SAMPLE_N
)


def _band_sweep_impl(spark, sf_dir, sampled: bool):
    sig = (
        _signatures_sampled(spark, sf_dir) if sampled else _signatures(spark, sf_dir)
    ).drop("sh")

    # ONE stacked frame holding EVERY config's band hashes (2+4+8 rows per
    # doc, globally distinct band ids), so ONE collision self-join prices
    # all three configs together — the r8 form ran a separate self-join
    # per config, and each re-ran the signature pipeline over the corpus
    # (3 corpus-sized Exchanges → 1). Collision semantics are untouched:
    # a pair collides for config c iff it agrees on one of c's bands, and
    # bands of different configs can never meet across the join because
    # their global ids differ.
    gid_rows, bounds, gid = [], [], 0
    for nb, r in _SWEEP_CFGS:
        for b in range(nb):
            gid_rows.append(f"{gid}, {_cfg_band_spark(b, r)}")
            gid += 1
        bounds.append((gid, nb))
    bands = sig.selectExpr(
        "doc_id",
        f"stack({gid}, " + ", ".join(gid_rows) + ") AS (band, bh)",
    )
    a, b = bands.alias("a"), bands.alias("b")
    cfg_expr = "CASE"
    for hi, nb in bounds:
        cfg_expr += f" WHEN band < {hi} THEN {nb}"
    cfg_expr += " END"
    allc = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.band").alias("band"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .select(F.expr(cfg_expr).cast("int").alias("cfg"), "doc_a", "doc_b")
        .distinct()
    )
    # within-invocation checkpoints ONLY (r9: the former stamped
    # cross-query cache let the second sweep query — and every later
    # bench rep — reuse the first's candidate + truth frames, which is
    # result memoization the bench contract forbids): the all-config
    # candidate frame and the verified truth frame are each consumed by
    # every config branch of THIS query's plan, so one materialization
    # per invocation replaces one band self-join / verify join per config
    allc = allc.localCheckpoint(eager=False)
    sup = allc.where(F.col("cfg") == 8).select("doc_a", "doc_b")
    ids = (
        sup.select(F.col("doc_a").alias("doc_id"))
        .union(sup.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _shingled_for(spark, sf_dir, ids)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    jac = F.col("n_common").cast("double") / F.greatest(
        F.col("n_union"), F.lit(1)
    )
    truth = (
        # no forced broadcast: the candidate set is data-proportional
        # (it OOM'd the 100x gate as a broadcast build side) — AQE
        # sizes the join; at 1x it still picks broadcast on its own
        sup
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa.sh", "sb.sh")).alias("n_common"),
            F.size(F.array_union("sa.sh", "sb.sh")).alias("n_union"),
        )
        .where(jac >= _SWEEP_TAU)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    t_n = truth.groupBy().agg(F.count(F.lit(1)).alias("tn"))
    # ONE pass prices every config: the former per-config loop ran three
    # candidate⋈truth joins + three aggregates over the same two
    # checkpointed frames (3× the join and 3× the generated stages for
    # identical inputs); a single left join + groupBy(cfg) computes all
    # three rows map-side-combined. The literal config grid left-joins
    # the grouped stats so a config with ZERO candidates still emits its
    # row with the exact semantics of the old empty aggregate
    # (n_candidates 0, n_true/ppms NULL — sum over no rows is NULL).
    grouped = (
        allc.join(truth.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left")
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_true"),
        )
    )
    grid = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({nb}, {r})" for nb, r in _SWEEP_CFGS)
        + " AS t(bands, rows_per_band)"
    )
    return (
        grid.join(F.broadcast(grouped), grid.bands == grouped.cfg, "left")
        .crossJoin(F.broadcast(t_n))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("bigint")).alias(
                "n_candidates"
            ),
            "n_true",
            F.expr(
                "CAST(n_true * 1000000 div greatest(coalesce(n_candidates, 0), 1)"
                " AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(n_true * 1000000 div greatest(tn, 1) AS BIGINT)"
            ).alias("recall_vs_max_ppm"),
        )
    )


# -- embedding geometry diagnostics -------------------------------------------

_ANISO_DUCK = """
    WITH q AS (
      SELECT list_transform(embedding,
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    sq AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(list_sum(list_transform(qv, v -> v::HUGEINT * v)))
                  AS HUGEINT) AS ssq
      FROM q
    ),
    comp AS (
      SELECT pos, CAST(sum(v) AS HUGEINT) AS s
      FROM (SELECT unnest(qv) AS v,
                   unnest(generate_series(1, len(qv))) AS pos
            FROM q)
      GROUP BY 1
    ),
    m AS (SELECT CAST(sum(s * s) AS HUGEINT) AS msq,
                 CAST(count(*) AS INT) AS dim FROM comp),
    dom AS (SELECT pos, s FROM comp ORDER BY abs(s) DESC, pos LIMIT 1)
    SELECT sq.n AS n_vectors, m.dim,
           CAST(m.msq * 1000000 // greatest(sq.n::HUGEINT * sq.ssq, 1)
                AS BIGINT) AS anisotropy_ppm,
           CAST(dom.pos AS INT) AS dominant_dim,
           CAST(dom.s * dom.s * 1000000 // greatest(m.msq, 1) AS BIGINT)
               AS dominant_share_ppm
    FROM sq, m, dom
"""


@q("embedding_anisotropy", _ANISO_DUCK)
def embedding_anisotropy(spark, sf_dir):
    """Embedding-space geometry diagnostics — the anisotropy audit an
    embedding pipeline runs before trusting cosine similarity: the ratio
    ||mean(x)||^2 / mean(||x||^2) in ppm (0 = perfectly centered cloud;
    near 1e6 = all vectors share a dominant direction — the classic
    "anisotropic embeddings make every cosine look similar" failure,
    Ethayarajh-style), plus the single dimension carrying the largest
    mean-component mass (the "rogue dimension" diagnostic). A NEW
    embedding-geometry family next to the ANN stack.

    Portability: components quantize to exact integer micro-units
    (round(x*1e6) — float widens to the same double in both engines), so
    every sum/square is exact HUGEINT/DECIMAL(38,0) arithmetic — no
    order-dependent float reductions cross the wire (corpus-level float
    sums are NOT associative; this is why the quantization is load-
    bearing, not cosmetic).

    Plan/scale: Σ||x||^2 is a row-local HOF fold into one
    map-side-combined 1-row aggregate; the per-dimension mean vector is
    a posexplode into a DIM-sized (64-row) shuffle; everything after is
    dimension-cardinality. The corpus never sorts, never joins. At
    extreme corpus sizes (>10^12 rows) the micro^2 sums approach the
    DECIMAL(38)/HUGEINT ceiling — rescale the quantization step, the
    ratio is scale-invariant.
    """
    e = tbl(spark, sf_dir, "embeddings")
    q_v = e.select(
        F.expr(
            "transform(embedding, x -> CAST(round(x * 1000000) AS BIGINT))"
        ).alias("qv")
    ).localCheckpoint(eager=False)
    sq = q_v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "aggregate(qv, CAST(0 AS DECIMAL(38,0)),"
                " (acc, v) -> acc + CAST(v AS DECIMAL(38,0)) * v)"
            )
        ).alias("ssq"),
    )
    comp = (
        q_v.select(F.posexplode("qv").alias("pos0", "v"))
        .groupBy((F.col("pos0") + 1).alias("pos"))
        .agg(F.sum("v").cast("decimal(38,0)").alias("s"))
    )
    m = comp.agg(
        F.sum(F.col("s") * F.col("s")).alias("msq"),
        F.count(F.lit(1)).cast("int").alias("dim"),
    )
    dom = comp.orderBy(F.abs(F.col("s")).desc(), "pos").limit(1)
    return (
        F.broadcast(sq)
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(dom))
        .select(
            F.col("n").alias("n_vectors"),
            "dim",
            F.expr(
                "CAST(msq * 1000000 div greatest(CAST(n AS DECIMAL(38,0))"
                " * ssq, 1) AS BIGINT)"
            ).alias("anisotropy_ppm"),
            F.col("pos").cast("int").alias("dominant_dim"),
            F.expr(
                "CAST(s * s * 1000000 div greatest(msq, 1) AS BIGINT)"
            ).alias("dominant_share_ppm"),
        )
    )


# -- label-centroid similarity (class separability audit) ---------------------

_CENTROID_DUCK = """
    WITH q AS (
      SELECT label,
             list_transform(embedding,
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
    comp AS (
      SELECT label, pos, CAST(sum(v) AS HUGEINT) AS s
      FROM (SELECT label, unnest(qv) AS v,
                   unnest(generate_series(1, len(qv))) AS pos
            FROM q)
      GROUP BY 1, 2
    ),
    cent AS (
      SELECT a.label AS label_a, b.label AS label_b, sum(a.s * b.s) AS dot
      FROM comp a JOIN comp b ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2
    ),
    nrm AS (
      SELECT label, sqrt(CAST(sum(s * s) AS DOUBLE)) AS nr FROM comp GROUP BY 1
    )
    SELECT label_a, label_b,
           ca.n AS n_vectors_a, cb.n AS n_vectors_b,
           round(CAST(dot AS DOUBLE) / (na.nr * nb.nr), 4) AS centroid_cosine
    FROM cent JOIN nrm na ON na.label = cent.label_a
              JOIN nrm nb ON nb.label = cent.label_b
              JOIN cnt ca ON ca.label = cent.label_a
              JOIN cnt cb ON cb.label = cent.label_b
    ORDER BY label_a, label_b
"""


@q("label_centroid_similarity", _CENTROID_DUCK)
def label_centroid_similarity(spark, sf_dir):
    """Class-separability audit: pairwise cosine between per-label
    embedding CENTROIDS — near-1 pairs are labels an embedding model
    cannot distinguish (merge candidates / labeling-noise suspects), the
    domain-level complement of the vector-level dedup stack. Centroid
    direction = the per-label component-sum vector (same direction as
    the mean; the scale cancels in cosine), accumulated in exact integer
    micro-units so the only floats are the final cosine's IEEE-exact
    divisions, rounded to 4 (the ann_* discipline).

    Plan/scale: one (label, dim)-keyed map-side-combined aggregate
    (|labels|x64 rows — the corpus never shuffles raw vectors); the
    pairwise join runs on that tiny frame (broadcast by size);
    |labels|^2/2 output rows."""
    e = tbl(spark, sf_dir, "embeddings")
    q_v = e.select(
        "label",
        F.expr(
            "transform(embedding, x -> CAST(round(x * 1000000) AS BIGINT))"
        ).alias("qv"),
    )
    cnt = q_v.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    comp = (
        q_v.select("label", F.posexplode("qv").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.sum("v").cast("decimal(38,0)").alias("s"))
        .localCheckpoint(eager=False)
    )
    a = comp.select(
        F.col("label").alias("label_a"),
        F.col("pos").alias("pos"),
        F.col("s").alias("sa"),
    )
    b = comp.select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("pos_b"),
        F.col("s").alias("sb"),
    )
    cent = (
        a.join(
            b,
            (F.col("pos") == F.col("pos_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    nrm = comp.groupBy("label").agg(
        F.sqrt(F.sum(F.col("s") * F.col("s")).cast("double")).alias("nr")
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("nr").alias("nr_a"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("nr").alias("nr_b"))
    ca = cnt.select(F.col("label").alias("label_a"), F.col("n").alias("n_vectors_a"))
    cb = cnt.select(F.col("label").alias("label_b"), F.col("n").alias("n_vectors_b"))
    return (
        cent.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .join(F.broadcast(ca), "label_a")
        .join(F.broadcast(cb), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_vectors_a",
            "n_vectors_b",
            F.round(
                F.col("dot").cast("double") / (F.col("nr_a") * F.col("nr_b")),
                4,
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )
