"""Advanced time-series / sampling / text-scoring operators.

Operators Spark lacks as single primitives, re-expressed as compositions of
native DataFrame ops (the custom-operator strategy of SURVEY §7.2): gaps-and-
islands sessionization, point-in-interval range join, hypertable-style time
bucketing, event-time range frames, deterministic stratified sampling,
mergeable cardinality/quantile sketches, and an exact-arithmetic TF-IDF.

Scale notes (100 TB lens) are on each query; the common theme is ONE shuffle
on the natural key (user/doc/bucket), no cartesian products, broadcast for
every config-sized side, and integer/decimal arithmetic wherever a value
feeds an ORDER BY so float noise can never flip cross-engine ordering.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bridgedownstream_spark.operators.asof import asof_join
from bridgedownstream_spark.pipeline.fsutil import path_exists
from bridgedownstream_spark.queries.util import (
    HASH60,
    TS_STR,
    portable_hash60,
    tbl,
    ts_str,
    wide,
)

#: Storage level for FACT-derived checkpointed state (graph edge lists):
#: serialized memory+disk. localCheckpoint's JVM default stores
#: DESERIALIZED objects — at 100x data the ~180M-row edge state as Java
#: objects filled the storage pool past the protected fraction and
#: starved concurrent hash aggregates into UNABLE_TO_ACQUIRE_MEMORY
#: (r5's 100x graph-trio OOM). Serialized Tungsten rows are 3-5x
#: smaller and evict to disk cleanly; node-sized frames (rank/frontier/
#: distance tables) keep the cheap deserialized default.
_FACT_STATE = StorageLevel.MEMORY_AND_DISK

QUERIES: dict = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


def _edge_parts(fact: DataFrame) -> int:
    """Partition count for checkpointed graph edge state, sized by the
    RAW SCAN's split count (= input bytes / maxPartitionBytes) instead
    of a constant — pass the pre-shuffle scan frame, never a
    shuffle-derived one (whose rdd partition count is just
    spark.sql.shuffle.partitions). At sf0.1 (single scan split) this
    keeps the measured 8-way layout — 32-way kilobyte edge tasks paid
    ~5x scheduling overhead per iteration round; at 100x (1.1 GB, ~9
    splits) it gives 36-way edge state so per-task aggregation maps
    stay bounded (the r5 fixed coalesce(8) died
    AGGREGATE_OUT_OF_MEMORY there). Used as ``_copurchase_edges``'
    repartition-by-dst width: the ONE pair-sized exchange each graph
    query pays."""
    # Structural guard (not just a docstring contract): a shuffle-derived
    # frame would silently report shuffle-width partition counts and
    # mis-size the edge state. A raw scan (+ narrow filter/project)
    # compiles to a physical plan with NO Exchange node — cheap to check.
    phys = fact._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in phys:
        raise ValueError(
            "_edge_parts requires the pre-shuffle SCAN frame; got a plan "
            "containing an Exchange — its rdd partition count would be "
            "spark.sql.shuffle.partitions, not the input split count"
        )
    return max(8, 4 * fact.rdd.getNumPartitions())


def _copurchase_edges(raw: DataFrame, min_orders: int | None = None) -> DataFrame:
    """The part co-purchase graph: parts are linked, both ways and never
    to themselves, when they share an order. ``raw`` is the
    ``(l_orderkey, l_partkey)`` lineitem SCAN that ``_edge_parts`` sizes
    the edge state from.

    - ``min_orders=None``: distinct ``(src, dst)``.
    - an int: ``(src, dst, n_orders)``, ``n_orders`` counting DISTINCT
      shared orders (a part repeated in one order counts once), kept
      where ``n_orders >= min_orders``.

    ONE pair-sized exchange: the pairs repartition by dst, so the
    (src, dst) distinct or count needs no second one. The rows stay
    dst-clustered in the checkpoint and through the callers' broadcast
    joins, so a per-round partial aggregate on dst (= src: the graph is
    symmetric) map-combines to one row per node before its exchange
    (AQE does not carry the partitioning through the checkpoint, so
    that node-sized exchange is still planned). Measured at 100x
    (bfs_hops, warm, min-of-2): clustered 141 s vs unclustered
    209-295 s — the AQE-coalesced unclustered layout collapsed the
    per-round distinct onto too few partitions.

    No pre-join distinct for the distinct variant: the edge distinct
    drops a repeated part's pair copies anyway, and lineitem rarely
    repeats a part within an order, so it would buy a whole pair-keyed
    exchange to drop a near-empty duplicate mass. The self-join's sides
    stay ONE computation via ReusedExchange. The counted variant needs
    the incidence distinct so ``n_orders`` counts orders, not lines.

    Lazily localCheckpointed (serialized, _FACT_STATE): every round of
    the caller's loop reads the cached edges, not the self-join.
    """
    li = raw if min_orders is None else raw.distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .repartition(_edge_parts(raw), "dst")
    )
    if min_orders is None:
        edges = pairs.distinct()
    else:
        edges = (
            pairs.groupBy("src", "dst")
            .agg(F.count("*").alias("n_orders"))
            .where(F.col("n_orders") >= min_orders)
        )
    return edges.localCheckpoint(eager=False, storageLevel=_FACT_STATE)


#: conservative serialized bytes per node-frame row inside a broadcast
#: hash map (two longs + map entry overhead) — deliberately generous so
#: the fallback engages BEFORE the 8 GB broadcast hard ceiling is near
_NODE_ROW_BYTES = 48

#: node-frame broadcast ceiling: 2 GB of estimated node-frame bytes. This
#: is a fraction of Spark's 8 GB broadcast HARD limit (and of a typical
#: executor's memory budget), NOT spark.sql.autoBroadcastJoinThreshold:
#: the auto threshold (default 10 MB) governs when AQE volunteers a
#: broadcast, while an explicit broadcast() hint is honored far beyond
#: it — conflating the two would demote a 2M-node frontier (~100 MB,
#: cheap to broadcast) to per-round edge re-shuffles, measured 247 s vs
#: 141 s at 100x.
_BROADCAST_CEILING_BYTES = 2 << 30


def _pin_node_side(df: DataFrame, n_nodes: int) -> DataFrame:
    """Pin the join strategy for a NODE-cardinality frame used inside an
    iterative graph loop (frontier / visited / distance / survivor /
    share tables) instead of leaving it to per-round AQE estimates:

    - under the broadcast ceiling (``_BROADCAST_CEILING_BYTES``, sized at a
      generous ``_NODE_ROW_BYTES`` per row) → explicit ``broadcast()``:
      the edge state never moves and keeps its dst-clustering, so
      per-round aggregates stay exchange-free. Pinning matters even when
      AQE would usually pick the same plan — measured at 100x, bfs_hops
      swung 141-295 s run-to-run as drifting frontier estimates flipped
      the visited anti-join's strategy mid-loop.
    - above it (the node table outgrew the driver/executor broadcast
      budget — think billion-node graphs at 100 TB) → explicit
      ``SHUFFLE_HASH`` build on the node side: correct at any size, at
      the honest cost of re-shuffling the edge stream on the join key
      each round. Never sort-merge (per-round edge sorts) and never a
      silent 8 GB broadcast failure three hours into a run.

    ``n_nodes`` is an UPPER BOUND (the dimension-table count) — cheap to
    obtain and stable across rounds, unlike per-round frontier sizes.
    """
    if n_nodes * _NODE_ROW_BYTES <= _BROADCAST_CEILING_BYTES:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def _graph_node_bound(spark: SparkSession, sf_dir: str, fact: DataFrame) -> int:
    """Node-count upper bound for ``_pin_node_side``: the part DIMENSION
    count (one metadata-cheap scan) when the corpus has one; hand-built
    graph fixtures that carry only the fact table fall back to an exact
    distinct-node count (node-sized, paid once per query)."""
    if path_exists(spark, f"{sf_dir}/part.parquet"):
        return tbl(spark, sf_dir, "part").count()
    return fact.select("l_partkey").distinct().count()


# ---------------------------------------------------------------------------
# Sessionization — gaps-and-islands over event time
# ---------------------------------------------------------------------------

#: 30-minute inactivity gap, in microseconds
_SESSION_GAP_US = 1_800_000_000


@q(
    "sessionize",
    f"""
    WITH t AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         > {_SESSION_GAP_US}
                    OR LAG(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), s AS (
        SELECT user_id,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM t
    ), g AS (
        SELECT user_id, session_id, count(*) AS n_ev FROM s GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           max(n_ev) AS max_session_events
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap).

    The classic custom operator the reference's event model implies but Glue
    never ships: session = island of events whose inter-arrival gap stays
    under a threshold. Two stacked windows on the SAME (user_id, time) key →
    Catalyst plans ONE Exchange; the per-session and per-user aggregations
    reuse that partitioning. At 100 TB: one shuffle of (user_id, us) pairs,
    skew bounded by per-user event counts; AQE skew-split covers hot users.
    """
    ev = tbl(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    new_s = (
        F.when(
            (F.col("us") - F.lag("us").over(w) > _SESSION_GAP_US)
            | F.lag("us").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s")
    )
    sess = ev.select("user_id", "event_id", "us", new_s).select(
        "user_id",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("session_id"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_ev")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_ev").alias("n_events"),
            F.max("n_ev").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# As-of join — two-table, big-big, union-trick plan
# ---------------------------------------------------------------------------


@q(
    "asof_join_events",
    f"""
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, {TS_STR.format(col="p.ts")} AS ts_s, c.click_id
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's most recent click at or before
    it — a true two-table as-of join (operators/asof.py), oracle-checked
    against DuckDB's native ASOF JOIN.

    The plan contains NO join node and exactly ONE exchange: both sides
    union, shuffle once on user_id, and the latest click carries forward
    through a running last(ignorenulls) window — the big-big as-of shape
    that neither broadcasts nor range-explodes (plan-tested). Timestamp
    ties resolve to the max click_id via the window tiebreak, matching
    the oracle's deduped-clicks CTE without paying a dedup shuffle.
    """
    ev = tbl(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    joined = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["click_id"],
        prefix="", tiebreak_cols=["click_id"],
    )
    return joined.select(
        "user_id", "event_id", ts_str("ts").alias("ts_s"), "click_id"
    )


# ---------------------------------------------------------------------------
# Range join — point-in-interval
# ---------------------------------------------------------------------------

#: cover [0, 800) — comfortably past the testdata's observed max (~560);
#: an interval table that under-covers the domain silently DROPS rows from
#: the inner join (both engines shared the stale [0, 500) bound, so the
#: oracle couldn't see the loss)
_N_BUCKETS = 16
_BUCKET_W = 50.0


@q(
    "range_join_buckets",
    f"""
    SELECT b.bucket, count(*) AS n,
           CAST(round(sum(CAST(e.value AS DECIMAL(24,10))), 2) AS DOUBLE) AS total_value
    FROM events e
    JOIN (SELECT CAST(i AS INT) AS bucket,
                 i * {_BUCKET_W} AS lo, (i + 1) * {_BUCKET_W} AS hi
          FROM range({_N_BUCKETS}) t(i)) b
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket ORDER BY b.bucket
    """,
)
def range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (the operator class behind as-of joins
    and hypertable chunk exclusion).

    The interval side is config-sized → ``broadcast`` turns the non-equi
    join into a BroadcastNestedLoopJoin: each event row tests ≤10 intervals
    JVM-side, no shuffle, no cartesian materialization. At 100 TB the fact
    side streams through map tasks untouched; only the final 10-group agg
    shuffles (bytes, not rows). For interval tables too big to broadcast,
    the LSH-bucket pattern in similarity.py (equi-join on a derived bucket
    key) is the scale path — same trick, coarser key.
    """
    ev = tbl(spark, sf_dir, "events")
    buckets = spark.range(_N_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"),
        (F.col("id") * _BUCKET_W).alias("lo"),
        ((F.col("id") + 1) * _BUCKET_W).alias("hi"),
    )
    return (
        ev.join(
            F.broadcast(buckets),
            (ev.value >= buckets.lo) & (ev.value < buckets.hi),
            "inner",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            # DECIMAL sum: exact under any partial-agg merge order
            F.round(F.sum(F.col("value").cast("decimal(24,10)")), 2)
            .cast("double").alias("total_value"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Hypertable-style time-bucket rollup
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000  # one day of microseconds


@q(
    "gap_fill",
    f"""
    WITH d AS (
      SELECT user_id, epoch_us(ts) // {_DAY_US} AS day_idx
      FROM events WHERE user_id < 20
    ),
    obs AS (SELECT user_id, day_idx, count(*) AS n FROM d GROUP BY 1, 2),
    rng AS (SELECT user_id, min(day_idx) AS mn, max(day_idx) AS mx
            FROM obs GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS day_idx
             FROM rng)
    SELECT g.user_id, g.day_idx, CAST(coalesce(o.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN obs o USING (user_id, day_idx)
    """,
)
def gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (the Timescale ``time_bucket_gapfill`` /
    Flink fill shape): every user's daily activity series densified to a
    contiguous per-user day grid — missing days materialize with n=0, so
    downstream rolling windows and period-over-period math see a complete
    axis instead of silently skipping quiet days.

    Scale shape: the grid derives from each key's own [min, max] span —
    one narrow explode of per-key sequences, never a global calendar
    cross join; both aggregations and the fill join share the (user, day)
    clustering. Grid size is bounded by keys × span-days, independent of
    event volume."""
    ev = tbl(spark, sf_dir, "events").where(F.col("user_id") < 20)
    d = ev.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day_idx"),
    )
    # span derives from the (tiny) per-day aggregate, not a second raw
    # scan — the day-index set is identical either way
    obs = d.groupBy("user_id", "day_idx").agg(F.count("*").alias("n"))
    rng = obs.groupBy("user_id").agg(
        F.min("day_idx").alias("mn"), F.max("day_idx").alias("mx")
    )
    grid = rng.select(
        "user_id", F.explode(F.expr("sequence(mn, mx)")).alias("day_idx")
    )
    return grid.join(obs, ["user_id", "day_idx"], "left").select(
        "user_id",
        "day_idx",
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
    )


@q(
    "concurrency_peaks",
    f"""
    WITH deltas AS (
      SELECT event_type, t, delta FROM (
        SELECT event_type,
               unnest([epoch_us(ts), epoch_us(ts) + 600000000]) AS t,
               unnest([1, -1]) AS delta
        FROM events
      )
    ),
    running AS (
      SELECT event_type,
             CAST(sum(delta) OVER (
                 PARTITION BY event_type ORDER BY t, delta
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS live
      FROM deltas
    )
    SELECT event_type, CAST(max(live) AS BIGINT) AS peak_concurrency
    FROM running GROUP BY 1
    """,
)
def concurrency_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency via the sweep-line trick: each event
    opens a 10-minute presence interval [ts, ts+10min); the per-type peak
    is the max of a running ±1 sum over the interval endpoints — the
    standard "max concurrent sessions" operator, with no interval
    self-join (the naive formulation is O(n²)).

    Determinism at ties: endpoints sharing a timestamp order ends (-1)
    before starts (+1) — half-open interval semantics — and within an
    equal (t, delta) run the partial sums are monotone, so the MAX is
    invariant to intra-tie order even though intermediate prefixes are
    not. One exchange (event_type), one window, one aggregate."""
    ev = tbl(spark, sf_dir, "events")
    deltas = ev.select(
        "event_type",
        F.explode(
            F.expr(
                "array(struct(unix_micros(ts) AS t, 1 AS delta), "
                "struct(unix_micros(ts) + 600000000 AS t, -1 AS delta))"
            )
        ).alias("e"),
    ).select("event_type", "e.t", "e.delta")
    w = (
        W.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        deltas.select(
            "event_type", F.sum("delta").over(w).cast("long").alias("live")
        )
        .groupBy("event_type")
        .agg(F.max("live").alias("peak_concurrency"))
    )


_BUCKET_US = 900_000_000  # 15 minutes


@q(
    "time_bucket_rollup",
    f"""
    SELECT strftime(make_timestamp((epoch_us(ts) // {_BUCKET_US}) * {_BUCKET_US}),
                    '%Y-%m-%d %H:%M:%S.%f') AS bucket_start,
           event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(24,10))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id < 20
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute time_bucket rollup (TimescaleDB hypertable / continuous-
    aggregate shape) as pure integer epoch arithmetic.

    Epoch-aligned flooring keeps the bucket function a codegen'd projection
    — no UDF, no session tz dependence — so the rollup is a single partial-
    agg → shuffle-on-(bucket,type) → final-agg plan. This is the shape a
    100 TB continuous aggregate wants: map-side combine collapses each scan
    partition to ≤ (buckets × types) rows before the exchange.
    """
    ev = tbl(spark, sf_dir, "events").where(F.col("user_id") < 20)
    bucket = F.timestamp_micros(
        (F.unix_micros("ts") - (F.unix_micros("ts") % _BUCKET_US))
    )
    return (
        ev.groupBy(
            ts_str(bucket).alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            # DECIMAL sum: exact under any partial-agg merge order
            F.round(F.sum(F.col("value").cast("decimal(24,10)")), 2)
            .cast("double").alias("total_value"),
        )
        .orderBy("bucket_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Event-time range frame — rolling 1-hour sum
# ---------------------------------------------------------------------------

_FRAME_US = 3_600_000_000  # 1 hour


@q(
    "rolling_range_frame",
    f"""
    SELECT user_id, event_id,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {_FRAME_US} PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS rolling_1h
    FROM events WHERE user_id < 30
    """,
)
def rolling_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour sum per user — a RANGE frame over event time.

    The frame bound is physical microseconds, not N rows, so irregular
    event spacing is handled exactly (ROWS frames can't express this).
    Summing DECIMAL(18,2), not DOUBLE: range frames make accumulation order
    engine-internal, and decimal addition is associative-exact, so the
    result is bit-identical regardless of frame evaluation order — the same
    reason the ingest pipeline keys surrogate ids on exact types. One
    shuffle on user_id; frame evaluation is a per-partition sliding
    accumulator (O(n) per user, not O(n·frame)).
    """
    ev = tbl(spark, sf_dir, "events").where(F.col("user_id") < 30)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_FRAME_US, 0)
    )
    rolling = F.sum(F.col("value").cast("decimal(18,2)")).over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.round(rolling.cast("double"), 2).alias("rolling_1h"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

_SAMPLE_PCT = 10


@q(
    "stratified_sample",
    f"""
    SELECT event_type, count(*) AS n_sampled,
           count(DISTINCT user_id) AS n_users,
           CAST(round(sum(CAST(value AS DECIMAL(24,10))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE {HASH60.format(x="CAST(event_id AS VARCHAR)")} % 100 < {_SAMPLE_PCT}
    GROUP BY event_type ORDER BY event_type
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% per-stratum subsample, deterministic across engines and runs.

    Training-data curation needs repeatable subsampling: membership decided
    by a content hash (portable md5-60), never an RNG, so re-running over
    re-shuffled / re-partitioned input selects the SAME rows — the property
    that makes a 100 TB sample resumable and auditable. The predicate is a
    pure projection → fully pushed into the scan stage; the only shuffle is
    the per-stratum agg.
    """
    ev = tbl(spark, sf_dir, "events")
    keep = (
        portable_hash60(F.col("event_id").cast("string")) % 100 < _SAMPLE_PCT
    )
    return (
        ev.where(keep)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.countDistinct("user_id").alias("n_users"),
            # DECIMAL sum: exact under any partial-agg merge order
            F.round(F.sum(F.col("value").cast("decimal(24,10)")), 2)
            .cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Mergeable sketches — HLL cardinality + KLL-style quantiles
# ---------------------------------------------------------------------------


#: portable HLL parameters: m=64 registers (6-bit bucket), 54-bit rho
#: domain from the 60-bit portable hash; register terms scale to EXACT
#: bigints (2^(56-M) ≤ 2^56, ≤64 terms → sums fit bigint), so the
#: register state — and the estimate derived from it — is bit-identical
#: across engines and partial-agg merge orders.
_HLL_M = 64
#: raw harmonic-mean estimate, plus the standard linear-counting switch for
#: the small-range regime (raw <= 2.5m and empty registers remain): both
#: branches and the branch CONDITION derive from exact integers, so the
#: engines take the same branch; ln() noise is absorbed by round(2) (the
#: lm_perplexity precedent)
_HLL_RAW = "(0.709 * 4096 * 72057594037927936 / CAST(int_sum AS DOUBLE))"
_HLL_EST = (
    f"CASE WHEN {_HLL_RAW} <= {2.5 * _HLL_M} AND empty_registers > 0 "
    f"THEN round({_HLL_M} * ln({_HLL_M} / CAST(empty_registers AS DOUBLE)), 2) "
    f"ELSE round({_HLL_RAW}, 2) END"
)

_KMV_K = 64  # sketch size: k minimum hash values per set
_KMV_DOMAIN = 1 << 60



@q(
    "portable_hll_cardinality",
    f"""
    WITH h AS (
      SELECT event_type,
             {HASH60.format(x="CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    reg AS (
      SELECT event_type, hv % {_HLL_M} AS r,
             CASE WHEN hv // {_HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(hv // {_HLL_M})) END AS rho
      FROM h
    ),
    m AS (SELECT event_type, r, max(rho) AS mj FROM reg GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(sum(1::BIGINT << (56 - mj))
                  + ({_HLL_M} - count(*)) * (1::BIGINT << 56) AS BIGINT)
                 AS int_sum,
             CAST({_HLL_M} - count(*) AS BIGINT) AS empty_registers
      FROM m GROUP BY 1
    )
    SELECT event_type, int_sum, empty_registers,
           {_HLL_EST} AS est_users
    FROM s
    """,
)
def portable_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with a FULL value-hash oracle — the certifiable twin of
    sketch_cardinality's DataSketches path. Registers derive from the
    portable md5-60 hash (bucket = h mod m, rho = leading-zero rank of
    the remaining 54 bits via bin-string length — both engines render
    bin() identically); the per-register max is algebraic (mergeable in
    any order), and the harmonic-mean denominator is computed as an EXACT
    integer (sum of 2^(56-M) terms in bigint), so even the floating
    estimate is deterministic: one division for the raw branch, and the
    small-range linear-counting branch (raw ≤ 2.5m with empty registers)
    switches on exact integers so both engines take the same path.
    Accuracy is floor-asserted in pytest against the exact distinct
    count (standard error ~1.04/sqrt(64) ≈ 13%).

    At 100 TB: the shuffle carries at most groups × 64 register rows
    (map-side max-combine), replacing the exact count-distinct's shuffle
    of every distinct key — same story as the binary-sketch path, but
    engine-portable and hash-certifiable."""
    ev = tbl(spark, sf_dir, "events")
    h_sql = "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    reg = ev.selectExpr(
        "event_type",
        f"{h_sql} % {_HLL_M} AS r",
        f"CASE WHEN {h_sql} div {_HLL_M} = 0 THEN 55 "
        f"ELSE 55 - length(bin({h_sql} div {_HLL_M})) END AS rho",
    )
    m = reg.groupBy("event_type", "r").agg(F.max("rho").alias("mj"))
    s = m.groupBy("event_type").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 56 - mj)"))
            + (F.lit(_HLL_M) - F.count("*")) * F.expr("shiftleft(CAST(1 AS BIGINT), 56)")
        )
        .cast("bigint")
        .alias("int_sum"),
        (F.lit(_HLL_M) - F.count("*")).cast("bigint").alias("empty_registers"),
    )
    return s.select(
        "event_type",
        "int_sum",
        "empty_registers",
        F.expr(_HLL_EST).alias("est_users"),
    )


_QB = 256  # quantile bands


@q(
    "portable_quantile_bands",
    f"""
    WITH g AS (SELECT min(value) AS lo, max(value) AS hi,
                      (max(value) - min(value)) / {_QB} AS w
               FROM events),
    b AS (
      SELECT event_type,
             least(CAST(floor((value - g.lo) / g.w) AS BIGINT), {_QB - 1}) AS bk
      FROM events CROSS JOIN g
    ),
    c AS (SELECT event_type, bk, count(*) AS n FROM b GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bk, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bk
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cn,
             sum(n) OVER (PARTITION BY event_type) AS nt
      FROM c
    )
    SELECT event_type,
           round(min(CASE WHEN 2 * cn >= nt THEN g.lo + (bk + 0.5) * g.w END),
                 4) AS p50_est,
           round(min(CASE WHEN 20 * cn >= 19 * nt
                          THEN g.lo + (bk + 0.5) * g.w END), 4) AS p95_est
    FROM cum CROSS JOIN g
    GROUP BY 1
    """,
)
def portable_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation with a FULL value-hash oracle — the
    quantile twin of portable_hll_cardinality. The sketch is a 256-band
    equi-width histogram: band counts are exact integers (mergeable by
    addition in any order), the quantile is the midpoint of the first
    band whose cumulative count crosses the integer threshold
    (2·cum ≥ n for p50, 20·cum ≥ 19·n for p95 — no float fractions), so
    the estimate is bit-identical across engines and merge orders,
    unlike approx_percentile's t-digest (rows-only sketch_cardinality).
    Error is bounded by the band width, asserted against exact
    percentiles in pytest.

    At 100 TB: one global min/max pass (1-row broadcast), then one
    (group, band) partial-agg shuffle of ≤ groups × 256 rows — the same
    constant-state merge story as the HLL registers."""
    ev = tbl(spark, sf_dir, "events")
    g = F.broadcast(
        ev.agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            ((F.max("value") - F.min("value")) / _QB).alias("w"),
        )
    )
    b = ev.crossJoin(g).select(
        "event_type",
        "lo",
        "w",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / F.col("w")).cast("long"),
            F.lit(_QB - 1),
        ).alias("bk"),
    )
    c = b.groupBy("event_type", "lo", "w", "bk").agg(F.count("*").alias("n"))
    wc = W.partitionBy("event_type").orderBy("bk").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wt = W.partitionBy("event_type")
    cum = c.select(
        "event_type",
        "lo",
        "w",
        "bk",
        F.sum("n").over(wc).alias("cn"),
        F.sum("n").over(wt).alias("nt"),
    )
    mid = F.col("lo") + (F.col("bk") + 0.5) * F.col("w")
    return cum.groupBy("event_type").agg(
        F.round(F.min(F.when(2 * F.col("cn") >= F.col("nt"), mid)), 4).alias(
            "p50_est"
        ),
        F.round(
            F.min(F.when(20 * F.col("cn") >= 19 * F.col("nt"), mid)), 4
        ).alias("p95_est"),
    )


_SKC_SQL = f"""
    WITH h AS (
      SELECT event_type,
             {HASH60.format(x="CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    reg AS (
      SELECT event_type, hv % {_HLL_M} AS r,
             CASE WHEN hv // {_HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(hv // {_HLL_M})) END AS rho
      FROM h
    ),
    m AS (SELECT event_type, r, max(rho) AS mj FROM reg GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(sum(1::BIGINT << (56 - mj))
                  + ({_HLL_M} - count(*)) * (1::BIGINT << 56) AS BIGINT)
                 AS int_sum,
             CAST({_HLL_M} - count(*) AS BIGINT) AS empty_registers
      FROM m GROUP BY 1
    ),
    hll AS (SELECT event_type, {_HLL_EST} AS hll_users FROM s),
    ke AS (
      SELECT DISTINCT event_type,
             {HASH60.format(x="CAST(event_id AS VARCHAR)")} AS hv
      FROM events
    ),
    kr AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM ke
    ),
    kmv AS (
      SELECT event_type,
             CAST(CASE WHEN count(*) < {_KMV_K} THEN count(*)
                  ELSE {(_KMV_K - 1) * _KMV_DOMAIN}
                       // max(CASE WHEN rn = {_KMV_K} THEN hv END)
                  END AS BIGINT) AS kmv_events
      FROM kr WHERE rn <= {_KMV_K} GROUP BY 1
    ),
    qn AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value)
                 AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    qq AS (
      SELECT event_type,
             min(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50_value,
             min(CASE WHEN rn = (19 * n + 19) // 20 THEN value END)
                 AS p95_value
      FROM qn GROUP BY 1
    )
    SELECT hll.event_type, hll.hll_users, kmv.kmv_events,
           qq.p50_value, qq.p95_value
    FROM hll JOIN kmv USING (event_type) JOIN qq USING (event_type)
    ORDER BY hll.event_type
"""


@q("sketch_cardinality", _SKC_SQL)
def sketch_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type sketch panel with a FULL value-hash oracle: distinct-user
    cardinality via the portable integer-exact HyperLogLog (the
    `portable_hll_cardinality` register algebra), distinct-event
    cardinality via the portable k-minimum-values estimator (the
    `portable_kmv_jaccard` sketch), and p50/p95 of `value` as EXACT
    order-statistic SELECTION (row at rank ceil(p*n) per group — no
    interpolation arithmetic, so the chosen doubles are bit-identical in
    any engine). Every estimator's branch condition is integer-gated, so
    DuckDB and Spark take the same code path and the whole row hashes
    identically — this is the r6 conversion of the old rows-only form
    (which lives on as `native_sketch_cardinality` below, still the
    coverage point for Spark's built-in DataSketches surface).

    At 100 TB: HLL shuffles <= groups x 64 register rows (map-side
    max-combine); KMV shuffles the per-group candidate minima; the exact
    quantile legs are the one rank-based pass (per-group sort) — the
    portable sketches are the mergeable path, the quantile selection the
    certifiable anchor."""
    ev = tbl(spark, sf_dir, "events")
    h_sql = (
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    reg = ev.selectExpr(
        "event_type",
        f"{h_sql} % {_HLL_M} AS r",
        f"CASE WHEN {h_sql} div {_HLL_M} = 0 THEN 55 "
        f"ELSE 55 - length(bin({h_sql} div {_HLL_M})) END AS rho",
    )
    m = reg.groupBy("event_type", "r").agg(F.max("rho").alias("mj"))
    s = m.groupBy("event_type").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 56 - mj)"))
            + (F.lit(_HLL_M) - F.count("*"))
            * F.expr("shiftleft(CAST(1 AS BIGINT), 56)")
        )
        .cast("bigint")
        .alias("int_sum"),
        (F.lit(_HLL_M) - F.count("*")).cast("bigint").alias("empty_registers"),
    )
    hll = s.select("event_type", F.expr(_HLL_EST).alias("hll_users"))
    ke = ev.select(
        "event_type",
        portable_hash60(F.col("event_id").cast("string")).alias("hv"),
    ).distinct()
    kr = ke.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("event_type").orderBy("hv")),
    ).where(F.col("rn") <= _KMV_K)
    kmv = kr.groupBy("event_type").agg(
        F.when(F.count("*") < _KMV_K, F.count("*").cast("long"))
        .otherwise(
            F.expr(
                f"CAST(CAST('{(_KMV_K - 1) * _KMV_DOMAIN}'"
                f" AS DECIMAL(38,0))"
                f" div max(CASE WHEN rn = {_KMV_K} THEN hv END) AS BIGINT)"
            )
        )
        .alias("kmv_events")
    )
    qn = (
        ev.select("event_type", "value")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy("value")
            ),
        )
        .withColumn("n", F.count("*").over(W.partitionBy("event_type")))
    )
    qq = qn.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value"))
        ).alias("p50_value"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(19 * n + 19) div 20"),
                F.col("value"),
            )
        ).alias("p95_value"),
    )
    return (
        hll.join(kmv, "event_type")
        .join(qq, "event_type")
        .orderBy("event_type")
    )


@q("native_sketch_cardinality", None)  # binary sketches → rows-only check
def native_sketch_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user cardinality via Spark's BUILT-IN sketch
    surface: ``hll_sketch_agg`` (Apache DataSketches HLL, binary sketches
    merged at the exchange), ``approx_count_distinct`` (HLL++), and
    ``approx_percentile`` (KLL-style quantiles) — the constant-memory,
    mergeable path that replaces exact count-distinct at 100 TB (exact
    needs a shuffle of every distinct key; the sketch shuffles ~KB per
    group). Engine-private binary sketch algorithms ⇒ no cross-engine
    value-hash oracle possible; the estimates are instead error-bounded
    in pytest against exact counts at test scale, and the PORTABLE twin
    (`sketch_cardinality`) certifies the same panel shape with a full
    hash oracle."""
    ev = tbl(spark, sf_dir, "events")
    pct = F.approx_percentile(
        "value", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10_000)
    )
    # Percentiles land as two scalar columns, not one array column — the
    # driver canonicalizes output through a pandas sort that cannot hash
    # list cells (r2 crash), and scalars keep the row shape flat anyway.
    return (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"),
            F.approx_count_distinct("event_id").alias("approx_events"),
            F.element_at(pct, 1).alias("value_p50"),
            F.element_at(pct, 2).alias("value_p95"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# TF-IDF — exact integer-scaled scoring, top-k terms per document
# ---------------------------------------------------------------------------

_TOP_TERMS = 3


@q(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
        SELECT doc_id, term FROM (
            SELECT doc_id,
                   UNNEST(string_split_regex(lower(text), '\\W+')) AS term
            FROM documents)
        WHERE term <> ''
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ((n.n_docs * 1000) // df.df) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(score AS BIGINT) AS score
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          FROM scored)
    WHERE rk <= {_TOP_TERMS}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, in exact integer arithmetic.

    idf is integer-scaled (``n_docs*1000 // df``) instead of ``ln(N/df)``:
    all-integer scoring is bit-identical across engines and libm versions,
    so the ranking (and the oracle hash) can never flip on float noise —
    the determinism discipline the whole query surface follows.

    Plan: tokenize = codegen'd split+explode (no UDF); tf = one shuffle on
    (doc_id, term); df reuses the tf result with a map-side partial
    count-distinct; idf table is term-cardinality-sized and joins back
    broadcast-hinted; top-k = row_number window on doc_id. At 100 TB the
    dominant cost is the (doc_id, term) shuffle — exactly the token stream,
    which is the information-theoretic floor for exact TF-IDF.
    """
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\W+")).alias("term"),
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            # `div`, not `/` + cast: float division truncated can disagree
            # with integer floor-div by 1 ulp; `div` is exact on longs and
            # matches DuckDB's `//` for non-negative operands.
            (F.col("tf") * F.expr("(n_docs * 1000) div df")).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_TERMS)
        .select("doc_id", "term", "score")
    )


@q(
    "group_median",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS med,
           round(quantile_cont(value, 0.9), 4) AS p90,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def group_median(spark, sf_dir):
    """EXACT interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: both interpolate at rank p·(n-1)).

    The exact form needs the group's values together — one shuffle on the
    group key, sort within group. That is the right tool up to
    millions-of-rows-per-group; past that the approx_percentile sketch in
    `sketch_cardinality` is the scale path (bounded memory, mergeable).
    Keeping both, exact and sketch, is the point: reconciliation reports
    want exactness, monitoring wants O(1) state."""
    return (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("med"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("event_type")
    )


@q(
    "unpivot_metrics",
    """
    WITH s AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                      l_discount
               FROM lineitem WHERE l_orderkey % 500 = 0)
    SELECT l_orderkey, l_linenumber, metric, round(val, 2) AS val
    FROM s UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
    """,
)
def unpivot_metrics(spark, sf_dir):
    """Wide→long unpivot (melt): the inverse of `pivot_daily_events`,
    turning N measure columns into (metric, val) rows — the shape metric
    stores and long-format exports want.

    Pure row-local expansion (Spark compiles it to an Expand node): zero
    shuffle, output = rows × measures, scales with the scan."""
    li = (
        tbl(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 500 == 0)
        .select(
            "l_orderkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount",
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    ).withColumn("val", F.round("val", 2))


# ---------------------------------------------------------------------------
# Product analytics: ordered funnel, retention cohorts, winsorized stats
# ---------------------------------------------------------------------------


@q(
    "funnel_conversion",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
    ),
    counts AS (
              SELECT 1 AS stage, 'view' AS step, count(*) AS n FROM s1
    UNION ALL SELECT 2, 'click', count(*) FROM s2
    UNION ALL SELECT 3, 'purchase', count(*) FROM s3
    )
    SELECT CAST(stage AS INT) AS stage, step, CAST(n AS INT) AS n_users,
           round(100.0 * n / max(CASE WHEN stage = 1 THEN n END) OVER (), 2)
               AS pct_of_top
    FROM counts
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: how many users progressed view → click →
    purchase in strict timestamp order (each step strictly after the
    user's entry into the previous one). The product-analytics staple for
    conversion measurement.

    Plan shape: each stage is a conditional min keyed on user_id —
    partial-agg heavy, one shuffle each, all on the SAME key so AQE
    coalesces the exchanges; the stage-k frame only carries users who
    survived stage k-1 (monotonically shrinking). The final pct is a
    window over a 3-row frame. No step needs the event bodies — only
    (user_id, ts) moves.
    """
    e = tbl(spark, sf_dir, "events")
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        s1.agg(F.count("*").alias("n")).select(
            F.lit(1).alias("stage"), F.lit("view").alias("step"), "n"
        )
        .unionByName(
            s2.agg(F.count("*").alias("n")).select(
                F.lit(2).alias("stage"), F.lit("click").alias("step"), "n"
            )
        )
        .unionByName(
            s3.agg(F.count("*").alias("n")).select(
                F.lit(3).alias("stage"), F.lit("purchase").alias("step"), "n"
            )
        )
    )
    top = F.max(F.when(F.col("stage") == 1, F.col("n"))).over(
        W.partitionBy()  # 3-row frame: a single-partition window is fine
    )
    return counts.select(
        F.col("stage").cast("int").alias("stage"),
        "step",
        F.col("n").cast("int").alias("n_users"),
        F.round(F.lit(100.0) * F.col("n") / top, 2).alias("pct_of_top"),
    )


#: Monday-anchored week numbering: days since 1970-01-05 (a Monday) div 7 —
#: identical integer arithmetic in both engines, no date_trunc semantics to
#: align.
_WEEK_EXPR = "datediff(CAST({c} AS DATE), DATE'1970-01-05') div 7"
_WEEK_SQL = "(CAST({c} AS DATE) - DATE '1970-01-05') // 7"


@q(
    "retention_cohorts",
    f"""
    WITH first AS (
      SELECT user_id, {_WEEK_SQL.format(c="min(ts)")} AS cw
      FROM events GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.cw,
             {_WEEK_SQL.format(c="e.ts")} - f.cw AS wo
      FROM events e JOIN first f ON e.user_id = f.user_id
    )
    SELECT CAST(cw AS INT) AS cohort_week,
           CAST(wo AS INT) AS week_offset,
           CAST(count(*) AS INT) AS n_active
    FROM act GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort triangle: users grouped by the week of their first
    event (the cohort), counted as active in each subsequent week-offset.
    The other product-analytics staple next to the funnel.

    Week ids are pure integer arithmetic on epoch days (Monday-anchored),
    so both engines bucket identically with no date_trunc/locale
    semantics in play. Plan shape: first-event week is one agg keyed on
    user_id; activity dedup is a DISTINCT keyed on (user, cohort, offset);
    the final count is a small agg — every shuffle key is id-sized, and
    the cohort join broadcasts nothing data-proportional (it's keyed on
    user_id like the funnel's stages).
    """
    e = tbl(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.expr(_WEEK_EXPR.format(c="min(ts)")).alias("cw")
    )
    act = (
        e.select("user_id", "ts")
        .join(first, "user_id")
        .select(
            "user_id",
            "cw",
            (F.expr(_WEEK_EXPR.format(c="ts")) - F.col("cw")).alias("wo"),
        )
        .distinct()
    )
    return act.groupBy(
        F.col("cw").cast("int").alias("cohort_week"),
        F.col("wo").cast("int").alias("week_offset"),
    ).agg(F.count("*").cast("int").alias("n_active"))


@q(
    "winsorized_stats",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(*) AS INT) AS n,
           CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS INT) AS n_clipped,
           CAST(round(sum(CAST(round(least(greatest(e.value, b.lo), b.hi), 6)
                              AS DECIMAL(24,10))), 2) AS DOUBLE)
               AS sum_winsorized
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY 1
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped) statistics: per event_type, clamp `value` to
    its exact [p05, p95] band and report how many rows were clipped plus
    the clipped sum — the robust-statistics cleaning pass that stops a few
    wild outliers from dominating downstream aggregates.

    Two-pass shape: the percentile bounds are ONE small aggregate (5
    rows) broadcast back onto the fact scan, then a single partial-agg
    pass computes the clipped sum — the clip itself is row-local. The
    clipped values are rounded then summed as DECIMAL so the reported sum
    is independent of partial-agg merge order (exact `percentile` ≡
    DuckDB `quantile_cont` is already certified by group_median).
    """
    e = tbl(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clipped = F.round(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 6)
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("int").alias("n"),
            F.sum(
                ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
                .cast("bigint")
            )
            .cast("int")
            .alias("n_clipped"),
            F.round(F.sum(clipped.cast("decimal(24,10)")), 2)
            .cast("double")
            .alias("sum_winsorized"),
        )
    )


@q(
    "scd2_intervals",
    f"""
    WITH t AS (
      SELECT user_id, event_type AS state, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
      SELECT user_id, state, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM t
    ),
    iv AS (
      SELECT user_id, state, grp, min(ts) AS valid_from
      FROM g GROUP BY 1, 2, 3
    )
    SELECT user_id, state,
           {TS_STR.format(col="valid_from")} AS valid_from,
           {TS_STR.format(col="lead(valid_from) OVER (PARTITION BY user_id ORDER BY grp)")}
               AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY grp) IS NULL
               AS is_current
    FROM iv
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (SCD type 2) interval build: collapse each
    user's event stream into [valid_from, valid_to) validity intervals of
    their current state (event_type standing in for the tracked
    attribute), consecutive identical states merged, the open interval
    flagged current. This is the standard change-capture → dimension-table
    derivation a warehouse runs over entity snapshots.

    Plan shape: classic gaps-and-islands — a lag-diff marks changes, a
    running sum numbers the runs, one agg takes each run's start, and a
    lead supplies the exclusive end. All four steps share the user_id
    partitioning, so the whole derivation is ONE exchange (the same shape
    `sessionize` certifies by plan test). Interval ends come from lead(),
    never a self-join.
    """
    e = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("bigint")
    g = e.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        F.sum(chg).over(w.rowsBetween(W.unboundedPreceding, 0)).alias("grp"),
    )
    iv = g.groupBy("user_id", "state", "grp").agg(F.min("ts").alias("valid_from"))
    wl = W.partitionBy("user_id").orderBy("grp")
    nxt = F.lead("valid_from").over(wl)
    return iv.select(
        "user_id",
        "state",
        ts_str("valid_from").alias("valid_from"),
        ts_str(nxt).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@q(
    "fuzzy_match_parts",
    """
    WITH dirty AS (
      SELECT p_partkey AS d_key,
             CASE WHEN p_partkey % 3 = 0
                  THEN substr(p_name, 1, len(p_name) - 1)
                  ELSE p_name END AS d_name,
             p_brand, p_type, p_size
      FROM part
    ),
    cand AS (
      SELECT d.d_key, p.p_partkey AS m_key,
             levenshtein(d.d_name, p.p_name) AS lev
      FROM dirty d JOIN part p
        ON d.p_brand = p.p_brand AND d.p_type = p.p_type
           AND d.p_size = p.p_size
           AND substr(d.d_name, 1, 4) = substr(p.p_name, 1, 4)
      WHERE levenshtein(d.d_name, p.p_name) <= 2
    ),
    best AS (
      SELECT d_key, m_key, lev,
             row_number() OVER (PARTITION BY d_key ORDER BY lev, m_key) AS rn
      FROM cand
    )
    SELECT d_key, m_key, CAST(lev AS INT) AS lev, m_key = d_key AS self_match
    FROM best WHERE rn = 1
    """,
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-string entity resolution: a deterministically-corrupted
    "dirty" catalog (every 3rd part name loses its last character) is
    matched back to the clean part table by attribute blocking on
    (brand, type, size), edit-distance scoring within each block, and
    deterministic best-match resolution (lowest distance, then lowest
    key). The standard record-linkage shape: block → score → resolve.

    Scale path: candidate generation is an equi-join on a COMPOSED
    blocking key — attributes (brand, type, size) × a name-prefix bucket
    (first 4 chars) — never all-pairs. The attribute block alone grows
    linearly with the catalog, so its in-block pairs grow quadratically
    (measured 2.6× time at 10× data in r3, SCALE.md); composing the
    prefix bucket multiplies the distinct-key count by the prefix
    cardinality, so block sizes — and in-block pair volume — stay bounded
    as the catalog grows. The prefix is recall-safe for THIS corruption
    model (last-character truncation never alters a 4-char prefix of
    names ≥5 chars); production ER composes a complementary second pass
    (e.g. a suffix or phonetic bucket) for edits that hit the prefix.
    Resolution is one window per dirty record over its (tiny) candidate
    set. Everything stays JVM-side: `levenshtein` is a codegen'd builtin
    in both engines.
    """
    p = tbl(spark, sf_dir, "part")
    dirty = p.select(
        F.col("p_partkey").alias("d_key"),
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.expr("substring(p_name, 1, length(p_name) - 1)"),
        )
        .otherwise(F.col("p_name"))
        .alias("d_name"),
        "p_brand",
        "p_type",
        "p_size",
    ).withColumn("name_pfx", F.expr("substring(d_name, 1, 4)"))
    cand = (
        dirty.join(
            p.withColumn("name_pfx", F.expr("substring(p_name, 1, 4)")),
            ["p_brand", "p_type", "p_size", "name_pfx"],
        )
        .select(
            "d_key",
            F.col("p_partkey").alias("m_key"),
            F.levenshtein("d_name", "p_name").alias("lev"),
        )
        .where(F.col("lev") <= 2)
    )
    rn = F.row_number().over(W.partitionBy("d_key").orderBy("lev", "m_key"))
    return (
        cand.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "d_key",
            "m_key",
            F.col("lev").cast("int").alias("lev"),
            (F.col("m_key") == F.col("d_key")).alias("self_match"),
        )
    )


@q(
    "fuzzy_match_two_pass",
    """
    WITH dirty AS (
      SELECT p_partkey AS d_key,
             CASE WHEN p_partkey % 3 = 0
                  THEN substr(p_name, 1, len(p_name) - 1)
                  WHEN p_partkey % 5 = 0
                  THEN substr(p_name, 2)
                  ELSE p_name END AS d_name,
             p_brand, p_type, p_size
      FROM part
    ),
    cand AS (
      SELECT d_key, m_key, levenshtein(d_name, m_name) AS lev FROM (
        SELECT d.d_key, d.d_name, p.p_partkey AS m_key, p.p_name AS m_name
        FROM dirty d JOIN part p
          ON d.p_brand = p.p_brand AND d.p_type = p.p_type
             AND d.p_size = p.p_size
             AND substr(d.d_name, 1, 4) = substr(p.p_name, 1, 4)
        UNION
        SELECT d.d_key, d.d_name, p.p_partkey, p.p_name
        FROM dirty d JOIN part p
          ON d.p_brand = p.p_brand AND d.p_type = p.p_type
             AND d.p_size = p.p_size
             AND substr(d.d_name, -4) = substr(p.p_name, -4)
      ) WHERE levenshtein(d_name, m_name) <= 2
    ),
    best AS (
      SELECT d_key, m_key, lev,
             row_number() OVER (PARTITION BY d_key ORDER BY lev, m_key) AS rn
      FROM cand
    )
    SELECT d_key, m_key, CAST(lev AS INT) AS lev, m_key = d_key AS self_match
    FROM best WHERE rn = 1
    """,
)
def fuzzy_match_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complementary-blocking-pass composition fuzzy_match_parts'
    docstring promises: candidates are the UNION of a name-PREFIX-blocked
    join (catches suffix edits — here every 3rd part's last char dropped)
    and a name-SUFFIX-blocked join (catches prefix edits — every 5th
    part's first char dropped), deduped before scoring. Either pass alone
    would orphan one corruption class; the union restores full recall
    while each pass keeps the bounded-block-size property (pairs linear
    in catalog size, never quadratic).

    This is the standard multi-pass blocking of production record
    linkage: O(passes) bounded equi-joins instead of one unbounded block
    or an all-pairs comparison."""
    p = tbl(spark, sf_dir, "part")
    dirty = p.select(
        F.col("p_partkey").alias("d_key"),
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.expr("substring(p_name, 1, length(p_name) - 1)"),
        )
        .when(F.col("p_partkey") % 5 == 0, F.expr("substring(p_name, 2)"))
        .otherwise(F.col("p_name"))
        .alias("d_name"),
        "p_brand",
        "p_type",
        "p_size",
    )

    # No distinct between the passes: a pair both blocks emit appears
    # twice, but duplicates of an identical (d_key, m_key, lev) row can
    # never displace the rn=1 winner under the deterministic (lev, m_key)
    # order — whichever copy wins, the OUTPUT row is the same values. The
    # oracle's UNION dedups and provably agrees. Dropping it removes a
    # full shuffle of candidate-pair name strings (the widest rows in the
    # query); the only remaining exchange is the d_key window.
    #
    # r9: both passes STACK into one join (the lsh_band_sweep trick) —
    # each side explodes its (pass, block-key) pairs and joins once on
    # (attrs, pass, blk). A pair matching under pass k still meets
    # exactly once per matching pass, so the candidate multiset is
    # unchanged, while the catalog is scanned once per side instead of
    # once per side per pass (4 scans → 2) and the two joins become one.
    def keyed(df: DataFrame, name_col: str) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("pass"),
                        F.expr(f"substring({name_col}, 1, 4)").alias("blk"),
                    ),
                    F.struct(
                        F.lit(2).alias("pass"),
                        F.expr(f"substring({name_col}, -4, 4)").alias("blk"),
                    ),
                )
            ).alias("pb"),
        ).select(df.columns + ["pb.pass", "pb.blk"])

    cand = (
        keyed(dirty, "d_name")
        .join(
            keyed(p, "p_name").select(
                "p_brand", "p_type", "p_size", "pass", "blk",
                "p_partkey", "p_name",
            ),
            ["p_brand", "p_type", "p_size", "pass", "blk"],
        )
        .select(
            "d_key",
            "d_name",
            F.col("p_partkey").alias("m_key"),
            F.col("p_name").alias("m_name"),
        )
        .withColumn("lev", F.levenshtein("d_name", "m_name"))
        .where(F.col("lev") <= 2)
    )
    rn = F.row_number().over(W.partitionBy("d_key").orderBy("lev", "m_key"))
    return (
        cand.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "d_key",
            "m_key",
            F.col("lev").cast("int").alias("lev"),
            (F.col("m_key") == F.col("d_key")).alias("self_match"),
        )
    )


#: fixed 2-dp decimal render — the one float→string path both engines
#: format identically (same trick as array_slice_limit)
_VAL_DIG = "CAST(CAST(round(value, 2) AS DECIMAL(18,2)) AS VARCHAR)"
_VAL_DIG_SPARK = "CAST(CAST(round(value, 2) AS DECIMAL(18,2)) AS STRING)"


@q(
    "snapshot_diff",
    f"""
    WITH old AS (
      SELECT event_id, event_type,
             md5(concat_ws('|', CAST(user_id AS VARCHAR), event_type,
                           {_VAL_DIG})) AS dig
      FROM events WHERE event_id % 11 <> 0
    ),
    new AS (
      SELECT event_id, event_type,
             md5(concat_ws('|', CAST(user_id AS VARCHAR), event_type,
                           CAST(CAST(round(
                               CASE WHEN event_id % 5 = 0 THEN value + 1
                                    ELSE value END, 2) AS DECIMAL(18,2))
                                AS VARCHAR))) AS dig
      FROM events WHERE event_id % 7 <> 0
    )
    SELECT coalesce(o.event_type, n.event_type) AS event_type,
           CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                WHEN o.dig <> n.dig THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS INT) AS n
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    GROUP BY 1, 2
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (change-data-capture audit): compare two
    lake snapshots by primary key and a row digest, classifying every key
    as added / removed / changed / unchanged — the reconciliation report a
    pipeline runs after a backfill or migration to prove what actually
    moved. Snapshots are simulated deterministically from events (old
    misses the %11 keys "added later", new misses the %7 keys "deleted",
    and every 5th value drifted).

    Scale shape (r9): both simulated snapshots derive row-for-row from
    the SAME table on a unique key, so the full-outer join the oracle
    writes is pure common-subexpression: each event_id meets only its
    own row on the other side. The plan therefore classifies every row
    LOCALLY (membership from the key residues, change from comparing the
    two digests computed side by side) and the only shuffle left is the
    |event_type|x|status| aggregate — one scan, zero joins, nothing
    corpus-sized on the wire. When the snapshots really are two separate
    tables this collapse is unavailable and the digest-join belongs to
    `merkle_snapshot_diff`, the hierarchical scale path. The digest
    renders floats through a fixed-scale DECIMAL so both engines hash
    identical bytes.
    """
    e = tbl(spark, sf_dir, "events")
    in_old = F.col("event_id") % 11 != 0
    in_new = F.col("event_id") % 7 != 0
    dig_old = F.md5(
        F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            "event_type",
            F.expr(_VAL_DIG_SPARK),
        )
    )
    mutated = F.when(F.col("event_id") % 5 == 0, F.col("value") + 1).otherwise(
        F.col("value")
    )
    dig_new = F.md5(
        F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            "event_type",
            F.round(mutated, 2).cast("decimal(18,2)").cast("string"),
        )
    )
    status = (
        F.when(~in_old, "added")
        .when(~in_new, "removed")
        .when(dig_old != dig_new, "changed")
        .otherwise("unchanged")
    )
    return (
        e.where(in_old | in_new)
        .groupBy("event_type", status.alias("status"))
        .agg(F.count("*").cast("int").alias("n"))
    )


@q(
    "event_transitions",
    """
    WITH t AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT prev, event_type AS next, CAST(count(*) AS INT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY prev), 4) AS p
    FROM t WHERE prev IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for each
    (previous event, next event) pair, the observed count and the
    row-normalized transition probability — the user-journey model behind
    next-action prediction and anomaly scoring.

    One lag window and one aggregate, both keyed on user_id / the tiny
    (prev, next) type matrix; the normalizing window runs over ≤|event
    types|² rows. The probability is a single integer÷integer division
    (deterministic — no float accumulation).
    """
    e = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    counts = t.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count("*").alias("cnt")
    )
    norm = W.partitionBy("prev")
    return counts.select(
        "prev",
        "next",
        F.col("cnt").cast("int").alias("n"),
        F.round(
            F.col("cnt").cast("double") / F.sum("cnt").over(norm), 4
        ).alias("p"),
    )


@q(
    "conversion_latency",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    pur AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t1 GROUP BY 1
    ),
    lat AS (
      SELECT (epoch_us(t2) - epoch_us(v.t1)) // 1000000 AS sec
      FROM pur JOIN v ON pur.user_id = v.user_id
    )
    SELECT CAST(count(*) AS INT) AS n_converted,
           round(quantile_cont(sec, 0.5), 2) AS p50_sec,
           round(quantile_cont(sec, 0.9), 2) AS p90_sec,
           CAST(max(sec) AS BIGINT) AS max_sec
    FROM lat
    """,
)
def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: seconds from a user's first view to
    their first subsequent purchase, summarized as exact p50/p90/max —
    the companion metric to the funnel (the funnel says HOW MANY convert,
    this says HOW FAST).

    Same two conditional-min aggregates as the funnel's stages (keyed on
    user_id), then one global percentile over the per-user latency — the
    latency is floored to whole integer seconds BEFORE the percentile so
    the interpolation runs on exact integers in both engines.

    Plan shape (r9): the oracle's two aggregate+join passes collapse to
    ONE user_id exchange — a window computes each user's first-view time
    t1 alongside every row, purchase rows after t1 then reduce to the
    per-user first conversion in a groupBy on the SAME key, which reuses
    the window's partitioning with no second shuffle (guide §2.4). The
    events table is scanned once instead of three times and the two
    user-keyed joins disappear; per-user (t1, min purchase ts > t1) is
    definitionally the same pair the join form computed.
    """
    e = tbl(spark, sf_dir, "events")
    wv = W.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(wv)
    lat = (
        e.select("user_id", "event_type", "ts", t1.alias("t1"))
        .where(
            (F.col("event_type") == "purchase")
            & F.col("t1").isNotNull()
            & (F.col("ts") > F.col("t1"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
        .select(
            F.expr(
                "(unix_micros(t2) - unix_micros(t1)) div 1000000"
            ).alias("sec")
        )
    )
    return lat.agg(
        F.count("*").cast("int").alias("n_converted"),
        F.round(F.expr("percentile(sec, 0.5)"), 2).alias("p50_sec"),
        F.round(F.expr("percentile(sec, 0.9)"), 2).alias("p90_sec"),
        F.max("sec").cast("bigint").alias("max_sec"),
    )


# ---------------------------------------------------------------------------
# Statistical profiling: regression, correlation, histogram, anomaly flags
# — every one is a single partial-agg pass over exact (decimal/integer)
# sufficient statistics, with the float math confined to ONE closed-form
# expression per group evaluated identically in both engines.
# ---------------------------------------------------------------------------


@q(
    "groupwise_regression",
    """
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             sum(epoch_us(ts) // 86400000000) AS sx,
             sum(CAST(value AS DECIMAL(24,10))) AS sy,
             sum(CAST((epoch_us(ts) // 86400000000) * value
                      AS DECIMAL(30,10))) AS sxy,
             sum((epoch_us(ts) // 86400000000)
                 * (epoch_us(ts) // 86400000000)) AS sxx
      FROM events GROUP BY 1
    )
    SELECT event_type, CAST(n AS INT) AS n,
           round((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx),
                 6) AS slope_per_day,
           round((CAST(sy AS DOUBLE)
                  - ((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
                    * sx) / n,
                 4) AS intercept
    FROM s
    """,
)
def groupwise_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend: slope/intercept of value over time
    (epoch days) for each event type — the "is this metric drifting"
    primitive behind capacity planning and KPI monitoring.

    One aggregation pass accumulates the four sufficient statistics
    (Σx, Σy, Σxy, Σx²) — x is an exact integer day, y-sums run on
    DECIMAL — then the closed-form slope is a single float expression per
    group, written token-identically in both engines so the rounded
    result is bit-equal. No second pass, no window, no join.
    """
    e = tbl(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(day).alias("sx"),
        F.sum(F.col("value").cast("decimal(24,10)")).alias("sy"),
        F.sum((day * F.col("value")).cast("decimal(30,10)")).alias("sxy"),
        F.sum(day * day).alias("sxx"),
    )
    slope = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx") * F.col("sy").cast("double")
    ) / (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return s.select(
        "event_type",
        F.col("n").cast("int").alias("n"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n"), 4
        ).alias("intercept"),
    )


@q(
    "metric_correlations",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity      AS DECIMAL(24,10))) AS sx,
             sum(CAST(l_extendedprice AS DECIMAL(24,10))) AS sy,
             sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10))) AS sxy,
             sum(CAST(l_quantity * l_quantity           AS DECIMAL(30,10))) AS sxx,
             sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,10))) AS syy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, CAST(n AS INT) AS n,
           round((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 4) AS qty_price_corr
    FROM s
    """,
)
def metric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation between quantity and price — the
    column-relationship half of profiling (column_profile covers the
    univariate half). Same sufficient-statistics shape as the
    regression: one exact-decimal aggregation pass, one closed-form
    float expression; sqrt is IEEE-correctly-rounded in both engines so
    identical exact inputs give identical rounded output.
    """
    li = wide(
        spark,
        tbl(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        ),
        sf_dir,
        "lineitem",
    )
    d24 = lambda c: F.col(c).cast("decimal(24,10)")  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(d24("l_quantity")).alias("sx"),
        F.sum(d24("l_extendedprice")).alias("sy"),
        F.sum(
            (F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(30,10)")
        ).alias("sxy"),
        F.sum(
            (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(30,10)")
        ).alias("sxx"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(
                "decimal(30,10)"
            )
        ).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select(
        "l_returnflag",
        F.col("n").cast("int").alias("n"),
        F.round(corr, 4).alias("qty_price_corr"),
    )


_HIST_W = 25.0  # bucket width; values land in [0, ~500] → ~20 buckets


@q(
    "value_histogram",
    f"""
    SELECT event_type,
           CAST(least(floor(value / {_HIST_W}), 19) AS INT) AS bucket,
           CAST(count(*) AS INT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of the value distribution per event type —
    fixed bucket width with a clamped overflow bucket, so the binning is
    a pure projection (one floor-divide per row) and the histogram is a
    tiny groupBy; no data-dependent bounds pass, no sort.
    """
    e = tbl(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / _HIST_W), F.lit(19)).cast("int")
    return e.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").cast("int").alias("n")
    )


@q(
    "zscore_anomalies",
    """
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(24,10))) AS sv,
             sum(CAST(value * value AS DECIMAL(30,10))) AS svv
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT event_type, n,
             CAST(sv AS DOUBLE) / n AS mean,
             sqrt(CAST(svv AS DOUBLE) / n
                  - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n))
                 AS sd
      FROM s
    )
    SELECT e.event_type,
           CAST(b.n AS INT) AS n,
           CAST(sum(CASE WHEN abs(e.value - b.mean) > 3 * b.sd
                         THEN 1 ELSE 0 END) AS INT) AS n_anomalies,
           round(b.mean, 4) AS mean,
           round(b.sd, 4) AS sd
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY 1, 2, b.mean, b.sd
    """,
)
def zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score outlier flags: per event type, how many values
    sit beyond 3σ of that type's mean — the cheap first-line anomaly
    screen before anything model-based.

    Two-pass shape like winsorized_stats: exact-decimal sufficient
    statistics → tiny per-type (mean, sd) table broadcast back onto the
    scan → one counting pass. mean/sd derive from exact sums via the
    same expression in both engines, so the 3σ comparison flags
    identical rows.
    """
    e = tbl(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(24,10)")).alias("sv"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(30,10)")).alias(
            "svv"
        ),
    )
    mean = F.col("sv").cast("double") / F.col("n")
    b = s.select(
        "event_type",
        "n",
        mean.alias("mean"),
        F.sqrt(F.col("svv").cast("double") / F.col("n") - mean * mean).alias("sd"),
    )
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "n", "mean", "sd")
        .agg(
            F.sum(
                (F.abs(F.col("value") - F.col("mean")) > 3 * F.col("sd")).cast(
                    "bigint"
                )
            )
            .cast("int")
            .alias("n_anomalies")
        )
        .select(
            "event_type",
            F.col("n").cast("int").alias("n"),
            "n_anomalies",
            F.round("mean", 4).alias("mean"),
            F.round("sd", 4).alias("sd"),
        )
    )


#: Count-min sketch geometry: d hash rows × w buckets. Counters are EXACT
#: integer sums over portable-hash buckets, so the sketch — unlike the
#: order-sensitive space-saving summary — is mergeable in any order and
#: bit-identical across engines, the same discipline as portable_hll /
#: portable_quantile_bands.
_CMS_D = 3
_CMS_W = 256


def _cms_bucket_spark(i: int) -> str:
    return (
        f"CAST(conv(substring(md5(concat('cms{i}|', "
        f"CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % {_CMS_W}"
    )


_CMS_BUCKET_DUCK = (
    "(('0x' || substr(md5('cms' || CAST({i} AS VARCHAR) || '|' || "
    "CAST({uid} AS VARCHAR)), 1, 15))::BIGINT) % " + str(_CMS_W)
)


@q(
    "portable_cms_heavy_hitters",
    f"""
    WITH rows_ AS (SELECT unnest([0, 1, 2]) AS i),
    exp AS (
      SELECT r.i,
             {_CMS_BUCKET_DUCK.format(i="r.i", uid="e.user_id")} AS bucket
      FROM events e, rows_ r
    ),
    counters AS (
      SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
      FROM exp GROUP BY 1, 2
    ),
    truecnt AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY 1
      ORDER BY true_cnt DESC, user_id ASC LIMIT 10
    ),
    probes AS (
      SELECT t.user_id, t.true_cnt, r.i,
             {_CMS_BUCKET_DUCK.format(i="r.i", uid="t.user_id")} AS bucket
      FROM truecnt t, rows_ r
    )
    SELECT p.user_id, p.true_cnt,
           CAST(min(c.c) AS BIGINT) AS cm_est,
           CAST(min(c.c) - p.true_cnt AS BIGINT) AS overcount
    FROM probes p JOIN counters c ON p.i = c.i AND p.bucket = c.bucket
    GROUP BY 1, 2
    """,
)
def portable_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with a FULL value-hash oracle: d×w exact integer
    counters over portable md5 buckets, probed with the true top-10 users
    — ``cm_est = min_i counter[i][h_i(user)]`` is ≥ the true count by
    construction (``overcount`` ≥ 0 always; bounded by pytest at the
    standard eN/w). The deterministic-integer design makes the ESTIMATES
    hash-certifiable, which no sampled or order-sensitive heavy-hitter
    summary (space-saving, Misra-Gries) can offer.

    At 100 TB: the counter build is one partial-agg'd shuffle of
    (row, bucket) pairs — at most d×w = 768 rows survive per partition's
    map-side combine, so the sketch costs ~nothing regardless of item
    cardinality, and merging shards/days is elementwise integer addition.
    The probe side joins a broadcast 768-row table. The exact top-10
    baseline exists only to certify the estimates; production reads the
    sketch alone."""
    ev = tbl(spark, sf_dir, "events")
    buckets = [F.expr(_cms_bucket_spark(i)) for i in range(_CMS_D)]
    counters = (
        ev.select(F.posexplode(F.array(*buckets)).alias("i", "bucket"))
        .groupBy("i", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
        .limit(10)
    )
    probes = top.select(
        "user_id",
        "true_cnt",
        F.posexplode(F.array(*buckets)).alias("i", "bucket"),
    )
    return (
        probes.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(
            F.min("c").cast("bigint").alias("cm_est"),
            (F.min("c") - F.col("true_cnt")).cast("bigint").alias("overcount"),
        )
    )


@q(
    "time_weighted_avg",
    """
    WITH d AS (
      SELECT event_type, value,
             epoch_us(lead(ts) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dur_us
      FROM events
    ),
    w AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(19,6))
                  * CAST(dur_us AS DECIMAL(15,0)) AS DECIMAL(38,6)) AS wv,
             dur_us
      FROM d WHERE dur_us IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dur_us) AS BIGINT) AS total_us,
           CAST(round(CAST(sum(wv) AS DOUBLE)
                      / CAST(sum(dur_us) AS DOUBLE), 4) AS DOUBLE) AS twa
    FROM w GROUP BY 1
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (the Timescale ``time_weight('LOCF')``
    shape): each observation's value is weighted by how long it was the
    LATEST observation of its series — the correct mean for irregularly
    sampled gauges, where the arithmetic mean over-weights bursts.

    Determinism discipline: interval durations are exact bigint
    microseconds (lead() over a (ts, event_id)-ordered window — the id
    tie-break pins equal-timestamp order in both engines), and the
    weighted sum runs in DECIMAL(38,6) (value DECIMAL(19,6) — 19, not
    18: DuckDB's 18-digit decimals are int64-backed and its multiply
    overflows before widening; 19 forces the hugeint path — ×
    duration DECIMAL(15,0) — cast narrow BEFORE multiplying, so the
    product precision stays inside 38), making the ratio's inputs exact
    at any partial-agg merge order; one final double division + round(4).

    Plan: ONE hash exchange on event_type serves both the lead() window
    and the aggregate (the sessionize single-exchange shape); only
    (event_type, value, ts) rows cross the wire."""
    ev = tbl(spark, sf_dir, "events")
    win = W.partitionBy("event_type").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        "value",
        (
            F.unix_micros(F.lead("ts").over(win)) - F.unix_micros("ts")
        ).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    wv = (
        F.col("value").cast("decimal(19,6)")
        * F.col("dur_us").cast("decimal(15,0)")
    ).cast("decimal(38,6)")
    return (
        d.select("event_type", wv.alias("wv"), "dur_us")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            F.sum("dur_us").cast("bigint").alias("total_us"),
            F.round(
                F.sum("wv").cast("double") / F.sum("dur_us").cast("double"), 4
            )
            .cast("double")
            .alias("twa"),
        )
    )


@q(
    "cdc_apply",
    """
    WITH log AS (
      -- synthetic CDC log derived from events: op by id class, seq = event_id
      SELECT user_id AS key, event_id AS seq,
             CASE WHEN event_id % 13 = 0 THEN 'D'
                  WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS op,
             event_type, CAST(round(CAST(value AS DECIMAL(24,10)), 2)
                              AS DOUBLE) AS value
      FROM events
    ),
    latest AS (
      SELECT key, seq, op, event_type, value,
             row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT key, CAST(seq AS BIGINT) AS last_seq, event_type, value
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture APPLY (the Debezium-consumer / Delta
    change-feed materialization): collapse an ordered I/U/D op log to the
    live snapshot — highest-sequence op wins per key, and a terminal
    DELETE tombstones the key out of the table entirely.

    Last-writer-wins per key is a MAX_BY aggregate, not a window (r9):
    the log sequence is unique per key, so "the rn=1 row of the
    seq-descending window" and "the row carrying max(seq)" are the same
    row — but the aggregate partial-aggregates map-side, so the exchange
    carries one candidate row per key per mapper instead of the whole op
    log (guide §2.3 "aggregate before you shuffle"; the window form
    shuffles and sorts every operation). Applying a day's change feed at
    100 TB is still ONE exchange keyed by entity — now delta-of-keys
    sized, never a per-op loop. The tombstone filter runs after the
    aggregate, exactly like the window form ran it after rn=1. The op
    log here derives deterministically from the events table so the
    oracle can rebuild it."""
    ev = tbl(spark, sf_dir, "events")
    log = ev.select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_id") % 13 == 0, "D")
        .when(F.col("event_id") % 3 == 0, "U")
        .otherwise("I")
        .alias("op"),
        "event_type",
        F.round(F.col("value").cast("decimal(24,10)"), 2)
        .cast("double")
        .alias("value"),
    )
    last = log.groupBy("key").agg(
        F.max_by(
            F.struct("seq", "op", "event_type", "value"), F.col("seq")
        ).alias("r")
    )
    return last.where(F.col("r.op") != "D").select(
        "key",
        F.col("r.seq").cast("bigint").alias("last_seq"),
        F.col("r.event_type").alias("event_type"),
        F.col("r.value").alias("value"),
    )


@q(
    "attribution_last_touch",
    """
    WITH touches AS (
      SELECT user_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ),
    conv AS (
      SELECT user_id, ts AS conv_ts, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    attributed AS (
      SELECT c.event_id, t.event_type AS channel,
             row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY t.ts DESC, t.event_type DESC) AS rn
      FROM conv c JOIN touches t
        ON t.user_id = c.user_id
       AND t.ts <= c.conv_ts
       AND t.ts >= c.conv_ts - INTERVAL 7 DAY
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS conversions
    FROM attributed WHERE rn = 1
    GROUP BY channel
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent qualifying touch (view/click) inside a 7-day lookback —
    the marketing-analytics staple next to the funnel.

    Spark shape: the touch⋈conversion pairing is an equi-join on user_id
    with the lookback as a residual range predicate (NEVER a time-range
    cross join — the user key bounds each block), then one window per
    conversion elects the last touch; ties at the same microsecond break
    on channel name for engine parity. At 100 TB both sides cluster on
    user_id, so AQE reuses one exchange and per-user blocks stay small
    (a user's 7-day touch count)."""
    ev = tbl(spark, sf_dir, "events")
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("ts").alias("t_ts"), F.col("event_type").alias("channel")
    )
    conv = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("conv_ts"), "event_id"
    )
    pairs = conv.join(touches, "user_id").where(
        (F.col("t_ts") <= F.col("conv_ts"))
        & (F.col("t_ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAY"))
    )
    rn = F.row_number().over(
        W.partitionBy("event_id").orderBy(F.desc("t_ts"), F.desc("channel"))
    )
    return (
        pairs.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .groupBy("channel")
        .agg(F.count("*").cast("bigint").alias("conversions"))
    )


#: Bloom geometry: m bits, k portable hash functions. The filter is a
#: DISTINCT SET of set-bit positions (exact integers), so — like the CMS
#: counters — the structure itself is engine-portable and mergeable.
_BLOOM_M = 4096
_BLOOM_K = 3


def _bloom_pos(i: int, key: str):
    """Bloom position i of a key: pmod(xxhash64(i, key), m). Positions are
    Spark-internal (the oracle certifies the JOIN RESULT, never the filter
    internals), so the hash is the native JVM xxhash64 — measured ~6x
    cheaper per row than the portable md5-60 used by oracle-visible
    hashes, and the salt column gives k independent probe functions."""
    return F.pmod(F.xxhash64(F.lit(i), F.col(key)), F.lit(_BLOOM_M))


@q(
    "bloom_semi_join",
    """
    SELECT l.l_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(24,10))), 2)
                AS DOUBLE) AS gross
    FROM lineitem l
    SEMI JOIN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 4500) s
      ON l.l_suppkey = s.s_suppkey
    GROUP BY 1
    """,
)
def bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join (the runtime-filter / sideways-
    information-passing pattern): the selective dimension's keys set bits
    in an m=4096 Bloom filter (k=3 xxhash64 positions); the fact side is
    pre-filtered to rows whose k positions are ALL set BEFORE the real
    semi-join runs. False positives are removed by the exact join, so
    the result — and the oracle — is the plain semi-join: the pass
    certifies the Bloom path changes NOTHING but the amount of data that
    reaches the shuffle.

    At 100 TB this is the decisive join optimization Spark's own
    InjectRuntimeFilter automates for equi-joins, expressed in the same
    shape Spark uses: the set-bit table (≤ m=4096 rows, independent of
    dimension cardinality) BROADCASTS, and each of the k probes is a
    BroadcastHashJoin LeftSemi on a projected position column — fully
    codegen, zero driver collects, and only surviving fact rows pay the
    exchange. (A first cut folded the bitmap into 64 literal longs probed
    with element_at+bit-shifts; Catalyst re-expanded the shared md5 hash
    into every probe — 26 copies in the plan — and per-row literal-array
    construction never constant-folded, making it 8x slower than these
    hash joins. The join formulation keeps every expression single-
    evaluation by construction.) Pruning power is pinned by pytest
    (candidates ≪ fact rows at this selectivity)."""
    li = tbl(spark, sf_dir, "lineitem")
    dim = tbl(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 4500)
    # the filter itself: the union of all k position sets (one shared bit
    # array — a position is "set" no matter which salt set it)
    posdf = (
        dim.select(
            F.explode(
                F.array(*[_bloom_pos(i, "s_suppkey") for i in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    probed = li.select(
        "l_suppkey",
        "l_extendedprice",
        *[_bloom_pos(i, "l_suppkey").alias(f"__p{i}") for i in range(_BLOOM_K)],
    )
    for i in range(_BLOOM_K):
        probed = probed.join(
            F.broadcast(posdf),
            probed[f"__p{i}"] == posdf.pos,
            "left_semi",
        )
    candidates = probed.select("l_suppkey", "l_extendedprice")
    return (
        candidates.join(
            F.broadcast(dim.select("s_suppkey")),
            candidates.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(24,10)")), 2)
            .cast("double")
            .alias("gross"),
        )
    )


@q(
    "mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, med, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1, 2
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(m.med, 4) AS med,
           round(m.mad, 4) AS mad,
           CAST(count(CASE WHEN m.mad > 0
                            AND abs(d.value - m.med) > 3.5 * 1.4826 * m.mad
                           THEN 1 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1, 3, 4
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection (the robust sibling of
    zscore_anomalies): a point is an outlier when its distance from the
    group MEDIAN exceeds 3.5 modified z-scores (1.4826·MAD ≈ σ for
    normal data). Unlike mean/stddev, the breakdown point is 50% — the
    outliers themselves cannot drag the fence, which is why data-quality
    monitors prefer it on heavy-tailed metrics.

    Two exact-percentile passes (median, then median of absolute
    deviations), each a broadcast-joined 5-row aggregate back onto the
    fact scan — the winsorized_stats two-pass shape. Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` (both interpolate at
    p·(n-1), certified by group_median), and the fence comparison uses
    the same float expression in both engines, so even the outlier
    COUNTS hash-match."""
    e = tbl(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    fence = 3.5 * 1.4826 * F.col("mad")
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy(
            "event_type",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count(
                F.when(
                    (F.col("mad") > 0)
                    & (F.abs(F.col("value") - F.col("med")) > fence),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select("event_type", "n", "med", "mad", "n_outliers")
    )


# ---------------------------------------------------------------------------
# Portable PageRank — iterative graph centrality with deterministic-integer
# arithmetic (same portability discipline as portable_hll / portable_cms):
# ranks are parts-per-10^12 BIGINTs, every step is integer mul/div/sum, so a
# fixed iteration count produces the SAME bits on Spark and the DuckDB
# oracle regardless of partial-agg merge order.
# ---------------------------------------------------------------------------

_PR_TOTAL = 1_000_000_000_000
_PR_ITERS = 5


def _pr_iter_cte(k: int) -> str:
    return f"""
    r{k} AS (
      SELECT n.node,
             b.base + (85 * COALESCE(c.contrib, CAST(0 AS BIGINT))) // 100 AS pr
      FROM nodes n CROSS JOIN base b
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum(r.pr // e.outdeg) AS BIGINT) AS contrib
        FROM edges_deg e JOIN r{k - 1} r ON r.node = e.src
        GROUP BY e.dst
      ) c ON c.node = n.node
    )"""


_PAGERANK_SQL = (
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    edges_deg AS (SELECT e.src, e.dst, d.outdeg
                  FROM edges e JOIN deg d ON d.src = e.src),
    base AS (
      SELECT CAST({_PR_TOTAL} AS BIGINT) // (SELECT count(*) FROM nodes)
               AS init,
             (15 * (CAST({_PR_TOTAL} AS BIGINT)
                    // (SELECT count(*) FROM nodes))) // 100 AS base
    ),
    r0 AS (SELECT node, (SELECT init FROM base) AS pr FROM nodes),"""
    + ",".join(_pr_iter_cte(k) for k in range(1, _PR_ITERS + 1))
    + f"""
    SELECT node AS p_partkey, CAST(pr AS BIGINT) AS pr_scaled
    FROM r{_PR_ITERS}
    ORDER BY pr_scaled DESC, p_partkey
    LIMIT 20
    """
)


@q("pagerank_copurchase", _PAGERANK_SQL)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable PageRank over the part co-purchase graph (parts are linked
    when they appear in the same order): 5 damped power-iteration rounds,
    top-20 most-central parts — the canonical iterative-graph workload
    (mirrors the reference's graph-shaped reconciliation walks the way
    near_dup_components does, but with a per-node score instead of a
    label).

    Arithmetic is deterministic-integer end to end: ranks are
    parts-per-10^12 BIGINTs, each round is
    ``base + (85 * sum(pr div outdeg)) div 100`` — integer sums are
    merge-order-exact, so Spark and the 5x-unrolled DuckDB oracle agree
    bit for bit (the float formulation would wobble in the last bit per
    accumulation order).

    Plan/scale: the distinct edge list comes from ``_copurchase_edges``
    (checkpointed, dst-clustered); the degrees aggregate on dst and are
    checkpointed too, so all 5 rounds reuse both. Rank state is
    node-cardinality (the part DIMENSION, orders of magnitude below
    lineitem at 100 TB), so each round BROADCASTS the rank frame into a
    map-side hash join over the cached edge partitions — the edge table
    is never re-shuffled — and the only exchange per round is the
    partial->final integer aggregate on dst, which map-combines down to
    node-cardinality before the wire.
    Isolated nodes (sole part in every one of its orders) leave the loop
    entirely: with no in-edges their rank is exactly `base` after round 1,
    so they re-enter as constants at the end instead of riding 5 no-op
    left joins. For node sets too large to broadcast, the same loop
    degrades gracefully to a shuffle hash join on src — the oracle SQL is
    arithmetic-identical either way.
    """
    raw = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_edges(raw)
    deg = (
        edges.groupBy("dst")  # symmetric graph: indeg == outdeg
        .agg(F.count("*").cast("long").alias("outdeg"))
        .select(F.col("dst").alias("node"), "outdeg")
        .localCheckpoint(eager=False)  # node-sized, reused all rounds
    )
    nodes = raw.select(F.col("l_partkey").alias("node")).distinct()

    n = nodes.count()
    init = _PR_TOTAL // n
    base = (15 * init) // 100

    # In the symmetric co-purchase graph every connected node has in-edges,
    # so contributions cover the full connected set each round: the
    # edges ⋈ share inner join loses nobody. deg's key set IS the
    # connected set (every connected node has out-edges by symmetry).
    rank = deg.select("node").withColumn("pr", F.lit(init).cast("long"))
    for _ in range(_PR_ITERS):
        share = rank.join(_pin_node_side(deg, n), "node").select(
            "node", F.expr("pr div outdeg").alias("share")
        )
        rank = (
            edges.join(_pin_node_side(share, n), share.node == edges.src)
            .groupBy("dst")
            .agg(F.sum("share").cast("long").alias("contrib"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(base).cast("long")
                    + F.expr("(85 * contrib) div 100")
                ).alias("pr"),
            )
        )

    isolated = nodes.join(deg.select("node"), "node", "left_anti").withColumn(
        "pr", F.lit(base).cast("long")
    )
    return (
        rank.unionByName(isolated)
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(20)
        .select(
            F.col("node").alias("p_partkey"),
            F.col("pr").cast("long").alias("pr_scaled"),
        )
    )




@q(
    "portable_kmv_jaccard",
    f"""
    WITH t AS (
      SELECT source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS words
      FROM documents
    ),
    sh AS (
      SELECT source,
             unnest(list_transform(
               generate_series(1, greatest(len(words) - 2, 0)),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
      FROM t
    ),
    h AS (
      SELECT DISTINCT source, {HASH60.format(x="s")} AS hv
      FROM sh
    ),
    sk AS (
      SELECT source, hv FROM (
        SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        FROM h
      ) WHERE rn <= {_KMV_K}
    ),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM documents) a
      JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
    ),
    uni AS (
      SELECT p.source_a, p.source_b, s.hv,
             max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
      FROM pr p
      JOIN sk s ON s.source = p.source_a OR s.source = p.source_b
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT source_a, source_b, in_a, in_b,
             row_number() OVER (PARTITION BY source_a, source_b
                                ORDER BY hv) AS rn
      FROM uni
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS k_u,
           CAST(sum(in_a * in_b) AS BIGINT) AS n_overlap,
           (CAST(sum(in_a * in_b) AS BIGINT) * 1000000)
             // CAST(count(*) AS BIGINT) AS jaccard_ppm
    FROM ranked WHERE rn <= {_KMV_K}
    GROUP BY 1, 2
    HAVING (CAST(sum(in_a * in_b) AS BIGINT) * 1000000)
             // CAST(count(*) AS BIGINT) > 0
    ORDER BY jaccard_ppm DESC, source_a, source_b
    """,
)
def portable_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values sketch Jaccard between document sources — the
    mergeable-sketch answer to "which corpus slices overlap?" (dedup
    planning across crawl snapshots / data vendors) without ever joining
    the corpora: each source is reduced to the k=64 smallest distinct
    md5-60 hashes of its word-3-gram shingle set (the MinHash universe,
    so "similarity" means shared phrasing, not just shared whole docs),
    and any pair's similarity is estimated from the sketches alone.

    Estimator: the k smallest values of A∪B's combined sketch form a KMV
    sketch of the union; the fraction of them present in BOTH input
    sketches is an unbiased Jaccard estimate. Reported as parts-per-million
    via integer multiply-then-divide — every step (row_number over BIGINT
    hashes, integer sums, // ) is deterministic, so the estimate is
    bit-identical across engines and merge orders, the portable-sketch
    discipline (see portable_hll_cardinality).

    Plan/scale: one distinct + one per-source top-k window (map-side
    partial rank via the hash sort), then all pair math runs on sketches —
    sources × k rows, microscopic next to the corpus. At 100 TB the
    bodies are hashed in the scan projection and never shuffled; only
    (source, hv) pairs move, and the pairwise stage is
    O(sources² × k) on sketch rows — the whole point of KMV.
    """
    from bridgedownstream_spark.queries.similarity import (
        _SHINGLES_SPARK,
        _WORDS_SPARK,
    )

    docs = tbl(spark, sf_dir, "documents")
    # scan-width floor before the shingle explode + per-shingle md5
    # (single-task on one-row-group local inputs; cluster no-op)
    h = (
        wide(spark, docs.select("source", "text"), sf_dir, "documents")
        .selectExpr("source", f"{_WORDS_SPARK} AS words")
        .selectExpr("source", f"explode({_SHINGLES_SPARK}) AS s")
        .select("source", portable_hash60(F.col("s")).alias("hv"))
        .distinct()
    )
    w = W.partitionBy("source").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .select(F.col("source").alias("sk_source"), "hv")
    )
    srcs_a = docs.select(F.col("source").alias("source_a")).distinct()
    srcs_b = docs.select(F.col("source").alias("source_b")).distinct()
    pr = srcs_a.join(srcs_b, F.col("source_a") < F.col("source_b"))
    uni = (
        F.broadcast(pr)
        .join(
            sk,
            (F.col("sk_source") == F.col("source_a"))
            | (F.col("sk_source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "hv")
        .agg(
            F.max(
                F.when(F.col("sk_source") == F.col("source_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("sk_source") == F.col("source_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    wp = W.partitionBy("source_a", "source_b").orderBy("hv")
    ranked = uni.withColumn("rn", F.row_number().over(wp)).where(
        F.col("rn") <= _KMV_K
    )
    out = ranked.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("k_u"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_overlap"),
    )
    return (
        out.withColumn(
            "jaccard_ppm", F.expr("(n_overlap * 1000000) div k_u")
        )
        .where(F.col("jaccard_ppm") > 0)
        .orderBy(F.desc("jaccard_ppm"), "source_a", "source_b")
    )


_MERKLE_B = 1024  # digest buckets per level


@q(
    "merkle_snapshot_diff",
    f"""
    WITH old AS (
      SELECT event_id, CAST(event_id % {_MERKLE_B} AS INT) AS bucket,
             md5(concat_ws('|', CAST(user_id AS VARCHAR), event_type,
                           {_VAL_DIG})) AS dig
      FROM events WHERE event_id % 11 <> 0
    ),
    new AS (
      SELECT event_id, CAST(event_id % {_MERKLE_B} AS INT) AS bucket,
             md5(concat_ws('|', CAST(user_id AS VARCHAR), event_type,
                           CAST(CAST(round(
                               CASE WHEN event_id % 5 = 0 THEN value + 1
                                    ELSE value END, 2) AS DECIMAL(18,2))
                                AS VARCHAR))) AS dig
      FROM events WHERE event_id % 7 <> 0
    )
    SELECT CAST(coalesce(o.event_id, n.event_id) AS BIGINT) AS event_id,
           CAST(coalesce(o.bucket, n.bucket) AS INT) AS bucket,
           CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    WHERE o.event_id IS NULL OR n.event_id IS NULL OR o.dig <> n.dig
    """,
)
def merkle_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (Merkle-style) snapshot diff — the 100 TB scale path
    for snapshot_diff's row-level audit. Instead of full-outer-joining
    every key, each snapshot first collapses to {_MERKLE_B} bucket
    digests (sum of per-row hash60(digest) in exact DECIMAL(38,0) —
    order-independent and merge-exact, the portable-sketch discipline),
    the two digest tables join at bucket granularity, and ONLY rows in
    buckets whose digests disagree descend to the row-level outer join.

    The oracle is the semantic spec (plain full-outer diff, unchanged
    rows dropped): hash-matching it proves the two-phase pruned plan
    returns exactly the rows the naive plan would — the Merkle invariant
    that a bucket containing any added/removed/changed key cannot have
    equal digests (equal sums would need a hash60-sum collision).

    Scale shape: phase 1 is ONE scan reduced map-side to {_MERKLE_B}
    (bucket, decimal, count) rows per side — both snapshots' digests are
    conditional sums over the same pass (they derive from one table
    here; two physical snapshots would pay one scan each), so no
    bucket-level join is needed at all: a bucket differs iff its
    side-by-side counts or digest sums disagree. The {_MERKLE_B}-row
    differing list is localCheckpointed once (it feeds BOTH row-level
    semi-filters — unmaterialized, each broadcast would re-run phase 1)
    and broadcasts back, so the expensive row-level full-outer join
    touches only churned buckets. With churn rate c, the wide join
    shrinks to ~c of the table — the same reason log-shipping beats
    full-table compare. Corpus passes: 1 (phase 1) + 2 (row-level sides)
    vs 6 before r9.
    """
    e = tbl(spark, sf_dir, "events")
    bucket = (F.col("event_id") % _MERKLE_B).cast("int").alias("bucket")
    dig_old = F.md5(
        F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            "event_type",
            F.expr(_VAL_DIG_SPARK),
        )
    )
    old = e.where(F.col("event_id") % 11 != 0).select(
        "event_id", bucket, dig_old.alias("dig")
    )
    mutated = F.when(F.col("event_id") % 5 == 0, F.col("value") + 1).otherwise(
        F.col("value")
    )
    dig_new = F.md5(
        F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            "event_type",
            F.round(mutated, 2).cast("decimal(18,2)").cast("string"),
        )
    )
    new = e.where(F.col("event_id") % 7 != 0).select(
        "event_id", bucket, dig_new.alias("dig")
    )

    # phase 1, one conditional-aggregate scan: per bucket, each side's
    # (digest sum, row count) accumulate side by side. A side with no
    # rows in a bucket shows bn=0 / bdig=NULL — exactly the cases the
    # old bucket-level full-outer join surfaced as a missing row, so the
    # differing predicate below (count mismatch OR null-safe digest
    # mismatch) selects the identical bucket set.
    in_old = F.col("event_id") % 11 != 0
    in_new = F.col("event_id") % 7 != 0
    h_old = portable_hash60(dig_old).cast("decimal(38,0)")
    h_new = portable_hash60(dig_new).cast("decimal(38,0)")
    sides = (
        e.where(in_old | in_new)
        .select(
            bucket,
            F.when(in_old, h_old).alias("ho"),
            F.when(in_new, h_new).alias("hn"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("ho").alias("bdig_o"),
            F.count("ho").alias("bn_o"),
            F.sum("hn").alias("bdig_n"),
            F.count("hn").alias("bn_n"),
        )
    )
    differing = (
        sides.where(
            (F.col("bn_o") != F.col("bn_n"))
            | ~F.col("bdig_o").eqNullSafe(F.col("bdig_n"))
        )
        .select("bucket")
        .localCheckpoint(eager=False)
    )

    o = old.join(F.broadcast(differing), "bucket", "left_semi").alias("o")
    n = new.join(F.broadcast(differing), "bucket", "left_semi").alias("n")
    j = o.join(n, F.col("o.event_id") == F.col("n.event_id"), "full_outer")
    return j.where(
        F.col("o.event_id").isNull()
        | F.col("n.event_id").isNull()
        | (F.col("o.dig") != F.col("n.dig"))
    ).select(
        F.coalesce(F.col("o.event_id"), F.col("n.event_id"))
        .cast("bigint")
        .alias("event_id"),
        F.coalesce(F.col("o.bucket"), F.col("n.bucket"))
        .cast("int")
        .alias("bucket"),
        F.when(F.col("o.event_id").isNull(), "added")
        .when(F.col("n.event_id").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Sequence mining — top-k 3-step event paths
# ---------------------------------------------------------------------------


@q(
    "event_paths_topk",
    """
    WITH p AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS cnt
    FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY cnt DESC, e1, e2, e3
    LIMIT 20
    """,
)
def event_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent 3-step event sequences (clickstream path
    mining): per user, order events by time, slide a length-3 window via
    ``lead``, count identical (e1,e2,e3) trigrams globally.

    Plan/scale: ONE shuffle on user_id for the lead window, then the
    trigram aggregate map-combines to |event_type|^3 partials (a few
    hundred rows regardless of input size) before the wire, and the final
    ORDER BY + LIMIT is a TakeOrdered — no global sort materializes.
    Ties are broken by the full (cnt DESC, e1, e2, e3) key so the top-20
    cut is deterministic across engines.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = tbl(spark, sf_dir, "events").select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        p.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "e1", "e2", "e3")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Graph traversal — multi-source BFS with exact recursive-CTE oracle
# ---------------------------------------------------------------------------

#: BFS depth cap — the co-purchase graph's diameter is ~2-3, so 3 rounds
#: reach the whole connected component while keeping the oracle's
#: recursion bounded at |V| x 4 rows.
_BFS_HOPS = 3

_BFS_SQL = f"""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b USING (l_orderkey)
          WHERE a.l_partkey <> b.l_partkey),
    walk AS (
        SELECT p_partkey AS node, CAST(0 AS BIGINT) AS hop
        FROM part WHERE p_partkey % 500 = 7
        UNION
        SELECT e.dst, walk.hop + 1
        FROM walk JOIN e ON e.src = walk.node
        WHERE walk.hop < {_BFS_HOPS}
    )
    SELECT node, MIN(hop) AS hop FROM walk GROUP BY node
"""


@q("bfs_hops", _BFS_SQL)
def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the part co-purchase graph: minimum hop
    distance (<= 3) from the seed set ``p_partkey % 500 = 7`` to every
    reachable part — the frontier-expansion sibling of
    ``pagerank_copurchase``'s fixed-point iteration, certified against a
    DuckDB recursive CTE whose UNION (distinct) semantics replay the
    visited-set dedup exactly.

    Plan/scale: the distinct edge list comes from ``_copurchase_edges``
    (checkpointed, dst-clustered — the clustering keeps each round's
    frontier-distinct partials node-sized). Each round BROADCASTS the
    frontier — bounded by the part DIMENSION, orders of magnitude below
    lineitem — into a map-side hash semi-join over the cached edge
    partitions, so edges never re-shuffle; the only exchanges are the
    frontier distinct and the visited anti-join, both node-cardinality.
    A frontier too large to broadcast degrades to a shuffle hash join on
    src with identical results. Fixed-depth rounds avoid a per-round
    count() action; an empty frontier makes the remaining rounds no-op
    joins.
    """
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_edges(li)
    part = tbl(spark, sf_dir, "part")
    n_nodes = part.count()  # node-frame upper bound for _pin_node_side
    seeds = part.where(F.col("p_partkey") % 500 == 7).select(
        F.col("p_partkey").alias("node")
    )
    visited = seeds.withColumn("hop", F.lit(0).cast("long"))
    # The visited accumulator is referenced TWICE per round (anti-join +
    # union), so without a per-round materialization boundary round k's
    # plan re-computes round k-1's subtree twice — 2^k blowup that cost
    # ~40% of the 100x wall clock. Checkpointing the node-sized
    # accumulator each round (except the last, which keeps one round's
    # join shape visible to plan inspection) computes every round once;
    # the frontier reads back out of the checkpoint as a hop filter.
    # Both node-frame join sides are strategy-PINNED (_pin_node_side):
    # leaving the visited anti-join to AQE made 100x wall clock swing
    # 141-295 s run-to-run as frontier estimates drifted.
    for k in range(1, _BFS_HOPS + 1):
        frontier = visited.where(F.col("hop") == k - 1).select("node")
        new = (
            edges.join(
                _pin_node_side(frontier, n_nodes),
                edges.src == frontier.node,
                "left_semi",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(
                _pin_node_side(visited.select("node"), n_nodes),
                "node",
                "left_anti",
            )
            .withColumn("hop", F.lit(k).cast("long"))
        )
        visited = visited.unionByName(new)
        if k < _BFS_HOPS:
            visited = visited.localCheckpoint(eager=False)
    return visited


# ---------------------------------------------------------------------------
# Linear interpolation — densified series with integer-exact fill
# ---------------------------------------------------------------------------

_LERP_SQL = """
    WITH obs AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
             CAST(sum(CAST(CAST(value AS DECIMAL(19,6)) * 1000000
                           AS BIGINT)) AS BIGINT) AS v_mu
      FROM events WHERE user_id < 30 GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, min(day_idx) AS d0, max(day_idx) AS d1
      FROM obs GROUP BY 1
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(d0, d1)) AS day_idx FROM span
    ),
    j AS (
      SELECT g.user_id, g.day_idx, o.v_mu
      FROM grid g LEFT JOIN obs o USING (user_id, day_idx)
    ),
    f AS (
      SELECT user_id, day_idx, v_mu,
        last_value(v_mu IGNORE NULLS) OVER wp AS vp,
        last_value(CASE WHEN v_mu IS NOT NULL THEN day_idx END
                   IGNORE NULLS) OVER wp AS dp,
        first_value(v_mu IGNORE NULLS) OVER wn AS vn,
        first_value(CASE WHEN v_mu IS NOT NULL THEN day_idx END
                    IGNORE NULLS) OVER wn AS dn
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY day_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY day_idx
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day_idx,
      CASE WHEN v_mu IS NOT NULL THEN v_mu
           ELSE (vp * (dn - day_idx) + vn * (day_idx - dp)) // (dn - dp)
      END AS val_mu,
      CASE WHEN v_mu IS NOT NULL THEN 'obs' ELSE 'interp' END AS src
    FROM f
"""


@q("linear_interpolate", _LERP_SQL)
def linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densified per-user daily series with LINEAR interpolation for the
    missing days (the Timescale ``interpolate()`` gap-fill companion to
    `gap_fill`'s zero-fill): interior gaps take the line between the
    surrounding observed days; endpoints are observed by construction
    (the grid spans each user's own [min, max] day).

    Determinism discipline: daily totals become exact integer
    micro-units per EVENT (DECIMAL(19,6) double→decimal cast, then
    ×10^6 → BIGINT) so the per-day sum is merge-order-exact, and the
    interpolant ``(vp·(dn−d) + vn·(d−dp)) div (dn−dp)`` is pure bigint —
    values are non-negative so Spark's truncating div and DuckDB's floor
    `//` agree.

    Plan/scale: per-key sequence explode (never a global calendar cross
    join), then BOTH direction-scans (last/first ignorenulls) and the
    fill expression share the single (user_id) exchange — the grid is
    keys × span-days, independent of event volume."""
    ev = tbl(spark, sf_dir, "events").where(F.col("user_id") < 30)
    obs = (
        ev.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day_idx"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(19,6)) * 1000000 AS BIGINT)"
            ).alias("mu"),
        )
        .groupBy("user_id", "day_idx")
        .agg(F.sum("mu").cast("long").alias("v_mu"))
    )
    grid = (
        obs.groupBy("user_id")
        .agg(F.min("day_idx").alias("d0"), F.max("day_idx").alias("d1"))
        .select(
            "user_id", F.explode(F.expr("sequence(d0, d1)")).alias("day_idx")
        )
    )
    j = grid.join(obs, ["user_id", "day_idx"], "left")
    wp = (
        W.partitionBy("user_id")
        .orderBy("day_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = (
        W.partitionBy("user_id")
        .orderBy("day_idx")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("v_mu").isNotNull(), F.col("day_idx"))
    f = j.select(
        "user_id",
        "day_idx",
        "v_mu",
        F.last("v_mu", ignorenulls=True).over(wp).alias("vp"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("dp"),
        F.first("v_mu", ignorenulls=True).over(wn).alias("vn"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("dn"),
    )
    return f.select(
        "user_id",
        "day_idx",
        F.when(F.col("v_mu").isNotNull(), F.col("v_mu"))
        .otherwise(
            F.expr("(vp * (dn - day_idx) + vn * (day_idx - dp)) div (dn - dp)")
        )
        .alias("val_mu"),
        F.when(F.col("v_mu").isNotNull(), F.lit("obs"))
        .otherwise(F.lit("interp"))
        .alias("src"),
    )


# ---------------------------------------------------------------------------
# Hierarchical sketch rollup — registers merge up the dimension tree
# ---------------------------------------------------------------------------

_HLL_ROLLUP_SQL = f"""
    WITH h AS (
      SELECT n.n_name AS nation, n.n_regionkey AS regionkey,
             {HASH60.format(x="CAST(o_custkey AS VARCHAR)")} AS hv
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    reg AS (
      SELECT nation, regionkey, hv % {_HLL_M} AS r,
             CASE WHEN hv // {_HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(hv // {_HLL_M})) END AS rho
      FROM h
    ),
    lv AS (
      SELECT 'nation' AS level, nation AS key, r, max(rho) AS mj
      FROM reg GROUP BY 2, 3
      UNION ALL
      SELECT 'region', rg.r_name, r, max(rho)
      FROM reg JOIN region rg ON rg.r_regionkey = regionkey GROUP BY 2, 3
      UNION ALL
      SELECT 'global', 'all', r, max(rho) FROM reg GROUP BY 3
    ),
    s AS (
      SELECT level, key,
             CAST(sum(1::BIGINT << (56 - mj))
                  + ({_HLL_M} - count(*)) * (1::BIGINT << 56) AS BIGINT)
                 AS int_sum,
             CAST({_HLL_M} - count(*) AS BIGINT) AS empty_registers
      FROM lv GROUP BY 1, 2
    )
    SELECT level, key, int_sum, empty_registers, {_HLL_EST} AS est_customers
    FROM s
"""


@q("hll_rollup_hierarchy", _HLL_ROLLUP_SQL)
def hll_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-customer HLL sketches rolled UP a dimension hierarchy
    (nation → region → global) by MERGING registers — Spark computes the
    fact-level registers ONCE and re-aggregates the 25×64-row register
    table with max(rho) at each coarser level, while the oracle
    recomputes every level independently from the raw rows. A hash-exact
    match certifies the algebraic-merge property (max is associative and
    commutative over the same hash stream) that makes sketch partial
    aggregation safe at 100 TB: registers, not rows, cross every rollup
    boundary.

    Plan/scale: the fact scan is touched ONCE (orders ⋈ broadcast
    customer-nation dims); after the first groupBy the working set is
    groups × 64 register rows, so the region and global levels cost a
    shuffle of at most 25 × 64 rows — the cube/rollup shape where every
    coarser cell derives from finer partials instead of re-scanning."""
    o = tbl(spark, sf_dir, "orders").select("o_custkey")
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = tbl(spark, sf_dir, "nation")
    rg = tbl(spark, sf_dir, "region")
    h_sql = (
        "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    rows = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .selectExpr(
            "n_name AS nation",
            "n_regionkey AS regionkey",
            f"{h_sql} % {_HLL_M} AS r",
            f"CASE WHEN {h_sql} div {_HLL_M} = 0 THEN 55 "
            f"ELSE 55 - length(bin({h_sql} div {_HLL_M})) END AS rho",
        )
    )
    # finest level computed from the facts exactly once...
    nat = rows.groupBy("nation", "regionkey", "r").agg(
        F.max("rho").alias("mj")
    )
    # ...then every coarser level MERGES registers (max of maxes)
    reg_lvl = (
        nat.join(F.broadcast(rg), nat.regionkey == rg.r_regionkey)
        .groupBy(F.col("r_name").alias("key"), "r")
        .agg(F.max("mj").alias("mj"))
        .withColumn("level", F.lit("region"))
    )
    glob = (
        nat.groupBy("r")
        .agg(F.max("mj").alias("mj"))
        .select(F.lit("all").alias("key"), "r", "mj")
        .withColumn("level", F.lit("global"))
    )
    lv = (
        nat.select(
            F.lit("nation").alias("level"), F.col("nation").alias("key"),
            "r", "mj"
        )
        .unionByName(reg_lvl.select("level", "key", "r", "mj"))
        .unionByName(glob.select("level", "key", "r", "mj"))
    )
    s = lv.groupBy("level", "key").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 56 - mj)"))
            + (F.lit(_HLL_M) - F.count("*"))
            * F.expr("shiftleft(CAST(1 AS BIGINT), 56)")
        )
        .cast("bigint")
        .alias("int_sum"),
        (F.lit(_HLL_M) - F.count("*")).cast("bigint").alias("empty_registers"),
    )
    return s.select(
        "level", "key", "int_sum", "empty_registers",
        F.expr(_HLL_EST).alias("est_customers"),
    )


# ---------------------------------------------------------------------------
# Rolling distinct counts — exact sliding-window active users
# ---------------------------------------------------------------------------

_RAU_SQL = """
    WITH a AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM a)
    SELECT g.d AS day_idx, CAST(count(DISTINCT a.user_id) AS BIGINT)
           AS active_7d
    FROM days g JOIN a ON a.d BETWEEN g.d - 6 AND g.d
    GROUP BY 1
"""


@q("rolling_active_users", _RAU_SQL)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 7-day rolling active users per observed day — the rolling
    COUNT(DISTINCT) window Spark (and SQL generally) cannot express as a
    window function. Rewritten as a linear explode: each (user, active
    day a) covers windows ending on ``[a, min(a+6, next_active-1)]`` —
    the days where a is that user's most recent activity — so every
    (user, window-day) pair is emitted exactly once and a plain count
    replaces the distinct.

    Plan/scale: ONE shuffle on user_id serves the dedup and the lead();
    the explode emits ≤7 rows per (user, day) — volume bounded by
    7×|user-days|, NOT days×users — and the final count map-combines to
    |days| partials. The oracle is the quadratic day×activity range join
    this rewrite avoids (at 100 TB a 7-day range join re-reads each
    activity row 7× and shuffles days×avg-activity rows; the explode
    ships each exactly once)."""
    a = (
        tbl(spark, sf_dir, "events")
        .select(
            "user_id", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d")
        )
        .distinct()
    )
    days = a.select("d").distinct()
    nx = a.select(
        "user_id",
        "d",
        F.lead("d").over(W.partitionBy("user_id").orderBy("d")).alias("dn"),
    )
    ex = nx.select(
        F.explode(
            F.expr("sequence(d, least(d + 6, coalesce(dn - 1, d + 6)))")
        ).alias("day_idx")
    )
    return (
        ex.join(F.broadcast(days), ex.day_idx == days.d, "left_semi")
        .groupBy("day_idx")
        .agg(F.count("*").cast("long").alias("active_7d"))
    )


# ---------------------------------------------------------------------------
# EWMA — exponential-decay weighted average, integer-exact over a 20-row frame
# ---------------------------------------------------------------------------

#: trailing frame length for the exponential-decay average; with decay 1/2
#: the dropped tail's total weight is 2^-20 of the head term, below the
#: micro-unit resolution of the output
_EWMA_K = 20

_EWMA_NUM = " + ".join(
    f"COALESCE(lag(v_mu, {k}) OVER w, 0) * {1 << (_EWMA_K - 1 - k)}"
    for k in range(_EWMA_K)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN lag(v_mu, {k}) OVER w IS NOT NULL"
    f" THEN {1 << (_EWMA_K - 1 - k)} ELSE 0 END)"
    for k in range(_EWMA_K)
)

_EWMA_SQL = f"""
    WITH t AS (
      SELECT user_id, event_id,
             CAST(CAST(CAST(value AS DECIMAL(19,6)) * 1000000 AS BIGINT)
                  AS BIGINT) AS v_mu
      FROM events WHERE user_id < 20
    ),
    e AS (
      SELECT user_id, event_id,
             ({_EWMA_NUM}) // ({_EWMA_DEN}) AS ewma_mu
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    )
    SELECT user_id, event_id, CAST(ewma_mu AS BIGINT) AS ewma_mu
    FROM e ORDER BY user_id, event_id
"""


@q("ewma_smoothing", _EWMA_SQL)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay weighted moving average (decay 1/2 per step) over
    each user's trailing 20 events — the smoothing operator behind alerting
    and trend lines, made integer-exact: values become micro-units, weights
    are the exact powers 2^19..2^0, and the average is ONE bigint
    ``num div den`` (values are non-negative, so Spark's truncating div and
    DuckDB's floor ``//`` agree). Short heads renormalize by construction:
    the denominator only counts PRESENT terms, so row k<20 averages its own
    k+1 observations — no warm-up bias, no float drift. The truncated tail
    (weight < 2^-19 of the head) is the documented contract, not an
    approximation the oracle forgives: both engines compute the identical
    truncated sum.

    Plan/scale: all 20 lag() calls name the SAME window spec, so Catalyst
    plans a single (user_id) exchange + one Window node; per-row state is
    the 20-row frame, never the user's history."""
    over = "OVER (PARTITION BY user_id ORDER BY event_id)"
    num = " + ".join(
        f"COALESCE(lag(v_mu, {k}) {over}, 0) * {1 << (_EWMA_K - 1 - k)}"
        for k in range(_EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v_mu, {k}) {over} IS NOT NULL"
        f" THEN {1 << (_EWMA_K - 1 - k)} ELSE 0 END)"
        for k in range(_EWMA_K)
    )
    return (
        tbl(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .selectExpr(
            "user_id",
            "event_id",
            "CAST(CAST(value AS DECIMAL(19,6)) * 1000000 AS BIGINT) AS v_mu",
        )
        .select(
            "user_id",
            "event_id",
            F.expr(f"CAST(({num}) div ({den}) AS BIGINT)").alias("ewma_mu"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram — per-group NTILE quartiles
# ---------------------------------------------------------------------------

_NTILE_SQL = """
    WITH t AS (
      SELECT o_orderpriority,
             CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile,
             o_totalprice
      FROM orders
    )
    SELECT o_orderpriority, quartile,
           CAST(count(*) AS BIGINT) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM t GROUP BY 1, 2 ORDER BY 1, 2
"""


@q("ntile_quartiles", _NTILE_SQL)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram via NTILE(4): per order priority, rank-split
    the price distribution into four equal-count buckets and report each
    bucket's [lo, hi] bounds — the rank-based complement of
    `value_histogram`'s equi-WIDTH buckets. The (value, key) tie-break
    makes the tile assignment a total order, so both engines cut the same
    rows into the same tiles (NTILE's remainder-to-earlier-tiles rule is
    shared SQL semantics).

    Plan/scale: one exchange on the 5-value group key, per-group sort
    inside the Window, then the bucket agg map-combines to 20 partials.
    Group-parallel, but each group sorts on ONE reducer — for a single
    giant group (or a streaming setting) use `portable_quantile_bands`,
    whose 256-band sketch splits the same distribution with a bounded
    shuffle instead of a per-group sort."""
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    t = tbl(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        "o_totalprice",
    )
    return (
        t.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").cast("long").alias("n"),
            # min/max of doubles is exact under any merge order; the
            # no-op double cast is the guard-visible "exact render" marker
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


# ---------------------------------------------------------------------------
# Sliding-window HLL — 7-day rolling distinct users from merged registers
# ---------------------------------------------------------------------------

_RHLL_SQL = f"""
    WITH a AS (
      SELECT epoch_us(ts) // {_DAY_US} AS day_idx,
             {HASH60.format(x="CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    reg AS (
      SELECT day_idx, hv % {_HLL_M} AS r,
             max(CASE WHEN hv // {_HLL_M} = 0 THEN 55
                      ELSE 55 - length(bin(hv // {_HLL_M})) END) AS mj
      FROM a GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day_idx FROM a),
    grid AS (
      SELECT day_idx, unnest(range(0, {_HLL_M})) AS r FROM days
    ),
    dense AS (
      SELECT g.day_idx, g.r, reg.mj
      FROM grid g LEFT JOIN reg ON reg.day_idx = g.day_idx AND reg.r = g.r
    ),
    merged AS (
      SELECT day_idx, r,
             max(mj) OVER (PARTITION BY r ORDER BY day_idx
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mj
      FROM dense
    ),
    s AS (
      SELECT day_idx,
             CAST(sum(CASE WHEN mj IS NULL THEN 1::BIGINT << 56
                           ELSE 1::BIGINT << (56 - mj) END) AS BIGINT)
                 AS int_sum,
             CAST(sum(CASE WHEN mj IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS empty_registers
      FROM merged GROUP BY 1
    )
    SELECT day_idx, int_sum, empty_registers, {_HLL_EST} AS est_users_7d
    FROM s ORDER BY day_idx
"""


@q("rolling_hll_users", _RHLL_SQL)
def rolling_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct users estimated from SLIDING-WINDOW HLL
    register merges — the sketch twin of `rolling_active_users`' exact
    explode rewrite, certifying the property streaming rollups rely on:
    a window's sketch is the register-wise max of its days' sketches, so
    per-day registers are computed ONCE and every window position reuses
    them. Registers densify onto a days x 64 grid first, so the ROWS
    7-frame is exactly the calendar frame even when a register is silent
    for a day; the estimate is the same exact-integer harmonic form as
    `portable_hll_cardinality` (shared _HLL_EST), bit-identical across
    engines and merge orders.

    Plan/scale: the raw scan reduces to days x 64 register rows at the
    FIRST groupBy (map-side max-combine) — everything after is sketch
    algebra on ~2k rows regardless of event volume: the exact rewrite
    ships 7x|user-days| rows, the sketch ships |days| x 64, the 100 TB
    trade the two queries exist to demonstrate."""
    ev = tbl(spark, sf_dir, "events")
    h_sql = (
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    a = ev.selectExpr(
        f"unix_micros(ts) div {_DAY_US} AS day_idx",
        f"{h_sql} AS hv",
    )
    reg = (
        a.selectExpr(
            "day_idx",
            f"hv % {_HLL_M} AS r",
            f"CASE WHEN hv div {_HLL_M} = 0 THEN 55 "
            f"ELSE 55 - length(bin(hv div {_HLL_M})) END AS rho",
        )
        .groupBy("day_idx", "r")
        .agg(F.max("rho").alias("mj"))
    )
    grid = (
        a.select("day_idx")
        .distinct()
        .select("day_idx", F.explode(F.expr(f"sequence(0, {_HLL_M - 1})")).alias("r"))
    )
    dense = grid.join(reg, ["day_idx", "r"], "left")
    wm = (
        W.partitionBy("r")
        .orderBy("day_idx")
        .rowsBetween(-6, W.currentRow)
    )
    merged = dense.select("day_idx", "r", F.max("mj").over(wm).alias("mj"))
    s = merged.groupBy("day_idx").agg(
        F.sum(
            F.expr(
                "CASE WHEN mj IS NULL THEN shiftleft(CAST(1 AS BIGINT), 56) "
                "ELSE shiftleft(CAST(1 AS BIGINT), 56 - mj) END"
            )
        )
        .cast("bigint")
        .alias("int_sum"),
        F.sum(F.when(F.col("mj").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("empty_registers"),
    )
    return s.select(
        "day_idx",
        "int_sum",
        "empty_registers",
        F.expr(_HLL_EST).alias("est_users_7d"),
    ).orderBy("day_idx")


# ---------------------------------------------------------------------------
# Weighted median — quantity-weighted price percentile, exact
# ---------------------------------------------------------------------------

_WMED_SQL = """
    WITH t AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(l_quantity AS BIGINT) AS w,
             sum(CAST(l_quantity AS BIGINT)) OVER (
                 PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(CAST(l_quantity AS BIGINT)) OVER (
                 PARTITION BY l_returnflag) AS totw
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(max(totw) AS BIGINT) AS total_weight,
           min(l_extendedprice) AS w_median
    FROM t WHERE 2 * cumw >= totw
    GROUP BY l_returnflag ORDER BY l_returnflag
"""


@q("weighted_median", _WMED_SQL)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median: the quantity-weighted 50th-percentile price
    per return flag — the operator behind "median unit price" style
    metrics where each row counts w times (no SQL aggregate expresses
    it; Spark's percentile() is unweighted). Defined as the smallest
    price whose cumulative weight reaches half the total; since the
    cumulative sum is nondecreasing along the (price, orderkey,
    linenumber) total order, the qualifying rows form a SUFFIX and
    min(price) over them IS the crossing row — no second window, no
    self-join. Weights are integral doubles cast to bigint, so the
    crossing condition ``2*cumw >= totw`` is exact integer arithmetic;
    the reported median is a raw data value (selection, not
    computation).

    Plan/scale: weights pre-aggregate by (flag, DISTINCT price) first —
    a map-combining groupBy that shrinks the window input from |rows| to
    |distinct prices| (cumulative weight at a price is all the crossing
    test needs; a 10x row-replica re-measure dropped the scale ratio
    4.7 -> ~1.5), then ONE exchange on l_returnflag serves both window
    frames (running + full), the suffix filter, and the 3-row aggregate.
    Per-group ordering sorts distinct prices on the group's reducer; the
    bounded-shuffle alternative for one giant group is
    `portable_quantile_bands` with per-band weight sums."""
    wrun = (
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("l_returnflag")
    t = (
        tbl(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            "l_extendedprice",
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.sum("w").alias("w"))
    )
    t = t.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("w").over(wrun).alias("cumw"),
        F.sum("w").over(wall).alias("totw"),
    )
    return (
        t.where(F.lit(2) * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.max("totw").cast("long").alias("total_weight"),
            F.min("l_extendedprice").cast("double").alias("w_median"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Quantile-band rollup — additive sketch merge up a dimension hierarchy
# ---------------------------------------------------------------------------

_QBR_DUCK_LEVEL = """
      SELECT {label} AS level_key,
             least(CAST(floor((o_totalprice - g.lo) / g.w) AS BIGINT),
                   {qb1}) AS bk,
             count(*) AS n
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      CROSS JOIN g
      GROUP BY 1, 2
"""

_QBR_SQL = f"""
    WITH g AS (SELECT min(o_totalprice) AS lo,
                      (max(o_totalprice) - min(o_totalprice)) / {_QB} AS w
               FROM orders),
    c AS (
      {_QBR_DUCK_LEVEL.format(label="'nation:' || n_name", qb1=_QB - 1)}
      UNION ALL
      {_QBR_DUCK_LEVEL.format(
          label="'region:' || CAST(n_regionkey AS VARCHAR)", qb1=_QB - 1)}
      UNION ALL
      {_QBR_DUCK_LEVEL.format(label="'global'", qb1=_QB - 1)}
    ),
    cum AS (
      SELECT level_key, bk, n,
             sum(n) OVER (PARTITION BY level_key ORDER BY bk
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cn,
             sum(n) OVER (PARTITION BY level_key) AS nt
      FROM c
    )
    SELECT level_key,
           CAST(max(nt) AS BIGINT) AS n_orders,
           round(min(CASE WHEN 2 * cn >= nt
                          THEN g.lo + (bk + 0.5) * g.w END), 4) AS p50_est,
           round(min(CASE WHEN 20 * cn >= 19 * nt
                          THEN g.lo + (bk + 0.5) * g.w END), 4) AS p95_est
    FROM cum CROSS JOIN g
    GROUP BY 1 ORDER BY 1
"""


@q("quantile_band_rollup", _QBR_SQL)
def quantile_band_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantile estimates up the nation → region → global
    hierarchy from ONE set of fine-grained band counts — the quantile
    sibling of `hll_rollup_hierarchy`: Spark computes the nation-level
    256-band histogram ONCE, then derives every coarser level by ADDING
    band counts (the additive-merge property that makes histogram
    sketches safe for partial aggregation and rollup trees), while the
    oracle recomputes each level independently from the raw rows. A
    hash-exact match certifies count addition ≡ recompute at every
    level; quantiles use the same integer cumulative-crossing thresholds
    and band-midpoint estimates as `portable_quantile_bands`.

    Plan/scale: the fact scan is touched ONCE (broadcast dims); after
    the first groupBy the working set is ≤ nations × 256 band rows, so
    region and global levels cost shuffles of at most that — coarser
    cells derive from finer partials instead of re-scanning, the rollup
    contract at 100 TB."""
    o = tbl(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = tbl(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    g = F.broadcast(
        tbl(spark, sf_dir, "orders").agg(
            F.min("o_totalprice").alias("lo"),
            (
                (F.max("o_totalprice") - F.min("o_totalprice")) / _QB
            ).alias("w"),
        )
    )
    fine = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .crossJoin(g)
        .select(
            "n_name",
            "n_regionkey",
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo")) / F.col("w")
                ).cast("long"),
                F.lit(_QB - 1),
            ).alias("bk"),
        )
        .groupBy("n_name", "n_regionkey", "bk")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)  # one fine sketch, three consumers
    )
    levels = (
        fine.select(
            F.concat(F.lit("nation:"), F.col("n_name")).alias("level_key"),
            "bk",
            "n",
        )
        .unionByName(
            fine.groupBy("n_regionkey", "bk")
            .agg(F.sum("n").alias("n"))
            .select(
                F.concat(
                    F.lit("region:"),
                    F.col("n_regionkey").cast("string"),
                ).alias("level_key"),
                "bk",
                "n",
            )
        )
        .unionByName(
            fine.groupBy("bk")
            .agg(F.sum("n").alias("n"))
            .select(F.lit("global").alias("level_key"), "bk", "n")
        )
    )
    wc = W.partitionBy("level_key").orderBy("bk").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wt = W.partitionBy("level_key")
    cum = levels.crossJoin(g).select(
        "level_key",
        "lo",
        "w",
        "bk",
        F.sum("n").over(wc).alias("cn"),
        F.sum("n").over(wt).alias("nt"),
    )
    mid = F.col("lo") + (F.col("bk") + 0.5) * F.col("w")
    return (
        cum.groupBy("level_key")
        .agg(
            F.max("nt").cast("long").alias("n_orders"),
            F.round(
                F.min(F.when(2 * F.col("cn") >= F.col("nt"), mid)), 4
            ).alias("p50_est"),
            F.round(
                F.min(F.when(20 * F.col("cn") >= 19 * F.col("nt"), mid)), 4
            ).alias("p95_est"),
        )
        .orderBy("level_key")
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching — MATCH_RECOGNIZE-style journey counting
# ---------------------------------------------------------------------------

#: event_type -> single-letter alphabet for the journey string
_PAT_INI = (
    "CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' "
    "WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END"
)

_PATM_SQL = f"""
    WITH j AS (
      SELECT user_id,
             string_agg({_PAT_INI}, '' ORDER BY ts, event_id) AS journey
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(journey) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(journey, 'vcp')) AS BIGINT) AS n_vcp,
           CAST(len(regexp_extract_all(journey, 'ep')) AS BIGINT)
               AS n_err_recovery
    FROM j WHERE user_id < 40 ORDER BY user_id
"""


@q("event_pattern_match", _PATM_SQL)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern counting: each user's
    time-ordered events collapse to a one-letter-per-event journey
    string, and patterns become substring counts — here the strict
    view→click→purchase trigram and the error→purchase recovery bigram,
    counted non-overlapping left-to-right (both engines' regexp scan
    semantics for LITERAL patterns; literals dodge every cross-engine
    regex-dialect trap). The journey string is deterministic: the
    per-user collect is sorted by the total (ts, event_id) order before
    joining, never relying on aggregation order.

    Plan/scale: ONE shuffle on user_id; per-user state is the journey
    string (events-per-user bounded, the sessionize contract). The
    whole-journey string is the honest cost — pattern automata that
    stream per-event (lag windows) cover fixed-length patterns like
    `event_paths_topk`; this operator exists for patterns whose length
    is data-dependent."""
    ev = tbl(spark, sf_dir, "events").where(F.col("user_id") < 40)
    j = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id").alias("k"),
            F.expr(_PAT_INI).alias("ini"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "ini"))),
                    lambda x: x["ini"],
                ),
                "",
            ).alias("journey")
        )
    )
    return j.select(
        "user_id",
        F.length("journey").cast("long").alias("n_events"),
        F.expr("regexp_count(journey, 'vcp')").cast("long").alias("n_vcp"),
        F.expr("regexp_count(journey, 'ep')")
        .cast("long")
        .alias("n_err_recovery"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Rank-window suite — percent_rank / cume_dist / nth_value
# ---------------------------------------------------------------------------

_RANKS_SQL = """
    WITH t AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd,
             nth_value(o_totalprice, 3) OVER (
                 PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS third_lowest
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey)
    )
    SELECT o_orderkey, o_orderpriority,
           round(pr, 6) AS pct_rank,
           round(cd, 6) AS cume_dist,
           third_lowest
    FROM t WHERE o_orderkey % 997 = 0 ORDER BY o_orderkey
"""


@q("window_rank_suite", _RANKS_SQL)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relative-rank window family in one pass: percent_rank
    ((rank−1)/(n−1)) and cume_dist (peers-inclusive fraction) over the
    (price, orderkey) total order, plus nth_value(3) with an explicit
    full-partition ROWS frame (the default read-to-current frame would
    leave the first two rows NULL). The unique orderkey tie-break means
    no peer groups, so both engines' peer handling is moot by
    construction; the rank fractions are single exact divisions of
    integers (deterministic doubles), rounded only as a render.

    Plan/scale: all three functions share one window spec family on the
    same key, so the plan is ONE (o_orderpriority) exchange + Window
    node(s); the % 997 output filter cannot push below the windows
    (they need the full partition) — the honest cost of relative ranks,
    same contract as `ntile_quartiles`."""
    wo = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wf = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(wo).alias("pr"),
        F.cume_dist().over(wo).alias("cd"),
        F.nth_value("o_totalprice", 3).over(wf).alias("third_lowest"),
    )
    return (
        t.where(F.col("o_orderkey") % 997 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("pr", 6).alias("pct_rank"),
            F.round("cd", 6).alias("cume_dist"),
            F.col("third_lowest").cast("double").alias("third_lowest"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping flags
# ---------------------------------------------------------------------------

_GSETS_SQL = """
    SELECT o_orderpriority, o_orderstatus,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(24,10))), 2) AS DOUBLE)
               AS revenue,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus))
    ORDER BY g_priority, g_status, o_orderpriority, o_orderstatus
"""


@q("groupingsets_revenue", _GSETS_SQL)
def groupingsets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the selective sibling of `cube_revenue`'s
    full cube: exactly the three requested aggregation levels in ONE
    scan (detail, by-priority, by-status — no grand total, which a cube
    would force and a report often doesn't want), with per-column
    grouping() flags disambiguating real NULL keys from rolled-up ones
    (the flags, not the NULLs, are the level id — portable across
    engines, unlike bit-packed grouping_id orderings). DECIMAL sums keep
    every level merge-order-exact.

    Plan/scale: Spark plans one Expand node (3 replicas routed by
    grouping set) + one aggregate exchange — rows shuffle once per
    REQUESTED level, not once per 2^k cube cell."""
    o = tbl(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gsets_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(24,10))), 2)
                    AS DOUBLE) AS revenue,
               count(*) AS n
        FROM __gsets_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus))
        ORDER BY g_priority, g_status, o_orderpriority, o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — retraction algebra (IVM)
# ---------------------------------------------------------------------------

_IVM_SQL = """
    WITH log AS (
      SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(19,2)) AS v,
             1 AS sgn
      FROM orders
      UNION ALL
      SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(19,2)) AS v,
             -1 AS sgn
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderpriority,
           CAST(sum(sgn) AS BIGINT) AS n_live,
           CAST(round(sum(sgn * CAST(v AS DECIMAL(24,10))), 2) AS DOUBLE)
               AS sum_live
    FROM log GROUP BY 1 ORDER BY 1
"""


@q("ivm_agg_retract", _IVM_SQL)
def ivm_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VIEW maintenance for aggregates under DELETES — the
    retraction ("counting") algebra every streaming materialized view
    relies on: an insert contributes (+1, +v), a delete (−1, −v), and
    the maintained (count, sum) per group equals a full recompute over
    the surviving rows WITHOUT ever touching them (here the change log
    is orders as inserts plus a delete for every orderkey % 7 == 0;
    pytest pins maintained ≡ recompute-over-survivors on a hand
    fixture, and the oracle replays the identical signed log). Sums run
    on DECIMAL so retraction is exact — float retraction drifts, which
    is why this algebra demands exact-typed accumulators at scale.

    Plan/scale: the signed log is a UNION of two projections of ONE
    table scan (no join against the deletes — the sign IS the delete),
    then a single map-combining aggregate exchange; maintenance cost
    scales with the CHANGE volume, never the view size."""
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(19,2)").alias("v"),
    )
    ins = o.select("o_orderpriority", "v", F.lit(1).alias("sgn"))
    dels = o.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderpriority", "v", F.lit(-1).alias("sgn")
    )
    log = ins.unionByName(dels)
    return (
        log.groupBy("o_orderpriority")
        .agg(
            F.sum("sgn").cast("long").alias("n_live"),
            F.round(
                F.sum(F.col("sgn") * F.col("v").cast("decimal(24,10)")), 2
            )
            .cast("double")
            .alias("sum_live"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Weighted shortest path — bounded Bellman-Ford over the co-purchase graph
# ---------------------------------------------------------------------------

#: relaxation rounds: dist after round k is exact over all <=k-hop paths
_SSSP_HOPS = 3

_SSSP_SQL = f"""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
                 1000000 // count(*) AS w
          FROM li a JOIN li b USING (l_orderkey)
          WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
    walk AS (
        SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist, 0 AS hop
        FROM part WHERE p_partkey % 500 = 7
        UNION
        SELECT e.dst, walk.dist + e.w, walk.hop + 1
        FROM walk JOIN e ON e.src = walk.node
        WHERE walk.hop < {_SSSP_HOPS}
    )
    SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
"""


@q("sssp_weighted", _SSSP_SQL)
def sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source WEIGHTED shortest path (bounded Bellman-Ford) over
    the part co-purchase graph: edge cost is inversely tied to
    co-purchase frequency (1000000 div shared-order-count — rare
    associations are long hops), distances are exact bigint min-plus
    sums over paths of <= 3 hops from the `p_partkey % 500 = 7` seed
    set. The min-plus sibling of `bfs_hops` (hop counting) and
    `pagerank_copurchase` (fixed-point scoring): round k's table is
    provably the min over all <=k-hop paths, which is EXACTLY what the
    DuckDB recursive-CTE oracle enumerates — two different algorithms
    (per-round relaxation vs path enumeration + dedup), one answer.

    Plan/scale: the edges and their shared-order counts come from
    ``_copurchase_edges`` (checkpointed, dst-clustered); the weight is a
    projection over the cached edges. Each round BROADCASTS the
    node-cardinality distance table into the cached edge partitions
    (edges never re-shuffle) and re-minimizes per node — relaxed rows
    stay dst-clustered through the broadcast join, so partial
    aggregation emits per-node minima and the shuffle per round is
    <=|V| rows. The oracle's path enumeration is exponential in
    hops; the relaxation is rounds x |E| with |V|-sized state, which is
    why Bellman-Ford, not path listing, is the 100 TB shape."""
    raw = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_edges(raw, min_orders=1).select(
        "src", "dst", F.expr("1000000 div n_orders").alias("w")
    )
    part = tbl(spark, sf_dir, "part")
    n_nodes = part.count()  # node-frame upper bound for _pin_node_side
    dist = part.where(F.col("p_partkey") % 500 == 7).select(
        F.col("p_partkey").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(_SSSP_HOPS):
        relaxed = (
            edges.join(
                _pin_node_side(dist, n_nodes),
                edges.src == F.col("node"),
                "inner",
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)  # flatten round-k lineage
        )
    return dist


# ---------------------------------------------------------------------------
# k-core peeling — iterative subgraph fixpoint (degree-threshold removal)
# ---------------------------------------------------------------------------

#: degree threshold and peel-round cap. A full decomposition iterates to
#: fixpoint; bounding the rounds keeps the oracle unrollable and the
#: lineage flat — the round count is the knob, exactly like _BFS_HOPS.
_KCORE_K = 2
_KCORE_ROUNDS = 3

#: an edge requires the pair to share >= this many DISTINCT orders: the
#: raw co-purchase graph is too dense for any fixed k to discriminate
#: (at sf0.001 every part sits in a 100-core), while 2-confirmed
#: association yields a sparse graph whose peel genuinely cascades.
#: k=2 (cycle cores) stays non-degenerate across scales — the graph
#: thins as it grows (same order size over more parts), so sf0.1's
#: 3-core is empty while its 2-core keeps 22 of 1067 round-1 survivors
#: (sf0.01: 1535 of 1880) — an output that certifies the cascade at
#: every scale the driver checks.
_KCORE_MIN_ORDERS = 2


def _kcore_deg_cte(r: int) -> str:
    return f"""
    d{r} AS (
      SELECT e.src AS node, CAST(count(*) AS BIGINT) AS c
      FROM e JOIN s{r - 1} a ON e.src = a.node
             JOIN s{r - 1} b ON e.dst = b.node
      GROUP BY 1
    ),
    s{r} AS (SELECT node FROM d{r} WHERE c >= {_KCORE_K})"""


_KCORE_SQL = (
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b USING (l_orderkey)
          WHERE a.l_partkey <> b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= """
    + str(_KCORE_MIN_ORDERS)
    + """),
    d1 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS c
           FROM e GROUP BY 1),
    s1 AS (SELECT node FROM d1 WHERE c >= """
    + str(_KCORE_K)
    + """),"""
    + ",".join(_kcore_deg_cte(r) for r in range(2, _KCORE_ROUNDS + 1))
    + f"""
    SELECT node AS p_partkey, c AS core_degree
    FROM d{_KCORE_ROUNDS} WHERE c >= {_KCORE_K}
    ORDER BY p_partkey
    """
)


@q("kcore_peeling", _KCORE_SQL)
def kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling over the CONFIRMED part co-purchase graph (an edge
    requires >= 2 shared distinct orders — the raw 1-order graph is so
    dense every node sits in a deep core and no fixed k discriminates):
    repeatedly remove nodes whose degree in the SURVIVING subgraph falls
    below k, and report the parts still standing after a bounded number
    of peel rounds with their residual degree. The k-core is the
    standard density filter before community detection or dedup-cluster
    trust scoring (a node in a 3-core has 3 mutually-surviving
    confirmed neighbors — association that cannot be an artifact of one
    promiscuous order). This is a NEW iterative mechanism next to bfs (frontier
    expansion), sssp (relaxation), and pagerank (fixed-point scoring):
    the iterated object is the SUBGRAPH itself — each round's node set
    induces the next round's degree distribution.

    Plan/scale: the confirmed edge list comes from
    ``_copurchase_edges`` (checkpointed, dst-clustered); each peel round
    BROADCASTS the node-cardinality survivor set into the cached edge
    partitions as two LeftSemi joins (src-end, dst-end) — the edge table
    never re-shuffles — and the only exchange per round is the
    map-combined integer degree count on dst (symmetric graph: indeg ==
    outdeg).
    Round semantics are deliberately fixed-count (not to-fixpoint) so
    the DuckDB oracle is the same computation unrolled; convergence at
    this corpus happens within the cap (verified by the value hash —
    a non-converged round count would still certify, just as a looser
    core).
    """
    raw = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    n_nodes = _graph_node_bound(spark, sf_dir, raw)  # _pin_node_side bound
    edges = _copurchase_edges(raw, _KCORE_MIN_ORDERS).select("src", "dst")
    deg = edges.groupBy("dst").agg(F.count("*").cast("long").alias("c"))
    for _ in range(_KCORE_ROUNDS - 1):
        # The survivor set feeds TWO semi-joins per round, so each peel
        # re-computes the previous round's degree aggregate twice — but
        # those are map-combined scans of the CACHED dst-clustered edge
        # table, and a measured per-round checkpoint of surv cost MORE
        # than the recompute it saved (49.8 s vs 37.8 s at 100x): the
        # materialization barrier serializes work the duplicated lazy
        # subtrees overlap. Revisit only if _KCORE_ROUNDS grows.
        surv = deg.where(F.col("c") >= _KCORE_K).select(
            F.col("dst").alias("node")
        )
        kept = edges.join(
            _pin_node_side(
                surv.withColumnRenamed("node", "src"), n_nodes
            ),
            "src",
            "left_semi",
        ).join(
            _pin_node_side(
                surv.withColumnRenamed("node", "dst"), n_nodes
            ),
            "dst",
            "left_semi",
        )
        deg = kept.groupBy("dst").agg(F.count("*").cast("long").alias("c"))
    return (
        deg.where(F.col("c") >= _KCORE_K)
        .select(
            F.col("dst").alias("p_partkey"),
            F.col("c").alias("core_degree"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Greedy debounce — sequential per-key throttling via applyInPandas
# ---------------------------------------------------------------------------

#: throttle interval (microseconds): after a kept event, suppress the
#: user's events for 5 minutes, then keep the next one, and so on
_DEBOUNCE_US = 300_000_000

_DEBOUNCE_SQL = f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, epoch_us(ts) AS us, event_id
      FROM events WHERE user_id < 40
    ),
    walk(user_id, us, event_id) AS (
      SELECT user_id, (min({{'us': us, 'id': event_id}})).us,
             (min({{'us': us, 'id': event_id}})).id
      FROM ev GROUP BY user_id
      UNION
      SELECT e.user_id, (min({{'us': e.us, 'id': e.event_id}})).us,
             (min({{'us': e.us, 'id': e.event_id}})).id
      FROM walk w JOIN ev e
        ON e.user_id = w.user_id AND e.us >= w.us + {_DEBOUNCE_US}
      GROUP BY e.user_id
    )
    SELECT user_id, event_id FROM walk ORDER BY user_id, event_id
"""


@q("debounce_events", _DEBOUNCE_SQL)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY per-user debounce (alert throttling): keep an event, drop
    everything in the next 5 minutes, keep the next survivor, repeat.
    The kept set depends on which earlier events were kept — a
    sequential recurrence no window function expresses (a lag/session
    rewrite computes gaps to the previous EVENT, not to the previous
    KEPT event) — so this is the showcase for the custom-stateful
    escape hatch: Arrow-batched ``applyInPandas`` runs the O(n) greedy
    scan per user, and the DuckDB oracle replays it as a recursive CTE
    (each iteration's working table holds exactly the per-user frontier
    row, so ``min(next eligible)`` extends each chain by one link) —
    two different algorithms, one answer, certifying the imperative
    path bit-for-bit.

    Plan/scale: ONE shuffle on user_id into FlatMapGroupsInPandas;
    per-group state is the group itself (the sessionize bound), the
    Python work is a single numpy-sorted linear scan per user, and the
    5-minute throttle means output ≤ span/gap rows per user. The tie
    order (us, event_id) is total, so both engines keep the same event
    when timestamps collide."""
    import pandas as pd

    ev = (
        tbl(spark, sf_dir, "events")
        .where(F.col("user_id") < 40)
        .select(
            "user_id",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
        )
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"])
        us = pdf["us"].to_numpy()
        ids = pdf["event_id"].to_numpy()
        uid = pdf["user_id"].iloc[0]
        kept = []
        next_ok = None
        for t, i in zip(us, ids):
            if next_ok is None or t >= next_ok:
                kept.append(i)
                next_ok = t + _DEBOUNCE_US
        return pd.DataFrame({"user_id": uid, "event_id": kept})

    return (
        ev.groupBy("user_id")
        .applyInPandas(_greedy, "user_id long, event_id long")
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Bag-semantics set operations — EXCEPT ALL / INTERSECT ALL
# ---------------------------------------------------------------------------

_BAGOPS_SQL = """
    WITH span AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
                  FROM events),
    h1 AS (SELECT user_id, event_type FROM events, span
           WHERE epoch_us(ts) <= mid),
    h2 AS (SELECT user_id, event_type FROM events, span
           WHERE epoch_us(ts) > mid),
    lost AS (SELECT * FROM h1 EXCEPT ALL SELECT * FROM h2),
    common AS (SELECT * FROM h1 INTERSECT ALL SELECT * FROM h2)
    SELECT 'lost' AS op, event_type, CAST(count(*) AS BIGINT) AS n
    FROM lost GROUP BY 2
    UNION ALL
    SELECT 'common' AS op, event_type, CAST(count(*) AS BIGINT) AS n
    FROM common GROUP BY 2
    ORDER BY op, event_type
"""


@q("bag_set_ops", _BAGOPS_SQL)
def bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations — EXCEPT ALL / INTERSECT ALL with
    multiplicity semantics (§2.7's set ops are all DISTINCT-flavored;
    bags are the other half): per-user activity bags from the first
    half of the time range are diffed/intersected against the second
    half, where a user with 3 clicks in h1 and 1 in h2 contributes 2 to
    the lost bag and 1 to the common bag — counts a distinct-set diff
    would collapse. Spark's exceptAll/intersectAll implement the SQL
    standard's max(m−n,0)/min(m,n) multiplicity algebra; the oracle is
    the literal EXCEPT ALL/INTERSECT ALL.

    Plan/scale: Catalyst rewrites both ops to count-aggregate + join
    shapes (no row-pairing): one shuffle per side on the row key, then
    a generate of the surviving multiplicities — bag semantics at
    group-by cost."""
    ev = tbl(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    )
    (mid,) = ev.agg(
        ((F.min("us") + F.max("us")) / 2).cast("long")
    ).first()
    h1 = ev.where(F.col("us") <= mid).select("user_id", "event_type")
    h2 = ev.where(F.col("us") > mid).select("user_id", "event_type")
    lost = (
        h1.exceptAll(h2)
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("lost").alias("op"), "event_type", "n")
    )
    common = (
        h1.intersectAll(h2)
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("common").alias("op"), "event_type", "n")
    )
    return lost.unionByName(common).orderBy("op", "event_type")


# ---------------------------------------------------------------------------
# KMV set-operation cardinalities — union/intersection SIZE estimates
# ---------------------------------------------------------------------------

#: md5-60 hash domain size for the KMV cardinality estimator

_KMVC_SQL = f"""
    WITH t AS (
      SELECT source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS words
      FROM documents
    ),
    sh AS (
      SELECT source,
             unnest(list_transform(
               generate_series(1, greatest(len(words) - 2, 0)),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
      FROM t
    ),
    h AS (
      SELECT DISTINCT source, {HASH60.format(x="s")} AS hv
      FROM sh
    ),
    sk AS (
      SELECT source, hv, rn FROM (
        SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY source) AS nd
        FROM h
      ) WHERE rn <= {_KMV_K}
    ),
    card AS (
      SELECT source,
             CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS BIGINT)
                  ELSE CAST(CAST({(_KMV_K - 1) * _KMV_DOMAIN} AS HUGEINT)
                       // max(CASE WHEN rn = {_KMV_K} THEN hv END) AS BIGINT)
             END AS est_d
      FROM sk GROUP BY source
    ),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM documents) a
      JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
    ),
    uni AS (
      SELECT p.source_a, p.source_b, s.hv,
             max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
      FROM pr p
      JOIN sk s ON s.source = p.source_a OR s.source = p.source_b
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT source_a, source_b, hv, in_a, in_b,
             row_number() OVER (PARTITION BY source_a, source_b
                                ORDER BY hv) AS rn
      FROM uni
    ),
    m AS (
      SELECT source_a, source_b,
             CAST(count(*) AS BIGINT) AS k_u,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
             max(CASE WHEN rn = {_KMV_K} THEN hv END) AS kth
      FROM ranked WHERE rn <= {_KMV_K}
      GROUP BY 1, 2
    ),
    est AS (
      SELECT source_a, source_b, n_both,
             CASE WHEN k_u < {_KMV_K} THEN k_u
                  ELSE CAST(CAST({(_KMV_K - 1) * _KMV_DOMAIN} AS HUGEINT)
                            // kth AS BIGINT)
             END AS est_union,
             k_u
      FROM m
    )
    SELECT e.source_a, e.source_b,
           ca.est_d AS est_distinct_a,
           cb.est_d AS est_distinct_b,
           e.est_union,
           e.n_both * e.est_union // e.k_u AS est_intersection
    FROM est e
    JOIN card ca ON ca.source = e.source_a
    JOIN card cb ON cb.source = e.source_b
    ORDER BY e.source_a, e.source_b
"""


@q("kmv_set_cardinality", _KMVC_SQL)
def kmv_set_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation CARDINALITIES from KMV sketches — the theta-sketch
    capability HLL lacks: per source pair, estimated distinct-shingle
    counts, UNION size ((k−1)·M div h_k of the combined sketch — the
    k-th-minimum estimator over the 2^60 hash domain) and INTERSECTION
    size (overlap share of the union sketch × union estimate), all from
    the same k=64 sketches `portable_kmv_jaccard` builds — sizes, not
    just ratios, which is what capacity planning for a cross-corpus
    dedup actually needs. Small sets degrade to EXACT counts (a sketch
    with < k values IS its set — the case integer-gated so both engines
    branch identically); every estimator is integer multiply-then-
    floor-divide, bit-identical across engines and merge orders.

    Plan/scale: identical to the jaccard twin — bodies hash in the scan
    projection, only (source, hv) moves, pair math on sources²×k sketch
    rows. Union/intersection of 100 TB corpora priced without touching
    either corpus again: the sketches are the interface."""
    from bridgedownstream_spark.queries.similarity import (
        _SHINGLES_SPARK,
        _WORDS_SPARK,
    )

    docs = tbl(spark, sf_dir, "documents")
    # scan-width floor before the shingle explode + per-shingle md5
    # (single-task on one-row-group local inputs; cluster no-op)
    h = (
        wide(spark, docs.select("source", "text"), sf_dir, "documents")
        .selectExpr("source", f"{_WORDS_SPARK} AS words")
        .selectExpr("source", f"explode({_SHINGLES_SPARK}) AS s")
        .select("source", portable_hash60(F.col("s")).alias("hv"))
        .distinct()
    )
    w = W.partitionBy("source").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .localCheckpoint(eager=False)  # one sketch build, two consumers
    )
    card = sk.groupBy("source").agg(
        F.when(F.count("*") < _KMV_K, F.count("*").cast("long"))
        .otherwise(
            F.expr(
                # integral `div` on DECIMAL is exact (no scale-6 rounding
                # a floor(/) would ride on) — matches HUGEINT // exactly
                f"CAST(CAST('{(_KMV_K - 1) * _KMV_DOMAIN}'"
                f" AS DECIMAL(38,0))"
                f" div max(CASE WHEN rn = {_KMV_K} THEN hv END) AS BIGINT)"
            )
        )
        .alias("est_d")
    )
    srcs = docs.select("source").distinct()
    pr = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            srcs.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    uni = (
        F.broadcast(pr)
        .join(
            sk.select(F.col("source").alias("sk_source"), "hv"),
            (F.col("sk_source") == F.col("source_a"))
            | (F.col("sk_source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "hv")
        .agg(
            F.max(
                F.when(F.col("sk_source") == F.col("source_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("sk_source") == F.col("source_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    wp = W.partitionBy("source_a", "source_b").orderBy("hv")
    m = (
        uni.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= _KMV_K)
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("k_u"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
            F.max(
                F.when(F.col("rn") == _KMV_K, F.col("hv"))
            ).alias("kth"),
        )
    )
    est = m.select(
        "source_a",
        "source_b",
        "n_both",
        "k_u",
        F.when(F.col("k_u") < _KMV_K, F.col("k_u"))
        .otherwise(
            F.expr(
                f"CAST(CAST('{(_KMV_K - 1) * _KMV_DOMAIN}'"
                f" AS DECIMAL(38,0)) div kth AS BIGINT)"
            )
        )
        .alias("est_union"),
    )
    ca = card.select(
        F.col("source").alias("source_a"), F.col("est_d").alias("est_distinct_a")
    )
    cb = card.select(
        F.col("source").alias("source_b"), F.col("est_d").alias("est_distinct_b")
    )
    return (
        est.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "est_distinct_a",
            "est_distinct_b",
            "est_union",
            F.expr("n_both * est_union div k_u").alias("est_intersection"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) — dominance via one sorted window pass
# ---------------------------------------------------------------------------

_PARETO_SQL = """
    SELECT r.l_returnflag, r.l_orderkey, r.l_linenumber,
           r.l_extendedprice, r.l_shipdate
    FROM lineitem r
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem s
      WHERE s.l_returnflag = r.l_returnflag
        AND s.l_extendedprice <= r.l_extendedprice
        AND s.l_shipdate <= r.l_shipdate
        AND (s.l_extendedprice < r.l_extendedprice
             OR s.l_shipdate < r.l_shipdate)
    )
    ORDER BY l_returnflag, l_extendedprice, l_shipdate,
             l_orderkey, l_linenumber
"""


#: O(n log n) oracle twin for bench-scale verification: the same frontier
#: via DuckDB windows (per-price-group min date + strict-prefix running
#: min keyed on distinct-price rank). The REGISTERED oracle stays the
#: quadratic NOT-EXISTS spec above — it states the semantics rather than
#: an algorithm, which is the stronger independent check — but it is only
#: affordable at sf0.01; tools/verify_local.py swaps in this form at
#: larger scale factors, and tests/test_analytics.py pins the two DuckDB
#: formulations bit-identical on the sf0.01 corpus.
_PARETO_SQL_FAST = """
    WITH t AS (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             l_shipdate,
             min(l_shipdate) OVER (
               PARTITION BY l_returnflag, l_extendedprice) AS grp_min,
             dense_rank() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice) AS pr
      FROM lineitem),
    g AS (SELECT l_returnflag, pr, min(grp_min) AS gmin
          FROM t GROUP BY 1, 2),
    p AS (SELECT l_returnflag, pr,
                 min(gmin) OVER (
                   PARTITION BY l_returnflag ORDER BY pr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_min
          FROM g)
    SELECT t.l_returnflag, t.l_orderkey, t.l_linenumber,
           t.l_extendedprice, t.l_shipdate
    FROM t JOIN p ON t.l_returnflag = p.l_returnflag AND t.pr = p.pr
    WHERE t.l_shipdate = t.grp_min
      AND (p.prev_min IS NULL OR t.l_shipdate < p.prev_min)
    ORDER BY t.l_returnflag, t.l_extendedprice, t.l_shipdate,
             t.l_orderkey, t.l_linenumber
"""


#: price-domain buckets per return flag: the strict-prefix min is a
#: parallel prefix scan — each (flag, bucket) computes its local running
#: min independently, then a flags×buckets summary supplies the min over
#: all EARLIER buckets (every price there is strictly cheaper, since
#: bucketing is monotone in price).
_PARETO_BUCKETS = 64


@q("pareto_frontier", _PARETO_SQL)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier per return flag: the line items no
    other item beats on BOTH cheapness and ship date (multi-criteria
    "best offers" — the operator behind price/latency trade-off
    reports). The oracle states the SEMANTICS as the quadratic NOT
    EXISTS dominance test; the Spark plan is the O(n log n) rewrite —
    a row survives iff (a) it carries its price group's minimum date
    and (b) that date is strictly below the running minimum over all
    strictly-cheaper price groups (equal-price peers can't shadow each
    other, so exact (price, date) duplicates all survive — the same
    tie algebra the oracle encodes).

    Plan/scale: the r5-r7a form keyed every window on l_returnflag —
    3 distinct values, so THREE tasks sorted the whole table no matter
    the cluster size. This form decomposes the prefix scan: (1) one
    full-parallelism groupBy (flag, price) → per-group min date; (2)
    bucket each flag's price DOMAIN into 64 monotone ranges, so the
    strict-prefix running min splits into a per-(flag, bucket) local
    window (flags×64-way parallel) plus a flags×64-row bucket summary
    whose own prefix min supplies the cross-bucket term — the classic
    parallel prefix-sum shape; (3) the surviving frontier groups (hull-
    sized, tiny by construction) BROADCAST back onto the scan, so the
    fact table itself never shuffles at all. At 100× the old plan's
    per-task sort grows 100×; here it grows 100×/64 and the bucket
    count scales with the cluster."""
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_shipdate",
    )
    # (1) collapse to distinct price groups first — full shuffle
    # parallelism, map-side partial min
    g = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.min("l_shipdate").alias("gmin")
    )
    rng = g.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("pmin"),
        F.max("l_extendedprice").alias("pmax"),
    )
    # (2) monotone domain bucketing: earlier bucket => strictly cheaper
    bkt = (
        F.when(F.col("pmax") == F.col("pmin"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("l_extendedprice") - F.col("pmin"))
                    * _PARETO_BUCKETS
                    / (F.col("pmax") - F.col("pmin"))
                ),
                F.lit(_PARETO_BUCKETS - 1),
            )
        )
        .cast("int")
    )
    # two consumers (local window + bucket summary): checkpoint so the
    # (flag, price) groupBy shuffle runs once
    gb = (
        g.join(F.broadcast(rng), "l_returnflag")
        .select("l_returnflag", "l_extendedprice", "gmin", bkt.alias("bkt"))
        .localCheckpoint(eager=False)
    )
    wl = (
        W.partitionBy("l_returnflag", "bkt")
        .orderBy("l_extendedprice")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    loc = gb.withColumn("local_prev", F.min("gmin").over(wl))
    bs = gb.groupBy("l_returnflag", "bkt").agg(F.min("gmin").alias("bmin"))
    wb = (
        W.partitionBy("l_returnflag")
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ext = bs.select(
        "l_returnflag", "bkt", F.min("bmin").over(wb).alias("ext_prev")
    )
    # least() skips nulls (first bucket / first row in bucket)
    winners = (
        loc.join(F.broadcast(ext), ["l_returnflag", "bkt"])
        .withColumn("prev_min", F.least("local_prev", "ext_prev"))
        .where(F.col("prev_min").isNull() | (F.col("gmin") < F.col("prev_min")))
        .select("l_returnflag", "l_extendedprice", "gmin")
    )
    # (3) hull-sized winner set broadcasts; the fact scan never shuffles
    return (
        li.join(F.broadcast(winners), ["l_returnflag", "l_extendedprice"])
        .where(F.col("l_shipdate") == F.col("gmin"))
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
            "l_shipdate",
        )
        .orderBy(
            "l_returnflag",
            "l_extendedprice",
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
    )


@q(
    "chi_square_independence",
    """
    WITH j AS (
      SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS seg,
             e.event_type AS et
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    ),
    cell AS (SELECT seg, et, count(*) AS o FROM j GROUP BY 1, 2),
    rm AS (SELECT seg, sum(o) AS r FROM cell GROUP BY 1),
    cm AS (SELECT et, sum(o) AS c FROM cell GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM cell)
    SELECT CAST(round(sum(CAST(round(
             (CAST(o * tot.n - rm.r * cm.c AS DOUBLE)
              * CAST(o * tot.n - rm.r * cm.c AS DOUBLE))
             / (CAST(tot.n AS DOUBLE) * CAST(rm.r AS DOUBLE)
                * CAST(cm.c AS DOUBLE)), 9)
           AS DECIMAL(28,9))), 4) AS DOUBLE) AS chi2,
           CAST((count(DISTINCT cell.seg) - 1)
                * (count(DISTINCT cell.et) - 1) AS BIGINT) AS dof,
           CAST(max(tot.n) AS BIGINT) AS n
    FROM cell JOIN rm USING (seg) JOIN cm USING (et), tot
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event_type and the
    acting user's market segment — the categorical-association DQ check
    (is behavior segment-dependent?) that pairs with metric_correlations'
    numeric one.

    Exactness: the contingency table, margins, and N are exact integers;
    the per-cell statistic is computed as ((o·N − r·c)² ) / (N·r·c) with
    the DIFFERENCE taken in int64 BEFORE the double cast (o·N − r·c is
    bounded by N² — squaring is what would overflow, so only the square
    runs in double), each term rounds to 9 and the cross-cell sum merges
    as DECIMAL — arrival-order-proof, hence cross-engine hashable.

    Plan/scale: one fact pass builds the cell table (segments × types
    rows — tiny); margins and N re-aggregate CELLS, not the fact table;
    the margin joins broadcast. At 100 TB the only fact-sized work is
    the first groupBy."""
    ev = tbl(spark, sf_dir, "events").select("user_id", "event_type")
    cust = tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    cell = (
        ev.join(F.broadcast(cust), "user_id", "left")
        .select(
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("seg"),
            F.col("event_type").alias("et"),
        )
        .groupBy("seg", "et")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)  # one cell build, three consumers
    )
    rm = cell.groupBy("seg").agg(F.sum("o").alias("r"))
    cm = cell.groupBy("et").agg(F.sum("o").alias("c"))
    tot = cell.agg(F.sum("o").alias("n"))
    diff = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    term = F.round(
        diff * diff
        / (
            F.col("n").cast("double")
            * F.col("r").cast("double")
            * F.col("c").cast("double")
        ),
        9,
    ).cast("decimal(28,9)")
    return (
        cell.join(F.broadcast(rm), "seg")
        .join(F.broadcast(cm), "et")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(term), 4).cast("double").alias("chi2"),
            (
                (F.countDistinct("seg") - 1) * (F.countDistinct("et") - 1)
            ).cast("long").alias("dof"),
            F.max("n").cast("long").alias("n"),
        )
    )


@q(
    "copurchase_lift",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pc AS (SELECT l_partkey, count(*) AS n FROM op GROUP BY 1),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS support
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
           round(CAST(support * tot.n_orders AS DOUBLE)
                 / CAST(pa.n * pb.n AS DOUBLE), 6) AS lift
    FROM pairs
    JOIN pc pa ON pa.l_partkey = pairs.part_a
    JOIN pc pb ON pb.l_partkey = pairs.part_b
    CROSS JOIN tot
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (A-priori level 2): part pairs
    co-purchased in ≥3 orders, ranked by LIFT — support·N / (n_a·n_b),
    how much more often the pair co-occurs than independence predicts.
    The recommendation/affinity primitive.

    Plan/scale: the (order, part) incidence distincts ONCE and is
    localCheckpointed — the pair self-join reuses those partitions
    instead of re-scanning lineitem twice; a < b halves the pair space
    and kills self-pairs; the HAVING support cut runs IN the pair
    aggregate (map-combined) so only frequent pairs survive to the lift
    join; part counts and the order total are dimension-sized
    broadcasts; top-20 is a TakeOrdered, never a global sort. At 100 TB
    the pair aggregate is the only fact-scale exchange — and A-priori's
    support monotonicity is what keeps level-2 tractable: the candidate
    space is bounded by baskets × (items/basket)², not items².

    Exactness: support/counts are integers; lift's one double division
    runs on exact integer products (bounded by N·max_support and
    n_a·n_b ≪ 2^53), rounded to 6 — identical in both engines.
    """
    op = (
        tbl(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 3)
    )
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    tot = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    pa = pc.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    pb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    lift = F.round(
        (F.col("support") * F.col("n_orders")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double"),
        6,
    )
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .crossJoin(F.broadcast(tot))
        .select("part_a", "part_b", "support", lift.alias("lift"))
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )


@q(
    "attribution_position",
    """
    WITH touches AS (
      SELECT user_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ),
    conv AS (
      SELECT user_id, ts AS conv_ts, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT c.event_id, t.event_type AS channel,
             row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY t.ts, t.event_type) AS rn,
             count(*) OVER (PARTITION BY c.event_id) AS n
      FROM conv c JOIN touches t
        ON t.user_id = c.user_id
       AND t.ts <= c.conv_ts
       AND t.ts >= c.conv_ts - INTERVAL 7 DAY
    ),
    credited AS (
      SELECT channel,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN rn = 1 OR rn = n THEN 400000
                  ELSE 200000 // (n - 2)
                       + (CASE WHEN rn - 1 <= 200000 % (n - 2)
                               THEN 1 ELSE 0 END)
             END AS ppm
      FROM pairs
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS touches,
           CAST(sum(ppm) AS BIGINT) AS credit_ppm
    FROM credited GROUP BY channel
    """,
)
def attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each purchase
    splits credit 40% / 20% / 40% across its first, middle, and last
    qualifying touches in the 7-day lookback — the multi-touch sibling of
    attribution_last_touch (single-touch paths get 100%, two-touch 50/50).

    Credit is integer parts-per-million, never a float: the middle pool
    divides as 200000 div (n-2) with the remainder going to the earliest
    middles one ppm each, so every conversion's credits sum to exactly
    1,000,000 and the channel totals are engine-exact integers. Position
    ties (same ts, same channel) permute credit only among rows of the
    SAME channel, so the grouped sums are deterministic even though the
    row_number itself is not total.

    Spark shape: same user-key equi-join + residual lookback range as
    last-touch (never a time cross join), then two windows per conversion
    (position + path length) — one shuffle on user_id, one on event_id.
    At 100 TB both sides cluster on user_id and a user's 7-day touch
    block bounds every window partition."""
    ev = tbl(spark, sf_dir, "events")
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("ts").alias("t_ts"), F.col("event_type").alias("channel")
    )
    conv = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("conv_ts"), "event_id"
    )
    pairs = conv.join(touches, "user_id").where(
        (F.col("t_ts") <= F.col("conv_ts"))
        & (F.col("t_ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAY"))
    )
    wp = W.partitionBy("event_id")
    pos = pairs.select(
        "channel",
        F.row_number().over(wp.orderBy("t_ts", "channel")).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    ppm = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(400000))
        .otherwise(
            F.expr("200000 div (n - 2)")
            + F.when(F.col("rn") - 1 <= F.expr("200000 % (n - 2)"), 1).otherwise(0)
        )
    )
    return (
        pos.select("channel", ppm.alias("ppm"))
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("touches"),
            F.sum("ppm").cast("bigint").alias("credit_ppm"),
        )
    )


# -- Poisson-bootstrap confidence intervals -----------------------------------

_BOOT_B = 32  # resamples

#: Poisson(1) CDF thresholds scaled to 2^60 — EXACT integer literals,
#: precomputed once (math.exp on the driver) and baked identically into
#: both engines, so the per-row draw w = #{k : u >= t_k} involves no
#: float at query time. P(X > 7) ~ 1e-5 truncates to weight 8.
_POIS_T = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
)


def _pois_case_duck(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {cases} ELSE 8 END"


@q(
    "bootstrap_ci_revenue",
    f"""
    WITH draws AS (
      SELECT l_returnflag, b.b AS b,
             {_pois_case_duck("(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)), 1, 15))::BIGINT)")} AS w,
             l_extendedprice AS v
      FROM lineitem, unnest(generate_series(0, {_BOOT_B - 1})) AS b(b)
    ),
    rs AS (
      SELECT l_returnflag, b,
             round(CAST(sum(CAST(w * v AS DECIMAL(24,10))) AS DOUBLE)
                   / nullif(sum(w), 0), 4) AS m
      FROM draws GROUP BY 1, 2
    ),
    ranked AS (
      SELECT l_returnflag, m,
             row_number() OVER (
               PARTITION BY l_returnflag ORDER BY m, b) AS rn
      FROM rs
    ),
    fm AS (
      SELECT l_returnflag,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(24,10))) AS DOUBLE)
                   / count(*), 4) AS est
      FROM lineitem GROUP BY 1
    )
    SELECT r.l_returnflag,
           round(min(f.est), 4) AS est,
           round(max(CASE WHEN rn = 2 THEN m END), 4) AS ci_low,
           round(max(CASE WHEN rn = {_BOOT_B - 1} THEN m END), 4) AS ci_high
    FROM ranked r JOIN fm f USING (l_returnflag)
    GROUP BY r.l_returnflag
    """,
)
def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap (Chamandy et al., Google 2012:
    "Estimating uncertainty for massive data streams"): a confidence
    interval for per-flag mean price WITHOUT resampling-by-index — each
    row draws its own Poisson(1) multiplicity per resample, so resampling
    becomes a row-local weight and the bootstrap reduces to ONE weighted
    aggregation pass. The classic bootstrap's "sample n rows with
    replacement, B times" is undistributable (global index); this is the
    published scale-out form.

    Engine-exact randomness: the b-th draw for a row is a 60-bit md5 of
    (orderkey:linenumber:b) compared against Poisson(1) CDF thresholds
    pre-scaled to EXACT 2^60 integers — no RNG, no float in the draw, so
    both engines materialize the identical resample multiset (the
    md5-ppb gate discipline of train_val_test_split). CI bounds are the
    2nd/31st order statistics of the 32 resample means (~94% interval),
    exact-decimal means rounded to 4.

    Scale shape: the ×32 explode is row-local and partial-aggregates
    map-side, so the ONLY shuffle carries groups × 32 aggregate states —
    the wire cost is independent of row count; the order-statistic window
    runs on groups × 32 rows. At 100 TB that is still a few kilobytes.

    r9: the point estimate rides the SAME aggregate — each (flag, b)
    group contains every lineitem row of that flag exactly once, so the
    unweighted Σv and n accumulated alongside the bootstrap partials
    equal the flag's totals, and est = round(Σv/n, 4) is identical in
    every b-group. That removes the second lineitem scan, the separate
    per-flag aggregate, and the broadcast join the oracle writes — one
    corpus pass total (guide §1.2 step 1: don't recompute what a pass
    already carries).

    r10 measured-and-REJECTED: folding the x32 explode into per-row
    weight arrays (transform-built us/ws, 64 element_at aggregate
    buffers keyed on flag alone, unpivot after) was bit-exact but
    measured 5.0-5.1 s vs 4.07 s for this explode form in two
    interleaved cold A/B pairs with flat controls — the (flag,b) hash
    aggregate is fully map-side-combined, so the explode costs row
    iteration only, which is cheaper than materializing two 32-wide
    arrays per row and updating 66 aggregate buffers. The exchange
    already carries groups x 32 states either way."""
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        F.col("l_extendedprice").alias("v"),
    )
    # the x32 explode + md5 draws run INSIDE the scan stage, whose width
    # is the parquet split count — 3 row groups at local test scale, so
    # the md5 work would run 3-wide on 32 cores. One narrow repartition
    # widens it; on a real cluster the scan already has thousands of
    # splits and this exchange coalesces to a no-op under AQE.
    # the row-constant "orderkey:linenumber" prefix of the draw key is
    # hoisted ABOVE the x32 explode: one concat per ROW instead of per
    # draw (the md5 itself must stay per-draw - it is the randomness)
    draws = li.repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey"
    ).select(
        "l_returnflag", "v",
        F.concat_ws(
            ":",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("pfx"),
        F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b"),
    )
    u = portable_hash60(
        F.concat_ws(":", F.col("pfx"), F.col("b").cast("string"))
    )
    w = F.lit(8)
    for k in range(len(_POIS_T) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS_T[k], F.lit(k)).otherwise(w)
    rs = (
        draws.withColumn("u", u)
        .withColumn("w", w)
        .groupBy("l_returnflag", "b")
        .agg(
            F.sum((F.col("w") * F.col("v")).cast("decimal(24,10)")).alias("swv"),
            F.sum("w").alias("sw"),
            # unweighted totals: every lineitem row of the flag appears
            # exactly once per b, so Σv/n here IS the point estimate —
            # no second scan, no join (see docstring r9 note)
            F.sum(F.col("v").cast("decimal(24,10)")).alias("sv"),
            F.count("*").alias("nn"),
        )
        .select(
            "l_returnflag", "b",
            F.round(
                F.col("swv").cast("double") / F.nullif(F.col("sw"), F.lit(0)), 4
            ).alias("m"),
            F.round(
                F.col("sv").cast("double") / F.col("nn"), 4
            ).alias("est"),
        )
    )
    rn = F.row_number().over(W.partitionBy("l_returnflag").orderBy("m", "b"))
    ranked = rs.withColumn("rn", rn)
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.round(F.min("est"), 4).alias("est"),
            F.round(F.max(F.when(F.col("rn") == 2, F.col("m"))), 4).alias("ci_low"),
            F.round(
                F.max(F.when(F.col("rn") == _BOOT_B - 1, F.col("m"))), 4
            ).alias("ci_high"),
        )
    )


@q(
    "k_anonymity_audit",
    """
    SELECT c_nationkey AS nationkey,
           c_mktsegment AS segment,
           CAST(count(*) AS INT) AS k_size,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS INT)) AS INT)
               AS l_diversity,
           CAST(count(*) < 5 AS INT) AS k_violation,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS INT)) < 2
                AS INT) AS l_violation
    FROM customer
    GROUP BY 1, 2
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-compliance audit: k-anonymity and l-diversity over the
    quasi-identifier (nation, market segment), with the account-balance
    thousand-bucket as the sensitive attribute. A release pipeline runs
    exactly this before publishing a de-identified extract: every
    equivalence class reports its size k (re-identification risk when
    k < 5) and the number of distinct sensitive values l (attribute
    disclosure when l < 2 — everyone in the class shares the secret).

    Plan shape: ONE groupBy on the quasi-identifier; count(DISTINCT
    bucket) expands to the standard two-phase distinct aggregate — an
    exchange on (QI, bucket) then one on QI, both map-side combined to
    |QI domain| x |buckets| rows (~125 x ~11), so shuffle volume is
    class-count-sized regardless of table size. Portability: the sensitive bucket
    is floor(balance/1000) — balances carry two decimals, so the double
    quotient can never land within an ulp of an integer it doesn't equal,
    and floor() agrees across engines (no div-vs-// signage divergence).
    """
    c = tbl(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / F.lit(1000)).cast("int")
    return c.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.count(F.lit(1)).cast("int").alias("k_size"),
        F.countDistinct(bucket).cast("int").alias("l_diversity"),
        (F.count(F.lit(1)) < 5).cast("int").alias("k_violation"),
        (F.countDistinct(bucket) < 2).cast("int").alias("l_violation"),
    )


@q(
    "dow_seasonality",
    """
    WITH d AS (
      SELECT event_type, CAST(isodow(ts) AS INT) AS dow, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, sum(n) AS total FROM d GROUP BY 1)
    SELECT d.event_type, d.dow,
           CAST(d.n AS BIGINT) AS n_events,
           CAST(d.n * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST(d.n * 7000000 // t.total AS BIGINT) AS seasonal_index_ppm
    FROM d JOIN t USING (event_type)
    """,
)
def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of the event stream: per
    (event_type, weekday) volume, its share of the type's total, and the
    seasonal index (share x 7 — 1,000,000 ppm = flat, above = that
    weekday over-indexes). This is the weekly-seasonality profile a
    monitoring pipeline subtracts before anomaly detection, and the
    capacity-planning view of traffic shape.

    Plan shape: one groupBy on (event_type, dow) map-side combines to at
    most |types| x 7 rows — shuffle volume is profile-sized regardless of
    event count; the per-type totals re-aggregate those rows and broadcast
    back. Portability: weekday = ISO Monday=1..Sunday=7 (Spark weekday()+1
    == DuckDB isodow()); shares are exact integer div over positive
    BIGINTs, where Spark's truncation and DuckDB's floor agree.
    """
    e = tbl(spark, sf_dir, "events")
    d = (
        e.select(
            "event_type",
            (F.expr("weekday(ts)") + F.lit(1)).cast("int").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = d.groupBy("event_type").agg(F.sum("n").alias("total"))
    return d.join(F.broadcast(t), "event_type").select(
        "event_type",
        "dow",
        F.col("n").cast("bigint").alias("n_events"),
        F.expr("CAST(n * 1000000 div total AS BIGINT)").alias("share_ppm"),
        F.expr("CAST(n * 7000000 div total AS BIGINT)").alias(
            "seasonal_index_ppm"
        ),
    )


_CMS_JS_D = 4    # hash rows
_CMS_JS_W = 256  # counters per row


@q(
    "cms_join_size_estimate",
    f"""
    WITH ra AS (
      SELECT r, (('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
                                  || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT)
                 % {_CMS_JS_W} AS b,
             count(*) AS c
      FROM orders, range(0, {_CMS_JS_D}) t(r) GROUP BY 1, 2
    ),
    rb AS (
      SELECT r, (('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
                                  || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT)
                 % {_CMS_JS_W} AS b,
             count(*) AS c
      FROM customer, range(0, {_CMS_JS_D}) t(r) GROUP BY 1, 2
    ),
    est AS (
      SELECT min(ip) AS cms_estimate
      FROM (SELECT ra.r, sum(ra.c * rb.c) AS ip
            FROM ra JOIN rb ON ra.r = rb.r AND ra.b = rb.b GROUP BY 1)
    ),
    exact AS (
      SELECT sum(a.c * b.c) AS exact_pairs
      FROM (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1) a
      JOIN (SELECT c_custkey AS k, count(*) AS c FROM customer GROUP BY 1) b
        USING (k)
    )
    SELECT CAST(exact_pairs AS BIGINT) AS exact_pairs,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST((cms_estimate - exact_pairs) * 1000000 // exact_pairs
                AS BIGINT) AS over_ppm
    FROM est CROSS JOIN exact
    """,
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-cardinality estimation (the AGMS/Count-Min
    inner-product estimator, Alon-Gibbons-Matias-Szegedy / Cormode-
    Muthukrishnan): |orders JOIN customer ON custkey| estimated as
    min over {d} hash rows of the inner product of the two tables'
    {w}-counter CMS rows — the statistic a distributed optimizer uses to
    size a join BEFORE running it (estimate >> budget: pre-aggregate or
    go bucketed; estimate tiny: broadcast). The exact pair count rides
    along, so the output certifies the one-sided error (CMS inner
    products only ever OVERestimate) in ppm.

    Plan shape: each table collapses to a {d}x{w}-counter sketch via one
    map-side-combined groupBy (the x{d} row replication explodes BEFORE
    the partial agg, so the wire carries at most {d}*{w} counter rows per
    side regardless of table size); the sketch⋈sketch join and the min
    are sketch-sized. The exact twin shuffles key-count tables (partial-
    agg'd, key-cardinality-sized) — at 100 TB you'd skip it and trust the
    sketch; it's here as the certified error yardstick. All counters are
    exact BIGINTs, so the estimate is bit-identical across engines and
    merge orders.
    """
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")

    def sketch(df: DataFrame, key: str) -> DataFrame:
        # measured r9-opt: widening this side cost more than the xD md5
        # saved (the exchange + extra codegen stage outweigh ~600k md5
        # calls) — deliberately left narrow
        return (
            df.select(
                F.explode(F.expr(f"sequence(0, {_CMS_JS_D - 1})")).alias("r"),
                F.col(key).alias("k"),
            )
            .select(
                "r",
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.col("r").cast("string"),
                                    F.col("k").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % _CMS_JS_W
                ).alias("b"),
            )
            .groupBy("r", "b")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    ra = sketch(o, "o_custkey")
    rb = sketch(c, "c_custkey")
    est = (
        ra.join(rb.withColumnRenamed("c", "c2"), ["r", "b"])
        .groupBy("r")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("ip"))
        .agg(F.min("ip").alias("cms_estimate"))
    )
    a_cnt = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    b_cnt = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    exact = a_cnt.join(b_cnt, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("exact_pairs")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.col("exact_pairs").cast("bigint").alias("exact_pairs"),
            F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
            F.expr(
                "CAST((cms_estimate - exact_pairs) * 1000000 div exact_pairs"
                " AS BIGINT)"
            ).alias("over_ppm"),
        )
    )


cms_join_size_estimate.__doc__ = cms_join_size_estimate.__doc__.format(
    d=_CMS_JS_D, w=_CMS_JS_W
)


@q(
    "scd2_point_in_time_join",
    f"""
    WITH t AS (
      SELECT user_id, event_type AS state, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE event_type IN ('view', 'click', 'error')
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
      SELECT user_id, state, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM t
    ),
    iv AS (
      SELECT user_id, state, grp, min(ts) AS valid_from
      FROM g GROUP BY 1, 2, 3
    ),
    iv2 AS (
      SELECT user_id, state, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY grp)
                 AS valid_to
      FROM iv
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id,
           {TS_STR.format(col="p.ts")} AS purchase_ts,
           i.state AS dim_state,
           {TS_STR.format(col="i.valid_from")} AS dim_valid_from
    FROM p JOIN iv2 i
      ON p.user_id = i.user_id
     AND i.valid_from <= p.ts
     AND (i.valid_to IS NULL OR p.ts < i.valid_to)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) dimension lookup — the join every warehouse
    runs against an SCD2 dimension: for each purchase, the user's
    browsing/interaction state (their last view/click/error run) valid AT
    purchase time. The classic correctness trap is joining the CURRENT
    dimension row instead of the one valid at event time (training-serving
    skew in feature pipelines); this operator certifies the at-time
    semantics.

    Plan shape: the SCD2 dimension is the certified `scd2_intervals`
    gaps-and-islands derivation (one user_id exchange); the PIT lookup is
    the union-trick as-of join (`operators/asof.py`) — NO join node, one
    more user_id exchange, `last(ignorenulls)` carrying the latest
    interval forward. The oracle states the SEMANTICS as the interval-
    containment join [valid_from, valid_to) the as-of plan avoids —
    two algorithms, one answer. Purchases before any state event drop
    (inner semantics), matching the oracle join.
    """
    e = tbl(spark, sf_dir, "events")
    from bridgedownstream_spark.operators.asof import asof_join

    src = e.where(F.col("event_type").isin("view", "click", "error"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("bigint")
    g = src.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        F.sum(chg).over(w.rowsBetween(W.unboundedPreceding, 0)).alias("grp"),
    )
    iv = g.groupBy("user_id", "state", "grp").agg(
        F.min("ts").alias("valid_from")
    )
    probes = e.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    joined = asof_join(
        probes,
        iv.select("user_id", "valid_from", "state"),
        ["user_id"],
        "ts",
        "valid_from",
        ["state", "valid_from"],
        prefix="dim_",
    )
    return joined.where(F.col("dim_state").isNotNull()).select(
        "user_id",
        "event_id",
        ts_str(F.col("ts")).alias("purchase_ts"),
        "dim_state",
        ts_str(F.col("dim_valid_from")).alias("dim_valid_from"),
    )


_CC_MIN_ORDERS = 2  # edge confirmation threshold (the kcore convention)


@q(
    "clustering_coefficient",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b USING (l_orderkey)
          WHERE a.l_partkey <> b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_ORDERS}),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM e GROUP BY 1),
    o AS (
      SELECT e.src, e.dst, ds.degree AS src_deg, dd.degree AS dst_deg
      FROM e JOIN deg ds ON e.src = ds.node
             JOIN deg dd ON e.dst = dd.node
      WHERE (ds.degree, e.src) < (dd.degree, e.dst)
    ),
    wedge AS (
      SELECT x.src AS u, x.dst AS v, y.dst AS w
      FROM o x JOIN o y ON x.src = y.src
      WHERE (x.dst_deg, x.dst) < (y.dst_deg, y.dst)
    ),
    tri AS (
      SELECT u, v, w FROM wedge
      WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wedge.v AND o.dst = wedge.w)
    ),
    credit AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles
      FROM (SELECT unnest([u, v, w]) AS node FROM tri) GROUP BY 1
    )
    SELECT d.node AS p_partkey, d.degree,
           CAST(COALESCE(c.triangles, 0) AS BIGINT) AS triangles,
           CAST(COALESCE(c.triangles, 0) * 2000000
                // (d.degree * (d.degree - 1)) AS BIGINT) AS clustering_ppm
    FROM deg d LEFT JOIN credit c ON d.node = c.node
    WHERE d.degree >= 2
    """,
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the 2-order-confirmed
    part co-purchase graph: triangles(v) / (deg(v) choose 2) in exact ppm
    — the community-structure QC (high coefficient = tightly bundled
    product neighborhoods; near zero = hub-and-spoke) that complements
    the global triangle census (`dedup_graph_triangles`) and the k-core
    cascade (`kcore_peeling`).

    Scale shape — DEGREE-ORDERED triangle enumeration, not id-ordered:
    edges orient from the (degree, id)-smaller endpoint, so every wedge
    pivots at its lowest-degree vertex and the wedge join's fan-out is
    bounded by the graph's arboricity instead of its max degree (the
    id-ordered variant `dedup_graph_triangles` uses is simpler but lets
    one low-id hub enumerate its whole neighborhood squared). Each
    triangle is produced exactly once, then explodes into 3 node credits.
    Shuffles: the one pair-sized edge aggregate (``_copurchase_edges``,
    checkpointed), two node-keyed degree joins (broadcast-eligible — the
    node table is |V|-sized), the wedge self-join on the pivot key, and a
    LeftSemi closure check on (v, w) — candidates only, never all-pairs.
    """
    raw = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = _copurchase_edges(raw, _CC_MIN_ORDERS).drop("n_orders")
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    dsrc = deg.select(F.col("node").alias("src"), F.col("degree").alias("src_deg"))
    ddst = deg.select(F.col("node").alias("dst"), F.col("degree").alias("dst_deg"))
    o = (
        e.join(F.broadcast(dsrc), "src")
        .join(F.broadcast(ddst), "dst")
        .where(
            (F.col("src_deg") < F.col("dst_deg"))
            | ((F.col("src_deg") == F.col("dst_deg")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst", "dst_deg")
    )
    x = o.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("dst_deg").alias("v_deg"),
    )
    y = o.select(
        F.col("src").alias("u"),
        F.col("dst").alias("w"),
        F.col("dst_deg").alias("w_deg"),
    )
    wedge = x.join(y, "u").where(
        (F.col("v_deg") < F.col("w_deg"))
        | ((F.col("v_deg") == F.col("w_deg")) & (F.col("v") < F.col("w")))
    )
    tri = wedge.join(
        o.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "leftsemi",
    )
    credit = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return (
        deg.where(F.col("degree") >= 2)
        .join(credit, "node", "left")
        .select(
            F.col("node").alias("p_partkey"),
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.expr(
                "CAST(coalesce(triangles, 0) * 2000000"
                " div (degree * (degree - 1)) AS BIGINT)"
            ).alias("clustering_ppm"),
        )
    )


@q(
    "interarrival_burstiness",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(count(gap) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS HUGEINT) AS sg,
             CAST(sum(gap::HUGEINT * gap) AS HUGEINT) AS sg2
      FROM g WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_gaps,
           CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
           CAST((n_gaps * sg2 - sg * sg) * 1000000 // (sg * sg) AS BIGINT)
               AS burstiness_cv2_ppm
    FROM s WHERE n_gaps >= 2 AND sg > 0
    """,
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: the squared coefficient of
    variation of event gaps, CV² = var/mean², in exact ppm. CV² = 1e6 is
    the Poisson (memoryless) baseline; far above = bursty sessions (bot
    bursts, retry storms), near zero = metronome automation — the
    traffic-shape screen behind rate-limiter tuning and bot detection.

    Plan shape: one lag window on the user_id exchange produces gaps;
    the per-user aggregate map-side combines (count, Σgap, Σgap²) exact
    integer partials — DECIMAL(38,0)/HUGEINT for the squared sums, the
    KMV integral-div idiom for the final ratio, so the statistic is
    bit-identical across engines and merge orders (no float variance
    accumulation). Output is user-cardinality-sized.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = tbl(spark, sf_dir, "events")
    g = e.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    s = g.groupBy("user_id").agg(
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.sum(F.col("gap").cast("decimal(38,0)")).alias("sg"),
        F.sum(
            F.col("gap").cast("decimal(38,0)") * F.col("gap")
        ).alias("sg2"),
    )
    return (
        s.where((F.col("n_gaps") >= 2) & (F.col("sg") > 0))
        .select(
            "user_id",
            "n_gaps",
            F.expr("CAST(sg div n_gaps AS BIGINT)").alias("mean_gap_us"),
            F.expr(
                "CAST((n_gaps * sg2 - sg * sg) * 1000000 div (sg * sg)"
                " AS BIGINT)"
            ).alias("burstiness_cv2_ppm"),
        )
    )


_PSI_BUCKETS = 10


@q(
    "psi_drift",
    f"""
    WITH rng AS (
      SELECT epoch_us(min(ts)) AS tlo, epoch_us(max(ts)) AS thi,
             min(value) AS vlo, max(value) AS vhi
      FROM events
    ),
    tagged AS (
      SELECT CASE WHEN epoch_us(ts) < tlo + (thi - tlo) // 2
                  THEN 1 ELSE 0 END AS is_ref,
             CAST(least(floor((value - vlo) * {_PSI_BUCKETS}
                              / (vhi - vlo)), {_PSI_BUCKETS - 1}) AS INT)
                 AS bucket
      FROM events CROSS JOIN rng
    ),
    grid AS (SELECT unnest(range({_PSI_BUCKETS})) AS bucket),
    c AS (
      SELECT g.bucket,
             COALESCE(sum(CASE WHEN is_ref = 1 THEN 1 END), 0) + 1 AS p,
             COALESCE(sum(CASE WHEN is_ref = 0 THEN 1 END), 0) + 1 AS q
      FROM grid g LEFT JOIN tagged t ON g.bucket = t.bucket
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(p) AS BIGINT) AS pp,
                   CAST(sum(q) AS BIGINT) AS qq FROM c)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(p - 1 AS BIGINT) AS n_ref,
           CAST(q - 1 AS BIGINT) AS n_cur,
           round((CAST(q * pp - p * qq AS DOUBLE)
                  / (CAST(pp AS DOUBLE) * qq))
                 * ln((CAST(q AS DOUBLE) * pp)
                      / (CAST(qq AS DOUBLE) * p)), 9) AS psi_term
    FROM c CROSS JOIN tot
    """,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index — THE industry drift alarm for scoring
    pipelines: the event value distribution's first time-half (reference)
    vs second half (current) over {b} equi-width buckets, each bucket
    contributing (q%-p%)*ln(q%/p%); Σ psi_term < 0.1 is conventionally
    stable, > 0.25 triggers recalibration. Buckets are add-one smoothed
    so structurally-empty cells never produce ln(0) — the smoothing is
    part of the certified definition.

    Plan shape: the time/value range is ONE broadcast 1-row min/max
    aggregate; tagging and bucketing are row-local (the value_histogram
    floor-divide with a clamped top bucket); the per-bucket conditional
    counts map-side combine to {b} rows joined against a literal bucket
    grid (absent buckets surface, smoothed, instead of vanishing).
    Portability: PSI terms follow the domain_mix_kl discipline — exact
    BIGINT counts combined in IEEE-exact double divisions into ln,
    rounded at 9.
    """
    e = tbl(spark, sf_dir, "events")
    rng = F.broadcast(
        e.agg(
            F.unix_micros(F.min("ts")).alias("tlo"),
            F.unix_micros(F.max("ts")).alias("thi"),
            F.min("value").alias("vlo"),
            F.max("value").alias("vhi"),
        )
    )
    tagged = e.crossJoin(rng).select(
        F.when(
            F.unix_micros("ts")
            < F.col("tlo") + F.expr("(thi - tlo) div 2"),
            1,
        )
        .otherwise(0)
        .alias("is_ref"),
        F.least(
            F.floor(
                (F.col("value") - F.col("vlo"))
                * _PSI_BUCKETS
                / (F.col("vhi") - F.col("vlo"))
            ),
            F.lit(_PSI_BUCKETS - 1),
        )
        .cast("int")
        .alias("bucket"),
    )
    # aggregate the corpus FIRST (map-side-combined conditional counts to
    # <= {b} rows), THEN left-join the literal grid to surface absent
    # buckets — joining the corpus to the grid before aggregating (the r8
    # form) forced the whole table through a <= {b}-value shuffle key
    grid = spark.range(_PSI_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    bc = tagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref") == 1, 1).otherwise(0)).alias("n_ref_raw"),
        F.sum(F.when(F.col("is_ref") == 0, 1).otherwise(0)).alias("n_cur_raw"),
    )
    c = grid.join(bc, "bucket", "left").select(
        "bucket",
        (F.coalesce(F.col("n_ref_raw"), F.lit(0)) + 1).alias("p"),
        (F.coalesce(F.col("n_cur_raw"), F.lit(0)) + 1).alias("q"),
    )
    tot = F.broadcast(
        c.agg(
            F.sum("p").cast("bigint").alias("pp"),
            F.sum("q").cast("bigint").alias("qq"),
        )
    )
    term = F.round(
        (
            (F.col("q") * F.col("pp") - F.col("p") * F.col("qq")).cast("double")
            / (F.col("pp").cast("double") * F.col("qq"))
        )
        * F.log(
            (F.col("q").cast("double") * F.col("pp"))
            / (F.col("qq").cast("double") * F.col("p"))
        ),
        9,
    )
    return c.crossJoin(tot).select(
        "bucket",
        (F.col("p") - 1).cast("bigint").alias("n_ref"),
        (F.col("q") - 1).cast("bigint").alias("n_cur"),
        term.alias("psi_term"),
    )


psi_drift.__doc__ = psi_drift.__doc__.format(b=_PSI_BUCKETS)


#: value-domain range buckets for the monitor-family prefix scans. The
#: distinct-value table of a continuous DOUBLE grows linearly with the
#: corpus (events.value: ~17.8k distinct per 100k rows), so a bare
#: `ORDER BY value` window moves the WHOLE frame into one task — the
#: single-partition WindowExec the r8 verdict marked weak. The cumulative
#: sums decompose exactly like `pareto_frontier`'s strict-prefix min:
#: bucket the value DOMAIN into monotone ranges, run the window
#: per-bucket (B-way parallel, each task sorts ~1/B of the frame), and
#: add the totals of all strictly-earlier buckets — a <= B-row summary
#: whose prefix rollup is a sequence-explode + map-side-combined groupBy,
#: so NO window in the plan is partition-less (pinned in test_plans).
_SCAN_BUCKETS = 64


def _value_prefix_sums(
    vc: DataFrame,
    cols: list[str],
    inclusive: bool,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Exact per-`value` prefix sums of `cols` over a distinct-value
    frame, as a range-bucketed two-phase parallel prefix scan (see
    _SCAN_BUCKETS). Emits `cum_<c>` per input column; bit-identical to a
    global ORDER BY value window because the bucket function is weakly
    monotone in value (floor of an IEEE-monotone affine map) and integer
    sums are associative. `inclusive=False` yields the exclusive
    (strictly-before) prefix. `carry` columns pass through unsummed."""
    B = _SCAN_BUCKETS
    rng = F.broadcast(
        vc.agg(F.min("value").alias("vlo"), F.max("value").alias("vhi"))
    )
    bkt = (
        F.when(F.col("vhi") == F.col("vlo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vlo"))
                    * B
                    / (F.col("vhi") - F.col("vlo"))
                ),
                F.lit(B - 1),
            )
        )
        .cast("int")
    )
    # two consumers (local window + bucket summary): checkpoint so the
    # distinct-value groupBy shuffle runs once (pareto_frontier idiom)
    vb = (
        vc.crossJoin(rng)
        .select("value", *carry, *cols, bkt.alias("bkt"))
        .localCheckpoint(eager=False)
    )
    end = 0 if inclusive else -1
    wl = (
        W.partitionBy("bkt")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, end)
    )
    loc = vb.select(
        "value",
        "bkt",
        *carry,
        *cols,
        *[
            F.coalesce(F.sum(c).over(wl), F.lit(0)).alias(f"_loc_{c}")
            for c in cols
        ],
    )
    bs = vb.groupBy("bkt").agg(
        *[F.sum(c).alias(f"_b_{c}") for c in cols]
    )
    # offsets[t] = Σ over buckets < t: each bucket row contributes its
    # totals to every LATER bucket via a bounded sequence explode
    # (<= B^2 rows into <= B groups — no window, no theta join)
    contrib = bs.where(F.col("bkt") < B - 1).select(
        F.explode(F.sequence(F.col("bkt") + 1, F.lit(B - 1))).alias("bkt"),
        *[F.col(f"_b_{c}") for c in cols],
    )
    ext = contrib.groupBy("bkt").agg(
        *[F.sum(f"_b_{c}").alias(f"_off_{c}") for c in cols]
    )
    return loc.join(F.broadcast(ext), "bkt", "left").select(
        "value",
        *carry,
        *cols,
        *[
            (
                F.col(f"_loc_{c}")
                + F.coalesce(F.col(f"_off_{c}"), F.lit(0))
            ).alias(f"cum_{c}")
            for c in cols
        ],
    )


@q(
    "ks_two_sample",
    """
    WITH rng AS (
      SELECT epoch_us(min(ts)) AS tlo, epoch_us(max(ts)) AS thi FROM events
    ),
    tagged AS (
      SELECT value,
             CASE WHEN epoch_us(ts) < tlo + (thi - tlo) // 2
                  THEN 1 ELSE 0 END AS is_a
      FROM events CROSS JOIN rng
    ),
    vc AS (
      SELECT value,
             CAST(sum(is_a) AS BIGINT) AS ca,
             CAST(sum(1 - is_a) AS BIGINT) AS cb
      FROM tagged GROUP BY 1
    ),
    n AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb FROM vc),
    cum AS (
      SELECT value,
             sum(ca) OVER (ORDER BY value) AS cuma,
             sum(cb) OVER (ORDER BY value) AS cumb
      FROM vc
    ),
    d AS (
      SELECT value,
             abs(cuma::HUGEINT * (SELECT nb FROM n)
                 - cumb::HUGEINT * (SELECT na FROM n)) AS diff
      FROM cum
    )
    SELECT (SELECT na FROM n) AS n_first,
           (SELECT nb FROM n) AS n_second,
           value AS ks_value,
           CAST(diff * 1000000 // ((SELECT na FROM n)::HUGEINT
                                   * (SELECT nb FROM n)) AS BIGINT)
               AS d_ppm
    FROM d ORDER BY diff DESC, value LIMIT 1
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the event value
    distribution's first and second time halves: D = max over the value
    domain of |F_a(v) - F_b(v)|, computed EXACTLY as integer
    cross-products (|cumA*nB - cumB*nA| over the common denominator
    nA*nB) in ppm — no float CDFs, no approximation, deterministic
    argmax (largest gap, ties to the smallest value). The
    nonparametric sibling of `chi_square_independence` and the exact
    counterpart of `psi_drift`'s bucketed score.

    Plan shape: values reduce to a DISTINCT-VALUE-sized (value, countA,
    countB) table in one map-side-combined aggregate — the only
    corpus-sized shuffle. That frame is corpus-PROPORTIONAL for a
    continuous DOUBLE (~18% of rows are distinct at sf0.1), so the CDFs
    do NOT ride a global ORDER BY window (the r8 form — a single-task
    sort at 100 TB, marked weak by the r8 verdict): they are a
    range-bucketed two-phase parallel prefix scan (_value_prefix_sums —
    per-bucket local windows, 64-way parallel, plus a <= 64-row bucket
    summary), bit-identical by sum associativity. The result is a
    TakeOrdered(1) with an exact-integer ordering key (DECIMAL(38,0)
    cross-products — no truncation before the comparison).
    """
    e = tbl(spark, sf_dir, "events")
    rng = F.broadcast(
        e.agg(
            F.unix_micros(F.min("ts")).alias("tlo"),
            F.unix_micros(F.max("ts")).alias("thi"),
        )
    )
    tagged = e.crossJoin(rng).select(
        "value",
        F.when(
            F.unix_micros("ts") < F.col("tlo") + F.expr("(thi - tlo) div 2"),
            1,
        )
        .otherwise(0)
        .alias("is_a"),
    )
    vc = tagged.groupBy("value").agg(
        F.sum("is_a").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("cb"),
    )
    n = F.broadcast(
        vc.agg(
            F.sum("ca").cast("bigint").alias("na"),
            F.sum("cb").cast("bigint").alias("nb"),
        )
    )
    cum = _value_prefix_sums(vc, ["ca", "cb"], inclusive=True)
    d = cum.crossJoin(n).select(
        "value",
        "na",
        "nb",
        F.abs(
            F.col("cum_ca").cast("decimal(38,0)") * F.col("nb")
            - F.col("cum_cb").cast("decimal(38,0)") * F.col("na")
        ).alias("diff"),
    )
    return (
        d.orderBy(F.col("diff").desc(), "value")
        .limit(1)
        .select(
            F.col("na").alias("n_first"),
            F.col("nb").alias("n_second"),
            F.col("value").alias("ks_value"),
            F.expr(
                "CAST(diff * 1000000 div (CAST(na AS DECIMAL(38,0)) * nb)"
                " AS BIGINT)"
            ).alias("d_ppm"),
        )
    )


@q(
    "gini_activity_concentration",
    """
    WITH oc AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    vals AS (SELECT x, CAST(count(*) AS BIGINT) AS w FROM oc GROUP BY 1),
    cum AS (
      SELECT x, w,
             COALESCE(sum(w) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM vals
    ),
    s AS (
      SELECT CAST(sum(w) AS BIGINT) AS n,
             CAST(sum(x * w) AS HUGEINT) AS t,
             CAST(sum(x::HUGEINT * w * (2 * cb + w + 1)) AS HUGEINT) AS ri
      FROM cum
    )
    SELECT n AS n_customers,
           CAST(t AS BIGINT) AS total_orders,
           CAST((ri - (n + 1)::HUGEINT * t) * 1000000 // (n::HUGEINT * t)
                AS BIGINT) AS gini_ppm
    FROM s
    """,
)
def gini_activity_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer activity concentration (orders per
    customer), exact in ppm — the inequality summary behind "do 1% of
    accounts generate 90% of events?", the load-skew twin of
    `hot_key_report` and the monitoring statistic for bot/whale
    detection. Uses the grouped-data closed form: with x sorted and ties
    sharing consecutive ranks, 2*Σ i*x_i = Σ_v x_v*w_v*(2*cb_v + w_v + 1)
    over DISTINCT activity values, so G = (that - (n+1)*T) / (n*T).

    Plan shape: per-customer counts are one map-side-combined groupBy;
    those collapse to the DISTINCT-COUNT-VALUE domain (a handful of
    integers regardless of customer count — activity counts are small);
    the rank algebra rides one window over that domain-sized frame and
    the result is a 1-row reduction in exact DECIMAL(38,0)/HUGEINT
    arithmetic (the KMV integral-div idiom). No global sort of
    customers, ever.
    """
    o = tbl(spark, sf_dir, "orders")
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    vals = oc.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    wv = W.orderBy("x").rowsBetween(W.unboundedPreceding, -1)
    cum = vals.select(
        "x", "w", F.coalesce(F.sum("w").over(wv), F.lit(0)).alias("cb")
    )
    s = cum.agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.col("x") * F.col("w")).cast("decimal(38,0)").alias("t"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * F.col("w")
            * (2 * F.col("cb") + F.col("w") + 1)
        ).alias("ri"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("t").cast("bigint").alias("total_orders"),
        F.expr(
            "CAST((ri - CAST(n + 1 AS DECIMAL(38,0)) * t) * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * t) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@q(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS d,
                   CAST(sum(cents) AS BIGINT) AS t FROM daily),
    c AS (
      SELECT day, cents,
             sum(cents::HUGEINT * (SELECT d FROM tot) - (SELECT t FROM tot))
                 OVER (ORDER BY day) AS s
      FROM daily
    )
    SELECT (SELECT d FROM tot) AS n_days,
           strftime(day, '%Y-%m-%d') AS changepoint_day,
           CAST(s AS BIGINT) AS cusum_scaled,
           CAST(abs(s) * 1000000 // ((SELECT d FROM tot)::HUGEINT
                                     * (SELECT t FROM tot)) AS BIGINT)
               AS cusum_share_ppm
    FROM c ORDER BY abs(s) DESC, day LIMIT 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event-value series: the
    day k maximizing |Σ_{d<=k} (x_d - mean)| — the classic level-shift
    locator (a revenue regression, a logging change, a bot wave turns
    the cumulative deviation into a tent whose peak IS the shift day).
    Scaled by the day count (S_k = Σ x_d*D - k*T) the statistic stays in
    exact integer cents — no rational mean, no float drift; the share
    form normalizes by D*T so thresholds port across corpus sizes.

    Plan shape: daily totals are one map-side-combined aggregate over
    exact integer cents (round(value*100) — two-decimal money is exact
    in cents); the cumulative deviation rides one window over the
    DAY-domain-sized frame; the argmax is a TakeOrdered(1) with a
    deterministic earliest-day tie-break. Exact DECIMAL(38,0) products
    keep the wire and the statistic bit-identical across engines.
    """
    e = tbl(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    tot = F.broadcast(
        daily.agg(
            F.count(F.lit(1)).cast("bigint").alias("d"),
            F.sum("cents").cast("bigint").alias("t"),
        )
    )
    wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    c = daily.crossJoin(tot).select(
        "day",
        "d",
        "t",
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("d") - F.col("t")
        )
        .over(wd)
        .alias("s"),
    )
    return (
        c.orderBy(F.abs(F.col("s")).desc(), "day")
        .limit(1)
        .select(
            F.col("d").alias("n_days"),
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            F.col("s").cast("bigint").alias("cusum_scaled"),
            F.expr(
                "CAST(abs(s) * 1000000 div (CAST(d AS DECIMAL(38,0)) * t)"
                " AS BIGINT)"
            ).alias("cusum_share_ppm"),
        )
    )


@q(
    "mann_whitney_u",
    """
    WITH rng AS (
      SELECT epoch_us(min(ts)) AS tlo, epoch_us(max(ts)) AS thi FROM events
    ),
    tagged AS (
      SELECT value,
             CASE WHEN epoch_us(ts) < tlo + (thi - tlo) // 2
                  THEN 1 ELSE 0 END AS is_a
      FROM events CROSS JOIN rng
    ),
    vc AS (
      SELECT value,
             CAST(sum(is_a) AS BIGINT) AS ca,
             CAST(sum(1 - is_a) AS BIGINT) AS cb
      FROM tagged GROUP BY 1
    ),
    cum AS (
      SELECT value, ca, cb,
             COALESCE(sum(ca + cb) OVER (ORDER BY value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
      FROM vc
    ),
    s AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb,
             CAST(sum(ca::HUGEINT * (2 * tb + ca + cb + 1)) AS HUGEINT)
                 AS rs2
      FROM cum
    )
    SELECT na AS n_first, nb AS n_second,
           CAST(rs2 - na::HUGEINT * (na + 1) AS BIGINT) AS u2_first,
           CAST((rs2 - na::HUGEINT * (na + 1)) * 1000000
                // (2::HUGEINT * na * nb) AS BIGINT) AS cles_ppm
    FROM s
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the event value
    distribution's first and second time halves — the nonparametric
    location-shift companion to `ks_two_sample` (KS detects any shape
    change, U detects stochastic dominance). Midrank tie handling is
    exact: doubling the rank sum keeps everything integer (2*rankSum_A =
    Σ ca_v*(2*before_v + w_v + 1)), so U and the common-language effect
    size P(A>B) + P(A=B)/2 — `cles_ppm`, 500000 = no shift — are
    bit-identical across engines, no normal approximation, no floats.

    Plan shape: identical to the KS topology — one map-side-combined
    (value, countA, countB) aggregate, then the exclusive before-count
    prefix via the same range-bucketed two-phase parallel scan
    (_value_prefix_sums; the rank algebra is a prefix sum, so the
    decomposition is exact), a 1-row exact DECIMAL(38,0) reduction. No
    partition-less window (the r8 form's single-task sort is gone).
    """
    e = tbl(spark, sf_dir, "events")
    rng = F.broadcast(
        e.agg(
            F.unix_micros(F.min("ts")).alias("tlo"),
            F.unix_micros(F.max("ts")).alias("thi"),
        )
    )
    tagged = e.crossJoin(rng).select(
        "value",
        F.when(
            F.unix_micros("ts") < F.col("tlo") + F.expr("(thi - tlo) div 2"),
            1,
        )
        .otherwise(0)
        .alias("is_a"),
    )
    vc = tagged.groupBy("value").agg(
        F.sum("is_a").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("cb"),
    )
    cum = _value_prefix_sums(
        vc.select("value", "ca", "cb", (F.col("ca") + F.col("cb")).alias("w")),
        ["w"],
        inclusive=False,
        carry=("ca", "cb"),
    ).withColumnRenamed("cum_w", "tb")
    s = cum.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(
            F.col("ca").cast("decimal(38,0)")
            * (2 * F.col("tb") + F.col("ca") + F.col("cb") + 1)
        ).alias("rs2"),
    )
    return s.select(
        F.col("na").alias("n_first"),
        F.col("nb").alias("n_second"),
        F.expr(
            "CAST(rs2 - CAST(na AS DECIMAL(38,0)) * (na + 1) AS BIGINT)"
        ).alias("u2_first"),
        F.expr(
            "CAST((rs2 - CAST(na AS DECIMAL(38,0)) * (na + 1)) * 1000000"
            " div (CAST(2 AS DECIMAL(38,0)) * na * nb) AS BIGINT)"
        ).alias("cles_ppm"),
    )


#: log10(1 + 1/d) in exact ppm, d = 1..9 — sums to exactly 1,000,000
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


@q(
    "benford_deviation",
    f"""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    grid AS (
      SELECT unnest(range(1, 10)) AS digit,
             unnest({_BENFORD_PPM}) AS b_ppm
    ),
    cnt AS (
      SELECT g.digit, g.b_ppm,
             CAST(COALESCE(count(c.digit), 0) AS BIGINT) AS n
      FROM grid g LEFT JOIN c ON g.digit = c.digit
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cnt),
    tvd AS (
      SELECT CAST(sum(abs(n::HUGEINT * 1000000 - b_ppm::HUGEINT * nn))
                  // (2::HUGEINT * max(nn)) AS BIGINT) AS tvd_ppm
      FROM cnt CROSS JOIN tot
    )
    SELECT CAST(cnt.digit AS INT) AS digit, n AS n_orders,
           CAST(n * 1000000 // nn AS BIGINT) AS share_ppm,
           CAST(b_ppm AS BIGINT) AS benford_ppm,
           CAST(n * 1000000 // nn - b_ppm AS BIGINT) AS dev_ppm,
           tvd_ppm
    FROM cnt CROSS JOIN tot CROSS JOIN tvd
    """,
)
def benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts — the classic
    forensic-accounting / synthetic-data screen: natural multiplicative
    amounts put digit 1 first ~30.1% of the time; fabricated or
    template-generated values flatten toward 11.1% each. Per digit:
    observed share vs the Benford expectation in exact ppm, plus the
    total-variation distance (half the absolute deviation mass) as the
    one-number alarm.

    Portability: the leading digit comes from the CENTS STRING (money is
    exact in integer cents; ×100 never changes the leading digit) — no
    log10 near powers of ten, no float formatting divergence. The
    Benford expectations are shared literal ppm constants that sum to
    exactly 1,000,000, so every column is exact integer arithmetic.
    Plan: one row-local projection, a 9-row map-side-combined count
    joined to a literal digit grid (absent digits surface as zeros), and
    two broadcast 1-row reductions.
    """
    o = tbl(spark, sf_dir, "orders")
    c = o.where(F.col("o_totalprice") > 0).select(
        F.expr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS INT)"
        ).alias("digit")
    )
    grid = spark.createDataFrame(
        [(d + 1, _BENFORD_PPM[d]) for d in range(9)], "digit int, b_ppm int"
    )
    cnt = (
        grid.join(c.groupBy("digit").agg(F.count(F.lit(1)).alias("nraw")),
                  "digit", "left")
        .select(
            "digit",
            "b_ppm",
            F.coalesce("nraw", F.lit(0)).cast("bigint").alias("n"),
        )
    )
    tot = F.broadcast(cnt.agg(F.sum("n").cast("bigint").alias("nn")))
    # Σ|n*1e6 - b_ppm*nn| / (2*nn) IS the TVD in ppm already — no further
    # normalization (r8 shipped an extra `div nn` that crushed the alarm
    # to ~0-1 ppm on any realistic corpus; the oracle and the hand
    # computation in tests/test_analytics.py encoded the same mistake)
    tvd = F.broadcast(
        cnt.crossJoin(tot).agg(
            F.expr(
                "CAST(sum(abs(CAST(n AS DECIMAL(38,0)) * 1000000"
                " - CAST(b_ppm AS DECIMAL(38,0)) * nn))"
                " div (CAST(2 AS DECIMAL(38,0)) * max(nn)) AS BIGINT)"
            ).alias("tvd_ppm")
        )
    )
    return (
        cnt.crossJoin(tot)
        .crossJoin(tvd)
        .select(
            F.col("digit").cast("int").alias("digit"),
            F.col("n").alias("n_orders"),
            F.expr("CAST(n * 1000000 div nn AS BIGINT)").alias("share_ppm"),
            F.col("b_ppm").cast("bigint").alias("benford_ppm"),
            F.expr("CAST(n * 1000000 div nn - b_ppm AS BIGINT)").alias(
                "dev_ppm"
            ),
            "tvd_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Split-conformal anomaly bound — distribution-free outlier gating
# ---------------------------------------------------------------------------

#: conformal miscoverage level: flag rate on exchangeable data is
#: guaranteed <= alpha; 1 - alpha = 0.9 in exact tenths
_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 9, 10


@q(
    "conformal_anomaly_bound",
    f"""
    WITH t AS (
      SELECT value,
             CASE WHEN {HASH60.format(x="CAST(event_id AS VARCHAR) || ':conf-v1'")}
                       % 1000000000 < 500000000
                  THEN 1 ELSE 0 END AS is_cal
      FROM events
    ),
    n AS (SELECT CAST(sum(is_cal) AS BIGINT) AS n_cal,
                 CAST(sum(1 - is_cal) AS BIGINT) AS n_test FROM t),
    k AS (SELECT least(({_CONF_ALPHA_NUM} * (n_cal + 1)
                        + {_CONF_ALPHA_DEN} - 1) // {_CONF_ALPHA_DEN},
                       n_cal) AS k
          FROM n),
    thr AS (
      SELECT value AS threshold FROM t WHERE is_cal = 1
      ORDER BY value LIMIT 1 OFFSET (SELECT k - 1 FROM k)
    )
    SELECT n.n_cal, n.n_test, k.k AS cal_rank,
           thr.threshold AS threshold_value,
           CAST((SELECT count(*) FROM t
                 WHERE is_cal = 0 AND value > thr.threshold) AS BIGINT)
               AS n_flagged,
           CAST((SELECT count(*) FROM t
                 WHERE is_cal = 0 AND value > thr.threshold) * 1000000
                // greatest(n.n_test, 1) AS BIGINT) AS flag_ppm
    FROM n, k, thr
    """,
)
def conformal_anomaly_bound(spark, sf_dir):
    """Split-conformal anomaly gating — the distribution-free outlier
    bound a monitoring pipeline deploys when it cannot assume a value
    distribution: a deterministic hash gate (md5 ppb, the split_assign
    discipline) carves an exchangeable calibration half; the threshold
    is the ceil((1-a)(n+1))-th smallest calibration value, and flagging
    test values above it is GUARANTEED <= a miscoverage on exchangeable
    data — no parametric assumption, unlike `zscore_anomalies`/
    `mad_outliers`. Output audits the achieved flag rate in ppm. A NEW
    conformal-prediction family.

    Plan/scale: the k-th order statistic does NOT globally sort: the
    calibration frame reduces to distinct (value, count) rows and the
    rank is read off the same range-bucketed two-phase prefix scan the
    monitor family uses (_value_prefix_sums — 64-way parallel, no
    partition-less window), then TakeOrdered(1) ascending over the
    qualifying values. Counts are map-side combined; the threshold
    broadcasts back onto the test side as a 1-row frame.
    """
    e = tbl(spark, sf_dir, "events")
    t = e.select(
        "value",
        F.when(
            portable_hash60(
                F.concat(F.col("event_id").cast("string"), F.lit(":conf-v1"))
            )
            % 1_000_000_000
            < 500_000_000,
            1,
        )
        .otherwise(0)
        .alias("is_cal"),
    )
    n = F.broadcast(
        t.agg(
            F.sum("is_cal").cast("bigint").alias("n_cal"),
            F.sum(F.lit(1) - F.col("is_cal")).cast("bigint").alias("n_test"),
        )
    )
    k = F.broadcast(
        n.select(
            "n_cal",
            "n_test",
            F.expr(
                f"least(({_CONF_ALPHA_NUM} * (n_cal + 1)"
                f" + {_CONF_ALPHA_DEN - 1}) div {_CONF_ALPHA_DEN}, n_cal)"
            ).alias("k"),
        )
    )
    vc = (
        t.where(F.col("is_cal") == 1)
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cum = _value_prefix_sums(vc, ["c"], inclusive=True)
    thr = F.broadcast(
        cum.crossJoin(k.select("k"))
        .where(F.col("cum_c") >= F.col("k"))
        .orderBy("value")
        .limit(1)
        .select(F.col("value").alias("threshold"))
    )
    flagged = (
        t.where(F.col("is_cal") == 0)
        .crossJoin(thr)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("value") > F.col("threshold"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
            F.max("threshold").alias("threshold_value"),
        )
    )
    return (
        k.crossJoin(flagged)
        .select(
            "n_cal",
            "n_test",
            F.col("k").alias("cal_rank"),
            "threshold_value",
            "n_flagged",
            F.expr(
                "CAST(n_flagged * 1000000 div greatest(n_test, 1) AS BIGINT)"
            ).alias("flag_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Mutual information — the dependence measure behind feature selection
# ---------------------------------------------------------------------------


@q(
    "mutual_information",
    """
    WITH j AS (
      SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS seg,
             e.event_type AS et
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    ),
    cell AS (SELECT seg, et, CAST(count(*) AS BIGINT) AS o
             FROM j GROUP BY 1, 2),
    rm AS (SELECT seg, CAST(sum(o) AS BIGINT) AS r FROM cell GROUP BY 1),
    cm AS (SELECT et, CAST(sum(o) AS BIGINT) AS c FROM cell GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell)
    SELECT seg, et, o,
           round((CAST(o AS DOUBLE) / n)
                 * ln((CAST(o AS DOUBLE) * n)
                      / (CAST(r AS DOUBLE) * cm.c)), 9) AS mi_term
    FROM cell JOIN rm USING (seg) JOIN cm USING (et), tot
    ORDER BY seg, et
    """,
)
def mutual_information(spark, sf_dir):
    """Mutual information between customer market segment and event type
    — the dependence measure feature selection and mix design run next
    to `chi_square_independence` (chi2 tests IF dependent; MI measures
    HOW MUCH, in nats: Σ mi_term = I(seg; event)). Per-cell terms
    localize WHICH (segment, event) pairs carry the dependence; terms
    sum to ~0 under independence.

    Portability: the domain_mix_kl ln discipline — exact BIGINT cell
    counts combined in IEEE-exact double divisions into ln, rounded at
    9, so both engines evaluate libm on bit-identical arguments.

    Plan/scale: the dim join broadcasts; cells map-side combine to
    |segments|x|event types| rows; marginals and the total are
    cell-frame aggregates that broadcast back. Nothing after the first
    aggregate is corpus-sized."""
    e = tbl(spark, sf_dir, "events")
    c = tbl(spark, sf_dir, "customer")
    j = e.join(
        F.broadcast(c), e.user_id == c.c_custkey, "left"
    ).select(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("seg"),
        F.col("event_type").alias("et"),
    )
    cell = j.groupBy("seg", "et").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rm = cell.groupBy("seg").agg(F.sum("o").cast("bigint").alias("r"))
    cm = cell.groupBy("et").agg(F.sum("o").cast("bigint").alias("c"))
    tot = F.broadcast(cell.agg(F.sum("o").cast("bigint").alias("n")))
    return (
        cell.join(F.broadcast(rm), "seg")
        .join(F.broadcast(cm), "et")
        .crossJoin(tot)
        .select(
            "seg",
            "et",
            "o",
            F.round(
                (F.col("o").cast("double") / F.col("n"))
                * F.log(
                    (F.col("o").cast("double") * F.col("n"))
                    / (F.col("r").cast("double") * F.col("c"))
                ),
                9,
            ).alias("mi_term"),
        )
        .orderBy("seg", "et")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities — the directed-graph companion to pagerank
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
_HITS_SCALE = 10**12


def _hits_round_cte(k: int) -> str:
    s = _HITS_SCALE
    return f"""
    ar{k} AS (SELECT e.p, CAST(sum(h.hs) AS HUGEINT) AS raw
              FROM e JOIN h{k - 1} h ON h.c = e.c GROUP BY 1),
    at{k} AS (SELECT CAST(sum(raw) AS HUGEINT) AS t FROM ar{k}),
    a{k} AS (SELECT p, CAST(raw * {s} // (SELECT t FROM at{k}) AS BIGINT)
                    AS ascore
             FROM ar{k}),
    hr{k} AS (SELECT e.c, CAST(sum(a.ascore) AS HUGEINT) AS raw
              FROM e JOIN a{k} a ON a.p = e.p GROUP BY 1),
    ht{k} AS (SELECT CAST(sum(raw) AS HUGEINT) AS t FROM hr{k}),
    h{k} AS (SELECT c, CAST(raw * {s} // (SELECT t FROM ht{k}) AS BIGINT)
                    AS hs
             FROM hr{k})"""


_HITS_SQL = (
    """
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    h0 AS (SELECT DISTINCT c, CAST(1 AS BIGINT) AS hs FROM e),"""
    + ",".join(_hits_round_cte(k) for k in range(1, _HITS_ITERS + 1))
    + f"""
    SELECT p AS p_partkey, ascore AS auth_scaled
    FROM a{_HITS_ITERS}
    ORDER BY auth_scaled DESC, p_partkey
    LIMIT 20
    """
)


@q("hits_scores", _HITS_SQL)
def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities) over the DIRECTED customer→part purchase
    graph — pagerank's companion for bipartite endorsement structure:
    authorities are parts bought by the best collector-customers, hubs
    are customers buying the most authoritative parts, mutually
    reinforcing over {k} power-iteration rounds. Top-20 authorities.
    (The co-purchase graph pagerank walks is symmetric, where hubs ≡
    authorities — HITS needs this directed graph to say anything.)

    Arithmetic is deterministic-integer end to end: each half-round is
    an exact integer sum followed by sum-normalization to parts-per-10^12
    (``raw * 1e12 div total`` — the pagerank scaled-integer discipline;
    normalization choice doesn't change the fixed-point direction), so
    Spark and the {k}x-unrolled DuckDB oracle agree bit for bit.

    Plan/scale: the edge list (ONE orders⋈lineitem fact join, distinct
    (customer, part) pairs) localCheckpoints once and is reused by all
    {k2} half-rounds; score state is NODE-cardinality (customer / part
    dimensions) and BROADCASTS into map-side joins over the cached edge
    partitions — the edge table never re-shuffles; each half-round's
    only exchange is the map-side-combined integer aggregate on its
    node key. Totals are broadcast 1-row frames. The pagerank
    degradation note applies verbatim: node sets past the broadcast
    ceiling fall back to shuffle hash joins, arithmetic unchanged."""
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    s_lit = f"CAST({_HITS_SCALE} AS DECIMAL(38,0))"
    h = e.select("c").distinct().withColumn("hs", F.lit(1).cast("bigint"))
    a = None
    for _ in range(_HITS_ITERS):
        # each raw frame feeds TWO consumers (its total and its
        # normalized projection): checkpoint so the edge join + agg run
        # once per half-round, not twice (node-sized state — cheap)
        ar = (
            e.join(F.broadcast(h), "c")
            .groupBy("p")
            .agg(F.sum("hs").cast("decimal(38,0)").alias("raw"))
            .localCheckpoint(eager=False)
        )
        at = F.broadcast(ar.agg(F.sum("raw").alias("t")))
        a = ar.crossJoin(at).select(
            "p",
            F.expr(f"CAST(raw * {s_lit} div t AS BIGINT)").alias("ascore"),
        )
        hr = (
            e.join(F.broadcast(a), "p")
            .groupBy("c")
            .agg(F.sum("ascore").cast("decimal(38,0)").alias("raw"))
            .localCheckpoint(eager=False)
        )
        ht = F.broadcast(hr.agg(F.sum("raw").alias("t")))
        h = hr.crossJoin(ht).select(
            "c",
            F.expr(f"CAST(raw * {s_lit} div t AS BIGINT)").alias("hs"),
        )
    return (
        a.select(
            F.col("p").alias("p_partkey"),
            F.col("ascore").alias("auth_scaled"),
        )
        .orderBy(F.desc("auth_scaled"), "p_partkey")
        .limit(20)
    )


hits_scores.__doc__ = hits_scores.__doc__.format(
    k=_HITS_ITERS, k2=2 * _HITS_ITERS
)
