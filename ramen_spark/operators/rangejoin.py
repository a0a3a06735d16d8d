"""Interval (range) join — point-in-interval matching at scale.

Training/observability extension (no reference counterpart; the
nearest reference surfaces are the event-time lifespans of
`EVENT STARTING AT … DURATION`, /root/reference/src/raql_operation.type
event-time clauses, which this generalizes to joining OTHER streams
against those lifespans — "which events fell inside which incident
window" is the ramen alerter's outage-attribution question asked
relationally).

Spark has no native range join: `left JOIN right ON t BETWEEN lo AND
hi` plans as BroadcastNestedLoopJoin (small side) or a cartesian —
O(|L|·|R|) compares either way, a scale cliff. The standard fix
(Databricks' range-join "bin" optimization, DuckDB's IEJoin paper)
is bucketization, which composes from existing operators:

  1. pick a bucket width B (≈ the median interval span);
  2. points get ONE bucket: floor(t / B);
  3. intervals EXPLODE to every bucket they overlap —
     sequence(floor(lo/B), floor(hi/B)) rows each;
  4. equi-join on (keys…, bucket) — hash-partitioned, AQE-skew-safe,
     broadcastable when the exploded interval side is small;
  5. residual filter lo <= t <= hi drops same-bucket non-overlaps.

Each point matches an interval in EXACTLY one bucket (the point's
own), so no post-join dedup is needed. Cost: |L| + Σ(span/B + 1) join
rows instead of |L|·|R| compares. B trades replication (wide
intervals ⇒ many buckets) against bucket collision (narrow B ⇒ more
residual-filter waste); span/B ≈ 1-4 is the sweet spot.

sequence() footgun (SCALE §5): sequence(a, b) with b < a counts DOWN —
inverted intervals (hi < lo) would silently explode to a descending
bucket range and then pass no residual filter, paying cost for zero
rows. They are dropped up front instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    t_col: str,
    lo_col: str,
    hi_col: str,
    bucket: int,
    keys: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join point rows to every interval row with lo <= t <= hi
    (inclusive both ends), optionally also matching on equality
    `keys` present in both sides. t/lo/hi must be mutually comparable
    orderable columns on which integer division by `bucket` is
    meaningful (longs: epoch micros, ids, offsets). Output: all point
    columns + all interval columns (minus the join keys' duplicates).

    how='inner' (default) emits matches only; how='left' keeps
    unmatched points with NULL interval columns (one row each) — the
    enrichment form.

    Column-name contract: the two sides must not share any non-key
    column name — both are emitted by name, and a collision (e.g. both
    carrying `event_id` or `ts`) would make every downstream select or
    filter on that name throw AMBIGUOUS_REFERENCE. Raises ValueError
    up front instead; rename/alias one side before joining.

    Streaming: a streaming `points` side against a STATIC `intervals`
    side is a plain stream-static equi-join (the explode lives on the
    static side) and works unchanged — batch parity pinned by
    test_stream_static_interval_join.
    """
    if bucket <= 0:
        raise ValueError("bucket must be a positive integer")
    keys = list(keys or [])
    clash = sorted(
        (set(points.columns) & set(intervals.columns)) - set(keys)
    )
    if clash:
        raise ValueError(
            "interval_join: non-key column name collision between points "
            f"and intervals: {clash} — both sides are emitted by name, so "
            "a shared name makes downstream references ambiguous; rename "
            "one side (e.g. intervals.withColumnRenamed) before joining"
        )
    b = int(bucket)

    # integer `div`, not float `/`+cast: double division can land an
    # exact boundary at x.9999…, off-by-one-ing the bucket. `div`
    # truncates toward zero — exact floor for the non-negative
    # time/id domains this operator is for (documented).
    def _bkt(col: str):
        return F.expr(f"CAST(`{col}` AS BIGINT) div {b}")

    pts = points.withColumn("_bkt", _bkt(t_col))
    ivs = (
        intervals.filter(F.col(lo_col) <= F.col(hi_col))
        .withColumn("_bkt", F.explode(F.sequence(_bkt(lo_col), _bkt(hi_col))))
    )
    cond = [pts["_bkt"] == ivs["_bkt"]]
    cond += [pts[k] == ivs[k] for k in keys]
    residual = (pts[t_col] >= ivs[lo_col]) & (pts[t_col] <= ivs[hi_col])
    matched = pts.join(ivs, [*cond, residual], "inner")
    # drop the helper + the interval side's duplicated key columns
    out_cols = [pts[c] for c in points.columns] + [
        ivs[c] for c in intervals.columns if c not in keys
    ]
    if how == "inner":
        return matched.select(*out_cols)
    if how == "left":
        # left form: unmatched points survive with NULLs. The residual
        # must live in the join condition (not a post-filter) so a
        # point whose only bucket-mates fail the range check still
        # emits its NULL row exactly once... but bucket explosion can
        # match a point to the SAME interval only once (single point
        # bucket), so no dedup is needed here either.
        left = pts.join(ivs, [*cond, residual], "left")
        return left.select(*out_cols)
    raise ValueError(f"unsupported how={how!r}")


def interval_count_sum(
    points: DataFrame,
    intervals: DataFrame,
    t_col: str,
    lo_col: str,
    hi_col: str,
    iid_col: str,
    val_col: str,
    bucket: int,
) -> DataFrame:
    """COUNT and SUM of the points inside each interval [lo, hi]
    (inclusive, integer domain) — the aggregated form of
    ``interval_join + groupBy(interval)`` WITHOUT materializing the
    point×interval pairs (round 13, guide §2.4: at the stress tiers
    the pair relation is ~|I|·(points per window) rows — ~1e9 at the
    100× tier — while this shape touches every input row a small
    constant number of times).

    Prefix-sum identity: with prefix(x) = (count, sum of ``val_col``)
    over points with t <= x,

        n(iv)   = prefix(hi).count - prefix(lo-1).count
        sum(iv) = prefix(hi).sum   - prefix(lo-1).sum

    so each interval needs TWO prefix lookups, not one row per
    contained point. Prefixes are computed with the house bounded-
    prefix discipline (token_budget_select): bucket the time axis at
    ``bucket``, one per-bucket running-sum window (partition =
    bucket — every row is seen once), plus a cumulative window over
    the per-bucket totals (|time range / bucket| rows — one tiny
    task) re-attached by an equi-join to the boundary rows only.

    EXACTNESS (the reason this is not a double prefix sum): prefix
    differences in DOUBLE suffer catastrophic cancellation — two
    ~1e10 prefixes differing by ~1e2 share no significant digits with
    the direct per-window sum, and the oracle's round(sum, 6) would
    drift. ``val_col`` is therefore accumulated in DECIMAL(38,18):
    the cast rounds each double to 18 fractional digits (error
    <= 5e-19/row), decimal addition is exact and order-independent,
    and the prefix difference IS the exact sum of the cast values —
    within ~n·5e-19 of the true sum, far inside any 6-dp rounding
    slack. 19 integer digits of headroom bound the GLOBAL prefix
    magnitude (not per-window): fine for currency/count domains below
    1e19, which is the documented contract.

    t/lo/hi must be integer longs (epoch micros, ids, offsets) on the
    same axis; ``iid_col`` must uniquely identify interval rows.
    Inverted intervals (hi < lo) are dropped (interval_join's rule).
    Output: one row per surviving interval — (iid_col,
    n_points BIGINT, sum_val DECIMAL(38,18)) — including zero-match
    intervals (n_points = 0); filter n_points > 0 for inner-join
    parity.
    """
    if bucket <= 0:
        raise ValueError("bucket must be a positive integer")
    b = int(bucket)
    dec = "decimal(38,18)"
    zero = F.lit(0).cast(dec)

    pts = points.select(
        F.col(t_col).cast("long").alias("_t"),
        F.lit(0).alias("_flag"),
        F.lit(0).alias("_sign"),
        F.lit(None).cast(intervals.schema[iid_col].dataType).alias("_iid"),
        F.lit(1).cast("long").alias("_cnt"),
        F.col(val_col).cast(dec).alias("_val"),
    )
    # two boundary probes per interval: prefix(lo-1) with sign -1 and
    # prefix(hi) with sign +1 (integer domain: t <= lo-1  <=>  t < lo)
    bnd = (
        intervals.filter(F.col(lo_col) <= F.col(hi_col))
        .select(
            F.col(iid_col).alias("_iid"),
            F.explode(
                F.array(
                    F.struct(
                        (F.col(lo_col).cast("long") - 1).alias("q"),
                        F.lit(-1).alias("s"),
                    ),
                    F.struct(
                        F.col(hi_col).cast("long").alias("q"),
                        F.lit(1).alias("s"),
                    ),
                )
            ).alias("_b"),
        )
        .select(
            F.col("_b.q").alias("_t"),
            F.lit(1).alias("_flag"),
            F.col("_b.s").alias("_sign"),
            "_iid",
            F.lit(0).cast("long").alias("_cnt"),
            zero.alias("_val"),
        )
    )
    u = pts.unionByName(bnd).withColumn(
        # trunc-div is monotone over the whole long range, so bucket
        # order follows t even if a lo-1 probe dips below zero
        "_g", F.expr(f"_t div {b}")
    )

    # per-bucket totals -> cumulative offsets (boundary rows carry
    # zero weight, so their buckets appear with 0 totals — empty
    # buckets between data need no row at all). The cumulative window
    # is ONE task over |occupied buckets| rows — bounded by
    # time-range/bucket, the same knob interval_join sizes.
    bt = u.groupBy("_g").agg(
        F.sum("_cnt").alias("_bc"), F.sum("_val").alias("_bv")
    )
    wb = Window.orderBy("_g").rowsBetween(Window.unboundedPreceding, -1)
    off = bt.select(
        "_g",
        F.coalesce(F.sum("_bc").over(wb), F.lit(0)).alias("_oc"),
        F.coalesce(F.sum("_bv").over(wb), zero).alias("_ov"),
    )

    # within-bucket running sums: boundaries (_flag=1) sort AFTER the
    # points at the same t, so a probe at t reads the full t<=x
    # prefix; ties among boundary rows are harmless (zero weight).
    wr = (
        Window.partitionBy("_g")
        .orderBy("_t", "_flag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    probes = (
        u.withColumn("_rc", F.sum("_cnt").over(wr))
        .withColumn("_rv", F.sum("_val").over(wr))
        .filter(F.col("_flag") == 1)
        .join(F.broadcast(off), "_g")
    )
    # the signed prefix stays DECIMAL(38,18) end to end: the two terms
    # are narrowed to (37,18) so their sum needs no scale cut (38,18
    # + 38,18 would round to 38,17), and the sign negates by type (a
    # decimal product would be demoted to 38,6)
    narrow = "decimal(37,18)"
    prefix = F.col("_ov").cast(narrow) + F.col("_rv").cast(narrow)
    return (
        probes.groupBy("_iid")
        .agg(
            F.sum(F.col("_sign") * (F.col("_oc") + F.col("_rc")))
            .cast("long")
            .alias("n_points"),
            F.sum(F.when(F.col("_sign") == 1, prefix).otherwise(-prefix))
            .cast(dec)
            .alias("sum_val"),
        )
        .withColumnRenamed("_iid", iid_col)
    )
