"""Distinct-count sketches — the cardinality primitives a 100 TB
pipeline needs where exact COUNT(DISTINCT) is unaffordable (distinct
URLs per snapshot, distinct users per slice, vocabulary growth
tracking).

Training-pipeline extension (no reference counterpart; the nearest
reference surface is the DISTINCT novelty operator,
/root/reference/src/raql_expr.type `Distinct`, which tracks per-group
novelty rather than estimating cardinality).

KMV (k-minimum-values, a.k.a. bottom-k / theta sketch): keep the k
smallest values of a uniform hash of the column; the k-th smallest,
normalized to [0,1), estimates the distinct count as (k-1)/h_k
(Bar-Yossef et al. 2002; the estimator DataSketches' theta sketch
uses). Unlike HLL it is DETERMINISTIC given the hash — which makes it
oracle-checkable value-exactly against DuckDB (Spark's own
approx_count_distinct is HLL++ with engine-private registers — no
cross-engine oracle possible). The hash here is the first 12 hex
digits of md5 (a 48-bit uniform value both engines compute verbatim —
the same cross-engine trick the dedup fingerprints use).

100 TB shape — the whole point of a sketch is what does NOT move:
the naive relational form (DISTINCT pairs then a per-key window
rank ≤ k) shuffles EVERY distinct (key, hash) pair and then funnels
each key's distinct set into one window task — a hot key with 10^9
distinct values is a 10^9-row task (windows do no partial
aggregation). ``kmv_distinct`` instead prunes map-side: an
Arrow-batched per-partition pass keeps at most k smallest DISTINCT
hashes per key per partition (bounded heap state, O(keys·k) memory),
so the only Exchange carries ≤ k × n_partitions rows per key — for
k=256 on a 10 000-partition scan that is ≤ 2.6 M short rows per key
regardless of data size. Min-k is order-independent and the
per-partition min-k is a superset of the global min-k, so the result
is bit-identical to the naive form on any partitioning (pinned by
test + the registered oracle).

Sketch algebra: the (key, hash) rows the prefilter emits ARE a
mergeable sketch — union of snapshots = min-k over the concatenation,
so per-shard sketches can be persisted and merged without rescanning
(the same incremental contract as the banded dedup indexes).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^48 — hash values are 48-bit uniform ints from the md5 prefix
_HASH_SPACE = float(1 << 48)


def md5_hash48(col: Column) -> Column:
    """48-bit uniform hash both engines compute identically:
    conv(substring(md5(x), 1, 12), 16, 10) ≡ DuckDB
    ('0x' || substring(md5(x), 1, 12))::BIGINT."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast(
        "long"
    )


def _prefilter_min_k(keys: list[str], k: int):
    """mapInPandas kernel: per partition, per key, keep the k smallest
    DISTINCT hashes. Bounded state (dict of ≤ k-element arrays), Arrow
    batch in/out — nothing interpreted per element beyond a numpy
    unique + slice per (batch, key)."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[tuple, "np.ndarray"] = {}

        def fold(kt: tuple, hs: "pd.Series") -> None:
            prev = state.get(kt)
            arr = hs.to_numpy(dtype="int64")
            if prev is not None:
                arr = np.concatenate([prev, arr])
            state[kt] = np.unique(arr)[:k]  # unique sorts ascending

        for pdf in batches:
            if pdf.empty:
                continue
            if keys:
                for key, hs in pdf.groupby(keys, sort=False, dropna=False)[
                    "_h"
                ]:
                    fold(key if isinstance(key, tuple) else (key,), hs)
            else:
                fold((), pdf["_h"])  # global sketch: one group
        rows: list[tuple] = []
        for kt, arr in state.items():
            rows.extend(kt + (int(h),) for h in arr)
        if rows:
            yield pd.DataFrame(rows, columns=[*keys, "_h"])

    return run


def kmv_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-key distinct-count estimate via a k-minimum-values sketch.

    Output: (keys…, n_kept, kth_min, est_distinct) where n_kept is the
    sketch fill (= min(k, true distinct count)), kth_min the largest
    retained hash, and est_distinct the estimate — EXACT (= n_kept)
    while the sketch is under-full, floor((k-1)/(kth_min/2^48)) once
    saturated (floor, not round: both engines floor doubles
    identically, with no half-mode ambiguity). Deterministic: same
    input ⇒ same output on any partitioning, any row order.

    Plan shape (the scale contract): scan → mapInPandas prefilter
    (bounded, map-side, ≤ k distinct hashes per key per partition) →
    ONE Exchange of the pruned rows → final min-k + estimate per key.
    No full-data shuffle, no per-key window over the raw distinct set.
    """
    if k < 2:
        raise ValueError("kmv_distinct needs k >= 2")
    pruned = kmv_prune(df, keys, value_col, k)
    return kmv_finalize(pruned, keys, k)


def kmv_prune(
    df: DataFrame, keys: list[str], value_col: str, k: int
) -> DataFrame:
    """The sketch-building half of :func:`kmv_distinct`: hash + the
    map-side bounded prefilter → (keys…, _h) rows, ≤ k per key per
    partition. These rows ARE the mergeable sketch: min-k over a
    union of prune outputs equals min-k over the union of inputs —
    what the streaming lane persists and merges.

    keys=[] is the GLOBAL sketch (one group). NULL values are ignored
    (the SQL COUNT(DISTINCT …) convention) — a NULL hash would
    otherwise NaN-cast to INT64_MIN inside the Arrow prefilter and
    squat in the min slot forever.

    The build-time ``k`` rides along as a ``_kmv_k`` column (one long
    per sketch row, parquet-RLEs to nothing): consumers that finalize
    with a LARGER k than the sketch was built with would silently
    read a saturated sketch as under-full and report approximations
    as exact — _kmv_minset asserts min(_kmv_k) >= query k inside the
    plan (round-10 advisory). Legacy persisted sketches without the
    column still read (the guard passes NULLs; documented degradation).
    """
    hashed = df.select(
        *keys, md5_hash48(F.col(value_col)).alias("_h")
    ).filter(F.col("_h").isNotNull())
    schema_keys = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in hashed.schema.fields
        if f.name != "_h"
    ]
    schema = ", ".join([*schema_keys, "_h long"])
    return hashed.mapInPandas(_prefilter_min_k(keys, k), schema).withColumn(
        "_kmv_k", F.lit(k).cast("long")
    )


def kmv_finalize(
    pruned: DataFrame,
    keys: list[str],
    k: int,
    salt_above_partitions: int = 64,
) -> DataFrame:
    """Sketch rows → (keys…, n_kept, kth_min, est_distinct). collect_set
    dedups across partitions map-side; the global min-k is the first
    k of the sorted set — input is ≤ k × n_partitions rows per key,
    so the single Exchange here is tiny.

    Wide-scan guard: at P partitions the terminal per-key array is
    ≤ k·P elements (k=256 on a 10 000-partition scan = 2.6 M longs in
    ONE array in ONE task). Above ``salt_above_partitions`` input
    partitions, an intermediate min-k level is inserted: group by
    (keys…, _h mod ceil(√P)), keep each salt bucket's k smallest, then
    finalize — both levels are bounded at ~k·√P rows per key. Lossless:
    a hash among the global k smallest has at most k−1 hashes below it
    in total, hence at most k−1 within its own salt bucket, so every
    global min survives its bucket's min-k. Narrow inputs keep the
    single-Exchange plan (pinned by test); the salted form costs one
    extra bounded Exchange and is value-identical on any partitioning."""
    mins = _kmv_minset(pruned, keys, k, salt_above_partitions)
    n_kept = F.size(F.col("_mins"))
    # n_kept == 0 only on the empty GLOBAL sketch (keys=[] always emits
    # its one row): element_at(arr, 0) would throw INVALID_INDEX, so
    # kth_min is NULL there (and the estimate 0, via _kmv_estimate)
    kth = F.when(n_kept == 0, F.lit(None)).otherwise(
        F.element_at(F.col("_mins"), n_kept)
    ).cast("long")
    return mins.select(
        *keys,
        n_kept.cast("long").alias("n_kept"),
        kth.alias("kth_min"),
        _kmv_estimate(F.col("_mins"), k).alias("est_distinct"),
    )


def _kmv_minset(
    pruned: DataFrame,
    keys: list[str],
    k: int,
    salt_above_partitions: int = 64,
) -> DataFrame:
    """Prune output → one row per key with the global min-k hash set as
    a sorted array column ``_mins`` (the wide-scan salting guard of
    :func:`kmv_finalize` lives here; see its docstring for the
    losslessness argument). keys=[] yields exactly ONE row (global
    sketch) — Spark's global aggregate emits a row even on empty
    input, with an empty array.

    k-fidelity guard (round-10 advisory): when the sketch rows carry
    the build-time ``_kmv_k`` column, the plan asserts per group that
    min(_kmv_k) >= the query ``k`` — finalizing a k=32 sketch at k=64
    would otherwise read as under-full and report approximations as
    exact. The check rides the same aggregation (no extra pass, no
    eager job); legacy sketches without the column pass unchecked."""
    has_k = "_kmv_k" in pruned.columns
    n_parts = pruned.rdd.getNumPartitions()
    if n_parts > salt_above_partitions:
        import math

        s = int(math.ceil(math.sqrt(n_parts)))
        aggs = [F.slice(F.array_sort(F.collect_set("_h")), 1, k).alias("_m")]
        if has_k:
            aggs.append(F.min("_kmv_k").alias("_kmv_k"))
        pruned = (
            pruned.groupBy(*keys, (F.col("_h") % s).alias("_salt"))
            .agg(*aggs)
            .select(
                *keys,
                F.explode("_m").alias("_h"),
                *(["_kmv_k"] if has_k else []),
            )
        )
    aggs = [F.slice(F.array_sort(F.collect_set("_h")), 1, k).alias("_m")]
    if has_k:
        aggs.append(F.min("_kmv_k").alias("_k_built"))
    mins = pruned.groupBy(*keys).agg(*aggs)
    if has_k:
        # assert_true riding the _mins projection so column pruning
        # can't drop it; NULL _k_built (legacy / empty global group)
        # passes via the coalesce
        ok = F.coalesce(F.col("_k_built") >= F.lit(k), F.lit(True))
        guard = F.assert_true(
            ok,
            F.concat(
                F.lit(
                    "kmv: sketch was built with k="
                ),
                F.col("_k_built").cast("string"),
                F.lit(f" but queried with k={k} — a smaller-k sketch "
                      "cannot answer a larger-k query exactly; rebuild "
                      "the sketch or lower the query k"),
            ),
        )
        # branches must DIFFER or SimplifyConditionals collapses the
        # CASE and prunes the assert (functions/scalar.py:58 pattern);
        # at runtime the guard either throws or returns NULL → the
        # otherwise-branch always yields _m
        mins = mins.select(
            *keys,
            F.when(guard.isNotNull(), F.lit(None).cast("array<long>"))
            .otherwise(F.col("_m"))
            .alias("_mins"),
        )
    else:
        mins = mins.select(*keys, F.col("_m").alias("_mins"))
    return mins


def _kmv_estimate(mins: Column, k: int) -> Column:
    """KMV cardinality estimate from a sorted min-k hash array: exact
    (= fill) while under-full, floor((k-1)·2^48 / kth_min) once
    saturated — the same floored-double expression DuckDB states, so
    cross-engine value-exact."""
    n = F.size(mins)
    kth = F.element_at(mins, n).cast("long")
    return (
        F.when(n == 0, F.lit(0).cast("long"))
        .when(n < k, n.cast("long"))
        .otherwise(
            F.floor(
                F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / kth.cast("double")
            ).cast("long")
        )
    )


def kmv_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Set-overlap estimates between two relations from their KMV
    sketches (Beyer et al., SIGMOD'07, "On Synopses for Distinct-Value
    Estimation Under Multiset Operations") — |A|, |B|, |A∪B|, |A∩B|
    and Jaccard per key WITHOUT materializing either distinct set:
    the corpus-versioning / audience-overlap question at 100 TB.

    Method: per key, L = the k smallest distinct hashes of S_A ∪ S_B
    (the union of the two bottom-k sketches — a valid KMV sketch of
    the union). est_union = the standard KMV estimate on L;
    ρ = |{h ∈ L : h ∈ S_A ∧ h ∈ S_B}| / |L| estimates the Jaccard
    similarity (any h ∈ L has < k union hashes below it, hence < k
    per-side hashes below it, so per-side membership tests against
    the per-side bottom-k are EXACT for members of L);
    est_intersection = floor(ρ · est_union). While both sides are
    under-full every number is exact — the property the DuckDB oracle
    pins. Deterministic md5 hashes: same input ⇒ same output on any
    partitioning, either engine.

    Output: (keys…, n_a, n_b, est_a, est_b, n_union_kept, est_union,
    est_intersection, jaccard[6dp]). Keys present on only one side get
    est_other = 0, jaccard = 0. keys=[] is the global (one-row) form.

    Plan shape: two bounded map-side prefilters (≤ k distinct hashes
    per key per partition per side) → two tiny Exchanges → one
    equi-join on the keys (1×1 crossJoin for the global form) →
    row-local array algebra. Neither input's raw rows ever shuffle.
    """
    if k < 2:
        raise ValueError("kmv_overlap needs k >= 2")
    return kmv_overlap_pruned(
        kmv_prune(df_a, keys, value_col, k),
        kmv_prune(df_b, keys, value_col, k),
        keys,
        k,
    )


def kmv_overlap_pruned(
    pruned_a: DataFrame,
    pruned_b: DataFrame,
    keys: list[str],
    k: int,
) -> DataFrame:
    """:func:`kmv_overlap` over two PRUNE OUTPUTS (the mergeable
    (keys…, _h) sketch relations of :func:`kmv_prune`) — the
    snapshot-versioning form: overlap between two 100 TB crawls whose
    persisted sketches are a few KB each, with the raw data never
    re-read. Because prune outputs are mergeable, each side may be a
    union of per-shard / per-micro-batch sketches (the streaming
    lane's persisted state composes directly)."""
    if k < 2:
        raise ValueError("kmv_overlap_pruned needs k >= 2")
    ma = _kmv_minset(pruned_a, keys, k).select(
        *keys, F.col("_mins").alias("_ma")
    )
    mb = _kmv_minset(pruned_b, keys, k).select(
        *keys, F.col("_mins").alias("_mb")
    )
    # NULL group keys are real groups (the prefilter keeps them,
    # dropna=False) — the join must be null-safe or a NULL-keyed
    # group present on BOTH sides splits into two half-blind rows;
    # coalesce_keys keeps one-sided keys' values (operators.joins —
    # the shared house implementation). keys=[] is the 1x1 crossJoin.
    from ramen_spark.operators.joins import null_safe_join

    joined = null_safe_join(ma, mb, keys, "full_outer", coalesce_keys=True)
    a = F.coalesce(F.col("_ma"), F.array().cast("array<long>"))
    b = F.coalesce(F.col("_mb"), F.array().cast("array<long>"))
    union_mins = F.slice(F.array_sort(F.array_union(a, b)), 1, k)
    joined = joined.select(
        *keys,
        a.alias("_a"),
        b.alias("_b"),
        union_mins.alias("_l"),
    )
    n_l = F.size(F.col("_l"))
    inter = F.size(F.array_intersect(F.array_intersect(F.col("_l"), "_a"), "_b"))
    est_union = _kmv_estimate(F.col("_l"), k)
    est_inter = F.when(n_l == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            inter.cast("double") * est_union.cast("double") / n_l.cast("double")
        ).cast("long")
    )
    jaccard = F.when(n_l == 0, F.lit(0.0)).otherwise(
        F.round(inter.cast("double") / n_l.cast("double"), 6)
    )
    est_a = _kmv_estimate(F.col("_a"), k)
    est_b = _kmv_estimate(F.col("_b"), k)

    # containment (Broder's resemblance vs containment distinction):
    # what fraction of B's set is also in A — the number contamination
    # auditing actually asks ("how much of the eval set is inside the
    # train set?"); Jaccard under-reads it badly when |A| >> |B|.
    # est_inter/est_side of the same quantized longs both engines hold.
    def contain(est_side: Column) -> Column:
        return F.when(est_side == 0, F.lit(0.0)).otherwise(
            F.round(
                F.least(est_inter.cast("double") / est_side.cast("double"),
                        F.lit(1.0)),
                6,
            )
        )

    return joined.select(
        *keys,
        F.size("_a").cast("long").alias("n_a"),
        F.size("_b").cast("long").alias("n_b"),
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        n_l.cast("long").alias("n_union_kept"),
        est_union.alias("est_union"),
        est_inter.alias("est_intersection"),
        jaccard.alias("jaccard"),
        contain(est_b).alias("containment_b_in_a"),
        contain(est_a).alias("containment_a_in_b"),
    )


def sketch_drift(
    pruned_a: DataFrame,
    pruned_b: DataFrame,
    keys: list[str],
    ps: list[float],
    k: int,
    salt_above_partitions: int = 64,
) -> DataFrame:
    """Corpus drift between two PERSISTED quantile-sketch states —
    the snapshot-over-snapshot observability report computed PURELY
    from two few-KB sketch relations, with neither corpus re-read
    (the always-on story the sketch family exists for: yesterday's
    crawl vs today's, two BatchStore roots in, one report out).

    Inputs are quantile_prune-shaped states: (keys…, _h, _v[, _kmv_k])
    with _h = md5_48 of a UNIQUE row id. One state answers BOTH
    questions because its bottom-k-by-row-hash pairs are two sketches
    at once:

    * the _v values are a uniform sample → per-key percentile DELTAS
      (distribution shift: did the token-length p50 move?);
    * the _h hashes are a valid KMV sketch of the row-ID SET → per-key
      cardinality estimates, Jaccard, and Broder containment
      (membership churn: how much of snapshot A survived into B?).

    Output: (keys…, p<P>_a, p<P>_b, p<P>_delta … per requested p,
    est_a, est_b, jaccard, containment_a_in_b, containment_b_in_a).
    containment_a_in_b is the RETENTION rate (fraction of A still in
    B); 1 − it is the churn. Keys present in only one snapshot get
    NULL percentiles on the missing side (delta NULL) and est 0 on
    the missing side — appearing/disappearing keys are drift too.

    Exactness: deterministic md5 everywhere — while both sketches are
    under-full every number is exact (the regime the DuckDB oracle
    pins); the k-fidelity guard (_kmv_k) rejects a query k larger
    than the build k of either side. A 48-bit hash collision between
    two row ids could drop one hash from a full sketch's ID set —
    the standard 2^-48 caveat the quantile lane already documents.

    Plan shape: both states are ≤ k rows per key — two tiny scans,
    the minset/finalize aggregations, one null-safe full-outer join
    per report column family. Nothing here scales with the corpora.
    """
    if k < 2:
        raise ValueError("sketch_drift needs k >= 2")
    if not ps or any(not (0.0 <= p <= 1.0) for p in ps):
        # same contract as quantile_sketch — an out-of-range p would
        # otherwise die mid-job with ANSI INVALID_ARRAY_INDEX (or
        # silently read from the array END for a negative p)
        raise ValueError("ps must be fractions in [0, 1]")
    for side, pruned in (("a", pruned_a), ("b", pruned_b)):
        missing = [c for c in (*keys, "_h", "_v") if c not in pruned.columns]
        if missing:
            raise ValueError(
                f"pruned_{side} is not a quantile sketch state: "
                f"missing columns {missing}"
            )
    pnames = ["p" + format(p * 100, "g").replace(".", "_") for p in ps]
    qa = quantile_finalize(pruned_a, keys, ps, k, salt_above_partitions)
    qb = quantile_finalize(pruned_b, keys, ps, k, salt_above_partitions)
    qa = qa.select(*keys, *[F.col(n).alias(f"{n}_a") for n in pnames])
    qb = qb.select(*keys, *[F.col(n).alias(f"{n}_b") for n in pnames])

    def kmv_side(pruned: DataFrame) -> DataFrame:
        extra = ["_kmv_k"] if "_kmv_k" in pruned.columns else []
        return pruned.select(*keys, "_h", *extra)

    ov = kmv_overlap_pruned(
        kmv_side(pruned_a), kmv_side(pruned_b), keys, k
    ).select(
        *keys, "est_a", "est_b", "jaccard",
        "containment_a_in_b", "containment_b_in_a",
    )

    # the overlap relation's key set IS the union of the two
    # snapshots' key sets (it full-outers the minsets), so both
    # percentile sides left-join onto it null-safely
    from ramen_spark.operators.joins import null_safe_join

    out = null_safe_join(null_safe_join(ov, qa, keys), qb, keys)
    delta_cols = [
        F.round(F.col(f"{n}_b") - F.col(f"{n}_a"), 6).alias(f"{n}_delta")
        for n in pnames
    ]
    pcols = [
        c for n in pnames for c in (f"{n}_a", f"{n}_b")
    ]
    return out.select(
        *keys,
        *pcols,
        *delta_cols,
        "est_a", "est_b", "jaccard",
        "containment_a_in_b", "containment_b_in_a",
    )


# ---------------------------------------------------------------------------
# Quantile sketch — distribution percentiles without a global sort
# ---------------------------------------------------------------------------


def _prefilter_min_k_pairs(keys: list[str], k: int):
    """mapInPandas kernel: per partition, per key, keep the k
    lexicographically-smallest DISTINCT (_h, _v) pairs. Bounded state
    like the KMV prefilter; numpy lexsort per (batch, key). Set min-k
    is mergeable AND idempotent: the k smallest distinct pairs of a
    union are among (k smallest of A) ∪ (k smallest of B), and
    re-folding the same rows is a no-op (what the streaming lane's
    replay safety rests on). With a unique ``id_col`` a duplicate
    (_h, _v) pair only arises from a 48-bit hash collision at equal
    value (~2⁻⁴⁸) — dropping the copy removes a duplicate sample
    point, nothing more."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[tuple, tuple] = {}

        def fold(kt: tuple, hs: "pd.Series", vs: "pd.Series") -> None:
            h = hs.to_numpy(dtype="int64")
            v = vs.to_numpy(dtype="float64")
            prev = state.get(kt)
            if prev is not None:
                h = np.concatenate([prev[0], h])
                v = np.concatenate([prev[1], v])
            order = np.lexsort((v, h))  # primary _h, tie-break _v
            h, v = h[order], v[order]
            if len(h) > 1:  # drop consecutive duplicate pairs
                keep = np.empty(len(h), dtype=bool)
                keep[0] = True
                np.logical_or(h[1:] != h[:-1], v[1:] != v[:-1], out=keep[1:])
                h, v = h[keep], v[keep]
            state[kt] = (h[:k], v[:k])

        for pdf in batches:
            if pdf.empty:
                continue
            if keys:
                for key, g in pdf.groupby(keys, sort=False, dropna=False):
                    fold(
                        key if isinstance(key, tuple) else (key,),
                        g["_h"],
                        g["_v"],
                    )
            else:
                fold((), pdf["_h"], pdf["_v"])
        rows: list[tuple] = []
        for kt, (h, v) in state.items():
            rows.extend(
                kt + (int(a), float(b)) for a, b in zip(h, v)
            )
        if rows:
            yield pd.DataFrame(rows, columns=[*keys, "_h", "_v"])

    return run


def quantile_prune(
    df: DataFrame, keys: list[str], value_col: str, id_col: str, k: int
) -> DataFrame:
    """The sample-building half of :func:`quantile_sketch`: per key,
    the k rows whose md5-derived 48-bit hash of ``id_col`` is smallest
    (ties broken by value — a total order both engines share), as
    (keys…, _h, _v) rows. Hash-threshold bottom-k over a UNIQUE row id
    is a uniform random sample without replacement, and it is
    MERGEABLE: min-k of a union of prune outputs = min-k of the
    concatenated input — the same incremental contract as kmv_prune,
    and replay-idempotent for the streaming lane.

    ``id_col`` must identify rows uniquely (doc_id, event_id) — hashing
    the VALUE would sample distinct values, biasing quantiles toward
    the distinct-value distribution. NULL values and NULL ids are
    ignored (the SQL aggregate convention)."""
    hashed = df.select(
        *keys,
        md5_hash48(F.col(id_col)).alias("_h"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(
        F.col("_h").isNotNull()
        & F.col("_v").isNotNull()
        # NaN would break the lane's own invariants: the Arrow
        # prefilter's pair dedup uses != (NaN != NaN keeps duplicates,
        # eating k slots) while collect_set in finalize dedups NaN
        # structs — and NaN sorts greatest, skewing p99. A NaN value
        # carries no quantile information; drop it like NULL.
        & ~F.isnan(F.col("_v"))
    )
    schema_keys = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in hashed.schema.fields
        if f.name not in ("_h", "_v")
    ]
    schema = ", ".join([*schema_keys, "_h long", "_v double"])
    # build-time k rides along like kmv_prune's (same round-10
    # advisory): quantile_finalize and the drift lane assert
    # min(_kmv_k) >= the query k inside the plan
    return hashed.mapInPandas(
        _prefilter_min_k_pairs(keys, k), schema
    ).withColumn("_kmv_k", F.lit(k).cast("long"))


def quantile_finalize(
    pruned: DataFrame,
    keys: list[str],
    ps: list[float],
    k: int,
    salt_above_partitions: int = 64,
) -> DataFrame:
    """Sketch rows → (keys…, n_sample, p<P>… columns). The global
    min-k of the pruned pairs is the deterministic uniform sample;
    each requested quantile is the NEAREST-RANK element of the sorted
    sample values — index round((n−1)·p)+1, the same convention as the
    dialect's PERCENTILE (functions/scalar.py:percentile_of_array), so
    the DuckDB oracle lands on the identical element.

    Same wide-scan guard as :func:`kmv_finalize`: above
    ``salt_above_partitions`` input partitions an intermediate min-k
    level grouped by (keys…, _h mod ceil(√P)) bounds both terminal
    arrays at ~k·√P (lossless by the same ≤ k−1-smaller argument,
    applied to (_h, _v) pairs)."""
    pair = F.struct(F.col("_h").alias("_h"), F.col("_v").alias("_v"))
    has_k = "_kmv_k" in pruned.columns
    n_parts = pruned.rdd.getNumPartitions()
    if n_parts > salt_above_partitions:
        import math

        s = int(math.ceil(math.sqrt(n_parts)))
        aggs = [F.slice(F.array_sort(F.collect_set(pair)), 1, k).alias("_m")]
        if has_k:
            aggs.append(F.min("_kmv_k").alias("_kmv_k"))
        pruned = (
            pruned.groupBy(*keys, (F.col("_h") % s).alias("_salt"))
            .agg(*aggs)
            .select(
                *keys,
                F.explode("_m").alias("_p"),
                *(["_kmv_k"] if has_k else []),
            )
            .select(
                *keys,
                F.col("_p._h").alias("_h"),
                F.col("_p._v").alias("_v"),
                *(["_kmv_k"] if has_k else []),
            )
        )
        pair = F.struct(F.col("_h").alias("_h"), F.col("_v").alias("_v"))
    aggs = [F.slice(F.array_sort(F.collect_set(pair)), 1, k).alias("_m")]
    if has_k:
        aggs.append(F.min("_kmv_k").alias("_k_built"))
    mins = pruned.groupBy(*keys).agg(*aggs)
    if has_k:
        # same k-fidelity guard as _kmv_minset (see there for the
        # branch-must-differ note); a k=64 sample finalized at k=1024
        # would silently report quantiles of a 64-row sample
        ok = F.coalesce(F.col("_k_built") >= F.lit(k), F.lit(True))
        guard = F.assert_true(
            ok,
            F.concat(
                F.lit("quantile sketch was built with k="),
                F.col("_k_built").cast("string"),
                F.lit(f" but queried with k={k} — rebuild the sketch "
                      "or lower the query k"),
            ),
        )
        arr_t = dict(mins.dtypes)["_m"]
        mins = mins.select(
            *keys,
            F.when(guard.isNotNull(), F.lit(None).cast(arr_t))
            .otherwise(F.col("_m"))
            .alias("_mins"),
        )
    else:
        mins = mins.select(*keys, F.col("_m").alias("_mins"))
    vals = F.array_sort(F.transform(F.col("_mins"), lambda x: x["_v"]))
    n = F.size(vals)
    cols = [n.cast("long").alias("n_sample")]
    for p in ps:
        idx = F.round((n - 1) * F.lit(float(p))).cast("int")
        name = "p" + format(p * 100, "g").replace(".", "_")
        cols.append(F.element_at(vals, idx + 1).alias(name))
    return mins.select(*keys, *cols)


def quantile_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    id_col: str,
    ps: list[float],
    k: int = 1024,
) -> DataFrame:
    """Per-key quantile estimates from a deterministic bottom-k-by-
    row-hash sample — percentiles of token-length/quality/latency
    distributions at 100 TB without a global sort and without the
    per-group funnel of the exact PERCENTILE (a window/collect over a
    hot group is ONE task; this is bounded everywhere).

    Estimate quality: the sample is uniform (hash of a unique row id),
    so the rank error of the p-quantile is O(√(p(1−p)/k)) — for
    k=1024 the p50 estimate sits within ~±1.6 rank points at 95%
    confidence. DETERMINISTIC given the data (no RNG), hence
    value-exact-checkable against the naive DuckDB form — unlike
    Spark's approx_percentile (engine-private Greenwald-Khanna state).

    Plan shape (the scale contract, same as kmv_distinct): scan →
    mapInPandas prefilter (≤ k pairs per key per partition, bounded
    heap) → ONE Exchange of pruned pairs → final min-k + nearest-rank
    selection per key. The sketch rows are mergeable and persistable
    (the streaming lane folds micro-batches into the same relation).
    """
    if k < 2:
        raise ValueError("quantile_sketch needs k >= 2")
    if not ps or any(not (0.0 <= p <= 1.0) for p in ps):
        raise ValueError("ps must be fractions in [0, 1]")
    pruned = quantile_prune(df, keys, value_col, id_col, k)
    return quantile_finalize(pruned, keys, ps, k)


# ---------------------------------------------------------------------------
# Count-min sketch — frequency estimation over unbounded key spaces
# ---------------------------------------------------------------------------


def _cms_col(value: Column, d: int, width: int) -> Column:
    """Row-d hash column: independent hash families from md5 of a
    d-prefixed value — deterministic, identical in DuckDB
    (md5(CAST(d AS VARCHAR) || '#' || v))."""
    return (
        md5_hash48(F.concat(F.lit(str(d)), F.lit("#"), value.cast("string")))
        % width
    )


def _cms_cells(value: Column, depth: int, width: int) -> Column:
    """The exploded (row, col) cell addresses of a value — the ONE
    definition of the sketch's cell addressing, shared by build and
    lookup so they can never drift apart."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("row"),
                    _cms_col(value, d, width).alias("col"),
                )
                for d in range(depth)
            ]
        )
    )


def count_min_build(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a count-min sketch over a value column → (row, col, cnt)
    cell relation, depth × width cells total.

    CMS (Cormode & Muthukrishnan 2005): depth independent hash rows;
    est(v) = min over rows of cnt[d, h_d(v)] — always ≥ the true
    count, within εN with probability 1−δ for width = e/ε, depth =
    ln(1/δ). Deterministic here (md5 hash families), hence
    oracle-checkable value-exactly — unlike Spark's native
    CountMinSketch aggregate, whose hash seeds are engine-private.

    100 TB shape: the input explodes ×depth map-side, but the groupBy
    partial-combines to ≤ depth × width cells PER MAP TASK before the
    Exchange — the shuffle is O(depth·width·n_tasks) regardless of
    data volume, and the result is a fixed-size mergeable summary
    (union of corpora = cell-wise sum), the same persistable-index
    contract as the banded dedup indexes. No key, however hot, can
    skew it: every row lands on depth cells of a FIXED keyspace.

    ``weight_col``: build from a PRE-COUNTED relation — each row
    contributes ``weight_col`` occurrences of its value instead of 1.
    Cell values are identical to feeding the raw stream (a cell is a
    sum of per-value counts), but the md5 fan-out runs once per
    DISTINCT value row instead of once per occurrence — use it when a
    (value, count) aggregate is already in hand (round 12:
    cms_token_counts computes exact per-token counts for its probes
    anyway; reusing them cut the build from 4 md5/occurrence to
    4 md5/distinct token — see OPTIMIZATION_r12.md)."""
    if depth < 1 or width < 1:
        raise ValueError("count_min_build needs depth >= 1 and width >= 1")
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col is not None
        else F.lit(1).cast("bigint")
    )
    cells = df.select(
        _cms_cells(F.col(value_col), depth, width).alias("c"), w.alias("_w")
    )
    return cells.groupBy(
        F.col("c.row").alias("row"), F.col("c.col").alias("col")
    ).agg(F.sum("_w").cast("bigint").alias("cnt"))


def count_min_lookup(
    cms: DataFrame, probes: DataFrame, value_col: str, depth: int, width: int
) -> DataFrame:
    """Estimate counts for probe values against a built sketch:
    probes (any DataFrame with `value_col`) → (value_col, cms_est).
    Each probe fans to its depth cells, broadcast-joins the cell
    relation (depth × width rows — always broadcastable), and takes
    the min; absent cells count 0."""
    fan = probes.select(
        value_col, _cms_cells(F.col(value_col), depth, width).alias("c")
    ).select(value_col, F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    joined = fan.join(F.broadcast(cms), ["row", "col"], "left")
    return joined.groupBy(value_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("cms_est")
    )


def cms_top(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n: int,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
    out_col: str = "top",
    salt_above_partitions: int = 64,
) -> DataFrame:
    """Per-key approximate heavy hitters via the count-min sketch —
    the CMS-backed twin of the reference's ``TOP n x BY w`` aggregate
    (/root/reference/src/raql_expr.type `Top`, whose `max_size` knob
    plays the same role as this function's candidate bound).

    Output: (keys…, ``out_col`` = array of the n values with the
    largest CMS-estimated weight, ordered by (estimate desc, value
    asc) — a total order, so the result is deterministic on any
    partitioning and value-exactly reproducible in DuckDB (the md5
    hash families are engine-neutral, unlike Spark's native
    CountMinSketch aggregate whose seeds are engine-private).

    Weight: COUNT(*) per value when ``weight_col`` is None, else
    SUM(weight) — reference `BY w` semantics. NULL values are ignored
    (the COUNT DISTINCT convention shared by kmv_distinct).

    Shape: the cell relation partial-combines to ≤ depth × width
    cells per map task before its Exchange (no hot key can skew it —
    the keyspace is fixed). Candidate enumeration is the batch form's
    honest cost: DISTINCT (key, value) pairs — the same shuffle exact
    counting needs, bounded by the value cardinality, not the row
    count. The sketch's asymptotic win is the ALWAYS-ON lane, where
    cells + a bounded candidate list replace an unbounded per-(key,
    value) count table; the batch form exists for dialect parity and
    as the oracle-checkable ground truth of the estimates themselves.
    Above ``salt_above_partitions`` input partitions the final
    per-key rank inserts a salted local top-n level (same lossless
    argument as kmv_finalize: every global top-n member is within the
    top n of its own salt bucket), so no single task ever materializes
    a key's full candidate array."""
    if n < 1:
        raise ValueError("cms_top needs n >= 1")
    if depth < 1 or width < 1:
        raise ValueError("cms_top needs depth >= 1 and width >= 1")
    if weight_col is None:
        # COUNT path (round 12): candidates and cells both derive from
        # ONE distinct-(key, value) aggregate — the candidate shuffle
        # already paid — so the two consumers share a single Exchange
        # (ReuseExchange) and the cell build hashes depth md5s per
        # DISTINCT value instead of per occurrence. The weighted path
        # keeps the per-occurrence build: regrouping a DOUBLE sum
        # reorders additions and could flip last-ulp bits.
        counted = (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(*keys, F.col(value_col).alias("_v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
        )
        if not df.isStreaming:
            # materialize so cells + candidates truly share ONE pair
            # aggregation: column pruning makes the two lazy subtrees
            # differ (cand drops _n), so ReuseExchange never fires and
            # the pair relation would shuffle twice (measured: drift
            # 193→350 MB sf10 shuffle without this). Streaming
            # micro-batch callers keep the lazy twin-agg form —
            # localCheckpoint is batch-only.
            counted = counted.localCheckpoint()
        cms = cms_build_keyed_counted(counted, keys, "_v", "_n", depth, width)
        cand = counted.select(*keys, "_v")
    else:
        cms = cms_build_keyed(df, keys, value_col, depth, width, weight_col)
        cand = (
            df.filter(F.col(value_col).isNotNull())
            .select(*keys, F.col(value_col).alias("_v"))
            .distinct()
        )
    est = cms_estimate_candidates(cms, cand, keys, depth, width)
    return cms_rank_top(
        est, keys, n, out_col,
        salted=df.rdd.getNumPartitions() > salt_above_partitions,
    )


def cms_build_keyed(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    depth: int,
    width: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-key CMS cell relation → (keys…, row, col, cnt): the keyed
    generalization of :func:`count_min_build` (≤ depth × width cells
    per key per map task before the Exchange). Weight = COUNT(*) when
    ``weight_col`` is None, else SUM(weight). NULL values ignored."""
    v = F.col(value_col)
    base = df.filter(v.isNotNull())
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    cells = base.select(
        *keys, _cms_cells(v, depth, width).alias("c"), w.alias("_w")
    )
    return cells.groupBy(
        *keys, F.col("c.row").alias("row"), F.col("c.col").alias("col")
    ).agg(F.sum("_w").alias("cnt"))


def cms_build_keyed_counted(
    counted: DataFrame,
    keys: list[str],
    value_col: str,
    count_col: str,
    depth: int,
    width: int,
) -> DataFrame:
    """Per-key CMS cells from a PRE-COUNTED (keys…, value, n)
    relation: each row contributes n occurrences. Cell values are
    identical to :func:`cms_build_keyed`'s count path (a cell is an
    integer sum of per-value counts — regrouping exact), and cnt stays
    BIGINT. Use when the distinct (key, value) aggregate already
    exists — e.g. cms_top's candidate enumeration: deriving BOTH the
    cells and the candidate list from one counted relation lets Spark
    reuse the single pair-grain Exchange (ReuseExchange) and cuts the
    md5 fan-out from depth per occurrence to depth per distinct value
    (round 12; a first attempt that pre-aggregated INSIDE
    cms_build_keyed instead shuffled the pair relation twice — cand
    and counted were different exchanges — and regressed drift
    shuffle 193→350 MB at sf10; numbers in OPTIMIZATION_r12.md)."""
    cells = counted.select(
        *keys,
        _cms_cells(F.col(value_col), depth, width).alias("c"),
        F.col(count_col).cast("bigint").alias("_w"),
    )
    return cells.groupBy(
        *keys, F.col("c.row").alias("row"), F.col("c.col").alias("col")
    ).agg(F.sum("_w").cast("bigint").alias("cnt"))


def cms_estimate_candidates(
    cms: DataFrame,
    cand: DataFrame,
    keys: list[str],
    depth: int,
    width: int,
) -> DataFrame:
    """CMS estimates for candidate values: cand (keys…, _v) × cells →
    (keys…, _v, _est = min over rows of the cell count; absent cells
    count 0). Equi-join on (keys, row, col) — candidate-cardinality
    sized, never data-sized."""
    fan = cand.select(
        *keys, "_v", _cms_cells(F.col("_v"), depth, width).alias("c")
    ).select(
        *keys, "_v", F.col("c.row").alias("row"), F.col("c.col").alias("col")
    )
    return (
        fan.join(cms, [*keys, "row", "col"], "left")
        .groupBy(*keys, "_v")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("_est"))
    )


def cms_rank_top(
    est: DataFrame,
    keys: list[str],
    n: int,
    out_col: str,
    salted: bool = False,
) -> DataFrame:
    """(keys…, _v, _est) → (keys…, out_col = array of the n values
    with the largest estimate, total order (est desc, value asc)).
    ``salted`` inserts the lossless local-top level (every global
    top-n member is top-n in its own md5 salt bucket) so no task
    materializes a key's full candidate array."""
    ranked = F.struct((-F.col("_est")).alias("_negw"), F.col("_v").alias("v"))
    if salted:
        s = 64
        est = (
            est.groupBy(*keys, (md5_hash48(F.col("_v")) % s).alias("_salt"))
            .agg(F.slice(F.array_sort(F.collect_list(ranked)), 1, n).alias("_m"))
            .select(*keys, F.inline("_m"))
            .select(*keys, F.col("v").alias("_v"), (-F.col("_negw")).alias("_est"))
        )
    return est.groupBy(*keys).agg(
        F.transform(
            F.slice(F.array_sort(F.collect_list(ranked)), 1, n),
            lambda s_: s_["v"],
        ).alias(out_col)
    )


def cms_drift(
    cells_a: DataFrame,
    cands_a: DataFrame,
    cells_b: DataFrame,
    cands_b: DataFrame,
    keys: list[str],
    n: int,
    depth: int,
    width: int,
) -> DataFrame:
    """Heavy-hitter CHURN between two persisted CMS-top states — the
    third sketch family of the drift report (round-11 agenda #4,
    beside :func:`sketch_drift`'s percentile deltas and KMV churn):
    which values entered/left the per-key top-``n`` list between
    snapshot A and snapshot B, with estimate deltas. Computed PURELY
    from the two persisted state pairs (``IncrementalCmsTop``'s
    ``cells`` + ``cands`` relations — cells are ≤ depth × width per
    key, candidate lists ≤ m per key); neither corpus is re-read.

    Output, one row per (keys…, value in top_a ∪ top_b):
    (keys…, value, est_a, est_b, weight_delta = est_b − est_a,
    rank_a, rank_b (NULL when outside that side's top-n; ordering is
    cms_rank_top's total (est desc, value asc)), top_entered,
    top_left). A value in only one side's top list still gets BOTH
    estimates — a CMS answers point queries for any value, so the
    delta says whether it left the list by shrinking or by being
    outgrown.

    Exactness: deterministic md5 hash families — with m ≥ distinct
    values the result is value-exact in DuckDB (the oracle replays the
    same cell algebra, collisions included). Both sides must be built
    at the SAME (depth, width): cell estimates at different geometries
    are not comparable. This function trusts its arguments; the
    stateful callers enforce the contract — IncrementalCmsTop stamps
    its build geometry into the cells (``_geo_depth``/``_geo_width``)
    and both ``drift_vs`` and the CLI ``drift --cms-top`` refuse a
    mismatch (pre-stamp states: the CLI falls back to a row/col-span
    sanity check).

    Plan shape: two candidate-grain estimate joins (broadcast-sized:
    ≤ m·|keys| rows vs ≤ depth·width·|keys| cells), one union, two
    rank windows over ≤ m rows per key, three null-safe joins on
    (keys, value) — nothing scales with the corpora."""
    if n < 1:
        raise ValueError("cms_drift needs n >= 1")
    if depth < 1 or width < 1:
        raise ValueError("cms_drift needs depth >= 1 and width >= 1")
    from pyspark.sql import Window

    from ramen_spark.operators.joins import null_safe_join

    def side_top(cells: DataFrame, cands: DataFrame, rank_col: str) -> DataFrame:
        est = cms_estimate_candidates(
            cells.select(*keys, "row", "col", "cnt"), cands, keys, depth, width
        )
        win = Window.partitionBy(*keys).orderBy(
            F.col("_est").desc(), F.col("_v").asc()
        )
        # ≤ m candidates per key (the persisted-state bound), so the
        # rank window is bounded — no salted level needed here
        return (
            est.withColumn(rank_col, F.row_number().over(win).cast("long"))
            .filter(F.col(rank_col) <= n)
            .select(*keys, "_v", rank_col)
        )

    top_a = side_top(cells_a, cands_a, "rank_a")
    top_b = side_top(cells_b, cands_b, "rank_b")
    union_vals = (
        top_a.select(*keys, "_v").unionByName(top_b.select(*keys, "_v"))
        .distinct()
    )
    est_a = cms_estimate_candidates(
        cells_a.select(*keys, "row", "col", "cnt"), union_vals, keys,
        depth, width,
    ).withColumnRenamed("_est", "est_a")
    est_b = cms_estimate_candidates(
        cells_b.select(*keys, "row", "col", "cnt"), union_vals, keys,
        depth, width,
    ).withColumnRenamed("_est", "est_b")

    on = [*keys, "_v"]
    out = null_safe_join(est_a, est_b, on, "inner")
    out = null_safe_join(out, top_a, on, "left")
    out = null_safe_join(out, top_b, on, "left")
    return out.select(
        *keys,
        F.col("_v").alias("value"),
        F.col("est_a").cast("long").alias("est_a"),
        F.col("est_b").cast("long").alias("est_b"),
        (F.col("est_b") - F.col("est_a")).cast("long").alias("weight_delta"),
        "rank_a",
        "rank_b",
        (F.col("rank_b").isNotNull() & F.col("rank_a").isNull())
        .alias("top_entered"),
        (F.col("rank_a").isNotNull() & F.col("rank_b").isNull())
        .alias("top_left"),
    )
