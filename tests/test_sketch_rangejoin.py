"""Round-9 primitives: KMV distinct sketch (operators/sketch.py),
interval join (operators/rangejoin.py), URL canonicalization
(functions/text.py canonical_url + its DuckDB twin)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ramen_spark.operators.rangejoin import interval_join
from ramen_spark.operators.sketch import kmv_distinct


# ---------------------------------------------------------------------------
# canonical_url
# ---------------------------------------------------------------------------

_URL_CASES = [
    # (raw, canonical)
    (
        "HTTPS://WWW.Example.COM:443/Path/To/Page/?utm_source=x&id=1&utm_medium=y#frag",
        "https://www.example.com/Path/To/Page?id=1",
    ),
    ("http://Example.com:80/", "http://example.com/"),
    ("https://a.b/x?fbclid=123", "https://a.b/x"),
    ("https://a.b/x?id=2&gclid=9&q=3", "https://a.b/x?id=2&q=3"),
    ("https://a.b/p/?utm_ref=home", "https://a.b/p"),
    ("https://a.b/x?ref=main", "https://a.b/x?ref=main"),  # ref is CONTENT
    ("http://h/p//", "http://h/p"),
    ("not a url", "not a url"),
    ("ftp://Mixed.Case/KEEP/Path", "ftp://mixed.case/KEEP/Path"),
    ("https://h:8443/x?utm_a=1", "https://h:8443/x"),  # non-default port kept
    ("https://h/?a=1", "https://h/?a=1"),  # root slash before query kept
    ("https://h", "https://h"),
]


def test_canonical_url_cases_and_duckdb_twin(spark):
    """Every cascade step on a hand-built case list, and the DuckDB
    twin (canonical_url_sql) must produce the IDENTICAL strings —
    the property the url_dedup oracle rests on."""
    import duckdb

    from ramen_spark.functions.text import canonical_url, canonical_url_sql

    df = spark.createDataFrame([(u,) for u, _ in _URL_CASES], "url string")
    got = [
        r["c"]
        for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in _URL_CASES]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(u,) for u, _ in _URL_CASES])
    dd = [r[0] for r in con.execute(
        f"SELECT {canonical_url_sql('url')} FROM t"
    ).fetchall()]
    assert dd == got


# ---------------------------------------------------------------------------
# kmv_distinct
# ---------------------------------------------------------------------------


def _kmv_fixture(spark):
    import random

    rows = [
        (f"g{i % 3}", f"user{random.Random(i).randint(0, (50, 2000, 7)[i % 3])}")
        for i in range(20000)
    ]
    truth = {}
    for g, u in rows:
        truth.setdefault(g, set()).add(u)
    return spark.createDataFrame(rows, "grp string, user string"), truth


def test_kmv_underfull_is_exact_and_saturated_is_close(spark):
    df, truth = _kmv_fixture(spark)
    out = {
        r["grp"]: r
        for r in kmv_distinct(df, ["grp"], "user", k=64).collect()
    }
    # under-full sketches (true distinct < k) are EXACT
    for g in ("g0", "g2"):
        assert out[g]["n_kept"] == len(truth[g])
        assert out[g]["est_distinct"] == len(truth[g])
    # saturated sketch: (k-1)/h_k estimator, relative error ~1/sqrt(k)
    t = len(truth["g1"])
    assert out["g1"]["n_kept"] == 64
    assert abs(out["g1"]["est_distinct"] - t) / t < 0.40


def test_kmv_partition_invariant(spark):
    """Min-k is order-independent and the per-partition prefilter is a
    superset of the global min-k — the result must be bit-identical
    across any partitioning (the determinism the oracle relies on)."""
    df, _ = _kmv_fixture(spark)
    def run(d):
        return {
            tuple(r)
            for r in kmv_distinct(d, ["grp"], "user", k=64).collect()
        }
    assert run(df.coalesce(1)) == run(df.repartition(31)) == run(
        df.repartition(5, "user")
    )
    # forced-wide scan: above salt_above_partitions kmv_finalize
    # inserts the salted intermediate min-k level — still bit-identical
    assert run(df.repartition(1024)) == run(df.coalesce(1))


def test_kmv_salted_two_level_plan(spark):
    """Above salt_above_partitions input partitions the finalize adds
    ONE bounded intermediate Exchange (group by keys+salt) so the
    terminal per-key array is ~k·√P instead of k·P; below it the plan
    stays single-Exchange (test_kmv_single_exchange_plan)."""
    from ramen_spark.operators.sketch import kmv_finalize, kmv_prune

    df, _ = _kmv_fixture(spark)
    pruned = kmv_prune(df, ["grp"], "user", k=64).repartition(256)
    plan = kmv_finalize(pruned, ["grp"], k=64)._jdf.queryExecution(
    ).executedPlan().toString()
    # repartition(256) + salt Exchange + final Exchange
    assert plan.count("Exchange") == 3, plan
    assert "Window" not in plan, plan
    # lossless vs the unsalted form
    one = {tuple(r) for r in kmv_finalize(
        pruned.coalesce(1), ["grp"], k=64).collect()}
    two = {tuple(r) for r in kmv_finalize(pruned, ["grp"], k=64).collect()}
    assert one == two


def test_kmv_single_exchange_plan(spark):
    """The scale contract: the only Exchange carries the pruned rows
    (≤ k per key per partition) — no full-data shuffle, no window."""
    df, _ = _kmv_fixture(spark)
    plan = kmv_distinct(df, ["grp"], "user", k=64)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan


def test_kmv_validates_k(spark):
    df, _ = _kmv_fixture(spark)
    with pytest.raises(ValueError):
        kmv_distinct(df, ["grp"], "user", k=1)


# ---------------------------------------------------------------------------
# interval_join
# ---------------------------------------------------------------------------


def _range_fixture(spark):
    pts = spark.createDataFrame(
        [(i, i * 7 % 1000, f"k{i % 2}") for i in range(500)],
        "pid long, t long, k string",
    )
    ivs = spark.createDataFrame(
        [
            (j, j * 13 % 900, j * 13 % 900 + (j * 7) % 120, f"k{j % 2}")
            for j in range(80)
        ]
        + [(999, 500, 400, "k0")],  # inverted interval: dropped, not exploded
        "iid long, lo long, hi long, k string",
    )
    return pts, ivs


def test_interval_join_matches_naive(spark):
    pts, ivs = _range_fixture(spark)
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            pts, ivs, "t", "lo", "hi", bucket=64, keys=["k"]
        ).collect()
    }
    naive = {
        (r["pid"], r["iid"])
        for r in pts.join(
            ivs,
            (pts["k"] == ivs["k"])
            & (pts["t"] >= ivs["lo"])
            & (pts["t"] <= ivs["hi"]),
        ).collect()
    }
    assert got == naive and len(naive) > 500
    assert not any(i == 999 for _, i in got)


def test_interval_join_bucket_width_invariance(spark):
    """The bucket width is a performance knob, never a semantics knob."""
    pts, ivs = _range_fixture(spark)
    runs = [
        {
            (r["pid"], r["iid"])
            for r in interval_join(
                pts, ivs, "t", "lo", "hi", bucket=b, keys=["k"]
            ).collect()
        }
        for b in (1, 7, 64, 1000, 10**6)
    ]
    assert all(s == runs[0] for s in runs)


def test_interval_join_left_keeps_unmatched(spark):
    pts, ivs = _range_fixture(spark)
    inner = interval_join(pts, ivs, "t", "lo", "hi", bucket=64, keys=["k"])
    left = interval_join(
        pts, ivs, "t", "lo", "hi", bucket=64, keys=["k"], how="left"
    )
    n_inner, n_left = inner.count(), left.count()
    n_null = left.filter(F.col("iid").isNull()).count()
    assert n_left == n_inner + n_null
    # every point appears at least once in the left form
    assert left.select("pid").distinct().count() == 500


def test_interval_join_no_nested_loop_plan(spark):
    """The whole point: the plan must be an equi-join on the bucket,
    never BroadcastNestedLoopJoin / CartesianProduct."""
    pts, ivs = _range_fixture(spark)
    plan = interval_join(
        pts, ivs, "t", "lo", "hi", bucket=64, keys=["k"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_interval_join_validates_inputs(spark):
    pts, ivs = _range_fixture(spark)
    with pytest.raises(ValueError):
        interval_join(pts, ivs, "t", "lo", "hi", bucket=0)
    with pytest.raises(ValueError):
        interval_join(pts, ivs, "t", "lo", "hi", bucket=64, how="full")


def test_interval_join_rejects_column_collision(spark):
    """Both sides are emitted by name, so a shared non-key name
    (both carrying event_id, say) would leave the result with two
    identically-named columns and AMBIGUOUS_REFERENCE on any
    downstream select — fail fast at plan time instead."""
    pts, ivs = _range_fixture(spark)
    pts2 = pts.withColumn("event_id", F.lit(1))
    ivs2 = ivs.withColumn("event_id", F.lit(2))
    with pytest.raises(ValueError, match="event_id"):
        interval_join(pts2, ivs2, "t", "lo", "hi", bucket=64)
    # as a KEY the shared name is fine (deduplicated on output)
    out = interval_join(pts2, ivs2.withColumn("event_id", F.lit(1)),
                        "t", "lo", "hi", bucket=64, keys=["event_id", "k"])
    assert out.columns.count("event_id") == 1
    out.collect()


# ---------------------------------------------------------------------------
# interval_count_sum (round 13: the prefix-scan aggregated form)
# ---------------------------------------------------------------------------


def _count_sum_fixture(spark, full_mantissa: bool = False):
    # doubles near 2-decimal currency values; a point at t=0 and an
    # interval with lo=0 exercise the lo-1 = -1 probe bucket. With
    # full_mantissa, seeded doubles carrying all 17 significant digits
    # (up to 18 fractional ones) instead.
    import random

    rng = random.Random(266)

    def val(i):
        if not full_mantissa:
            return (i * 37 % 997) / 100.0
        return rng.uniform(-1e6, 1e6) if i % 3 else rng.uniform(-1, 1) / 7

    pts = spark.createDataFrame(
        [(i * 7 % 1000, val(i)) for i in range(500)] + [(0, 1.23)],
        "t long, v double",
    )
    ivs = spark.createDataFrame(
        [
            (j, j * 13 % 900, j * 13 % 900 + (j * 7) % 120)
            for j in range(80)
        ]
        + [(990, 0, 50), (999, 500, 400)],  # lo=0 edge; inverted: dropped
        "iid long, lo long, hi long",
    )
    return pts, ivs


def _naive_count_sum(spark, pts, ivs):
    j = pts.join(
        ivs.filter(F.col("lo") <= F.col("hi")),
        (pts["t"] >= ivs["lo"]) & (pts["t"] <= ivs["hi"]),
    )
    return {
        r["iid"]: (r["n"], r["s"])
        for r in j.groupBy("iid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("v"), 6).alias("s"),
        )
        .collect()
    }


def test_interval_count_sum_matches_naive_join(spark):
    """The prefix-scan form must reproduce interval_join + groupBy
    exactly: same per-interval counts, same 6-dp-rounded sums
    (DECIMAL prefix differences vs direct double sums), zero-match
    intervals reported with n_points = 0, inverted intervals
    dropped."""
    from ramen_spark.operators.rangejoin import interval_count_sum

    pts, ivs = _count_sum_fixture(spark)
    got = {
        r["iid"]: (r["n_points"], r["sum_val"])
        for r in interval_count_sum(
            pts, ivs, "t", "lo", "hi", "iid", "v", bucket=64
        ).collect()
    }
    naive = _naive_count_sum(spark, pts, ivs)
    assert 999 not in got  # inverted interval dropped
    matched = {i: v for i, v in got.items() if v[0] > 0}
    assert set(matched) == set(naive)
    for i, (n, s) in naive.items():
        gn, gs = got[i]
        assert gn == n, (i, gn, n)
        assert round(float(gs), 6) == s, (i, gs, s)
    # zero-match intervals still present (left-complete contract)
    zeros = [i for i, (n, _) in got.items() if n == 0]
    assert all(
        got[i][1] == 0 for i in zeros
    ) and len(got) == len(naive) + len(zeros)


def test_interval_count_sum_exact_at_full_scale(spark):
    """sum_val is EXACTLY the sum of the points' DECIMAL(38,18) casts,
    on full-mantissa doubles: no step of the prefix path may cut the
    scale (a decimal product would demote it to 6 digits, the sum of
    two (38,18) prefixes to 17)."""
    from decimal import Decimal

    from ramen_spark.operators.rangejoin import interval_count_sum

    pts, ivs = _count_sum_fixture(spark, full_mantissa=True)
    cast = [
        (r["t"], r["d"])
        for r in pts.select("t", F.col("v").cast("decimal(38,18)").alias("d")).collect()
    ]
    want = {
        r["iid"]: (
            sum(1 for t, _ in cast if r["lo"] <= t <= r["hi"]),
            sum((d for t, d in cast if r["lo"] <= t <= r["hi"]), Decimal(0)),
        )
        for r in ivs.collect()
        if r["lo"] <= r["hi"]
    }
    assert any(d.as_tuple().exponent == -18 and d % Decimal("1e-6") for _, d in cast)
    for bucket in (7, 64):
        got = {
            r["iid"]: (r["n_points"], r["sum_val"])
            for r in interval_count_sum(
                pts, ivs, "t", "lo", "hi", "iid", "v", bucket=bucket
            ).collect()
        }
        assert got == want, bucket


def test_interval_count_sum_bucket_width_invariance(spark):
    """Bucket width is a performance knob, never a semantics knob —
    same contract as interval_join."""
    from ramen_spark.operators.rangejoin import interval_count_sum

    pts, ivs = _count_sum_fixture(spark)
    runs = [
        {
            (r["iid"], r["n_points"], str(r["sum_val"]))
            for r in interval_count_sum(
                pts, ivs, "t", "lo", "hi", "iid", "v", bucket=b
            ).collect()
        }
        for b in (1, 7, 64, 1000, 10**6)
    ]
    assert all(s == runs[0] for s in runs)


def test_interval_count_sum_no_pair_join_plan(spark):
    """The point of the rewrite: the plan carries the two prefix
    window scans and NO join of points against intervals — the only
    join is the tiny bucket-offset attach, and there is never a
    nested-loop/cartesian pair enumeration."""
    from ramen_spark.operators.rangejoin import interval_count_sum

    pts, ivs = _count_sum_fixture(spark)
    plan = (
        interval_count_sum(pts, ivs, "t", "lo", "hi", "iid", "v", bucket=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert "Window" in plan, plan
    with pytest.raises(ValueError):
        interval_count_sum(pts, ivs, "t", "lo", "hi", "iid", "v", bucket=0)


# ---------------------------------------------------------------------------
# quantile sketch
# ---------------------------------------------------------------------------


def _quantile_fixture(spark, n=20000):
    # two groups with very different distributions: uniform-ish and
    # heavy-tailed (quadratic) — deterministic, no RNG
    rows = [(i, "uni", float((i * 37) % 1000)) for i in range(n)] + [
        (n + i, "tail", float(((i * 13) % 100) ** 2)) for i in range(n)
    ]
    return spark.createDataFrame(rows, "rid long, grp string, v double")


def test_quantile_sketch_error_bound_vs_exact(spark):
    """The sample is uniform (bottom-k by row-id hash), so the CDF of
    the estimate at each requested p sits within ~binomial error of p:
    |F(est) − p| ≤ 4·√(p(1−p)/k) (4σ; deterministic data makes this a
    fixed, comfortably-passing margin, but the BOUND is the spec)."""
    import math

    from ramen_spark.operators.sketch import quantile_sketch

    df = _quantile_fixture(spark)
    k = 256
    est = {
        r["grp"]: r
        for r in quantile_sketch(
            df, ["grp"], "v", "rid", ps=[0.5, 0.9, 0.99], k=k
        ).collect()
    }
    vals = {g: sorted(r["v"] for r in df.filter(F.col("grp") == g).collect())
            for g in ("uni", "tail")}
    for g, arr in vals.items():
        assert est[g]["n_sample"] == k
        n = len(arr)
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            e = est[g][col]
            cdf = sum(1 for x in arr if x <= e) / n
            bound = 4 * math.sqrt(p * (1 - p) / k)
            assert abs(cdf - p) <= bound, (g, col, e, cdf, p, bound)


def test_quantile_sketch_partition_invariant_and_exact_when_underfull(spark):
    from ramen_spark.operators.sketch import quantile_sketch

    df = _quantile_fixture(spark, n=500)

    def run(d, k=64):
        return {
            tuple(r)
            for r in quantile_sketch(
                d, ["grp"], "v", "rid", ps=[0.5, 0.9], k=k
            ).collect()
        }

    assert run(df.coalesce(1)) == run(df.repartition(31)) == run(
        df.repartition(5, "rid")
    )
    # forced-wide scan exercises the salted finalize level
    assert run(df.repartition(512)) == run(df.coalesce(1))
    # k ≥ group size ⇒ the "sample" is the whole group: nearest-rank
    # quantiles must be EXACT
    big = {r["grp"]: r for r in quantile_sketch(
        df, ["grp"], "v", "rid", ps=[0.5], k=1000
    ).collect()}
    for g in ("uni", "tail"):
        arr = sorted(r["v"] for r in df.filter(F.col("grp") == g).collect())
        idx = round((len(arr) - 1) * 0.5)
        assert big[g]["n_sample"] == len(arr)
        assert big[g]["p50"] == arr[idx]


def test_quantile_sketch_single_exchange_plan(spark):
    """Same scale contract as kmv_distinct: map-side bounded prefilter,
    ONE Exchange of pruned pairs, no Window, no global Sort."""
    from ramen_spark.operators.sketch import quantile_sketch

    df = _quantile_fixture(spark, n=2000)
    plan = quantile_sketch(
        df, ["grp"], "v", "rid", ps=[0.5], k=64
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan


def test_quantile_sketch_validates_params(spark):
    from ramen_spark.operators.sketch import quantile_sketch

    df = _quantile_fixture(spark, n=10)
    with pytest.raises(ValueError):
        quantile_sketch(df, ["grp"], "v", "rid", ps=[0.5], k=1)
    with pytest.raises(ValueError):
        quantile_sketch(df, ["grp"], "v", "rid", ps=[], k=64)
    with pytest.raises(ValueError):
        quantile_sketch(df, ["grp"], "v", "rid", ps=[1.5], k=64)


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def _cms_fixture(spark):
    import random

    # Zipf-ish token stream: token0 hot, long tail
    rows = [
        (f"tok{min(int(1 / max(random.Random(i).random(), 1e-9)) , 400)}",)
        for i in range(30000)
    ]
    return spark.createDataFrame(rows, "token string")


def test_cms_never_underestimates_and_is_tight_on_heavy(spark):
    from ramen_spark.operators.sketch import count_min_build, count_min_lookup

    df = _cms_fixture(spark)
    exact = {
        r["token"]: r["n"]
        for r in df.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    cms = count_min_build(df, "token", depth=4, width=2048)
    est = {
        r["token"]: r["cms_est"]
        for r in count_min_lookup(
            cms, df.select("token").distinct(), "token", depth=4, width=2048
        ).collect()
    }
    assert set(est) == set(exact)
    # the CMS guarantee: NEVER an underestimate, for every key
    assert all(est[t] >= exact[t] for t in exact)
    # heavy hitters are near-exact (few collisions at this load factor)
    heavy = sorted(exact, key=lambda t: -exact[t])[:5]
    for t in heavy:
        assert est[t] - exact[t] <= 0.05 * exact[t] + 50


def test_cms_mergeable(spark):
    """union-of-corpora sketch == cell-wise sum of per-corpus
    sketches — the persistable-index contract."""
    import random

    from ramen_spark.operators.sketch import count_min_build

    rows = [
        (f"tok{min(int(1 / max(random.Random(i).random(), 1e-9)), 400)}",)
        for i in range(30000)
    ]
    df = spark.createDataFrame(rows, "token string")
    a = spark.createDataFrame(rows[:10000], "token string")
    b = spark.createDataFrame(rows[10000:], "token string")
    cms_all = {
        (r["row"], r["col"]): r["cnt"]
        for r in count_min_build(df, "token", 4, 2048).collect()
    }
    cms_a = {
        (r["row"], r["col"]): r["cnt"]
        for r in count_min_build(a, "token", 4, 2048).collect()
    }
    cms_b = {
        (r["row"], r["col"]): r["cnt"]
        for r in count_min_build(b, "token", 4, 2048).collect()
    }
    merged: dict = {}
    for part in (cms_a, cms_b):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == cms_all


def test_cms_partial_aggregation_plan(spark):
    """The scale contract: the explode-by-depth feeds a partial
    (map-side) aggregate BEFORE the Exchange, so the shuffle is
    bounded by depth x width cells per task, not the token volume."""
    from ramen_spark.operators.sketch import count_min_build

    df = _cms_fixture(spark)
    plan = count_min_build(df, "token", 4, 2048)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # partial + final HashAggregate pair around the single Exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_cms_validates_params(spark):
    from ramen_spark.operators.sketch import count_min_build

    df = _cms_fixture(spark)
    with pytest.raises(ValueError):
        count_min_build(df, "token", depth=0)


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fp_rate(spark):
    from ramen_spark.operators.bloom import bloom_build, bloom_might_contain

    members = spark.createDataFrame(
        [(f"m{i}",) for i in range(2000)], "v string"
    )
    bm = bloom_build(members, "v", m_bits=1 << 16, k=3)
    probe = spark.createDataFrame(
        [(f"m{i}",) for i in range(2000)]
        + [(f"x{i}",) for i in range(20000)],
        "v string",
    )
    kept = {r["v"] for r in
            bloom_might_contain(probe, "v", bm, 1 << 16, 3).collect()}
    member_set = {f"m{i}" for i in range(2000)}
    assert member_set <= kept  # NO false negatives, ever
    fp = len(kept - member_set) / 20000
    assert fp < 0.01  # theory ~0.0007 at this load factor


def test_bloom_candidates_superset_of_exact_contamination(spark):
    """The pipeline property the oracle rests on: bloom candidates ⊇
    exactly-contaminated docs (then the exact join discards the FPs)."""
    from ramen_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    cand = {
        r["doc_id"]
        for r in QUERIES["bloom_contamination_candidates"](spark, sf).collect()
    }
    exact = {
        r["doc_id"]
        for r in QUERIES["decontaminate_train"](spark, sf).collect()
        if r["contaminated"]
    }
    assert exact <= cand


def test_bloom_probe_side_is_broadcast_only(spark):
    """The probed side must reach the bit test without an Exchange:
    k BroadcastHashJoins, no SortMergeJoin."""
    from ramen_spark.operators.bloom import bloom_build, bloom_might_contain

    members = spark.createDataFrame([("a",), ("b",)], "v string")
    bm = bloom_build(members, "v", m_bits=1 << 12, k=3).localCheckpoint()
    probe = spark.createDataFrame([(f"p{i}",) for i in range(100)], "v string")
    plan = bloom_might_contain(probe, "v", bm, 1 << 12, 3)._jdf\
        .queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_bitmaps_mergeable(spark):
    """bit_or of two bitmaps == bitmap of the union (the persistable-
    index contract)."""
    from ramen_spark.operators.bloom import bloom_build

    a = spark.createDataFrame([(f"a{i}",) for i in range(500)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(500)], "v string")
    both = a.unionByName(b)
    bm_union = {
        (r["word"], r["bits"])
        for r in bloom_build(both, "v", 1 << 14, 3).collect()
    }
    merged = (
        bloom_build(a, "v", 1 << 14, 3)
        .unionByName(bloom_build(b, "v", 1 << 14, 3))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    assert {(r["word"], r["bits"]) for r in merged.collect()} == bm_union


def test_bloom_validates_params(spark):
    from ramen_spark.operators.bloom import bloom_build

    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError):
        bloom_build(df, "v", m_bits=16)
    with pytest.raises(ValueError):
        bloom_build(df, "v", k=0)


# ---------------------------------------------------------------------------
# margin-based pair mining
# ---------------------------------------------------------------------------


def test_margin_mining_penalizes_hubs(spark):
    """The point of the ratio margin: a HUB (close to everything on
    the other side) wins raw cosine but scores ~1.0 margin, while a
    mutually-exclusive pair keeps margin >> 1."""
    from ramen_spark.operators.similarity import margin_mining

    import math

    def unit(*v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    xs = spark.createDataFrame(
        [
            (0, unit(1.0, 0.0, 0.05)),   # true partner of y=100
            (1, unit(0.0, 1.0, 0.05)),   # true partner of y=101
            (2, unit(0.5, 0.5, 0.7)),    # hub-seeker: nearest is the hub
        ],
        "vec_id long, embedding array<double>",
    )
    ys = spark.createDataFrame(
        [
            (100, unit(1.0, 0.0, 0.0)),
            (101, unit(0.0, 1.0, 0.0)),
            (102, unit(0.45, 0.45, 0.77)),  # the hub: close to everyone
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["x_id"]: r for r in margin_mining(xs, ys, k=2).collect()}
    assert out[0]["y_id"] == 100 and out[1]["y_id"] == 101
    # exclusive pairs clear the hub-seeker's margin
    assert out[0]["margin"] > out[2]["margin"]
    assert out[1]["margin"] > out[2]["margin"]


def test_margin_mining_shared_id_space(spark):
    """Bitext corpora routinely number BOTH sides 0..n — the true
    aligned pair (x_i, y_i) shares an id. brute_force_topk's
    self-match filter (correct for self-search) must NOT apply here:
    with exclude_self accidentally on, x_0's best partner y_0
    (sim ≈ 0.995) is dropped and the miner returns y_1 (sim ≈ 0.1)."""
    from ramen_spark.operators.similarity import margin_mining

    import math

    def unit(*v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    xs = spark.createDataFrame(
        [(0, unit(1.0, 0.0, 0.1)), (1, unit(0.0, 1.0, 0.1))],
        "vec_id long, embedding array<double>",
    )
    ys = spark.createDataFrame(
        [(0, unit(1.0, 0.0, 0.0)), (1, unit(0.0, 1.0, 0.0))],
        "vec_id long, embedding array<double>",
    )
    out = {r["x_id"]: r for r in margin_mining(xs, ys, k=2).collect()}
    assert out[0]["y_id"] == 0 and out[0]["sim"] > 0.99
    assert out[1]["y_id"] == 1 and out[1]["sim"] > 0.99


def test_kmv_global_and_null_values(spark):
    """keys=[] is the GLOBAL sketch (the CLI's default no---by form),
    and NULL values are ignored (SQL COUNT DISTINCT convention) —
    a NULL would otherwise NaN-cast to INT64_MIN inside the Arrow
    prefilter and squat in the min slot."""
    df = spark.createDataFrame(
        [(f"u{i % 40}",) for i in range(500)] + [(None,)] * 25,
        "user string",
    )
    [row] = kmv_distinct(df, [], "user", k=64).collect()
    assert row["n_kept"] == 40 and row["est_distinct"] == 40
    # bit-identical with and without the NULLs present
    clean = spark.createDataFrame(
        [(f"u{i % 40}",) for i in range(500)], "user string"
    )
    [row2] = kmv_distinct(clean, [], "user", k=64).collect()
    assert tuple(row) == tuple(row2)


# ---------------------------------------------------------------------------
# kmv_overlap — sketch set algebra
# ---------------------------------------------------------------------------


def _overlap_fixture(spark, n_a=900, n_b=700, shared=400, dup=6):
    """Two relations with a KNOWN overlap: A = users [0, n_a),
    B = users [n_a - shared, n_a - shared + n_b), each id repeated
    ``dup`` times so the distinct sets are exercised under
    multiplicity. One group key 'g' splits ids by parity."""
    a = spark.createDataFrame(
        [(f"g{i % 2}", f"u{i}") for i in range(n_a) for _ in range(dup)],
        "g string, user string",
    )
    b = spark.createDataFrame(
        [
            (f"g{i % 2}", f"u{i}")
            for i in range(n_a - shared, n_a - shared + n_b)
            for _ in range(dup)
        ],
        "g string, user string",
    )
    return a, b


def test_kmv_overlap_underfull_is_exact(spark):
    """While both sketches are under-full (true distinct < k) every
    output — per-side counts, union, intersection, Jaccard — is
    EXACT: the property the oracle rests on."""
    from ramen_spark.operators.sketch import kmv_overlap

    a, b = _overlap_fixture(spark, n_a=40, n_b=30, shared=20)
    out = {r["g"]: r for r in kmv_overlap(a, b, ["g"], "user", k=64).collect()}
    for g in ("g0", "g1"):
        ta = {f"u{i}" for i in range(40) if i % 2 == int(g[1])}
        tb = {f"u{i}" for i in range(20, 50) if i % 2 == int(g[1])}
        r = out[g]
        assert r["est_a"] == len(ta) == r["n_a"]
        assert r["est_b"] == len(tb) == r["n_b"]
        assert r["est_union"] == len(ta | tb) == r["n_union_kept"]
        assert r["est_intersection"] == len(ta & tb)
        assert abs(r["jaccard"] - len(ta & tb) / len(ta | tb)) < 1e-6
        # containment (Broder): exact while under-full, like the rest
        assert abs(r["containment_b_in_a"] - len(ta & tb) / len(tb)) < 1e-6
        assert abs(r["containment_a_in_b"] - len(ta & tb) / len(ta)) < 1e-6


def test_kmv_overlap_saturated_close_and_partition_invariant(spark):
    """Saturated sketches: estimates within the ~1/√k KMV error band,
    and the whole output bit-identical across any partitioning."""
    from ramen_spark.operators.sketch import kmv_overlap

    a, b = _overlap_fixture(spark)  # 900 / 700 / 400 shared, per parity
    def run(da, db):
        return {
            tuple(r)
            for r in kmv_overlap(da, db, ["g"], "user", k=128).collect()
        }
    base = run(a, b)
    for r in base:
        g = int(r[0][1])
        ta = {i for i in range(900) if i % 2 == g}
        tb = {i for i in range(500, 1200) if i % 2 == g}
        (_, n_a, n_b, est_a, est_b, n_l, est_u, est_i, jac, cba, cab) = r
        assert n_a == n_b == n_l == 128
        assert abs(est_u - len(ta | tb)) / len(ta | tb) < 0.30
        assert abs(est_i - len(ta & tb)) / len(ta & tb) < 0.45
        true_j = len(ta & tb) / len(ta | tb)
        assert abs(jac - true_j) < 0.20
    assert base == run(a.coalesce(1), b.repartition(17)) == run(
        a.repartition(5, "user"), b.coalesce(2)
    )


def test_kmv_overlap_one_sided_key_and_global(spark):
    """A key present on only one side: other side's estimate 0,
    intersection 0, jaccard 0 (not NULL). keys=[] is the global
    one-row form."""
    from ramen_spark.operators.sketch import kmv_overlap

    a = spark.createDataFrame(
        [("only_a", f"u{i}") for i in range(10)]
        + [("both", f"u{i}") for i in range(8)],
        "g string, user string",
    )
    b = spark.createDataFrame(
        [("only_b", f"v{i}") for i in range(5)]
        + [("both", f"u{i}") for i in range(4, 12)],
        "g string, user string",
    )
    out = {r["g"]: r for r in kmv_overlap(a, b, ["g"], "user", k=64).collect()}
    assert out["only_a"]["est_a"] == 10 and out["only_a"]["est_b"] == 0
    assert out["only_a"]["est_intersection"] == 0
    assert out["only_a"]["jaccard"] == 0.0
    assert out["only_b"]["est_b"] == 5 and out["only_b"]["est_a"] == 0
    assert out["both"]["est_intersection"] == 4  # u4..u7
    assert abs(out["both"]["jaccard"] - 4 / 12) < 1e-6
    [g] = kmv_overlap(a, b, [], "user", k=64).collect()
    # A = {u0..u9}, B = {v0..v4, u4..u11}: union 17, intersection u4..u9
    assert g["est_union"] == 17 and g["est_intersection"] == 6


def test_kmv_overlap_plan_two_prefilter_exchanges(spark):
    """Scale contract: raw rows never shuffle — the only Exchanges
    carry the two pruned sketch sides (plus the join itself); no
    Window, no cartesian product on the keyed form."""
    from ramen_spark.operators.sketch import kmv_overlap

    a, b = _overlap_fixture(spark, n_a=100, n_b=100, shared=50)
    plan = kmv_overlap(a, b, ["g"], "user", k=64)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # two prefilter aggregates + join-side exchanges only: every
    # Exchange sits ABOVE a mapInPandas prune (bounded rows)
    assert plan.count("Exchange") <= 4, plan


def test_kmv_overlap_pruned_composes_sharded_sketches(spark):
    """The snapshot-versioning form: kmv_overlap_pruned over persisted
    prune outputs equals kmv_overlap over the raw relations, even when
    one side is a UNION of per-shard prunes (sketch mergeability — the
    contract that lets two 100 TB crawls compare by their few-KB
    sketches without re-reading either)."""
    from ramen_spark.operators.sketch import (
        kmv_overlap,
        kmv_overlap_pruned,
        kmv_prune,
    )

    a, b = _overlap_fixture(spark, n_a=300, n_b=250, shared=120)
    whole = {tuple(r) for r in kmv_overlap(a, b, ["g"], "user", k=64).collect()}
    half1 = a.filter(F.col("user").substr(-1, 1).isin("0", "1", "2", "3"))
    half2 = a.subtract(half1)
    pa = kmv_prune(half1, ["g"], "user", 64).unionByName(
        kmv_prune(half2, ["g"], "user", 64)
    )
    pb = kmv_prune(b, ["g"], "user", 64)
    sharded = {
        tuple(r) for r in kmv_overlap_pruned(pa, pb, ["g"], 64).collect()
    }
    assert sharded == whole


def test_kmv_k_fidelity_guard(spark):
    """A persisted sketch built with a SMALLER k than the query k must
    fail LOUDLY (round-10 advisory: a k=32 sketch finalized at k=64
    reads as under-full and reports approximations as 'exact').
    Querying with a smaller-or-equal k stays valid; legacy sketches
    without the metadata column pass unchecked."""
    from pyspark.sql.utils import SparkUpgradeException  # noqa: F401

    from ramen_spark.operators.sketch import (
        kmv_distinct,
        kmv_finalize,
        kmv_overlap_pruned,
        kmv_prune,
    )

    a, b = _overlap_fixture(spark, n_a=300, n_b=250, shared=120)
    p32 = kmv_prune(a, ["g"], "user", 32)
    assert "_kmv_k" in p32.columns

    # smaller-k sketch, larger-k query → runtime error, not wrong data
    with pytest.raises(Exception, match="built with k="):
        kmv_finalize(p32, ["g"], 64).collect()
    with pytest.raises(Exception, match="built with k="):
        kmv_overlap_pruned(
            p32, kmv_prune(b, ["g"], "user", 64), ["g"], 64
        ).collect()

    # larger-k sketch, smaller-k query → valid, value-identical to a
    # native k=32 build (bottom-32 of bottom-64 = bottom-32)
    p64 = kmv_prune(a, ["g"], "user", 64)
    got = {tuple(r) for r in kmv_finalize(p64, ["g"], 32).collect()}
    want = {tuple(r) for r in kmv_distinct(a, ["g"], "user", 32).collect()}
    assert got == want

    # legacy sketch (no metadata column) still reads — unchecked
    legacy = p32.drop("_kmv_k")
    assert kmv_finalize(legacy, ["g"], 64).count() > 0


def test_kmv_overlap_validates_k(spark):
    from ramen_spark.operators.sketch import kmv_overlap

    a, b = _overlap_fixture(spark, n_a=4, n_b=4, shared=2)
    with pytest.raises(ValueError):
        kmv_overlap(a, b, ["g"], "user", k=1)


# ---------------------------------------------------------------------------
# token-budget prefix selection
# ---------------------------------------------------------------------------


def test_token_budget_select_equals_naive_cumsum(spark):
    """The two-level bounded-prefix form must equal the naive global
    cumsum window on every budget — including ties in the priority,
    budget 0, mid-document boundaries, and budget >= total."""
    import random

    from pyspark.sql import Window

    from ramen_spark.operators.sampling import token_budget_select

    rng = random.Random(7)
    # zero weights and NULL priorities/weights INCLUDED: the strict-<
    # boundary predicates and null-unsafe joins both passed an
    # all-positive generator (found by review)
    rows = [
        (
            i,
            rng.choice([0, 0, rng.randint(1, 50), None]),
            rng.choice([100, 200, 200, 300, 900, None]),
        )
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, q_micro long")
    total = sum(w or 0 for _, w, _ in rows)

    w = Window.orderBy(
        F.col("q_micro").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    naive_all = df.withColumn(
        "cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )

    # exact-prefix budgets: the cumsum value right AT a priority-group
    # edge exercises the <= boundary (zero-weight rows must still fit)
    by_pri = {}
    for _, wt, q in rows:
        by_pri[q] = by_pri.get(q, 0) + (wt or 0)
    edge = by_pri.get(900, 0)  # exactly exhausts the best priority
    for budget in (0, 1, 137, edge, 5000, 33333, total, total + 10):
        exp = {
            r["doc_id"]
            for r in naive_all.filter(F.col("cum") <= budget).collect()
        }
        got = {
            r["doc_id"]
            for r in token_budget_select(
                df, budget, id_range=256
            ).collect()
        }
        assert got == exp, f"budget={budget}: {len(got)} vs {len(exp)}"


def test_canonical_url_cross_engine_fuzz(spark):
    """Seeded 3000-case fuzz of the Java∩RE2 claim: unicode hosts,
    empty/odd schemes, repeated tracking params, stray '?'/'#'/'&',
    percent escapes, ports ':0'/':' — Spark and DuckDB must emit the
    IDENTICAL canonical string for every one (one batched compare, so
    the fuzz costs two queries, not 3000). A divergence here is
    exactly the class of bug that would surface as an unexplainable
    driver hash mismatch on real crawl URLs."""
    import random

    import duckdb

    from ramen_spark.functions.text import canonical_url, canonical_url_sql

    rng = random.Random(42)
    schemes = ["http", "HTTP", "https", "HTTPS", "ftp", "a+b-c.d", ""]
    hosts = ["Example.COM", "a.b", "ÜNICODE.example", "127.0.0.1", "h_h",
             "[::1]", "", 'weird"host']
    ports = ["", ":80", ":443", ":8080", ":0", ":"]
    paths = ["", "/", "/P/Q", "//x//", "/p%20q", "/p?", "/ünï/päth", "/p/"]
    qs = ["", "?", "?a=1", "?utm_source=x", "?utm_source=x&b=2",
          "?a=1&fbclid=z", "?gclid=1&gclid=2", "?ref=keep", "?utm_a",
          "?&&", "?a=%3F&utm_b=c", "?msclkid=m&utm_x=1&y=2"]
    frags = ["", "#", "#f", "#a#b", "#?q=1"]
    urls = []
    for _ in range(3000):
        u = rng.choice(schemes)
        u = (
            (u + "://" if u else "")
            + rng.choice(hosts) + rng.choice(ports) + rng.choice(paths)
            + rng.choice(qs) + rng.choice(frags)
        )
        urls.append(u)
    urls += ["", "   ", "no scheme at all", "a://", "://host", "http://",
             "just?query=1#f", "\t",
             "http://h/p/?utm_source=a&utm_source=b"]

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["c"]
        for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(u,) for u in urls])
    want = [r[0] for r in con.execute(
        f"SELECT {canonical_url_sql('url')} FROM t"
    ).fetchall()]
    diffs = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
    assert not diffs, diffs[:5]


# ---------------------------------------------------------------------------
# weighted_sample — A-ES weighted sampling without replacement
# ---------------------------------------------------------------------------


def _aes_gold(rows, n, seed=42):
    """Pure-Python reference of the A-ES selection: identical md5 hash,
    identical micro-freeze (Java/DuckDB HALF_UP = away-from-zero), so
    the operator must reproduce it EXACTLY per group."""
    import hashlib
    import math

    def skey(doc_id, w):
        h = int(hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:12], 16)
        u = (h + 1) / float(1 << 48)
        x = math.log(u) / float(w) * 1e6
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    by_g: dict[str, list] = {}
    for g, i, w in rows:
        if w is None or w <= 0:
            continue
        by_g.setdefault(g, []).append((-skey(i, w), i))
    out = set()
    for g, items in by_g.items():
        for rank, (negk, i) in enumerate(sorted(items)[:n], start=1):
            out.add((g, i, -negk, rank))
    return out


def test_weighted_sample_matches_python_gold_and_partitioning(spark):
    rows = [(f"g{i % 3}", i, float(1 + (i * 7) % 50)) for i in range(600)]
    rows += [("g0", 9001, None), ("g1", 9002, 0.0), ("g2", 9003, -4.0)]
    from ramen_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(rows, "g string, doc_id long, w double")
    got = {
        (r["g"], r["doc_id"], r["skey_micro"], r["rn"])
        for r in weighted_sample(
            df, n=20, weight_col="w", keys=["g"], id_col="doc_id"
        ).collect()
    }
    assert got == _aes_gold(rows, 20)
    # bit-identical on any partitioning — repartition(128) crosses
    # salt_above_partitions, forcing the salted local-top level
    # (lossless by the cms_rank_top argument)
    for parts in (23, 128):
        got2 = {
            (r["g"], r["doc_id"], r["skey_micro"], r["rn"])
            for r in weighted_sample(
                df.repartition(parts), n=20, weight_col="w", keys=["g"],
                id_col="doc_id",
            ).collect()
        }
        assert got2 == got, parts


def test_weighted_sample_is_weight_proportional(spark):
    """Heavy items (weight 200) dominate light ones (weight 1) in the
    sample — the A-ES inclusion-probability property, pinned on the
    deterministic hash so it never flakes."""
    from ramen_spark.operators.sampling import weighted_sample

    rows = [("x", i, 200.0 if i < 100 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, doc_id long, w double")
    picked = weighted_sample(
        df, n=50, weight_col="w", keys=["g"], id_col="doc_id"
    ).collect()
    assert len(picked) == 50
    heavy = sum(1 for r in picked if r["doc_id"] < 100)
    assert heavy >= 45  # E[heavy] ≈ 50·(popular mass ≫ light mass)
    # different seed ⇒ different sample (the seed actually threads)
    other = weighted_sample(
        df, n=50, weight_col="w", keys=["g"], id_col="doc_id", seed=7
    ).collect()
    assert {r["doc_id"] for r in other} != {r["doc_id"] for r in picked}


def test_weighted_sample_global_uses_take_ordered(spark):
    """The global form must NOT global-sort: orderBy+limit plans as
    TakeOrderedAndProject (per-partition top-n, n-row merge)."""
    from ramen_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [("a", i, float(i % 9 + 1)) for i in range(500)],
        "g string, doc_id long, w double",
    )
    out = weighted_sample(df, n=10, weight_col="w", keys=[], id_col="doc_id")
    assert out.count() == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    with pytest.raises(ValueError):
        weighted_sample(df, n=0, weight_col="w", keys=[], id_col="doc_id")


def test_kmv_empty_global_sketch_row(spark):
    """The empty GLOBAL sketch (keys=[], no non-NULL values) still
    emits its one row — (n_kept 0, kth_min NULL, est 0) — instead of
    throwing INVALID_INDEX on element_at(arr, 0) (review fix)."""
    allnull = spark.createDataFrame([(None,)] * 3, "v string")
    [r] = kmv_distinct(allnull, [], "v", k=8).collect()
    assert (r["n_kept"], r["kth_min"], r["est_distinct"]) == (0, None, 0)


def test_kmv_overlap_null_group_key(spark):
    """A NULL group key is a real group: the minset join must be
    null-safe, or a NULL-keyed group present on BOTH sides splits
    into two half-blind rows (review fix; the raql _join_branch
    convention)."""
    from ramen_spark.operators.sketch import kmv_overlap

    a = spark.createDataFrame(
        [(None, f"u{i}") for i in range(10)] + [("g", "x")],
        "g string, user string",
    )
    b = spark.createDataFrame(
        [(None, f"u{i}") for i in range(5, 15)], "g string, user string"
    )
    rows = {r["g"]: r for r in kmv_overlap(a, b, ["g"], "user", 64).collect()}
    assert len(rows) == 2  # NULL group did NOT split
    r = rows[None]
    assert r["est_a"] == 10 and r["est_b"] == 10
    assert r["est_union"] == 15 and r["est_intersection"] == 5
    assert rows["g"]["est_b"] == 0


def test_weighted_sample_tiny_weights_clamp_not_overflow(spark):
    """Sub-1e-13 weights would overflow the micro-key's long cast — a
    hard CAST_OVERFLOW under Spark 4 ANSI. They clamp at -2^62
    instead (essentially-zero inclusion probability, ties break by
    id) and normal-weight rows still win (review fix)."""
    from ramen_spark.operators.sampling import weighted_sample

    rows = [("g", i, 1e-300) for i in range(20)]
    rows += [("g", 100 + i, 5.0) for i in range(3)]
    df = spark.createDataFrame(rows, "g string, doc_id long, w double")
    got = weighted_sample(df, 5, "w", ["g"], "doc_id").collect()
    ids = [r["doc_id"] for r in sorted(got, key=lambda r: r["rn"])]
    # the 3 real-weight rows rank first; clamped rows fill by id asc
    assert set(ids[:3]) == {100, 101, 102}
    assert ids[3:] == [0, 1]
    assert all(r["skey_micro"] >= -(1 << 62) for r in got)


def test_token_budget_per_group_equals_naive_cumsum(spark):
    """keys=['g'] applies the budget independently per group: result
    equals the naive PARTITION BY cumsum on several budgets, incl.
    NULL weights/priorities and a group that fits entirely."""
    from pyspark.sql import Window

    from ramen_spark.operators.sampling import token_budget_select

    rows = []
    for i in range(400):
        g = f"g{i % 3}"
        w = None if i % 37 == 0 else (i * 7) % 50
        p = None if i % 41 == 0 else (i * 13) % 20
        rows.append((g, i, w, p))
    rows += [("tiny", 9000 + i, 5, 1) for i in range(3)]  # fits whole
    df = spark.createDataFrame(rows, "g string, doc_id long, w long, p long")

    for budget in (0, 37, 500, 10_000, 10**9):
        got = {
            (r["g"], r["doc_id"])
            for r in token_budget_select(
                df, budget, "w", "p", "doc_id", id_range=64, keys=["g"]
            ).collect()
        }
        win = (
            Window.partitionBy("g")
            .orderBy(F.col("p").desc(), F.col("doc_id").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        naive = {
            (r["g"], r["doc_id"])
            for r in df.withColumn(
                "cum", F.sum(F.coalesce("w", F.lit(0))).over(win)
            )
            .filter(F.col("cum") <= budget)
            .collect()
        }
        assert got == naive, budget


def test_token_budget_select_adversarially_sparse_ids(spark):
    """Round-10 agenda #7: the id-range ladder's bound is
    UNCONDITIONAL. Ids spaced so that every doc is alone in its
    id_range AND id_range^2 bucket (the layout that degraded the old
    single range level to one row per doc), plus random 62-bit hash
    ids (the realistic sparse layout), must both equal the naive
    global cumsum on every budget — including ties in the priority
    landing entire tie-groups on the boundary."""
    import random

    from pyspark.sql import Window

    from ramen_spark.operators.sampling import token_budget_select

    rng = random.Random(23)
    id_range = 8  # tiny, so the ladder's levels all engage
    layouts = {
        # every doc alone in its range and super-range: spacing over
        # id_range^2 (=64), plus jitter so buckets aren't aligned
        "spaced": [i * (id_range**2 + 3) + rng.randint(0, 2)
                   for i in range(400)],
        # random 62-bit hash ids — astronomically sparse everywhere
        "hash62": rng.sample(range(1 << 62), 400),
        # ids straddling zero: SQL `div` truncates toward zero, so a
        # trunc-div bucketing gives bucket 0 double width around the
        # origin (round-11 advice) — the ladder now floor-divides;
        # signed ids must stay value-identical to the naive cumsum
        "signed": [i * (id_range**2 + 3) + rng.randint(0, 2) - 13_000
                   for i in range(400)],
    }
    for name, ids in layouts.items():
        rows = [
            (i, rng.randint(0, 40), rng.choice([100, 200, 200, 300]))
            for i in ids
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, n_tokens long, q_micro long"
        )
        w = Window.orderBy(
            F.col("q_micro").desc(), F.col("doc_id").asc()
        ).rowsBetween(Window.unboundedPreceding, 0)
        naive = df.withColumn(
            "cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        total = sum(wt for _, wt, _ in rows)
        for budget in (0, 97, 1234, total // 2, total):
            exp = {
                r["doc_id"]
                for r in naive.filter(F.col("cum") <= budget).collect()
            }
            got = {
                r["doc_id"]
                for r in token_budget_select(
                    df, budget, "n_tokens", "q_micro", "doc_id",
                    id_range=id_range,
                ).collect()
            }
            assert got == exp, (name, budget, len(got), len(exp))

    # bound evidence: at the DEFAULT id_range=2^16, the top ladder
    # level's bucket width is 2^48 — 62-bit ids occupy at most 2^14
    # top buckets and each later level enumerates one parent's
    # <= 2^16 children, so no window ever sees more than 2^16 rows
    # per key regardless of layout (the old level-2 saw one row per
    # doc here). Checked arithmetically on the hash62 layout:
    top = {i >> 48 for i in layouts["hash62"]}
    assert len(top) <= 1 << 14
    # a huge id_range must not overflow the width literal
    got = token_budget_select(
        spark.createDataFrame(
            [(1, 5, 10), (2, 5, 9)], "doc_id long, n_tokens long, q_micro long"
        ),
        5, "n_tokens", "q_micro", "doc_id", id_range=1 << 40,
    ).collect()
    assert {r["doc_id"] for r in got} == {1}
