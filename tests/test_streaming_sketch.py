"""Always-on sketch lanes (streaming/sketch.py): N-batch streaming
maintenance must equal the batch sketch over the concatenated input,
and replay semantics must hold (KMV idempotent, CMS batch-id
guarded)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _event_batches(spark, tmp_path, n=3):
    from ramen_spark.catalog import load_table

    ev = load_table(spark, SF_SMALL, "events").select("event_type", "user_id")
    src = tmp_path / "ev_src"
    for i in range(n):
        ev.filter(F.col("user_id") % n == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    return ev, src


def test_streaming_kmv_equals_batch(spark, tmp_path):
    from ramen_spark.operators.sketch import kmv_distinct
    from ramen_spark.streaming.sketch import kmv_sketch_stream

    ev, src = _event_batches(spark, tmp_path)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = kmv_sketch_stream(
        stream,
        str(tmp_path / "kmv_state"),
        str(tmp_path / "ckpt"),
        keys=["event_type"],
        value_col="user_id",
        k=32,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from ramen_spark.streaming.sketch import IncrementalKmvSketch

    sk = IncrementalKmvSketch(
        spark, str(tmp_path / "kmv_state"), ["event_type"], "user_id", k=32
    )
    got = {tuple(r) for r in sk.estimate().collect()}
    exp = {
        tuple(r)
        for r in kmv_distinct(ev, ["event_type"], "user_id", k=32).collect()
    }
    assert got == exp and len(exp) == 5


def test_streaming_kmv_replay_idempotent(spark, tmp_path):
    """min-k ignores duplicates: folding the SAME batch twice leaves
    the state bit-identical — a crashed-and-replayed micro-batch
    cannot corrupt the sketch."""
    from ramen_spark.catalog import load_table
    from ramen_spark.streaming.sketch import IncrementalKmvSketch

    ev = load_table(spark, SF_SMALL, "events").select("event_type", "user_id")
    sk = IncrementalKmvSketch(
        spark, str(tmp_path / "state"), ["event_type"], "user_id", k=16
    )
    sk.update(ev)
    once = {tuple(r) for r in sk.estimate().collect()}
    sk.update(ev)  # replay
    assert {tuple(r) for r in sk.estimate().collect()} == once


def test_streaming_kmv_distributed_commit_high_cardinality(spark, tmp_path):
    """The snapshot protocol must NEVER collect state to the driver —
    at ANY size (round-10: the old small-state driver round-trip also
    had a crash window). Instrumented by poisoning DataFrame.collect
    for the duration of the updates on a 100k-key stream; parity vs
    batch kmv_distinct over the concatenated input proves the
    distributed snapshot commits merge identically."""
    from pyspark.sql import DataFrame

    from ramen_spark.operators.sketch import kmv_distinct
    from ramen_spark.streaming.sketch import IncrementalKmvSketch

    n_keys = 100_000
    full = spark.range(2 * n_keys).select(
        F.concat(F.lit("h"), (F.col("id") % n_keys).cast("string")).alias("host"),
        (F.col("id") * 2654435761 % 1000).cast("string").alias("user"),
    )
    b0 = full.filter(F.crc32(F.col("host")) % 2 == 0)
    b1 = full.filter(F.crc32(F.col("host")) % 2 == 1)

    sk = IncrementalKmvSketch(
        spark, str(tmp_path / "hoststate"), ["host"], "user", k=8,
    )

    real_collect = DataFrame.collect

    def _poisoned(self):
        raise AssertionError("state visited the driver during update")

    DataFrame.collect = _poisoned
    try:
        sk.update(b0)
        sk.update(b1)
    finally:
        DataFrame.collect = real_collect

    got = {tuple(r) for r in sk.estimate().collect()}
    exp = {
        tuple(r) for r in kmv_distinct(full, ["host"], "user", k=8).collect()
    }
    assert got == exp and len(exp) == n_keys


def test_streaming_kmv_crash_recovery_snapshot_protocol(spark, tmp_path):
    """Snapshot-store crash matrix: a COMPLETE (_SUCCESS-bearing)
    newer version is adopted even if the committer died before GC; a
    torn newer version (no _SUCCESS) must be ignored in favour of the
    previous snapshot; and a replayed batch folded on top of an
    adopted snapshot is a no-op (min-k idempotence)."""
    import os
    import shutil

    from ramen_spark.streaming.sketch import IncrementalKmvSketch

    df = spark.createDataFrame(
        [(f"k{i % 5}", f"u{i}") for i in range(200)], "key string, user string"
    )
    state = str(tmp_path / "state")
    sk = IncrementalKmvSketch(spark, state, ["key"], "user", k=16)
    sk.update(df)
    snap = {tuple(r) for r in sk.estimate().collect()}
    assert os.path.isdir(state + "/v1")

    # crash-after-write-before-GC: v1 AND a complete v2 both present —
    # the newer complete snapshot wins
    shutil.copytree(state + "/v1", state + "/v2")
    assert {tuple(r) for r in sk.estimate().collect()} == snap
    assert sk.store.current_version() == 2

    # torn write: a v3 WITHOUT _SUCCESS must not shadow v2
    os.makedirs(state + "/v3")
    assert sk.store.current_version() == 2
    assert {tuple(r) for r in sk.estimate().collect()} == snap

    # replay on top of the adopted snapshot: state is bit-identical,
    # the torn v3 is overwritten by the new commit and old versions GC
    sk.update(df)
    assert {tuple(r) for r in sk.estimate().collect()} == snap
    assert sorted(os.listdir(state)) == ["v3"]
    assert os.path.exists(state + "/v3/_SUCCESS")


def test_streaming_quantile_equals_batch_and_replay_idempotent(spark, tmp_path):
    """N micro-batches folded into IncrementalQuantileSketch must
    finalize identically to batch quantile_sketch over the
    concatenated input, and re-folding a batch must be a no-op (the
    state is DISTINCT (hash, value) pairs — set min-k)."""
    from ramen_spark.operators.sketch import quantile_sketch
    from ramen_spark.streaming.sketch import IncrementalQuantileSketch

    full = spark.createDataFrame(
        [(i, f"g{i % 3}", float((i * 29) % 500)) for i in range(3000)],
        "rid long, grp string, v double",
    )
    sk = IncrementalQuantileSketch(
        spark, str(tmp_path / "qstate"), ["grp"], "v", "rid", k=64
    )
    for b in range(3):
        sk.update(full.filter(F.col("rid") % 3 == b))
    ps = [0.5, 0.9]
    got = {tuple(r) for r in sk.estimate(ps).collect()}
    exp = {
        tuple(r)
        for r in quantile_sketch(full, ["grp"], "v", "rid", ps, k=64).collect()
    }
    assert got == exp and len(exp) == 3

    sk.update(full.filter(F.col("rid") % 3 == 1))  # replay
    assert {tuple(r) for r in sk.estimate(ps).collect()} == exp

    # ...and the live lane over a real stream lands on the same sample
    from ramen_spark.streaming.sketch import quantile_sketch_stream

    src = tmp_path / "q_src"
    for b in range(3):
        full.filter(F.col("rid") % 3 == b).coalesce(1).write.parquet(
            str(src / f"b{b}")
        )
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = quantile_sketch_stream(
        stream,
        str(tmp_path / "q_live"),
        str(tmp_path / "q_ckpt"),
        keys=["grp"],
        value_col="v",
        id_col="rid",
        k=64,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = IncrementalQuantileSketch(
        spark, str(tmp_path / "q_live"), ["grp"], "v", "rid", k=64
    )
    assert {tuple(r) for r in live.estimate(ps).collect()} == exp


def test_streaming_cms_equals_batch_and_skips_replays(spark, tmp_path):
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.sketch import count_min_build
    from ramen_spark.streaming.sketch import IncrementalCmsSketch

    ev = load_table(spark, SF_SMALL, "events").select("event_type")
    sk = IncrementalCmsSketch(
        spark, str(tmp_path / "cms"), "event_type", depth=3, width=64
    )
    batches = [ev.filter(F.col("event_type").isin(*s)) for s in (
        ("click", "view"), ("signup",), ("error", "purchase"),
    )]
    for i, b in enumerate(batches):
        sk.update(b, batch_id=i)
    exp = {
        (r["row"], r["col"]): r["cnt"]
        for r in count_min_build(ev, "event_type", 3, 64).collect()
    }
    got = {
        (r["row"], r["col"]): r["cnt"] for r in sk.cells().collect()
    }
    assert got == exp

    # a replayed batch id must be a no-op (sums are not idempotent)
    sk.update(batches[2], batch_id=2)
    assert {
        (r["row"], r["col"]): r["cnt"] for r in sk.cells().collect()
    } == exp

    # ...and the live lane over a real stream lands on the same cells
    from ramen_spark.streaming.sketch import cms_sketch_stream

    src = tmp_path / "cms_src"
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = cms_sketch_stream(
        stream,
        str(tmp_path / "cms_live"),
        str(tmp_path / "cms_ckpt"),
        "event_type",
        depth=3,
        width=64,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = IncrementalCmsSketch(
        spark, str(tmp_path / "cms_live"), "event_type", depth=3, width=64
    )
    assert {
        (r["row"], r["col"]): r["cnt"] for r in live.cells().collect()
    } == exp


def test_stream_static_interval_join(spark, tmp_path):
    """interval_join composes with readStream: a micro-batched point
    stream against a STATIC interval table (the always-on enrichment
    form — live events tagged with incident windows) emits exactly
    the batch join's rows. The bucket explosion lives on the static
    side, so the stream side stays a plain stream-static equi-join."""
    from pyspark.sql import functions as F

    from ramen_spark.operators.rangejoin import interval_join

    pts_rows = [(i, (i * 37) % 1000) for i in range(300)]
    pts = spark.createDataFrame(pts_rows, "pid long, t long")
    ivs = spark.createDataFrame(
        [(j, (j * 61) % 900, (j * 61) % 900 + 80) for j in range(40)],
        "iid long, lo long, hi long",
    )
    exp = {
        (r["pid"], r["iid"])
        for r in interval_join(pts, ivs, "t", "lo", "hi", bucket=128).collect()
    }

    src = tmp_path / "pts"
    for b in range(3):
        spark.createDataFrame(
            pts_rows[b::3], "pid long, t long"
        ).coalesce(1).write.parquet(str(src / f"b{b}"))
    stream = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        interval_join(stream, ivs, "t", "lo", "hi", bucket=128)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["pid"], r["iid"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == exp and len(exp) > 100


def test_streaming_cms_top_equals_batch_and_skips_replays(spark, tmp_path):
    """IncrementalCmsTop over N manual batches with max_candidates ≥
    distinct values equals batch cms_top over the concatenation; a
    replayed batch id is skipped (cell sums would double-count)."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.sketch import cms_top
    from ramen_spark.streaming.sketch import IncrementalCmsTop

    ev = load_table(spark, SF_SMALL, "events").select("event_type", "user_id")
    inc = IncrementalCmsTop(
        spark, str(tmp_path / "ctop"), ["event_type"], "user_id",
        max_candidates=64, depth=3, width=256,
    )
    for i in range(3):
        inc.update(ev.filter(F.col("user_id") % 3 == i), batch_id=i)
    inc.update(ev.filter(F.col("user_id") % 3 == 1), batch_id=1)  # replay

    got = {r["event_type"]: r["top"] for r in inc.top(5).collect()}
    exp = {
        r["event_type"]: r["top"]
        for r in cms_top(
            ev, ["event_type"], "user_id", 5, depth=3, width=256
        ).collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_cms_top_stream_lane_and_eviction(spark, tmp_path):
    """The foreachBatch lane end-to-end, plus the documented n OVER m
    accuracy contract: with a SMALL candidate bound, a heavy value
    that keeps recurring stays ranked (its cells keep counting and it
    re-enters on every sighting), even while one-off values churn
    through the bounded list."""
    from ramen_spark.streaming.sketch import IncrementalCmsTop, cms_top_stream

    src = tmp_path / "ct_src"
    # each batch: the heavy value 7 appears 5×, plus 20 unique one-offs
    for b in range(4):
        rows = [("k", 7)] * 5 + [("k", 1000 + 20 * b + j) for j in range(20)]
        spark.createDataFrame(rows, "g string, v long").coalesce(1).write.parquet(
            str(src / f"b{b}")
        )
    schema = "g string, v long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = cms_top_stream(
        stream,
        str(tmp_path / "ct_state"),
        str(tmp_path / "ct_ckpt"),
        keys=["g"],
        value_col="v",
        max_candidates=8,  # far below the 81 distinct values
        depth=3,
        width=512,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    inc = IncrementalCmsTop(
        spark, str(tmp_path / "ct_state"), ["g"], "v",
        max_candidates=8, depth=3, width=512,
    )
    top = {r["g"]: r["top"] for r in inc.top(1).collect()}
    assert top == {"k": [7]}  # 20 sightings vs 1 each — rank by est
    # state boundedness: ≤ m candidates, ≤ depth × width cells
    cands = inc.store.latest("cands")
    cells = inc.store.latest("cells")
    assert cands.count() <= 8
    assert cells.count() <= 3 * 512


def test_streaming_weighted_sample_equals_batch_and_replay(spark, tmp_path):
    """Always-on A-ES weighted reservoir (IncrementalWeightedSample):
    N-batch streaming maintenance must equal the batch
    weighted_sample over the concatenated input (set max-n of
    deterministic keys is mergeable), and folding the same batch
    twice must be a no-op (replay idempotence)."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.sampling import weighted_sample
    from ramen_spark.streaming.sketch import (
        IncrementalWeightedSample,
        weighted_sample_stream,
    )

    docs = load_table(spark, SF_SMALL, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    src = tmp_path / "doc_src"
    n_b = 3
    for i in range(n_b):
        docs.filter(F.col("doc_id") % n_b == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = weighted_sample_stream(
        stream,
        str(tmp_path / "ws_state"),
        str(tmp_path / "ckpt"),
        keys=["lang"],
        n=10,
        weight_col="n_chars",
        id_col="doc_id",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    sk = IncrementalWeightedSample(
        spark, str(tmp_path / "ws_state"), ["lang"], 10, "n_chars", "doc_id"
    )
    got = {tuple(r) for r in sk.sample().collect()}
    exp = {
        tuple(r)
        for r in weighted_sample(
            docs, 10, "n_chars", ["lang"], "doc_id"
        ).collect()
    }
    assert got == exp and len(exp) > 0

    # replay: folding an already-seen batch again leaves the state
    # bit-identical (every (skey, id, weight) struct set-dedups)
    sk.update(spark.read.parquet(str(src / "b0")))
    assert {tuple(r) for r in sk.sample().collect()} == got


def test_streaming_kmv_overlap_with(spark, tmp_path):
    """Live overlap between two incremental sketches (and between a
    sketch and a static prune relation) equals batch kmv_overlap over
    the same inputs — the always-on contamination-rate monitor."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.sketch import kmv_overlap, kmv_prune
    from ramen_spark.streaming.sketch import IncrementalKmvSketch

    ev = load_table(spark, SF_SMALL, "events").select("event_type", "user_id")
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    buys = ev.filter(F.col("event_type") == "purchase").drop("event_type")

    a = IncrementalKmvSketch(spark, str(tmp_path / "a"), [], "user_id", k=32)
    b = IncrementalKmvSketch(spark, str(tmp_path / "b"), [], "user_id", k=32)
    # fold each side in two micro-batches
    for i in range(2):
        a.update(clicks.filter(F.col("user_id") % 2 == i))
        b.update(buys.filter(F.col("user_id") % 2 == i))

    got = {tuple(r) for r in a.overlap_with(b).collect()}
    exp = {tuple(r) for r in kmv_overlap(clicks, buys, [], "user_id", 32).collect()}
    assert got == exp
    # static-relation form: the persisted eval-set sketch
    static = kmv_prune(buys, [], "user_id", 32)
    assert {tuple(r) for r in a.overlap_with(static).collect()} == exp
    # mismatched config is a loud error
    c = IncrementalKmvSketch(spark, str(tmp_path / "c"), [], "user_id", k=16)
    import pytest as _pt

    with _pt.raises(ValueError, match="matching keys and k"):
        a.overlap_with(c)


def test_sketch_drift_from_persisted_states(spark, tmp_path):
    """Round-10 agenda #3: the drift report computed PURELY from two
    persisted quantile-sketch states — percentile deltas equal the
    per-side quantile_sketch finalizations, membership churn equals
    kmv_overlap over the raw ID relations (both exact here: k=64 >
    per-group distinct counts), and a drifted group shows a non-zero
    delta + sub-1 retention."""
    from ramen_spark.operators.sketch import (
        kmv_overlap,
        quantile_sketch,
        sketch_drift,
    )
    from ramen_spark.streaming.sketch import IncrementalQuantileSketch

    # snapshot A: values v = i % 40; snapshot B drops a third of A's
    # rows, adds new rows, and shifts g1's distribution upward
    a = spark.createDataFrame(
        [(i, f"g{i % 2}", float(i % 40)) for i in range(120)],
        "rid long, grp string, v double",
    )
    b_rows = [
        (i, f"g{i % 2}", float(i % 40) + (10.0 if i % 2 == 1 else 0.0))
        for i in range(120) if i % 3 != 0
    ] + [
        (1000 + i, f"g{i % 2}", float(i % 40)) for i in range(30)
    ]
    b = spark.createDataFrame(b_rows, "rid long, grp string, v double")

    ska = IncrementalQuantileSketch(
        spark, str(tmp_path / "a"), ["grp"], "v", "rid", k=64
    )
    skb = IncrementalQuantileSketch(
        spark, str(tmp_path / "b"), ["grp"], "v", "rid", k=64
    )
    for i in range(2):  # two micro-batches each — real fold machinery
        ska.update(a.filter(F.col("rid") % 2 == i))
        skb.update(b.filter(F.col("rid") % 2 == i))

    drift = {
        r["grp"]: r
        for r in sketch_drift(
            ska._state(), skb._state(), ["grp"], [0.5, 0.9], 64
        ).collect()
    }
    qa = {r["grp"]: r for r in
          quantile_sketch(a, ["grp"], "v", "rid", [0.5, 0.9], 64).collect()}
    qb = {r["grp"]: r for r in
          quantile_sketch(b, ["grp"], "v", "rid", [0.5, 0.9], 64).collect()}
    ov = {r["grp"]: r for r in
          kmv_overlap(a.withColumnRenamed("grp", "grp_"),
                      b.withColumnRenamed("grp", "grp_"),
                      ["grp_"], "rid", 64)
          .withColumnRenamed("grp_", "grp").collect()}
    for g in ("g0", "g1"):
        d = drift[g]
        assert d["p50_a"] == qa[g]["p50"] and d["p50_b"] == qb[g]["p50"]
        assert d["p90_a"] == qa[g]["p90"] and d["p90_b"] == qb[g]["p90"]
        assert d["p50_delta"] == round(d["p50_b"] - d["p50_a"], 6)
        assert d["est_a"] == ov[g]["est_a"] == 60  # exact: under-full
        assert d["est_b"] == ov[g]["est_b"]
        assert d["jaccard"] == ov[g]["jaccard"]
        assert d["containment_a_in_b"] == ov[g]["containment_a_in_b"]
    # the engineered drift is visible: g1 shifted up, retention < 1
    assert drift["g1"]["p50_delta"] > 0
    assert 0 < drift["g1"]["containment_a_in_b"] < 1

    import pytest

    # k-fidelity: states built at k=64 refuse a k=128 drift query
    with pytest.raises(Exception, match="built with k="):
        sketch_drift(
            ska._state(), skb._state(), ["grp"], [0.5], 128
        ).collect()

    # malformed state fails loudly
    with pytest.raises(ValueError, match="not a quantile sketch state"):
        sketch_drift(a, b, ["grp"], [0.5], 64)


def test_cli_drift_reads_snapshot_roots(spark, tmp_path, capsys):
    """`ramen drift A B --by grp` — the always-on observability
    surface: two BatchStore roots in, one drift report out."""
    from ramen_spark.cli import main
    from ramen_spark.streaming.sketch import IncrementalQuantileSketch

    a = spark.createDataFrame(
        [(i, f"g{i % 2}", float(i)) for i in range(50)],
        "rid long, grp string, v double",
    )
    b = spark.createDataFrame(
        [(i, f"g{i % 2}", float(i) * 2) for i in range(25, 75)],
        "rid long, grp string, v double",
    )
    ska = IncrementalQuantileSketch(
        spark, str(tmp_path / "a"), ["grp"], "v", "rid", k=64
    )
    skb = IncrementalQuantileSketch(
        spark, str(tmp_path / "b"), ["grp"], "v", "rid", k=64
    )
    ska.update(a)
    skb.update(b)
    assert main([
        "drift", str(tmp_path / "a"), str(tmp_path / "b"),
        "--by", "grp", "--k", "64",
    ]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    hdr = out[0].split("\t")
    assert "p50_delta" in hdr and "containment_a_in_b" in hdr
    assert len(out) == 3  # header + g0 + g1


def test_legacy_null_kmv_k_stays_null_after_merge(spark, tmp_path):
    """Round-11 advice: a legacy persisted state (no _kmv_k column)
    unions into a new fold as NULL; min() would SKIP the NULLs and
    stamp the merged sketch as checked at the batch k even though the
    legacy build k is unknown. Any NULL in a group must NULL the
    merged _kmv_k — the sketch stays in documented pass-unchecked
    mode. Groups introduced ONLY by post-legacy batches (no legacy
    rows) keep their exact build k."""
    from ramen_spark.operators.sketch import kmv_prune
    from ramen_spark.streaming.sketch import IncrementalKmvSketch

    legacy_rows = spark.createDataFrame(
        [("a", i) for i in range(50)], "g string, v long"
    )
    # simulate a pre-round-11 snapshot: pruned rows WITHOUT _kmv_k,
    # in that era's one-output layout (parquet directly in v1)
    legacy = kmv_prune(legacy_rows, ["g"], "v", 8).drop("_kmv_k")
    legacy.write.parquet(str(tmp_path / "state" / "v1"))

    sk = IncrementalKmvSketch(spark, str(tmp_path / "state"), ["g"], "v", k=8)
    batch = spark.createDataFrame(
        [("a", 100 + i) for i in range(20)]
        + [("b", 200 + i) for i in range(20)],
        "g string, v long",
    )
    sk.update(batch)

    state = sk.store.latest("state")
    ks = {r["g"]: r["_kmv_k"] for r in
          state.select("g", "_kmv_k").distinct().collect()}
    assert ks["a"] is None      # legacy portion: build k unknown
    assert ks["b"] == 8         # fresh group: exact build k
    # and the state still finalizes (pass-unchecked mode)
    assert sk.estimate().count() == 2


def test_cms_drift_from_persisted_states(spark, tmp_path):
    """Round-11 agenda #4: heavy-hitter churn computed purely from two
    persisted IncrementalCmsTop state pairs. With m ≥ distinct values
    the entered/left/delta report equals ground truth computed from
    exact counts (ranks use the same (est desc, value asc) total
    order, and estimates are exact when no cells collide at this
    tiny domain)."""
    from ramen_spark.streaming.sketch import IncrementalCmsTop

    # snapshot A: u0 dominant, u9 in top-3; snapshot B: u9 gone from
    # the top (shrank), u7 surges in
    rows_a = (
        [("g", 0)] * 30 + [("g", 1)] * 20 + [("g", 9)] * 10 + [("g", 7)] * 1
        + [("h", 5)] * 4
    )
    rows_b = (
        [("g", 0)] * 31 + [("g", 1)] * 22 + [("g", 9)] * 11 + [("g", 7)] * 40
        + [("h", 5)] * 6
    )
    geo = dict(max_candidates=64, depth=4, width=2048)
    ska = IncrementalCmsTop(spark, str(tmp_path / "a"), ["k"], "v", **geo)
    skb = IncrementalCmsTop(spark, str(tmp_path / "b"), ["k"], "v", **geo)
    ska.update(spark.createDataFrame(rows_a, "k string, v long"), batch_id=0)
    for i in range(2):  # B accumulates across two batches
        skb.update(
            spark.createDataFrame(
                rows_b[i::2], "k string, v long"
            ),
            batch_id=i,
        )

    rep = {
        (r["k"], r["value"]): r for r in ska.drift_vs(skb, n=3).collect()
    }
    assert rep[("g", 7)]["top_entered"] and not rep[("g", 7)]["top_left"]
    assert rep[("g", 7)]["weight_delta"] == 39
    assert rep[("g", 9)]["top_left"] and rep[("g", 9)]["rank_b"] is None
    assert rep[("g", 9)]["est_a"] == 10 and rep[("g", 9)]["est_b"] == 11
    assert rep[("g", 0)]["rank_a"] == 1 and rep[("g", 0)]["rank_b"] == 2
    assert rep[("g", 7)]["rank_a"] is None and rep[("g", 7)]["rank_b"] == 1
    assert rep[("h", 5)]["weight_delta"] == 2
    # mismatched geometry fails loudly
    import pytest as _pytest

    skc = IncrementalCmsTop(
        spark, str(tmp_path / "c"), ["k"], "v", max_candidates=64,
        depth=2, width=64,
    )
    with _pytest.raises(ValueError, match="geometry"):
        ska.drift_vs(skc, n=3)


def test_cli_drift_cms_top_mode(spark, tmp_path, capsys):
    """`ramen drift A B --by k --cms-top 3`: the CLI's heavy-hitter
    churn mode over two IncrementalCmsTop roots."""
    from ramen_spark.cli import main
    from ramen_spark.streaming.sketch import IncrementalCmsTop

    geo = dict(max_candidates=32, depth=4, width=2048)
    ska = IncrementalCmsTop(spark, str(tmp_path / "a"), ["k"], "v", **geo)
    skb = IncrementalCmsTop(spark, str(tmp_path / "b"), ["k"], "v", **geo)
    ska.update(
        spark.createDataFrame(
            [("g", 1)] * 5 + [("g", 2)] * 3, "k string, v long"
        ),
        batch_id=0,
    )
    skb.update(
        spark.createDataFrame(
            [("g", 1)] * 2 + [("g", 3)] * 9, "k string, v long"
        ),
        batch_id=0,
    )
    assert main([
        "drift", str(tmp_path / "a"), str(tmp_path / "b"),
        "--by", "k", "--cms-top", "3",
    ]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    hdr = out[0].split("\t")
    assert {"value", "weight_delta", "top_entered", "top_left"} <= set(hdr)
    assert len(out) >= 3


def test_incremental_corpus_mix_equals_batch_v2_chain(spark, tmp_path):
    """Round-11 agenda #8: the v2 MIXING stage always-on. Three
    micro-batches (plus a mid-stream RESTART — a fresh object over the
    same state root — plus a replayed batch) must finalize to exactly
    the batch weighted_sample → token_budget_select chain over the
    concatenated input, for several budgets including boundary 0."""
    from ramen_spark.catalog import load_table
    from ramen_spark.functions import text as Tx
    from ramen_spark.operators.sampling import (
        token_budget_select,
        weighted_sample,
    )
    from ramen_spark.streaming.sketch import IncrementalCorpusMix

    docs = load_table(spark, SF_SMALL, "documents")
    cand = docs.select(
        "doc_id", "lang",
        Tx.token_count(F.col("text")).cast("long").alias("n_tok"),
        F.round(Tx.quality_score(F.col("text")) * 1e6)
        .cast("long").alias("q_micro"),
    )

    args = dict(keys=["lang"], n=10, weight_col="q_micro",
                id_col="doc_id", budget_col="n_tok", seed=42)
    root = str(tmp_path / "mix")
    mix = IncrementalCorpusMix(spark, root, **args)
    mix.update(cand.filter(F.col("doc_id") % 3 == 0))
    mix.update(cand.filter(F.col("doc_id") % 3 == 1))
    mix = IncrementalCorpusMix(spark, root, **args)  # restart
    mix.update(cand.filter(F.col("doc_id") % 3 == 2))
    mix.update(cand.filter(F.col("doc_id") % 3 == 1))  # replay

    samp = weighted_sample(
        cand, n=10, weight_col="q_micro", keys=["lang"], id_col="doc_id",
        seed=42, payload_cols=["n_tok"],
    ).drop("rn")
    for budget in (0, 400, 1_500, 10_000_000):
        got = {
            tuple(r)
            for r in mix.mixed(budget)
            .select("lang", "doc_id", "n_tok", "skey_micro")
            .collect()
        }
        exp = {
            tuple(r)
            for r in token_budget_select(
                samp, budget, "n_tok", "skey_micro", "doc_id",
                keys=["lang"],
            )
            .select("lang", "doc_id", "n_tok", "skey_micro")
            .collect()
        }
        assert got == exp, budget
    # a real budget selects a non-trivial subset
    n_all = mix.sample.sample().count()
    n_sel = mix.mixed(400).count()
    assert 0 < n_sel < n_all


def test_corpus_mix_stream_lane(spark, tmp_path):
    """The foreachBatch lane end-to-end over a file stream."""
    from ramen_spark.catalog import load_table
    from ramen_spark.functions import text as Tx
    from ramen_spark.streaming.sketch import (
        IncrementalCorpusMix,
        corpus_mix_stream,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    cand = docs.select(
        "doc_id", "lang",
        Tx.token_count(F.col("text")).cast("long").alias("n_tok"),
        F.round(Tx.quality_score(F.col("text")) * 1e6)
        .cast("long").alias("q_micro"),
    )
    src = tmp_path / "src"
    for i in range(3):
        cand.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(cand.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = corpus_mix_stream(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        keys=["lang"], n=10, weight_col="q_micro", id_col="doc_id",
        budget_col="n_tok",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    mix = IncrementalCorpusMix(
        spark, str(tmp_path / "state"), keys=["lang"], n=10,
        weight_col="q_micro", id_col="doc_id", budget_col="n_tok",
    )
    sel = mix.mixed(1_500)
    assert sel.count() > 0
    # per-lang budget respected
    sums = sel.groupBy("lang").agg(F.sum("n_tok").alias("s")).collect()
    assert all(r["s"] <= 1_500 for r in sums)


def test_payload_cols_refuse_legacy_state(spark, tmp_path):
    """Review finding: resuming a payload-less reservoir state under
    payload_cols must fail loudly — allowMissingColumns would union
    NULL payloads that defeat replay dedup and read as zero-cost rows
    in downstream budget stages."""
    import pytest as _pytest

    from ramen_spark.streaming.sketch import IncrementalWeightedSample

    rows = spark.createDataFrame(
        [("a", i, 10 + i, 5) for i in range(20)],
        "lang string, doc_id long, q long, n_tok long",
    )
    old = IncrementalWeightedSample(
        spark, str(tmp_path / "s"), ["lang"], 8, "q", "doc_id"
    )
    old.update(rows)

    new = IncrementalWeightedSample(
        spark, str(tmp_path / "s"), ["lang"], 8, "q", "doc_id",
        payload_cols=["n_tok"],
    )
    with _pytest.raises(ValueError, match="payload column"):
        new.update(rows)


def test_cms_geometry_stamp_guards_mismatch(spark, tmp_path):
    """Review finding: CMS states stamp (depth, width); folding,
    querying, or drifting a state at a different geometry errors
    instead of silently producing an all-zero report."""
    import pytest as _pytest

    from ramen_spark.streaming.sketch import IncrementalCmsTop

    rows = spark.createDataFrame(
        [("g", i % 7) for i in range(50)], "k string, v long"
    )
    sk = IncrementalCmsTop(
        spark, str(tmp_path / "a"), ["k"], "v", max_candidates=16,
        depth=4, width=2048,
    )
    sk.update(rows, batch_id=0)

    wrong = IncrementalCmsTop(
        spark, str(tmp_path / "a"), ["k"], "v", max_candidates=16,
        depth=4, width=4096,
    )
    with _pytest.raises(ValueError, match="built at"):
        wrong.update(rows, batch_id=1)
    with _pytest.raises(ValueError, match="built at"):
        wrong.top(3)
    with _pytest.raises(ValueError, match="geometry"):
        sk.drift_vs(wrong, n=3)  # constructor-level geometry check
