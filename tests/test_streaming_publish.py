"""Replay safety of every file-writing foreachBatch lane
(streaming/publish.py). Each case crashes micro-batch 1 right after
one of its parquet writes, restarts the query on the same checkpoint
(Spark replays batch 1 under the same batch id), and compares the
lane's output with the batch oracle as a MULTISET — a replayed batch
must write nothing twice, with no dropDuplicates on the read side."""

from __future__ import annotations

from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@contextmanager
def _crash_after_write(k: int):
    """Let the k-th ``DataFrameWriter.parquet`` call finish, then raise
    once — a process dying between two writes of one micro-batch."""
    real = DataFrameWriter.parquet
    calls = [0]

    def parquet(self, *args, **kwargs):
        real(self, *args, **kwargs)
        calls[0] += 1
        if calls[0] == k:
            raise RuntimeError(f"injected crash after parquet write {k}")

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = real


def _crash_and_restart(spark, tmp_path, batches, start, per_batch, pos):
    """Stream ``batches`` (one micro-batch each) through ``start(stream,
    checkpoint_dir)``; crash batch 1 after its ``pos``-th write
    (``per_batch`` writes each), then run the query again to the end."""
    src = tmp_path / "src"
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(str(src / f"b{i}"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/b*")
        )
        q = start(stream, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    with _crash_after_write(per_batch + pos):
        with pytest.raises(Exception, match="injected crash"):
            run()
    run()


def _split(df, col, n=2):
    return [df.filter(F.col(col) % n == i) for i in range(n)]


def _docs(spark):
    from ramen_spark.catalog import load_table

    return load_table(spark, SF_SMALL, "documents")


def _events(spark):
    from ramen_spark.catalog import load_table

    return load_table(spark, SF_SMALL, "events")


def _pairs(rows, a, b, v):
    return Counter((min(r[a], r[b]), max(r[a], r[b]), r[v]) for r in rows)


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _minhash(spark, root):
    from ramen_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from ramen_spark.streaming.dedup import _banded, incremental_dedup_stream
    from ramen_spark.streaming.publish import BatchStore

    docs = _docs(spark).select("doc_id", "text")
    params = dict(num_hashes=16, bands=8, min_sig_agreement=0.5)

    def sigs(df):
        return Counter((r["doc_id"], tuple(r["sig"])) for r in df.collect())

    def check():
        store = BatchStore(spark, root)
        got = store.union("pairs").collect()
        exp = minhash_lsh_pairs(docs, **params).collect()
        assert _pairs(got, "id_new", "id_old", "est_jaccard") == _pairs(
            exp, "id_a", "id_b", "est_jaccard"
        ) and exp
        # the index itself is an append log: no band or signature twice
        whole = minhash_signatures(docs, "text", "doc_id", 3, 16)
        assert sigs(store.union("sigs")) == sigs(whole)
        assert _rows(store.union("bands")) == _rows(
            _banded(whole, "doc_id", 8, 2)
        )

    return (
        _split(docs, "doc_id"),
        lambda s, ck: incremental_dedup_stream(s, root, ck, **params),
        3,  # bands, sigs, pairs
        check,
    )


def _decontaminate(spark, root):
    from ramen_spark.operators.dedup import decontaminate
    from ramen_spark.streaming.dedup import decontaminate_stream
    from ramen_spark.streaming.publish import BatchStore

    docs = _docs(spark).select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)

    def check():
        got = _rows(BatchStore(spark, root).union("report"))
        assert got == _rows(decontaminate(train, ev)) and got

    return (
        _split(train, "doc_id"),
        lambda s, ck: decontaminate_stream(s, ev, root, ck),
        1,
        check,
    )


def _vector(spark, root):
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.similarity import pairwise_near_dups
    from ramen_spark.streaming.dedup import incremental_vector_dedup_stream
    from ramen_spark.streaming.publish import BatchStore

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )

    def check():
        got = BatchStore(spark, root).union("pairs").collect()
        exp = pairwise_near_dups(emb, threshold=0.2, n_planes=2, dim=64)
        assert _pairs(got, "id_new", "id_old", "sim") == _pairs(
            exp.collect(), "id_a", "id_b", "sim"
        ) and got

    return (
        _split(emb, "vec_id"),
        lambda s, ck: incremental_vector_dedup_stream(
            s, root, ck, dim=64, n_planes=2, threshold=0.2
        ),
        3,  # buckets, vecs, pairs
        check,
    )


def _semantic(spark, root):
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.similarity import (
        kmeans_fit,
        make_hyperplanes,
        semantic_dedup,
    )
    from ramen_spark.streaming.dedup import (
        incremental_semantic_dedup_stream,
        semantic_keep_from_pairs,
    )
    from ramen_spark.streaming.publish import BatchStore

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(emb, n_cells=8, iters=0)

    def check():
        store = BatchStore(spark, root)
        pairs = store.union("pairs")
        cols = ["vec_id", "cell", "centsim", "keep"]
        got = semantic_keep_from_pairs(store.union("vecs"), pairs)
        exp = semantic_dedup(
            emb, cents, tau=0.2, planes=make_hyperplanes(64, 2)
        )
        assert _rows(got.select(cols)) == _rows(exp.select(cols))
        assert set(_rows(pairs).values()) == {1}

    return (
        _split(emb, "vec_id"),
        lambda s, ck: incremental_semantic_dedup_stream(
            s, root, ck, cents, dim=64, n_planes=2, tau=0.2
        ),
        3,  # buckets, vecs, pairs
        check,
    )


def _kmv(spark, root):
    from ramen_spark.operators.sketch import kmv_distinct
    from ramen_spark.streaming.sketch import (
        IncrementalKmvSketch,
        kmv_sketch_stream,
    )

    ev = _events(spark).select("event_type", "user_id")
    args = (["event_type"], "user_id")

    def check():
        got = _rows(IncrementalKmvSketch(spark, root, *args, k=32).estimate())
        assert got == _rows(kmv_distinct(ev, *args, k=32))

    return (
        _split(ev, "user_id"),
        lambda s, ck: kmv_sketch_stream(s, root, ck, *args, k=32),
        1,
        check,
    )


def _quantile(spark, root):
    from ramen_spark.operators.sketch import quantile_sketch
    from ramen_spark.streaming.sketch import (
        IncrementalQuantileSketch,
        quantile_sketch_stream,
    )

    full = spark.createDataFrame(
        [(i, f"g{i % 3}", float((i * 29) % 500)) for i in range(600)],
        "rid long, grp string, v double",
    )
    args, ps = (["grp"], "v", "rid"), [0.5, 0.9]

    def check():
        sk = IncrementalQuantileSketch(spark, root, *args, k=64)
        exp = quantile_sketch(full, *args, ps, k=64)
        assert _rows(sk.estimate(ps)) == _rows(exp)

    return (
        _split(full, "rid"),
        lambda s, ck: quantile_sketch_stream(s, root, ck, *args, k=64),
        1,
        check,
    )


def _weighted_sample(spark, root):
    from ramen_spark.operators.sampling import weighted_sample
    from ramen_spark.streaming.sketch import (
        IncrementalWeightedSample,
        weighted_sample_stream,
    )

    docs = _docs(spark).select("lang", "doc_id", "n_chars")

    def check():
        sk = IncrementalWeightedSample(
            spark, root, ["lang"], 10, "n_chars", "doc_id"
        )
        exp = weighted_sample(docs, 10, "n_chars", ["lang"], "doc_id")
        assert _rows(sk.sample()) == _rows(exp)

    return (
        _split(docs, "doc_id"),
        lambda s, ck: weighted_sample_stream(
            s, root, ck, ["lang"], 10, "n_chars", "doc_id"
        ),
        1,
        check,
    )


def _corpus_mix(spark, root):
    from ramen_spark.functions import text as Tx
    from ramen_spark.operators.sampling import (
        token_budget_select,
        weighted_sample,
    )
    from ramen_spark.streaming.sketch import (
        IncrementalCorpusMix,
        corpus_mix_stream,
    )

    cand = _docs(spark).select(
        "doc_id", "lang",
        Tx.token_count(F.col("text")).cast("long").alias("n_tok"),
        F.round(Tx.quality_score(F.col("text")) * 1e6)
        .cast("long").alias("q_micro"),
    )
    args = dict(keys=["lang"], n=10, weight_col="q_micro",
                id_col="doc_id", budget_col="n_tok")
    cols = ["lang", "doc_id", "n_tok", "skey_micro"]

    def check():
        got = IncrementalCorpusMix(spark, root, **args).mixed(1_500)
        samp = weighted_sample(
            cand, 10, "q_micro", ["lang"], "doc_id", payload_cols=["n_tok"]
        ).drop("rn")
        exp = token_budget_select(
            samp, 1_500, "n_tok", "skey_micro", "doc_id", keys=["lang"]
        )
        assert _rows(got.select(cols)) == _rows(exp.select(cols))

    return (
        _split(cand, "doc_id"),
        lambda s, ck: corpus_mix_stream(s, root, ck, **args),
        1,
        check,
    )


def _cms(spark, root):
    from ramen_spark.operators.sketch import count_min_build
    from ramen_spark.streaming.sketch import (
        IncrementalCmsSketch,
        cms_sketch_stream,
    )

    ev = _events(spark).select("event_type", "user_id")

    def check():
        got = IncrementalCmsSketch(spark, root, "event_type", 3, 64).cells()
        exp = count_min_build(ev, "event_type", 3, 64)
        assert _rows(got) == _rows(exp.select("row", "col", "cnt"))

    return (
        _split(ev, "user_id"),
        lambda s, ck: cms_sketch_stream(s, root, ck, "event_type", 3, 64),
        1,
        check,
    )


def _cms_top(spark, root):
    from ramen_spark.operators.sketch import cms_top
    from ramen_spark.streaming.sketch import IncrementalCmsTop, cms_top_stream

    ev = _events(spark).select("event_type", "user_id")
    args = (["event_type"], "user_id", 64, 3, 256)

    def top(df):
        return Counter((r["event_type"], tuple(r["top"])) for r in df.collect())

    def check():
        got = top(IncrementalCmsTop(spark, root, *args).top(5))
        exp = cms_top(ev, ["event_type"], "user_id", 5, depth=3, width=256)
        assert got == top(exp) and got

    return (
        _split(ev, "user_id"),
        lambda s, ck: cms_top_stream(s, root, ck, *args),
        2,  # cells, cands
        check,
    )


# MinHash at every write position of the batch, the others at their last
_CASES = [(_minhash, pos) for pos in (1, 2, 3)] + [
    (lane, None)
    for lane in (
        _decontaminate, _vector, _semantic, _kmv, _quantile,
        _weighted_sample, _corpus_mix, _cms, _cms_top,
    )
]


@pytest.mark.parametrize(
    "lane,pos", _CASES, ids=[f"{f.__name__[1:]}-{p or 'last'}" for f, p in _CASES]
)
def test_replayed_batch_writes_nothing_twice(spark, tmp_path, lane, pos):
    batches, start, per_batch, check = lane(spark, str(tmp_path / "out"))
    _crash_and_restart(
        spark, tmp_path, batches, start, per_batch, pos or per_batch
    )
    check()


def test_seed_and_earlier_layouts_never_skip_a_batch(spark, tmp_path):
    """A seed publish (no batch id) and a state in the earlier
    one-output layout (Spark's empty ``v{n}/_SUCCESS``) both read as
    the starting content, and neither makes batch 0 look committed."""
    from ramen_spark.streaming.publish import BatchStore

    df = spark.createDataFrame([(1,), (2,)], "x long")
    seeded = BatchStore(spark, str(tmp_path / "log"), append=True)
    seeded.publish(None, lambda: {"a": df})
    assert seeded.publish(0, lambda: {"a": df}) == "v2"
    assert seeded.publish(0, lambda: {"a": df}) is None
    assert seeded.union("a").count() == 4

    df.write.parquet(str(tmp_path / "old" / "v7"))
    old = BatchStore(spark, str(tmp_path / "old"))
    assert old.latest("state").count() == 2
    assert old.publish(0, lambda: {"state": df.union(df)}) == "v8"
    assert old.latest("state").count() == 4
