"""Always-on incremental dedup parity (VERDICT r5 #3 / r6 #4).

The streaming lane (streaming/dedup.py) must emit, over any
micro-batch split of a corpus, exactly the batch operator's pairs:

- unseeded, whole corpus streamed → ``minhash_lsh_pairs(docs)`` as an
  unordered pair set;
- seeded with a retained corpus, stream = fresh snapshot →
  ``minhash_lsh_pairs_between(new, old)`` plus the fresh snapshot's
  own self-pairs.

Both checks are value-level (est_jaccard rides along), on the sf0.001
documents table, 4 files → 4 micro-batches via maxFilesPerTrigger=1.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

PARAMS = dict(num_hashes=16, bands=8, min_sig_agreement=0.5)


def _unordered(df, a, b):
    return {
        (min(r[a], r[b]), max(r[a], r[b]), r["est_jaccard"])
        for r in df.collect()
    }


def _run_stream(spark, docs, tmp_path, n_batches, seed=None):
    from ramen_spark.streaming.dedup import (
        IncrementalDedupIndex,
        incremental_dedup_stream,
    )
    from ramen_spark.streaming.publish import BatchStore

    src = tmp_path / "stream_src"
    for i in range(n_batches):
        docs.filter(F.col("doc_id") % n_batches == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    index_dir = str(tmp_path / "index")
    if seed is not None:
        IncrementalDedupIndex(spark, index_dir, **{
            k: PARAMS[k] for k in ("num_hashes", "bands")
        }).append(seed)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = incremental_dedup_stream(
        stream,
        index_dir,
        str(tmp_path / "ckpt"),
        **PARAMS,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return BatchStore(spark, index_dir).union("pairs")


def test_streaming_equals_batch_self_dedup(spark, tmp_path):
    """4-micro-batch streaming run over the whole corpus emits
    exactly the batch self-dedup's pairs, value for value."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    got = _unordered(
        _run_stream(spark, docs, tmp_path, n_batches=4), "id_new", "id_old"
    )
    exp = _unordered(minhash_lsh_pairs(docs, **PARAMS), "id_a", "id_b")
    assert got == exp and len(exp) > 0


def test_streaming_seeded_equals_between_plus_self(spark, tmp_path):
    """Seeded with the retained corpus (even ids), streaming the
    fresh snapshot (odd ids) emits exactly between(new, old) plus the
    snapshot's own self-pairs — the incremental crawl-dedup contract.
    Splitting new docs on doc_id % 3 misaligns batch boundaries with
    id order, so pairs where the NEW doc has the smaller id are
    exercised (the id-order trap a seeded index hits)."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_between,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    got = _unordered(
        _run_stream(spark, new, tmp_path, n_batches=3, seed=old),
        "id_new",
        "id_old",
    )
    exp = _unordered(
        minhash_lsh_pairs_between(new, old, **PARAMS), "id_new", "id_old"
    ) | _unordered(minhash_lsh_pairs(new, **PARAMS), "id_a", "id_b")
    assert got == exp and len(exp) > 0


def test_streaming_exact_dedup_first_arrival(spark, tmp_path):
    """State-store exact dedup: streamed in id order (3 micro-batches
    of ascending id ranges), the kept (fp, doc_id) set equals the
    batch operator's (fp, keep_id) exactly; a re-sent duplicate batch
    adds nothing (cross-batch state)."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.dedup import exact_dedup
    from ramen_spark.streaming.dedup import exact_dedup_stream

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    n = docs.count()
    src = tmp_path / "src"
    # ascending id ranges -> arrival order == id order (parity setup);
    # batch 3 re-sends batch 0's rows to exercise cross-batch state
    bounds = [0, n // 3, 2 * n // 3, n]
    ids = [r["doc_id"] for r in docs.select("doc_id").orderBy("doc_id").collect()]
    for i in range(3):
        lo, hi = ids[bounds[i]], ids[bounds[i + 1] - 1]
        docs.filter(F.col("doc_id").between(lo, hi)).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    docs.filter(F.col("doc_id") <= ids[bounds[1] - 1]).coalesce(1).write.parquet(
        str(src / "b3_resend")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        exact_dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["fp"], r["doc_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        (r["fp"], r["keep_id"]) for r in exact_dedup(docs).collect()
    }
    assert got == exp and len(exp) > 0


def test_streaming_decontaminate_equals_batch(spark, tmp_path):
    """Always-on decontamination over 3 micro-batches emits exactly
    the batch operator's per-doc report (rows are doc-independent, so
    the split is invisible); the eval shingle set is computed once."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.dedup import decontaminate
    from ramen_spark.streaming.dedup import decontaminate_stream
    from ramen_spark.streaming.publish import BatchStore

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    src = tmp_path / "src"
    for i in range(3):
        train.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    out_dir = str(tmp_path / "out")
    q = decontaminate_stream(
        stream, ev, out_dir, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        tuple(r)
        for r in BatchStore(spark, out_dir).union("report").collect()
    }
    exp = {tuple(r) for r in decontaminate(train, ev).collect()}
    assert got == exp and len(exp) > 0


def test_streaming_vector_dedup_equals_batch(spark, tmp_path):
    """The embedding lane's contract: a 3-micro-batch streaming run
    over the whole vector corpus emits exactly the batch
    pairwise_near_dups pairs (same planes), value for value. Low
    threshold + 2 planes so the sf0.001 corpus (no planted near-dups)
    still yields a non-empty pair set."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.similarity import pairwise_near_dups
    from ramen_spark.streaming.dedup import incremental_vector_dedup_stream
    from ramen_spark.streaming.publish import BatchStore

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )
    src = tmp_path / "vec_src"
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = incremental_vector_dedup_stream(
        stream,
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        dim=64,
        n_planes=2,
        threshold=0.2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (min(r["id_new"], r["id_old"]), max(r["id_new"], r["id_old"]), r["sim"])
        for r in BatchStore(spark, str(tmp_path / "index"))
        .union("pairs")
        .collect()
    }
    exp = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in pairwise_near_dups(
            emb, threshold=0.2, n_planes=2, dim=64
        ).collect()
    }
    assert got == exp and len(exp) > 0


def test_streaming_semantic_dedup_equals_batch(spark, tmp_path):
    """The SemDeDup lane's contract: a 3-micro-batch streaming run
    over the whole embedding corpus, with the quantizer (centroids +
    planes) pinned up front, must reproduce the batch
    semantic_dedup(..., planes=...) output row for row — (vec_id,
    cell, centsim, keep) — when the keep rule is evaluated over the
    accumulated pair set. Low tau + 2 planes so the sf0.001 corpus
    (no planted near-dups) still exercises both keep outcomes."""
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
    src = tmp_path / "sem_src"
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = incremental_semantic_dedup_stream(
        stream,
        str(tmp_path / "sem_index"),
        str(tmp_path / "sem_ckpt"),
        cents,
        dim=64,
        n_planes=2,
        tau=0.2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store = BatchStore(spark, str(tmp_path / "sem_index"))
    idx_vecs = store.union("vecs")
    pairs = store.union("pairs")
    got = {
        (r["vec_id"], r["cell"], r["centsim"], r["keep"])
        for r in semantic_keep_from_pairs(idx_vecs, pairs).collect()
    }
    exp = {
        (r["vec_id"], r["cell"], r["centsim"], r["keep"])
        for r in semantic_dedup(
            emb, cents, tau=0.2, planes=make_hyperplanes(64, 2)
        ).collect()
    }
    assert got == exp and len(exp) > 0
    # both keep outcomes must actually occur, or the parity is vacuous
    assert {k for *_x, k in got} == {True, False}


def test_trained_scorer_streams_rowlocal(spark, tmp_path):
    """Frozen-model scoring is row-local, so it must run UNCHANGED as
    a Structured Streaming transformation: train on the batch corpus,
    score a 3-micro-batch stream of the same docs, get exactly the
    batch scores (the always-on deployment mode of the learned
    quality gate)."""
    from ramen_spark.catalog import load_table
    from ramen_spark.operators.classify import (
        score_quality,
        train_quality_classifier,
    )

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "text", "lang"
    )
    wts = train_quality_classifier(docs, F.col("lang") == "en", iters=4)
    exp = {
        r["doc_id"]: r["quality_prob"]
        for r in score_quality(docs, wts).collect()
    }

    src = tmp_path / "docs_src"
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    out = tmp_path / "scored"
    q = (
        score_quality(stream, wts)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: r["quality_prob"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_curation_equals_batch(spark, tmp_path):
    """The composed curation stage (PII redact → blocklist →
    line-quality correction → repetition gate) is stateless, so the
    3-micro-batch stream must equal the batch run row-for-row —
    including docs DROPPED by the blocklist and the gates."""
    from ramen_spark.catalog import load_table
    from ramen_spark.streaming.curation import curate, curation_stream

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text", "source")
        .withColumn(
            "url",
            F.concat(
                F.lit("https://w."),
                F.col("source"),
                F.lit(".test/p"),
            ),
        )
        # plant multi-line structure + boilerplate so the gates bite
        .withColumn(
            "text",
            F.concat(
                F.replace(F.col("text"), F.lit(" a "), F.lit("\n")),
                F.when(
                    F.col("doc_id") % 4 == 0,
                    F.lit("\n- nav\n- nav\nmail x@y.test"),
                ).otherwise(F.lit("")),
            ),
        )
    )
    bl = ["src2.test"]
    exp = {
        tuple(r)
        for r in curate(docs, blocklist=bl, url_col="url").collect()
    }
    assert 0 < len(exp) < docs.count()  # both gates and survivors real

    src = tmp_path / "src"
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    out = tmp_path / "curated"
    q = curation_stream(
        stream,
        str(out),
        str(tmp_path / "ckpt"),
        blocklist=bl,
        url_col="url",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.read.parquet(str(out)).collect()}
    assert got == exp
