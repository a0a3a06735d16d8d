"""Always-on incremental near-dup detection.

The reference runs every operator as a long-lived worker
(``/root/reference/src/RamenSupervisor.ml`` — programs are supervised
processes consuming unbounded streams); this lane gives the
MinHash/LSH dedup family the same always-on mode on Structured
Streaming: documents arrive in micro-batches, a PERSISTED banded
index accretes one append per batch, and every batch emits its
near-dup pairs against everything that arrived before it (plus any
seeded retained corpus).

Exactness: per batch we probe the batch against the published index
PLUS the batch's own rows, keeping a candidate unless its partner sits
in the same batch with the larger id (same-batch pairs emit once,
pairs against anything indexed earlier always emit — ids carry no
arrival-order guarantee). The batch's index rows and its pairs are
then published as ONE ``streaming/publish.py`` ``BatchStore`` version
under the index directory, so a crashed and replayed micro-batch
writes neither twice (read the pairs with ``BatchStore.union``). Over
any batch split of a corpus the union of emissions equals the BATCH
operator ``minhash_lsh_pairs`` on the whole corpus as an unordered
pair set, hash for hash; seeded with a retained corpus, it equals
``minhash_lsh_pairs_between(stream, seed)`` plus the stream's own
self-pairs. The parity test (tests/test_streaming_dedup.py) checks
both set equalities.

100 TB shape: the index carries (bucket, doc_id) postings and
(doc_id, sig) signatures — never text. Each probe is a band-bucket
equi-join of the SMALL batch against the index; on a real deployment
the index lives bucket-partitioned (or as a bucketed table,
sources/bucketed.py) so the probe prunes to the buckets the batch
touches instead of re-scanning the index — the append-only layout
here keeps files immutable (one directory per batch), so partition
pruning composes with it.
Signature re-attach joins are id-keyed; the batch side is broadcast-
sized by construction (one micro-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ramen_spark.operators.dedup import minhash_signatures
from ramen_spark.functions import text as Tx
from ramen_spark.streaming.publish import BatchStore, start_lane


def _banded(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    return sigs.select(
        F.col(id_col),
        F.explode(Tx.lsh_bands(F.col("sig"), bands, rows_per_band)).alias(
            "bucket"
        ),
    )


class _IncrementalIndex:
    """A persisted near-dup index: an append-log BatchStore under
    ``index_dir`` whose versions each hold one batch's index relations
    (``_index``) and, for a stream batch, its near-dup ``pairs``.
    Subclasses give ``_prepared`` (docs → the rows the index is built
    from), ``_index`` and ``probe``."""

    def __init__(self, spark: SparkSession, index_dir: str, id_col: str):
        self.id_col = id_col
        self.store = BatchStore(spark, index_dir, append=True)

    def _materialized(self, docs: DataFrame) -> DataFrame:
        # ONCE: the prepared rows feed every index write and the probe
        return self._prepared(docs).localCheckpoint(eager=True)

    def append(self, docs: DataFrame) -> None:
        """Index a seed corpus (e.g. the retained crawl): published
        with no batch id, so it never marks a stream batch done."""
        self.store.publish(None, lambda: self._index(self._materialized(docs)))

    def update(self, batch_df: DataFrame, batch_id: int, threshold: float):
        """Fold one micro-batch: its index rows and its pairs against
        everything indexed before it, published together."""

        def outputs() -> dict[str, DataFrame]:
            prepared = self._materialized(batch_df)
            pairs = self.probe(prepared, threshold)
            return {**self._index(prepared), "pairs": pairs}

        self.store.publish(batch_id, outputs)

    def _with_batch(self, prepared: DataFrame) -> dict[str, DataFrame]:
        """Each index relation as published PLUS the batch's own rows:
        the probe must see its own batch, which publishes with it."""
        out = {}
        for name, rows in self._index(prepared).items():
            done = self.store.union(name)
            out[name] = rows if done is None else done.unionByName(rows)
        return out

    def _single_emission(self, cand: DataFrame, prepared: DataFrame):
        """Distinct (id_new, id_old, …) candidates, minus those whose
        partner is in the SAME batch with ``id_old >= id_new``:
        same-batch unordered pairs emit exactly once (and self-pairs
        never), while pairs against earlier arrivals always emit,
        regardless of id order (doc ids carry no arrival-order
        guarantee — a seeded retained corpus can hold ids above the
        stream's)."""
        in_batch = prepared.select(
            F.col(self.id_col).alias("id_old"), F.lit(True).alias("_in_batch")
        )
        return (
            cand.dropDuplicates(["id_new", "id_old"])
            .join(in_batch, "id_old", "left")
            .filter(
                ~(
                    F.coalesce(F.col("_in_batch"), F.lit(False))
                    & (F.col("id_old") >= F.col("id_new"))
                )
            )
            .drop("_in_batch")
        )


class IncrementalDedupIndex(_IncrementalIndex):
    """The persisted banded index: ``bands`` (bucket, doc_id) and
    ``sigs`` (doc_id, sig) in an append-log BatchStore. Seed it with a
    retained corpus via :meth:`append`, then let the streaming lane
    fold each micro-batch."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        shingle_k: int = 3,
        num_hashes: int = 16,
        bands: int = 8,
    ) -> None:
        if num_hashes % bands:
            raise ValueError("bands must divide num_hashes")
        super().__init__(spark, index_dir, id_col)
        self.text_col = text_col
        self.shingle_k = shingle_k
        self.num_hashes = num_hashes
        self.bands = bands
        self.rows_per_band = num_hashes // bands

    def _prepared(self, docs: DataFrame) -> DataFrame:
        return minhash_signatures(
            docs,
            self.text_col,
            self.id_col,
            self.shingle_k,
            self.num_hashes,
        )

    def _index(self, sigs: DataFrame) -> dict[str, DataFrame]:
        return {
            "bands": _banded(sigs, self.id_col, self.bands, self.rows_per_band),
            "sigs": sigs,
        }

    def probe(self, batch_sigs: DataFrame, min_sig_agreement: float) -> DataFrame:
        """Near-dup pairs of the batch against the WHOLE index, the
        batch included, under the single-emission rule."""
        idx = self._with_batch(batch_sigs)
        batch_bands = _banded(
            batch_sigs, self.id_col, self.bands, self.rows_per_band
        ).select(F.col(self.id_col).alias("id_new"), "bucket")
        cand = self._single_emission(
            batch_bands.join(
                idx["bands"].select(
                    F.col(self.id_col).alias("id_old"), "bucket"
                ),
                "bucket",
            ).select("id_new", "id_old"),
            batch_sigs,
        )
        pairs = cand.join(
            batch_sigs.select(
                F.col(self.id_col).alias("id_new"),
                F.col("sig").alias("sig_new"),
            ),
            "id_new",
        ).join(
            idx["sigs"].select(
                F.col(self.id_col).alias("id_old"),
                F.col("sig").alias("sig_old"),
            ),
            "id_old",
        )
        agree = F.size(
            F.filter(
                F.zip_with(
                    F.col("sig_new"),
                    F.col("sig_old"),
                    lambda x, y: (x == y).cast("int"),
                ),
                lambda v: v == 1,
            )
        )
        return (
            pairs.withColumn(
                "est_jaccard",
                agree.cast("double") / F.lit(float(self.num_hashes)),
            )
            .filter(F.col("est_jaccard") >= min_sig_agreement)
            .select("id_new", "id_old", "est_jaccard")
        )


def exact_dedup_stream(
    doc_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Always-on EXACT dedup: first-arrival doc per content
    fingerprint, as a native stateful streaming operator —
    ``dropDuplicates`` on the 32-byte md5 fingerprint, backed by the
    session's RocksDB state store (off-heap, so fingerprint state
    survives high cardinality; the batch twin is
    ``operators.dedup.exact_dedup``).

    Semantics delta vs batch, stated: batch keeps the LOWEST id per
    fingerprint; a stream cannot know a lower id arrives later, so
    this keeps the FIRST ARRIVAL — identical keep-sets whenever
    arrival order follows id order (the parity test's setup), the
    honest streaming semantics otherwise. State grows with distinct
    fingerprints — for bounded retention swap in
    ``dropDuplicatesWithinWatermark`` once an event-time column and
    dedup horizon exist; global exact dedup inherently remembers
    everything it has kept."""
    return doc_stream.select(
        F.col(id_col), Tx.fingerprint(F.col(text_col)).alias("fp")
    ).dropDuplicates(["fp"])


def decontaminate_stream(
    doc_stream: DataFrame,
    eval_df: DataFrame,
    pairs_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    min_overlap: int = 1,
):
    """Always-on train/eval decontamination: each micro-batch of
    training documents is flagged against the eval corpus and the
    per-doc report published as the ``report`` output of an
    append-log BatchStore at ``pairs_dir``. The eval side's distinct
    shingle set is computed and materialized ONCE at query start (it
    is static), so per-batch cost is the batch's own shingling plus
    the broadcast-able shingle join — not a re-shingle of the eval
    corpus per trigger. Returns the started StreamingQuery.

    Per-doc rows are independent, so the emission over any batch split
    equals the batch operator row-for-row (parity test)."""
    from ramen_spark.operators.dedup import decontaminate

    # precompute once; localCheckpoint pins it on the executors for
    # every micro-batch's join
    toks = eval_df.select(
        F.split(Tx.normalized_text(F.col(text_col)), " ").alias("_toks")
    )
    eval_shingles = (
        toks.select(
            F.explode(
                Tx.word_shingles_of_tokens(F.col("_toks"), shingle_k)
            ).alias("_s")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        report = decontaminate(
            batch_df, None, text_col, id_col, shingle_k, min_overlap,
            eval_shingles=eval_shingles,
        )
        BatchStore(batch_df.sparkSession, pairs_dir, append=True).publish(
            batch_id, lambda: {"report": report}
        )

    return start_lane(doc_stream, checkpoint_dir, process)


def incremental_dedup_stream(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_sig_agreement: float = 0.5,
):
    """Run the incremental dedup always-on: each micro-batch of
    ``doc_stream`` is indexed and probed, and its near-dup pairs are
    published with its index rows (read them with
    ``BatchStore(spark, index_dir).union("pairs")``). Returns the
    started StreamingQuery.

    A publish lane rather than a stateful operator on purpose: the
    banded index must outlive the query (it IS the product — the
    snapshot index the batch operators join against), must be readable
    by concurrent batch jobs, and grows unbounded — none of which fits
    the state store."""
    return start_lane(
        doc_stream,
        checkpoint_dir,
        lambda df, b: IncrementalDedupIndex(
            df.sparkSession,
            index_dir,
            text_col=text_col,
            id_col=id_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            bands=bands,
        ).update(df, b, min_sig_agreement),
    )


class IncrementalVectorIndex(_IncrementalIndex):
    """The embedding twin of :class:`IncrementalDedupIndex`: a
    persisted hyperplane-bucket index — ``buckets`` (bucket, vec_id)
    and ``vecs`` (vec_id, _v, _n) in an append-log BatchStore. The
    planes are seeded at construction and must stay FIXED for the
    index lifetime (a re-seeded probe would
    bucket the same vector differently); occupancy therefore can't
    adapt to corpus growth the way batch pairwise_near_dups does —
    pick ``n_planes`` for the corpus you expect, or re-index.

    100 TB shape: identical to the text lane — the index carries ids,
    buckets, and (dim+1) doubles per vector, never anything bigger;
    each probe is a bucket equi-join of the SMALL batch against the
    index, partition-prunable when the index is stored bucketed."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        dim: int = 64,
        n_planes: int = 6,
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        from ramen_spark.operators.similarity import make_hyperplanes

        super().__init__(spark, index_dir, id_col)
        self.vec_col = vec_col
        self.planes = make_hyperplanes(dim, n_planes, seed)

    def _prepared(self, vecs: DataFrame) -> DataFrame:
        from ramen_spark.functions import vectors as V
        from ramen_spark.operators.similarity import _as_double

        return vecs.select(
            F.col(self.id_col),
            _as_double(self.vec_col).alias("_v"),
            V.lsh_bucket(F.col(self.vec_col), self.planes).alias("bucket"),
        ).withColumn("_n", V.norm2(F.col("_v")))

    def _index(self, prepared: DataFrame) -> dict[str, DataFrame]:
        return {
            "buckets": prepared.select("bucket", self.id_col),
            "vecs": prepared.select(self.id_col, "_v", "_n"),
        }

    def probe(self, batch: DataFrame, threshold: float) -> DataFrame:
        """Exact-cosine near-dup pairs of the batch against the whole
        index, the batch included, under the text lane's
        single-emission rule."""
        from ramen_spark.operators.similarity import _sim_prenorm

        idx = self._with_batch(batch)
        cand = self._single_emission(
            batch.select(F.col(self.id_col).alias("id_new"), "bucket")
            .join(
                idx["buckets"].select(
                    F.col(self.id_col).alias("id_old"), "bucket"
                ),
                "bucket",
            )
            .select("id_new", "id_old"),
            batch,
        )
        pairs = cand.join(
            batch.select(
                F.col(self.id_col).alias("id_new"),
                F.col("_v").alias("_nv"),
                F.col("_n").alias("_nn"),
            ),
            "id_new",
        ).join(
            idx["vecs"].select(
                F.col(self.id_col).alias("id_old"),
                F.col("_v").alias("_ov"),
                F.col("_n").alias("_on"),
            ),
            "id_old",
        )
        return (
            pairs.withColumn(
                "sim", F.round(_sim_prenorm("_nv", "_ov", "_nn", "_on"), 6)
            )
            .filter(F.col("sim") >= threshold)
            .select("id_new", "id_old", "sim")
        )


class IncrementalSemanticIndex(_IncrementalIndex):
    """The SemDeDup twin of :class:`IncrementalVectorIndex` (round-7
    verdict #9): a persisted (cell, bucket) index keyed exactly like
    ``semantic_dedup``'s scale path — coarse-quantizer cell from FIXED
    centroids plus the hyperplane LSH bucket — so the always-on lane
    makes the same candidate restriction as the batch operator and
    inherits its parity. Centroids and planes are pinned at
    construction (the ``IncrementalVectorIndex`` rule: a re-seeded or
    re-fit probe would assign the same vector differently; re-index to
    change them — at 100 TB the quantizer is versioned corpus
    metadata, not per-batch state).

    ``buckets`` holds (cell, bucket, vec_id); ``vecs`` holds (vec_id,
    cell, centsim, _v, _n). Each probe is a
    (cell, bucket) equi-join of the SMALL batch against the index —
    partition-prunable when the index is stored bucketed by cell."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        centroids: list[list[float]],
        dim: int = 64,
        n_planes: int = 6,
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        from ramen_spark.operators.similarity import make_hyperplanes

        super().__init__(spark, index_dir, id_col)
        self.centroids = centroids
        self.planes = make_hyperplanes(dim, n_planes, seed)
        self.vec_col = vec_col

    def _prepared(self, vecs: DataFrame) -> DataFrame:
        from ramen_spark.functions import vectors as V
        from ramen_spark.operators.similarity import (
            _as_double,
            _centroid_literal,
            _nearest_cell,
        )

        cents = _centroid_literal(self.centroids)
        return (
            vecs.select(
                F.col(self.id_col),
                _as_double(self.vec_col).alias("_v"),
                _nearest_cell(_as_double(self.vec_col), self.centroids).alias(
                    "cell"
                ),
                V.norm2(F.col(self.vec_col)).alias("_n"),
                V.lsh_bucket(F.col(self.vec_col), self.planes).alias(
                    "bucket"
                ),
            )
            .withColumn(
                "centsim",
                F.round(
                    V.dot(F.element_at(cents, F.col("cell") + 1), F.col("_v"))
                    / F.col("_n"),
                    6,
                ),
            )
        )

    def _index(self, prepared: DataFrame) -> dict[str, DataFrame]:
        return {
            "buckets": prepared.select("cell", "bucket", self.id_col),
            "vecs": prepared.select(
                self.id_col, "cell", "centsim", "_v", "_n"
            ),
        }

    def probe(self, batch: DataFrame, tau: float) -> DataFrame:
        """Same-(cell, bucket) cosine ≥ tau pairs of the batch against
        the whole index, the batch included, with the single-emission
        rule of the other lanes. Emits BOTH centroid similarities so
        the SemDeDup keep rule can be evaluated over the cumulative
        pair set (``semantic_keep_from_pairs``)."""
        from ramen_spark.operators.similarity import _sim_prenorm

        idx = self._with_batch(batch)
        cand = self._single_emission(
            batch.select(F.col(self.id_col).alias("id_new"), "cell", "bucket")
            .join(
                idx["buckets"].select(
                    F.col(self.id_col).alias("id_old"), "cell", "bucket"
                ),
                ["cell", "bucket"],
            )
            .select("id_new", "id_old", "cell"),
            batch,
        )
        pairs = cand.join(
            batch.select(
                F.col(self.id_col).alias("id_new"),
                F.col("centsim").alias("cs_new"),
                F.col("_v").alias("_nv"),
                F.col("_n").alias("_nn"),
            ),
            "id_new",
        ).join(
            idx["vecs"].select(
                F.col(self.id_col).alias("id_old"),
                F.col("centsim").alias("cs_old"),
                F.col("_v").alias("_ov"),
                F.col("_n").alias("_on"),
            ),
            "id_old",
        )
        return (
            pairs.withColumn(
                "sim", F.round(_sim_prenorm("_nv", "_ov", "_nn", "_on"), 6)
            )
            .filter(F.col("sim") >= tau)
            .select("id_new", "id_old", "cell", "sim", "cs_new", "cs_old")
        )


def semantic_keep_from_pairs(
    index_vecs: DataFrame, pairs: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Evaluate SemDeDup's keep-the-outlier rule over the CUMULATIVE
    streamed pair set: a vector loses iff some tau-partner has
    (centsim asc, id asc) priority over it — exactly
    ``semantic_dedup``'s one-shot greedy prune, so on the same
    centroids/planes/tau the result matches the batch operator row
    for row (the parity test's contract). ``index_vecs`` and ``pairs``
    are the lane's ``vecs`` and ``pairs`` logs
    (``BatchStore.union``); only ids and two rounded doubles ride the
    shuffle."""
    both = pairs.select(
        F.col("id_new").alias("_id"),
        F.col("cs_new").alias("_cs"),
        F.col("id_old").alias("_pid"),
        F.col("cs_old").alias("_pcs"),
    ).unionByName(
        pairs.select(
            F.col("id_old").alias("_id"),
            F.col("cs_old").alias("_cs"),
            F.col("id_new").alias("_pid"),
            F.col("cs_new").alias("_pcs"),
        )
    )
    losers = (
        both.filter(
            (F.col("_pcs") < F.col("_cs"))
            | ((F.col("_pcs") == F.col("_cs")) & (F.col("_pid") < F.col("_id")))
        )
        .select(F.col("_id").alias(id_col))
        .distinct()
        .withColumn("_lost", F.lit(True))
    )
    return index_vecs.select(id_col, "cell", "centsim").join(
        losers, id_col, "left"
    ).select(
        id_col,
        "cell",
        "centsim",
        F.coalesce(~F.col("_lost"), F.lit(True)).alias("keep"),
    )


def incremental_semantic_dedup_stream(
    vec_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    tau: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Always-on SemDeDup: each micro-batch of embeddings is assigned
    to its (fixed-quantizer) cell, indexed, probed against everything
    that arrived before it, and its tau-pairs published with its index
    rows; ``semantic_keep_from_pairs`` over the accumulated pairs +
    index reproduces the batch ``semantic_dedup`` keep set on the same
    centroids/planes (pinned by
    test_streaming_semantic_dedup_equals_batch)."""
    return start_lane(
        vec_stream,
        checkpoint_dir,
        lambda df, b: IncrementalSemanticIndex(
            df.sparkSession,
            index_dir,
            centroids,
            dim=dim,
            n_planes=n_planes,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
        ).update(df, b, tau),
    )


def incremental_vector_dedup_stream(
    vec_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Always-on embedding near-dup detection: each micro-batch of
    vectors is indexed, probed against everything that arrived before
    it, and its pairs published with its index rows. Union of
    emissions over any batch split == batch ``pairwise_near_dups`` with
    the same planes, value for value (the parity test's contract)."""
    return start_lane(
        vec_stream,
        checkpoint_dir,
        lambda df, b: IncrementalVectorIndex(
            df.sparkSession,
            index_dir,
            dim=dim,
            n_planes=n_planes,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
        ).update(df, b, threshold),
    )
