"""Always-on sketch maintenance — the streaming twins of
operators/sketch.py, on the same contract as the incremental dedup
lanes (streaming/dedup.py): a persisted, batch-readable artifact that
each micro-batch folds into, with N-batch ≡ batch parity pinned by
test.

Every lane's state is a snapshot in a ``streaming/publish.py``
``BatchStore``: one executor-side write per fold, no collect at any
state size, and a replayed micro-batch is skipped by its batch id (the
crash matrix is in that module's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ramen_spark.operators.sketch import (
    count_min_build,
    kmv_finalize,
    kmv_prune,
    quantile_finalize,
    quantile_prune,
)
from ramen_spark.streaming.publish import BatchStore, start_lane


def _merged_kmv_k() -> F.Column:
    """Merged build-k of a state ∪ batch union. A NULL ``_kmv_k``
    marks pre-round-11 'unchecked legacy' rows whose build k is
    UNKNOWN; ``F.min`` alone would skip the NULLs and stamp the merged
    sketch as checked at the batch k even though the legacy portion
    may have been built with a smaller k (round-11 advice). Any NULL
    in the group ⇒ the merged ``_kmv_k`` stays NULL — the sketch
    remains in documented pass-unchecked mode until a fresh rebuild."""
    return F.when(
        F.count(F.lit(1)) == F.count("_kmv_k"), F.min("_kmv_k")
    ).alias("_kmv_k")


class _SnapshotLane:
    """A sketch lane: its state is a BatchStore snapshot under
    ``state_dir`` that ``update`` folds one micro-batch into.
    Subclasses give ``_fold`` (batch → {output name: DataFrame})."""

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.state_dir = state_dir.rstrip("/")
        self.store = BatchStore(spark, self.state_dir)

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        self.store.publish(batch_id, lambda: self._fold(batch_df))


class _IncrementalMinKBase(_SnapshotLane):
    """Shared fold machinery for min-k-shaped persisted sketches
    (KMV distinct, bottom-k quantile sample): a micro-batch is pruned,
    unioned with the persisted state, re-pruned to the bound, and
    committed as the next snapshot. Min-k over a multiset/set is
    associative, commutative, and IDEMPOTENT — any batch split and
    any replay yields the state of the concatenated input.

    Persistence is a BatchStore snapshot: one executor-side write per
    fold, NO collect at any state size (state is ≤ k rows per key but
    the number of KEYS is unbounded — a per-URL-host sketch at 10M
    hosts × k=64 must never visit the driver).

    Subclasses provide ``_prune_batch`` (micro-batch → sketch rows)
    and ``_reprune`` (merged sketch rows → re-bounded sketch rows)."""

    def _prune_batch(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _reprune(self, merged: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _state(self) -> DataFrame | None:
        return self.store.latest("state")

    def _check_state_compat(self, state: DataFrame) -> None:
        """Hook: subclasses veto resuming from an incompatible
        persisted state (loudly, before any union)."""

    def _fold(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        pruned = self._prune_batch(batch_df)
        state = self._state()
        if state is not None:
            self._check_state_compat(state)
        # allowMissingColumns: a pre-round-11 persisted state has no
        # _kmv_k metadata column — it unions as NULL (the k guard
        # treats NULL as unchecked-legacy) instead of failing resume
        merged = (
            pruned
            if state is None
            else state.unionByName(pruned, allowMissingColumns=True)
        )
        return {"state": self._reprune(merged)}


class IncrementalKmvSketch(_IncrementalMinKBase):
    """Persisted KMV distinct sketch: ``state_dir`` holds the pruned
    (keys…, _h) rows — ≤ k per key. ``estimate`` finalizes to
    (keys…, n_kept, kth_min, est_distinct), identical to batch
    ``kmv_distinct`` over everything seen. Persistence: see
    :class:`_IncrementalMinKBase`."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        value_col: str,
        k: int = 64,
    ) -> None:
        if k < 2:
            raise ValueError("IncrementalKmvSketch needs k >= 2")
        super().__init__(spark, state_dir)
        self.keys = list(keys)
        self.value_col = value_col
        self.k = k

    def _prune_batch(self, batch_df: DataFrame) -> DataFrame:
        return kmv_prune(batch_df, self.keys, self.value_col, self.k)

    def _reprune(self, merged: DataFrame) -> DataFrame:
        # min(_kmv_k) survives the re-prune: a union of heterogeneous-k
        # sketches is only valid at the SMALLEST k, and the batch
        # finalizers' k-fidelity guard reads this column
        has_k = "_kmv_k" in merged.columns
        aggs = [
            F.slice(F.array_sort(F.collect_set("_h")), 1, self.k)
            .alias("_mins")
        ]
        if has_k:
            aggs.append(_merged_kmv_k())
        return (
            merged.groupBy(*self.keys)
            .agg(*aggs)
            .select(
                *self.keys,
                F.explode("_mins").alias("_h"),
                *(["_kmv_k"] if has_k else []),
            )
        )

    def estimate(self) -> DataFrame:
        state = self._state()
        if state is None:
            raise ValueError(f"no sketch state at {self.state_dir}")
        return kmv_finalize(state, self.keys, self.k)

    def overlap_with(self, other: "DataFrame | IncrementalKmvSketch") -> DataFrame:
        """Live set-overlap report (|A|, |B|, union, intersection,
        Jaccard per key) between THIS sketch's accumulated state and
        ``other`` — another incremental sketch (same keys and k) or
        any kmv_prune-shaped relation (e.g. a static eval corpus's
        persisted sketch). The always-on contamination-rate monitor:
        a dashboard reads the live crawl-vs-benchmark overlap off two
        few-KB sketch states while both lanes keep folding."""
        from ramen_spark.operators.sketch import kmv_overlap_pruned

        state = self._state()
        if state is None:
            raise ValueError(f"no sketch state at {self.state_dir}")
        if isinstance(other, IncrementalKmvSketch):
            if other.keys != self.keys or other.k != self.k:
                raise ValueError(
                    "overlap_with needs matching keys and k: "
                    f"{self.keys}/k={self.k} vs {other.keys}/k={other.k}"
                )
            ostate = other._state()
            if ostate is None:
                raise ValueError(f"no sketch state at {other.state_dir}")
            other = ostate
        return kmv_overlap_pruned(state, other, self.keys, self.k)


class IncrementalQuantileSketch(_IncrementalMinKBase):
    """Persisted bottom-k quantile sample: ``state_dir`` holds the
    pruned (keys…, _h, _v) pairs — ≤ k per key, the k smallest row-id
    hashes seen so far with their values. Replay-idempotent like KMV
    (multiset min-k over (_h, _v) pairs ignores re-folded batches
    because a row's (hash, value) pair is identical on replay).
    ``estimate(ps)`` equals batch ``quantile_sketch`` over everything
    seen. Persistence: see :class:`_IncrementalMinKBase`."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        value_col: str,
        id_col: str,
        k: int = 1024,
    ) -> None:
        if k < 2:
            raise ValueError("IncrementalQuantileSketch needs k >= 2")
        super().__init__(spark, state_dir)
        self.keys = list(keys)
        self.value_col = value_col
        self.id_col = id_col
        self.k = k

    def _prune_batch(self, batch_df: DataFrame) -> DataFrame:
        return quantile_prune(
            batch_df, self.keys, self.value_col, self.id_col, self.k
        )

    def _reprune(self, merged: DataFrame) -> DataFrame:
        pair = F.struct(F.col("_h").alias("_h"), F.col("_v").alias("_v"))
        has_k = "_kmv_k" in merged.columns
        aggs = [
            F.slice(F.array_sort(F.collect_set(pair)), 1, self.k)
            .alias("_mins")
        ]
        if has_k:
            aggs.append(_merged_kmv_k())
        return (
            merged.groupBy(*self.keys)
            .agg(*aggs)
            .select(
                *self.keys,
                F.explode("_mins").alias("_p"),
                *(["_kmv_k"] if has_k else []),
            )
            .select(
                *self.keys,
                F.col("_p._h").alias("_h"),
                F.col("_p._v").alias("_v"),
                *(["_kmv_k"] if has_k else []),
            )
        )

    def estimate(self, ps: list[float]) -> DataFrame:
        state = self._state()
        if state is None:
            raise ValueError(f"no sketch state at {self.state_dir}")
        return quantile_finalize(state, self.keys, ps, self.k)


class IncrementalWeightedSample(_IncrementalMinKBase):
    """Persisted A-ES weighted reservoir — the always-on twin of
    ``operators.sampling.weighted_sample`` (Efraimidis–Spirakis 2006
    §4 explicitly frames A-ES as a one-pass RESERVOIR scheme; this is
    that reservoir, distributed): ``state_dir`` holds the current
    weight-proportional sample of everything seen — ≤ n rows per key,
    (keys…, id, weight, skey_micro). Top-n by the deterministic A-ES
    key is set max-n: associative, commutative, replay-IDEMPOTENT
    (a replayed row reproduces its exact (skey, id, weight) struct and
    set-dedups away), so any batch split and any replay yields the
    sample of the concatenated input — parity with the batch operator
    is pinned by test.

    Contract inherited from the batch twin: ``id_col`` must identify
    rows uniquely ACROSS THE WHOLE STREAM. A re-sent id with an
    identical row is replay-safe; a re-sent id with a DIFFERENT weight
    violates the contract (both (skey, id) structs would be eligible
    and one id could appear twice).

    Persistence: see :class:`_IncrementalMinKBase`."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        n: int,
        weight_col: str,
        id_col: str,
        seed: int = 42,
        payload_cols: list[str] | None = None,
    ) -> None:
        if n < 1:
            raise ValueError("IncrementalWeightedSample needs n >= 1")
        super().__init__(spark, state_dir)
        self.keys = list(keys)
        self.n = n
        self.weight_col = weight_col
        self.id_col = id_col
        self.seed = seed
        # metadata columns carried INSIDE the reservoir rows (e.g.
        # n_tok) — a finalize stage can't join back to a stream that
        # is gone; see topn_by_aes_key's payload contract
        self.payload_cols = list(payload_cols or [])

    def _check_state_compat(self, state: DataFrame) -> None:
        # the _kmv_k NULL-as-legacy treatment does NOT extend to
        # payloads: allowMissingColumns would union a pre-payload
        # state as NULL payloads, which (a) defeats the collect_set
        # replay dedup (a replayed row's real-payload struct differs
        # from the state's NULL-payload one — same id twice) and
        # (b) feeds NULL-as-0 costs into downstream budget stages
        # (review finding). Resuming a payload-less state under
        # payload_cols must fail loudly instead.
        missing = [c for c in self.payload_cols if c not in state.columns]
        if missing:
            raise ValueError(
                f"persisted sample state at {self.state_dir} lacks "
                f"payload column(s) {missing} — it was built without "
                "payload_cols; rebuild the reservoir (or drop "
                "payload_cols) instead of silently unioning NULLs"
            )

    def _prune_batch(self, batch_df: DataFrame) -> DataFrame:
        from ramen_spark.operators.sampling import weighted_sample

        return weighted_sample(
            batch_df, self.n, self.weight_col, self.keys, self.id_col,
            self.seed, payload_cols=self.payload_cols,
        ).drop("rn")

    def _reprune(self, merged: DataFrame) -> DataFrame:
        # the shared top-n pipeline (ONE definition with the batch
        # operator's salted level — a tie-break or overflow fix can
        # never drift between lanes); dedup=True because the merge of
        # state ∪ replayed batch carries identical structs twice
        from ramen_spark.operators.sampling import topn_by_aes_key

        return topn_by_aes_key(
            merged, self.keys, self.n, self.id_col, self.weight_col,
            dedup=True, payload_cols=self.payload_cols,
        )

    def sample(self) -> DataFrame:
        """The current sample with its rank — identical to batch
        ``weighted_sample`` over everything seen. The rank window runs
        on the persisted state (≤ n rows per key), never the stream."""
        state = self._state()
        if state is None:
            raise ValueError(f"no sample state at {self.state_dir}")
        from pyspark.sql import Window

        win = Window.partitionBy(*self.keys).orderBy(
            F.col("skey_micro").desc(), F.col(self.id_col).asc()
        )
        return state.withColumn("rn", F.row_number().over(win).cast("long"))


def weighted_sample_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    n: int,
    weight_col: str,
    id_col: str,
    seed: int = 42,
):
    """Maintain a weight-proportional sample always-on (the live
    "n best-weighted docs per language so far" a curation dashboard
    reads); any batch job or ``IncrementalWeightedSample.sample()``
    reads it off ``state_dir``. Returns the started StreamingQuery."""
    return start_lane(
        stream,
        checkpoint_dir,
        lambda df, b: IncrementalWeightedSample(
            df.sparkSession, state_dir, keys, n, weight_col, id_col, seed
        ).update(df, b),
    )


class IncrementalCorpusMix:
    """Always-on twin of the v2 MIXING stage (round-11 agenda #8) —
    the one composed lane that was still batch-only: per-key A-ES
    weighted reservoir (quality-proportional, capped at n docs/key)
    feeding a keyed token-budget prefix. The batch chain is
    ``weighted_sample → token_budget_select`` as composed by
    queries._prepare_corpus_v2; this class maintains the SAME result
    incrementally: the reservoir folds micro-batches (set max-n,
    BatchStore snapshots), carrying the budget
    column (n_tok) as reservoir payload — the stream is gone by
    finalize time, so metadata must ride the state. ``mixed(budget)``
    then runs the keyed budget prefix on the ≤ n-rows-per-key state:
    stream ≡ batch whenever the same rows were folded, pinned by the
    parity test (3 batches + restart + replay).

    100 TB shape: everything the corpus's size touches is the
    reservoir fold (bounded state, one executor-side snapshot write
    per batch); the finalize runs on ≤ n·|keys| rows."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        n: int,
        weight_col: str,
        id_col: str,
        budget_col: str,
        seed: int = 42,
    ) -> None:
        self.keys = list(keys)
        self.id_col = id_col
        self.budget_col = budget_col
        self.sample = IncrementalWeightedSample(
            spark, state_dir, keys, n, weight_col, id_col, seed,
            payload_cols=[budget_col],
        )

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        self.sample.update(batch_df, batch_id)

    def mixed(self, budget: int) -> DataFrame:
        """The current mixture selection: per key, the A-ES-ordered
        prefix of the reservoir whose ``budget_col`` sum fits
        ``budget`` — identical to the batch chain over everything
        seen. → (keys…, id, weight, skey_micro, budget_col)."""
        from ramen_spark.operators.sampling import token_budget_select

        state = self.sample._state()
        if state is None:
            raise ValueError(f"no sample state at {self.sample.state_dir}")
        return token_budget_select(
            state, budget, self.budget_col, "skey_micro", self.id_col,
            keys=self.keys,
        )


def corpus_mix_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    n: int,
    weight_col: str,
    id_col: str,
    budget_col: str,
    seed: int = 42,
):
    """Maintain the v2 mixing stage always-on; any batch job (or
    ``IncrementalCorpusMix.mixed(budget)``) reads the live mixture
    off ``state_dir``. Returns the started StreamingQuery."""
    return start_lane(
        stream,
        checkpoint_dir,
        lambda df, b: IncrementalCorpusMix(
            df.sparkSession, state_dir, keys, n, weight_col, id_col,
            budget_col, seed,
        ).update(df, b),
    )


class IncrementalCmsSketch(_SnapshotLane):
    """Persisted count-min sketch: the state snapshot holds (row, col,
    cnt) cells. ``update`` cell-wise-sums a micro-batch's sketch;
    replayed batch ids are skipped by the BatchStore (sums are not
    idempotent). Bounded state: ≤ depth × width cells regardless of
    stream volume."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        value_col: str,
        depth: int = 4,
        width: int = 2048,
    ) -> None:
        super().__init__(spark, state_dir)
        self.value_col = value_col
        self.depth = depth
        self.width = width

    def _state(self) -> DataFrame | None:
        return self.store.latest("cells")

    def _fold(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        state = self._state()
        batch_cells = count_min_build(
            batch_df, self.value_col, self.depth, self.width
        )
        if state is not None:
            batch_cells = (
                state.select("row", "col", "cnt")
                .unionByName(batch_cells)
                .groupBy("row", "col")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        return {"cells": batch_cells}

    def cells(self) -> DataFrame:
        state = self._state()
        if state is None:
            raise ValueError(f"no sketch state at {self.state_dir}")
        return state.select("row", "col", "cnt")


def kmv_sketch_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
    k: int = 64,
):
    """Maintain a KMV distinct sketch always-on: every micro-batch is
    pruned and merged into ``state_dir``; any batch job (or
    ``IncrementalKmvSketch.estimate``) can read the live cardinality
    off it. Returns the started StreamingQuery."""
    return start_lane(
        stream,
        checkpoint_dir,
        lambda df, b: IncrementalKmvSketch(
            df.sparkSession, state_dir, keys, value_col, k
        ).update(df, b),
    )


def quantile_sketch_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
    id_col: str,
    k: int = 1024,
):
    """Maintain a bottom-k quantile sample always-on (live latency /
    token-length / quality percentiles without a global sort); any
    batch job or ``IncrementalQuantileSketch.estimate`` reads the live
    distribution off ``state_dir``. Returns the started
    StreamingQuery."""
    return start_lane(
        stream,
        checkpoint_dir,
        lambda df, b: IncrementalQuantileSketch(
            df.sparkSession, state_dir, keys, value_col, id_col, k
        ).update(df, b),
    )


def cms_sketch_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    depth: int = 4,
    width: int = 2048,
):
    """Maintain a count-min sketch always-on (the streaming frequency
    monitor: which tokens/URLs/users are suddenly hot). Returns the
    started StreamingQuery."""
    return start_lane(
        stream,
        checkpoint_dir,
        lambda df, b: IncrementalCmsSketch(
            df.sparkSession, state_dir, value_col, depth, width
        ).update(df, b),
    )


class IncrementalCmsTop(_SnapshotLane):
    """Persisted CMS heavy hitters — the always-on twin of
    ``operators.sketch.cms_top`` and the true streaming shape of the
    reference's ``TOP n OVER m`` aggregate (raql_expr.type `Top`,
    whose max_size m bounds the tracked candidates exactly as
    ``max_candidates`` does here).

    State = two outputs of one BatchStore snapshot under
    ``state_dir``, published together (replayed batch ids skipped —
    cell sums are not replay-idempotent):
    - ``cells``: per-key CMS cells (keys…, row, col, cnt) — ≤ depth ×
      width per key REGARDLESS of stream volume;
    - ``cands``: the tracked candidate values (keys…, _v) — ≤
      ``max_candidates`` per key, re-ranked by the merged cells after
      every fold, worst evicted.

    Why this beats the unbounded alternative at 100 TB: an exact
    streaming TOP needs a per-(key, value) count table — unbounded in
    the value domain (every URL, every token). Here the count state
    is the FIXED cell grid and only m candidate VALUES ride along.
    The inherent accuracy trade (also the reference's): a value
    evicted from the candidate list keeps counting in the cells but
    cannot re-enter the list until seen again — choose m ≫ n (the
    reference's `n OVER m` knob; with m ≥ distinct values the result
    is exactly batch cms_top, pinned by parity test)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        value_col: str,
        max_candidates: int = 256,
        depth: int = 4,
        width: int = 2048,
        weight_col: str | None = None,
    ) -> None:
        if max_candidates < 1:
            raise ValueError("IncrementalCmsTop needs max_candidates >= 1")
        super().__init__(spark, state_dir)
        self.keys = list(keys)
        self.value_col = value_col
        self.m = max_candidates
        self.depth = depth
        self.width = width
        self.weight_col = weight_col

    def _states(self) -> tuple[DataFrame, DataFrame]:
        """(cells, cands) of the newest snapshot, geometry-checked."""
        cells = self.store.latest("cells")
        cands = self.store.latest("cands")
        if cells is None or cands is None:
            raise ValueError(f"no sketch state at {self.state_dir}")
        self._check_geometry(cells)
        return cells, cands

    def _check_geometry(self, cells: DataFrame) -> None:
        """Cell estimates are only comparable at ONE (depth, width) —
        folding or querying a state at a different geometry silently
        yields wrong estimates (wrong-width hashes miss every cell →
        all-zero). States stamp their build geometry since round 12;
        pre-stamp states pass unchecked (documented legacy mode, like
        the KMV _kmv_k column)."""
        if "_geo_depth" not in cells.columns:
            return
        row = cells.select("_geo_depth", "_geo_width").first()
        if row is not None and (row[0], row[1]) != (self.depth, self.width):
            raise ValueError(
                f"CMS state at {self.state_dir} was built at "
                f"depth={row[0]} width={row[1]}, not the requested "
                f"depth={self.depth} width={self.width}"
            )

    def _fold(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        from ramen_spark.operators.sketch import (
            cms_build_keyed,
            cms_estimate_candidates,
        )

        cells = self.store.latest("cells")
        if cells is not None:
            self._check_geometry(cells)
        batch_cells = cms_build_keyed(
            batch_df, self.keys, self.value_col, self.depth, self.width,
            self.weight_col,
        )
        if cells is None:
            merged_cells = batch_cells
        else:
            merged_cells = (
                cells.select(*self.keys, "row", "col", "cnt")
                .unionByName(batch_cells)
                .groupBy(*self.keys, "row", "col")
                .agg(F.sum("cnt").alias("cnt"))
            )
        # localCheckpoint: the merged cells feed BOTH the candidate
        # re-rank and the cells commit — one materialization instead
        # of two executions of the prune+union+sum plan
        merged_cells = merged_cells.localCheckpoint(eager=True)

        new_cand = (
            batch_df.filter(F.col(self.value_col).isNotNull())
            .select(*self.keys, F.col(self.value_col).alias("_v"))
            .distinct()
        )
        old_cand = self.store.latest("cands")
        pool = (
            new_cand
            if old_cand is None
            else old_cand.unionByName(new_cand).distinct()
        )
        est = cms_estimate_candidates(
            merged_cells, pool, self.keys, self.depth, self.width
        )
        rank = F.struct((-F.col("_est")).alias("_negw"), F.col("_v").alias("v"))
        kept = (
            est.groupBy(*self.keys)
            .agg(
                F.slice(F.array_sort(F.collect_list(rank)), 1, self.m).alias("_m")
            )
            .select(*self.keys, F.inline("_m"))
            .select(*self.keys, F.col("v").alias("_v"))
        )
        # the geometry stamp makes a depth/width mismatch on resume or
        # drift a loud error instead of an all-zero report
        return {
            "cells": merged_cells.withColumn("_geo_depth", F.lit(self.depth))
            .withColumn("_geo_width", F.lit(self.width)),
            "cands": kept,
        }

    def top(self, n: int) -> DataFrame:
        """Current heavy hitters: (keys…, top = array of the n tracked
        values with the largest CMS estimate, (est desc, value asc)) —
        identical to batch cms_top over everything seen whenever
        max_candidates covered the distinct values (parity-pinned)."""
        from ramen_spark.operators.sketch import (
            cms_estimate_candidates,
            cms_rank_top,
        )

        cells, cands = self._states()
        est = cms_estimate_candidates(
            cells.select(*self.keys, "row", "col", "cnt"),
            cands, self.keys, self.depth, self.width,
        )
        return cms_rank_top(est, self.keys, n, "top")

    def drift_vs(self, other: "IncrementalCmsTop", n: int) -> DataFrame:
        """Heavy-hitter churn report between THIS state (snapshot A)
        and ``other`` (snapshot B) — ``operators.sketch.cms_drift``
        over the two persisted (cells, cands) pairs: which values
        entered/left the per-key top-n, with estimate deltas. Both
        corpora stay unread; geometries must match (estimates at
        different (depth, width) are not comparable)."""
        from ramen_spark.operators.sketch import cms_drift

        if (self.keys, self.depth, self.width) != (
            other.keys, other.depth, other.width
        ):
            raise ValueError(
                "cms drift needs matching keys and sketch geometry: "
                f"{self.keys}/{self.depth}x{self.width} vs "
                f"{other.keys}/{other.depth}x{other.width}"
            )
        return cms_drift(
            *self._states(), *other._states(), self.keys, n, self.depth,
            self.width,
        )


def cms_top_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
    max_candidates: int = 256,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
):
    """Maintain CMS heavy hitters always-on (which URLs/tokens/users
    are hot right now, per key, in bounded state); any batch job or
    ``IncrementalCmsTop.top(n)`` reads the live ranking off
    ``state_dir``. Returns the started StreamingQuery."""
    return start_lane(
        stream,
        checkpoint_dir,
        lambda df, b: IncrementalCmsTop(
            df.sparkSession, state_dir, keys, value_col, max_candidates,
            depth, width, weight_col,
        ).update(df, b),
    )
