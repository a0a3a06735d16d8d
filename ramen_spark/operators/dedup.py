"""Deduplication operators for document-scale pipelines.

Not in the reference's surface (closest: DISTINCT doc/raql/expr.ml:816
and REMEMBER's bloom dedup src/RamenBloomFilter.ml) — these are the
training-data-pipeline extensions, designed shuffle-first:

- exact            : hash-groupBy on a fingerprint — 1 shuffle.
- minhash LSH      : shingle → k minhashes → b bands → explode bands →
                     self-join on band bucket. The join key is the LSH
                     bucket, so candidate pairs ≈ actual near-dups, not
                     O(N²); verified with exact Jaccard on signatures.
- simhash          : 48-bit signature; near-dup = hamming ≤ r via
                     banding on signature chunks (exact for r < chunks).
- n-gram jaccard   : exact verified similarity on LSH candidates.
- embedding cosine : see operators.similarity (shared machinery).

All hash primitives are md5-based (functions.text) so DuckDB can
reproduce every value for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ramen_spark.functions import text as Tx


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text fingerprint: keep the lowest-id
    doc per fingerprint. One shuffle on the (md5) fingerprint — at
    100 TB this is the canonical first pass; the fingerprint is 32
    bytes regardless of document size, so shuffle volume is tiny."""
    fp = Tx.fingerprint(F.col(text_col)).alias("fp")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """doc → array<long> MinHash signature.

    Shape chosen for scale AND single-node speed: explode shingles to
    rows, ONE md5 per shingle split into two 48-bit halves
    (functions.text.md5_hash_pair), then ONE groupBy(doc) computing the
    k Kirsch-Mitzenmacher minima ``min(h1 + i*h2)`` as map-side
    partial aggregates. One md5 per shingle total (the salted
    md5-per-permutation form was 5.8× slower at sf0.1; the naive
    array<higher-order-fn> form 20× slower), and the shuffle carries
    only k×8 bytes per doc. Docs too short for one shingle disappear
    at the explode (no signal; matches the set-based oracle)."""
    toks = df.select(
        F.col(id_col), F.split(Tx.normalized_text(F.col(text_col)), " ").alias("_toks")
    )
    rows = toks.select(
        F.col(id_col),
        F.explode(Tx.word_shingles_of_tokens(F.col("_toks"), shingle_k)).alias("_s"),
    )
    h1, h2 = Tx.md5_hash_pair(F.col("_s"))
    hashed = rows.select(F.col(id_col), h1.alias("_h1"), h2.alias("_h2"))
    mins = [
        F.min(F.col("_h1") + i * F.col("_h2")).alias(f"_h{i}") for i in range(num_hashes)
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*mins)
        .select(F.col(id_col), F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_sig_agreement: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    Plan shape: row-local signature computation → explode to ``bands``
    rows per doc → self-join on the band bucket key (equi-join, so
    Catalyst shuffles both sides on the 32-byte bucket hash — never a
    cartesian) → distinct pairs → verify by exact signature agreement
    (estimate of Jaccard). Survives scale because candidate volume is
    governed by collision probability, not N².
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, shingle_k, num_hashes)
    # band join on (id, bucket) ONLY: the bucket shuffle then moves 2
    # longs per banded row instead of dragging the full signature
    # through it ``bands`` times; signatures re-attach afterwards via
    # two joins on the compact sig relation (id → 16 longs), which AQE
    # broadcasts while it fits and co-partitions beyond that.
    banded = sigs.select(
        F.col(id_col),
        F.explode(Tx.lsh_bands(F.col("sig"), bands, rows_per_band)).alias("bucket"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    id_pairs = (
        a.join(b, on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        id_pairs.join(
            sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.withColumn("est_jaccard", agree.cast("double") / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= min_sig_agreement)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
    shingle_key: str = "hash64",
    join_strategy: str | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join — no cross product.

    Any pair with Jaccard > 0 shares at least one shingle, so the
    candidate set is exactly the equi-join of the exploded
    (doc, shingle) relation with itself: intersection sizes fall out
    of a groupBy over the join, and |union| = |A| + |B| − |A∩B| from
    per-doc shingle counts. Shuffle volume scales with shingle
    postings (Σ df² per shingle for the join), not N².

    ``max_shingle_freq`` is the hot-shingle cutoff that keeps the Σ df²
    term bounded at corpus scale: shingles whose posting list exceeds
    the cutoff (boilerplate phrases appearing in a large fraction of
    documents) are dropped from the shingle universe BEFORE pair
    generation — a single shingle shared by d documents otherwise
    produces d(d−1)/2 pair rows while moving every pair's Jaccard by
    at most 1/|union|. With the cutoff, Jaccard is computed exactly
    over the frequency-filtered universe (sizes AND intersections both
    exclude hot shingles, so the measure stays a true Jaccard and the
    DuckDB oracle reproduces it verbatim). None = unfiltered exact.

    Shape (measured at the 100× tier, 500 k docs / 26 M postings —
    A/B/C'd, 86.5 s / 210 s / 71 s):
    each posting carries its document's shingle-set size, attached by
    one small groupBy(doc)+join over the posting relation, so (a) the
    AllPairs length filter — J ≥ t implies min(|A|,|B|) ≥
    t·max(|A|,|B|), since I ≤ min(|A|,|B|) and |A∪B| ≥ max — prunes
    pairs at the join, before the pair shuffle, and (b) the sizes
    ride the pair aggregation key, eliminating the two 113 M-row
    joins that previously re-attached |A| and |B| to every candidate
    pair (~1/3 of the old wall time).

    Join-shape A/B at the 100× tier (tools/ngram_spill_experiment.py
    at commit e24ce67, 600 k docs, 2026-08-14): string-keyed sort-merge 64.5 s with
    21 GB sort SPILL on 2.1 GB shuffle write; ``hash64`` keys 36.3 s
    and ZERO spill (the string sort was the entire spill); the
    shuffle-hash hint alone 36.6 s / 11.7 GB; both 26.7 s / zero
    spill. Hence the default ``shingle_key='hash64'``; join-strategy
    choice stays with AQE unless the caller opts into
    ``join_strategy='shuffle_hash'`` (the benched registry query
    does). Same A/B on the ADVERSARIAL-SKEW tier (boilerplate df≈15 k
    + Zipf tail, 500 k docs): shuffle-hash still wins, 36.5 s /
    14.6 GB spill vs AQE-SMJ 64.6 s / 27.9 GB — the residual skew
    spill is the candidate-pair AGGREGATION degrading gracefully
    (Σdf² volume is inherent to the exact tier once the cutoff caps
    df; a tighter cutoff of 500 did not help, 50 s). The hint stays
    opt-in only because strategy choice belongs to AQE by default,
    not because SMJ is safer — both regimes measured it slower.

    Two measured traps recorded
    here so they stay dead: computing the size as a row-local
    `F.size(shingles)` column lands ABOVE the Generate and
    re-evaluates the whole shingle transform per POSTING — Σ len²,
    210 s (2.4× worse than doing nothing); and a
    collect-posting-lists variant (groupBy shingle → generate pairs
    per list) loses to the codegen'd hash self-join by ~25%."""
    toks = df.select(
        F.col(id_col), F.split(Tx.normalized_text(F.col(text_col)), " ").alias("_toks")
    )
    # explode the shingle expression DIRECTLY off the token attribute
    # (minhash_signatures' shape): an intermediate projection holding
    # the shingle array collapses into the token projection and
    # re-inlines the split per element_at — O(len²) per document
    # (measured 10.9 s vs 0.4 s for the sf0.1 explode)
    rows = toks.select(
        F.col(id_col),
        F.explode(
            Tx.word_shingles_of_tokens(F.col("_toks"), shingle_k)
        ).alias("_s"),
    )
    if shingle_key == "hash64":
        # Re-key postings to xxhash64 longs: the shingle STRING never
        # enters a shuffle/sort — 8-byte fixed-width keys sort and
        # compare cheaper than 20-40-byte text (the SCALE §5 string-
        # shuffle-key trap). Exact modulo 64-bit collisions: a
        # collision merges two shingles corpus-wide for all docs
        # symmetrically; expected collisions stay ≪ 1 below ~10⁹
        # distinct shingles (birthday bound).
        rows = rows.select(F.col(id_col), F.xxhash64("_s").alias("_s"))
    elif shingle_key != "string":  # pragma: no cover
        raise ValueError(f"unknown shingle_key {shingle_key!r}")
    if max_shingle_freq is not None:
        # hot shingles are few by construction, so the anti-join's
        # build side is a relation AQE broadcasts — the posting
        # relation is never re-shuffled for the cutoff
        hot = (
            rows.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_freq)
            .select("_s")
        )
        rows = rows.join(hot, "_s", "left_anti")
    # shingles are distinct per doc, so the per-doc posting count IS
    # the (filtered) shingle-set size; attaching it to every posting
    # here costs one groupBy+join over the posting relation and saves
    # two joins over the ~4× larger candidate-pair relation below.
    # (Computing it row-locally as F.size(shingle_expr) instead is a
    # measured trap — see the docstring.)
    sizes = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    rows = rows.join(sizes, id_col)
    # candidate pairs: equi-join of the posting relation with itself
    # on the shingle key (whole-stage-codegen hash join — measured
    # faster than building per-shingle posting lists with
    # collect_list). Each side carries its doc's size, so the AllPairs
    # length filter — J ≥ t implies min(|A|,|B|) ≥ t·max(|A|,|B|),
    # since I ≤ min and union ≥ max — prunes pairs at the join, and
    # the sizes ride the aggregation key instead of being re-joined.
    t = float(threshold)
    a = rows.select(
        F.col(id_col).alias("id_a"), F.col("_n").alias("_na"), F.col("_s")
    )
    b = rows.select(
        F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"), F.col("_s")
    )
    if join_strategy == "shuffle_hash":
        # sort-free self-join: per-partition hash build instead of
        # sorting both sides (the sort buffers, not the shuffle, are
        # what spills — see the measured A/B in SCALE §7); AQE still
        # owns the partition count, bounding the build side
        b = b.hint("shuffle_hash")
    elif join_strategy is not None:  # pragma: no cover
        raise ValueError(f"unknown join_strategy {join_strategy!r}")
    pairs = a.join(b, "_s").filter(
        (F.col("id_a") < F.col("id_b"))
        & (
            F.least("_na", "_nb")
            >= F.lit(t) * F.greatest("_na", "_nb")
        )
    )
    return (
        pairs.groupBy("id_a", "_na", "id_b", "_nb")
        .agg(F.count(F.lit(1)).alias("_inter"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    min_overlap: int = 1,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Train/eval DECONTAMINATION: flag training documents sharing
    ≥ ``min_overlap`` word ``shingle_k``-grams with any eval document
    (the GPT-3/PaLM-style n-gram scrub; production pipelines use
    k≈8-13 — k is a knob here because the test corpus's documents are
    short).

    Per train doc: its (distinct, normalized) shingle count, how many
    of those shingles appear anywhere in the eval corpus, the
    contamination fraction, and the boolean flag. Docs too short for
    one shingle keep n_shingles=0 / clean.

    100 TB shape: the eval side collapses to its DISTINCT shingle set
    — benchmarks are tiny next to a training corpus, so AQE broadcasts
    it and the train side is a single map-side pass + one
    groupBy(doc) partial aggregate; no shuffle ever carries document
    text. No forced broadcast hint: an adversarially-huge eval corpus
    degrades to a sort-merge join on the shingle key instead of
    OOMing executors. Pass a precomputed ``eval_shingles`` relation
    (one ``_s`` column) to amortize the eval-side shingling across
    many invocations — the always-on lane
    (streaming/dedup.py:decontaminate_stream) computes it once per
    query, not once per micro-batch."""

    def shingle_rows(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(id_col),
            F.split(Tx.normalized_text(F.col(text_col)), " ").alias("_toks"),
        )
        # explode directly off the token attribute (see
        # ngram_jaccard_pairs: an intermediate shingle-array projection
        # re-inlines split per element — O(len²)/doc)
        return toks.select(
            F.col(id_col),
            F.explode(
                Tx.word_shingles_of_tokens(F.col("_toks"), shingle_k)
            ).alias("_s"),
        )

    if eval_shingles is None:
        eval_shingles = shingle_rows(eval_df).select("_s").distinct()
    # Join on xxhash64 of the shingle, not the string (round 12; the
    # ngram_jaccard_pairs 'hash64' re-key argument): every train probe
    # hashes/compares a fixed-width 8-byte key instead of 20-40-byte
    # text. Round 13 (VERDICT r12 #2) restores STRING-EXACT semantics:
    # the build side groups the eval strings BY their hash, and a hash
    # hit is confirmed row-locally with array_contains before it
    # counts — a 64-bit collision (expected ≳1 only past ~10⁹ distinct
    # shingles, i.e. the 100 TB design point) now costs one wasted
    # array probe instead of a falsely-dropped document. Hits are rare,
    # so the string compare runs on almost no rows; the join key and
    # probe-side hashing keep the round-12 fixed-width compare.
    eval_rel = (
        eval_shingles.select("_s")
        .distinct()
        .groupBy(F.xxhash64("_s").alias("_sh"))
        .agg(F.collect_list("_s").alias("_evs"))
    )
    marked = (
        shingle_rows(train_df)
        .select(F.col(id_col), F.col("_s"), F.xxhash64("_s").alias("_sh"))
        .join(eval_rel, "_sh", "left")
        .select(
            F.col(id_col),
            F.when(F.array_contains(F.col("_evs"), F.col("_s")), 1).alias(
                "_hit"
            ),
        )
    )
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_hit"),
    )
    # left join back so zero-shingle docs stay in the report
    return (
        train_df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("contam_frac"),
            (F.coalesce("n_hit", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def simhash_resolve_bits(n_rows: float, chunks: int = 4) -> int:
    """Adaptive signature width for ``simhash_near_dups``: chunk width
    = clamp(4·⌈log2(N/10)/4⌉, 12, 24) nibble-aligned, total = chunks ×
    width (48 bits through the oracle-checked SFs, 64 at 100×, 80 at
    1000×). Exposed so callers can resolve bits ONCE from a row-count
    hint and pin the same width across tiers/snapshots — signatures of
    different widths are not comparable."""
    import math

    chunk_bits = min(
        24,
        max(12, 4 * math.ceil(math.log2(max(n_rows / 10, 2.0)) / 4)),
    )
    return chunks * chunk_bits  # ≤ 96: within md5's 32 nibbles


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int | None = None,
    chunks: int = 4,
    max_hamming: int = 3,
    n_rows: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the ``bits``-bit signature into
    ``chunks`` chunks; any pair within hamming ≤ chunks-1 shares at
    least one exact chunk (pigeonhole) → equi-join per chunk, then
    exact hamming verify. Requires max_hamming < chunks for
    completeness.

    ``bits=None`` scales the signature with the corpus: chunk count is
    pinned by the pigeonhole guarantee (max_hamming + 1), so the only
    scale knob is CHUNK WIDTH — per-chunk buckets number 2^(bits/chunks)
    and the equi-join does Σ occupancy² work, which turns quadratic
    under a fixed width. Auto width comes from ``simhash_resolve_bits``
    (clamp(4·⌈log2(N/10)/4⌉, 12, 24) per chunk → 48 bits at the
    oracle-checked SFs — the SQL oracle's hardcoded 12-nibble scheme —
    64 at the 100× tier, 80 at the 1000× tier), fed by the ``n_rows``
    hint so construction stays job-free. The signature is carried as per-chunk LONG
    columns, never assembled into one word — the previous single-long
    form capped chunk width at 15 bits, which at 5 M docs meant 152
    average occupancy and a ~3 G-pair join that OOM'd the 1000× tier;
    widening only tightens the candidate set (pigeonhole completeness
    holds at ANY width). Note the criterion itself is
    ``hamming ≤ max_hamming over the adaptive width``, so more bits =
    a stricter near-dup notion — the documented adaptive semantics.

    Signature computation is row-based like minhash_signatures:
    explode shingles, ONE md5 per shingle, 12 nibble extractions per
    row, then groupBy(doc) with one tiny sum per bit (map-side
    partial) and a final bit-assembly expression. The array-expression
    form (48 × aggregate() over a transform(md5) array) re-evaluates
    the md5 array per bit — measured 80× slower at sf0.01."""
    if bits is None:
        if n_rows is None:
            # LAST resort: an eager full action at plan-build time.
            # Callers should pass n_rows (parquet footer stats via
            # catalog.table_num_rows, or metastore stats) so query
            # construction stays job-free — at 100 TB over a source
            # without cheap stats this count is a full scan before
            # the real job even starts.
            n_rows = df.count()
        bits = simhash_resolve_bits(n_rows, chunks)
    toks = df.select(
        F.col(id_col), F.split(Tx.normalized_text(F.col(text_col)), " ").alias("_toks")
    )
    rows = toks.select(
        F.col(id_col),
        F.explode(Tx.word_shingles_of_tokens(F.col("_toks"), 3)).alias("_s"),
    ).select(F.col(id_col), F.md5(F.col("_s")).alias("_h"))
    n_nibbles = bits // 4
    # Parse the md5 hex into ≤12-nibble (48-bit) LONGS via conv, then
    # probe bits with shift/mask arithmetic: 1-2 conv calls per
    # posting row instead of n_nibbles instr+substring string probes,
    # and the per-bit vote becomes sum of a 0/1 bit instead of a
    # conditional ±1 — vote = 2·ones − n_shingles, so "vote > 0" is
    # "2·ones > n" (round 12; bit values identical to the nibble
    # probes — same hex, same positions — verified value-exact
    # against the unchanged 12-nibble SQL oracle).
    n_hex_chunks = (n_nibbles + 11) // 12
    widths = [min(12, n_nibbles - 12 * k) for k in range(n_hex_chunks)]
    hx = rows.select(
        F.col(id_col),
        *[
            F.conv(F.substring(F.col("_h"), 12 * k + 1, widths[k]), 16, 10)
            .cast("long")
            .alias(f"_c{k}")
            for k in range(n_hex_chunks)
        ],
    )

    def _bitpos(b: int) -> tuple[int, int]:
        # bit b lives in nibble j = b//4 (mask 8 >> b%4 = nibble bit
        # 3-b%4); nibble j is the (j%12)-th hex digit of chunk j//12,
        # i.e. long bit 4*(width-1 - j%12) + (3 - b%4)
        j = b // 4
        k = j // 12
        return k, 4 * (widths[k] - 1 - (j % 12)) + (3 - b % 4)

    votes = hx.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_nsh"),
        *[
            F.sum(
                F.shiftright(F.col(f"_c{_bitpos(b)[0]}"), _bitpos(b)[1])
                .bitwiseAND(F.lit(1))
            ).alias(f"_s{b}")
            for b in range(bits)
        ],
    )
    chunk_bits = bits // chunks
    chunk_cols = []
    for ci in range(chunks):
        expr = None
        for j in range(chunk_bits):
            b = ci * chunk_bits + j
            term = (
                F.when(2 * F.col(f"_s{b}") > F.col("_nsh"), F.lit(1 << j))
                .otherwise(F.lit(0))
                .cast("long")
            )
            expr = term if expr is None else expr + term
        chunk_cols.append(expr.alias(f"_ck{ci}"))
    sig = votes.select(F.col(id_col), *chunk_cols)
    chunked = sig.select(
        id_col,
        F.array(*[F.col(f"_ck{i}") for i in range(chunks)]).alias("_cks"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":", F.lit(i), F.col(f"_ck{i}").cast("string")
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("chunk_key"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(b, "chunk_key")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._cks").alias("_cks_a"),
            F.col("b._cks").alias("_cks_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # hamming over the whole signature = Σ per-chunk popcount(xor)
    ham = F.aggregate(
        F.zip_with(
            F.col("_cks_a"),
            F.col("_cks_b"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-duplicate CLUSTERS from a candidate-pair relation:
    undirected edges (id_a, id_b) → (id, component) where component =
    the minimum vertex id of the connected component.

    Min-label propagation: every round each vertex takes the minimum
    label over itself and its neighbours — one shuffle per round
    (join + partial-aggregated groupBy min), converging in
    O(component diameter) rounds. Near-dup components are shallow
    (pairs share LSH buckets, so diameters stay single-digit), which
    keeps the round count flat as the corpus grows; each round's
    shuffle is keyed on the vertex id, so the work distributes across
    executors at any scale. The per-round `.count()` convergence probe
    doubles as the cache materialization barrier.

    The pipeline shape (candidates → components → canonical doc per
    cluster) is the standard fuzzy-dedup stage of large training-data
    pipelines (MinHashLSH dedup as in the GPT-3/C4 data work).
    """
    edges = (
        pairs.select(F.col(id_a).alias("v"), F.col(id_b).alias("n"))
        .union(pairs.select(F.col(id_b).alias("v"), F.col(id_a).alias("n")))
        .distinct()
    )
    # Eager lineage truncation each round, NOT cache(): a cached plan
    # is matched by Catalyst plan equality, which AQE re-planning can
    # miss across iterations — each round then silently recomputes the
    # whole chain from round 0 and per-round cost grows ~3× per round
    # (measured at the 100× tier: 131 s loop vs 14 s with
    # checkpointing). localCheckpoint pins the materialized rows on the
    # executors; on a fault-tolerant cluster run, set a checkpoint dir
    # and swap in .checkpoint() — same shape, durable lineage cut
    # (GraphFrames' iterative pattern).
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select("v").distinct().withColumn("label", F.col("v"))
    # Convergence probe: per-vertex labels are MONOTONE NON-INCREASING
    # (new = min(old, neighbours)), so Σ label is strictly decreasing
    # until the fixpoint — one scan-aggregate over the freshly
    # checkpointed relation detects convergence. Replaces the
    # round-11 probe (a new-vs-old equi-join + count), which paid an
    # extra join + shuffle EVERY round just to count changes
    # (guide §2.4; r12 measurement in OPTIMIZATION_r12.md). decimal
    # sum: vertex ids are arbitrary longs — Σ over billions of
    # 63-bit ids must not wrap.
    def _label_sum(lb: DataFrame) -> object:
        return lb.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = None
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels.withColumnRenamed("v", "n"), "n")
            .select("v", "label")
        )
        new_labels = (
            labels.union(neigh)
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # a silent early exit would return WRONG cluster ids for any
        # component whose diameter exceeds max_iter
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(label sum still decreasing); raise max_iter — near-dup "
            "components are normally shallow, so this suggests a "
            "pathological chain of LSH buckets"
        )
    return labels.select(F.col("v"), F.col("label").alias("component"))


def canonicalize(
    clusters: DataFrame,
    docs: DataFrame,
    by: str = "quality",
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Canonical document per near-dup cluster — the keep-set a
    C4/RefinedWeb-style pipeline emits after fuzzy dedup: of each
    cluster keep the best-scoring member (argmax ``by``; lowest id
    breaks exact score ties, so selection is total and deterministic).

    ``clusters`` is (id_col, cluster_col) as produced by
    ``connected_components`` (singletons cluster with themselves);
    ``docs`` carries id_col + the score column ``by``. Output: one row
    per cluster — (cluster_col, id_col, by, cluster_size).

    100 TB shape: one equi-join on the doc id (score attach) and one
    groupBy on the cluster id with map-side partial max_by — no
    window sort, no per-cluster fan-out. Near-dup clusters are small
    (LSH-verified pairs), so cluster cardinality ≈ corpus cardinality
    and the aggregate distributes like any keyed count."""
    scored = clusters.join(docs.select(id_col, by), id_col)
    # argmax via max_by over a (score, -id) struct: lexicographic
    # struct ordering gives score-desc, id-asc in ONE partial-
    # aggregable expression (a window would sort every partition)
    ordkey = F.struct(F.col(by), (-F.col(id_col)).alias("_negid"))
    return scored.groupBy(cluster_col).agg(
        F.max_by(F.col(id_col), ordkey).alias(id_col),
        F.max(by).alias(by),
        F.count(F.lit(1)).alias("cluster_size"),
    )


def _span_postings(
    df: DataFrame, text_col: str, id_col: str, span_k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared ExactSubstr posting builder: (tokens relation, one row
    per k-token span with its 0-based start ``_pos`` and 60-bit
    truncated-md5 span hash ``_h``). Postings carry ids + two ints —
    never span text — so they are the only thing that rides a
    shuffle in both consumers."""
    toks = df.select(
        F.col(id_col), Tx.tokens(F.col(text_col)).alias("_toks")
    )
    k = int(span_k)
    w = F.col("_toks")
    span_h = F.transform(
        Tx.window_starts(F.size(w), k),
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ", *[F.element_at(w, i + j) for j in range(k)]
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    # posexplode directly off the token attribute (the CollapseProject
    # rule: see ngram_jaccard_pairs) — _pos is the 0-based span start
    spans = toks.select(
        F.col(id_col),
        F.posexplode(span_h).alias("_pos", "_h"),
    )
    return toks, spans


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_k: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection: per document, how
    much of it is verbatim-repeated elsewhere in the corpus (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — their ~50-token duplicated-substring criterion, here on
    rolling ``span_k``-token windows).

    A span is DUPLICATED when its text occurs ≥ ``min_count`` times
    corpus-wide (across documents or repeated within one — both are
    memorization risks). Output per document: token count, span
    count, duplicated-span count, and ``dup_token_frac`` — the EXACT
    fraction of tokens covered by the union of duplicated spans,
    computed without materializing intervals: duplicated spans sorted
    by position are fixed-length-k intervals, so the union length is
    k for the first plus min(k, Δpos) for each subsequent span — one
    lag() window per document.

    100 TB shape (re-measured at the 1000× tier after the first
    version went SUPER-linear there — 24× wall for 10× rows): postings
    are one row per token position carrying a 60-bit integer span
    hash — never the span text, and not the 32-char md5 hex either
    (string keys tripled shuffle bytes and spilled three
    posting-relation passes at 260 M positions). Duplicate marking is
    ONE count window over the hash — a single posting shuffle —
    instead of a groupBy + semi-join pair (span hashes are mostly
    unique, so the groupBy's map-side combine bought nothing and the
    semi-join re-shuffled the full relation). The coverage window then
    partitions by document: two posting shuffles total. 60-bit
    truncated md5 ⟹ a corpus-wide collision is ~3% likely at 260 M
    spans and would merely mark two spans as mutual dups; both engines
    hash identically, so the oracle stays value-exact regardless.
    """
    from pyspark.sql import Window

    toks, spans = _span_postings(df, text_col, id_col, span_k)
    k = int(span_k)
    marked = spans.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("_h"))
    ).filter(F.col("_c") >= min_count)
    win = Window.partitionBy(id_col).orderBy("_pos")
    prev = F.lag("_pos").over(win)
    contrib = F.when(prev.isNull(), F.lit(k)).otherwise(
        F.least(F.lit(k), F.col("_pos") - prev)
    )
    cov = (
        marked.withColumn("_cov", contrib)
        .groupBy(id_col)
        .agg(
            F.sum("_cov").alias("_dup_tokens"),
            F.count(F.lit(1)).alias("n_dup_spans"),
        )
    )
    totals = toks.select(
        F.col(id_col),
        F.size("_toks").alias("n_tokens"),
        F.greatest(F.size("_toks") - (k - 1), F.lit(0)).alias("n_spans"),
    ).filter(F.col("n_spans") > 0)
    return totals.join(cov, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_spans").cast("bigint").alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
        F.round(
            F.coalesce(F.col("_dup_tokens"), F.lit(0)).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("dup_token_frac"),
    )


def minhash_lsh_pairs_between(
    df_new: DataFrame,
    df_old: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_sig_agreement: float = 0.5,
) -> DataFrame:
    """Cross-corpus MinHash/LSH near-dup pairs: (new doc, old doc)
    candidates from band-bucket collisions, verified by signature
    agreement — the INCREMENTAL dedup stage (dedup a fresh crawl
    snapshot against the retained corpus without re-pairing the old
    corpus with itself).

    Same band-join shape as minhash_lsh_pairs but new×old instead of
    self: candidate volume scales with cross-snapshot duplication, the
    old side's banded relation is the reusable index (at 100 TB it is
    written once per snapshot and re-joined by every incremental
    batch), and the new side is typically a small fraction of it —
    AQE broadcasts the new side's buckets when it fits.
    """
    sig_new = minhash_signatures(df_new, text_col, id_col, shingle_k, num_hashes)
    sig_old = minhash_signatures(df_old, text_col, id_col, shingle_k, num_hashes)
    rows_per_band = num_hashes // bands

    def banded(sigs: DataFrame, side: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(f"id_{side}"),
            F.explode(
                Tx.lsh_bands(F.col("sig"), bands, rows_per_band)
            ).alias("bucket"),
        )

    id_pairs = (
        banded(sig_new, "new")
        .join(banded(sig_old, "old"), "bucket")
        .select("id_new", "id_old")
        .dropDuplicates(["id_new", "id_old"])
    )
    pairs = id_pairs.join(
        sig_new.select(F.col(id_col).alias("id_new"), F.col("sig").alias("sig_new")),
        "id_new",
    ).join(
        sig_old.select(F.col(id_col).alias("id_old"), F.col("sig").alias("sig_old")),
        "id_old",
    )
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("sig_new"), F.col("sig_old"), lambda x, y: (x == y).cast("int")
            ),
            lambda v: v == 1,
        )
    )
    return (
        pairs.withColumn(
            "est_jaccard", agree.cast("double") / F.lit(float(num_hashes))
        )
        .filter(F.col("est_jaccard") >= min_sig_agreement)
        .select("id_new", "id_old", "est_jaccard")
    )


def frequent_segment_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 3,
    max_docs: int = 5,
) -> DataFrame:
    """C4-style cross-document boilerplate removal, generalized from
    "lines" to fixed-width word segments (Raffel et al. 2020 drop any
    line occurring ≥3 times in C4; RefinedWeb does the same per line).
    The corpus here has no line structure, so the removable unit is a
    non-overlapping window of ``seg_words`` whitespace tokens — the
    same operator applies verbatim to real newline-delimited text by
    splitting on lines instead of word windows.

    A segment is BOILERPLATE when it appears in more than ``max_docs``
    distinct documents corpus-wide. Every occurrence is removed from
    every document; the remainder is re-joined in original order.
    Output per input document (docs whose text has ≥1 token):
    (id_col, clean_text, n_segments, n_removed).

    100 TB shape: segment construction is ROW-LOCAL (slice over the
    token array — no explode before the segment exists); the frequency
    count shuffles 8-byte xxhash64 keys only (segment text never rides
    a shuffle key — SCALE §5 string-key trap); the hot set is tiny
    (boilerplate is by definition few distinct values) so AQE
    broadcasts the membership join; reassembly is one groupBy on the
    doc id. Two shuffles total + one broadcast. Segment identity is
    the 64-bit hash — at 10^12 segments the collision expectation is
    ~0.03 false merges, acceptable for a frequency threshold.
    """
    toks = Tx.tokens(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / F.lit(seg_words)).cast("int")
    # sequence(0, -1) counts DOWN (SCALE §5) — guard the empty case
    seg_idx = F.when(n_segs > 0, F.sequence(F.lit(0), n_segs - 1)).otherwise(
        F.array().cast("array<int>")
    )
    segs = F.transform(
        seg_idx,
        lambda i: F.array_join(F.slice(toks, i * seg_words + 1, seg_words), " "),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(segs).alias("seg", "segment")
    ).withColumn("seg_h", F.xxhash64("segment"))

    hot = (
        exploded.groupBy("seg_h")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("seg_h", F.lit(True).alias("is_hot"))
    )
    marked = exploded.join(hot, "seg_h", "left")
    kept_struct = F.when(
        F.col("is_hot").isNull(), F.struct(F.col("seg"), F.col("segment"))
    )  # collect_list skips NULLs -> only kept segments ride the list
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["segment"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("is_hot").isNotNull(), 1).otherwise(0)).alias("n_removed"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_k: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr span REMOVAL — the transformation half of
    ``duplicated_spans`` (Lee et al. 2021 cut the duplicated
    substrings out of the training text; the report operator only
    measures them). Every token covered by any ``span_k``-token
    window whose text occurs ≥ ``min_count`` times corpus-wide is
    dropped; the survivors re-join into ``clean_text``.

    Output: one row per input document —
    (id, n_tokens, n_removed, clean_text); documents with no
    duplicated span pass through verbatim (token-normalized), fully
    covered documents come out empty.

    100 TB shape: the same two posting shuffles as duplicated_spans
    (span-hash count window, then per-doc span starts — ids + ints
    only), one groupBy collecting each doc's duplicated START
    POSITIONS into an int array, and a join back onto the token
    relation. Text never rides a shuffle key. The cut itself is
    row-local and LINEAR in the token count: sorted starts fold into
    merged cover intervals, the kept positions are the gap sequences
    between them (no per-token membership probe — a boilerplate-heavy
    doc with O(n) duplicated spans would make the naive
    contains()-per-token scan O(n²) row-local work).
    """
    from pyspark.sql import Window

    toks, spans = _span_postings(df, text_col, id_col, span_k)
    k = int(span_k)
    marked = spans.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("_h"))
    ).filter(F.col("_c") >= min_count)
    starts = marked.groupBy(id_col).agg(
        F.sort_array(F.collect_list("_pos")).alias("_starts")
    )
    empty_int = F.expr("CAST(array() AS array<int>)")
    empty_iv = F.expr("CAST(array() AS array<struct<s: int, e: int>>)")
    j = toks.join(starts, id_col, "left").select(
        id_col,
        "_toks",
        F.coalesce(F.col("_starts"), empty_int).alias("_starts"),
    )
    # sorted fixed-length spans merge in one ascending fold: extend
    # the open interval while the next start is <= its end, else open
    # a new one (starts ascending ⇒ ends ascending, no greatest needed)
    iv = F.aggregate(
        F.col("_starts"),
        empty_iv,
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (x <= F.element_at(acc, -1).getField("e")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1).getField("s").alias("s"),
                        (x + k).cast("int").alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        x.cast("int").alias("s"), (x + k).cast("int").alias("e")
                    )
                ),
            )
        ),
    )
    n = F.size("_toks")
    staged = j.select(id_col, "_toks", iv.alias("_iv"))
    # kept positions = the gaps: [0, iv1.s) ∪ [iv1.e, iv2.s) ∪ … ∪
    # [last.e, n) — zip the shifted bounds; guard empty gaps (Spark
    # sequence(a, a-1) counts DOWN, see functions.text.window_starts)
    gap_lo = F.concat(
        F.array(F.lit(0)), F.transform(F.col("_iv"), lambda v: v.getField("e"))
    )
    gap_hi = F.concat(
        F.transform(F.col("_iv"), lambda v: v.getField("s")), F.array(n)
    )
    kept = F.flatten(
        F.zip_with(
            gap_lo,
            gap_hi,
            lambda a, b: F.when(b > a, F.sequence(a, b - 1)).otherwise(
                F.expr("CAST(array() AS array<int>)")
            ),
        )
    )
    staged = staged.select(id_col, "_toks", kept.alias("_kept"))
    return staged.select(
        id_col,
        F.size("_toks").cast("bigint").alias("n_tokens"),
        (F.size("_toks") - F.size("_kept")).cast("bigint").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.col("_kept"),
                lambda p: F.element_at(F.col("_toks"), p + 1),
            ),
        ).alias("clean_text"),
    )


def contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """The evidence behind ``decontaminate``'s boolean: WHICH eval
    document contaminated each training document, and by how much —
    (train_id, eval_id, n_shared, train_shingles, shared_frac) for
    every pair sharing ≥ ``min_overlap`` distinct shingles. What an
    audit needs before dropping data, and what a benchmark owner reads
    to find which split leaked.

    100 TB shape: both sides collapse to DISTINCT (doc, shingle) and
    join on the 48-bit shingle hash — never the text; pair volume is
    Σ_shingle df_train·df_eval with the eval side benchmark-sized.
    One count per (train, eval) pair, train shingle totals re-attach
    by int id.
    """
    def distinct_hashed(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(id_col),
            F.split(Tx.normalized_text(F.col(text_col)), " ").alias("_toks"),
        )
        sh = toks.select(
            F.col(id_col),
            F.explode(
                Tx.word_shingles_of_tokens(F.col("_toks"), shingle_k)
            ).alias("_s"),
        )
        h1, _ = Tx.md5_hash_pair(F.col("_s"))
        return sh.select(id_col, h1.alias("_h")).distinct()

    t = distinct_hashed(train_df).select(
        F.col(id_col).alias("train_id"), "_h"
    )
    e = distinct_hashed(eval_df).select(F.col(id_col).alias("eval_id"), "_h")
    pairs = (
        t.join(e, "_h")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )
    totals = t.groupBy("train_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("train_shingles")
    )
    return pairs.join(totals, "train_id").select(
        "train_id",
        "eval_id",
        "n_shared",
        "train_shingles",
        F.round(
            F.col("n_shared").cast("double") / F.col("train_shingles"), 6
        ).alias("shared_frac"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff for corpus versioning — the re-crawl/reprocess
    audit a pipeline runs before retraining: which documents were
    ADDED, REMOVED, or CHANGED between two corpus versions (the
    stable-id contract the WARC source's (file, offset) doc_id
    exists for). Unchanged docs are excluded — the output is the
    actionable delta, usually orders of magnitude smaller than either
    snapshot.

    Output: (doc_id, status ∈ {'added','removed','changed'},
    old_fp, new_fp).

    100 TB shape: each side reduces to (id, 32-byte md5 fingerprint)
    BEFORE the full-outer join — text never rides the shuffle, and
    the join is a plain hash equi-join on the long id. Fingerprints
    are functions.text.fingerprint (md5 of normalized text), so the
    DuckDB oracle computes identical values.

    Presence is keyed on per-side marker columns, NOT on fingerprint
    NULL-ness — a doc present in both snapshots with NULL text on one
    side is 'changed' (null-safe fingerprint compare), never
    mis-reported as 'added'/'removed'. old_fp/new_fp stay purely
    content fingerprints (NULL text ⇒ NULL fingerprint).
    """
    o = old.select(
        F.col(id_col),
        Tx.fingerprint(F.col(text_col)).alias("old_fp"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col),
        Tx.fingerprint(F.col(text_col)).alias("new_fp"),
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(id_col, "status", "old_fp", "new_fp")
    )
