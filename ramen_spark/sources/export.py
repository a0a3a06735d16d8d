"""Sharded training-corpus export with a verifiable manifest — the
final mile of the pipeline: the packed rows a training job streams
must land as size-balanced, individually-addressable shards with a
manifest the loader (and a re-run) can verify (the WebDataset /
streaming-dataset contract, re-expressed on parquet).

Training-pipeline extension (no reference counterpart; the nearest
surface is the archive writer, sources/archive.py).

100 TB shape: one write partitioned by the shard key (the caller's
shard assignment — sequence_packing already emits one), each shard a
self-contained parquet directory a loader opens independently; the
manifest aggregates per-shard row counts and an order-independent
content hash in ONE pass over ids (xor/sum of per-row md5 halves —
commutative, so partition order and parallelism don't change it),
tiny enough to live as a single JSON beside the data.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MERSENNE61 = 2305843009213693951  # 2^61 - 1


def _hash48_sum(expr) -> F.Column:
    # commutative content hash: sum of 48-bit md5 prefixes, accumulated
    # as decimal(38,0) (headroom for ~2^78 rows), reduced mod the
    # Mersenne prime 2^61-1 so the stored value fits a signed long. A
    # plain long sum overflows at ~2^15 rows/shard and THROWS under
    # Spark 4's default ANSI mode — it must never appear here.
    # Multiset-sensitive (unlike xor, a row counted twice changes the
    # hash) and deterministic under any row order / partitioning.
    h = F.conv(F.substring(F.md5(expr), 1, 12), 16, 10).cast("decimal(38,0)")
    return (
        F.pmod(F.sum(h), F.lit(_MERSENNE61).cast("decimal(38,0)"))
        .cast("long")
    )


def _row_repr(df: DataFrame, cols: list[str]) -> F.Column:
    # canonical per-row string over the content columns: binary → hex
    # (a raw cast-to-string UTF-8-decodes and corrupts), everything
    # else → cast string. Each cell is LENGTH-PREFIXED (netstring
    # style, `len:value`; NULL → the bare token `N`) and the tokens
    # concatenated — an INJECTIVE encoding: a separator character
    # occurring inside a value, or a value that happens to spell a
    # NULL sentinel, cannot collide with a different row (the round-11
    # review refuted the previous separator+sentinel scheme with
    # exactly those two collisions).
    binary = {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "binary"
    }
    parts = []
    for c in cols:
        s = F.hex(F.col(c)) if c in binary else F.col(c).cast("string")
        parts.append(
            F.when(F.col(c).isNull(), F.lit("N")).otherwise(
                F.concat(F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return F.concat(*parts)


def _shard_stats(
    df: DataFrame,
    shard_col: str,
    id_col: str,
    content_cols: list[str] | None = None,
) -> DataFrame:
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        _hash48_sum(F.col(id_col).cast("string")).alias("content_sum"),
    ]
    if content_cols:
        # second commutative sum over the PAYLOAD bytes, not just ids:
        # a snapshot whose text was swapped between rows keeps every
        # id (content_sum passes) but not this one.
        aggs.append(_hash48_sum(_row_repr(df, content_cols)).alias("payload_sum"))
    return df.groupBy(shard_col).agg(*aggs)


def export_shards(
    df: DataFrame,
    out_dir: str,
    shard_col: str = "shard",
    id_col: str = "doc_id",
    content_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` partitioned by ``shard_col`` under
    ``out_dir/data`` and a ``manifest.json`` beside it:
    {shards: {shard: {n_rows, content_sum, payload_sum}}, total_rows}.
    Returns the manifest dict.

    ``content_cols`` defaults to every column except ``shard_col`` —
    the manifest's ``payload_sum`` then covers the row VALUES, so
    ``verify_export`` catches content corruption/swaps, not just
    membership drift (``content_sum`` stays id-only for a fast
    membership diff). Pass an explicit subset to pin only those
    columns (e.g. exclude a re-derivable score)."""
    if content_cols is None:
        content_cols = [c for c in df.columns if c != shard_col]
    if not content_cols:
        # an empty list would silently skip payload_sum and then crash
        # building the manifest AFTER the data write (review finding)
        raise ValueError(
            "content_cols must name at least one column "
            "(omit it to cover every non-shard column)"
        )
    # canonical order BEFORE hashing — verify_export re-derives from
    # the manifest's (sorted) list, so the concat order must match
    content_cols = sorted(content_cols)
    missing = [c for c in {id_col, *content_cols} if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in df: {missing}")
    df.write.mode("overwrite").partitionBy(shard_col).parquet(
        os.path.join(out_dir, "data")
    )
    stats = _shard_stats(df, shard_col, id_col, content_cols).collect()
    manifest = {
        "id_col": id_col,
        "shard_col": shard_col,
        "content_cols": sorted(content_cols),
        "shards": {
            str(r[shard_col]): {
                "n_rows": r["n_rows"],
                "content_sum": r["content_sum"],
                "payload_sum": r["payload_sum"],
            }
            for r in stats
        },
        "total_rows": int(sum(r["n_rows"] for r in stats)),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify_export(spark: SparkSession, out_dir: str) -> list[str]:
    """Re-derive the manifest from the written data and diff: returns
    a list of human-readable discrepancies (empty = verified). What a
    loader runs before trusting a snapshot, and what a re-run uses to
    prove a deterministic pipeline reproduced the corpus."""
    with open(os.path.join(out_dir, "manifest.json")) as f:
        manifest = json.load(f)
    df = spark.read.parquet(os.path.join(out_dir, "data"))
    # pre-payload_sum manifests (no content_cols field) verify on the
    # id sum only — forward-compatible read of old snapshots
    content_cols = manifest.get("content_cols")
    got = {
        str(r[manifest["shard_col"]]): {
            k: r[k]
            for k in ("n_rows", "content_sum", "payload_sum")
            if k in r.asDict()
        }
        for r in _shard_stats(
            df, manifest["shard_col"], manifest["id_col"], content_cols
        ).collect()
    }
    errs: list[str] = []
    want = manifest["shards"]
    for shard in sorted(set(want) | set(got)):
        if shard not in got:
            errs.append(f"shard {shard}: missing from data")
        elif shard not in want:
            errs.append(f"shard {shard}: not in manifest")
        else:
            w = {k: v for k, v in want[shard].items() if k in got[shard]}
            if w != got[shard]:
                errs.append(
                    f"shard {shard}: manifest {w} != data {got[shard]}"
                )
    total = sum(v["n_rows"] for v in got.values())
    if total != manifest["total_rows"]:
        errs.append(f"total_rows: manifest {manifest['total_rows']} != {total}")
    return errs


# ---------------------------------------------------------------------------
# WebDataset tar shards — the multimodal training-loader format
# ---------------------------------------------------------------------------


def _recover_generation(out_dir: str) -> None:
    """Close write_webdataset's swap crash window: a kill between
    `rename(data, data.old-*)` and `rename(data.next-*, data)` leaves
    NO live 'data' dir even though the old generation survives intact
    under data.old-<token>. Restore it (at most one can exist — every
    successful export deletes its predecessor). WRITER-ONLY since
    round 12: readers resolve via :func:`_live_data_dir` without
    renaming (a rename in a read path fails on read-only mounts and
    races concurrent readers — round-11 advice); the protocol assumes
    a single writer (as any rename-swap does)."""
    live = os.path.join(out_dir, "data")
    if os.path.isdir(live) or not os.path.isdir(out_dir):
        return
    olds = sorted(
        n for n in os.listdir(out_dir) if n.startswith("data.old-")
    )
    if olds:
        os.rename(os.path.join(out_dir, olds[-1]), live)


def _live_data_dir(out_dir: str) -> str:
    """Reader-side generation resolution, with NO repair: prefer the
    live ``data`` dir; inside the swap crash window fall back to the
    surviving ``data.old-*`` generation IN PLACE. Returns the live
    path when neither exists so the downstream open fails loudly with
    the real path in the message."""
    live = os.path.join(out_dir, "data")
    if os.path.isdir(live):
        return live
    if os.path.isdir(out_dir):
        olds = sorted(
            n for n in os.listdir(out_dir) if n.startswith("data.old-")
        )
        if olds:
            return os.path.join(out_dir, olds[-1])
    return live


def _manifest_path(out_dir: str, data_dir: str) -> str:
    """The manifest lives INSIDE the generation dir since round 12
    (one rename publishes data + manifest atomically — the round-11
    advice crash window paired new data with an old manifest);
    pre-round-12 snapshots keep it at the top level. Prefer the
    in-generation copy, fall back to legacy."""
    in_gen = os.path.join(data_dir, "webdataset_manifest.json")
    return (
        in_gen
        if os.path.exists(in_gen)
        else os.path.join(out_dir, "webdataset_manifest.json")
    )


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    member_cols: dict[str, str],
    n_shards: int = 8,
    target_shard_bytes: int | None = None,
) -> dict:
    """Export samples as WebDataset-style tar shards (the POSIX-tar
    convention the WebDataset/torchdata loaders stream: each sample's
    members are contiguous entries named ``{key}.{ext}``; shards are
    independently addressable ``shard-NNNNNN.tar`` files). The
    multimodal counterpart of :func:`export_shards` — binary payloads
    (image/audio/video columns) plus their typed metadata land in ONE
    sequentially-readable file per shard, which is what a data loader
    wants at training time (parquet row groups are columnar; a sample
    loader wants row-contiguous bytes).

    ``member_cols`` maps column → member extension, e.g.
    ``{"payload": "wav", "meta": "json"}``. Binary columns write
    as-is; strings write UTF-8; anything else JSON-encodes.

    DETERMINISTIC BYTES: shard assignment is md5(key) mod n_shards,
    samples sort by key within the shard, and tar headers are
    normalized (mtime 0, uid/gid 0) — so a re-run reproduces every
    shard BYTE-IDENTICALLY and the manifest's per-shard tar md5 is a
    content hash a loader (or verify_webdataset) can trust.

    CRASH-SAFE: shards land in a fresh generation directory
    (``data.next-*``); only after every shard AND the manifest are
    written does the swap happen (old ``data`` renamed aside, new
    renamed in, manifest replaced atomically, old generation deleted
    LAST) — a failed or interrupted re-export leaves the previous
    data + manifest fully intact, the same old-state-survives
    protocol as the streaming lanes' BatchStore.

    100 TB shape: one hash Exchange on the shard id, then each shard
    streams through ONE applyInPandas task that writes its tar
    executor-side — no driver materialization; the returned manifest
    rows are n_shards tiny tuples. Size shards via ``n_shards`` to the
    loader convention (~100 MB–1 GB each), or pass
    ``target_shard_bytes`` and the shard count is DERIVED from one
    cheap pre-write aggregation over estimated member tar footprints
    (payload + 512-byte header + 512-padding per member) — loaders
    specify shard BYTES, not counts (round-11 agenda #6). The
    estimate treats non-binary/string members as their string cast
    (±a few bytes vs the JSON dump), so realized shards track the
    target within the usual hash-balance spread, not exactly. The
    derived count is deterministic for a given input, so re-run
    byte-determinism is preserved. The tar is STREAMED member by
    member to disk with an incremental md5, so a shard need NOT fit
    in task memory — only its largest single member must. ``out_dir``
    must be a path every executor can write and the driver can list
    (local/NFS here; the snapshot-store pattern covers object stores).
    """
    import tarfile  # noqa: F401 — validated importable before the job

    if not member_cols:
        raise ValueError("member_cols must map at least one column")
    missing = [c for c in {key_col, *member_cols} if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in df: {missing}")
    for col, ext in member_cols.items():
        # '.' in an extension breaks read_webdataset's (key, ext)
        # split for EXTERNAL corpora (no manifest to consult) and the
        # WebDataset loader convention itself; '/' would smuggle
        # directories into member names
        if not ext or "." in ext or "/" in ext:
            raise ValueError(
                f"member extension {ext!r} for column {col!r} must be "
                "non-empty and contain no '.' or '/'"
            )
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    binary_cols = {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "binary"
    }
    string_cols = {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    }
    if target_shard_bytes is not None:
        if target_shard_bytes < 1:
            raise ValueError("target_shard_bytes must be >= 1")
        # the sizing agg + the tar write are TWO passes over df, and
        # Spark shares no subtrees between jobs — an expensive
        # upstream (quality scoring, the v2 chain) would run twice
        # (review finding; the token_budget_select localCheckpoint
        # discipline). One eager materialization pins the lineage;
        # cost = one local write of the export rows, which the export
        # was about to read in full anyway.
        df = df.localCheckpoint(eager=True)
        # one cheap agg: estimated tar footprint of every member
        # (payload rounded up to the 512-byte tar block + one 512-byte
        # header; NULL members write nothing). Single-member payloads
        # are far below 2^53, so the float floor is exact.
        import math

        def member_size(c: str) -> F.Column:
            sz = (
                F.octet_length(F.col(c))
                if c in binary_cols or c in string_cols
                else F.octet_length(F.col(c).cast("string"))
            )
            pad = F.floor((sz + F.lit(511)) / F.lit(512)) * 512
            return F.when(F.col(c).isNull(), F.lit(0)).otherwise(
                (pad + F.lit(512)).cast("long")
            )

        total = df.agg(
            F.sum(
                sum((member_size(c) for c in sorted(member_cols)), F.lit(0))
            ).alias("b")
        ).collect()[0]["b"] or 0
        n_shards = max(1, math.ceil(total / target_shard_bytes))

    os.makedirs(out_dir, exist_ok=True)
    _recover_generation(out_dir)
    # reap crash leftovers from prior interrupted exports. Staging
    # dirs and staged manifests are always safe to drop; an old
    # generation is dropped ONLY when a live 'data' exists — after a
    # crash inside the swap window it may be the only surviving copy,
    # and _recover_generation above has just restored it in that case
    # (review finding: the old unconditional reap deleted it).
    has_live = os.path.isdir(os.path.join(out_dir, "data"))
    for stale in os.listdir(out_dir):
        if stale.startswith("data.next-") or (
            has_live and stale.startswith("data.old-")
        ):
            shutil.rmtree(os.path.join(out_dir, stale), ignore_errors=True)
        elif stale.startswith("webdataset_manifest.json.next-"):
            os.remove(os.path.join(out_dir, stale))
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(out_dir, f"data.next-{token}")
    os.makedirs(data_dir)
    cols = sorted(member_cols)
    exts = dict(member_cols)

    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12), 16, 10)
        .cast("long"),
        F.lit(n_shards),
    ).alias("_shard")
    data = df.select(shard, F.col(key_col).cast("string").alias("_key"), *cols)

    def write_shard(pdf):
        import hashlib
        import io
        import tarfile as _tarfile

        import pandas as pd

        # contract checks where they're cheap (the data is already in
        # hand): NULL keys can't name a member (and NULL-shard the
        # whole row); duplicate keys would collide on '{key}.{ext}'
        # member names AND make member order partition-dependent,
        # breaking the byte-determinism promise. Duplicates of a key
        # always land in the SAME shard (shard = md5(key) mod n), so
        # the per-shard check is complete.
        if pdf["_key"].isna().any():
            raise ValueError(
                f"write_webdataset: NULL {key_col!r} keys cannot name "
                "tar members — filter or synthesize keys first"
            )
        dup = pdf["_key"].duplicated()
        if dup.any():
            raise ValueError(
                "write_webdataset: duplicate sample keys "
                f"{sorted(pdf['_key'][dup].unique())[:5]} — keys must be "
                "unique (one sample per key)"
            )
        sid = int(pdf["_shard"].iloc[0])
        pdf = pdf.sort_values("_key", kind="mergesort")

        class _HashingFile:
            # write-through wrapper: streams tar bytes to disk while
            # folding them into an incremental md5 — the whole-shard
            # BytesIO (and its shard-fits-in-memory ceiling) is gone;
            # only one MEMBER's payload is ever in memory at once
            def __init__(self, fh):
                self._fh = fh
                self._md5 = hashlib.md5()
                self._n = 0

            def write(self, b):
                self._fh.write(b)
                self._md5.update(b)
                self._n += len(b)
                return len(b)

            def tell(self):
                return self._n

            def flush(self):
                self._fh.flush()

            def close(self):  # tarfile closes the fileobj it owns only
                pass          # when it opened it — we own this handle

        path = os.path.join(data_dir, f"shard-{sid:06d}.tar")
        tmp = path + ".inprogress"
        with open(tmp, "wb") as fh:
            w = _HashingFile(fh)
            with _tarfile.open(fileobj=w, mode="w") as tar:
                for _, row in pdf.iterrows():
                    wrote_any = False
                    for c in cols:
                        v = row[c]
                        if v is None:
                            continue
                        wrote_any = True
                        if c in binary_cols:
                            payload = bytes(v)
                        elif c in string_cols:
                            payload = str(v).encode("utf-8")
                        else:
                            payload = json.dumps(
                                v, sort_keys=True, default=str
                            ).encode("utf-8")
                        info = _tarfile.TarInfo(
                            name=f"{row['_key']}.{exts[c]}"
                        )
                        info.size = len(payload)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        tar.addfile(info, io.BytesIO(payload))
                    if not wrote_any:
                        raise ValueError(
                            "write_webdataset: sample "
                            f"{row['_key']!r} has every member column NULL "
                            "— a memberless sample is invisible to the "
                            "loader and would desync the manifest's "
                            "n_samples from the tar contents"
                        )
        os.replace(tmp, path)
        return pd.DataFrame(
            [
                {
                    "shard": sid,
                    "n_samples": len(pdf),
                    "tar_bytes": w._n,
                    "tar_md5": w._md5.hexdigest(),
                }
            ]
        )

    try:
        stats = (
            data.groupBy("_shard")
            .applyInPandas(
                write_shard,
                "shard int, n_samples long, tar_bytes long, tar_md5 string",
            )
            .collect()
        )
        manifest = {
            "format": "webdataset",
            "key_col": key_col,
            "member_cols": exts,
            "n_shards": n_shards,
            "shards": {
                f"shard-{r['shard']:06d}.tar": {
                    "n_samples": r["n_samples"],
                    "tar_bytes": r["tar_bytes"],
                    "tar_md5": r["tar_md5"],
                }
                for r in stats
            },
            "total_samples": int(sum(r["n_samples"] for r in stats)),
        }
        if target_shard_bytes is not None:
            manifest["target_shard_bytes"] = int(target_shard_bytes)
        # the manifest is STAGED INSIDE the generation dir so the one
        # `rename(data.next-*, data)` below publishes data + manifest
        # atomically — the old two-step (rename data, then replace a
        # top-level manifest) had a crash window pairing NEW data with
        # the OLD manifest, after which the next writer's reap deleted
        # the only data matching the on-disk manifest (round-11
        # advice). Readers resolve via _manifest_path.
        with open(
            os.path.join(data_dir, "webdataset_manifest.json"), "w"
        ) as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
    except BaseException:
        # failed export: the previous generation (data + manifest) is
        # untouched; drop only our staging dir
        shutil.rmtree(data_dir, ignore_errors=True)
        raise

    # swap: old generation survives until the new one is fully live,
    # and is deleted LAST
    live = os.path.join(out_dir, "data")
    old = os.path.join(out_dir, f"data.old-{token}")
    if os.path.isdir(live):
        os.rename(live, old)
    os.rename(data_dir, live)  # publishes data + manifest in one step
    shutil.rmtree(old, ignore_errors=True)
    # convenience mirror for pre-round-12 readers; NON-authoritative
    # (readers prefer the in-generation copy) and BEST-EFFORT: the
    # export is already published, so a failed mirror write (ENOSPC,
    # permissions) must not turn a successful export into an exception
    # (review finding) — the mirror just goes stale, which readers
    # tolerate by design
    try:
        man_tmp = os.path.join(
            out_dir, f"webdataset_manifest.json.next-{token}"
        )
        with open(man_tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(man_tmp, os.path.join(out_dir, "webdataset_manifest.json"))
    except OSError:
        pass
    return manifest


def _known_exts(out_dir: str, data_dir: str) -> tuple[str, ...]:
    """Member extensions pinned by our own manifest, longest first —
    so keys containing '.' survive the (key, ext) split. Empty for
    foreign corpora without a manifest (last-dot convention applies;
    write_webdataset rejects dotted extensions, so the fallback is
    only ever ambiguous for foreign tars, where last-dot IS the
    convention)."""
    man_path = _manifest_path(out_dir, data_dir)
    if not os.path.exists(man_path):
        return ()
    with open(man_path) as f:
        member_cols = json.load(f).get("member_cols", {})
    return tuple(sorted(set(member_cols.values()), key=len, reverse=True))


def _shard_tars(data_dir: str) -> list[str]:
    """Sorted shard tar paths of a generation dir (local listing —
    metadata only, no data read)."""
    if not os.path.isdir(data_dir):
        raise FileNotFoundError(f"no webdataset data dir at {data_dir}")
    return [
        os.path.join(data_dir, n)
        for n in sorted(os.listdir(data_dir))
        if n.endswith(".tar")
    ]


_WDS_BATCH_BYTES = 64 << 20  # member-row flush threshold per task


def _is_local(path: str) -> bool:
    from urllib.parse import urlparse

    return urlparse(path).scheme in ("", "file")


def _read_webdataset_remote(spark: SparkSession, out_dir: str) -> DataFrame:
    """Non-local-scheme ingest lane (hdfs://, s3a://…): the pre-round-12
    binaryFile reader — whole-shard content per task (the documented
    memory ceiling the LOCAL lane no longer has), last-dot member
    split (no driver-readable manifest on these schemes). Kept so
    foreign corpora on Hadoop filesystems stay ingestable (review
    finding: the streaming-path rewrite silently dropped them)."""
    import io
    import tarfile

    files = spark.read.format("binaryFile").load(
        os.path.join(out_dir, "data", "shard-*.tar")
    )

    def walk(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                name = os.path.basename(path)
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                    for m in tar:
                        if not m.isfile():
                            continue
                        stem, dot, ext = m.name.rpartition(".")
                        if not dot:
                            stem, ext = m.name, ""
                        rows.append(
                            (name, stem, ext, tar.extractfile(m).read())
                        )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["shard_file", "key", "ext", "data"]
                )

    return files.select("path", "content").mapInPandas(
        walk, "shard_file string, key string, ext string, data binary"
    )


def read_webdataset(
    spark: SparkSession,
    out_dir: str,
    batch_bytes: int = _WDS_BATCH_BYTES,
) -> DataFrame:
    """Read WebDataset tar shards back as (shard, key, ext, data) —
    one row per member, binary payloads intact. The inverse of
    :func:`write_webdataset` (roundtrip pinned by test), and the
    ingest path for externally-produced WebDataset corpora.

    100 TB shape: file-level parallelism (one shard ≈ one task, the
    WARC-reader pattern), but the tasks receive PATHS, not contents —
    each opens its tar in stdlib STREAMING mode (``tarfile.open(path,
    'r|')``), so only one MEMBER is in memory at a time and output
    rows flush every ~64 MB: the read path now has the same
    one-member memory ceiling as the round-11 streaming writer
    (round-11 'what's wrong' #2 — an externally-produced 10 GB shard
    no longer OOMs the reader). Member rows compose with the
    multimodal lanes (audio_stats/image_headers take the binary
    column directly). Non-local ``out_dir`` schemes (hdfs://, s3a://)
    route to :func:`_read_webdataset_remote` — the binaryFile lane
    with the whole-shard memory ceiling — so foreign corpora on
    Hadoop filesystems stay ingestable."""
    import tarfile

    if not _is_local(out_dir):
        return _read_webdataset_remote(spark, out_dir)
    data_dir = _live_data_dir(out_dir)
    tars = _shard_tars(data_dir)
    known = _known_exts(out_dir, data_dir)

    def walk(batches):
        import pandas as pd

        def split_name(name: str) -> tuple[str, str]:
            for ext in known:
                if name.endswith("." + ext) and len(name) > len(ext) + 1:
                    return name[: -len(ext) - 1], ext
            stem, dot, ext = name.rpartition(".")
            return (stem, ext) if dot else (name, "")

        cols = ["shard_file", "key", "ext", "data"]
        for pdf in batches:
            rows, nbytes = [], 0
            for path in pdf["path"]:
                name = os.path.basename(path)
                # 'r|' = forward-only streaming: tarfile holds ONE
                # member block at a time; extractfile must be consumed
                # before advancing, which the immediate read() does
                with tarfile.open(path, "r|") as tar:
                    for m in tar:
                        if not m.isfile():
                            continue
                        stem, ext = split_name(m.name)
                        data = tar.extractfile(m).read()
                        rows.append((name, stem, ext, data))
                        nbytes += len(data)
                        if nbytes >= batch_bytes:
                            yield pd.DataFrame(rows, columns=cols)
                            rows, nbytes = [], 0
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    paths = spark.createDataFrame(
        [(p,) for p in tars], "path string"
    ).repartition(max(len(tars), 1))
    return paths.mapInPandas(
        walk, "shard_file string, key string, ext string, data binary"
    )


def verify_webdataset(spark: SparkSession, out_dir: str) -> list[str]:
    """Diff the written shards against ``webdataset_manifest.json``:
    byte-level tar md5 + sample counts (distinct keys per shard).
    Returns human-readable discrepancies (empty = verified) — the
    loader's trust check, and byte-determinism makes it double as the
    re-run's reproducibility proof.

    100 TB shape: the md5s are computed EXECUTOR-SIDE, one shard per
    task, streaming 4 MB chunks through an incremental hash — the
    driver sees only the shard listing (metadata) and n_shards tiny
    (name, bytes, md5) tuples. Round 11 left this as the repo's last
    driver-side full-data path (a sequential ``open().read()`` loop);
    for a 100 TB corpus the trust check is now as distributed as the
    write that produced it. Local/NFS paths only, like the writer —
    a non-local scheme fails loudly here instead of with a confusing
    FileNotFoundError."""
    if not _is_local(out_dir):
        raise ValueError(
            f"verify_webdataset supports local/NFS paths, got {out_dir!r} "
            "(the writer has the same scope; the snapshot-store pattern "
            "covers object stores)"
        )
    data_dir = _live_data_dir(out_dir)
    with open(_manifest_path(out_dir, data_dir)) as f:
        manifest = json.load(f)
    errs: list[str] = []
    tars = _shard_tars(data_dir)
    found = {os.path.basename(p) for p in tars}
    want = manifest["shards"]

    def hash_shards(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                md5, n = hashlib.md5(), 0
                with open(path, "rb") as fh:
                    for chunk in iter(lambda: fh.read(4 << 20), b""):
                        md5.update(chunk)
                        n += len(chunk)
                rows.append((os.path.basename(path), n, md5.hexdigest()))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["name", "tar_bytes", "tar_md5"]
                )

    got_hashes = {
        r["name"]: (r["tar_bytes"], r["tar_md5"])
        for r in spark.createDataFrame([(p,) for p in tars], "path string")
        .repartition(max(len(tars), 1))
        .mapInPandas(hash_shards, "name string, tar_bytes long, tar_md5 string")
        .collect()
    }
    for name in sorted(set(want) | found):
        if name not in found:
            errs.append(f"{name}: missing from data")
            continue
        if name not in want:
            errs.append(f"{name}: not in manifest")
            continue
        nbytes, md5hex = got_hashes[name]
        if md5hex != want[name]["tar_md5"]:
            errs.append(f"{name}: tar md5 mismatch")
        if nbytes != want[name]["tar_bytes"]:
            errs.append(f"{name}: size {nbytes} != {want[name]['tar_bytes']}")
    got_samples = (
        read_webdataset(spark, out_dir)
        .select("shard_file", "key")
        .distinct()
        .groupBy("shard_file")
        .count()
        .collect()
    )
    for r in got_samples:
        w = want.get(r["shard_file"])
        if w is not None and w["n_samples"] != r["count"]:
            errs.append(
                f"{r['shard_file']}: {r['count']} samples != "
                f"{w['n_samples']} in manifest"
            )
    return errs
