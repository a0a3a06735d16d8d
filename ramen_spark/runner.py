"""`ramen run` — deploy a program and its archive surface.

The reference's supervisor starts workers, wires their output
ringbufs, and the archivist decides what gets archived; the GC
enforces retention; readers (tail/replay/Graphite/API) consume the
archives (SURVEY §3). Spark-first: `deploy_program` materializes a
compiled Program, writes each ``PERSIST FOR`` function's output to
its Parquet archive partitioned by the function's FACTORS, enforces
the retention horizon, and registers everything in an
``api.ArchiveCatalog`` — after which the whole read surface
(metrics_find / render / get-timeseries / replay_via_recompute /
the archivist solver) serves those functions with no further wiring.

`deploy_program_streaming` is the always-on mode: every function runs
as its own Structured Streaming query and appends to its own parquet
spool, and a child reads the nearest durable stream — a stateless
parent is inlined into its children's queries instead of being read
back from its spool.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ramen_spark.api import ArchiveCatalog
from ramen_spark.sources.archive import archive, enforce_retention

__all__ = ["deploy_program"]


def _time_col(df: DataFrame) -> str | None:
    for c in ("start", "ts", "time"):
        if c in df.columns:
            return c
    return None


def deploy_program(
    spark: SparkSession,
    prog,
    archive_root: str,
    params: dict[str, Any] | None = None,
    externals: dict[str, DataFrame] | None = None,
    now_seconds: float | None = None,
    catalog: ArchiveCatalog | None = None,
) -> tuple[dict[str, DataFrame], ArchiveCatalog]:
    """Materialize ``prog`` and archive its persistent functions.

    Per public function with ``PERSIST FOR``: write
    ``{archive_root}/{prog.name}/{fn}`` partitioned by day-bucket +
    the function's FACTORS, drop partitions past the retention
    horizon, and register the table (fq = ``prog.name/fn``) in the
    catalog. Returns (function DataFrames, catalog)."""
    import time

    now = now_seconds if now_seconds is not None else time.time()
    cat = catalog if catalog is not None else ArchiveCatalog()
    dfs = prog.materialize(
        spark, params=params, externals=externals, register_views=False
    )
    for name, fn in prog.functions.items():
        if fn.persist_for is None or fn.is_private:
            continue
        df = dfs.get(name)
        if df is None:
            continue
        tcol = _time_col(df)
        if tcol is None:
            continue  # no event time → nothing to slice or retain
        path = f"{archive_root}/{prog.name}/{name}"
        facs = [f_ for f_ in fn.factors if f_ in df.columns]
        # overwrite: a deploy recomputes the function's full output,
        # so re-deploys stay idempotent (incremental appends are the
        # streaming path's job)
        archive(df, path, time_col=tcol, factors=facs, mode="overwrite")
        enforce_retention(path, fn.persist_for, now)
        stop = "stop" if "stop" in df.columns else None
        cat.register(
            f"{prog.name}/{name}", path,
            time_col=tcol, stop_col=stop, factors=facs, doc=fn.doc,
        )
    # persist the catalog next to the archives (the confserver's role)
    # so fresh processes (CLI tail/timeseries/httpd) rediscover tables
    import os as _os

    cat.save(_os.path.join(archive_root, "_catalog.json"))
    return dfs, cat


# univocity's input buffer for the live CSV tail: Spark builds one
# parser per file, with a 1 Mi-char buffer by default that the tail's
# small files leave mostly empty, and each file is parsed by every
# query that reads the tail through inlined stateless functions. A
# longer cell still parses: the buffer refills.
_CSV_BUFFER_CHARS = 16384


def _compile_fn(op, src, params, order_cols) -> tuple[DataFrame, str]:
    """Route one function's Operation to the streaming fold engine or
    the stateless Column compiler (the same decision the batch body
    makes). Also returns the route: ``"stateless"`` (compile_operation),
    ``"keyed"`` (a per-group fold) or ``"constant"`` (a fold whose
    stateful operator groups by a constant key)."""
    from pyspark.sql.types import ArrayType

    from ramen_spark.plans.raql import (
        _commit_streaming,
        _needs_fold_engine,
        compile_operation,
    )

    src_arr = frozenset(
        f_.name for f_ in src.schema.fields
        if isinstance(f_.dataType, ArrayType)
    )
    if _needs_fold_engine(op, src_arr) or op.group_by or (
        op.commit_after is not None
    ):
        df, constant_key = _commit_streaming(op, src, None, params, order_cols)
        return df, "constant" if constant_key else "keyed"
    return compile_operation(op, src, params), "stateless"


def _inlinable(op, route: str, n_parents: int) -> bool:
    """Whether children read this function's compiled stream rather
    than its spool: a stateless projection and WHERE over one parent.
    SORT LAST is a stateful reorder buffer, and a volatile field (RANDOM,
    now) would draw one value per query that evaluates it."""
    from ramen_spark.plans.raql import Star, _volatile

    exprs = [f_.expr for f_ in op.fields if not isinstance(f_.expr, Star)]
    return (
        route == "stateless"
        and op.sort_last is None
        and n_parents == 1
        and not any(_volatile(e) for e in exprs + [op.where] if e is not None)
    )


def _logs_spool(ckpt: str, spool: str) -> bool:
    """Whether a file source of checkpoint ``ckpt`` has logged a file of
    ``spool``: the query was started reading that spool and must keep
    reading it. Spark does not tie a file-source log to its directory:
    restarted on another one, the source replays the logged spool files
    under the new base path, which fails the query, and takes every
    file of the new directory for unseen."""
    import glob
    import json
    import os
    from urllib.parse import unquote, urlparse

    spool = os.path.abspath(spool)
    for log in glob.glob(os.path.join(glob.escape(ckpt), "sources", "*", "*")):
        with open(log) as fh:
            for line in fh.read().splitlines()[1:]:
                try:
                    path = json.loads(line)["path"]
                except (ValueError, TypeError, KeyError):
                    continue  # not a file-source entry
                if os.path.dirname(unquote(urlparse(path).path)) == spool:
                    return True
    return False


def _start_spooled(spark, compiled, route, work_dir, prog_name, name):
    """Start one function's query, appending to the parquet spool
    ``work_dir/<prog>/<fn>`` (checkpoint ``work_dir/_ckpt/<prog>/<fn>``).
    A constant-key stateful query starts with ONE state partition (see
    deploy_program_streaming): the session's count would add stores
    that are always empty, yet each loads, commits and checkpoints on
    every micro-batch."""
    import os

    spool = os.path.join(work_dir, prog_name, name)
    os.makedirs(spool, exist_ok=True)
    writer = (
        compiled.writeStream.format("parquet")
        .option("path", spool)
        .option("checkpointLocation", _ckpt_dir(work_dir, prog_name, name))
        .outputMode("append")
    )
    if route != "constant":
        return compiled, writer.start(), spool
    # start() clones the session conf, so the override covers this
    # one query only
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        q = writer.start()
    finally:
        spark.conf.set(key, saved)
    return compiled, q, spool


def _ckpt_dir(work_dir: str, prog_name: str, name: str) -> str:
    import os

    return os.path.join(work_dir, "_ckpt", prog_name, name)


def deploy_program_streaming(
    spark: SparkSession,
    prog,
    work_dir: str,
    source_streams: dict[str, DataFrame],
    params: dict[str, Any] | None = None,
    order_cols: dict[str, list[str]] | None = None,
):
    """The reference's ALWAYS-ON mode at the program level: every
    function runs as its own Structured Streaming query and appends
    to its own durable parquet spool (the Spark twin of the reference's
    per-function ringbufs, src/RingBuf.ml), which users and `ramen
    tail` read.

    A child reads the nearest durable stream. A stateless parent (a
    projection and WHERE over one parent, with no SORT LAST and no
    RANDOM or now) is inlined: the child reads the parent's compiled
    streaming DataFrame, so it waits for no parent micro-batch — the
    reference's top-half WHERE run close to the source (SURVEY §4).
    Every other parent — a fold, a YIELD clock, a volatile or SORT
    LAST function — is read through its spool, and an inlined chain
    always bottoms out at a spool, a CSV/file source or an injected
    stream. Each query thus holds at most one stateful operator. A
    child whose checkpoint was started reading a now-inlined parent's
    spool keeps reading that spool (see _logs_spool).

    ``source_streams``: name → streaming DataFrame for external
    parents. Each function compiles from its parsed RaQL Operation —
    the stateless shapes through the Column compiler, everything else
    through compile_commit_streaming (per-group scale path or
    check-all worker mode). Ordering inside micro-batches comes from
    ``order_cols[fn]`` or the function's ts/start column.

    ``source_streams`` keys are resolved two ways: a key matching a
    FUNCTION NAME injects that stream as the function's output (the
    reference test-runner's feed mechanism, src/RamenTests.ml — used
    for YIELD clocks and LISTEN sources whose recorded tuples are
    replayed); any other key serves as an external parent (cross-
    program references, including ``../prog/fn`` relative paths).

    State partitions: a query whose stateful operator groups by a
    constant key — check-all worker mode (``_w``) or a fold with no
    GROUP BY (``_g``) — starts with one state partition, since its
    state is one entry; keyed per-group folds keep the session's
    ``spark.sql.shuffle.partitions``. The plan decides, and the session
    conf is left as it was. Spark keeps the count in the checkpoint's
    offset log, so a checkpoint created with another count restarts
    with that count and its state.

    Returns {name: (output_stream_reader, StreamingQuery, spool_dir)}:
    drive with query.processAllAvailable() in topo order (tests) or
    let the triggers run; read a function's live output by re-reading
    its spool.
    """
    import os
    import posixpath

    from ramen_spark.plans.raql import ReadCsv, _spark_type_of_csv_field

    # program parameter defaults apply exactly as in batch materialize,
    # and program-scope global maps get their engine-reserved stores
    # (fold-local writes; see plans.raql mapadd handling)
    params = {**getattr(prog, "defaults", {}), **(params or {})}
    params.setdefault(
        "__globals", {n: {} for n in getattr(prog, "global_names", ())}
    )
    params.setdefault("__globals_rel", {})
    out: dict[str, tuple[DataFrame, Any, str]] = {}
    inlined: set[str] = set()  # functions whose children read out[fn][0]

    def _of(parent: str, child: str) -> DataFrame:
        stream_df, q, spool = out[parent]
        if q is None or (
            parent in inlined
            and not _logs_spool(_ckpt_dir(work_dir, prog.name, child), spool)
        ):
            # a source (CSV tail / injected stream) or an inlined
            # stateless function: chain on its compiled stream, which
            # bottoms out at a durable stream
            return stream_df
        return (
            spark.readStream.schema(stream_df.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(spool)
        )

    order = prog._topo_order()
    for name in order:
        fn = prog.functions[name]
        if name in source_streams:
            # function-output injection: the provided stream IS this
            # function's output (no query of its own — children chain
            # on the durable stream directly)
            out[name] = (source_streams[name], None, None)
            continue
        if isinstance(fn.op, ReadCsv):
            # READ FROM FILE as a LIVE source: tail the file/glob as a
            # CSV stream (scalar columns; the compound/ClickHouse cell
            # layouts stay batch-only here)
            from pyspark.sql import types as T

            rc = fn.op
            schema = T.StructType(
                [
                    T.StructField(fname, _spark_type_of_csv_field(ts), True)
                    for fname, ts in rc.fields
                ]
            )
            reader = (
                spark.readStream.format("csv")
                .schema(schema)
                .option("sep", rc.separator)
                .option("inputBufferSize", _CSV_BUFFER_CHARS)
            )
            if rc.null_str:
                reader = reader.option("nullValue", rc.null_str)
            load_path = rc.path
            if os.path.isfile(load_path):
                # file streams tail DIRECTORIES; narrow with a glob
                reader = reader.option(
                    "pathGlobFilter", os.path.basename(load_path)
                )
                load_path = os.path.dirname(load_path) or "."
            out[name] = (reader.load(load_path), None, load_path)
            continue
        if fn.op is None or not hasattr(fn.op, "fields"):
            # ListenFor and other non-relational sources: wire their
            # live streams explicitly (streaming.sources.listen_for /
            # listen_for_graphite) via source_streams
            raise NotImplementedError(
                f"{name}: provide this source as a stream in "
                "source_streams (LISTEN sources: streaming.sources."
                "listen_for / listen_for_graphite)"
            )
        if not fn.parents and (fn.op.is_yield or not fn.op.sources):
            # YIELD / EVERY clock as a LIVE source: the rate stream at
            # the declared period, shaped like the batch tick frame
            # (_tick ordinal + _now wall clock) so the same compile
            # path applies (src/CodeGenLib_Skeletons.ml:403-431)
            from pyspark.sql import functions as F

            from ramen_spark.plans.raql import _eval_const
            from ramen_spark.streaming.sources import rate_clock

            period = _eval_const(fn.op.every, params)
            period = float(period) if period else 1.0
            clock = rate_clock(spark, period).select(
                F.col("tick").alias("_tick"),
                F.col("t").cast("double").alias("_now"),
            )
            out[name] = _start_spooled(
                spark, *_compile_fn(fn.op, clock, params, ["_tick"]),
                work_dir, prog.name, name,
            )
            continue
        parents: list[DataFrame] = []
        for parent in fn.parents:
            candidates = [parent]
            if parent.startswith(".."):
                # relative program path (plans.program.materialize's
                # resolution, any_ext_child.ramen)
                candidates.append(
                    posixpath.normpath(posixpath.join(prog.name, parent))
                )
            resolved = None
            for c in candidates:
                if c in out:
                    resolved = [_of(c, name)]
                    break
                if c in source_streams:
                    resolved = [source_streams[c]]
                    break
            if resolved is None:
                # `prog#_/func` — every running instance of the program
                # (plans.program.materialize's wildcard resolution)
                for c in candidates:
                    if "#_" not in c:
                        continue
                    pre, post = c.split("#_", 1)
                    matches = [
                        v
                        for k, v in source_streams.items()
                        if k.startswith(pre + "#") and k.endswith(post)
                    ]
                    if matches:
                        resolved = matches
                        break
            if resolved is None:
                raise KeyError(f"parent {parent!r} of {name!r} not provided")
            parents.extend(resolved)
        src = parents[0]
        if len(parents) > 1:
            # merged stream carries the fields COMMON to all parents,
            # by name (reference parent-type unification,
            # RamenOperation.ml — same rule as the batch body)
            common = [
                c for c in src.columns
                if all(c in p_.columns for p_ in parents[1:])
            ]
            if any(set(p_.columns) != set(src.columns) for p_ in parents[1:]):
                src = src.select(*common)
                rest = [p_.select(*common) for p_ in parents[1:]]
            else:
                rest = parents[1:]
            for p_ in rest:
                src = src.unionByName(p_)

        oc = (order_cols or {}).get(name)
        if oc is None:
            for c in ("ts", "start", "_seq"):
                if c in src.columns:
                    oc = [c]
                    break
            else:
                # no event-time or explicit sequence column: arrival
                # order within each micro-batch — the reference's
                # ringbuf consumption order
                oc = []
        compiled, route = _compile_fn(fn.op, src, params, oc)
        if _inlinable(fn.op, route, len(parents)):
            inlined.add(name)
        out[name] = _start_spooled(
            spark, compiled, route, work_dir, prog.name, name
        )
    return out
