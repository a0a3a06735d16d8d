"""The `ramen` command-line surface (src/RamenCliCmd.ml) for the Spark
engine, as `python -m ramen_spark <cmd>`.

Subcommand parity (reference → here):

- ``ramen compile prog.ramen``      → ``compile`` (parse/compile check,
  prints each function and its clause shape)
- ``ramen run prog.ramen``          → ``run`` (deploy: materialize, write
  FACTORS-partitioned archives with retention, persist the catalog
  manifest — the confserver's role — under the archive root)
- ``ramen test spec.test``          → ``test`` (testkit.run_spec_file)
- ``ramen tail fq``                 → ``tail`` (last-N tuples, dt-pruned
  top-k; --where/--since/--until)
- ``ramen replay fq``               → ``replay`` (time-sliced archive read)
- ``ramen timeseries fq field``     → ``timeseries`` (regular grid over
  the archive, bucket-spreading)
- ``ramen ps``                      → ``tables`` (catalog listing)
- ``ramen httpd``                   → ``httpd`` (Graphite impersonator +
  JSON-RPC v1 over the archives)

Every command creates (or joins) the tuned SparkSession from
session.get_spark; state between invocations lives entirely in the
archive root (parquet/orc + ``_catalog.json``), so each command is a
fresh process like the reference's CLI.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _parse_param(kv: str):
    k, _, v = kv.partition("=")
    if not _:
        raise SystemExit(f"bad --param {kv!r}: expected name=value")
    for conv in (int, float):
        try:
            return k, conv(v)
        except ValueError:
            pass
    if v.lower() in ("true", "false"):
        return k, v.lower() == "true"
    return k, v


def _load_catalog(archive_root: str):
    from ramen_spark.api import ArchiveCatalog

    manifest = os.path.join(archive_root, "_catalog.json")
    if not os.path.exists(manifest):
        raise SystemExit(
            f"no catalog at {manifest} — `run` a program with this "
            f"--archive-root first"
        )
    return ArchiveCatalog.load(manifest)


def _compile_file(path: str):
    from ramen_spark.plans.raql import compile_program

    name = os.path.basename(path).removesuffix(".ramen")
    return compile_program(
        open(path).read(), name=name, base_dir=os.path.dirname(path) or "."
    )


def _print_rows(df, limit: int | None = None) -> None:
    # Stream partitions through the driver instead of collect(): an
    # unbounded replay/tail slice must not have to fit in CLI memory.
    rows = (df.limit(limit) if limit is not None else df).toLocalIterator()
    cols = df.columns
    print("\t".join(cols))
    for r in rows:
        print("\t".join("\\N" if r[c] is None else str(r[c]) for c in cols))


def cmd_compile(args) -> int:
    rc = 0
    for path in args.files:
        try:
            prog = _compile_file(path)
        except Exception as e:
            print(f"{path}: FAILED: {e}", file=sys.stderr)
            rc = 1
            continue
        for fname, fn in prog.functions.items():
            vis = "private" if fn.is_private else "public"
            persist = (
                f" persist={fn.persist_for}s" if fn.persist_for else ""
            )
            print(f"{prog.name}/{fname}: {vis}{persist}")
    return rc


def cmd_info(args) -> int:
    """`ramen info` analogue: per-function operation metadata from the
    compiled program — parents, select fields, grouping, commit shape,
    event time, factors, retention (the reference prints the typed
    signature from the compiled bin; we print the compiled plan's
    metadata without needing source data)."""
    from ramen_spark.plans.raql import Star, _default_name

    rc = 0
    for path in args.files:
        try:
            prog = _compile_file(path)
        except Exception as e:
            print(f"{path}: FAILED: {e}", file=sys.stderr)
            rc = 1
            continue
        print(f"program {prog.name}")
        if prog.defaults:
            pstr = ", ".join(
                f"{k}={v!r}" for k, v in sorted(prog.defaults.items())
            )
            print(f"  parameters: {pstr}")
        for fname, fn in prog.functions.items():
            vis = "private" if fn.is_private else "public"
            print(f"  function {fname}: {vis}")
            if fn.doc:
                print(f"    doc: {fn.doc}")
            if fn.parents:
                print(f"    from: {', '.join(fn.parents)}")
            if fn.factors:
                print(f"    factors: {', '.join(fn.factors)}")
            if fn.persist_for:
                print(f"    persist for: {fn.persist_for}s")
            op = fn.op
            if op is None:
                continue
            if not hasattr(op, "fields") or not hasattr(op, "group_by"):
                # ListenFor / ReadCsv source ops: fixed schema, no
                # aggregate clauses
                print(f"    source: {type(op).__name__}")
                continue
            names = []
            for i, sf in enumerate(op.fields):
                if isinstance(sf, Star) or isinstance(sf.expr, Star):
                    names.append("*")
                else:
                    names.append(sf.alias or _default_name(sf.expr, i))
            if names:
                print(f"    select: {', '.join(names)}")
            if op.group_by:
                print(f"    group by: {len(op.group_by)} expr(s)")
            if op.commit_after is not None:
                kind = "before" if op.commit_before else "after"
                keep = "" if op.flush else ", keep"
                print(f"    commit {kind} <cond>{keep}")
            if op.sort_last is not None:
                print(f"    sort last {op.sort_last[0]}")
            if op.notify:
                print(f"    notify: {op.notify}")
            if op.every:
                print(f"    every: {op.every}s")
            if op.event_time is not None:
                (start, scale), dur = op.event_time[0], op.event_time[1]
                s = f"event starting at {start}"
                if scale != 1.0:
                    s += f" * {scale}"
                if dur:
                    s += f" with duration {dur}"
                print(f"    {s}")
    return rc


def cmd_links(args) -> int:
    """`ramen links` analogue: the dataflow edges of the compiled
    programs — one `parent -> program/function` line per FROM edge
    (the reference prints the out-ref wiring the supervisor maintains;
    here the DAG is explicit in the compiled plan)."""
    rc = 0
    for path in args.files:
        try:
            prog = _compile_file(path)
        except Exception as e:
            print(f"{path}: FAILED: {e}", file=sys.stderr)
            rc = 1
            continue
        for fname, fn in prog.functions.items():
            for parent in fn.parents:
                print(f"{parent}\t->\t{prog.name}/{fname}")
            for dep in fn.after:
                print(f"{dep}\t~>\t{prog.name}/{fname}\t(ordering)")
    return rc


def cmd_notify(args) -> int:
    """`ramen notify` analogue: inject a notification into the alerter
    FSM and print the messages it would deliver. The reference posts
    into the confserver for the alerter daemon; here the FSM is a
    library, so the command runs an ephemeral alerter with a
    stdout contact, advances past the debounce window, and shows the
    start (and stop, with --stop) deliveries."""
    from ramen_spark.streaming.alerter import Alerter, Contact

    params = dict(_parse_param(p) for p in args.param or [])

    def via(inc_id, contact, is_start, notif):
        kind = "START" if is_start else "STOP"
        pstr = " ".join(
            f"{k}={v}" for k, v in sorted(notif["parameters"].items())
        )
        print(f"{kind} {notif['name']} via {contact}"
              + (f" [{pstr}]" if pstr else ""))

    a = Alerter(
        teams={args.team: [Contact(name="stdout", via=via)]},
        debounce_delay=args.debounce,
    )
    a.notify(0.0, args.name, firing=not args.stop, parameters=params,
             certainty=args.certainty)
    a.advance(args.debounce + 1.0)
    if args.stop:
        # a lone stop extinguishes nothing (no pending incident) —
        # mirror the reference by saying so
        if not a.incidents:
            print(f"no pending incident named {args.name!r}")
    for inc in a.incidents.values():
        for t, event in inc.journal:
            print(f"journal t={t:g} {event}")
    return 0


def cmd_run(args) -> int:
    from ramen_spark.runner import deploy_program
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    params = dict(_parse_param(p) for p in args.param or [])
    from ramen_spark.api import ArchiveCatalog

    manifest = os.path.join(args.archive_root, "_catalog.json")
    cat = (
        ArchiveCatalog.load(manifest) if os.path.exists(manifest) else None
    )
    # cross-program parents: later programs on the command line can
    # FROM 'prog/func' of earlier ones (the confserver's wiring role)
    ext: dict = {}
    for path in args.files:
        prog = _compile_file(path)
        dfs, cat = deploy_program(
            spark, prog, args.archive_root, params=params or None,
            externals=ext or None, catalog=cat,
        )
        for fn_name, df in dfs.items():
            ext[f"{prog.name}/{fn_name}"] = df
        for fq in sorted(cat.tables()):
            if fq.startswith(prog.name + "/"):
                print(f"archived {fq}")
    return 0


def cmd_test(args) -> int:
    from ramen_spark.session import get_spark
    from ramen_spark.testkit import run_spec_file

    spark = get_spark("ramen_cli")
    rc = 0
    for path in args.files:
        fails = run_spec_file(spark, path)
        if fails:
            rc = 1
            print(f"{path}: FAILED")
            for f_ in fails[:10]:
                print(f"  {f_}")
        else:
            print(f"{path}: ok")
    return rc


def cmd_tail(args) -> int:
    from ramen_spark.api import tail
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    cat = _load_catalog(args.archive_root)
    where = []
    for w in args.where or []:
        k, eq, v = w.partition("=")
        if not eq:
            raise SystemExit(f"bad --where {w!r}: expected field=value")
        where.append({"lhs": k, "op": "=", "rhs": v})
    df = tail(
        spark, cat, args.fq, last=args.last, where=where or None,
        since=args.since, until=args.until,
    )
    _print_rows(df)
    return 0


def cmd_replay(args) -> int:
    from ramen_spark.session import get_spark
    from ramen_spark.sources.archive import replay

    spark = get_spark("ramen_cli")
    cat = _load_catalog(args.archive_root)
    t = cat.get(args.fq)
    df = replay(spark, t.path, args.since, args.until, time_col=t.time_col)
    _print_rows(df.orderBy(t.time_col).drop("dt"), limit=args.limit)
    return 0


def cmd_timeseries(args) -> int:
    from ramen_spark.api import _timeseries_for
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    cat = _load_catalog(args.archive_root)
    t = cat.get(args.fq)
    series = _timeseries_for(
        spark, cat, args.fq, args.field, ["*"] * len(t.factors),
        args.since, args.until, args.num_points,
        consolidation=args.consolidation,
    )
    step = (args.until - args.since) / args.num_points
    null = "\\N"
    for key, vals in series:
        label = ".".join(key) if key else args.field
        for i, v in enumerate(vals):
            ts = args.since + i * step
            print(f"{label}\t{ts}\t{null if v is None else v}")
    return 0


def cmd_tables(args) -> int:
    cat = _load_catalog(args.archive_root)
    for fq, doc in sorted(cat.tables().items()):
        t = cat.get(fq)
        facs = ",".join(t.factors) or "-"
        print(f"{fq}\t{t.time_col}\t{facs}\t{doc or '-'}")
    return 0


def cmd_ingest_warc(args) -> int:
    """WARC/JSONL crawl files → a documents-shaped parquet table —
    the pipeline's entry point from the CLI (sources/warc.py)."""
    from ramen_spark.session import get_spark
    from ramen_spark.sources.warc import read_warc, warc_to_documents

    spark = get_spark("ramen_cli")
    docs = warc_to_documents(read_warc(spark, args.path))
    docs.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{args.out}: {n} documents")
    return 0


def cmd_datacard(args) -> int:
    """Per-(lang, source) corpus statistics report over a documents
    parquet table — the data card a training run publishes
    (queries.corpus_datacard, pointed at an arbitrary table)."""
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    from ramen_spark.queries import QUERIES

    out = QUERIES["corpus_datacard"](spark, args.dir)
    rows = out.orderBy("lang", "source").collect()
    hdr = out.columns
    print("\t".join(hdr))
    for r in rows:
        print("\t".join(str(r[c]) for c in hdr))
    return 0


def cmd_corpus_diff(args) -> int:
    """Snapshot diff between two documents parquet tables: which docs
    were added/removed/changed (operators.dedup.corpus_diff) — the
    audit a pipeline runs before retraining on a re-crawl."""
    from ramen_spark.operators.dedup import corpus_diff
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    diff = corpus_diff(old, new)
    if args.out:
        diff.write.mode("overwrite").parquet(args.out)
    from pyspark.sql import functions as F

    counts = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    for status in ("added", "removed", "changed"):
        print(f"{status}\t{counts.get(status, 0)}")
    return 0


def cmd_curate(args) -> int:
    """Run the stateless curation stage (streaming/curation.py:curate
    — PII redaction, optional domain blocklist, line-quality
    correction, repetition gate) over a documents parquet table and
    write the surviving cleaned docs."""
    from ramen_spark.session import get_spark
    from ramen_spark.streaming.curation import curate

    spark = get_spark("ramen_cli")
    docs = spark.read.parquet(args.path)
    bl = args.block or []
    url_col = args.url_col if bl else None
    out = curate(docs, blocklist=bl, url_col=url_col)
    out.write.mode("overwrite").parquet(args.out)
    n_in, n_out = docs.count(), spark.read.parquet(args.out).count()
    print(f"{args.out}: {n_out} of {n_in} documents survived curation")
    return 0


def cmd_sketch(args) -> int:
    """Cardinality + frequency sketches over one column of a parquet
    table: a KMV distinct estimate (optionally per group) and the
    count-min estimates of the top-N exact values — the one-screen
    'what's in this column' report for corpus triage
    (operators/sketch.py; both sketches are deterministic and
    mergeable across shards)."""
    from pyspark.sql import functions as F

    from ramen_spark.operators.sketch import (
        count_min_build,
        count_min_lookup,
        kmv_distinct,
    )
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    df = spark.read.parquet(args.path)
    keys = args.by or []
    kmv = kmv_distinct(df, keys, args.column, k=args.k).orderBy(
        *(keys or [F.lit(1)])
    )
    hdr = kmv.columns
    print("\t".join(hdr))
    for r in kmv.collect():
        print("\t".join(str(r[c]) for c in hdr))
    if args.top > 0:
        exact = (
            df.groupBy(args.column)
            .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
            .orderBy(F.col("exact_n").desc(), F.col(args.column).asc())
            .limit(args.top)
        )
        cms = count_min_build(df, args.column, args.depth, args.width)
        est = count_min_lookup(
            cms, exact.select(args.column), args.column, args.depth,
            args.width,
        )
        top = exact.join(est, args.column).orderBy(
            F.col("exact_n").desc(), F.col(args.column).asc()
        )
        print(f"\ntop-{args.top} values (cms depth={args.depth} "
              f"width={args.width}):")
        for r in top.collect():
            print(f"{r[args.column]}\t{r['exact_n']}\t{r['cms_est']}")
    if args.quantiles:
        if not args.id_col:
            print("--quantiles needs --id-col (a unique row id)")
            return 2
        from ramen_spark.operators.sketch import quantile_sketch

        ps = [float(x) for x in args.quantiles.split(",") if x.strip()]
        q = quantile_sketch(
            df, keys, args.column, args.id_col, ps, k=max(args.k, 256)
        ).orderBy(*(keys or [F.lit(1)]))
        print(f"\nquantiles (bottom-k sample, k={max(args.k, 256)}):")
        qh = q.columns
        print("\t".join(qh))
        for r in q.collect():
            print("\t".join(str(r[c]) for c in qh))
    return 0


def cmd_overlap(args) -> int:
    """Set-overlap report between the same column of TWO parquet
    tables via KMV sketch algebra (operators/sketch.py:kmv_overlap):
    |A|, |B|, |A∪B|, |A∩B| and Jaccard per group — the snapshot-
    versioning question ('how much of the new crawl is the old
    crawl?') answered without materializing either distinct set."""
    from pyspark.sql import functions as F

    from ramen_spark.operators.sketch import kmv_overlap
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    a = spark.read.parquet(args.path_a)
    b = spark.read.parquet(args.path_b)
    keys = args.by or []
    out = kmv_overlap(a, b, keys, args.column, k=args.k).orderBy(
        *(keys or [F.lit(1)])
    )
    hdr = out.columns
    print("\t".join(hdr))
    for r in out.collect():
        print("\t".join(str(r[c]) for c in hdr))
    return 0


def cmd_sample(args) -> int:
    """Deterministic weighted sample of a parquet table
    (operators/sampling.py:weighted_sample — A-ES, inclusion
    probability ∝ --weight-col, per --by group or global). Writes
    parquet when --out is given, else prints (keys…, id, weight,
    skey_micro, rn)."""
    from ramen_spark.operators.sampling import weighted_sample
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    df = spark.read.parquet(args.path)
    out = weighted_sample(
        df, args.n, args.weight_col, args.by or [], args.id_col,
        seed=args.seed,
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"wrote {out.count()} rows to {args.out}")
        return 0
    hdr = out.columns
    print("\t".join(hdr))
    for r in out.orderBy(*(args.by or []), "rn").collect():
        print("\t".join(str(r[c]) for c in hdr))
    return 0


def cmd_pack(args) -> int:
    """Pack a parquet table into token-budget training rows
    (operators/packing.py:pack_sequences): --order picks the
    discipline (id / length_desc / ffd), --by packs only within
    matching groups. Writes parquet when --out is given; always
    prints the pad-waste report per (the number a training team
    optimizes — padding is wasted FLOPs)."""
    from pyspark.sql import functions as F

    from ramen_spark.operators.packing import pack_sequences
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    df = spark.read.parquet(args.path)
    packed = pack_sequences(
        df, text_col=args.text_col, id_col=args.id_col,
        budget=args.budget, shards=args.shards, order=args.order,
        group_cols=args.by or [],
    )
    if args.out:
        packed.write.mode("overwrite").parquet(args.out)
        packed = spark.read.parquet(args.out)
    toks = packed.groupBy("shard", *(args.by or []), "pack_seq").agg(
        F.sum("n_tok").alias("t")
    )
    r = toks.agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("t").alias("total_tokens"),
        F.sum(F.greatest(F.lit(args.budget) - F.col("t"), F.lit(0)))
        .alias("total_pad"),
    ).collect()[0]
    pad_pct = (
        r["total_pad"] / (r["n_packs"] * args.budget) if r["n_packs"] else 0.0
    )
    print(
        f"order={args.order} budget={args.budget} shards={args.shards} "
        f"packs={r['n_packs']} tokens={r['total_tokens']} "
        f"pad={r['total_pad']} pad_pct={pad_pct:.4f}"
    )
    if args.out:
        print(f"wrote {args.out}")
    return 0


def cmd_drift(args) -> int:
    """Corpus drift between two persisted quantile-sketch states
    (operators/sketch.py:sketch_drift): per key, percentile deltas
    (distribution shift) + KMV cardinality / Jaccard / containment
    over the row-id sets (membership churn). STATE_A / STATE_B are
    BatchStore roots written by IncrementalQuantileSketch (or any
    quantile_prune-shaped parquet relation) — neither corpus is
    re-read; the report joins two few-KB sketches."""
    from ramen_spark.operators.sketch import sketch_drift
    from ramen_spark.session import get_spark
    from ramen_spark.streaming.publish import BatchStore

    spark = get_spark("ramen_cli")

    def load_state(root: str, name: str = "state"):
        st = BatchStore(spark, root).latest(name)
        if st is None:
            # plain parquet relation: a batch quantile_prune dump, or
            # the cells/cands dumps under it for --cms-top
            plain = root if name == "state" else f"{root.rstrip('/')}/{name}"
            st = spark.read.parquet(plain)
        return st

    keys = args.by or []
    if args.cms_top is not None:  # NOT truthiness: --cms-top 0 must
        # reach the validation below, not fall through to quantiles
        if args.cms_top < 1:
            print("--cms-top must be >= 1")
            return 2
        # third drift family (round-11 agenda #4): heavy-hitter churn
        # between two persisted IncrementalCmsTop roots (cells+cands)
        from pyspark.sql import functions as F

        from ramen_spark.operators.sketch import cms_drift

        pairs, geometry = [], None
        for root in (args.state_a, args.state_b):
            cells = load_state(root, "cells")
            cands = load_state(root, "cands")
            if "_geo_depth" in cells.columns:
                # round-12 states stamp their build geometry — trust
                # it over the flags and require both sides to agree
                g = cells.select("_geo_depth", "_geo_width").first()
                geo = (g[0], g[1]) if g is not None else None
            else:
                # pre-stamp state: the flags are the only geometry
                # claim; sanity-check what the cells can refute (depth
                # is exact — rows are 0..depth-1; a width SMALLER than
                # the build width shows cols beyond it). A larger
                # width claim is undetectable without the stamp.
                m = cells.agg(
                    F.max("row").alias("r"), F.max("col").alias("c")
                ).first()
                if m["r"] is not None and (
                    m["r"] + 1 != args.cms_depth or m["c"] >= args.cms_width
                ):
                    print(
                        f"state {root}: cells span depth {m['r'] + 1} / "
                        f"col max {m['c']}, inconsistent with --cms-depth "
                        f"{args.cms_depth} --cms-width {args.cms_width}"
                    )
                    return 2
                geo = (args.cms_depth, args.cms_width)
            if geometry is not None and geo != geometry:
                print(
                    f"state geometries differ: {geometry} vs {geo} — "
                    "estimates are not comparable"
                )
                return 2
            geometry = geo
            pairs += [cells, cands]
        out = cms_drift(*pairs, keys, args.cms_top, *geometry)
    else:
        a, b = load_state(args.state_a), load_state(args.state_b)
        ps = [float(x) for x in args.quantiles.split(",") if x.strip()]
        out = sketch_drift(a, b, keys, ps, args.k)
    from pyspark.sql import functions as F

    hdr = out.columns
    print("\t".join(hdr))
    for r in out.orderBy(*(keys or [F.lit(1)])).collect():
        print("\t".join(str(r[c]) for c in hdr))
    return 0


def cmd_kafka_tail(args) -> int:
    """Live tail of a Kafka topic with NO connector jar
    (sources/kafka_live.py:KafkaLiveSource — the wire-client polling
    lane): poll once, print the new records, leave offsets
    checkpointed under --root so the next invocation resumes where
    this one stopped (the `ramen tail` lifecycle against a live
    broker). --decode utf8 prints values as text; raw prints hex."""
    from ramen_spark.session import get_spark
    from ramen_spark.sources.kafka_live import KafkaLiveSource

    spark = get_spark("ramen_cli")
    assignments = []
    for spec in args.partition:
        t, _, p = spec.rpartition(":")
        if not t or not p.isdigit():
            print(f"--partition needs topic:partition, got {spec!r}")
            return 2
        assignments.append((t, int(p)))
    src = KafkaLiveSource(
        spark, args.host, args.port, assignments, args.root,
        max_records=args.max_records,
    )
    batch = src.poll()
    rows = batch.orderBy("topic", "partition", "offset").collect()
    for r in rows:
        v = bytes(r["value"]) if r["value"] is not None else None
        if v is not None:
            shown = (
                v.decode("utf-8", "replace") if args.decode == "utf8"
                else v.hex()
            )
        else:
            shown = "NULL"
        print(
            f"{r['topic']}\t{r['partition']}\t{r['offset']}\t"
            f"{r['timestamp_ms']}\t{shown}"
        )
    print(f"# {len(rows)} new records; offsets checkpointed in {args.root}")
    return 0


def cmd_export_wds(args) -> int:
    """Export a parquet table as WebDataset tar shards
    (sources/export.py:write_webdataset): --member col=ext maps
    columns to sample members. Byte-deterministic shards + manifest."""
    from ramen_spark.session import get_spark
    from ramen_spark.sources.export import write_webdataset

    spark = get_spark("ramen_cli")
    members = {}
    for spec in args.member:
        col, _, ext = spec.partition("=")
        if not ext:
            print(f"--member needs col=ext, got {spec!r}")
            return 2
        members[col] = ext
    df = spark.read.parquet(args.path)
    man = write_webdataset(
        df, args.out, args.key_col, members, n_shards=args.shards,
        target_shard_bytes=args.target_shard_bytes,
    )
    print(
        f"wrote {man['total_samples']} samples in "
        f"{len(man['shards'])} shards to {args.out}"
    )
    return 0


def cmd_verify_wds(args) -> int:
    """Verify WebDataset shards against their manifest (byte-level tar
    md5 + per-shard sample counts) — the loader's trust check."""
    from ramen_spark.session import get_spark
    from ramen_spark.sources.export import verify_webdataset

    spark = get_spark("ramen_cli")
    errs = verify_webdataset(spark, args.path)
    if errs:
        for e in errs:
            print(e)
        return 1
    print("verified")
    return 0


def cmd_httpd(args) -> int:
    from ramen_spark.httpd import serve
    from ramen_spark.session import get_spark

    spark = get_spark("ramen_cli")
    cat = _load_catalog(args.archive_root)
    srv = serve(spark, cat, host=args.host, port=args.port)
    host, port = srv.server_address[:2]
    print(f"listening on http://{host}:{port}", flush=True)
    try:
        import threading

        threading.Event().wait()
    except KeyboardInterrupt:
        srv.shutdown()
    return 0


def cmd_archivist(args) -> int:
    if args.apply and not args.archive_root:
        raise SystemExit("--apply requires --archive-root")
    from ramen_spark.sources.archivist import (
        FuncStats,
        Retention,
        apply_allocation,
        solve_storage,
    )

    stats = json.load(open(args.stats))
    funcs = {
        fq: FuncStats(
            fq=fq,
            bytes_per_sec=float(s["bytes_per_sec"]),
            cpu_per_sec=float(s.get("cpu_per_sec", 0.0)),
            parents=list(s.get("parents", [])),
        )
        for fq, s in stats.items()
    }
    rets = {}
    for r in args.retention or []:
        fq, eq, spec = r.partition("=")
        if not eq:
            raise SystemExit(
                f"bad --retention {r!r}: expected fq=duration[:freq]"
            )
        dur, _, freq = spec.partition(":")
        rets[fq] = Retention(
            duration=float(dur), query_freq=float(freq) if freq else 1.0
        )
    alloc = solve_storage(funcs, rets, args.budget)
    print(json.dumps(alloc, indent=1))
    if args.apply:
        import time

        cat = _load_catalog(args.archive_root)
        paths = {
            fq: cat.get(fq).path for fq in alloc if fq in cat.tables()
        }
        removed = apply_allocation(alloc, paths, time.time())
        for fq, parts in removed.items():
            for p in parts:
                print(f"removed {fq}: {p}", file=sys.stderr)
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m ramen_spark",
        description="ramen CLI analogue over the Spark engine",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("compile", help="parse+compile programs")
    p.add_argument("files", nargs="+")
    p.set_defaults(fn=cmd_compile)

    p = sub.add_parser("run", help="deploy programs: archive + catalog")
    p.add_argument("files", nargs="+")
    p.add_argument("--archive-root", required=True)
    p.add_argument("-p", "--param", action="append", metavar="NAME=VALUE")
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser("test", help="run .test specs")
    p.add_argument("files", nargs="+")
    p.set_defaults(fn=cmd_test)

    p = sub.add_parser("info", help="per-function operation metadata")
    p.add_argument("files", nargs="+")
    p.set_defaults(fn=cmd_info)

    p = sub.add_parser("links", help="dataflow edges of compiled programs")
    p.add_argument("files", nargs="+")
    p.set_defaults(fn=cmd_links)

    p = sub.add_parser(
        "notify", help="inject a notification into the alerter FSM"
    )
    p.add_argument("name")
    p.add_argument("-p", "--param", action="append", metavar="NAME=VALUE")
    p.add_argument("--stop", action="store_true",
                   help="extinguish instead of firing")
    p.add_argument("--team", default="ops")
    p.add_argument("--debounce", type=float, default=30.0)
    p.add_argument("--certainty", type=float, default=1.0)
    p.set_defaults(fn=cmd_notify)

    p = sub.add_parser("tail", help="last tuples of a function")
    p.add_argument("fq")
    p.add_argument("--archive-root", required=True)
    p.add_argument("--last", type=int, default=10)
    p.add_argument("--since", type=float, default=None)
    p.add_argument("--until", type=float, default=None)
    p.add_argument("-w", "--where", action="append", metavar="FIELD=VALUE")
    p.set_defaults(fn=cmd_tail)

    p = sub.add_parser("replay", help="time-sliced archive read")
    p.add_argument("fq")
    p.add_argument("--archive-root", required=True)
    p.add_argument("--since", type=float, required=True)
    p.add_argument("--until", type=float, required=True)
    p.add_argument("--limit", type=int, default=None)
    p.set_defaults(fn=cmd_replay)

    p = sub.add_parser("timeseries", help="regular-grid timeseries")
    p.add_argument("fq")
    p.add_argument("field")
    p.add_argument("--archive-root", required=True)
    p.add_argument("--since", type=float, required=True)
    p.add_argument("--until", type=float, required=True)
    p.add_argument("--num-points", type=int, default=100)
    p.add_argument(
        "--consolidation", choices=["avg", "sum", "min", "max"],
        default="avg",
    )
    p.set_defaults(fn=cmd_timeseries)

    p = sub.add_parser("tables", help="list archived functions (ps)")
    p.add_argument("--archive-root", required=True)
    p.set_defaults(fn=cmd_tables)

    p = sub.add_parser(
        "ingest-warc", help="WARC crawl files -> documents parquet"
    )
    p.add_argument("path", help="WARC file, glob, or directory")
    p.add_argument("out", help="output parquet directory")
    p.set_defaults(fn=cmd_ingest_warc)

    p = sub.add_parser(
        "datacard", help="per-(lang, source) corpus statistics report"
    )
    p.add_argument("dir", help="directory containing documents.parquet")
    p.set_defaults(fn=cmd_datacard)

    p = sub.add_parser(
        "corpus-diff",
        help="added/removed/changed docs between two snapshots",
    )
    p.add_argument("old", help="previous snapshot parquet")
    p.add_argument("new", help="next snapshot parquet")
    p.add_argument("--out", default=None, help="write the delta parquet here")
    p.set_defaults(fn=cmd_corpus_diff)

    p = sub.add_parser(
        "curate",
        help="PII-redact, blocklist, line-correct and gate a corpus",
    )
    p.add_argument("path", help="documents parquet (doc_id, text[, url])")
    p.add_argument("out", help="output parquet directory")
    p.add_argument(
        "--block", action="append", default=None,
        help="blocked registrable domain (repeatable)",
    )
    p.add_argument("--url-col", default="url", help="URL column name")
    p.set_defaults(fn=cmd_curate)

    p = sub.add_parser(
        "sketch",
        help="KMV cardinality + count-min top values of a column",
    )
    p.add_argument("path", help="parquet table")
    p.add_argument("column", help="column to sketch")
    p.add_argument(
        "--by", action="append", default=None,
        help="group-by key column (repeatable)",
    )
    p.add_argument("--k", type=int, default=64, help="KMV sketch size")
    p.add_argument("--top", type=int, default=10,
                   help="probe the top-N exact values against the CMS")
    p.add_argument("--depth", type=int, default=4, help="CMS depth")
    p.add_argument("--width", type=int, default=2048, help="CMS width")
    p.add_argument(
        "--quantiles", default=None,
        help="comma-separated fractions (0.5,0.9,0.99) — bottom-k "
             "quantile sample of a numeric column; needs --id-col",
    )
    p.add_argument(
        "--id-col", default=None,
        help="unique row id column for --quantiles sampling",
    )
    p.set_defaults(fn=cmd_sketch)

    p = sub.add_parser(
        "overlap",
        help="KMV set-overlap (union/intersection/Jaccard) of a "
             "column across two tables",
    )
    p.add_argument("path_a", help="parquet table A")
    p.add_argument("path_b", help="parquet table B")
    p.add_argument("column", help="value column shared by both")
    p.add_argument(
        "--by", action="append", default=None,
        help="group-by key column (repeatable; must exist on both)",
    )
    p.add_argument("--k", type=int, default=256, help="KMV sketch size")
    p.set_defaults(fn=cmd_overlap)

    p = sub.add_parser(
        "sample",
        help="deterministic weighted sample (A-ES, P ∝ weight)",
    )
    p.add_argument("path", help="parquet table")
    p.add_argument("n", type=int, help="sample size per group")
    p.add_argument("--weight-col", required=True)
    p.add_argument("--id-col", default="doc_id",
                   help="unique row id column (default doc_id)")
    p.add_argument(
        "--by", action="append", default=None,
        help="group-by key column (repeatable); omit for global",
    )
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--out", default=None,
                   help="write the sample as parquet instead of printing")
    p.set_defaults(fn=cmd_sample)

    p = sub.add_parser(
        "pack",
        help="pack a table into token-budget training rows + pad report",
    )
    p.add_argument("path", help="parquet table")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--budget", type=int, default=512)
    p.add_argument("--shards", type=int, default=8)
    p.add_argument("--order", default="id",
                   choices=["id", "length_desc", "ffd"])
    p.add_argument(
        "--by", action="append", default=None,
        help="pack only within matching group column (repeatable)",
    )
    p.add_argument("--out", default=None,
                   help="write packed rows as parquet")
    p.set_defaults(fn=cmd_pack)

    p = sub.add_parser(
        "drift",
        help="corpus drift report from two persisted sketch states",
    )
    p.add_argument("state_a", help="BatchStore root (or parquet) A")
    p.add_argument("state_b", help="BatchStore root (or parquet) B")
    p.add_argument(
        "--by", action="append", default=None,
        help="group-by key column (repeatable); omit for global",
    )
    p.add_argument("--quantiles", default="0.5,0.9",
                   help="comma-separated fractions (default 0.5,0.9)")
    p.add_argument("--k", type=int, default=1024,
                   help="sketch k BOTH states were built with")
    p.add_argument(
        "--cms-top", type=int, default=None, metavar="N",
        help="heavy-hitter churn mode: states are IncrementalCmsTop "
             "roots (cells/ + cands/); report entered/left of the "
             "top-N with estimate deltas",
    )
    p.add_argument("--cms-depth", type=int, default=4,
                   help="CMS depth BOTH states were built with")
    p.add_argument("--cms-width", type=int, default=2048,
                   help="CMS width BOTH states were built with")
    p.set_defaults(fn=cmd_drift)

    p = sub.add_parser(
        "kafka-tail",
        help="live-tail a Kafka topic via the jar-free wire client",
    )
    p.add_argument("host", help="broker host")
    p.add_argument("port", type=int, help="broker port")
    p.add_argument("root", help="offsets+spool checkpoint root")
    p.add_argument(
        "--partition", action="append", required=True,
        metavar="TOPIC:PARTITION",
        help="assignment (repeatable), e.g. events:0",
    )
    p.add_argument("--max-records", type=int, default=10_000)
    p.add_argument("--decode", choices=["utf8", "raw"], default="utf8")
    p.set_defaults(fn=cmd_kafka_tail)

    p = sub.add_parser(
        "export-wds",
        help="export a table as WebDataset tar shards + manifest",
    )
    p.add_argument("path", help="parquet table")
    p.add_argument("out", help="output directory")
    p.add_argument("--key-col", required=True, help="unique sample key")
    p.add_argument(
        "--member", action="append", required=True, metavar="COL=EXT",
        help="column → member extension (repeatable)",
    )
    p.add_argument("--shards", type=int, default=8)
    p.add_argument(
        "--target-shard-bytes", type=int, default=None,
        help="derive the shard count from a byte target instead "
             "of --shards (loader convention: ~100 MB-1 GB)",
    )
    p.set_defaults(fn=cmd_export_wds)

    p = sub.add_parser(
        "verify-wds", help="verify WebDataset shards against the manifest"
    )
    p.add_argument("path", help="export directory")
    p.set_defaults(fn=cmd_verify_wds)

    p = sub.add_parser(
        "archivist",
        help="solve storage allocation under a byte budget",
    )
    p.add_argument("--stats", required=True,
                   help="JSON {fq: {bytes_per_sec, cpu_per_sec, parents}}")
    p.add_argument("--budget", type=float, required=True)
    p.add_argument(
        "-r", "--retention", action="append",
        metavar="FQ=DURATION[:FREQ]",
    )
    p.add_argument("--apply", action="store_true",
                   help="enforce the allocation on --archive-root")
    p.add_argument("--archive-root")
    p.set_defaults(fn=cmd_archivist)

    p = sub.add_parser("httpd", help="Graphite + JSON-RPC over archives")
    p.add_argument("--archive-root", required=True)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8080)
    p.set_defaults(fn=cmd_httpd)

    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
