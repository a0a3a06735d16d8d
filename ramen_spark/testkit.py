"""`ramen test` — the functional-spec runner as a PRODUCT surface.

The reference ships its test runner in src/ (RamenTests.ml:347-630):
users write `.test` specs — programs to run, parameters, `present`
tuples that must appear and `absent` tuples that must not — and run
them with `ramen test file.test`. This module is that runner for the
Spark engine: `run_spec_file(spark, path)` compiles the listed
programs FROM THEIR RaQL SOURCES (relative to the spec), materializes
them (fixtures first, cross-program parents wired through externals),
and checks the expected tuples with the reference's value-printing
conventions (OCaml-style bools/strings/chars/vectors/tuples, IP and
eth text forms compared against the engine's numeric encodings).

tests/test_func_corpus.py sweeps the reference's own 62 specs through
this same machinery.
"""

from __future__ import annotations

import math
import os
import re


def parse_expected(s: str):
    """Parse the OCaml-printed expected value."""
    s = s.strip()
    if s in ("TRUE", "true"):
        return True
    if s in ("FALSE", "false"):
        return False
    if s in ("NULL", "Null"):
        return None
    if s == "Inf":
        return float("inf")
    if s == "-Inf":
        return float("-inf")
    if s.startswith('"') and s.endswith('"'):
        # RamenTypes printing escapes control chars (strings.test t4:
        # "multi\nline" denotes a real newline)
        return (
            s[1:-1]
            .replace("\\\\", "\x00")
            .replace("\\n", "\n")
            .replace("\\t", "\t")
            .replace("\\r", "\r")
            .replace('\\"', '"')
            .replace("\x00", "\\")
        )
    if s.startswith("#\\"):
        body = s[2:]
        if re.fullmatch(r"\\?\d{3}", body):
            return chr(int(body.lstrip("\\"), 8))  # octal: #\000 → NUL
        return body
    if s.startswith("[") and s.endswith("]"):
        body = s[1:-1].strip()
        return [parse_expected(x) for x in body.split(";")] if body else []
    if s.startswith("(") and s.endswith(")") and ";" in s:
        # tuple repr ("1"; 2) → python tuple (depth-0 split)
        body = s[1:-1]
        parts, depth, cur = [], 0, ""
        for ch in body:
            if ch == ";" and depth == 0:
                parts.append(cur)
                cur = ""
                continue
            if ch in "([":
                depth += 1
            if ch in ")]":
                depth -= 1
            cur += ch
        parts.append(cur)
        return tuple(parse_expected(x) for x in parts)
    if re.fullmatch(r"-?\d+", s):
        return int(s)
    if re.fullmatch(r"-?0x[0-9a-fA-F]+", s):
        return int(s, 16)
    try:
        return float(s)
    except ValueError:
        return s  # opaque repr (IPs, tuples) — callers may normalize


def values_equal(got, want) -> bool:
    if want is None:
        return got is None
    if got is None:
        return False
    if isinstance(want, bool):
        return got == want
    if isinstance(want, list):
        if not isinstance(got, list | tuple) or len(got) != len(want):
            return False
        return all(values_equal(g, w) for g, w in zip(got, want))
    if isinstance(want, int | float):
        g = float(got)
        w = float(want)
        if math.isinf(w) or math.isinf(g):
            return g == w
        # the doc prints ~12 significant digits
        return abs(g - w) <= 1e-9 * max(1.0, abs(w))
    return str(got) == str(want)


_TOK = re.compile(
    r"""\s+|(?P<str>"(?:\\.|[^"\\])*")|(?P<arrow>=>)|(?P<op>[{}\[\]=;|,])
      |(?P<word>[^\s{}\[\]=;"|,]+)""",
    re.VERBOSE,
)


def _tokens(text: str) -> list[str]:
    out = []
    i = 0
    while i < len(text):
        m = _TOK.match(text, i)
        if not m:
            raise SyntaxError(f"spec: cannot tokenize at {text[i:i+20]!r}")
        i = m.end()
        if m.group("str") is not None:
            raw = m.group("str")[1:-1]
            # config-level unescaping: \\ and \" (value-level escapes
            # like \n are resolved later by parse_expected)
            raw = (
                raw.replace("\\\\", "\x00")
                .replace('\\"', '"')
                .replace("\x00", "\\")
            )
            out.append(("str", raw))
        elif m.group("arrow"):
            out.append(("op", "=>"))
        elif m.group("op"):
            out.append(("op", m.group("op")))
        elif m.group("word"):
            out.append(("word", m.group("word")))
    return out


class _P:
    def __init__(self, toks):
        self.t = toks
        self.i = 0

    def peek(self):
        return self.t[self.i] if self.i < len(self.t) else ("eof", None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def value(self):
        kind, v = self.peek()
        if kind == "op" and v == "{":
            return self.record()
        if kind == "op" and v == "[":
            self.next()
            # [| … |] variant arrays use the same brackets via words
            items = []
            while not (self.peek() == ("op", "]")):
                if self.peek() == ("op", ";") or self.peek() == ("op", "|"):
                    self.next()
                    continue
                items.append(self.value())
            self.next()
            return items
        if kind == "str":
            self.next()
            return v
        if kind == "word":
            self.next()
            # typed literal: VU8 1 / VFloat 1.5 / VVec [| … |]
            if v in ("VVec", "VList"):
                return self.value()
            if v.startswith("V") and self.peek()[0] in ("word", "str"):
                nxt = self.next()[1]
                try:
                    return int(nxt)
                except ValueError:
                    try:
                        return float(nxt)
                    except ValueError:
                        return nxt
            return v
        raise SyntaxError(f"spec: unexpected {self.peek()}")

    def record(self) -> dict:
        assert self.next() == ("op", "{")
        out: dict = {}
        while self.peek() != ("op", "}"):
            if self.peek() == ("op", ";"):
                self.next()
                continue
            kind, key = self.next()
            eq = self.next()
            if eq not in (("op", "="), ("op", "=>")):
                raise SyntaxError(f"spec: expected = or => after {key!r}, got {eq}")
            out[key] = self.value()
        self.next()
        return out


def parse_spec(text: str) -> dict:
    return _P(_tokens(text)).record()


def _load_program_source(func_dir: str, src: str, source_provider=None):
    """Resolve a spec's program ``src`` to (text, base_dir). When the
    file is absent and a ``source_provider`` is given, the provider may
    supply the source — the reference's build emits some spec programs
    (tests/func/generated.ramen via tools/gen_reader_test.opt,
    Makefile.in:1372) before `ramen test` runs; the provider is that
    build step's seam."""
    p = os.path.join(func_dir, src)
    if not os.path.exists(p) and source_provider is not None:
        provided = source_provider(src)
        if provided is not None:
            return provided
    return open(p).read(), os.path.dirname(p)


def run_spec_file(spark, path: str, parse_expected=None, values_equal=None,
                  source_provider=None):
    """Run one .test spec end-to-end (`ramen test path`); returns a
    list of failure descriptions (empty = pass). Program sources
    resolve relative to the spec file; ``source_provider(src) ->
    (text, base_dir) | None`` supplies build-generated programs the
    checkout lacks."""
    from ramen_spark.plans.raql import compile_program

    parse_expected = parse_expected or globals()["parse_expected"]
    values_equal = values_equal or globals()["values_equal"]
    FUNC_DIR = os.path.dirname(os.path.abspath(path))
    spec = parse_spec(open(path).read())
    progs = spec.get("programs", [])
    # fixtures (schema readers) first — main programs reference them
    progs = sorted(progs, key=lambda p_: 0 if p_["src"].startswith("fixtures/") else 1)
    ext: dict = {}
    outs: dict = {}
    for entry in progs:
        src = entry["src"]
        pname = src.removesuffix(".ramen")
        if entry.get("ext"):
            # program instance identity = src#ext (any_ext.test)
            pname = f"{pname}#{entry['ext']}"
        text, base_dir = _load_program_source(FUNC_DIR, src, source_provider)
        prog = compile_program(text, name=pname, base_dir=base_dir)
        params = entry.get("params") or None
        dfs = prog.materialize(
            spark, params=params, externals=ext, register_views=False
        )
        for fn, df in dfs.items():
            ext[f"{pname}/{fn}"] = df
        outs[pname] = dfs

    return check_spec_outputs(spec, outs, parse_expected, values_equal)


def check_spec_outputs(spec: dict, outs: dict, parse_expected=None, values_equal=None):
    """Apply a parsed spec's present/absent checks against materialized
    function outputs ``outs[program][function]`` (DataFrames); returns
    failure descriptions (reference check semantics,
    src/RamenTests.ml:347-630). Shared by the batch runner
    (run_spec_file) and the always-on runner
    (run_spec_file_streaming)."""
    parse_expected = parse_expected or globals()["parse_expected"]
    values_equal = values_equal or globals()["values_equal"]
    failures = []
    for target, checks in spec.get("outputs", {}).items():
        pname, fname = target.rsplit("/", 1)
        df = outs[pname][fname]
        rows = [r.asDict() for r in df.collect()]

        def _ref_repr(v) -> str:
            # reference text repr for constructed values (RamenTypes
            # printing): tuples "(a;b)", vectors "[a;b]", chars #\c
            if hasattr(v, "asDict"):  # Row is a tuple subclass: first
                v = v.asDict()
            if isinstance(v, dict):
                return "(" + ";".join(_ref_repr(x) for x in v.values()) + ")"
            if isinstance(v, (list, tuple)):
                return "[" + ";".join(_ref_repr(x) for x in v) + "]"
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, str) and len(v) == 1:
                return "#\\" + v
            if isinstance(v, float) and v.is_integer():
                return str(int(v))
            return str(v)

        def veq(got, want) -> bool:
            if isinstance(want, tuple):
                # tuple expected value vs Row/struct: member-wise
                gd = got.asDict() if hasattr(got, "asDict") else got
                if isinstance(gd, dict):
                    vals = list(gd.values())
                elif isinstance(gd, (list, tuple)):
                    vals = list(gd)
                else:
                    return False
                return len(vals) == len(want) and all(
                    veq(g, w) for g, w in zip(vals, want)
                )
            if isinstance(want, list):
                got_l = list(got) if got is not None else None
                return (
                    isinstance(got_l, list)
                    and len(got_l) == len(want)
                    and all(veq(g, w) for g, w in zip(got_l, want))
                )
            if want is None:
                return got is None
            # IP/CIDR parity: the engine stores addresses numerically;
            # the reference prints them as text — compare numerically
            if isinstance(want, str) and got is not None and not isinstance(got, str):
                import ipaddress

                gv = got
                gd = gv.asDict() if hasattr(gv, "asDict") else gv
                if isinstance(gd, dict) and "mask" in gd and "/" in want:
                    # generic/specific cidr struct vs "a.b.c.d/m" text
                    try:
                        net = ipaddress.ip_network(want, strict=False)
                    except ValueError:
                        return values_equal(got, want)
                    addr = gd.get("addr4", gd.get("addr"))
                    if addr is None and gd.get("addr6") is not None:
                        addr = int.from_bytes(gd["addr6"], "big")
                    elif isinstance(addr, (bytes, bytearray)):
                        addr = int.from_bytes(addr, "big")
                    return (
                        addr == int(net.network_address)
                        and gd.get("mask") == net.prefixlen
                    )
                if isinstance(gd, dict) and "version" in gd:
                    # generic ip sum struct<version, v4, v6>
                    gv = (
                        gd.get("v4")
                        if gd.get("version") == 4
                        else gd.get("v6")
                    )
                try:
                    ip = ipaddress.ip_address(want)
                    g = (
                        int.from_bytes(gv, "big")
                        if isinstance(gv, (bytes, bytearray))
                        else int(gv)
                    )
                    return g == int(ip)
                except (ValueError, TypeError):
                    pass
                # eth printed as colon-hex (70:80:90:a0:b0:c0)
                import re as _re

                if _re.fullmatch(r"(?:[0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}", want):
                    try:
                        return int(gv) == int(want.replace(":", ""), 16)
                    except (ValueError, TypeError):
                        pass
                if isinstance(want, str) and want.startswith("("):
                    return _ref_repr(got).replace(" ", "") == want.replace(" ", "")
            return values_equal(got, want)

        def match(exp: dict) -> bool:
            want = {k: parse_expected(v) for k, v in exp.items()}
            return any(
                all(veq(r.get(k), w) for k, w in want.items())
                for r in rows
            )

        for exp in checks.get("present", []) or []:
            if not match(exp):
                failures.append(
                    (target, "present", exp, rows[:4], len(rows))
                )
        for exp in checks.get("absent", []) or []:
            if match(exp):
                failures.append((target, "absent", exp))
    return failures


def run_spec_file_streaming(
    spark,
    path: str,
    work_dir: str,
    parse_expected=None,
    values_equal=None,
    source_provider=None,
):
    """`ramen test` in the ALWAYS-ON mode: every relational function of
    every listed program runs as its own Structured Streaming query
    with its own parquet spool (runner.deploy_program_streaming — the
    reference runs *everything* streaming, one worker per function,
    src/RamenSupervisor.ml); a child reads a stateless parent inlined
    into its own query and any other parent through its spool, and a
    later program reads this one's functions through their spools.
    Source-shaped functions (YIELD clocks, READ/LISTEN sources,
    fixture readers) are materialized once in batch, written to
    parquet with an explicit ``_seq`` arrival column, and replayed
    byte-identically into BOTH engines — the reference test-runner's
    feed mechanism (src/RamenTests.ml). The spec's
    present/absent checks then run against the STREAMING outputs.

    Returns (failures, n_streamed): the check failures (empty = pass)
    and how many functions actually ran as streaming queries — callers
    should treat n_streamed == 0 as "spec has no streaming-runnable
    function" (pure source specs), not as a pass.
    """
    import os

    from pyspark.sql import functions as F

    from ramen_spark.plans.raql import compile_program
    from ramen_spark.runner import deploy_program_streaming

    parse_expected = parse_expected or globals()["parse_expected"]
    values_equal = values_equal or globals()["values_equal"]
    FUNC_DIR = os.path.dirname(os.path.abspath(path))
    spec = parse_spec(open(path).read())
    progs = sorted(
        spec.get("programs", []),
        key=lambda p_: 0 if p_["src"].startswith("fixtures/") else 1,
    )

    ext_batch: dict = {}   # "prog/fn" -> batch DataFrame (oracle chain)
    ext_stream: dict = {}  # "prog/fn" -> streaming reader (live chain)
    outs: dict = {}        # prog -> {fn: DataFrame of streamed output}
    n_streamed = 0
    queries = []
    try:
        for entry in progs:
            src = entry["src"]
            pname = src.removesuffix(".ramen")
            if entry.get("ext"):
                pname = f"{pname}#{entry['ext']}"
            text, base_dir = _load_program_source(
                FUNC_DIR, src, source_provider
            )
            prog = compile_program(text, name=pname, base_dir=base_dir)
            params = entry.get("params") or None

            # 1. Batch-materialize once to capture the SOURCE functions'
            # tuples (clock generators may draw RANDOM — capturing to
            # parquet pins one draw for both engines).
            probe = prog.materialize(
                spark, params=params, externals=ext_batch,
                register_views=False,
            )
            source_fns = [
                n for n, f_ in prog.functions.items() if not f_.parents
            ]
            inj_batch: dict = {}
            inj_stream: dict = {}
            safe = pname.replace("/", "_").replace("#", "_")
            for n in source_fns:
                spool = os.path.join(work_dir, "_src", safe, n)
                probe[n].coalesce(1).withColumn(
                    "_seq", F.monotonically_increasing_id()
                ).write.mode("overwrite").parquet(spool)
                bdf = spark.read.parquet(spool)
                inj_batch[n] = bdf
                inj_stream[n] = spark.readStream.schema(bdf.schema).parquet(
                    spool
                )

            # 2. Batch oracle chain over the injected bytes.
            dfs_batch = prog.materialize(
                spark, params=params,
                externals={
                    **ext_batch,
                    **{f"{pname}/{n}": d for n, d in inj_batch.items()},
                },
                register_views=False,
            )
            for n, d in dfs_batch.items():
                ext_batch[f"{pname}/{n}"] = d

            # 3. The live chain: every non-source function as its own
            # streaming query.
            deployed = deploy_program_streaming(
                spark, prog, work_dir,
                source_streams={**ext_stream, **inj_stream},
                params=params,
            )
            prog_out: dict = {}
            for n in prog._topo_order():
                stream_df, q, spool = deployed[n]
                if q is not None:
                    queries.append(q)
                    q.processAllAvailable()
                    n_streamed += 1
                    prog_out[n] = spark.read.schema(stream_df.schema).parquet(
                        spool
                    )
                    ext_stream[f"{pname}/{n}"] = (
                        spark.readStream.schema(stream_df.schema)
                        .option("pathGlobFilter", "*.parquet")
                        .parquet(spool)
                    )
                else:
                    # injected source: its "streamed output" is the
                    # replayed batch capture (minus the arrival column)
                    prog_out[n] = inj_batch[n].drop("_seq")
                    ext_stream[f"{pname}/{n}"] = inj_stream[n]
            outs[pname] = prog_out
    finally:
        for q in queries:
            try:
                q.stop()
            except Exception:
                pass

    return (
        check_spec_outputs(spec, outs, parse_expected, values_equal),
        n_streamed,
    )
