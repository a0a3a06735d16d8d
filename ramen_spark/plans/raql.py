"""RaQL front-end: parse RaQL expressions/operations → Spark plans.

Hand-rolled tokenizer + Pratt parser (no parser libs in the
container) for the RaQL surface documented in the reference
(site/language_reference.php; expression grammar src/RamenExpr.ml,
operation grammar src/RamenOperation.ml — grammar studied, code not
ported; this is a fresh implementation against the documented
language).

Round-1 subset (widened per round):
- expressions: literals (ints w/ scale suffixes k/M/G/Ki/Mi/Gi, floats,
  strings, booleans, NULL), field refs (bare, ``in.x``/``out.x``),
  arithmetic ``+ - * / // % ^``, comparisons ``= <> != < <= > >=``,
  ``AND OR NOT``, ``||`` concat, ``LIKE``, ``x IN (…)``, ``IS [NOT]
  NULL``, ``IF c THEN a [ELSE b]``, ``CASE WHEN … END``, function
  calls (stateless library + aggregates), ``p PERCENTILE x``,
  unary aggregate keywords (``SUM x``, ``MIN x`` …).
- operations: ``SELECT e [AS n] | * [- f]…, … [FROM f1, f2…]
  [WHERE c] [GROUP BY k,…] [COMMIT AFTER c]``. Star expands to all
  input fields not already named; later select fields may reference
  earlier out-fields (``out.x`` or bare alias). Batch compilation:
  full-window semantics — the COMMIT condition selects the windowing
  shape; the canonical ``in.t > out.t + d`` tumbling pattern is a
  no-op in batch (groups run to completion) and becomes
  watermark+window in streaming.
- programs: ``PARAMETERS p DEFAULTS TO v, …; DEFINE [LAZY] f
  [PERSIST FOR d] AS SELECT …;`` → plans.program.Program DAG
  (compile_program); multi-parent FROM = unionByName.

Null-semantics, / vs //, etc. delegate to functions.scalar so parser
output and hand-built plans share one implementation.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ramen_spark.functions import scalar as S
from ramen_spark.functions import text as Tx

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_SCALES = {
    "k": 1e3, "M": 1e6, "G": 1e9, "T": 1e12, "P": 1e15,
    "Ki": 2**10, "Mi": 2**20, "Gi": 2**30, "Ti": 2**40, "Pi": 2**50,
}

# duration suffixes → seconds (site/language_reference.php "Units")
_DURATIONS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "d": 86400.0, "w": 604800.0}

_NUM_SUF = (
    r"(?:[ui](?:8|16|24|32|40|48|56|64|128))"
    r"|Ki|Mi|Gi|Ti|Pi|ms|min|st|nd|rd|th|[kMGTPshdw]"
)

# ordinal literal suffixes — `1st x` is GET(0, x), `90th percentile`
# keeps the numeric value (site/language_reference.php "Ordinals")
_ORDINALS = ("st", "nd", "rd", "th")

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*)
  | (?P<char>\#\\.)
  | (?P<ip6>[0-9a-fA-F]{1,4}:[0-9a-fA-F]{0,4}:[0-9a-fA-F:.]*(?:/\d{1,3})?)
  | (?P<ip4>\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(?:/\d{1,2})?)
  | (?P<kma>\d+-(?:moveavg|ma)(?![A-Za-z0-9_]))
  | (?P<instref>(?<=[A-Za-z0-9_])\#[A-Za-z0-9_]+)
  | (?P<float>\d[\d_]*\.[\d_]*(?:[eE][+-]?\d+)?|\.\d[\d_]*(?:[eE][+-]?\d+)?|\d[\d_]*[eE][+-]?\d+)(?P<floatsuf>NUMSUF)?
  | (?P<int>0x[0-9a-fA-F_]+|\d[\d_]*)(?P<intsuf>NUMSUF)?
  | (?P<string>"(?:\\.|[^"\\])*")
  | (?P<bq>`[^`]*`)
  | (?P<sq>'[^']*')
  | (?P<op>\.\.|<=|>=|<>|!=|\|\||\|\?|<<|>>|//|[-+*/%^=<>(),;?:\[\]{}&|\#])
  | (?P<name>[A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)*)
    """.replace("NUMSUF", _NUM_SUF),
    re.VERBOSE,
)

_KEYWORDS = {
    "select", "from", "where", "when", "group", "by", "commit", "after",
    "sort", "notify",
    "before", "flush", "keep", "and", "or", "not", "in", "like", "is",
    "null", "true", "false", "if", "then", "else", "end", "case", "as",
    "percentile", "starts", "ends", "with", "distinct", "globally",
    "define", "parameters", "defaults", "to", "persist", "for", "lazy",
}


@dataclass
class Tok:
    kind: str  # 'num' 'str' 'name' 'kw' 'op' 'eof'
    value: Any
    pos: int
    # declared int width for suffixed numeric literals (`3u16` → "u16",
    # src/raql_type.ml:16-33) — PEEK reads unit widths from it
    suffix_type: str | None = None


def _apply_suffix(val: float | int, suf: str | None) -> float | int:
    """Scale (k/M/Ki…), duration (s/min/h…), ordinal (th) and
    int-width (u8/i32…) suffixes on numeric literals
    (site/language_reference.php "Scales", "Units"; width suffixes
    src/raql_type.ml:16-33 — widths don't change the value)."""
    if not suf or suf in _ORDINALS or suf[0] in "ui":
        return val
    if suf in _SCALES:
        scaled = val * _SCALES[suf]
        return int(scaled) if float(scaled).is_integer() else scaled
    if suf in _DURATIONS:
        scaled = val * _DURATIONS[suf]
        return int(scaled) if float(scaled).is_integer() else scaled
    raise SyntaxError(f"RaQL: unknown numeric suffix {suf!r}")


def tokenize(text: str) -> list[Tok]:
    out: list[Tok] = []
    i = 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise SyntaxError(f"RaQL: cannot tokenize at {text[i:i+20]!r}")
        i = m.end()
        if m.lastgroup in ("ws", "comment"):
            continue
        if m.group("char"):
            out.append(Tok("str", m.group("char")[-1], m.start()))
        elif m.group("ip6"):
            out.append(Tok("net", m.group("ip6"), m.start()))
        elif m.group("ip4"):
            out.append(Tok("net", m.group("ip4"), m.start()))
        elif m.group("kma"):
            # k-MA / k-MOVEAVG (site/language_reference: moving
            # average; examples/monitoring/network/traffic.ramen
            # `5-ma locally (…)`): lexes as the moveavg keyword form
            k = int(m.group("kma").split("-", 1)[0])
            out.append(Tok("name", "moveavg", m.start()))
            out.append(Tok("num", k, m.start()))
        elif m.group("instref"):
            # program-instance suffix glued to a name (#1min, #v2 —
            # examples/generators/network/errors.ramen): '#' op + the
            # RAW ext text as a name (tokenizing '1min' as a number
            # would scale it into 60)
            out.append(Tok("op", "#", m.start()))
            out.append(Tok("name", m.group("instref")[1:], m.start() + 1))
        elif m.group("float"):
            suf = m.group("floatsuf")
            val = _apply_suffix(float(m.group("float").replace("_", "")), suf)
            st = suf if suf and suf[0] in "ui" else (
                "ord" if suf in _ORDINALS else None
            )
            out.append(Tok("num", val, m.start(), st))
        elif m.group("int"):
            raw = m.group("int").replace("_", "")
            suf = m.group("intsuf")
            ival: float | int = int(raw, 16) if raw.startswith("0x") else int(raw)
            st = suf if suf and suf[0] in "ui" else (
                "ord" if suf in _ORDINALS else None
            )
            out.append(Tok("num", _apply_suffix(ival, suf), m.start(), st))
        elif m.group("string"):
            body = m.group("string")[1:-1]
            body = body.encode().decode("unicode_escape")
            out.append(Tok("str", body, m.start()))
        elif m.group("bq"):
            # backtick-quoted identifier (ClickHouse schema blocks,
            # fixtures/email.ramen `from`): always a name, never a kw
            out.append(Tok("name", m.group("bq")[1:-1], m.start()))
        elif m.group("sq"):
            # single-quoted identifier (the reference's ramen_quote:
            # field/program names with spaces, slashes or '#' —
            # generated alert programs quote every name)
            out.append(Tok("name", m.group("sq")[1:-1], m.start()))
        elif m.group("op"):
            out.append(Tok("op", m.group("op"), m.start()))
        elif m.group("name"):
            name = m.group("name")
            low = name.lower()
            if low in _KEYWORDS and "." not in name:
                out.append(Tok("kw", low, m.start()))
            else:
                out.append(Tok("name", name, m.start()))
    out.append(Tok("eof", None, len(text)))
    return out


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class Lit:
    value: Any


@dataclass
class Field:
    path: str  # 'x' or 'in.x' / 'out.x' / 'param.x'


@dataclass
class Unop:
    op: str
    e: Any


@dataclass
class Binop:
    op: str
    a: Any
    b: Any


@dataclass
class Call:
    fn: str
    args: list
    opts: dict = field(default_factory=dict)


@dataclass
class CaseWhen:
    branches: list[tuple[Any, Any]]
    otherwise: Any | None


@dataclass
class NetLit:
    """IP / CIDR / Eth literal (src/raql_type.ml:34-40 user types).
    kind: 'ip4' | 'ip6' | 'cidr4' | 'cidr6' | 'eth'; value: int address
    (or (addr, mask) for CIDRs)."""

    kind: str
    value: Any


@dataclass
class TypeSpec:
    """Type name in CAST / type-call syntax (src/raql_type.ml:10-46).

    Compound CSV column types (tools/gen_reader_test.ml emits dessser
    DT.print_mn syntax: tuples ``(t1; t2)``, records ``{n: t; …}``,
    vectors of either) use the ``__tuple``/``__rec``/``__vec``
    pseudo-names with ``items`` holding (member name | None, member
    type); plain scalar vectors keep the classic vec_dim form."""

    name: str  # lowercase: u8..u128, i8.., float, string, bool, char
    nullable: bool = False
    vec_dim: int | None = None  # CAST(x AS U8[4]) / U8[]
    is_arr: bool = False
    items: list | None = None  # compound members [(name|None, TypeSpec)]


_INT_TYPES = {f"{s}{w}" for s in "ui" for w in (8, 16, 24, 32, 40, 48, 56, 64, 128)}
_NET_TYPE_CALLS = {"ip", "ip4", "ip6", "cidr", "cidr4", "cidr6", "eth"}
_TYPE_NAMES = _INT_TYPES | {"float", "string", "bool", "boolean", "char"}


def _v4_int(s: str) -> int:
    """Dotted-quad → int, tolerating leading zeros (the reference's
    parser accepts 192.168.00.0; Python's ipaddress does not)."""
    parts = [int(p) for p in s.split(".")]
    if len(parts) != 4 or any(p > 255 for p in parts):
        raise SyntaxError(f"RaQL: bad IPv4 literal {s!r}")
    return (parts[0] << 24) | (parts[1] << 16) | (parts[2] << 8) | parts[3]


def _parse_net_literal(text: str) -> NetLit:
    import ipaddress

    if "/" in text:
        addr_s, mask_s = text.split("/")
        if "." in addr_s and ":" not in addr_s:
            return NetLit("cidr4", (_v4_int(addr_s), int(mask_s)))
        return NetLit("cidr6", (int(ipaddress.ip_address(addr_s)), int(mask_s)))
    if re.fullmatch(r"(?:[0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}", text):
        return NetLit("eth", int(text.replace(":", ""), 16))
    if "." in text and ":" not in text:
        return NetLit("ip4", _v4_int(text))
    return NetLit("ip6", int(ipaddress.ip_address(text)))


# aggregate function names (unary keyword style: `SUM x`) — stateful
AGGS = {
    "sum", "avg", "min", "max", "count", "first", "last", "group",
    "and_all", "or_all", "count_distinct",
    "bitand", "bitor", "bitxor", "distinct", "fit",
    # TOP family list-output + LARGEST/SMALLEST (raql_expr.type:317-346,
    # 311-314) — engine-only accumulators (operators.topk is the
    # Catalyst batch form)
    "top", "largest", "histogram",
    # KMV DISTINCT sketch aggregate (training-pipeline extension): the
    # fold keeps the k smallest distinct md5-48 hashes per group —
    # bounded state, value-identical to operators.sketch.kmv_distinct.
    # Batch grouped selects route through the Catalyst rewrite instead
    # (_compile_grouped_with_sketches); this registration serves the
    # COMMIT fold and its always-on streaming twin.
    "kmv_distinct",
}

# per-row stateful functions (one output per input row, state scoped to
# the group — src/raql_expr.type:252-314); the general COMMIT engine
# folds these, the Column compiler routes them to operators.series
ROW_STATEFUL = {
    "lag", "latest", "oldest", "moveavg", "season_moveavg", "smooth",
    "distinct", "derive", "hysteresis", "remember", "recall", "sample",
    # IS x IN TOP / RANK OF x IN TOP — per-row membership/rank against
    # the running top state (raql_expr.type:319-323)
    "is_in_top", "rank_in_top",
    # ONE OUT OF / ONCE EVERY / PAST — sampling & time-window groups
    # (doc:879-930, 1007)
    "one_out_of", "once_every", "past",
    # FIT_MULTI (n, y, x1…) = MultiLinReg over the last n observations
    # (RamenExpr.ml:1452-1453)
    "fit_multi",
}

_NULLARY = {"now", "random", "pi"}


# stateless functions by name → Column builder
def _fn_registry() -> dict[str, Any]:
    return {
        "abs": lambda a: F.abs(a),
        "age": lambda a: S.age(a),
        "exp": lambda a: F.exp(a),
        "log": lambda a: S.log(a),
        "log10": lambda a: S.log10(a),
        "sqrt": lambda a: S.sqrt(a),
        "sq": lambda a: S.sq(a),
        "ceil": lambda a: F.ceil(a),
        "floor": lambda a: F.floor(a),
        "round": lambda *a: F.round(*a),
        "cos": F.cos, "sin": F.sin, "tan": F.tan,
        "acos": F.acos, "asin": F.asin, "atan": F.atan,
        "cosh": F.cosh, "sinh": F.sinh, "tanh": F.tanh,
        "lower": F.lower, "upper": F.upper,
        "length": lambda a: S.length(a),
        "basename": lambda a: S.basename(a),
        "hash": lambda a: S.hash64(a),
        "coalesce": lambda *a: F.coalesce(*a),
        "truncate": lambda a, m=None: S.truncate(a, m if m is not None else 1.0),
        "reldiff": lambda a, b: S.reldiff(a, b),
        "substring": lambda s, a, b: S.substring(s, a, b),
        "now": S.now,
        "random": S.random,
        "pi": S.pi,
        "force": lambda a: S.force(a),
        "chr": lambda a: S.chr_(a),
        "sparkline": lambda a: S.sparkline(a),
        "parse_time": lambda a: S.parse_time(a),
        "index": lambda s, c: S.index_of(s, c),
        # intercepted in Compiler.call before builder lookup (need the
        # AST node, not compiled columns) — registered for the parser's
        # unary-application check only:
        "ipfamily": None,
        "uuid_of_u128": None,
        "countrycode": None,
        "peek": None,
        "histogram": None,
        "format_time": None,  # handled specially (const fmt)
        "min": lambda *a: S.min_of(*a),  # variadic stateless form
        "max": lambda *a: S.max_of(*a),
        # text-pipeline scalars (functions.text) — the training-data
        # extensions surfaced in the RaQL dialect, so reference-style
        # programs can gate/score/route on them directly
        "quality_score": lambda a: Tx.quality_score(a),
        "detect_language": lambda a: Tx.detect_language(a),
        "token_count": lambda a: Tx.token_count(a),
        "bpe_token_count": lambda a: Tx.bpe_ish_token_count(a),
        "fingerprint": lambda a: Tx.fingerprint(a),
        "redact_pii": lambda a: Tx.redact_pii(a),
        "url_host": lambda a: Tx.url_host(a),
        "registrable_domain": lambda a: Tx.registrable_domain(a),
        "dominant_script": lambda a: Tx.dominant_script(Tx.script_counts(a)),
        "canonical_url": lambda a: Tx.canonical_url(a),
    }


# ---------------------------------------------------------------------------
# Pratt parser
# ---------------------------------------------------------------------------


def _ts_ddl(ts: "TypeSpec") -> str:
    """Spark DDL of a cast TypeSpec (typed-NULL literals)."""
    if ts.name in _INT_TYPES:
        base = "bigint"
    elif ts.name == "float":
        base = "double"
    elif ts.name in ("bool", "boolean"):
        base = "boolean"
    else:
        base = "string"
    if ts.vec_dim is not None or ts.is_arr:
        return f"array<{base}>"
    return base


class Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    # -- token helpers
    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, value: Any = None) -> Tok | None:
        t = self.peek()
        if t.kind == kind and (value is None or t.value == value):
            return self.next()
        return None

    def expect(self, kind: str, value: Any = None) -> Tok:
        t = self.accept(kind, value)
        if t is None:
            got = self.peek()
            raise SyntaxError(f"RaQL: expected {value or kind}, got {got.value!r} at {got.pos}")
        return t

    # -- expression grammar (precedence climbing)
    def parse_expr(self) -> Any:
        return self.parse_or()

    def parse_or(self) -> Any:
        e = self.parse_and()
        while self.accept("kw", "or"):
            e = Binop("or", e, self.parse_and())
        return e

    def parse_and(self) -> Any:
        e = self.parse_not()
        while True:
            t = self.peek()
            if t.kind != "kw" or t.value != "and":
                return e
            # `… AND KEEP/FLUSH` terminates the expression: it is the
            # clause-level flush method, not a conjunction
            # (NOTIFY "x" AND KEEP — CodeGen_Alert2RaQL.ml:466)
            nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
            if nxt is not None and nxt.kind == "kw" and nxt.value in ("keep", "flush"):
                return e
            self.next()
            e = Binop("and", e, self.parse_not())

    def parse_not(self) -> Any:
        if self.accept("kw", "not"):
            return Unop("not", self.parse_not())
        return self.parse_cmp()

    def parse_cmp(self) -> Any:
        e = self.parse_bitor()
        t = self.peek()
        if t.kind == "op" and t.value in ("=", "<>", "!=", "<", "<=", ">", ">="):
            self.next()
            return Binop(t.value, e, self.parse_bitor())
        if t.kind == "kw" and t.value == "like":
            self.next()
            pat = self.expect("str")
            return Binop("like", e, Lit(pat.value))
        if t.kind == "kw" and t.value == "case":
            # x CASE SENSITIVE LIKE "p" (patterns.ramen:11; plain LIKE
            # is case-insensitive per the reference's Globs default)
            save = self.i
            self.next()
            nt = self.peek()
            if nt.kind == "name" and nt.value.lower() == "sensitive":
                self.next()
                self.expect("kw", "like")
                pat = self.expect("str")
                return Binop("like_cs", e, Lit(pat.value))
            self.i = save
        if t.kind == "kw" and t.value == "not":
            # NOT LIKE / NOT IN
            save = self.i
            self.next()
            if self.accept("kw", "like"):
                pat = self.expect("str")
                return Unop("not", Binop("like", e, Lit(pat.value)))
            if self.accept("kw", "in"):
                return Unop("not", Binop("in", e, self.parse_in_operand()))
            self.i = save
        if t.kind == "kw" and t.value == "in":
            self.next()
            return Binop("in", e, self.parse_in_operand())
        if t.kind == "kw" and t.value == "is":
            self.next()
            neg = bool(self.accept("kw", "not"))
            self.expect("kw", "null")
            node = Unop("is_null", e)
            return Unop("not", node) if neg else node
        if t.kind == "kw" and t.value == "starts":
            self.next()
            self.expect("kw", "with")
            return Binop("starts_with", e, self.parse_bitor())
        if t.kind == "kw" and t.value == "ends":
            self.next()
            self.expect("kw", "with")
            return Binop("ends_with", e, self.parse_bitor())
        if t.kind == "kw" and t.value == "percentile":
            # `p PERCENTILE v` / `[p1; p2] PERCENTILE v` (doc:681)
            self.next()
            return Call("percentile_of", [e, self.parse_bitor()])
        return e

    def parse_in_operand(self) -> Any:
        """RHS of ``x IN s``: a parenthesized list, or any expression
        (array/vector, string for substring search, CIDR literal —
        doc/raql/expr.ml:626)."""
        if self.peek().kind == "op" and self.peek().value == "(":
            self.expect("op", "(")
            items = [self.parse_expr()]
            while self.accept("op", ","):
                items.append(self.parse_expr())
            self.expect("op", ")")
            return Call("_list", items) if len(items) > 1 else items[0]
        return self.parse_bitor()

    # bit-wise tier (doc/raql/expr.ml:596-625): | and # loosest, then
    # &, then shifts — all tighter than comparisons, looser than ||
    def parse_bitor(self) -> Any:
        e = self.parse_bitand()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value in ("|", "#"):
                self.next()
                e = Binop(t.value, e, self.parse_bitand())
            else:
                return e

    def parse_bitand(self) -> Any:
        e = self.parse_shift()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value == "&":
                self.next()
                e = Binop("&", e, self.parse_shift())
            else:
                return e

    def parse_shift(self) -> Any:
        e = self.parse_coalesce()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value in ("<<", ">>"):
                self.next()
                e = Binop(t.value, e, self.parse_coalesce())
            else:
                return e

    def parse_coalesce(self) -> Any:
        # `a |? b` — first non-null (doc/raql/expr.ml:424)
        e = self.parse_concat()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value == "|?":
                self.next()
                e = Call("coalesce", [e, self.parse_concat()])
            else:
                return e

    def parse_concat(self) -> Any:
        e = self.parse_add()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value == "||":
                self.next()
                e = Binop("||", e, self.parse_add())
            else:
                return e

    def parse_add(self) -> Any:
        e = self.parse_mul()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value in ("+", "-"):
                self.next()
                e = Binop(t.value, e, self.parse_mul())
            else:
                return e

    def parse_mul(self) -> Any:
        e = self.parse_pow()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value in ("*", "/", "//", "%"):
                self.next()
                e = Binop(t.value, e, self.parse_pow())
            else:
                return e

    def parse_pow(self) -> Any:
        e = self.parse_unary()
        t = self.peek()
        if t.kind == "op" and t.value == "^":
            self.next()
            return Binop("^", e, self.parse_pow())  # right assoc
        return e

    def parse_unary(self) -> Any:
        t = self.peek()
        # #start / #stop event-time virtual fields (src/RamenExpr.ml:1371
        # SL0 EventStart/EventStop). In operand position a '#' can only
        # start one of these — binary xor '#' is consumed by parse_bin.
        if t.kind == "op" and t.value == "#":
            save = self.i
            self.next()
            nt = self.peek()
            if nt.kind == "name" and nt.value.lower() in ("start", "stop"):
                self.next()
                return Field("#" + nt.value.lower())
            self.i = save
        # IS x IN TOP n … (doc:997) — the only prefix use of IS.
        # IS x IN CMS TOP n [OVER m] y [BY w] is the sketch-backed
        # membership kind (reference raql_top_output.type MEMBERSHIP;
        # the tracked expression y is explicit, like CMS TOP n y)
        if t.kind == "kw" and t.value == "is":
            save = self.i
            self.next()
            try:
                x = self.parse_unary()
                self.expect("kw", "in")
                tt = self.expect("name")
                if tt.value.lower() == "cms":
                    t2 = self.expect("name")
                    if t2.value.lower() != "top":
                        raise SyntaxError("IS … IN CMS: expected TOP")
                    opts = self._parse_top_size()
                    y = self.parse_unary()
                    return Call(
                        "is_in_cms_top", [x, y],
                        opts=self._parse_top_clauses(opts),
                    )
                if tt.value.lower() != "top":
                    raise SyntaxError("IS … IN: expected TOP")
                opts = self._parse_top_size()
                return Call("is_in_top", [x], opts=self._parse_top_clauses(opts))
            except SyntaxError:
                self.i = save
        if t.kind == "op" and t.value == "-":
            self.next()
            e = self.parse_unary()
            if isinstance(e, Lit) and isinstance(e.value, int | float) and not isinstance(e.value, bool):
                return Lit(-e.value)  # negative literal (keeps // int semantics)
            return Unop("neg", e)
        return self.parse_postfix()

    def parse_postfix(self) -> Any:
        e = self.parse_atom()
        while True:
            if self.accept("op", "["):
                idx = self.parse_expr()
                self.expect("op", "]")
                e = Binop("index", e, idx)
            elif (
                isinstance(e, Lit)
                and self.peek().kind == "op"
                and self.peek().value == "?"
            ):
                # nullable-typed literal `1u8?` (src/raql_type.ml:16-33):
                # the annotation doesn't change the value
                self.next()
            else:
                return e

    def _parse_top_size(self) -> dict:
        """``n [OVER m]`` after TOP — m (tracked size) is an accuracy
        knob of the reference's bounded sketch (raql_expr.type:329
        max_size); the exact engine consumes and ignores it."""
        n = int(self.expect("num").value)
        if self.peek().kind == "name" and self.peek().value.lower() == "over":
            self.next()
            self.expect("num")
        return {"n": n}

    def _parse_top_clauses(self, opts: dict) -> dict:
        """Trailing TOP clauses: [BY w] [FOR THE LAST d] [ABOVE s
        SIGMAS] (doc:975-1006)."""
        while True:
            t = self.peek()
            if t.kind == "kw" and t.value == "by":
                self.next()
                opts["by"] = self.parse_expr()
            elif t.kind == "kw" and t.value == "for":
                # FOR [THE LAST] d — decay duration
                # (local_state_in_where_slow.ramen: `for 1`)
                self.next()
                if self.peek().kind == "name" and self.peek().value.lower() == "the":
                    self.next()
                    tk = self.expect("name")
                    if tk.value.lower() != "last":
                        raise SyntaxError("TOP: expected FOR THE LAST")
                opts["duration"] = self._parse_duration()
            elif t.kind == "name" and t.value.lower() == "at":
                # AT TIME t — decay clock (raql_expr.type:336 time)
                self.next()
                tm = self.expect("name")
                if tm.value.lower() != "time":
                    raise SyntaxError("TOP: expected AT TIME")
                opts["time"] = self.parse_unary()
            elif t.kind == "name" and t.value.lower() == "above":
                self.next()
                s = float(self.expect("num").value)
                u = self.expect("name")
                if u.value.lower() != "sigmas":
                    raise SyntaxError("TOP: expected SIGMAS")
                opts["sigmas"] = s
            else:
                return opts

    def _parse_duration(self):
        """Duration operand: numeric literal (suffix already applied by
        the tokenizer) with an optional unit word, or a field/param
        name resolved at compile time (past.ramen `past three_years`)."""
        if self.peek().kind == "num":
            d = float(self.next().value)
            nt = self.peek()
            if nt.kind == "name" and nt.value.lower() in _DURATION_UNITS:
                d *= _DURATION_UNITS[self.next().value.lower()]
            return d
        return Field(self.expect("name").value)

    def _parse_past(self, sample_n: int | None = None):
        """PAST d [TUMBLING|SLIDING] [OF] x [AT TIME t] — 'PAST'
        already consumed (doc:1007, RamenExpr.ml Past)."""
        d = self._parse_duration()
        tumbling = False
        nt = self.peek()
        if nt.kind == "name" and nt.value.lower() in ("tumbling", "sliding"):
            tumbling = self.next().value.lower() == "tumbling"
        keep = self._parse_nulls_opt()
        nt = self.peek()
        if nt.kind == "name" and nt.value.lower() == "of":
            self.next()
        x = self.parse_unary()
        time_node = None
        nt = self.peek()
        if nt.kind == "name" and nt.value.lower() == "at":
            self.next()
            tm = self.expect("name")
            if tm.value.lower() != "time":
                raise SyntaxError("PAST: expected AT TIME")
            time_node = self.parse_unary()
        o: dict = {"d": d, "tumbling": tumbling}
        if sample_n is not None:
            o["sample"] = sample_n
        if keep is not None:
            o["keep_nulls"] = keep
        if time_node is not None:
            o["time"] = time_node
        return Call("past", [x], opts=o)

    def _parse_nulls_opt(self) -> bool | None:
        """Optional ``SKIP NULLS`` / ``KEEP NULLS`` after a stateful
        function name (src/raql_expr.type:46-52). Returns keep_nulls
        or None (default = skip)."""
        save = self.i
        t = self.peek()
        word = None
        if t.kind == "kw" and t.value == "keep":
            word = "keep"
        elif t.kind == "name" and t.value.lower() == "skip":
            word = "skip"
        if word:
            self.next()
            nt = self.peek()
            if (nt.kind == "name" and nt.value.lower() == "nulls") or (
                nt.kind == "kw" and nt.value == "null"
            ):
                self.next()
                return word == "keep"
            self.i = save
        return None

    def _starts_operand(self) -> bool:
        nxt = self.peek()
        return (
            nxt.kind in ("name", "num", "str", "net")
            or (nxt.kind == "op" and nxt.value in ("(", "[", "-"))
            or (
                nxt.kind == "kw"
                and nxt.value
                in ("true", "false", "null", "if", "case", "group", "and", "or",
                    "not", "distinct")
            )
        )

    def _parse_type_spec(self, allow_vec: bool = True) -> TypeSpec:
        t = self.expect("name")
        name = t.value.lower()
        if name not in _TYPE_NAMES:
            raise SyntaxError(f"RaQL: unknown type {t.value!r} at {t.pos}")
        nullable = bool(self.accept("op", "?"))
        vec_dim = None
        is_arr = False
        if allow_vec and self.accept("op", "["):
            if self.peek().kind == "num":
                vec_dim = int(self.next().value)
            else:
                is_arr = True
            self.expect("op", "]")
        return TypeSpec(name, nullable, vec_dim, is_arr)

    def _parse_csv_type(self) -> TypeSpec:
        """Recursive CSV column type (dessser DT.print_mn syntax,
        emitted by the reference's tools/gen_reader_test.ml):
        scalar[?], (t1; t2)[?], {name: t; …}[?], any of them [dim][?].
        Scalars (plus scalar vectors) reduce to the classic TypeSpec
        so the single-cell reader paths are untouched."""
        t = self.peek()
        if t.kind == "op" and t.value == "(":
            self.next()
            items: list = [(None, self._parse_csv_type())]
            while self.accept("op", ";") or self.accept("op", ","):
                items.append((None, self._parse_csv_type()))
            self.expect("op", ")")
            ts = TypeSpec("__tuple", bool(self.accept("op", "?")), items=items)
        elif t.kind == "op" and t.value == "{":
            self.next()
            items = []
            while True:
                nm = self.expect("name").value
                self.expect("op", ":")
                items.append((nm, self._parse_csv_type()))
                if not (self.accept("op", ";") or self.accept("op", ",")):
                    break
            self.expect("op", "}")
            ts = TypeSpec("__rec", bool(self.accept("op", "?")), items=items)
        else:
            ts = self._parse_type_spec(allow_vec=False)
        while self.accept("op", "["):
            if self.peek().kind == "num":
                dim = int(self.next().value)
                arr = False
            else:
                dim, arr = None, True
            self.expect("op", "]")
            vec_nullable = bool(self.accept("op", "?"))
            if ts.items is None and ts.vec_dim is None and not ts.is_arr:
                # plain scalar vector — classic form
                ts = TypeSpec(ts.name, ts.nullable, dim, arr)
                ts.nullable = ts.nullable or vec_nullable
            else:
                ts = TypeSpec(
                    "__vec", vec_nullable, vec_dim=dim, is_arr=arr,
                    items=[(None, ts)],
                )
        return ts

    def _parse_agg_call(self, low: str) -> Any | None:
        """Unary stateful-function application: ``SUM x``, ``MIN SKIP
        NULLS [..]``, ``COUNT DISTINCT x`` — returns None if the next
        tokens don't start an operand."""
        lifespan = None
        if self.accept("kw", "globally"):
            # GLOBALLY lifespan (src/raql_expr.type:46-52). The fold's
            # state is group-scoped; for ungrouped operations (the
            # corpus uses SUM GLOBALLY on global streams) the two
            # coincide — the grouped delta is documented in COVERAGE.
            lifespan = "global"
        elif self.peek().kind == "name" and self.peek().value.lower() == "locally":
            self.next()
            lifespan = "local"
        keep = self._parse_nulls_opt()
        if low == "count" and self.accept("kw", "distinct"):
            inner = Call("distinct", [self.parse_unary()])
            return Call("count", [inner], opts={"keep_nulls": keep})
        if not self._starts_operand():
            return None
        opts: dict = {} if keep is None else {"keep_nulls": keep}
        if lifespan is not None:
            opts["lifespan"] = lifespan
        return Call(low, [self.parse_unary()], opts=opts)

    def parse_atom(self) -> Any:
        t = self.next()
        if t.kind == "num":
            if t.suffix_type == "ord":
                # ordinal accessor `1st some_tup` = GET(0, …) on a
                # tuple/vector (constructed_types.ramen:5); before
                # PERCENTILE it's the plain number (`90th percentile`)
                nt = self.peek()
                if nt.kind == "kw" and nt.value == "percentile":
                    return Lit(t.value)
                if self._starts_operand() or (
                    nt.kind == "op" and nt.value == "("
                ):
                    operand = self.parse_unary()
                    return Call("get_ord", [operand], opts={"i": int(t.value)})
                return Lit(t.value)
            if t.suffix_type:
                # width-suffixed literal keeps its declared type (PEEK
                # unit widths, peek_array.ramen); optional trailing `?`
                nullable = bool(self.accept("op", "?"))
                return Call(
                    "cast", [Lit(t.value)],
                    opts={"to": TypeSpec(t.suffix_type, nullable)},
                )
            return Lit(t.value)
        if t.kind == "str":
            return Lit(t.value)
        if t.kind == "net":
            return _parse_net_literal(t.value)
        if t.kind == "kw":
            if t.value == "true":
                return Lit(True)
            if t.value == "false":
                return Lit(False)
            if t.value == "null":
                return Lit(None)
            if t.value == "if":
                # IF c THEN a [ELSE b] | IF(c, a[, b]) (doc:862-870)
                if self.accept("op", "("):
                    cond = self.parse_expr()
                    if self.accept("op", ","):
                        then = self.parse_expr()
                        els = self.parse_expr() if self.accept("op", ",") else None
                        self.expect("op", ")")
                        return CaseWhen([(cond, then)], els)
                    self.expect("op", ")")
                else:
                    cond = self.parse_expr()
                self.expect("kw", "then")
                then = self.parse_expr()
                els = self.parse_expr() if self.accept("kw", "else") else None
                return CaseWhen([(cond, then)], els)
            if t.value == "case":
                branches = []
                while self.accept("kw", "when"):
                    c = self.parse_expr()
                    self.expect("kw", "then")
                    v = self.parse_expr()
                    branches.append((c, v))
                els = self.parse_expr() if self.accept("kw", "else") else None
                self.expect("kw", "end")
                return CaseWhen(branches, els)
            if t.value == "distinct":
                # DISTINCT x — novelty flag (doc/raql/expr.ml:816)
                return Call("distinct", [self.parse_unary()])
            if t.value == "in":
                # whole-input-tuple ref, e.g. GET("f", in)
                # (constructed_types.ramen:28)
                return Field("in")
            if t.value in ("and", "or", "group"):
                # aggregate forms in operand position: AND [..] /
                # OR KEEP NULLS [..] / GROUP x (doc:748-755, 800) — no
                # ambiguity with the binary keyword / GROUP BY clause
                fn = {"and": "and_all", "or": "or_all", "group": "group"}[t.value]
                agg = self._parse_agg_call(fn)
                if agg is not None:
                    return agg
                raise SyntaxError(f"RaQL: unexpected keyword {t.value!r} at {t.pos}")
            raise SyntaxError(f"RaQL: unexpected keyword {t.value!r} at {t.pos}")
        if t.kind == "op" and t.value == "(":
            # compound tuple-type cast: (string; u32?)( … )
            # (tuples.ramen converts) — lookahead, rollback on mismatch
            save = self.i
            tspecs: list[TypeSpec] | None = []
            while tspecs is not None:
                nt = self.peek()
                if nt.kind == "name" and nt.value.lower() in _TYPE_NAMES:
                    self.next()
                    nb = bool(self.accept("op", "?"))
                    tspecs.append(TypeSpec(nt.value.lower(), nb))
                    if self.accept("op", ";"):
                        continue
                    if self.accept("op", ")") and len(tspecs) >= 2:
                        break
                tspecs = None
            if tspecs is not None:
                nullable = bool(self.accept("op", "?"))
                if self.peek().kind == "op" and self.peek().value == "(":
                    self.next()
                    args = [self.parse_expr()]
                    while self.accept("op", ";"):
                        args.append(self.parse_expr())
                    self.expect("op", ")")
                    return Call(
                        "cast_tuple", args,
                        opts={"types": tspecs, "nullable": nullable},
                    )
            self.i = save
            e = self.parse_expr()
            # tuple literal (a; b; …) → struct
            if self.accept("op", ";"):
                items = [e, self.parse_expr()]
                while self.accept("op", ";"):
                    items.append(self.parse_expr())
                self.expect("op", ")")
                return Call("_tuple", items)
            self.expect("op", ")")
            return e
        if t.kind == "op" and t.value == "[":
            items = []
            if not self.accept("op", "]"):
                items.append(self.parse_expr())
                while self.accept("op", ";"):
                    items.append(self.parse_expr())
                self.expect("op", "]")
            return Call("_array", items)
        if t.kind == "op" and t.value == "{":
            # record literal { k : v ; … } (constructed_types.ramen:9);
            # later fields may reference earlier ones by name — resolve
            # those intra-record refs at parse time
            names: list[str] = []
            items = []
            while True:
                k = self.expect("name").value
                self.expect("op", ":")
                v = self.parse_expr()
                v = _subst_fields(v, dict(zip(names, items)))
                names.append(k)
                items.append(v)
                if not self.accept("op", ";"):
                    break
            self.expect("op", "}")
            return Call("_record", items, opts={"names": names})
        if t.kind == "name":
            name = t.value
            low = name.lower()
            # PEEK type [[BIG|LITTLE] ENDIAN] operand (doc:94) — the
            # type takes no vector suffix (a following `[` is the
            # int-vector operand, peek_array.ramen:6)
            if low == "peek":
                ts = self._parse_type_spec(allow_vec=False)
                endian = "little"
                nxt = self.peek()
                if nxt.kind == "name" and nxt.value.lower() in ("big", "little"):
                    endian = self.next().value.lower()
                    en = self.expect("name")
                    if en.value.lower() != "endian":
                        raise SyntaxError("PEEK: expected ENDIAN")
                return Call("peek", [self.parse_unary()], opts={"type": ts, "endian": endian})
            # TOP family (doc:975-1006, raql_expr.type:317-346):
            # [LIST] TOP n [OVER m] x [BY w] [ABOVE s SIGMAS] and
            # RANK OF x IN TOP n …; IS x IN TOP n … parses in
            # parse_unary (prefix keyword IS)
            if low == "list":
                nxt = self.peek()
                if nxt.kind == "name" and nxt.value.lower() == "top":
                    self.next()
                    low = "top"
            if low == "top" and self.peek().kind == "num":
                opts = self._parse_top_size()
                x = self.parse_unary()
                return Call("top", [x], opts=self._parse_top_clauses(opts))
            if low == "rank":
                nxt = self.peek()
                if nxt.kind == "name" and nxt.value.lower() == "of":
                    self.next()
                    x = self.parse_unary()
                    self.expect("kw", "in")
                    tt = self.expect("name")
                    if tt.value.lower() == "cms":
                        # RANK OF x IN CMS TOP n [OVER m] y [BY w] —
                        # sketch-backed rank kind (raql_top_output.type)
                        t2 = self.expect("name")
                        if t2.value.lower() != "top":
                            raise SyntaxError("RANK OF … IN CMS: expected TOP")
                        opts = self._parse_top_size()
                        y = self.parse_unary()
                        return Call(
                            "rank_in_cms_top", [x, y],
                            opts=self._parse_top_clauses(opts),
                        )
                    if tt.value.lower() != "top":
                        raise SyntaxError("RANK OF … IN: expected TOP")
                    opts = self._parse_top_size()
                    return Call(
                        "rank_in_top", [x], opts=self._parse_top_clauses(opts)
                    )
            # Sketch aggregates (training-pipeline extension; nearest
            # reference surface raql_expr.type Distinct/Top and the
            # doc:681 PERCENTILE):
            # KMV [k] DISTINCT x — approximate distinct count;
            # KMV [k] p PERCENTILE x BY id — bottom-k-sample quantile
            #   sketch (p an ordinal or a [p1; p2] vector; BY names the
            #   UNIQUE row id the sample hashes — hashing the value
            #   itself would bias quantiles toward the distinct-value
            #   distribution, see operators.sketch.quantile_prune);
            # CMS TOP n [OVER m] x [BY w] — approximate heavy hitters.
            # Guarded on the follow token so bare `kmv` / `cms` stay
            # usable as field names (incl. `kmv[i]` indexing: the
            # percentile attempt backtracks on any parse failure).
            if low == "kmv" and (
                self.peek().kind == "num"
                or (self.peek().kind == "kw" and self.peek().value == "distinct")
                or (self.peek().kind == "op" and self.peek().value == "[")
            ):
                save = self.i
                k = None
                if self.peek().kind == "num" and not self.peek().suffix_type:
                    k = int(self.next().value)
                if self.accept("kw", "distinct"):
                    return Call(
                        "kmv_distinct", [self.parse_unary()],
                        opts={"k": 256 if k is None else k},
                    )
                try:
                    pnode = self.parse_unary()
                    self.expect("kw", "percentile")
                except SyntaxError:
                    self.i = save  # not the sketch form: plain field
                else:
                    # PERCENTILE consumed: unambiguously the sketch
                    # form — everything from here is a hard error
                    value = self.parse_unary()
                    if not self.accept("kw", "by"):
                        raise SyntaxError(
                            "KMV PERCENTILE requires BY <unique row id> "
                            "(the sample hashes the row id — hashing "
                            "the value would bias quantiles toward the "
                            "distinct-value distribution)"
                        )
                    id_e = self.parse_unary()
                    if isinstance(pnode, Lit):
                        ps, single = [float(pnode.value) / 100.0], True
                    elif (
                        isinstance(pnode, Call)
                        and pnode.fn == "_array"
                        and all(isinstance(p, Lit) for p in pnode.args)
                    ):
                        ps = [float(p.value) / 100.0 for p in pnode.args]
                        single = False
                    else:
                        raise SyntaxError(
                            "KMV PERCENTILE requires constant percentile(s)"
                        )
                    if any(not (0.0 <= p <= 1.0) for p in ps):
                        raise SyntaxError(
                            "KMV PERCENTILE percentiles must be in [0, 100]"
                        )
                    return Call(
                        "quantile_sketch", [value, id_e],
                        opts={"k": 1024 if k is None else k,
                              "ps": ps, "single": single},
                    )
            if low == "cms" and (
                self.peek().kind == "name"
                and self.peek().value.lower() == "top"
            ):
                self.next()
                opts = self._parse_top_size()
                x = self.parse_unary()
                return Call("cms_top", [x], opts=self._parse_top_clauses(opts))
            # [LARGEST|SMALLEST] [BUT b] [UP TO] n x [BY w, …]
            # (doc:950-967; LATEST/OLDEST keyword forms go through the
            # ROW_STATEFUL path below)
            if low in ("largest", "smallest") and self.peek().kind in ("num", "name"):
                inv = low == "smallest"
                but = 0
                up_to = False
                t2 = self.peek()
                if t2.kind == "name" and t2.value.lower() == "but":
                    self.next()
                    but = int(self.expect("num").value)
                    t2 = self.peek()
                if t2.kind == "name" and t2.value.lower() == "up":
                    self.next()
                    self.expect("kw", "to")
                    up_to = True
                    t2 = self.peek()
                if t2.kind == "num":
                    n = int(self.expect("num").value)
                    x = self.parse_unary()
                    by: list = []
                    if self.accept("kw", "by"):
                        by.append(self.parse_expr())
                        while self.accept("op", ","):
                            by.append(self.parse_expr())
                    return Call(
                        "largest", [x],
                        opts={"n": n, "but": but, "by": by,
                              "smallest": inv, "up_to": up_to},
                    )
            # CHANGED f — sugar for `not (f = previous.f)` against the
            # last committed output (RamenExpr.ml:1570-1596)
            if low == "changed" and (
                self._starts_operand()
                or (self.peek().kind == "op" and self.peek().value == "(")
            ):
                f = self.parse_unary()
                if not isinstance(f, Field):
                    raise SyntaxError("CHANGED is only valid for fields")
                prev = Field("previous." + _strip_ns(f.path))
                return Unop("not", Binop("=", f, prev))
            # ONE OUT OF n x — nullify all but every nth value (doc:879)
            if low == "one":
                save = self.i
                nt = self.peek()
                if nt.kind == "name" and nt.value.lower() == "out":
                    self.next()
                    of = self.expect("name")
                    if of.value.lower() != "of":
                        self.i = save
                    else:
                        n_e = self.parse_unary()
                        x = self.parse_unary()
                        return Call("one_out_of", [n_e, x])
            # ONCE EVERY d [TUMBLING|SLIDING] x — time-based ONE OUT OF
            # (doc:908, RamenExpr.ml:1645; time = #start)
            if low == "once":
                nt = self.peek()
                if nt.kind == "name" and nt.value.lower() == "every":
                    self.next()
                    d = self._parse_duration()
                    tumbling = False
                    nt = self.peek()
                    if nt.kind == "name" and nt.value.lower() in ("tumbling", "sliding"):
                        tumbling = self.next().value.lower() == "tumbling"
                    keep = self._parse_nulls_opt()
                    x = self.parse_unary()
                    o: dict = {"d": d, "tumbling": tumbling}
                    if keep is not None:
                        o["keep_nulls"] = keep
                    return Call("once_every", [x], opts=o)
            # SAMPLE [OF SIZE] n [OF THE] PAST d … — reservoir-bounded
            # PAST window (RamenExpr.ml past sample_size;
            # baseline.ramen:16, past.ramen:29). Plain SAMPLE(n, x) /
            # SAMPLE n x fall through to the ROW_STATEFUL path.
            if low == "sample":
                save = self.i
                try:
                    if self.peek().kind == "name" and self.peek().value.lower() == "of":
                        self.next()
                        if not (
                            self.peek().kind == "name"
                            and self.peek().value.lower() == "size"
                        ):
                            raise SyntaxError("sample: not the PAST form")
                        self.next()
                    if self.peek().kind != "num":
                        raise SyntaxError("sample: not the PAST form")
                    n = int(self.next().value)
                    for w in ("of", "the"):
                        if (
                            self.peek().kind == "name"
                            and self.peek().value.lower() == w
                        ):
                            self.next()
                    if not (
                        self.peek().kind == "name"
                        and self.peek().value.lower() == "past"
                    ):
                        raise SyntaxError("sample: not the PAST form")
                    self.next()
                    return self._parse_past(sample_n=n)
                except SyntaxError:
                    self.i = save
            # [SAMPLE s] PAST d [TUMBLING] [OF] x [AT TIME t] (doc:1007,
            # RamenExpr.ml past) — values of x within the last d seconds
            if low == "past" and self._starts_operand():
                return self._parse_past()
            # INDEX [FROM START|END](s, c) (doc:666)
            if low == "index" and self.peek().kind == "kw" and self.peek().value == "from":
                self.next()
                dt = self.next()  # START is a name, END is a keyword
                d = str(dt.value).lower()
                if d not in ("start", "end"):
                    raise SyntaxError("INDEX FROM: expected START or END")
                args = self._parse_call_args()
                return Call("index", args, opts={"from_end": d == "end"})
            # row-stateful functions, keyword form with 1-3 operands:
            # `lag n`, `lag 2 n`, `latest 2 n`, `season_moveavg p k x`
            # (src/raql_expr.type:252-314; paren form goes through the
            # generic call path below)
            if low in ROW_STATEFUL and not (
                self.peek().kind == "op" and self.peek().value == "("
            ):
                # optional lifespan marker: REMEMBER GLOBALLY (…)
                # (local_state_in_where_slow.ramen:5)
                if self.accept("kw", "globally"):
                    pass
                elif self.peek().kind == "name" and self.peek().value.lower() == "locally":
                    self.next()
                keep = self._parse_nulls_opt()
                if self.peek().kind == "op" and self.peek().value == "(":
                    # `sample skip nulls (10, x)` — nulls opt before the
                    # paren form (groups.ramen:20)
                    args = self._parse_call_args()
                    o = {} if keep is None else {"keep_nulls": keep}
                    return Call(low, args, opts=o)
                ops: list = []
                while self._starts_operand() and len(ops) < 3:
                    ops.append(self.parse_unary())
                    if keep is None:
                        # `latest 10 skip nulls x` — opt between count
                        # and operand (groups.ramen:15)
                        keep = self._parse_nulls_opt()
                if ops:
                    o = {} if keep is None else {"keep_nulls": keep}
                    return Call(low, ops, opts=o)
            # net type-calls: ip(x)/ip4(x)/ip6(x)… keep the operand's
            # numeric value (engine representation; the reference's
            # typed TIp only changes printing, peek.ramen:7)
            if low in _NET_TYPE_CALLS:
                save = self.i
                nullable = bool(self.accept("op", "?"))
                vdim: int | None = None
                v_outer_nullable = False
                if self.accept("op", "["):
                    # ip?[2](…) / ip[2]?(…) — vector-of-ip cast
                    # (tuples.ramen t7/t8)
                    if self.peek().kind == "num":
                        vdim = int(self.next().value)
                    if vdim is None or not self.accept("op", "]"):
                        self.i = save
                        nullable, vdim = False, None
                    else:
                        v_outer_nullable = bool(self.accept("op", "?"))
                if self.peek().kind == "op" and self.peek().value == "(":
                    self.next()
                    args = [self.parse_expr()]
                    while self.accept("op", ";") or self.accept("op", ","):
                        args.append(self.parse_expr())
                    self.expect("op", ")")
                    if vdim is not None:
                        return Call(
                            "net_cast_vec", args,
                            opts={
                                "kind": low,
                                "elem_nullable": nullable,
                                "outer_nullable": v_outer_nullable,
                            },
                        )
                    return Call("net_cast", args, opts={"kind": low, "nullable": nullable})
                self.i = save
            # type-call casts: U8(x), u32?(3), char?[1]?(x), string[](t),
            # string[2](t) (doc:73 `…type…(…expr…)`; char.ramen,
            # tuples.ramen compound-cast forms)
            if low in _TYPE_NAMES:
                save = self.i
                nullable = bool(self.accept("op", "?"))
                vec_dim: int | None = None
                is_arr = False
                if self.accept("op", "["):
                    if self.peek().kind == "num":
                        vec_dim = int(self.next().value)
                    else:
                        is_arr = True
                    if not self.accept("op", "]"):
                        self.i = save
                        vec_dim, is_arr = None, False
                    else:
                        # outer '?': the vector itself is nullable —
                        # representationally free in Spark
                        self.accept("op", "?")
                if self.peek().kind == "op" and self.peek().value == "(":
                    args = self._parse_call_args()
                    return Call(
                        "cast", args,
                        opts={"to": TypeSpec(low, nullable, vec_dim, is_arr)},
                    )
                self.i = save
            # function call with parens
            if self.peek().kind == "op" and self.peek().value == "(":
                if low == "cast":
                    # CAST(e AS type)
                    self.expect("op", "(")
                    e = self.parse_expr()
                    self.expect("kw", "as")
                    ts = self._parse_type_spec()
                    self.expect("op", ")")
                    return Call("cast", [e], opts={"to": ts})
                args = self._parse_call_args()
                return Call(low, args)
            # unary keyword aggregates / functions: `SUM x`, `ABS y` —
            # but nullary builtins (NOW/RANDOM/PI) never take operands
            if low not in _NULLARY and (low in AGGS or low in _fn_registry()):
                agg = self._parse_agg_call(low)
                if agg is not None:
                    return agg
            return Field(name)
        raise SyntaxError(f"RaQL: unexpected token {t.value!r} at {t.pos}")

    def _parse_call_args(self) -> list:
        self.expect("op", "(")
        args = []
        if not (self.peek().kind == "op" and self.peek().value == ")"):
            args.append(self.parse_expr())
            while self.accept("op", ","):
                args.append(self.parse_expr())
        self.expect("op", ")")
        return args


def parse_expr(text: str):
    p = Parser(tokenize(text))
    e = p.parse_expr()
    p.expect("eof")
    return e


# ---------------------------------------------------------------------------
# AST → Column
# ---------------------------------------------------------------------------


def _is_array_node(node) -> bool:
    """Syntactic check: does this expression produce an array/vector?
    Drives the Immediate-lifespan aggregate forms (raql_expr.type:220)."""
    if isinstance(node, Call):
        if node.fn == "_array":
            return True
        if node.fn == "cast":
            ts = node.opts.get("to")
            return ts is not None and (ts.vec_dim is not None or ts.is_arr)
        if node.fn in ("group", "sample", "past", "latest", "oldest", "largest"):
            # vector-valued stateful windows: an enclosing aggregate
            # takes their materialized list (min recent_n, past.ramen)
            return True
    return False


def _is_string_node(node) -> bool:
    if isinstance(node, Lit):
        return isinstance(node.value, str)
    if isinstance(node, Binop) and node.op == "||":
        return True
    if isinstance(node, Call) and node.fn in ("lower", "upper", "substring"):
        return True
    return False


def _is_bool_expr_node(node) -> bool:
    """Syntactically-boolean expression (drives COUNT's count-true
    semantics in the Catalyst fast path)."""
    if isinstance(node, Lit):
        return isinstance(node.value, bool)
    if isinstance(node, Binop):
        return node.op in (
            "=", "<>", "!=", "<", "<=", ">", ">=", "and", "or",
            "like", "like_cs", "in", "starts_with", "ends_with",
        )
    if isinstance(node, Unop):
        return node.op in ("not", "is_null")
    if isinstance(node, Call):
        return node.fn in ("is_in_top", "remember", "distinct", "hysteresis")
    return False


def _is_bool_array_node(node) -> bool:
    return (
        isinstance(node, Call)
        and node.fn == "_array"
        and all(isinstance(e, Lit) and isinstance(e.value, bool) for e in node.args)
    )


def _is_immediate_bool_node(node) -> bool:
    if isinstance(node, Lit):
        return isinstance(node.value, bool)
    return isinstance(node, Call) and node.fn == "distinct" and bool(node.args) and _is_array_node(node.args[0])


def _strip_ns(path: str) -> str:
    # in./out. namespaces resolve to plain columns in batch compilation
    for ns in ("in.", "out.", "param."):
        if path.startswith(ns):
            return path[len(ns):]
    return path


def _subst_fields(node, mapping: dict[str, Any]):
    """Replace plain Field refs by AST nodes (record literals' intra-
    record references, generator hoisting)."""
    if not mapping:
        return node
    if isinstance(node, Field):
        return mapping.get(_strip_ns(node.path), node)
    if isinstance(node, Unop):
        return Unop(node.op, _subst_fields(node.e, mapping))
    if isinstance(node, Binop):
        return Binop(
            node.op, _subst_fields(node.a, mapping), _subst_fields(node.b, mapping)
        )
    if isinstance(node, Call):
        return Call(
            node.fn, [_subst_fields(a, mapping) for a in node.args], opts=node.opts
        )
    if isinstance(node, CaseWhen):
        return CaseWhen(
            [
                (_subst_fields(c, mapping), _subst_fields(v, mapping))
                for c, v in node.branches
            ],
            _subst_fields(node.otherwise, mapping)
            if node.otherwise is not None
            else None,
        )
    return node


class Compiler:
    def __init__(
        self,
        params: dict[str, Any] | None = None,
        in_shadow: dict[str, str] | None = None,
        in_names: frozenset[str] | None = None,
        window=None,
        src_arrays: frozenset[str] | None = None,
        schema: dict[str, str] | None = None,
    ):
        self.params = params or {}
        # input column → simpleString DDL; lets comparisons see the
        # GENERIC ip/cidr sum structs (SURVEY §1.2) behind a Field ref
        self.schema = schema or {}
        self.fns = _fn_registry()
        self.has_aggregate = False
        # input columns of array type — `SUM f` over an array field is
        # the Immediate (list-operand) form (kahan_sum.ramen:8), which
        # the syntactic _is_array_node check alone can't see
        self.src_arrays = src_arrays or frozenset()
        # window mode: aggregate calls compile to window aggregates over
        # this pyspark WindowSpec (the Catalyst-lowered COMMIT path) with
        # the fold's skip-nulls first/last semantics
        self.window = window
        # Namespace fidelity (reference: `in.` ALWAYS means the input
        # tuple even when a select alias shadows the input name,
        # src/RamenExpr.ml field resolution). When an alias shadows an
        # input column, compile_operation snapshots the input value
        # under a private name and maps in-refs through ``in_shadow``.
        self.in_shadow = in_shadow or {}
        self.in_names = in_names or frozenset()

    def col(self, node) -> Column:
        if isinstance(node, Lit):
            if isinstance(node.value, int) and not isinstance(node.value, bool) and (
                node.value >= 2**63 or node.value < -(2**63)
            ):
                # wide int literal (u64/u128 range) → decimal
                from decimal import Decimal

                return F.lit(Decimal(node.value))
            return F.lit(node.value)
        if isinstance(node, NetLit):
            return self._net_lit(node)
        if isinstance(node, Field):
            if node.path.startswith("param."):
                key = node.path[len("param."):]
                return F.lit(self.params[key])
            plain = _strip_ns(node.path)
            # explicit out.-qualified refs read the chained value; in.-
            # qualified OR bare refs naming an input column read the
            # input tuple (via snapshot if shadowed)
            if node.path in ("#start", "#stop"):
                # no EVENT clause resolved these (see _rewrite_event_time)
                # → the start/stop column convention
                return F.col(node.path[1:])
            if not node.path.startswith("out.") and (
                node.path.startswith("in.") or plain in self.in_names
            ):
                return F.col(self.in_shadow.get(plain, plain))
            # bare parameter reference (params.ramen: input columns
            # win via the in_names check above)
            if plain in self.params:
                v = self.params[plain]
                if isinstance(v, int) and not isinstance(v, bool) and (
                    v >= 2**63 or v < -(2**63)
                ):
                    from decimal import Decimal

                    return F.lit(Decimal(v))
                return F.lit(v)
            # nullary builtins usable bare (NOW, RANDOM, PI) — columns
            # of the same name win via the in_names check above
            low = plain.lower()
            if low == "pi":
                return S.pi()
            if low == "now":
                return S.now()
            if low == "random":
                return S.random()
            return F.col(plain)
        if isinstance(node, Unop):
            c = self.col(node.e)
            if node.op == "not":
                return ~c
            if node.op == "neg":
                return -c
            if node.op == "is_null":
                return c.isNull()
            raise ValueError(f"unknown unop {node.op}")
        if isinstance(node, Binop):
            if node.op in ("=", "<>", "!="):
                # generic-ip struct column vs address literal: compare
                # within the matching family (src/raql_type.ml:34-40 Ip)
                for x, y in ((node.a, node.b), (node.b, node.a)):
                    if (
                        isinstance(y, NetLit)
                        and y.kind in ("ip4", "ip6")
                        and self._is_ip_struct(x)
                    ):
                        eq = self._ip_struct_eq(x, y)
                        return eq if node.op == "=" else ~eq
            if node.op == "like":
                # reference default: case-INSENSITIVE (RamenExpr.ml:1061
                # case_sensitive ~def:false; Globs.ml:142 lowercase cmp)
                return self.col(node.a).ilike(node.b.value)
            if node.op == "like_cs":
                return self.col(node.a).like(node.b.value)
            if node.op == "in":
                return self._compile_in(node.a, node.b)
            if node.op == "index":
                gm = self.params.get("__globals") or {}
                if isinstance(node.a, Field) and _strip_ns(node.a.path) in gm:
                    # global map read, map already materialized
                    # driver-side (globals_program.ramen)
                    m = gm[_strip_ns(node.a.path)]
                    if isinstance(node.b, Lit):
                        return F.lit(m.get(node.b.value))
                    if m:
                        flat = [F.lit(x) for kv in m.items() for x in kv]
                        return F.element_at(
                            F.create_map(*flat), self.col(node.b)
                        )
                    return F.lit(None).cast("string")
                # out-of-range GET is NULL (gets.ramen), hence try_
                return F.try_element_at(self.col(node.a), (self.col(node.b) + 1).cast("int"))
            # `int * string` repeats the string (doc:455) — resolved
            # syntactically on the literal-string side
            if node.op == "*":
                if _is_string_node(node.a):
                    return S.string_repeat(self.col(node.a), self.col(node.b))
                if _is_string_node(node.b):
                    return S.string_repeat(self.col(node.b), self.col(node.a))
            if node.op in ("<<", ">>"):
                a = self.col(node.a)
                if not isinstance(node.b, Lit):
                    raise ValueError("shift amount must be a constant")
                n = int(node.b.value)
                # sign-extending shifts (doc:596-625)
                return F.shiftleft(a, n) if node.op == "<<" else F.shiftright(a, n)
            a, b = self.col(node.a), self.col(node.b)
            return {
                "+": lambda: a + b,
                "-": lambda: a - b,
                "*": lambda: a * b,
                "/": lambda: S.div(a, b),
                "//": lambda: self._idiv(node, a, b),
                "%": lambda: S.mod(a, b),
                "^": lambda: F.pow(a, b),
                "=": lambda: a == b,
                "<>": lambda: a != b,
                "!=": lambda: a != b,
                "<": lambda: a < b,
                "<=": lambda: a <= b,
                ">": lambda: a > b,
                ">=": lambda: a >= b,
                "and": lambda: a & b,
                "or": lambda: a | b,
                "||": lambda: F.concat(a, b),
                "&": lambda: a.bitwiseAND(b),
                "|": lambda: a.bitwiseOR(b),
                "#": lambda: a.bitwiseXOR(b),
                "starts_with": lambda: a.startswith(b),
                "ends_with": lambda: a.endswith(b),
            }[node.op]()
        if isinstance(node, CaseWhen):
            # Reference CASE null_maps each condition (CodeGen_RaQL2DIL.
            # ml:813-824): a NULL condition makes the WHOLE case NULL —
            # it does NOT fall through to later branches or ELSE (case.
            # test: some_nullable_thing is NULL when name is NULL).
            # Spark's native CASE treats NULL conditions as false, so
            # guard each condition with an explicit isNull arm.
            out = (
                self.col(node.otherwise)
                if node.otherwise is not None
                else F.lit(None)
            )
            for cond, val in reversed(node.branches):
                c = self.col(cond)
                out = (
                    F.when(c.isNull(), F.lit(None))
                    .when(c, self.col(val))
                    .otherwise(out)
                )
            return out
        if isinstance(node, Call):
            return self.call(node)
        raise ValueError(f"unknown node {node!r}")

    # -- helpers ----------------------------------------------------------

    def _net_lit(self, node: NetLit) -> Column:
        """User network types (src/raql_type.ml:34-40): v4 → long,
        v6 → 16-byte binary, eth → long, cidr → struct<addr, mask>."""
        from ramen_spark.functions import network as N

        if node.kind in ("ip4", "eth"):
            return F.lit(node.value)
        if node.kind == "ip6":
            return F.lit(node.value.to_bytes(16, "big"))
        if node.kind == "cidr4":
            addr, mask = node.value
            return N.cidr_v4(F.lit(addr), mask)
        addr, mask = node.value
        return F.struct(
            F.lit(addr.to_bytes(16, "big")).alias("addr"), F.lit(mask).alias("mask")
        )

    def _idiv(self, node: Binop, a: Column, b: Column) -> Column:
        # `//`: ints truncate toward 0, floats floor (doc:475)
        if all(
            isinstance(x, Lit) and isinstance(x.value, int) and not isinstance(x.value, bool)
            for x in (node.a, node.b)
        ):
            return S.idiv_int(a, b)
        return S.idiv(a, b)

    def _field_ddl(self, node) -> str | None:
        if isinstance(node, Field) and self.schema:
            return self.schema.get(_strip_ns(node.path))
        return None

    def _tuple_fields_of(self, node) -> list[str] | None:
        """Struct member names of a tuple-valued operand, or None."""
        if isinstance(node, Call) and node.fn == "_tuple":
            return [f"_{i}" for i in range(len(node.args))]
        if isinstance(node, Call) and node.fn == "cast_tuple":
            return [f"_{i}" for i in range(len(node.opts["types"]))]
        if isinstance(node, Call) and node.fn == "_record":
            return list(node.opts["names"])
        t = self._field_ddl(node)
        if t and t.replace(" ", "").startswith("struct<"):
            inner = t.replace(" ", "")[7:-1]
            out, depth, cur = [], 0, ""
            for ch in inner:
                if ch == "," and depth == 0:
                    out.append(cur)
                    cur = ""
                    continue
                if ch == "<":
                    depth += 1
                if ch == ">":
                    depth -= 1
                cur += ch
            out.append(cur)
            return [x.split(":", 1)[0] for x in out if x]
        return None

    def _is_ip_struct(self, node) -> bool:
        t = self._field_ddl(node)
        return t is not None and t.replace(" ", "").startswith("struct<version:")

    def _is_cidr_struct(self, node) -> bool:
        t = self._field_ddl(node)
        return t is not None and "addr4" in t and "mask" in t

    def _ip_struct_eq(self, fld, nl: NetLit) -> Column:
        c = self.col(fld)
        if nl.kind == "ip4":
            return (c.getField("version") == 4) & (
                c.getField("v4") == F.lit(int(nl.value))
            )
        return (c.getField("version") == 6) & (
            c.getField("v6") == F.lit(int(nl.value).to_bytes(16, "big"))
        )

    def _compile_in(self, a_node, b_node) -> Column:
        """``x IN s``: explicit list, array/vector membership, substring
        search, or IP-in-CIDR (doc:626)."""
        from ramen_spark.functions import network as N

        if isinstance(a_node, Lit) and a_node.value is None:
            # NULL IN s is NULL (doc:626 null propagation); Spark's
            # array_contains rejects the untyped NULL needle
            return F.lit(None).cast("boolean")
        if isinstance(b_node, Call) and b_node.fn == "_list":
            return self.col(a_node).isin(*[self.col(x) for x in b_node.args])
        if isinstance(b_node, NetLit) and b_node.kind in ("cidr4", "cidr6"):
            ip_c = self.col(a_node)
            generic = self._is_ip_struct(a_node)
            if b_node.kind == "cidr6":
                # 16-byte v6 between network start/end bytes (binary
                # compare in Spark is unsigned lexicographic == numeric)
                addr, mask = b_node.value
                lo = (int(addr) >> (128 - mask)) << (128 - mask)
                hi = lo | ((1 << (128 - mask)) - 1)
                v6 = ip_c.getField("v6") if generic else ip_c
                cond = (v6 >= F.lit(lo.to_bytes(16, "big"))) & (
                    v6 <= F.lit(hi.to_bytes(16, "big"))
                )
                if generic:
                    cond = (ip_c.getField("version") == 6) & cond
                return cond
            v4 = ip_c.getField("v4") if generic else ip_c
            cond = N.cidr_contains(self._net_lit(b_node), v4)
            if generic:
                cond = (ip_c.getField("version") == 4) & cond
            return cond
        if self._is_ip_struct(a_node) and self._is_cidr_struct(b_node):
            # generic ip IN generic cidr, dynamic mask (ip.ramen f5)
            return N.ip_in_cidr_generic(self.col(a_node), self.col(b_node))
        if _is_string_node(b_node):
            return self.col(b_node).contains(self.col(a_node))
        if _is_array_node(b_node):
            return F.array_contains(self.col(b_node), self.col(a_node))
        # default: array membership on a column-valued container
        return F.array_contains(self.col(b_node), self.col(a_node))

    def _compile_cast(self, c: Column, ts: TypeSpec) -> Column:
        # try_cast throughout: a failed conversion is NULL, not an
        # error (reference cast semantics, casts.ramen "forty two";
        # Spark 4 ANSI mode would otherwise raise)
        if ts.vec_dim is not None or ts.is_arr:
            elem = TypeSpec(ts.name, ts.nullable)
            return F.transform(c, lambda x: self._compile_cast(x, elem))
        n = ts.name
        if n in _INT_TYPES:
            signed = n.startswith("i")
            bits = int(n[1:])
            if bits > 64 or (bits >= 64 and not signed):
                # decimal casts ROUND; reference float→int casts
                # truncate toward zero (qps.ramen groups on u64(time):
                # 0.5 must bucket to 0, not 1). Any double ≥ 2^53 is
                # already an integer, so rounding can only bite below
                # 2^53 — truncate there via the long path, keep the
                # full-range decimal cast above it (exact for
                # long/decimal/int-string inputs too).
                d = c.try_cast("double")
                trunc = (
                    F.when(d >= 0, F.floor(d))
                    .otherwise(F.ceil(d))
                    .cast("decimal(38,0)")
                )
                return F.when(
                    F.abs(d) < F.lit(9007199254740992.0), trunc
                ).otherwise(c.try_cast("decimal(38,0)"))
            if signed:
                t = {8: "tinyint", 16: "smallint", 24: "int", 32: "int"}.get(bits, "long")
                lc = c.try_cast("long")
                return lc.try_cast(t) if t != "long" else lc
            # unsigned: wrap into [0, 2^bits) (2-complement wraparound,
            # site/language_reference.php "Integers")
            return F.pmod(c.try_cast("long"), F.lit(1 << bits))
        if n == "float":
            return c.try_cast("double")
        if n == "string":
            return c.cast("string")
        if n in ("bool", "boolean"):
            return c.try_cast("boolean")
        if n == "char":
            return c.cast("string")
        raise ValueError(f"unknown cast target {n!r}")

    def _is_arrayish(self, node) -> bool:
        return _is_array_node(node) or (
            isinstance(node, Field) and _strip_ns(node.path) in self.src_arrays
        )

    def _compile_peek(self, node: Call) -> Column:
        """PEEK type [endian] over a byte-string or int-vector
        (doc/raql/expr.ml:94, CodeGenLib.ml:1145 IntOfArray)."""
        ts: TypeSpec = node.opts["type"]
        endian = node.opts["endian"]
        if ts.name not in _INT_TYPES:
            raise ValueError("PEEK needs an integer type")
        bits = int(ts.name[1:])
        w = bits // 8
        operand = node.args[0]
        # Unit width for int-vector operands comes from the items'
        # declared type (peek_array.ramen: PEEK U64 [3u16; 2u16] reads
        # u16 units; typed literals carry a cast from their suffix).
        # Arrays read PARTIAL widths (t3 = PEEK U32 over 3 bytes is
        # 0x10203, peek_array.test); strings require the full width
        # (doc:115 PEEK U32 "\\002\\001" = NULL).
        elem_bytes = 1
        n_items_static = None
        if isinstance(operand, Call) and operand.fn == "_array" and operand.args:
            n_items_static = len(operand.args)
            first = operand.args[0]
            if (
                isinstance(first, Call)
                and first.fn == "cast"
                and first.opts["to"].name in _INT_TYPES
            ):
                elem_bytes = int(first.opts["to"].name[1:]) // 8
        elif (
            isinstance(operand, Call)
            and operand.fn == "cast"
            and operand.opts["to"].name in _INT_TYPES
        ):
            o_ts: TypeSpec = operand.opts["to"]
            elem_bytes = int(o_ts.name[1:]) // 8
            n_items_static = o_ts.vec_dim
        # 64-bit accumulation must run in decimal too: a set top bit
        # (0xFF…) overflows signed long under ANSI (found by
        # tests/test_properties.py)
        acc_t = "decimal(38,0)" if bits >= 64 else "long"
        if self._is_arrayish(operand):
            arr = self.col(operand)
            unit_scale = 8 * elem_bytes
            nmax = max(w // elem_bytes, 1)
            if n_items_static is not None:
                n_units = min(n_items_static, nmax)
                n_ok = F.size(arr) >= n_units
            else:
                n_units = nmax
                n_ok = F.size(arr) >= n_units
            unit = lambda i: F.element_at(arr, i).cast(acc_t)  # noqa: E731
        else:
            s = self.col(operand)
            n_units = w
            unit_scale = 8
            unit = lambda i: F.ascii(F.substring(s, i, 1)).cast(acc_t)  # noqa: E731
            n_ok = F.octet_length(s) >= w
        from decimal import Decimal

        total = F.lit(0).cast(acc_t)
        for i in range(1, n_units + 1):
            shift = (i - 1) if endian == "little" else (n_units - i)
            p2 = 2 ** (unit_scale * shift)
            p2lit = F.lit(Decimal(p2)) if p2 >= 2**63 else F.lit(p2).cast(acc_t)
            total = total + unit(i) * p2lit
        if ts.name.startswith("i") and bits < 64:
            total = F.when(
                total >= F.lit(1 << (bits - 1)), total - F.lit(1 << bits)
            ).otherwise(total)
        elif ts.name == "i64":
            # 2-complement reinterpretation of the 64-bit pattern
            total = (
                F.when(
                    total >= F.lit(Decimal(1 << 63)),
                    total - F.lit(Decimal(1 << 64)),
                )
                .otherwise(total)
                .cast("long")
            )
        elif ts.name == "u64":
            total = total.cast("decimal(20,0)")
        if bits > 64:
            # 128-bit values live in Decimal(38,0): exact up to 10^38−1
            # (~29% of the u128 range, documented v1 delta — SURVEY
            # §1.2). Decimal overflow yields NULL silently; convert it
            # to a LOUD error so no precision loss can pass unnoticed
            # (a NULL member / short input stays a regular NULL).
            if self._is_arrayish(operand):
                valid_in = n_ok & ~F.exists(arr, lambda x: x.isNull())
            else:
                valid_in = n_ok
            total = F.when(
                valid_in & total.isNull(),
                F.raise_error(
                    F.lit(
                        f"PEEK {ts.name}: value exceeds Decimal(38,0) "
                        "(10^38−1) — full 128-bit fidelity is a "
                        "documented v1 delta (types.py)"
                    )
                ).cast(acc_t),
            ).otherwise(total)
        return F.when(n_ok, total)

    # immediate (array-operand) stateful functions: "every aggregation
    # function must also accept lists" (tests/func/basic_aggr.ramen:12,
    # lifespan Immediate src/raql_expr.type:220)
    _IMMEDIATE = {
        "min", "max", "sum", "avg", "and_all", "or_all", "bitand", "bitor",
        "bitxor", "first", "last", "count", "distinct", "group", "fit",
    }

    @staticmethod
    def _kahan_sum(valid: Column) -> Column:
        """Neumaier-compensated sum over an array (the reference sums
        floats with Kahan compensation, src/Kahan.ml — kahan_sum.ramen
        [1; 1e100; 1; -1e100] = 2)."""
        zero = F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("c"))

        def step(a, x):
            xd = x.cast("double")
            s = a.getField("s")
            t = s + xd
            lost = F.when(F.abs(s) >= F.abs(xd), (s - t) + xd).otherwise(
                (xd - t) + s
            )
            return F.struct(t.alias("s"), (a.getField("c") + lost).alias("c"))

        return F.aggregate(
            valid, zero, step, lambda a: a.getField("s") + a.getField("c")
        )

    def _immediate(self, node: Call) -> Column:
        fn = node.fn
        arr = self.col(node.args[0])
        keep_nulls = node.opts.get("keep_nulls") or False
        valid = F.filter(arr, lambda x: x.isNotNull())
        out: Column
        if fn == "min":
            out = F.array_min(arr)
        elif fn == "max":
            out = F.array_max(arr)
        elif fn == "sum":
            out = self._kahan_sum(valid)
        elif fn == "avg":
            out = F.when(F.size(valid) > 0, self._kahan_sum(valid) / F.size(valid))
        elif fn == "and_all":
            out = F.forall(valid, lambda x: x)
        elif fn == "or_all":
            out = F.exists(valid, lambda x: x)
        elif fn in ("bitand", "bitor", "bitxor"):
            init = F.lit(-1 if fn == "bitand" else 0).cast("long")
            op = {
                "bitand": lambda a, x: a.bitwiseAND(x.cast("long")),
                "bitor": lambda a, x: a.bitwiseOR(x.cast("long")),
                "bitxor": lambda a, x: a.bitwiseXOR(x.cast("long")),
            }[fn]
            out = F.aggregate(valid, init, op)
        elif fn == "first":
            out = F.element_at(valid, 1)
        elif fn == "last":
            out = F.element_at(valid, -1)
        elif fn == "count":
            # bool vector → count of trues; else count of values
            # (doc:808 COUNT [TRUE;FALSE;TRUE] = 2)
            if _is_bool_array_node(node.args[0]):
                out = F.size(F.filter(valid, lambda x: x))
            else:
                out = F.size(valid)
        elif fn == "distinct":
            # novelty of the LAST value: was it seen earlier? (doc:816)
            last = F.element_at(arr, -1)
            prefix = F.slice(arr, 1, F.size(arr) - 1)
            out = F.when(F.size(arr) > 0, ~F.array_contains(prefix, last))
        elif fn == "group":
            out = arr
        elif fn == "fit":
            return self._immediate_fit(node, arr)
        else:  # pragma: no cover
            raise ValueError(fn)
        if keep_nulls and fn in (
            "min", "max", "sum", "avg", "and_all", "or_all", "first", "last"
        ):
            return F.when(F.exists(arr, lambda x: x.isNull()), F.lit(None)).otherwise(out)
        return out

    def _immediate_fit(self, node: Call, arr: Column) -> Column:
        """FIT obs — the reference's linear-regression step forecast
        (doc:341, CodeGenLib.ml:946-1010 ``LinReg``), NOT textbook OLS
        extrapolation:

        - scalars (``one_dimension``): regress the observations BEFORE
          the last one against x = 0,1,2…, then predict
          ``last_fitted_value + slope`` (one slope-step past the last
          observation; verified against tests/func/season.test:
          fit [16;19;12;19] = 12 + (-2) = 10).
        - (y; x) tuples: origin-shift everything to the FIRST
          observation, through-origin least squares on the deltas,
          predict ``y0 + slope·(x_last − x0)`` (the last observation
          supplies only its predictor).
        """
        sum_ = lambda a: F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
        n = F.size(arr) - 1  # observations used for the fit
        is_tuples = isinstance(node.args[0], Call) and node.args[0].fn == "_array" and any(
            isinstance(e, Call) and e.fn == "_tuple" for e in node.args[0].args
        )
        if is_tuples:
            dims = {len(e.args) for e in node.args[0].args if isinstance(e, Call)}
            if dims != {2}:
                raise NotImplementedError("FIT with >1 predictor not implemented")
            y0 = F.element_at(arr, 1).getField("_0").cast("double")
            x0 = F.element_at(arr, 1).getField("_1").cast("double")
            rest = F.slice(arr, 2, n - 1)  # obs after origin, before last
            ys = F.transform(rest, lambda t: t.getField("_0").cast("double") - y0)
            xs = F.transform(rest, lambda t: t.getField("_1").cast("double") - x0)
            sxy = sum_(F.zip_with(xs, ys, lambda x, y: x * y))
            sxx = sum_(F.transform(xs, lambda x: x * x))
            slope = F.when(sxx != 0, sxy / sxx).otherwise(F.lit(0.0))
            x_pred = F.element_at(arr, -1).getField("_1").cast("double")
            # size 2 → no regression rows (origin + current only): the
            # reference's gels raises on the 0-row system → NULL
            # (CodeGenLib.ml:1043-1060)
            return F.when(F.size(arr) < 1, F.lit(None)).otherwise(
                F.when(F.size(arr) == 1, y0)
                .when(F.size(arr) == 2, F.lit(None).cast("double"))
                .otherwise(y0 + slope * (x_pred - x0))
            )
        ys = F.transform(F.slice(arr, 1, n), lambda y: y.cast("double"))
        xs = F.transform(F.sequence(F.lit(0), n - 1), lambda i: i.cast("double"))
        x_avg = (n - 1).cast("double") / F.lit(2.0)
        b1n = sum_(F.zip_with(xs, ys, lambda x, y: (x - x_avg) * y))
        b1d = sum_(F.transform(xs, lambda x: (x - x_avg) * (x - x_avg)))
        last = F.element_at(ys, -1)
        return (
            F.when(n < 1, F.lit(None))
            .when(n == 1, last)
            .otherwise(last + b1n / b1d)
        )

    def call(self, node: Call) -> Column:
        fn = node.fn
        if fn == "_array":
            return F.array(*[self.col(a) for a in node.args])
        if fn == "_tuple":
            return F.struct(
                *[self.col(a).alias(f"_{i}") for i, a in enumerate(node.args)]
            )
        if fn == "_record":
            # record literal { k : v ; … } → named struct
            # (constructed_types.ramen:9, src/raql_type.ml TRec)
            return F.struct(
                *[
                    self.col(a).alias(n)
                    for n, a in zip(node.opts["names"], node.args)
                ]
            )
        if fn == "get_ord":
            # `1st t` / `2nd t` — positional GET on a tuple (struct
            # field _k) or vector (constructed_types.ramen:5)
            i = int(node.opts["i"])
            base = self.col(node.args[0])
            if self._is_arrayish(node.args[0]):
                return F.try_element_at(base, F.lit(i))
            return base.getField(f"_{i - 1}")
        if fn == "cast":
            ts = node.opts["to"]
            operand = node.args[0]
            if isinstance(operand, Lit) and operand.value is None:
                # untyped NULL: give it the cast's type directly
                # (char[99]?(NULL), char.ramen foo_null3)
                return F.lit(None).cast(_ts_ddl(ts))
            tup_fields = self._tuple_fields_of(operand)
            if (ts.vec_dim is not None or ts.is_arr) and tup_fields:
                # tuple → vector/list cast (tuples.ramen t5/t6):
                # cast every member to the element type
                c = self.col(operand)
                elem = TypeSpec(ts.name, ts.nullable)
                return F.array(
                    *[
                        self._compile_cast(c.getField(f_), elem)
                        for f_ in tup_fields
                    ]
                )
            if (
                ts.name == "string"
                and ts.vec_dim is None
                and not ts.is_arr
                and _is_array_node(operand)
            ):
                # char/value vector → string: member concatenation with
                # '?' for NULL chars (char.ramen foo/foo_null1); a NULL
                # vector yields NULL, not "" (concat_ws skips nulls)
                c = self.col(operand)
                return F.when(
                    c.isNotNull(),
                    F.concat_ws(
                        "",
                        F.transform(
                            c,
                            lambda x: F.coalesce(x.cast("string"), F.lit("?")),
                        ),
                    ),
                )
            return self._compile_cast(self.col(operand), ts)
        if fn == "cast_tuple":
            # (t1; t2; …)(e1; e2; …) — member-wise tuple cast
            # (tuples.ramen converts); a single NULL argument nulls the
            # whole tuple
            types = node.opts["types"]
            if len(node.args) == 1 and isinstance(node.args[0], Lit) and node.args[0].value is None:
                ddl = ",".join(
                    f"_{i}:{'string' if t_.name == 'string' else ('double' if t_.name == 'float' else ('bigint' if t_.name in _INT_TYPES else 'string'))}"
                    for i, t_ in enumerate(types)
                )
                return F.lit(None).cast(f"struct<{ddl}>")
            return F.struct(
                *[
                    self._compile_cast(self.col(a), t_).alias(f"_{i}")
                    for i, (a, t_) in enumerate(zip(node.args, types))
                ]
            )
        if fn == "peek":
            return self._compile_peek(node)
        if fn == "percentile_of":
            p_node, arr = node.args
            arr_c = self.col(arr)
            if isinstance(p_node, Lit):
                return S.percentile_of_array(arr_c, float(p_node.value))
            if isinstance(p_node, Call) and p_node.fn == "_array":
                ps = [float(p.value) for p in p_node.args if isinstance(p, Lit)]
                if len(ps) == len(p_node.args):
                    return F.array(*[S.percentile_of_array(arr_c, p) for p in ps])
            raise ValueError("PERCENTILE requires constant percentile(s)")
        if fn == "index":
            s, c = (self.col(a) for a in node.args)
            return S.index_of(s, c, from_end=node.opts.get("from_end", False))
        if fn == "length" and node.args and _is_array_node(node.args[0]):
            return F.size(self.col(node.args[0]))  # array length (doc:122)
        if fn == "split":
            # SPLIT(sep, s) — generator: one output row per part
            # (doc:1028; codegen generate_tuples CodeGenLib_Skeletons.ml:442)
            sep, s = node.args
            if not isinstance(sep, Lit):
                raise ValueError("SPLIT requires a constant separator")
            return F.explode(F.split(self.col(s), re.escape(sep.value)))
        if fn == "ipfamily":
            a = node.args[0]
            if isinstance(a, NetLit):
                return F.lit(4 if a.kind == "ip4" else 6)
            from ramen_spark.functions import network as N

            return N.ip_family(self.col(a))
        if fn == "uuid_of_u128":
            a = node.args[0]
            if len(node.args) == 2:
                return S.uuid_of_u128(self.col(node.args[0]), self.col(node.args[1]))
            if isinstance(a, Lit) and isinstance(a.value, int):
                v = a.value
                lo = v & ((1 << 64) - 1)
                lo_signed = lo - (1 << 64) if lo >= (1 << 63) else lo
                return S.uuid_of_u128(F.lit(v >> 64), F.lit(lo_signed))
            raise NotImplementedError("UUID_OF_U128 needs a literal or (hi, lo)")
        if fn == "countrycode":
            # COUNTRYCODE ip (doc/raql/expr.ml:366, src/CountryOfIp.ml):
            # binary search over the IpToCountry ranges. The table
            # arrives via the engine-reserved __geoip_ranges param
            # (list[(ip_from, ip_to, cc)] — the reference bundles the
            # same public Webnet77 CSV, loadable with
            # functions.network.load_ip_to_country). Arrow-batched
            # lookup against broadcast numpy arrays — the relational
            # scale path is functions.network.countrycode_join.
            ranges = (self.params or {}).get("__geoip_ranges")
            if not ranges:
                raise NotImplementedError(
                    "COUNTRYCODE needs a GeoIP ranges table: pass "
                    "params['__geoip_ranges'] (see functions.network."
                    "load_ip_to_country) or use countrycode_join "
                    "(no database is bundled)"
                )
            from ramen_spark.functions.network import (
                countrycode_expr,
                countrycode_expr6,
            )

            ipc = self.col(node.args[0])
            ranges6 = (self.params or {}).get("__geoip_ranges6")
            arg = node.args[0]
            is_struct = (
                isinstance(arg, Call)
                and arg.fn == "cast"
                and getattr(arg.opts.get("to"), "name", None) == "ip"
            ) or (
                isinstance(arg, Field)
                and (self.schema or {}).get(_strip_ns(arg.path), "").startswith("struct<version")
            )
            is_v6 = (
                isinstance(arg, NetLit) and arg.kind == "ip6"
            ) or (
                isinstance(arg, Call)
                and arg.fn in ("cast", "net_cast")
                and getattr(arg.opts.get("to"), "name", None) == "ip6"
            ) or (
                isinstance(arg, Field)
                and (self.schema or {}).get(_strip_ns(arg.path), "") == "binary"
            )
            if is_struct:
                v4cc = countrycode_expr(
                    F.when(ipc.getField("version") == 4, ipc.getField("v4")),
                    ranges,
                )
                if ranges6:
                    v6cc = countrycode_expr6(
                        F.when(ipc.getField("version") == 6, ipc.getField("v6")),
                        ranges6,
                    )
                    return F.when(
                        ipc.getField("version") == 4, v4cc
                    ).otherwise(v6cc)
                return v4cc
            if is_v6:
                if not ranges6:
                    raise NotImplementedError(
                        "COUNTRYCODE over IPv6 needs params['__geoip_ranges6'] "
                        "(functions.network.load_ip_to_country6 — the 6R table)"
                    )
                return countrycode_expr6(ipc, ranges6)
            return countrycode_expr(ipc, ranges)
        if fn == "histogram" and len(node.args) == 4 and _is_array_node(node.args[0]):
            # immediate HISTOGRAM over a vector → u32[n+2] counts
            # (doc:784: [underflow, b1..bn, overflow])
            arr = self.col(node.args[0])
            lo, hi, nb = (float(a.value) for a in node.args[1:])
            nb = int(nb)
            bucket = lambda x: S.histogram(x, lo, hi, nb)  # noqa: E731
            return F.transform(
                F.sequence(F.lit(0), F.lit(nb + 1)),
                lambda i: F.size(F.filter(arr, lambda x: bucket(x) == i)),
            )
        # MIN/MAX: ≥2 args = stateless least/greatest (doc:404-423);
        # 1 arg = the aggregate — resolve before the generic AGGS path
        if fn in ("min", "max") and len(node.args) >= 2:
            args = [self.col(a) for a in node.args]
            return S.min_of(*args) if fn == "min" else S.max_of(*args)
        if fn in self._IMMEDIATE and node.args and self._is_arrayish(node.args[0]):
            return self._immediate(node)
        if fn in ("distinct", "fit"):
            raise NotImplementedError(
                f"{fn.upper()} over a stream needs the series operators "
                "(operators.series.distinct_flag / multilinreg); only the "
                "immediate (array-operand) form compiles to an expression"
            )
        if fn == "count" and node.args and _is_immediate_bool_node(node.args[0]):
            # COUNT of an immediate bool (e.g. COUNT DISTINCT [..]):
            # bool → count-true ⇒ 0 or 1 (doc:836 COUNT DISTINCT [1;2;1]=0)
            return self.col(node.args[0]).cast("int")
        if fn == "histogram" and len(node.args) == 4:
            # stateful HISTOGRAM x min max n → u32[n+2] counts
            # (doc:784; histogram.ramen) — array of count_ifs in the
            # fast path, the fold keeps a counts vector
            self.has_aggregate = True
            x = self.col(node.args[0])
            lo, hi, nb = (float(a.value) for a in node.args[1:])
            nb = int(nb)
            b = S.histogram(x, lo, hi, nb)
            cols = [F.count_if(b == i) for i in range(nb + 2)]
            if self.window is not None:
                cols = [c_.over(self.window) for c_ in cols]
            return F.array(*cols)
        if fn == "count" and node.args and _is_bool_expr_node(node.args[0]):
            # COUNT bool counts TRUEs (doc:836) — fast-path count_if
            self.has_aggregate = True
            built = F.count_if(self.col(node.args[0]))
            return built.over(self.window) if self.window is not None else built
        if fn in ("kmv_distinct", "cms_top", "is_in_cms_top",
                  "rank_in_cms_top"):
            # sketch aggregates rewrite the whole grouped operation
            # (prune branch + join) — they have no Column form
            raise NotImplementedError(
                "KMV DISTINCT / KMV PERCENTILE / CMS TOP compile at the operation level "
                "(compile_operation SELECT … GROUP BY) or via "
                "operators.sketch.kmv_distinct / cms_top directly"
            )
        if fn in AGGS:
            if fn in ("top", "largest"):
                raise NotImplementedError(
                    "TOP/LARGEST as a Column: use the COMMIT engine "
                    "(compile_commit_operation) or operators.topk"
                )
            self.has_aggregate = True
            arg = self.col(node.args[0]) if node.args else None
            if self.window is not None and fn in ("first", "last"):
                # fold parity: FIRST/LAST skip NULLs by default
                # (SURVEY §2.4 SKIP NULLS; _Fold.update first/last)
                ign = not node.opts.get("keep_nulls", False)
                built = (
                    F.first(arg, ignorenulls=ign)
                    if fn == "first"
                    else F.last(arg, ignorenulls=ign)
                )
                return built.over(self.window)
            built = {
                "sum": lambda: F.sum(arg),
                "avg": lambda: F.avg(arg),
                "min": lambda: F.min(arg),
                "max": lambda: F.max(arg),
                "count": lambda: F.count(arg if arg is not None else F.lit(1)),
                "first": lambda: F.first(arg),
                "last": lambda: F.last(arg),
                "group": lambda: F.collect_list(arg),
                "count_distinct": lambda: F.countDistinct(arg),
                "bitand": lambda: F.bit_and(arg),
                "bitor": lambda: F.bit_or(arg),
                "bitxor": lambda: F.bit_xor(arg),
            }[fn]()
            if self.window is not None:
                built = built.over(self.window)
            return built
        if fn == "variant":
            # VARIANT(exp) — the experiment variant this worker runs
            # (src/RamenExperiments.ml, CodeGenLib.ml:59 get_variant):
            # NULL when the experiment is unknown. The assignment table
            # arrives via the reserved __experiments parameter.
            exps = self.params.get("__experiments") or {}
            a = node.args[0]
            if isinstance(a, Lit):
                return F.lit(exps.get(str(a.value))).cast("string")
            if exps:
                flat = [F.lit(x) for kv in exps.items() for x in kv]
                return F.element_at(
                    F.create_map(*flat), self.col(a).cast("string")
                )
            return F.lit(None).cast("string")
        if fn == "net_cast":
            # numeric passthrough (see parser note)
            return self.col(node.args[0])
        if fn == "net_cast_vec":
            # ip?[2](…) — vector of generic-ip casts from strings
            # (tuples.ramen t7/t8): unparsable members → NULL; with
            # non-nullable elements a NULL member nulls the vector
            from ramen_spark.functions import network as N

            def to_ip(a) -> Column:
                c = self.col(a)
                v4 = N.string_to_ipv4(c.cast("string"))
                v6 = N.string_to_ipv6(c.cast("string"))
                return F.when(
                    v4.isNotNull(),
                    F.struct(
                        F.lit(4).alias("version"),
                        v4.alias("v4"),
                        F.lit(None).cast("binary").alias("v6"),
                    ),
                ).when(
                    v6.isNotNull(),
                    F.struct(
                        F.lit(6).alias("version"),
                        F.lit(None).cast("long").alias("v4"),
                        v6.alias("v6"),
                    ),
                )

            arr = F.array(*[to_ip(a) for a in node.args])
            if not node.opts.get("elem_nullable"):
                arr = F.when(
                    ~F.exists(arr, lambda x: x.isNull()), arr
                )
            return arr
        if fn == "print":
            # PRINT logs operands worker-side and returns the first
            # (doc: print) — a pass-through in the plan
            return self.col(node.args[0])
        if fn == "get":
            # GET(n, v): 0-based vector/array access (NULL out of
            # range); GET("name", r) record field (doc:607-network)
            idx, v = node.args
            if isinstance(idx, Lit) and isinstance(idx.value, str):
                if isinstance(v, Field) and v.path in ("in", "out"):
                    # GET("f", in) — field of the whole input tuple
                    # (constructed_types.ramen:28)
                    return self.col(Field(v.path + "." + idx.value))
                return self.col(v).getField(idx.value)
            return F.try_element_at(self.col(v), (self.col(idx) + 1).cast("int"))
        if fn == "format_time":
            fmt = node.args[0]
            if not isinstance(fmt, Lit):
                raise ValueError("FORMAT_TIME requires a constant format")
            return S.format_time(fmt.value, self.col(node.args[1]))
        builder = self.fns.get(fn)
        if builder is None:
            raise ValueError(f"unknown RaQL function {fn!r}")
        args = [self.col(a) for a in node.args]
        # MIN/MAX: 1 arg = aggregate, ≥2 args = stateless least/greatest
        if fn in ("min", "max") and len(args) == 1:
            self.has_aggregate = True
            built = F.min(args[0]) if fn == "min" else F.max(args[0])
            return built.over(self.window) if self.window is not None else built
        return builder(*args)


def compile_expr(text: str, params: dict[str, Any] | None = None) -> Column:
    return Compiler(params).col(parse_expr(text))


# ---------------------------------------------------------------------------
# operation: SELECT … FROM … WHERE … GROUP BY … COMMIT …
# ---------------------------------------------------------------------------


@dataclass
class Star:
    """``*`` in a select list — all input fields not already named —
    optionally minus explicit exclusions: ``* - f1 - f2``
    (src/raql_operation.type:9-10, parser RamenOperation.ml:1254-1271)."""

    exclude: list[str]


@dataclass
class SelectField:
    expr: Any
    alias: str | None


@dataclass
class ReadCsv:
    """READ FROM FILE "…" AS CSV [SEPARATOR "…"] [NULL "…"] (fields)
    — the ReadExternal operation (src/raql_operation.type:54-138)."""

    path: str
    fields: list[tuple[str, TypeSpec]]
    separator: str = ","
    null_str: str = ""
    fmt: str = "csv"  # "csv" | "rowbinary"
    may_quote: bool = True  # NO QUOTES clears (raql_operation.type:70)
    escape_seq: str | None = None  # ESCAPE WITH "\\"
    clickhouse_syntax: bool = False  # array cells as ['a', 'b']
    # original ClickHouse type strings (rowbinary decode spec); parallel
    # to ``fields`` when the schema came from a ClickHouse block
    ch_types: list[str] | None = None
    # VECTORS OF CHARS AS VECTOR (tools/gen_reader_test.ml readers):
    # compound/vector columns span MULTIPLE cells (dessser csv_of_vec
    # joins members with the separator) instead of one bracketed cell
    multicell_vectors: bool = False


@dataclass
class Operation:
    fields: list[SelectField]
    sources: list  # str paths | nested Operation | ReadCsv
    where: Any | None
    group_by: list
    commit_after: Any | None
    commit_before: bool = False
    flush: bool = True
    # SORT LAST n [OR UNTIL cond] [BY e…] — bounded input re-order
    # (reference RamenOperation.ml:1278-1293, buffer RamenSortBuf.ml);
    # stored as (n, by_exprs, until_expr|None)
    sort_last: tuple[int, list, Any] | None = None
    # NOTIFY "name" [WHEN already folded into where] — notification
    # sink template (RamenOperation.ml:1311-1317)
    notify: str | None = None
    # EVENT STARTING AT f [*s] [AND DURATION d | AND STOPPING AT f [*s]]
    # (reference src/RamenOperation.ml:1230-1248, src/event_time.type):
    # ((start_field, scale), dur) with dur one of ("const", secs) /
    # ("field", name, scale) / ("stop", name, scale). Metadata — the
    # output tuple is unchanged; it feeds #start/#stop and the
    # timeseries start/stop convention (with_event_time).
    event_time: tuple | None = None
    # YIELD select-list — clock-driven source (no FROM parents,
    # src/RamenOperation.ml yield_clause): each EVERY tick evaluates the
    # select list once. Batch compiles against a generated tick frame.
    is_yield: bool = False
    # EVERY d — the emission/refresh period (seconds). Pure timing in
    # batch (run-to-completion); streaming twins use it as the trigger.
    every: float | None = None
    # FACTORS f1, f2 — low-cardinality dimension metadata for the
    # archive layer (RamenOperation.ml:487-499): partition columns of
    # the function's Parquet archive, metric-path levels in the
    # Graphite tree. No effect on the computed relation.
    factors: tuple[str, ...] = ()


def _parse_read_csv(p: Parser) -> ReadCsv:
    """READ FROM FILE "path" AS CSV [SEPARATOR "c"] [NULL "s"]
    (name type[?] [{units}], …) — grammar per
    src/raql_operation.type:54-138 (fresh parser)."""
    # 'READ' consumed by caller
    p.expect("kw", "from")
    kw = p.expect("name")
    if kw.value.lower() != "file":
        raise NotImplementedError(f"READ FROM {kw.value}: only FILE is supported")
    path = p.expect("str").value
    p.expect("kw", "as")
    fmt_t = p.expect("name")
    fmt = fmt_t.value.lower()
    if fmt not in ("csv", "rowbinary"):
        raise NotImplementedError(f"AS {fmt_t.value}: only CSV/ROWBINARY")
    separator = ","
    null_str = ""
    may_quote = True
    escape_seq: str | None = None
    clickhouse = fmt == "rowbinary"
    multicell = False
    while True:
        t = p.peek()
        tv = str(t.value).lower() if t.kind in ("name", "kw") else ""
        if t.kind == "name" and tv == "separator":
            p.next()
            separator = p.expect("str").value
        elif t.kind == "kw" and t.value == "null":
            p.next()
            null_str = p.expect("str").value
        elif t.kind == "name" and tv == "no":
            p.next()
            nxt = p.expect("name")
            if nxt.value.lower() != "quotes":
                raise SyntaxError(f"READ: NO {nxt.value}?")
            may_quote = False
        elif t.kind == "name" and tv == "quotes":
            p.next()
            may_quote = True
        elif t.kind == "name" and tv == "escape":
            p.next()
            w = p.peek()
            if w.kind in ("name", "kw") and str(w.value).lower() == "with":
                p.next()
            escape_seq = p.expect("str").value
        elif t.kind == "name" and tv == "clickhouse":
            p.next()
            nxt = p.expect("name")
            if nxt.value.lower() != "syntax":
                raise SyntaxError(f"READ: CLICKHOUSE {nxt.value}?")
            clickhouse = True
        elif t.kind == "name" and tv == "vectors":
            # VECTORS OF CHARS AS VECTOR — multi-cell compound layout
            p.next()
            for want in ("of", "chars", "as", "vector"):
                got = p.next()
                if str(got.value).lower() != want:
                    raise SyntaxError(f"READ: VECTORS … expected {want!r}")
            multicell = True
        else:
            break
    p.expect("op", "(")
    if (
        p.peek().kind == "name"
        and str(p.peek().value).lower() == "columns"
    ):
        fields, ch_types = _parse_clickhouse_schema(p)
        p.expect("op", ")")
        return ReadCsv(
            path, fields, separator, null_str, fmt=fmt,
            may_quote=may_quote, escape_seq=escape_seq,
            clickhouse_syntax=clickhouse, ch_types=ch_types,
        )
    fields = []
    while True:
        fname = p.expect("name").value
        nxt = p.peek()
        if (
            nxt.kind == "name"
            and nxt.value.lower() in _NET_TYPE_CALLS
        ):
            # network column types (fixtures/port_scan.ramen src ip4):
            # ip4/eth scan as their long encoding, ip6 as binary
            p.next()
            ts = TypeSpec(nxt.value.lower(), bool(p.accept("op", "?")))
        else:
            ts = p._parse_csv_type()
        if ts.items is None and p.accept("op", "{"):  # units metadata — skipped
            depth = 1
            while depth:
                t = p.next()
                if t.kind == "op" and t.value == "{":
                    depth += 1
                elif t.kind == "op" and t.value == "}":
                    depth -= 1
                elif t.kind == "eof":
                    raise SyntaxError("unterminated units annotation")
        fields.append((fname, ts))
        if not p.accept("op", ","):
            break
    p.expect("op", ")")
    return ReadCsv(
        path, fields, separator, null_str, fmt=fmt,
        may_quote=may_quote, escape_seq=escape_seq,
        clickhouse_syntax=clickhouse, multicell_vectors=multicell,
    )


_CH_TYPE_MAP = {
    # ClickHouse type → TypeSpec name (src/RamenClickHouse-style block,
    # fixtures/udp.ramen, fixtures/email.ramen)
    "string": "string",
    "uint8": "u8", "uint16": "u16", "uint32": "u32", "uint64": "u64",
    "int8": "i8", "int16": "i16", "int32": "i32", "int64": "i64",
    "float32": "float", "float64": "float",
    "uuid": "uuid", "datetime": "u32", "date": "u16",
}


def _parse_clickhouse_schema(p: Parser) -> tuple[list, list[str]]:
    """ClickHouse NamesAndTypes block:
    ``columns format version: 1`` / ``N columns:`` / `` `name` Type``…
    (fixtures/udp.ramen, fixtures/email.ramen). Returns RaQL TypeSpecs
    plus the raw ClickHouse type strings (the RowBinary decode spec)."""
    p.next()  # 'columns'
    fwd = p.expect("name")
    if fwd.value.lower() != "format":
        raise SyntaxError("clickhouse schema: expected 'format'")
    ver = p.expect("name")
    if ver.value.lower() != "version":
        raise SyntaxError("clickhouse schema: expected 'version'")
    p.expect("op", ":")
    p.expect("num")
    p.expect("num")  # column count
    cols_kw = p.expect("name")
    if cols_kw.value.lower() != "columns":
        raise SyntaxError("clickhouse schema: expected 'columns:'")
    p.expect("op", ":")

    def ch_type() -> str:
        t = p.expect("name").value
        if p.accept("op", "("):
            if p.peek().kind == "num":  # FixedString(16)
                inner = str(int(p.next().value))
            else:
                inner = ch_type()
            p.expect("op", ")")
            return f"{t}({inner})"
        return t

    fields: list[tuple[str, TypeSpec]] = []
    raw_types: list[str] = []
    while not (p.peek().kind == "op" and p.peek().value == ")"):
        fname = p.expect("name").value
        raw = ch_type()
        raw_types.append(raw)
        low = raw.lower()
        nullable = False
        if low.startswith("nullable(") and low.endswith(")"):
            low = low[9:-1]
            nullable = True
        is_arr = False
        if low.startswith("array(") and low.endswith(")"):
            low = low[6:-1]
            is_arr = True
        if low.startswith("fixedstring("):
            name = "string"
        else:
            name = _CH_TYPE_MAP.get(low, "string")
        fields.append((fname, TypeSpec(name, nullable, is_arr=is_arr)))
    return fields, raw_types


def _eval_const(node, params: dict | None) -> float | None:
    """Constant-fold a clause expression against program parameters
    (EVERY 1 / hit_rate, examples/generators/network/logs.ramen)."""
    params = params or {}
    if node is None:
        return None
    if isinstance(node, (int, float)):
        return float(node)
    if isinstance(node, Lit) and isinstance(node.value, (int, float)):
        return float(node.value)
    if isinstance(node, Field):
        v = params.get(_strip_ns(node.path))
        return float(v) if isinstance(v, (int, float)) else None
    if isinstance(node, Binop):
        a = _eval_const(node.a, params)
        b = _eval_const(node.b, params)
        if a is None or b is None:
            return None
        return {
            "+": a + b,
            "-": a - b,
            "*": a * b,
            "/": a / b if b else None,
        }.get(node.op)
    return None


def _compile_grouped_with_outrefs(df, op, fields, params, src_arrays):
    """Grouped SELECT whose fields mix aggregates with references to
    EARLIER out-fields (traffic.ramen `sum bytes / (out.stop -
    out.start)`): extract every aggregate subtree into a hidden
    aggregated column, then evaluate the field expressions in order
    over the aggregated relation — same single shuffle, one extra
    (collapsed) projection."""
    hidden: dict[str, str] = {}  # structural repr → hidden col name
    hidden_cols: list[Column] = []

    # row-level (aggregate-free) field definitions: references to them
    # INSIDE aggregate arguments mean the per-input-row value and must
    # inline (hosts.ramen: AVG(IF _type = "free" …) over a private
    # COALESCE field); references to aggregate fields there are errors
    # in the reference too (tuples.ramen commentary)
    row_defs: dict[str, Any] = {}
    for i, f_ in enumerate(fields):
        if isinstance(f_.expr, Star):
            continue
        nm = f_.alias or _default_name(f_.expr, i)
        if not any(
            isinstance(n, Call) and n.fn in AGGS for n in _walk(f_.expr)
        ):
            row_defs[nm] = f_.expr

    def subst_row_refs(node):
        if isinstance(node, Field):
            nm = _strip_ns(node.path)
            if nm in row_defs and (
                node.path.startswith("out.") or nm not in df.columns
            ):
                return subst_row_refs(row_defs[nm])
            return node
        if isinstance(node, Call):
            return Call(node.fn, [subst_row_refs(a) for a in node.args], node.opts)
        if isinstance(node, Unop):
            return Unop(node.op, subst_row_refs(node.e))
        if isinstance(node, Binop):
            return Binop(node.op, subst_row_refs(node.a), subst_row_refs(node.b))
        if isinstance(node, CaseWhen):
            return CaseWhen(
                [(subst_row_refs(c), subst_row_refs(v)) for c, v in node.branches],
                subst_row_refs(node.otherwise) if node.otherwise is not None else None,
            )
        return node

    def lift(node):
        if isinstance(node, Call) and node.fn in AGGS and not (
            node.args and _is_array_node(node.args[0])
        ):
            node = Call(node.fn, [subst_row_refs(a) for a in node.args], node.opts)
            key = repr(node)
            if key not in hidden:
                nm = f"_agg{len(hidden)}"
                hidden[key] = nm
                sub = Compiler(params, src_arrays=src_arrays)
                hidden_cols.append(sub.col(node).alias(nm))
            return Field(hidden[key])
        if isinstance(node, Call):
            return Call(node.fn, [lift(a) for a in node.args], node.opts)
        if isinstance(node, Unop):
            return Unop(node.op, lift(node.e))
        if isinstance(node, Binop):
            return Binop(node.op, lift(node.a), lift(node.b))
        if isinstance(node, CaseWhen):
            return CaseWhen(
                [(lift(c), lift(v)) for c, v in node.branches],
                lift(node.otherwise) if node.otherwise is not None else None,
            )
        return node

    key_names = {
        _strip_ns(k.path) for k in op.group_by if isinstance(k, Field)
    }
    need_ord = [False]  # group's-last-input-row refs need arrival order

    def fix_raw_refs(node):
        # a surviving reference to a NON-KEY input column post-agg
        # takes the group's last input row's value (the reference
        # builds out from g.last_in; hosts.ramen ping: instance AS
        # target under GROUP BY host)
        if isinstance(node, Field):
            nm = _strip_ns(node.path)
            if (
                ("." not in node.path or node.path.startswith("in."))
                and nm in df.columns
                and nm not in key_names
            ):
                key = f"__last__{nm}"
                if key not in hidden:
                    h = f"_agg{len(hidden)}"
                    hidden[key] = h
                    # max_by over an explicit arrival-order column:
                    # F.last is non-deterministic across partitions /
                    # under AQE (its result depends on which partition
                    # the aggregation consumes last)
                    hidden_cols.append(
                        F.max_by(F.col(nm), F.col("__arrival_ord")).alias(h)
                    )
                    need_ord[0] = True
                return Field(hidden[key])
            return node
        if isinstance(node, Call):
            return Call(node.fn, [fix_raw_refs(a) for a in node.args], node.opts)
        if isinstance(node, Unop):
            return Unop(node.op, fix_raw_refs(node.e))
        if isinstance(node, Binop):
            return Binop(node.op, fix_raw_refs(node.a), fix_raw_refs(node.b))
        if isinstance(node, CaseWhen):
            return CaseWhen(
                [(fix_raw_refs(c), fix_raw_refs(v)) for c, v in node.branches],
                fix_raw_refs(node.otherwise) if node.otherwise is not None else None,
            )
        return node

    lifted = [
        (f_.alias or _default_name(f_.expr, i), fix_raw_refs(lift(f_.expr)))
        for i, f_ in enumerate(fields)
        if not isinstance(f_.expr, Star)
        # private row-level fields are inlining carriers only — their
        # raw-input references don't exist post-aggregation
        and not (
            (f_.alias or _default_name(f_.expr, i)).startswith("_")
            and (f_.alias or _default_name(f_.expr, i)) in row_defs
        )
    ]
    comp = Compiler(params)
    key_cols = []
    for i, k in enumerate(op.group_by):
        if isinstance(k, Field):
            key_cols.append(F.col(_strip_ns(k.path)))
        else:
            key_cols.append(comp.col(k).alias(f"_k{i}"))
    if need_ord[0]:
        # deterministic arrival order (stream order = partition-major
        # scan order), like the global-map fill's _ord
        df = df.withColumn("__arrival_ord", F.monotonically_increasing_id())
    gdf = df.groupBy(*key_cols) if key_cols else df.groupBy()
    res = gdf.agg(*hidden_cols) if hidden_cols else gdf.agg(F.lit(1).alias("_one"))
    out = res
    for name, expr in lifted:
        sub = Compiler(
            params,
            schema={f_.name: f_.dataType.simpleString() for f_ in out.schema.fields},
        )
        out = out.withColumn(name, sub.col(expr).alias(name))
    public = [n for n, _ in lifted if not n.startswith("_")]
    return out.select(*public)


def _parse_factors(p: Parser) -> list[str]:
    """FACTORS f1[, f2 | AND f3]… (RamenOperation.ml factors clause)."""
    names = [p.expect("name").value]
    while True:
        if p.accept("op", ",") or p.accept("kw", "and"):
            names.append(p.expect("name").value)
            continue
        return names


@dataclass
class ListenFor:
    """LISTEN FOR <proto> — socket source (raql_operation.type
    ListenFor). The container has no UDP listener: materializes as an
    empty stream with the protocol's decoded schema, or an injected
    DataFrame (recorded packets through sources/binary kernels)."""

    proto: str


def _parse_source(p: Parser):
    """One FROM parent: 'prog/func' path — possibly relative (``../``)
    and instance-qualified (``prog#ext``, ``#_`` = every instance,
    any_ext_child.ramen) — or a parenthesized sub-query
    (src/raql_operation.type:35-46)."""
    if p.accept("op", "("):
        sub = _parse_operation_body(p)
        p.expect("op", ")")
        return sub
    parts: list[str] = []
    while p.accept("op", ".."):
        parts.append("..")
        p.expect("op", "/")

    def segment() -> str:
        nm = p.expect("name").value
        if p.accept("op", "#"):
            nm += "#" + p.expect("name").value
        return nm

    parts.append(segment())
    while p.accept("op", "/"):
        parts.append(segment())
    return "/".join(parts)


_DURATION_UNITS = {
    "ms": 0.001, "msec": 0.001, "msecs": 0.001,
    "s": 1.0, "sec": 1.0, "secs": 1.0, "second": 1.0, "seconds": 1.0,
    "min": 60.0, "mins": 60.0, "minute": 60.0, "minutes": 60.0,
    "h": 3600.0, "hour": 3600.0, "hours": 3600.0,
    "d": 86400.0, "day": 86400.0, "days": 86400.0,
}


def _parse_event_clause(p: Parser) -> tuple:
    """EVENT (STARTING|STARTS) AT f [*s] [(AND|WITH) DURATION (d | f [*s])
    | AND (STOPS|STOPPING|ENDS|ENDING) AT f [*s]]
    (src/RamenOperation.ml:1230-1248 event_time_clause; duration units
    per RamenParsing duration, e.g. ``0.1s``)."""
    t = p.next()  # 'event' consumed by caller
    if str(t.value).lower() not in ("starting", "starts"):
        raise SyntaxError("EVENT: expected STARTING/STARTS")
    at = p.next()
    if str(at.value).lower() != "at":
        raise SyntaxError("EVENT STARTING: expected AT")

    def field_scale() -> tuple[str, float]:
        name = p.expect("name").value
        scale = 1.0
        if p.accept("op", "*"):
            scale = float(p.expect("num").value)
        return name, scale

    def duration_const() -> float:
        v = float(p.expect("num").value)
        nt = p.peek()
        if nt.kind == "name" and nt.value.lower() in _DURATION_UNITS:
            v *= _DURATION_UNITS[p.next().value.lower()]
        return v

    start = field_scale()
    dur: tuple = ("const", 0.0)
    nxt = p.peek()
    linked = nxt.kind == "kw" and nxt.value in ("and", "with")
    if linked:
        p.next()
        nxt = p.peek()
    word = str(nxt.value).lower() if nxt.kind in ("kw", "name") else ""
    if word == "duration":
        p.next()
        if p.peek().kind == "num":
            dur = ("const", duration_const())
        else:
            n, s = field_scale()
            dur = ("field", n, s)
    elif linked and word in ("stops", "stopping", "ends", "ending"):
        p.next()
        at2 = p.next()
        if str(at2.value).lower() != "at":
            raise SyntaxError("EVENT … STOPPING: expected AT")
        n, s = field_scale()
        dur = ("stop", n, s)
    elif linked:
        raise SyntaxError("EVENT: expected DURATION or STOPPING AT")
    return start, dur


def _parse_operation_body(p: Parser):
    """Aggregate or ReadExternal operation; clauses accepted in any
    order (the reference's grammar is clause-order-free,
    src/RamenOperation.ml:1264-1349)."""
    fields: list[SelectField] = []
    sources: list = []
    where = None
    group_by: list = []
    commit_after = None
    commit_before = False
    flush = True
    sort_last = None
    notify = None
    factors_l: list[str] = []
    event_time = None
    is_yield = False
    every = None
    seen_any = False

    def parse_select_list() -> None:
        while True:
            if p.accept("op", "*"):
                exclude: list[str] = []
                while p.accept("op", "-"):
                    exclude.append(p.expect("name").value)
                fields.append(SelectField(Star(exclude), None))
            else:
                e = p.parse_expr()
                # units annotation `{seconds(rel)}` — metadata only
                # (past.ramen:11, src/RamenUnits.ml)
                if p.accept("op", "{"):
                    depth = 1
                    while depth:
                        tk = p.next()
                        if tk.kind == "op" and tk.value == "{":
                            depth += 1
                        elif tk.kind == "op" and tk.value == "}":
                            depth -= 1
                        elif tk.kind == "eof":
                            raise SyntaxError("unterminated units annotation")
                alias = None
                if p.accept("kw", "as"):
                    alias = p.expect("name").value
                    # optional field documentation string
                    # (examples/monitoring/network/hosts.ramen:
                    # AVG … AS free "The amount of …")
                    if p.peek().kind == "str":
                        p.next()
                    # archive re-aggregation hint: `aggregate using fn`
                    # (examples/generators/network/errors.ramen) —
                    # metadata for the reference's downsampler
                    nt = p.peek()
                    if nt.kind == "name" and nt.value.lower() == "aggregate":
                        p.next()
                        us = p.expect("name")
                        if us.value.lower() != "using":
                            raise SyntaxError("AGGREGATE: expected USING")
                        p.next()  # the aggregate fn name
                fields.append(SelectField(e, alias))
            if not p.accept("op", ","):
                break

    while True:
        t = p.peek()
        if t.kind == "name" and t.value.lower() == "read" and not seen_any:
            p.next()
            rc = _parse_read_csv(p)
            while True:
                nt = p.peek()
                low_nt = str(nt.value).lower() if nt.kind == "name" else ""
                if low_nt == "event":
                    # EVENT … on a READ source (fixtures/port_scan.
                    # ramen): event-time metadata, columns unchanged
                    p.next()
                    _parse_event_clause(p)
                elif low_nt in ("factors", "factor"):
                    p.next()
                    _parse_factors(p)
                else:
                    break
            return rc
        if t.kind == "name" and t.value.lower() == "listen" and not seen_any:
            # LISTEN FOR <PROTO> [FROM …] — socket source
            # (raql_operation.type ListenFor; examples/monitoring).
            # No UDP in this container: compiles to an EMPTY stream of
            # the protocol's decoded schema unless materialize gets an
            # injected DataFrame (sources/binary decoders are the real
            # kernels for recorded packets).
            p.next()
            fr = p.next()
            if str(fr.value).lower() != "for":
                raise SyntaxError("LISTEN: expected FOR")
            proto = p.expect("name").value.lower()
            nt = p.peek()
            if nt.kind == "kw" and nt.value == "from":
                p.next()
                # address spec: '*' or host/port tokens — skim to ';'
                while not (
                    p.peek().kind == "op" and p.peek().value == ";"
                ) and p.peek().kind != "eof":
                    p.next()
            while True:
                nt = p.peek()
                if nt.kind == "name" and str(nt.value).lower() in ("factors", "factor"):
                    p.next()
                    _parse_factors(p)
                    continue
                break
            return ListenFor(proto)
        if t.kind == "name" and t.value.lower() == "event":
            p.next()
            event_time = _parse_event_clause(p)
            seen_any = True
            continue
        if t.kind == "name" and t.value.lower() in ("factors", "factor"):
            # FACTORS f1[, f2 | AND f3]… — dimension metadata
            # (RamenOperation.ml:487-499); retained for the archive
            # layer, no effect on the computed relation
            p.next()
            factors_l.extend(_parse_factors(p))
            seen_any = True
            continue
        if t.kind == "name" and t.value.lower() == "yield":
            # YIELD <select list> — clock-driven select
            p.next()
            is_yield = True
            parse_select_list()
            seen_any = True
            continue
        if t.kind == "name" and t.value.lower() == "every":
            p.next()
            if p.peek().kind == "num":
                every = float(p.next().value)
                nt = p.peek()
                if nt.kind == "name" and nt.value.lower() in _DURATION_UNITS:
                    every *= _DURATION_UNITS[p.next().value.lower()]
                if p.peek().kind == "op" and p.peek().value in ("/", "*", "+", "-"):
                    # full period expression (logs.ramen:
                    # EVERY 1 / hit_rate) — evaluated against params
                    op_tok = p.next().value
                    rhs = p.parse_unary()
                    every = Binop(op_tok, Lit(every), rhs)
            else:
                # EVERY <param-expr> (tumbling.ramen: EVERY gen_dt) —
                # timing only in batch; keep the node
                every = p.parse_unary()
            seen_any = True
            continue
        if t.kind != "kw":
            break
        if t.value in ("keep", "flush"):
            # bare KEEP [ALL] / FLUSH (AFTER|BEFORE) cond — COMMIT
            # elided (flappy.ramen: KEEP AFTER …)
            p.next()
            if t.value == "keep":
                flush = False
                if p.peek().kind == "name" and p.peek().value.lower() == "all":
                    p.next()
            if p.accept("kw", "and"):
                # KEEP ALL AND NOTIFY "…" AFTER cond
                # (examples/monitoring/network/hosts.ramen)
                nt = p.next()
                if str(nt.value).lower() != "notify":
                    raise SyntaxError("KEEP … AND: expected NOTIFY")
                notify = p.expect("str").value
            if p.accept("kw", "before"):
                commit_before = True
                commit_after = p.parse_expr()
            elif p.accept("kw", "after"):
                commit_after = p.parse_expr()
            else:
                # bare KEEP — the commit condition defaults to true
                # (baseline.ramen:29; RamenOperation default commit)
                commit_after = Lit(True)
            seen_any = True
            continue
        if t.value == "select":
            p.next()
            parse_select_list()
        elif t.value == "from":
            p.next()
            sources.append(_parse_source(p))
            while p.accept("op", ","):
                sources.append(_parse_source(p))
        elif t.value == "sort":
            p.next()
            tl = p.expect("name")
            if tl.value.lower() != "last":
                raise SyntaxError("SORT must be followed by LAST")
            n = p.expect("num").value
            until = None
            if p.accept("kw", "or"):
                ut = p.expect("name")
                if ut.value.lower() != "until":
                    raise SyntaxError("SORT LAST n OR must be followed by UNTIL")
                until = p.parse_expr()
            by: list = []
            if p.accept("kw", "by"):
                by.append(p.parse_expr())
                while p.accept("op", ","):
                    by.append(p.parse_expr())
            sort_last = (int(n), by, until)
        elif t.value in ("where", "when"):
            p.next()
            where = p.parse_expr()
        elif t.value == "group":
            p.next()
            p.expect("kw", "by")
            group_by.append(p.parse_expr())
            while p.accept("op", ","):
                group_by.append(p.parse_expr())
        elif t.value == "commit":
            p.next()
            # COMMIT [,|AND] [FLUSH | KEEP [ALL]] [AND NOTIFY "…"]
            # (AFTER|BEFORE) cond — the comma form appears in
            # examples/monitoring/network/traffic.ramen
            p.accept("kw", "and") or p.accept("op", ",")
            if p.accept("kw", "keep"):
                flush = False
                if p.peek().kind == "name" and p.peek().value.lower() == "all":
                    p.next()
            elif p.accept("kw", "flush"):
                flush = True
            if p.accept("kw", "and"):
                nt = p.next()
                if str(nt.value).lower() != "notify":
                    raise SyntaxError("COMMIT … AND: expected NOTIFY")
                notify = p.expect("str").value
            if p.accept("kw", "before"):
                commit_before = True
            else:
                p.expect("kw", "after")
            commit_after = p.parse_expr()
        elif t.value == "notify":
            # NOTIFY <expr> [AND (KEEP|FLUSH)] — generated alert
            # programs build the name by concatenation and append the
            # flush method after it (CodeGen_Alert2RaQL.ml:441-466)
            p.next()
            ne = p.parse_expr()
            notify = ne.value if isinstance(ne, Lit) and isinstance(ne.value, str) else ne
            if p.accept("kw", "and"):
                ft_ = p.next()
                if str(ft_.value).lower() == "keep":
                    flush = False
                    if p.peek().kind == "name" and p.peek().value.lower() == "all":
                        p.next()
                elif str(ft_.value).lower() == "flush":
                    flush = True
                else:
                    raise SyntaxError("NOTIFY … AND: expected KEEP or FLUSH")
        elif t.value in ("after", "before"):
            # bare AFTER/BEFORE cond — COMMIT elided entirely
            # (CodeGen_Alert2RaQL.ml:462 'AFTER CHANGED firing')
            p.next()
            commit_before = t.value == "before"
            commit_after = p.parse_expr()
        else:
            break
        seen_any = True
    if not seen_any:
        got = p.peek()
        raise SyntaxError(f"RaQL: expected an operation clause, got {got.value!r} at {got.pos}")
    if not fields:
        fields = [SelectField(Star([]), None)]
    return Operation(
        fields, sources, where, group_by, commit_after, commit_before, flush,
        sort_last, notify, event_time, is_yield, every,
        factors=tuple(factors_l),
    )


def parse_operation(text: str) -> Operation:
    p = Parser(tokenize(text))
    op = _parse_operation_body(p)
    p.expect("eof")
    return op


def _default_name(node, i: int) -> str:
    """Output-field naming convention of the reference
    (src/RamenOperation.ml select-field naming: ``min horsepower`` →
    ``min_horsepower``; casts are transparent: ``sum u32(h)`` →
    ``sum_h``)."""
    if isinstance(node, Field):
        return _strip_ns(node.path)
    if isinstance(node, Call) and node.args:
        if node.fn == "histogram" and isinstance(node.args[0], Field):
            return f"{_strip_ns(node.args[0].path)}_histogram"
        a = node.args[-1] if node.fn in ROW_STATEFUL else node.args[0]
        while isinstance(a, Call) and a.fn == "cast":
            a = a.args[0]
        if isinstance(a, Field):
            fn = {"and_all": "and", "or_all": "or"}.get(node.fn, node.fn)
            return f"{fn}_{_strip_ns(a.path)}"
    return f"_{i}"


def _event_time_nodes(event_time: tuple) -> tuple[Any, Any]:
    """#start / #stop ASTs from the EVENT annotation. Fields are
    output-field refs (src/event_time.type Field.OutputField)."""
    (sf, ss), dur = event_time

    def scaled(name: str, s: float):
        f = Field("out." + name)
        return f if s == 1.0 else Binop("*", f, Lit(s))

    start = scaled(sf, ss)
    if dur[0] == "const":
        stop = start if dur[1] == 0.0 else Binop("+", start, Lit(dur[1]))
    elif dur[0] == "field":
        stop = Binop("+", start, scaled(dur[1], dur[2]))
    else:  # ("stop", name, scale)
        stop = scaled(dur[1], dur[2])
    return start, stop


def _subst_event_fields(node, start_node, stop_node):
    """Replace #start/#stop virtual fields with the EVENT-derived
    expressions (reference resolves SL0 EventStart against the
    operation's event-time annotation)."""
    sub = lambda n: _subst_event_fields(n, start_node, stop_node)  # noqa: E731
    if isinstance(node, Field):
        if node.path == "#start":
            return start_node
        if node.path == "#stop":
            return stop_node
        return node
    if isinstance(node, Unop):
        return Unop(node.op, sub(node.e))
    if isinstance(node, Binop):
        return Binop(node.op, sub(node.a), sub(node.b))
    if isinstance(node, Call):
        return Call(node.fn, [sub(a) for a in node.args], node.opts)
    if isinstance(node, CaseWhen):
        return CaseWhen(
            [(sub(c), sub(v)) for c, v in node.branches],
            sub(node.otherwise) if node.otherwise is not None else None,
        )
    return node


def _rewrite_event_time(op: Operation) -> Operation:
    """Resolve #start/#stop across the operation's expressions using
    its EVENT clause. Without one, an output field named ``start``
    (and ``stop``) is the reference's DEFAULT event time
    (src/RamenEventTime.ml default); otherwise the Compiler falls back
    to the start/stop column convention."""
    if op.event_time is None:
        names = {
            f_.alias or _default_name(f_.expr, i)
            for i, f_ in enumerate(op.fields)
            if not isinstance(f_.expr, Star)
        }
        if "start" in names:
            dur = ("stop", "stop", 1.0) if "stop" in names else ("const", 0.0)
            op = replace(op, event_time=(("start", 1.0), dur))
        else:
            return op
    start_n, stop_n = _event_time_nodes(op.event_time)
    sub = lambda n: _subst_event_fields(n, start_n, stop_n)  # noqa: E731
    return replace(
        op,
        fields=[
            SelectField(f_.expr if isinstance(f_.expr, Star) else sub(f_.expr), f_.alias)
            for f_ in op.fields
        ],
        where=sub(op.where) if op.where is not None else None,
        commit_after=sub(op.commit_after) if op.commit_after is not None else None,
        group_by=[sub(k) for k in op.group_by],
    )


def with_event_time(df: DataFrame, op: Operation | str) -> DataFrame:
    """Materialize the EVENT annotation as ``start``/``stop`` double
    columns — the convention operators/windows.py consumes (timeseries
    bucketing). The reference keeps event time as side metadata
    (src/event_time.type); this bridge is how batch consumers read it.
    Narrow projection — no shuffle."""
    if isinstance(op, str):
        op = parse_operation(op)
    if op.event_time is None:
        return df
    (sf, ss), dur = op.event_time
    start = F.col(sf).cast("double") * F.lit(float(ss))
    if dur[0] == "const":
        stop = start + F.lit(float(dur[1]))
    elif dur[0] == "field":
        stop = start + F.col(dur[1]).cast("double") * F.lit(float(dur[2]))
    else:
        stop = F.col(dur[1]).cast("double") * F.lit(float(dur[2]))
    return df.withColumn("start", start).withColumn("stop", stop)


def _apply_sort_last(df: DataFrame, op: Operation, params: dict[str, Any] | None) -> DataFrame:
    """Apply the SORT LAST bounded reorder buffer to the input stream
    (operators.sortbuf). BY defaults to the event-time start column
    (reference RamenOperation.ml:1290 event_time_start). The UNTIL
    condition may read the ``sort`` namespace (sort.count,
    sort.first/smallest/greatest.field — src/RamenSortBuf.ml)."""
    from ramen_spark.operators.sortbuf import sort_last as _sort_last_op

    n, by_nodes, until_node = op.sort_last
    comp = Compiler(params)
    if by_nodes:
        by_cols = [comp.col(b) for b in by_nodes]
    elif "start" in df.columns:
        by_cols = [F.col("start")]
    elif "ts" in df.columns:
        by_cols = [F.col("ts")]
    else:
        raise ValueError("SORT LAST needs BY exprs or a start/ts column")
    until_fn = None
    if until_node is not None:
        pseudo = Operation([], [], None, [], None)
        ev = _Fold(pseudo, params)

        def until_fn(in_row, sv):  # noqa: F811
            row = dict(in_row)
            row["sort.count"] = sv["count"]
            for nm in ("first", "smallest", "greatest"):
                for k, v in sv[nm].items():
                    row[f"sort.{nm}.{k}"] = v
            return ev._eval(until_node, row, None, None, None) is True

    return _sort_last_op(df, n, by_cols, until=until_fn)


_SKETCH_AGGS = frozenset({
    "kmv_distinct", "cms_top", "quantile_sketch",
    # the sketch-backed membership/rank output kinds of CMS TOP
    # (reference src/raql_top_output.type: LIST / IS x IN / RANK OF x)
    "is_in_cms_top", "rank_in_cms_top",
})


def _compile_grouped_with_sketches(df, op, params, src_arrays):
    """Grouped SELECT containing sketch aggregates (``KMV DISTINCT x``,
    ``CMS TOP n x [BY w]``) — training-pipeline extension surfaced in
    the dialect (nearest reference rows: raql_expr.type Distinct/Top).

    A sketch aggregate is not a Catalyst aggregate Column: its scale
    contract is a REWRITE of the grouped plan (map-side bounded prune
    before any Exchange for KMV; the fixed-keyspace cell relation for
    CMS — operators/sketch.py). So each sketch field compiles to its
    own branch keyed on the group keys, and the ordinary aggregate
    fields keep the stock groupBy path; branches re-join on the keys
    (co-partitioned equi-join, key-cardinality-sized — AQE handles
    it). A group whose sketch input is all-NULL has no sketch row:
    KMV coalesces to 0 (COUNT DISTINCT convention), CMS TOP to [].
    """
    from ramen_spark.operators import sketch as SK

    _sch = {f_.name: f_.dataType.simpleString() for f_ in df.schema.fields}
    keys = [Compiler(params, schema=_sch).col(k) for k in op.group_by]
    knames = [f"_k{i}" for i in range(len(keys))]
    base = df
    for nm, kc in zip(knames, keys):
        base = base.withColumn(nm, kc)
    global_group = not knames
    if global_group:
        # constant join key so the global form keeps left-join
        # semantics (a crossJoin against an empty sketch side would
        # drop the spine row)
        base = base.withColumn("_kc", F.lit(1))
        knames = ["_kc"]

    sketch_items: list[tuple[str, Call]] = []
    rest: list[tuple[str, SelectField]] = []
    out_names: list[str] = []
    for i, f_ in enumerate(op.fields):
        name = f_.alias or _default_name(f_.expr, i)
        out_names.append(name)
        if isinstance(f_.expr, Call) and f_.expr.fn in _SKETCH_AGGS:
            sketch_items.append((name, f_.expr))
        elif _contains(f_.expr, _SKETCH_AGGS):
            raise NotImplementedError(
                "KMV DISTINCT / KMV PERCENTILE / CMS TOP must be a whole select field "
                f"(field {name!r} nests one inside an expression); "
                "compose downstream of the aggregate instead — or use "
                "the COMMIT engine, whose fold supports nested "
                "KMV DISTINCT"
            )
        else:
            rest.append((name, f_))

    # ordinary fields: aggregates and group-key expressions only
    agg_cols: list[Column] = []
    key_renames: list[tuple[str, str]] = []
    bsch = {f_.name: f_.dataType.simpleString() for f_ in base.schema.fields}
    for name, f_ in rest:
        sub = Compiler(params, src_arrays=src_arrays, schema=bsch)
        col = sub.col(f_.expr)
        if sub.has_aggregate:
            agg_cols.append(col.alias(name))
            continue
        matched = None
        for i, kc in enumerate(keys):
            if str(col) == str(kc):
                matched = f"_k{i}"
                break
        if matched is None:
            raise ValueError(
                f"non-aggregate select field {name!r} is not a GROUP BY key"
            )
        key_renames.append((matched, name))

    if agg_cols and global_group:
        # true global grouping (groupBy() with no keys) so the empty
        # input still yields ONE row — reference global-group
        # semantics; the constant key is re-attached for the joins
        spine = base.groupBy().agg(*agg_cols).withColumn("_kc", F.lit(1))
    elif agg_cols:
        spine = base.groupBy(*knames).agg(*agg_cols)
    elif global_group:
        # sketch-only global select: the one-row spine must exist even
        # on empty input (same reference semantics as the agg branch)
        spine = df.sparkSession.range(1).select(F.lit(1).alias("_kc"))
    else:
        spine = base.select(*knames).distinct()

    def _join_branch(spine_df, branch):
        # NULL group keys are real groups (base.groupBy keeps them and
        # so do the sketch branches) — the join must be null-safe or a
        # NULL-keyed group silently coalesces to 0/[]
        # (operators.joins — the shared house implementation)
        from ramen_spark.operators.joins import null_safe_join

        return null_safe_join(spine_df, branch, knames)

    # identical CMS specs share ONE branch: `CMS TOP n x BY w` beside
    # `IS c IN CMS TOP n x BY w` and `RANK OF c IN CMS TOP n x BY w`
    # builds the cell relation + candidate ranking once — the
    # membership/rank kinds are row-local lookups on the joined list,
    # adding ZERO Exchanges over the LIST kind
    cms_cache: dict[tuple, str] = {}
    for name, node in sketch_items:
        if (
            node.opts.get("duration") is not None
            or node.opts.get("sigmas")
            or node.opts.get("time") is not None
        ):
            raise NotImplementedError(
                "CMS TOP supports only the BY w clause (no decay/"
                "SIGMAS/AT TIME). OVER m is consumed and ignored like "
                "the exact engine does: the batch form enumerates ALL "
                "candidates — a strict accuracy superset of any "
                "m-bounded tracking (m maps to max_candidates only in "
                "the always-on IncrementalCmsTop lane)."
            )
        sub = Compiler(params, src_arrays=src_arrays, schema=bsch)
        # the membership/rank kinds carry (probe, tracked-value); the
        # tracked value is the LAST arg in every CMS form
        probe_kind = node.fn in ("is_in_cms_top", "rank_in_cms_top")
        arg = sub.col(node.args[-1] if probe_kind else node.args[0])
        if sub.has_aggregate:
            raise NotImplementedError(
                f"sketch aggregate argument of {name!r} must be stateless"
            )
        if node.fn == "kmv_distinct":
            sel = base.select(*knames, arg.alias("_sv"))
            branch = SK.kmv_distinct(
                sel, knames, "_sv", int(node.opts.get("k", 256))
            ).select(*knames, F.col("est_distinct").alias(name))
            spine = _join_branch(spine, branch).withColumn(
                name, F.coalesce(F.col(name), F.lit(0).cast("long"))
            )
        elif node.fn == "quantile_sketch":
            # KMV [k] p PERCENTILE x BY id — the bottom-k-sample
            # quantile sketch (operators.sketch.quantile_sketch): the
            # BY id is the unique row id the sample hashes. A group
            # whose input is all-NULL has no sketch row and estimates
            # NULL — the PERCENTILE-of-empty convention, NOT 0.
            id_sub = Compiler(params, src_arrays=src_arrays, schema=bsch)
            idc = id_sub.col(node.args[1])
            if id_sub.has_aggregate:
                raise NotImplementedError(
                    f"KMV PERCENTILE BY id of {name!r} must be stateless"
                )
            ps = list(node.opts["ps"])
            sel = base.select(
                *knames, arg.cast("double").alias("_sv"), idc.alias("_sid")
            )
            qsk = SK.quantile_sketch(
                sel, knames, "_sv", "_sid", ps=ps, k=int(node.opts["k"])
            )
            pcols = [
                c for c in qsk.columns
                if c not in set(knames) and c != "n_sample"
            ]
            if node.opts.get("single"):
                branch = qsk.select(*knames, F.col(pcols[0]).alias(name))
            else:
                branch = qsk.select(*knames, F.array(*pcols).alias(name))
            spine = _join_branch(spine, branch)
        else:  # cms_top family — LIST / IS x IN / RANK OF x IN kinds
            wnode = node.opts.get("by")
            spec = (str(node.args[-1]), str(wnode), int(node.opts["n"]))
            if spec in cms_cache:
                list_col = cms_cache[spec]
            else:
                list_col = f"_cmslist_{len(cms_cache)}" if probe_kind else name
                if wnode is not None:
                    wsub = Compiler(
                        params, src_arrays=src_arrays, schema=bsch
                    )
                    wcol = wsub.col(wnode)
                    if wsub.has_aggregate:
                        raise NotImplementedError(
                            f"CMS TOP BY weight of {name!r} must be stateless"
                        )
                    sel = base.select(
                        *knames, arg.alias("_sv"), wcol.alias("_w")
                    )
                    branch = SK.cms_top(
                        sel, knames, "_sv", int(node.opts["n"]),
                        weight_col="_w", out_col=list_col,
                    )
                else:
                    sel = base.select(*knames, arg.alias("_sv"))
                    branch = SK.cms_top(
                        sel, knames, "_sv", int(node.opts["n"]),
                        out_col=list_col,
                    )
                arr_ddl = dict(branch.dtypes)[list_col]
                spine = _join_branch(spine, branch).withColumn(
                    list_col,
                    F.coalesce(F.col(list_col), F.array().cast(arr_ddl)),
                )
                cms_cache[spec] = list_col
            if not probe_kind and list_col != name:
                # the LIST kind arrived after a probe kind cached the
                # branch under a temp name — surface it
                spine = spine.withColumn(name, F.col(list_col))
            if probe_kind:
                # the probed item is tested against the GROUP's final
                # top list (one output row per group) — so it must be
                # group-constant: a literal or parameter. Per-row
                # membership against the RUNNING top is the exact
                # engine's IS x IN TOP, which stays on the fold path.
                probe_node = node.args[0]
                for nd in _walk(probe_node):
                    if isinstance(nd, Field) and not nd.path.startswith(
                        ("param.", "env.")
                    ):
                        raise NotImplementedError(
                            f"{name!r}: the probed item of IS/RANK OF … "
                            "IN CMS TOP must be a constant or parameter "
                            "(it is tested against the group's FINAL "
                            "top list); per-row membership against the "
                            "running top is the exact `IS x IN TOP n` "
                            "on the COMMIT-fold path"
                        )
                psub = Compiler(params, src_arrays=src_arrays, schema=bsch)
                probe = psub.col(probe_node)
                if node.fn == "is_in_cms_top":
                    # NULL probe → false (the exact fold never inserts
                    # NULL, so `None in top` is False there too)
                    spine = spine.withColumn(
                        name,
                        F.coalesce(
                            F.array_contains(F.col(list_col), probe),
                            F.lit(False),
                        ),
                    )
                else:
                    # 1-based, heaviest first; absent/NULL probe → NULL
                    # (the exact fold's convention)
                    pos = F.array_position(F.col(list_col), probe)
                    spine = spine.withColumn(
                        name,
                        F.when(pos == 0, F.lit(None))
                        .otherwise(pos)
                        .cast("long"),
                    )

    for old, new in key_renames:
        spine = spine.withColumnRenamed(old, new)
    public = [n for n in out_names if not n.startswith("_")]
    return spine.select(*public)


def compile_operation(
    op: Operation | str,
    source_df: DataFrame,
    params: dict[str, Any] | None = None,
) -> DataFrame:
    """Compile a RaQL SELECT operation onto a source DataFrame (batch).

    Batch semantics = run-to-completion windows: the COMMIT condition's
    event-time tumbling pattern (``in.t > out.t + d``) is subsumed by
    the GROUP BY time bucket; other conditions need the general COMMIT
    engine (operators.aggregate.commit_aggregate) — raised as
    unsupported here to keep the fast path honest.
    """
    if isinstance(op, str):
        op = parse_operation(op)
    op = _rewrite_event_time(op)
    if op.commit_after is not None and _commit_needs_engine(op.commit_after):
        raise NotImplementedError(
            "general COMMIT clause (references aggregates or previous): "
            "use compile_commit_operation. The batch fast path subsumes "
            "only event-time conditions over in/out fields, which "
            "run-to-completion grouping already satisfies"
        )

    df = source_df
    from pyspark.sql.types import ArrayType

    src_arrays = frozenset(
        f_.name for f_ in df.schema.fields if isinstance(f_.dataType, ArrayType)
    )
    if op.sort_last is not None:
        df = _apply_sort_last(df, op, params)
    src_schema = {f_.name: f_.dataType.simpleString() for f_ in df.schema.fields}
    if op.where is not None:
        where_c = Compiler(params, src_arrays=src_arrays, schema=src_schema)
        cond = where_c.col(op.where)
        if where_c.has_aggregate:
            raise NotImplementedError("stateful WHERE needs the general COMMIT engine")
        df = df.filter(cond)

    # star expansion: `*` = all input fields not already named by the
    # select list (reference star rules, RamenOperation.ml:1254-1271)
    named = {
        f_.alias or _default_name(f_.expr, i)
        for i, f_ in enumerate(op.fields)
        if not isinstance(f_.expr, Star)
    }
    fields: list[SelectField] = []
    for f_ in op.fields:
        if isinstance(f_.expr, Star):
            skip = named | set(f_.expr.exclude)
            fields.extend(
                SelectField(Field(c_), c_) for c_ in df.columns if c_ not in skip
            )
        else:
            fields.append(f_)

    # SPLIT generators: each split value yields its OWN output row,
    # with enclosing expressions applied per generated value (the
    # reference's generator expansion, word_split.ramen; cartesian
    # across multiple generators). Lower each generator subtree to an
    # exploded column, then compile the enclosing expression against it
    # — Catalyst's GenerateExec, fully distributed.
    gen_cols: list[tuple[str, Any]] = []

    def _lift_generators(node):
        if isinstance(node, Call) and node.fn == "split":
            nm = f"_gen{len(gen_cols)}"
            gen_cols.append((nm, node))
            return Field(nm)
        if isinstance(node, Call):
            return Call(node.fn, [_lift_generators(a) for a in node.args], node.opts)
        if isinstance(node, Unop):
            return Unop(node.op, _lift_generators(node.e))
        if isinstance(node, Binop):
            return Binop(node.op, _lift_generators(node.a), _lift_generators(node.b))
        if isinstance(node, CaseWhen):
            return CaseWhen(
                [(_lift_generators(c), _lift_generators(v)) for c, v in node.branches],
                _lift_generators(node.otherwise) if node.otherwise is not None else None,
            )
        return node

    fields = [
        f_
        if isinstance(f_.expr, Star)
        else SelectField(_lift_generators(f_.expr), f_.alias)
        for f_ in fields
    ]
    for nm, gnode in gen_cols:
        # Compiler.call already lowers split to explode(split(...));
        # one generator per projection stage → cartesian across stages
        gen = Compiler(params, src_arrays=src_arrays).col(
            Call("split", gnode.args, gnode.opts)
        )
        df = df.withColumn(nm, gen)

    # sketch aggregates (KMV DISTINCT / KMV PERCENTILE / CMS TOP) have no Column form:
    # the whole grouped operation rewrites through operators.sketch
    # (prune branch per sketch field + join back on the group keys)
    if any(_contains(f_.expr, _SKETCH_AGGS) for f_ in fields):
        return _compile_grouped_with_sketches(
            df, replace(op, fields=fields), params, src_arrays
        )

    # private fields (leading underscore) are dropped from the output
    out_names: list[str] = []
    cols: list[Column] = []
    agg_flags: list[bool] = []
    for i, f_ in enumerate(fields):
        sub = Compiler(params, src_arrays=src_arrays)
        col = sub.col(f_.expr)
        name = f_.alias or _default_name(f_.expr, i)
        out_names.append(name)
        cols.append(col.alias(name))
        agg_flags.append(sub.has_aggregate)

    op = replace(op, fields=fields)
    if op.group_by or any(agg_flags):
        # out-refs among grouped fields (`sum bytes / (out.stop -
        # out.start)`, examples/monitoring/network/traffic.ramen):
        # lower via hidden aggregate columns + a post-agg projection
        # (stars were expanded above, but track earlier aliases with
        # an explicit list so a Star entry could never shift the
        # "defined before this field" window)
        has_out_refs = False
        _seen_aliases: set[str] = set()
        for i, f_ in enumerate(fields):
            if isinstance(f_.expr, Star):
                continue
            if any(
                isinstance(n, Field)
                and (
                    n.path.startswith("out.")
                    or (
                        "." not in n.path
                        and _strip_ns(n.path) in _seen_aliases
                        and _strip_ns(n.path) not in df.columns
                    )
                )
                for n in _walk(f_.expr)
            ):
                has_out_refs = True
                break
            _seen_aliases.add(f_.alias or _default_name(f_.expr, i))
        if has_out_refs:
            return _compile_grouped_with_outrefs(df, op, fields, params, src_arrays)
        _sch = {f_.name: f_.dataType.simpleString() for f_ in df.schema.fields}
        keys = [Compiler(params, schema=_sch).col(k) for k in op.group_by]
        key_aliases = [k.alias(f"_k{i}") for i, k in enumerate(keys)]
        gdf = df.groupBy(*key_aliases) if keys else df.groupBy()
        agg_cols = [c_ for c_, is_a in zip(cols, agg_flags) if is_a]
        passthrough = [n for n, is_a in zip(out_names, agg_flags) if not is_a]
        res = gdf.agg(*agg_cols)
        # non-aggregate select fields must be group-key expressions:
        # re-alias the key columns to their select names positionally
        for n, is_a, f_ in zip(out_names, agg_flags, op.fields):
            if not is_a:
                sub = Compiler(params)
                # match the key by structural equality of compiled SQL
                target = sub.col(f_.expr)
                matched = None
                for i, k in enumerate(keys):
                    if str(target) == str(k):
                        matched = f"_k{i}"
                        break
                if matched is None:
                    raise ValueError(
                        f"non-aggregate select field {n!r} is not a GROUP BY key"
                    )
                res = res.withColumnRenamed(matched, n)
        drop = [c_ for c_ in res.columns if c_.startswith("_k")]
        res = res.drop(*drop)
        out = res
    else:
        # chained withColumn so later select fields may reference
        # earlier out-fields by alias (`out.total / out.duration`,
        # SURVEY §2.2 SELECT semantics) — Catalyst collapses the chain
        # into a single Project, so this costs nothing physically.
        # When an alias SHADOWS an input column, snapshot the input
        # value first so `in.x` (and bare refs to input names) keep
        # reading the input tuple, as the reference requires.
        in_names = frozenset(df.columns)
        shadowed = {
            n
            for n, f_ in zip(out_names, fields)
            if n in in_names
            and not (isinstance(f_.expr, Field) and _strip_ns(f_.expr.path) == n)
        }
        out = df
        in_shadow = {}
        for n in sorted(shadowed):
            snap = f"_in_snapshot_{n}"
            out = out.withColumn(snap, F.col(n))
            in_shadow[n] = snap
        for f_, name in zip(fields, out_names):
            # recompile against the evolving schema so tuple-typed
            # out-fields are known to later casts (tuples.ramen t5:
            # string[](t1) needs t1's struct member names)
            sub = Compiler(
                params, in_shadow=in_shadow, in_names=in_names,
                src_arrays=src_arrays,
                schema={
                    fld.name: fld.dataType.simpleString()
                    for fld in out.schema.fields
                },
            )
            out = out.withColumn(name, sub.col(f_.expr).alias(name))

    public = [n for n in out_names if not n.startswith("_")]
    return out.select(*public)


# ---------------------------------------------------------------------------
# program: PARAMETERS …; DEFINE f AS SELECT …; DEFINE g AS … FROM f;
# ---------------------------------------------------------------------------


@dataclass
class DefineStmt:
    name: str
    op: Operation
    lazy: bool = False
    persist_for: float | None = None


@dataclass
class ProgramAST:
    parameters: dict[str, Any]
    defines: list[DefineStmt]
    globals_: list[str] = field(default_factory=list)


def parse_program(text: str) -> ProgramAST:
    """Parse a full RaQL program (SURVEY §3.1 entry point A):

        PARAMETERS p DEFAULTS TO 10, q DEFAULTS TO "x";
        DEFINE [LAZY] f [PERSIST FOR 3600] AS SELECT … FROM src;
        DEFINE g AS SELECT … FROM f;

    Statements separated by ``;`` (trailing ``;`` optional). Grammar
    per src/RamenProgram.ml:29-120 (structure only — fresh parser)."""
    p = Parser(tokenize(text))
    parameters: dict[str, Any] = {}
    defines: list[DefineStmt] = []
    globals_: list[str] = []

    def parse_param_default():
        if p.accept("op", "["):
            items = []
            if not p.accept("op", "]"):
                items.append(parse_param_default())
                while p.accept("op", ";"):
                    items.append(parse_param_default())
                p.expect("op", "]")
            return items
        t = p.next()
        if t.kind not in ("num", "str") and not (
            t.kind == "kw" and t.value in ("true", "false", "null")
        ):
            raise SyntaxError(
                f"RaQL: parameter default must be a literal, got {t.value!r}"
            )
        return (
            {"true": True, "false": False, "null": None}[t.value]
            if t.kind == "kw"
            else t.value
        )

    def skip_param_type() -> None:
        # optional type annotation: U16, I8?, U16[] (params.ramen),
        # plus a units blob `{seconds}` (past.ramen)
        t = p.peek()
        if t.kind == "name" and t.value.lower() in _TYPE_NAMES:
            p.next()
            p.accept("op", "?")
            if p.accept("op", "["):
                p.expect("op", "]")
                p.accept("op", "?")
        if p.accept("op", "{"):
            while not p.accept("op", "}"):
                p.next()

    while p.peek().kind != "eof":
        is_plural = p.peek().kind == "kw" and p.peek().value == "parameters"
        is_singular = p.peek().kind == "name" and p.peek().value.lower() == "parameter"
        if is_plural or is_singular:
            p.next()
            while True:
                pname = p.expect("name").value
                skip_param_type()
                has_default = p.accept("kw", "defaults") or (
                    p.peek().kind == "name"
                    and p.peek().value.lower() == "default"
                    and p.next() is not None
                )
                if has_default:
                    p.expect("kw", "to")
                    parameters[pname] = parse_param_default()
                else:
                    parameters[pname] = None
                if not p.accept("op", ","):
                    break
        elif p.peek().kind == "name" and p.peek().value.lower() == "declare":
            # DECLARE [WITH <scope> SCOPE] name k_type[v_type] — a
            # global map variable (src/RamenGlobalVariables.ml;
            # globals_function.ramen). Scope is advisory here: every
            # global lives at program level (the reference's
            # program-scope LMDB map).
            p.next()
            if p.peek().kind in ("name", "kw") and str(p.peek().value).lower() == "with":
                p.next()
                p.next()  # scope kind word (PROGRAM/SITE/GLOBAL)
                sc = p.expect("name")
                if sc.value.lower() != "scope":
                    raise SyntaxError("DECLARE: expected SCOPE")
            gname = p.expect("name").value
            # value[key] type syntax, e.g. string[string]
            p.expect("name")  # value type
            if p.accept("op", "["):
                p.expect("name")
                p.expect("op", "]")
            globals_.append(gname)
        elif p.accept("kw", "define"):
            lazy = bool(p.accept("kw", "lazy"))
            persist: float | None = None

            def persist_clause() -> float | None:
                if p.accept("kw", "persist"):
                    p.expect("kw", "for")
                    return float(p.expect("num").value)
                return None

            # PERSIST FOR d may precede OR follow the name
            # (examples/generators/network/aggregated.ramen:
            # DEFINE PERSIST FOR 1h http AS …)
            persist = persist_clause()
            fname = p.expect("name").value
            persist = persist_clause() or persist
            p.expect("kw", "as")
            defines.append(DefineStmt(fname, _parse_operation_body(p), lazy, persist))
        else:
            got = p.peek()
            raise SyntaxError(f"RaQL: expected DEFINE or PARAMETERS, got {got.value!r} at {got.pos}")
        if not p.accept("op", ";"):
            break
    p.expect("eof")
    return ProgramAST(parameters, defines, globals_)


def _compile_listen(spark, lf: ListenFor):
    """LISTEN FOR <proto> without a socket: an EMPTY DataFrame with
    the protocol's decoded schema, so downstream functions compile and
    run (0 rows). Recorded packets go through sources/binary decoders
    instead (netflow/collectd codecs are real kernels)."""
    from pyspark.sql import types as T

    if lf.proto == "netflow":
        from ramen_spark.sources.binary import NETFLOW_V5_DECODED_SCHEMA

        schema = T.StructType(
            [T.StructField("source", T.StringType(), True)]
            + list(NETFLOW_V5_DECODED_SCHEMA.fields)
        )
    elif lf.proto == "collectd":
        from ramen_spark.streaming.sources import COLLECTD_SCHEMA

        schema = COLLECTD_SCHEMA
    elif lf.proto == "instrumentation":
        # the reference's per-worker metrics tuple
        # (examples/benchmarks/comms.ramen consumers)
        schema = T.StructType(
            [
                T.StructField("worker", T.StringType(), False),
                T.StructField("start", T.DoubleType(), False),
                T.StructField("tuples_in", T.LongType(), True),
                T.StructField("tuples_out", T.LongType(), True),
                T.StructField("wait_in", T.DoubleType(), True),
                T.StructField("wait_out", T.DoubleType(), True),
                T.StructField("cpu", T.DoubleType(), True),
                T.StructField("ram", T.LongType(), True),
            ]
        )
    else:
        raise NotImplementedError(f"LISTEN FOR {lf.proto}")
    return spark.createDataFrame([], schema)


def _spark_type_of_csv_field(ts: TypeSpec):
    """Declared CSV column type → Spark scan type (shared by the
    batch reader and the streaming CSV tail in runner.py)."""
    from pyspark.sql import types as T

    n = ts.name
    if n in _INT_TYPES:
        bits = int(n[1:])
        base: T.DataType
        if bits <= 8:
            base = T.ByteType() if n.startswith("i") else T.ShortType()
        elif bits <= 16:
            base = T.ShortType() if n.startswith("i") else T.IntegerType()
        elif bits <= 32:
            base = T.IntegerType() if n.startswith("i") else T.LongType()
        else:
            base = T.LongType()
    elif n == "float":
        base = T.DoubleType()
    elif n in ("bool", "boolean"):
        base = T.BooleanType()
    elif n in ("ip4", "eth"):
        base = T.LongType()  # numeric encodings (SURVEY §1.2)
    elif n == "ip6":
        base = T.BinaryType()
    else:
        base = T.StringType()
    if ts.vec_dim is not None or ts.is_arr:
        base = T.ArrayType(base)
    return base


def _compile_read_csv(spark, rc: ReadCsv, base_dir: str | None):
    """ReadCsv → sources.csv.read_csv with the declared schema."""
    import os

    from pyspark.sql import types as T

    from ramen_spark.sources.csv import parse_clickhouse_array_cell, read_csv

    spark_type = _spark_type_of_csv_field

    path = rc.path if os.path.isabs(rc.path) or base_dir is None else os.path.join(base_dir, rc.path)

    if rc.fmt == "rowbinary":
        # whole-file binary blob → RowBinary decode kernel (the
        # reference's ClickHouse wire reader, sources/binary.py)
        from ramen_spark.sources.binary import decode_rowbinary

        spec = [
            (fname, raw)
            for (fname, _ts), raw in zip(rc.fields, rc.ch_types or [])
        ]
        blob_df = (
            spark.read.format("binaryFile")
            .load(path)
            .select(F.col("content").alias("blob"))
        )
        return decode_rowbinary(blob_df, spec)

    # array-typed columns can't be scanned directly from CSV: read the
    # cell as a string, then parse the ClickHouse-syntax array literal.
    # GENERIC ip/cidr sum types serialize as MULTIPLE cells (the
    # reference's flattened sum encoding, fixtures/mixture.csv:
    # ip = tag,value; cidr = tag,value,mask) — scan the raw cells and
    # assemble the sum structs after the read.
    # multi-cell compound columns (VECTORS OF CHARS AS VECTOR,
    # tools/gen_reader_test.ml): each leaf scalar is its own CSV cell
    # (dessser csv_of_vec joins members with the separator)
    def _mc_leaves(ts: TypeSpec) -> list[TypeSpec]:
        if ts.is_arr:
            raise NotImplementedError(
                "variable-length list column in multi-cell CSV (the "
                "length-prefixed layout has per-row arity)"
            )
        if ts.items is not None:
            if ts.name == "__vec":
                return _mc_leaves(ts.items[0][1]) * (ts.vec_dim or 0)
            return [l for _, m in ts.items for l in _mc_leaves(m)]
        if ts.vec_dim:
            return [TypeSpec(ts.name, ts.nullable)] * ts.vec_dim
        return [ts]

    mc_fields = (
        {
            fname
            for fname, ts in rc.fields
            if ts.items is not None or ts.vec_dim or ts.is_arr
        }
        if rc.multicell_vectors
        else set()
    )
    arr_fields = {
        fname
        for fname, ts in rc.fields
        if (ts.is_arr or ts.vec_dim) and fname not in mc_fields
    }
    raw_fields: list[T.StructField] = []
    for fname, ts in rc.fields:
        if fname in mc_fields:
            for i, leaf in enumerate(_mc_leaves(ts)):
                raw_fields.append(
                    T.StructField(f"{fname}__c{i}", spark_type(leaf), True)
                )
        elif ts.name == "ip":
            raw_fields.append(T.StructField(f"{fname}__tag", T.IntegerType(), True))
            raw_fields.append(T.StructField(f"{fname}__val", T.StringType(), True))
        elif ts.name == "cidr":
            raw_fields.append(T.StructField(f"{fname}__tag", T.IntegerType(), True))
            raw_fields.append(T.StructField(f"{fname}__val", T.StringType(), True))
            raw_fields.append(T.StructField(f"{fname}__mask", T.IntegerType(), True))
        elif ts.name in ("cidr4", "cidr6"):
            raw_fields.append(T.StructField(f"{fname}__val", T.StringType(), True))
            raw_fields.append(T.StructField(f"{fname}__mask", T.IntegerType(), True))
        else:
            raw_fields.append(
                T.StructField(
                    fname,
                    T.StringType() if fname in arr_fields else spark_type(ts),
                    True,
                )
            )
    df = read_csv(
        spark, path, T.StructType(raw_fields),
        separator=rc.separator, null_str=rc.null_str,
        may_quote=rc.may_quote, escape_seq=rc.escape_seq,
        clickhouse_syntax=rc.clickhouse_syntax,
    )
    from ramen_spark.sources.csv import decimal_str_to_bytes16

    def _mc_assemble(ts: TypeSpec, fname: str, idx: int):
        if ts.items is not None and ts.name == "__vec":
            elem = ts.items[0][1]
            cols = []
            for _ in range(ts.vec_dim or 0):
                c, idx = _mc_assemble(elem, fname, idx)
                cols.append(c)
            return F.array(*cols), idx
        if ts.items is not None:  # __tuple / __rec
            cols = []
            for j, (nm, m) in enumerate(ts.items):
                c, idx = _mc_assemble(m, fname, idx)
                cols.append(c.alias(nm or f"_{j + 1}"))
            return F.struct(*cols), idx
        if ts.vec_dim:
            cols = []
            for _ in range(ts.vec_dim):
                cols.append(F.col(f"{fname}__c{idx}"))
                idx += 1
            return F.array(*cols), idx
        return F.col(f"{fname}__c{idx}"), idx + 1

    out_cols = []
    for fname, ts in rc.fields:
        if fname in mc_fields:
            col, _ = _mc_assemble(ts, fname, 0)
            out_cols.append(col.alias(fname))
        elif ts.name == "ip":
            tag, val = F.col(f"{fname}__tag"), F.col(f"{fname}__val")
            out_cols.append(
                F.when(
                    val.isNotNull(),
                    F.struct(
                        F.when(tag == 0, F.lit(4)).otherwise(F.lit(6)).alias("version"),
                        F.when(tag == 0, val.cast("long")).alias("v4"),
                        F.when(tag != 0, decimal_str_to_bytes16(val)).alias("v6"),
                    ),
                ).alias(fname)
            )
        elif ts.name == "cidr":
            tag = F.col(f"{fname}__tag")
            val = F.col(f"{fname}__val")
            msk = F.col(f"{fname}__mask")
            out_cols.append(
                F.when(
                    val.isNotNull(),
                    F.struct(
                        F.when(tag == 0, F.lit(4)).otherwise(F.lit(6)).alias("version"),
                        F.when(tag == 0, val.cast("long")).alias("addr4"),
                        F.when(tag != 0, decimal_str_to_bytes16(val)).alias("addr6"),
                        msk.alias("mask"),
                    ),
                ).alias(fname)
            )
        elif ts.name == "cidr4":
            out_cols.append(
                F.struct(
                    F.col(f"{fname}__val").cast("long").alias("addr"),
                    F.col(f"{fname}__mask").alias("mask"),
                ).alias(fname)
            )
        elif ts.name == "cidr6":
            out_cols.append(
                F.struct(
                    decimal_str_to_bytes16(F.col(f"{fname}__val")).alias("addr"),
                    F.col(f"{fname}__mask").alias("mask"),
                ).alias(fname)
            )
        elif fname in arr_fields:
            elem = spark_type(TypeSpec(ts.name, ts.nullable)).simpleString()
            out_cols.append(
                parse_clickhouse_array_cell(F.col(fname), elem).alias(fname)
            )
        else:
            out_cols.append(F.col(fname))
    return df.select(*out_cols)


def _needs_fold_engine(op: Operation, src_arrays: frozenset[str] = frozenset()) -> bool:
    """Route an operation to the general COMMIT engine when the batch
    fast path can't express it: row-stateful select/where functions,
    commit conditions over group state, check-all-groups commits, or
    KEEP (non-flushing) windows."""
    exprs = [f_.expr for f_ in op.fields if not isinstance(f_.expr, Star)]
    if op.where is not None:
        exprs.append(op.where)
    for e in exprs:
        for n in _walk(e):
            # an array FIRST ARG means an immediate (materialized-list)
            # form for most stateful fns — but is_in_top/rank_in_top
            # take the ITEM there, which may be a vector key
            # (port_scan.ramen IS [src;dst] IN TOP 2): still stateful
            if isinstance(n, Call) and n.fn in ROW_STATEFUL and not (
                n.fn not in ("is_in_top", "rank_in_top")
                and n.args
                and _is_array_node(n.args[0])
            ):
                return True
            if isinstance(n, Call) and n.fn in ("mapadd", "mapset"):
                return True  # global-map writes mutate shared state
            # previous/local_last/global_last namespaces need the
            # fold's committed-output state (changed.ramen,
            # flappy.ramen, previous.ramen)
            if isinstance(n, Field) and n.path.startswith(
                ("previous.", "local_last.", "local_last_out.", "global_last")
            ):
                return True
    # group-less aggregates without a COMMIT clause: the default commit
    # condition is `true` (RamenOperation.ml:857,1335) — the running
    # aggregate emits per input row (constructed_types.ramen tick)
    if op.commit_after is None and not op.group_by and op.sources and not op.is_yield:
        for e in exprs:
            for n in _walk(e):
                if isinstance(n, Call) and n.fn in AGGS and not (
                    # variadic MIN/MAX is the stateless form
                    n.fn in ("min", "max") and len(n.args) > 1
                ) and not (
                    n.args
                    and (
                        _is_array_node(n.args[0])
                        or (
                            isinstance(n.args[0], Field)
                            and _strip_ns(n.args[0].path) in src_arrays
                        )
                    )
                ):
                    return True
    # clock-driven select (YIELD / FROM-less SELECT) with aggregates:
    # the reference emits the running aggregate EVERY tick — per-row
    # fold, not run-to-completion (event_time.ramen, one_out_of.ramen)
    if (op.is_yield or not op.sources) and op.commit_after is None:
        for e in exprs:
            for n in _walk(e):
                if isinstance(n, Call) and n.fn in AGGS and not (
                    n.fn in ("min", "max") and len(n.args) > 1
                ) and not (
                    n.args and _is_array_node(n.args[0])
                ):
                    return True
    if op.commit_after is not None:
        if _commit_needs_engine(op.commit_after):
            return True
        if isinstance(op.commit_after, Lit) or not op.flush:
            return True  # COMMIT AFTER true / KEEP → per-row emission
        refs_out = any(
            isinstance(n, Field)
            and n.path.startswith(("out.", "previous.", "local_last.", "local_last_out.", "global_last"))
            for n in _walk(op.commit_after)
        )
        if check_commit_for_all(op.commit_after) and not refs_out:
            return True  # pure-`in` trigger → check-all-groups engine
        # in/out mixed (the tumbling `in.t > out.t + d` shape) stays on
        # the fast path: run-to-completion grouping subsumes it
    return False


# batch tick count for stateful YIELD functions (enough for every
# func-corpus `present` expectation, incl. stress's count=2000;
# stateless yields use one tick)
YIELD_TICKS = 2048


def _join_global_map_reads(
    src: DataFrame,
    op: Operation,
    params: dict[str, Any] | None,
    written_here: set[str],
):
    """Rewrite cross-function global-map reads ``var[key]`` into LEFT
    broadcast joins against the map's per-key write relation
    (``params["__globals_rel"]``), so the shared map never materializes
    on the driver (src/RamenGlobalVariables.ml semantics; the key→value
    relation is unbounded in key cardinality). Reads of maps this
    function itself writes keep the fold's task-local dict — that is
    the read-your-writes path (globals_function.ramen)."""
    grels = (params or {}).get("__globals_rel") or {}
    if not grels:
        return src, op
    counter = [0]
    joins: list[tuple[str, str, Any]] = []

    def rw(node):
        if isinstance(node, Binop):
            if (
                node.op == "index"
                and isinstance(node.a, Field)
                and _strip_ns(node.a.path) in grels
                and _strip_ns(node.a.path) not in written_here
            ):
                var = _strip_ns(node.a.path)
                counter[0] += 1
                cname = f"__gm{counter[0]}"
                joins.append((cname, var, rw(node.b)))
                return Field(cname)
            return Binop(node.op, rw(node.a), rw(node.b))
        if isinstance(node, Unop):
            return Unop(node.op, rw(node.e))
        if isinstance(node, Call):
            return Call(node.fn, [rw(a) for a in node.args], node.opts)
        if isinstance(node, CaseWhen):
            return CaseWhen(
                [(rw(c), rw(v)) for c, v in node.branches],
                rw(node.otherwise) if node.otherwise is not None else None,
            )
        return node

    new_fields = [
        SelectField(
            f_.expr if isinstance(f_.expr, Star) else rw(f_.expr), f_.alias
        )
        for f_ in op.fields
    ]
    new_where = rw(op.where) if op.where is not None else None
    new_commit = rw(op.commit_after) if op.commit_after is not None else None
    new_group = [rw(k) for k in op.group_by]
    if not joins:
        return src, op
    comp = Compiler(params)
    for cname, var, key_node in joins:
        rel = grels[var].select(
            F.col("__gm_k").alias(f"{cname}_k"),
            F.col("__gm_v").alias(cname),
        )
        # No forced broadcast hint: the map relation is unbounded in key
        # cardinality (the reference backs these with disk-resident LMDB,
        # src/RamenGlobalVariables.ml), so a hot map would OOM executors
        # under a mandatory broadcast at scale. AQE picks broadcast-hash
        # automatically while the relation is small and falls back to a
        # shuffled hash join once it isn't.
        src = src.join(
            rel,
            comp.col(key_node).eqNullSafe(F.col(f"{cname}_k")),
            "left",
        ).drop(f"{cname}_k")
    return src, replace(
        op,
        fields=new_fields,
        where=new_where,
        commit_after=new_commit,
        group_by=new_group,
    )


def compile_program(text: str, name: str = "raql", base_dir: str | None = None):
    """RaQL program text → plans.program.Program with one Function per
    DEFINE, parents wired from the FROM clauses. Multi-parent FROM =
    unionByName (the reference's interleaved-stream model,
    src/RingBuf.ml:4-6). Each function auto-routes to the Catalyst
    fast path (compile_operation) or the general COMMIT fold engine
    (compile_commit_operation). ``base_dir`` resolves relative READ
    FROM FILE paths. Materialize with externals supplying any source
    tables:

        prog = compile_program(txt)
        dfs = prog.materialize(spark, externals={"events": ev_df})
    """
    from ramen_spark.plans.program import Program

    ast = parse_program(text)
    prog = Program(name, parameters=ast.parameters, global_names=ast.globals_)

    def _op_global_writes(op) -> set[str]:
        if not isinstance(op, Operation):
            return set()
        return {
            _strip_ns(n.args[0].path)
            for f_ in op.fields
            if not isinstance(f_.expr, Star)
            for n in _walk(f_.expr)
            if isinstance(n, Call)
            and n.fn in ("mapadd", "mapset")
            and isinstance(n.args[0], Field)
            and _strip_ns(n.args[0].path) in ast.globals_
        }

    def _op_global_reads(op) -> set[str]:
        if not isinstance(op, Operation):
            return set()
        exprs = [f_.expr for f_ in op.fields if not isinstance(f_.expr, Star)]
        if op.where is not None:
            exprs.append(op.where)
        return {
            _strip_ns(n.path)
            for e in exprs
            for n in _walk(e)
            if isinstance(n, Field) and _strip_ns(n.path) in ast.globals_
        } - _op_global_writes(op)

    writers_of: dict[str, list[str]] = {}
    for d in ast.defines:
        for g in _op_global_writes(d.op):
            writers_of.setdefault(g, []).append(d.name)

    def make_body(op):
        if isinstance(op, ReadCsv):
            def read_body(spark, params, *parent_dfs):
                return _compile_read_csv(spark, op, base_dir)

            return read_body

        if isinstance(op, ListenFor):
            def listen_body(spark, params, *parent_dfs):
                return _compile_listen(spark, op)

            return listen_body

        def body(spark, params, *parent_dfs):
            from pyspark.sql.types import ArrayType as _AT

            src_arr = frozenset(
                f_.name
                for p_ in parent_dfs
                for f_ in p_.schema.fields
                if isinstance(f_.dataType, _AT)
            )
            use_fold = _needs_fold_engine(op, src_arr)
            if op.is_yield or not op.sources:
                # YIELD: clock-driven select — the batch source is a
                # generated tick frame (each row = one EVERY tick). The
                # reference runner's `present` check tolerates any tick
                # count ≥ what the expected tuples need; stateless
                # yields get one tick, stateful ones YIELD_TICKS.
                # NOW must advance by EVERY per tick (the reference's
                # wall clock — once_every.ramen f1 feeds time-windowed
                # children), so now-referencing yields run the fold
                # with a virtual `_now` clock column.
                exprs = [
                    f_.expr for f_ in op.fields if not isinstance(f_.expr, Star)
                ]
                uses_now = any(
                    isinstance(nd, Field) and _strip_ns(nd.path).lower() == "now"
                    for e in exprs
                    for nd in _walk(e)
                )
                if uses_now:
                    use_fold = True
                # __yield_ticks: engine-reserved materialize override —
                # applies even to stateless yields, whose downstream
                # consumers may need a long clock (central_limit:
                # stateless `YIELD random` feeding 6×1000 windows)
                if params and "__yield_ticks" in params:
                    n = int(params["__yield_ticks"])
                else:
                    n = YIELD_TICKS if use_fold else 1
                period = _eval_const(op.every, params)
                period = float(period) if period else 1.0
                import time as _time

                t0 = _time.time()
                src = (
                    spark.range(n)
                    .withColumnRenamed("id", "_tick")
                    .withColumn(
                        "_now", F.lit(t0) + F.col("_tick") * F.lit(period)
                    )
                )
            elif not parent_dfs:
                raise ValueError("RaQL function needs at least one FROM parent")
            else:
                src = parent_dfs[0]
                if parent_dfs[1:]:
                    # multi-parent FROM: parents may output different
                    # field sets/orders — the merged stream carries the
                    # fields COMMON to all parents, by name (reference
                    # parent-type unification, RamenOperation.ml; the
                    # from.test parents share only {one, two})
                    common = [
                        c
                        for c in src.columns
                        if all(c in p.columns for p in parent_dfs[1:])
                    ]
                    if any(
                        set(p.columns) != set(src.columns)
                        for p in parent_dfs[1:]
                    ):
                        src = src.select(*common)
                        parents = [p.select(*common) for p in parent_dfs[1:]]
                    else:
                        parents = list(parent_dfs[1:])
                    for extra in parents:
                        src = src.unionByName(extra)
            # global-map writes visible to OTHER functions: when the
            # mapadd key/value are stateless input expressions, the
            # function's final map content is a per-key max_by RELATION
            # (last write per key in stream order — the reference's
            # shared LMDB map semantics, globals_program.ramen). The
            # relation stays distributed; reader functions broadcast-
            # join it at their read sites (_join_global_map_reads).
            # Same-function reads are served by the fold's task-local
            # copy either way.
            gmaps = (params or {}).get("__globals")
            written_here: set[str] = set()
            if gmaps is not None:
                grels = params.setdefault("__globals_rel", {})
                for f_ in op.fields:
                    if isinstance(f_.expr, Star):
                        continue
                    for n_ in _walk(f_.expr):
                        if not (
                            isinstance(n_, Call)
                            and n_.fn in ("mapadd", "mapset")
                            and isinstance(n_.args[0], Field)
                            and _strip_ns(n_.args[0].path) in gmaps
                        ):
                            continue
                        var = _strip_ns(n_.args[0].path)
                        written_here.add(var)
                        k_n, v_n = n_.args[1], n_.args[2]
                        stateless = all(
                            not (
                                isinstance(x, Call)
                                and (x.fn in AGGS or x.fn in ROW_STATEFUL)
                            )
                            and not (
                                isinstance(x, Field)
                                and _strip_ns(x.path) not in src.columns
                                and "." not in x.path
                                and _strip_ns(x.path).lower()
                                not in ("pi",)
                            )
                            for arg in (k_n, v_n)
                            for x in _walk(arg)
                        )
                        if not stateless:
                            continue
                        comp = Compiler(params)
                        rel = (
                            src.withColumn(
                                "_ord", F.monotonically_increasing_id()
                            )
                            .select(
                                comp.col(k_n).alias("__gm_k"),
                                comp.col(v_n).alias("__gm_v"),
                                "_ord",
                            )
                            .groupBy("__gm_k")
                            .agg(F.max_by("__gm_v", "_ord").alias("__gm_v"))
                        )
                        prev = grels.get(var)
                        if prev is not None:
                            # a later writer overrides overlapping keys
                            rel = (
                                prev.withColumn("_pri", F.lit(0))
                                .unionByName(rel.withColumn("_pri", F.lit(1)))
                                .groupBy("__gm_k")
                                .agg(F.max_by("__gm_v", F.col("_pri")).alias("__gm_v"))
                            )
                        grels[var] = rel
                src, cop = _join_global_map_reads(
                    src, op, params, written_here
                )
            else:
                cop = op
            if use_fold:
                return compile_commit_operation(
                    cop, src, params=params,
                    order_cols=["_tick"] if "_tick" in src.columns else None,
                )
            try:
                return compile_operation(cop, src, params)
            except ValueError as e:
                if "not a GROUP BY key" not in str(e):
                    raise
                # a non-aggregate select field that isn't a key
                # expression (generated alerts: `start + dt AS stop`
                # beside GROUP BY start // dt) needs the general
                # engine's last-row candidate semantics
                return compile_commit_operation(
                    cop, src, params=params,
                    order_cols=["_tick"] if "_tick" in src.columns else None,
                )

        return body

    sub_n = 0
    for d in ast.defines:
        op = d.op
        parents: list[str] = []
        if isinstance(op, Operation):
            resolved_sources: list[str] = []
            for s in op.sources:
                if isinstance(s, str):
                    resolved_sources.append(s)
                else:
                    # anonymous sub-query source → private function
                    sub_n += 1
                    sub_name = f"_sub{sub_n}"
                    prog.define(
                        sub_name,
                        parents=[x for x in (s.sources if isinstance(s, Operation) else []) if isinstance(x, str)],
                    )(make_body(s))
                    resolved_sources.append(sub_name)
            op = replace(op, sources=resolved_sources)
            parents = resolved_sources
        after = sorted(
            {
                w
                for g in _op_global_reads(d.op)
                for w in writers_of.get(g, [])
                if w != d.name
            }
        )
        prog.define(
            d.name, parents=parents, persist_for=d.persist_for, after=after,
            factors=list(getattr(op, "factors", ()) or ()),
        )(make_body(op))
        prog.functions[d.name].op = op
    return prog


# ---------------------------------------------------------------------------
# general COMMIT compilation: RaQL AST → Python fold callbacks
# ---------------------------------------------------------------------------

# Python-side twins of the stateless registry, for per-row evaluation
# inside the general COMMIT engine (only what the fold needs — the
# batch fast path keeps using Spark Columns).
_PY_FNS: dict[str, Any] = {
    "abs": lambda x: abs(x) if x is not None else None,
    "floor": lambda x: math.floor(x) if x is not None else None,
    "ceil": lambda x: math.ceil(x) if x is not None else None,
    "round": lambda x, n=0: round(x, int(n)) if x is not None else None,
    "sqrt": lambda x: math.sqrt(x) if x is not None and x >= 0 else None,
    "length": lambda s: len(s) if s is not None else None,
    "lower": lambda s: s.lower() if s is not None else None,
    "upper": lambda s: s.upper() if s is not None else None,
    "coalesce": lambda *a: next((x for x in a if x is not None), None),
    # GET(i, v): 0-based vector access / record field (doc:607)
    "get": lambda i, v: (
        None
        if v is None
        else (
            v.get(i)
            if isinstance(v, dict)
            else (
                v[int(i)]
                if isinstance(v, (list, tuple)) and 0 <= int(i) < len(v)
                else None
            )
        )
    ),
    "print": lambda *a: a[0],
    "net_cast": lambda x: x,
    "force": lambda x: x,
    "exp": lambda x: math.exp(x) if x is not None else None,
    "sin": lambda x: math.sin(x) if x is not None else None,
    "cos": lambda x: math.cos(x) if x is not None else None,
    "tan": lambda x: math.tan(x) if x is not None else None,
    "asin": lambda x: math.asin(x) if x is not None and -1 <= x <= 1 else None,
    "acos": lambda x: math.acos(x) if x is not None and -1 <= x <= 1 else None,
    "atan": lambda x: math.atan(x) if x is not None else None,
    "sinh": lambda x: math.sinh(x) if x is not None else None,
    "cosh": lambda x: math.cosh(x) if x is not None else None,
    "tanh": lambda x: math.tanh(x) if x is not None else None,
    "log": lambda x: math.log(x) if x is not None and x > 0 else None,
    "log10": lambda x: math.log10(x) if x is not None and x > 0 else None,
    "sq": lambda x: x * x if x is not None else None,
    "age": lambda x: (__import__("time").time() - x) if x is not None else None,
    "basename": lambda s: s.rsplit("/", 1)[-1] if s is not None else None,
    # RELDIFF(a,b) = |a-b| / max(|a|,|b|), 0 when both 0 (doc:511)
    "reldiff": lambda a, b: (
        None
        if a is None or b is None
        else (0.0 if a == b == 0 else abs(a - b) / max(abs(a), abs(b)))
    ),
    "truncate": lambda x, s=1: (
        None if x is None else math.floor(x / s) * s
    ),
    # SUBSTRING: 0-based, negatives from the end, start incl / stop
    # excl (functions.scalar.substring parity, doc/raql/expr.ml:702)
    "substring": lambda s, b, e: (
        None
        if s is None or b is None or e is None
        else s[
            max(len(s) + int(b), 0) if b < 0 else min(int(b), len(s)):
            max(len(s) + int(e), 0) if e < 0 else min(int(e), len(s))
        ]
    ),
}


def _children(node) -> list:
    if isinstance(node, Call):
        return list(node.args)
    if isinstance(node, Unop):
        return [node.e]
    if isinstance(node, Binop):
        return [node.a, node.b]
    if isinstance(node, CaseWhen):
        out = [x for c, v in node.branches for x in (c, v)]
        if node.otherwise is not None:
            out.append(node.otherwise)
        return out
    return []


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


def _contains(node, fns: set[str]) -> bool:
    return any(isinstance(n, Call) and n.fn in fns for n in _walk(node))


def _agg_nodes(node, acc: dict[str, Any], row: dict[str, Any]) -> None:
    """Classify stateful Call sub-nodes, keyed by structural repr
    (shared sub-expressions share one state):

    - ``row``: per-row stateful functions (lag, distinct, latest…) —
      updated once per input row, their current value is readable by
      anything downstream;
    - ``acc``: accumulators (SUM, MIN, GROUP…) whose args contain no
      other accumulator — updated per row after the row-stateful pass.

    An aggregate whose arg CONTAINS an accumulator (``sum group x``,
    ``95th percentile (group h)``, ``fit (latest 2 n)``) is *not*
    registered: it evaluates at finalize time as an Immediate over the
    inner's materialized value (the reference's Immediate lifespan,
    src/raql_expr.type:220)."""
    if isinstance(node, Call):
        if node.fn in ROW_STATEFUL and node.fn != "distinct":
            # inner stateful args step BEFORE this node each row
            for a in node.args:
                _agg_nodes(a, acc, row)
            row.setdefault(repr(node), node)
            return
        if node.fn == "distinct" and node.args and not _is_array_node(node.args[0]):
            row.setdefault(repr(node), node)
            return
        accumulators = AGGS - {"distinct", "fit"}
        # list-VALUED stateful functions: an aggregate over their value
        # is the Immediate form evaluated per use (sum group x, avg
        # (latest 1 n)); scalar-valued nested accumulators BOTH
        # accumulate per row (max(min h) = first h,
        # fun_with_funcs.ramen:7)
        list_valued = {"latest", "oldest", "sample", "past", "group", "top", "largest"}
        if node.fn in accumulators and (
            len(node.args) == 1
            or (node.fn == "histogram" and len(node.args) == 4)
        ):
            if node.args and _is_array_node(node.args[0]):
                # Immediate (array literal operand) — stateless per row
                for a in node.args:
                    _agg_nodes(a, acc, row)
                return
            # inner states register (and thus update) first
            for a in node.args:
                _agg_nodes(a, acc, row)
            if not any(_contains(a, list_valued) for a in node.args):
                acc.setdefault(repr(node), node)
            return
    for a in _children(node):
        _agg_nodes(a, acc, row)


_POISON = object()  # KEEP NULLS: a NULL arg poisons the accumulator


def _py_immediate(fn: str, vals, keep_nulls: bool = False):
    """Immediate (list-operand) aggregation, Python side — the fold
    twin of Compiler._immediate."""
    if vals is None:
        return None
    if not isinstance(vals, (list, tuple)):
        # nested aggregate over a SCALAR inner value (max(min h),
        # fun_with_funcs.ramen:7) — aggregation of one value
        vals = [vals]
    vals = list(vals)
    if keep_nulls and any(v is None for v in vals):
        return None
    vv = [v for v in vals if v is not None]
    if fn == "group":
        return vals
    if fn == "count":
        if vv and all(isinstance(v, bool) for v in vv):
            return sum(1 for v in vv if v)
        return len(vv)
    if not vv:
        return None
    if fn == "sum":
        return sum(vv)
    if fn == "avg":
        return sum(vv) / len(vv)
    if fn == "min":
        return min(vv)
    if fn == "max":
        return max(vv)
    if fn == "first":
        return vv[0]
    if fn == "last":
        return vv[-1]
    if fn == "and_all":
        return all(vv)
    if fn == "or_all":
        return any(vv)
    if fn == "bitand":
        r = -1
        for v in vv:
            r &= int(v)
        return r
    if fn == "bitor":
        r = 0
        for v in vv:
            r |= int(v)
        return r
    if fn == "bitxor":
        r = 0
        for v in vv:
            r ^= int(v)
        return r
    if fn == "count_distinct":
        return len(set(vv))
    if fn == "kmv_distinct":
        # k rides in via the keyword (the _eval call site threads
        # node.opts['k'] through keep_nulls-style plumbing is not
        # available here) — see _py_kmv_immediate
        raise NotImplementedError(
            "kmv_distinct immediate: use _py_kmv_immediate (carries k)"
        )
    raise NotImplementedError(f"immediate {fn}")


def _py_kmv_immediate(vals, k: int):
    """Immediate (list-operand) KMV DISTINCT with the parsed k —
    _py_immediate has no access to node.opts, so the sketch size is
    threaded explicitly from the _eval call site."""
    if vals is None:
        return None
    if not isinstance(vals, (list, tuple)):
        vals = [vals]
    buf: list = []
    for v in vals:
        if v is not None:
            _kmv_insert(buf, _kmv_hash48_py(v), k)
    return _kmv_estimate(buf, k)


def _kmv_hash48_py(v):
    """Python twin of operators.sketch.md5_hash48 (md5 of CAST AS
    STRING, first 12 hex digits as a 48-bit int). String-cast parity
    with Spark is exact for string/integral/boolean values; float
    CAST-AS-STRING differs between engines (Java Double.toString vs
    Python repr), so floats are rejected loudly rather than silently
    diverging from the batch form."""
    import hashlib
    import numbers

    if v is None:
        return None
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        # Spark CAST(bool AS STRING) = 'true'/'false' (numpy bool_
        # from the Arrow fold included)
        s = "true" if bool(v) else "false"
    elif isinstance(v, str):
        s = v
    elif isinstance(v, numbers.Integral):
        s = str(int(v))  # Python int and numpy integer scalars alike
    else:
        raise NotImplementedError(
            "KMV DISTINCT in the COMMIT fold hashes string/integer/"
            "boolean values (float CAST AS STRING is engine-specific); "
            f"CAST the argument first or use the batch grouped form "
            f"(got {type(v).__name__}: {v!r})"
        )
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def _kmv_insert(buf: list, h, k: int) -> None:
    """Bounded sorted-unique insert: keep the k smallest distinct
    hashes (the fold's per-group KMV state — ≤ k ints)."""
    import bisect

    if h is None:
        return
    i = bisect.bisect_left(buf, h)
    if i < len(buf) and buf[i] == h:
        return
    if len(buf) < k:
        buf.insert(i, h)
    elif h < buf[-1]:
        buf.insert(i, h)
        buf.pop()


def _kmv_estimate(buf: list, k: int):
    """The kmv_finalize estimator, Python side: exact while underfull,
    floor((k−1)·2⁴⁸/kth_min) once saturated — same double-arithmetic
    shape as the Catalyst form so results are bit-identical."""
    n = len(buf)
    if n < k:
        return n
    return int(math.floor(float(k - 1) * float(1 << 48) / float(buf[-1])))


def _py_percentile(vals, p):
    """Nearest-rank percentile (CodeGenLib.ml:158-297: index =
    round((n-1)·p/100) of the sorted list)."""
    vv = sorted(v for v in vals if v is not None)
    if not vv:
        return None
    if isinstance(p, list):
        return [_py_percentile(vals, q) for q in p]
    # OCaml round() = round-half-away-from-zero
    idx = int(math.floor((len(vv) - 1) * (float(p) / 100.0) + 0.5))
    return vv[min(idx, len(vv) - 1)]


def _py_fit(obs):
    """FIT step forecast — reference semantics (CodeGenLib.ml:946-1010
    LinReg; see Compiler._immediate_fit for the derivation)."""
    if obs is None:
        return None
    obs = [o for o in obs if o is not None]
    if isinstance(obs[0] if obs else None, (tuple, list)):
        # (y, x1, …, xk) observations — multiple regression, predictors
        # centered on the first observation (CodeGenLib.ml LinReg /
        # MultiLinReg); predicts the LAST observation's y
        if len(obs) < 1:
            return None
        if len(obs) == 1:
            return float(obs[0][0])
        import numpy as np

        arr = np.array([[float(v) for v in o] for o in obs], dtype=float)
        y0, x0 = arr[0, 0], arr[0, 1:]
        body = arr[1:-1]
        # Underdetermined window (regression rows < predictors): the
        # reference's LAPACK gels call raises (the n-value solution
        # cannot fit in the m-row RHS, CodeGenLib.ml:1043-1060) and
        # LinReg.fit maps that to Null — small windows yield NULL, not
        # a wild extrapolation. Mirror that exactly.
        if body.shape[0] < arr.shape[1] - 1:
            return None
        coef, *_ = np.linalg.lstsq(body[:, 1:] - x0, body[:, 0] - y0, rcond=None)
        return float(y0 + (arr[-1, 1:] - x0) @ coef)
    ys = [float(v) for v in obs[:-1]]
    m = len(ys)
    if m < 1:
        return None
    if m == 1:
        return ys[0]
    x_avg = (m - 1) / 2.0
    b1n = sum(y * (i - x_avg) for i, y in enumerate(ys))
    b1d = sum((i - x_avg) ** 2 for i in range(m))
    return ys[-1] + b1n / b1d


def _freeze(v):
    """Hashable view of a fold value (DISTINCT/REMEMBER keys may be
    struct/array-valued, e.g. DISTINCT ip over the sum struct)."""
    if isinstance(v, dict):
        return tuple((k, _freeze(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    return v


def _py_net_cast(v, kind: str | None):
    """Network type-call in the fold. The GENERIC `ip` is the sum type
    struct<version, v4, v6> (src/raql_type.ml:34-40 Ip; SURVEY §1.2):
    ints < 2^32 are v4, larger ints and 16-byte binaries are v6."""
    if v is None:
        return None
    if kind == "ip":
        if isinstance(v, dict):  # already generic
            return v
        if isinstance(v, (bytes, bytearray)):
            return {"version": 6, "v4": None, "v6": bytes(v)}
        iv = int(v)
        if iv < (1 << 32):
            return {"version": 4, "v4": iv, "v6": None}
        return {"version": 6, "v4": None, "v6": iv.to_bytes(16, "big")}
    if kind == "ip6":
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return int(v).to_bytes(16, "big")
    if kind in ("ip4", "eth"):
        return int(v)
    return v  # cidr casts pass through their struct encodings


def _py_cast(v, ts: "TypeSpec"):
    if v is None:
        return None
    if isinstance(v, dict) and "version" in v:
        # generic ip sum struct → its numeric address value
        v = v.get("v4") if v.get("version") == 4 else int.from_bytes(v["v6"], "big")
    if ts.vec_dim is not None or ts.is_arr:
        elem = TypeSpec(ts.name, ts.nullable)
        return [_py_cast(x, elem) for x in v]
    n = ts.name
    if n in _INT_TYPES:
        bits = int(n[1:])
        i = int(v)
        i %= 1 << bits
        if n.startswith("i") and i >= 1 << (bits - 1):
            i -= 1 << bits
        return i
    if n == "float":
        return float(v)
    if n == "string":
        return str(v)
    if n in ("bool", "boolean"):
        return bool(v)
    if n == "char":
        return str(v)[:1]
    raise ValueError(n)


class _Fold:
    """Per-row evaluator with the reference's namespaces
    (src/raql_variable.type): ``in`` = current input row, ``out`` =
    candidate output being built, ``previous``/``local_last`` = the
    group's last committed output; plus the group's accumulators and
    row-stateful function states (lag/latest/distinct/…)."""

    def __init__(
        self,
        op: "Operation",
        params: dict[str, Any] | None,
        sequential: bool = False,
    ):
        self.op = op
        # __globals_rel holds driver-side DataFrames (the global-map
        # write relations) — never ship them into the worker closure
        self.params = {
            k: v for k, v in (params or {}).items() if k != "__globals_rel"
        }
        # sequential mode: the whole stream folds as ONE ordered group
        # (the reference's single worker loop) because some expression
        # reads global_last_out — cross-group state. Group-scoped
        # namespaces (previous/local_last_out) and row-states are then
        # keyed internally by the GROUP BY value; `previous` becomes
        # the global last output. Explicitly the non-distributed slow
        # path (previous.ramen is its spec).
        self.sequential = sequential
        self.group_nodes = list(op.group_by) if sequential else []
        self._seq_prev: dict = {}
        # RANDOM draws come from one per-run stream so program output is
        # reproducible (the reference draws from the worker's own PRNG;
        # any uniform stream satisfies the spec — a fixed seed makes the
        # func-corpus specs deterministic instead of coin-flips)
        import random as _random

        self._rng = _random.Random(0x5A17)
        aggs: dict[str, Any] = {}
        rows: dict[str, Any] = {}
        for f_ in op.fields:
            if not isinstance(f_.expr, Star):
                _agg_nodes(f_.expr, aggs, rows)
        if op.commit_after is not None:
            _agg_nodes(op.commit_after, aggs, rows)
        # WHERE row-stateful states update for EVERY input row (before
        # the filter decides); select-field states update only for
        # passing rows (reference aggregate_one order,
        # src/CodeGenLib_Skeletons.ml:612-760)
        self.where_rows: dict[str, Any] = {}
        if op.where is not None:
            _agg_nodes(op.where, {}, self.where_rows)
        self.agg_keys = list(aggs)
        self.agg_defs = aggs
        self.row_defs = rows
        self.out_names = [
            f_.alias or _default_name(f_.expr, i) for i, f_ in enumerate(op.fields)
        ]
        # resolved event-time start expression for DERIVE/ONCE EVERY/
        # PAST (out-field refs inlined to their definitions so the
        # per-row step can evaluate them against the input row)
        self.start_node = None
        if op.event_time is not None:
            sn, _ = _event_time_nodes(op.event_time)
            defs = {
                (f_.alias or _default_name(f_.expr, i)): f_.expr
                for i, f_ in enumerate(op.fields)
                if not isinstance(f_.expr, Star)
            }

            def sub(n):
                if isinstance(n, Field) and n.path.startswith("out."):
                    nm = n.path[4:]
                    if nm in defs:
                        return defs[nm]
                    return n
                if isinstance(n, Binop):
                    return Binop(n.op, sub(n.a), sub(n.b))
                if isinstance(n, Unop):
                    return Unop(n.op, sub(n.e))
                if isinstance(n, Call):
                    return Call(n.fn, [sub(a) for a in n.args], n.opts)
                return n

            self.start_node = sub(sn)

    # -- state ------------------------------------------------------------
    def init_state(self) -> dict:
        return (
            {k: None for k in self.agg_keys}
            | {"__n": 0, "__rs": {}, "__rv": {}}
        )

    def _gkey(self, row):
        return tuple(
            self._eval(k, row, None, None, None) for k in self.group_nodes
        )

    # row-stateful update: compute this row's value, advance the state
    def _row_step(self, node: Call, rs: dict, row, state, previous) -> Any:
        key = repr(node)
        if self.sequential and node.opts.get("lifespan") != "global":
            # group-scoped state inside the single sequential fold
            key = (key, self._gkey(row))
        fn = node.fn
        ev = lambda a: self._eval(a, row, state, previous, None)  # noqa: E731
        if fn == "lag":
            k = int(ev(node.args[0])) if len(node.args) == 2 else 1
            x = ev(node.args[-1])
            buf = rs.setdefault(key, [])
            val = buf[0] if len(buf) == k else None
            buf.append(x)
            if len(buf) > k:
                buf.pop(0)
            return val
        if fn == "distinct":
            x = _freeze(ev(node.args[0]))
            seen = rs.setdefault(key, set())
            novel = x not in seen
            seen.add(x)
            return novel
        if fn in ("remember", "recall"):
            # REMEMBER/RECALL (fpr, dur, e [, tim]) — sliding-duration
            # membership (CodeGenLib.ml:386-423 Remember + sliced bloom
            # filter; exact set here). REMEMBER refreshes the entry's
            # clock on every sighting; RECALL keeps the first.
            dur = float(ev(node.args[1]))
            x = ev(node.args[2])
            tim = (
                float(ev(node.args[3]))
                if len(node.args) > 3
                else float(self._eval(Field("#start"), row, state, previous, None) or 0.0)
            )
            kx = repr(x)
            mem = rs.setdefault(key, {})
            t_rec = mem.get(kx)
            present = t_rec is not None and tim - t_rec < dur
            if fn == "remember" or not present:
                mem[kx] = tim
            return present
        if fn in ("latest", "oldest"):
            n = int(ev(node.args[0]))
            x = ev(node.args[-1])
            buf = rs.setdefault(key, [])
            if x is not None or node.opts.get("keep_nulls"):
                # SKIP NULLS default: null inputs don't consume a slot
                # (last.ramen win2, groups.ramen)
                if fn == "latest":
                    buf.append(x)
                    if len(buf) > n:
                        buf.pop(0)
                elif len(buf) < n:
                    buf.append(x)
            return list(buf)
        if fn == "moveavg":
            # average of the k values BEFORE the current one
            # (moveavg.ramen:8 'does not consider the last value';
            # CodeGenLib seasonal note)
            k = int(ev(node.args[0])) if len(node.args) == 2 else 1
            x = ev(node.args[-1])
            buf = rs.setdefault(key, [])
            vv = [v for v in buf if v is not None]
            val = sum(vv) / len(vv) if vv else None
            if x is not None or node.opts.get("keep_nulls"):
                buf.append(x)
                if len(buf) > k:
                    buf.pop(0)
            return val
        if fn == "season_moveavg":
            p = int(ev(node.args[0]))
            k = int(ev(node.args[1]))
            x = ev(node.args[2])
            hist = rs.setdefault(key, [])
            picks = [hist[-p * i] for i in range(1, k + 1) if p * i <= len(hist)]
            picks = [v for v in picks if v is not None]
            val = sum(picks) / len(picks) if picks else None
            hist.append(x)
            if len(hist) > p * k:
                hist.pop(0)
            return val
        if fn == "smooth":
            alpha = float(ev(node.args[0])) if len(node.args) == 2 else 0.5
            x = ev(node.args[-1])
            prev = rs.get(key)
            if x is None and not node.opts.get("keep_nulls"):
                # skip-nulls default: state unchanged, emit current
                # (baseline.ramen: SMOOTH over a mostly-NULL percentile)
                return prev
            val = x if prev is None else (alpha * x + (1 - alpha) * prev)
            rs[key] = val
            return val
        if fn == "sample":
            # SAMPLE (n, x) — reservoir of the last-committed window
            # (doc:870; reference uses its RNG — any uniform reservoir
            # satisfies the contract, seeded for determinism)
            import random as _random

            n = int(ev(node.args[0]))
            x = ev(node.args[-1])
            st_ = rs.setdefault(key, {"buf": [], "seen": 0, "rng": _random.Random(0x5A17)})
            keep = node.opts.get("keep_nulls", False)
            if x is not None or keep:
                st_["seen"] += 1
                if len(st_["buf"]) < n:
                    st_["buf"].append(x)
                else:
                    j = st_["rng"].randrange(st_["seen"])
                    if j < n:
                        st_["buf"][j] = x
            # an empty reservoir is NULL, not [] (sample.ramen:7)
            return list(st_["buf"]) if st_["buf"] else None
        if fn == "derive":
            # DERIVE x — dx/dt against event time #start (doc: derive;
            # derive.ramen dx = 3 for start += 1, x = 3*start)
            t = self._event_start(row, state, previous)
            x = ev(node.args[-1])
            prev = rs.get(key)
            val = None
            if x is None and node.opts.get("keep_nulls"):
                rs[key] = None  # poison the pair — next point restarts
                return None
            if x is not None and t is not None:
                if prev is not None and t != prev[0]:
                    val = (x - prev[1]) / (t - prev[0])
                rs[key] = (t, x)
            return val
        if fn == "one_out_of":
            # value every nth input, NULL otherwise (doc:879)
            n = int(ev(node.args[0]))
            i = rs.get(key, 0)
            rs[key] = i + 1
            return ev(node.args[1]) if i % n == 0 else None
        if fn == "once_every":
            # time-based ONE OUT OF on #start (doc:908): tumbling =
            # aligned windows, sliding = at least d since last emission
            d = node.opts["d"]
            d = float(d) if isinstance(d, (int, float)) else float(ev(d))
            t = self._event_start(row, state, previous)
            if t is None:
                return None
            last = rs.get(key)
            if node.opts.get("tumbling"):
                fire = last is None or int(t // d) != int(last // d)
            else:
                fire = last is None or t - last >= d
            if fire:
                rs[key] = t
                return ev(node.args[0])
            return None
        if fn == "past":
            # values of x whose time is within the last d seconds
            # (raql_expr.type Past; sliding unless TUMBLING); SAMPLE n
            # bounds the buffer with a seeded reservoir (sample_size)
            d = node.opts["d"]
            d = float(d) if isinstance(d, (int, float)) else float(ev(d))
            tnode = node.opts.get("time")
            t = (
                ev(tnode)
                if tnode is not None
                else self._event_start(row, state, previous)
            )
            x = ev(node.args[0])
            keep = node.opts.get("keep_nulls", False)
            buf = rs.setdefault(key, [])
            if node.opts.get("tumbling"):
                # Reference tumbling (CodeGenLib.ml:629-678 Past): when
                # the incoming t falls in a different int(t/max_age)
                # bucket than the buffer, the buffer FLUSHES and the
                # completed window is this row's value; mid-bucket rows
                # yield NULL. int() truncates toward zero like OCaml's
                # int_of_float (negative pre-1970 starts, past.ramen).
                final = None
                if buf and t is not None:
                    t0 = min(e_[0] for e_ in buf if e_[0] is not None)
                    if int(t / d) != int(t0 / d):
                        final = [
                            v
                            for _, v in sorted(
                                (e_ for e_ in buf if e_[0] is not None),
                                key=lambda e_: e_[0],
                            )
                        ]
                        buf.clear()
                if x is not None or keep:
                    buf.append((t, x))
                return final
            if x is not None or keep:
                buf.append((t, x))
            if t is not None:
                buf[:] = [e_ for e_ in buf if e_[0] is not None and e_[0] > t - d]
            n_samp = node.opts.get("sample")
            if n_samp is not None and len(buf) > n_samp:
                import random as _random

                idx = sorted(
                    _random.Random(0x5A17 ^ len(buf)).sample(range(len(buf)), n_samp)
                )
                return [buf[i][1] for i in idx]
            return [v for _, v in buf]
        if fn == "fit_multi":
            # FIT_MULTI (n, y, x1…) — MultiLinReg (CodeGenLib.ml:
            # 865-905): plain least squares y ≈ X·c over ALL buffered
            # observations (current included, no origin shift, no
            # intercept), prediction from the CURRENT row's predictors;
            # a failed solve (fewer rows than predictors → gels raise)
            # yields 0., not NULL.
            n = int(ev(node.args[0]))
            vals = [ev(a) for a in node.args[1:]]
            obs = (
                tuple(float(v) for v in vals)
                if all(v is not None for v in vals)
                else None
            )
            buf = rs.setdefault(key, [])
            buf.append(obs)
            if len(buf) > n:
                buf.pop(0)
            import numpy as np

            valid = [o for o in buf if o is not None]
            if not valid or obs is None:
                return 0.0
            k = len(valid[0]) - 1
            if len(valid) < k:
                return 0.0  # underdetermined: gels raises → 0.
            X = np.array([o[1:] for o in valid], dtype=float)
            y = np.array([o[0] for o in valid], dtype=float)
            coef, *_ = np.linalg.lstsq(X, y, rcond=None)
            return float(np.dot(np.array(obs[1:], dtype=float), coef))
        if fn in ("is_in_top", "rank_in_top"):
            # per-row: insert x into the running top state, then test
            # membership / rank (raql_expr.type:319-323; exact weights,
            # not the bounded sketch)
            x = ev(node.args[0])
            if isinstance(x, list):
                x = tuple(x)  # vector item key (IS [src;dst] IN TOP n)
            wnode = node.opts.get("by")
            w = 1 if wnode is None else ev(wnode)
            d = rs.setdefault(key, {})
            dur = node.opts.get("duration")
            if dur is not None:
                # FOR [THE LAST] dur: exponential decay with half-life
                # dur against the AT TIME clock (HeavyHitters.ml decay;
                # exact per-item weights, not the bounded sketch)
                dur = float(dur) if isinstance(dur, (int, float)) else float(ev(dur))
                tnode = node.opts.get("time")
                t = (
                    ev(tnode)
                    if tnode is not None
                    else self._event_start(row, state, previous)
                )
                if t is not None and x is not None and w is not None:
                    prev_w, prev_t = d.get(x, (0.0, t))
                    decayed = prev_w * 2.0 ** (-(t - prev_t) / dur)
                    d[x] = (decayed + w, t)
                # decay every entry to 'now' for comparable weights
                if t is not None:
                    d2 = {
                        k_: v_[0] * 2.0 ** (-(t - v_[1]) / dur)
                        for k_, v_ in d.items()
                    }
                else:
                    d2 = {k_: v_[0] for k_, v_ in d.items()}
                top = _Fold._top_entries(
                    d2, int(node.opts["n"]), float(node.opts.get("sigmas", 0) or 0)
                )
                if fn == "is_in_top":
                    return x in top
                return top.index(x) + 1 if x in top else None
            if x is not None and w is not None:
                d[x] = d.get(x, 0) + w
            top = _Fold._top_entries(
                d, int(node.opts["n"]), float(node.opts.get("sigmas", 0) or 0)
            )
            if fn == "is_in_top":
                return x in top
            # rank: 1-based, heaviest first (operators.topk convention;
            # the reference's HeavyHitters.rank counts lightest-first —
            # an iteration-order quirk no test pins down)
            return top.index(x) + 1 if x in top else None
        if fn == "hysteresis":
            # Schmitt trigger (doc/raql/expr.ml:894, CodeGenLib.ml:
            # 506-513) — operands may be per-row expressions (baseline
            # thresholds); NULLs leave the state untouched and yield
            # NULL (generated alerts COALESCE it to healthy)
            x = ev(node.args[0])
            accept = ev(node.args[1])
            maximum = ev(node.args[2])
            ok = rs.get(key, True)
            if x is None or accept is None or maximum is None:
                return None
            rising = maximum >= accept
            if ok:
                ok = (x <= maximum) if rising else (x >= maximum)
            else:
                ok = (x <= accept) if rising else (x >= accept)
            rs[key] = bool(ok)
            return bool(ok)
        raise NotImplementedError(
            f"row-stateful {fn} in the COMMIT fold (see operators.series)"
        )

    def _event_start(self, row, state, previous):
        node = self.start_node if self.start_node is not None else Field("#start")
        return self._eval(node, row, state, previous, None)

    def update_where(self, state: dict, row: dict, previous) -> bool:
        """Advance WHERE-clause stateful functions and evaluate the
        filter; runs for every input row."""
        state["__vmemo"] = {}  # new row → fresh volatile (RANDOM) draws
        state["__vw"] = True
        rs = state["__rs"]
        rv = state["__rv"]
        for key, node in self.where_rows.items():
            rv[key] = self._row_step(node, rs, row, state, previous)
        if self.op.where is None:
            return True
        return self._eval(self.op.where, row, state, previous, None) is True

    def update(self, state: dict, row: dict) -> None:
        if not state.pop("__vw", False):
            # no WHERE ran for this row — start its volatile-draw memo
            # here (see the RANDOM case in _eval)
            state["__vmemo"] = {}
        state["__n"] += 1
        state["__last_row"] = row
        rs = state["__rs"]
        rv = state["__rv"]
        # the engine stashes the group's last committed output here so
        # per-row steps can read the previous/local_last namespace
        # (derive.ramen: previous.start inside DERIVE's argument)
        prev = state.get("__prev_out")
        for key, node in self.row_defs.items():
            rv[key] = self._row_step(node, rs, row, state, prev)
        for k in self.agg_keys:
            node = self.agg_defs[k]
            cur = state[k]
            if cur is _POISON:
                continue
            arg = self._eval(node.args[0], row, state, prev, None)
            fn = node.fn
            if node.opts.get("keep_nulls") and arg is None:
                # KEEP NULLS: a NULL argument nullifies the aggregate —
                # including COUNT (count.test: num_eco_cars_nullable
                # NULL when any CO2 is NULL)
                state[k] = _POISON
                continue
            if fn == "count":
                inc = int(bool(arg)) if isinstance(arg, bool) else (0 if arg is None else 1)
                state[k] = (cur or 0) + inc
            elif arg is None:
                continue  # SKIP NULLS default (SURVEY §2.4)
            elif fn == "sum":
                state[k] = arg if cur is None else cur + arg
            elif fn == "min":
                state[k] = arg if cur is None or arg < cur else cur
            elif fn == "max":
                state[k] = arg if cur is None or arg > cur else cur
            elif fn == "first":
                state[k] = arg if cur is None else cur
            elif fn == "last":
                state[k] = arg
            elif fn == "avg":
                s, n = cur or (0.0, 0)
                state[k] = (s + arg, n + 1)
            elif fn == "group":
                state[k] = (cur or []) + [arg]
            elif fn == "and_all":
                state[k] = bool(arg) if cur is None else (cur and bool(arg))
            elif fn == "or_all":
                state[k] = bool(arg) if cur is None else (cur or bool(arg))
            elif fn == "bitand":
                state[k] = int(arg) if cur is None else cur & int(arg)
            elif fn == "bitor":
                state[k] = int(arg) if cur is None else cur | int(arg)
            elif fn == "bitxor":
                state[k] = int(arg) if cur is None else cur ^ int(arg)
            elif fn == "count_distinct":
                s = cur if isinstance(cur, set) else set()
                s.add(arg)
                state[k] = s
            elif fn == "top":
                # running weights per contributor (HeavyHitters.ml add;
                # exact, not the bounded sketch). Decayed form is
                # operators.topk.decayed_top — not a batch fold
                if node.opts.get("duration") is not None:
                    raise NotImplementedError(
                        "TOP … FOR THE LAST d in the COMMIT fold: use "
                        "operators.topk.decayed_top"
                    )
                wnode = node.opts.get("by")
                w = 1 if wnode is None else self._eval(wnode, row, state, prev, None)
                if w is not None:
                    d = cur if isinstance(cur, dict) else {}
                    d[arg] = d.get(arg, 0) + w
                    state[k] = d
            elif fn == "histogram":
                lo, hi, nb = (float(a.value) for a in node.args[1:])
                nb = int(nb)
                counts = cur if isinstance(cur, list) else [0] * (nb + 2)
                v_ = float(arg)
                if v_ < lo:
                    i_ = 0
                elif v_ >= hi:
                    i_ = nb + 1
                else:
                    i_ = int((v_ - lo) / ((hi - lo) / nb)) + 1
                counts[i_] += 1
                state[k] = counts
            elif fn == "largest":
                lst = cur if isinstance(cur, list) else []
                by_nodes = node.opts.get("by") or []
                by_vals = tuple(
                    self._eval(b, row, state, prev, None) for b in by_nodes
                )
                lst.append((by_vals, state["__n"], arg))
                state[k] = lst
            elif fn == "kmv_distinct":
                # bounded sketch state: the k smallest distinct md5-48
                # hashes (value-identical to operators.sketch.kmv_prune
                # — the always-on twin of the batch grouped rewrite)
                buf = cur if isinstance(cur, list) else []
                _kmv_insert(buf, _kmv_hash48_py(arg), int(node.opts.get("k", 256)))
                state[k] = buf
            else:
                raise NotImplementedError(f"aggregate {fn} in COMMIT fold")

    @staticmethod
    def _top_entries(d: dict, n: int, sigmas: float) -> list:
        """Contributors by weight desc (stable → first-seen order on
        ties), noise-filtered per ABOVE s SIGMAS
        (HeavyHitters.ml:193-210 cutoff: w ≥ mean + s·σ of weights)."""
        items = sorted(d.items(), key=lambda kv: -kv[1])
        if sigmas > 0 and d:
            ws = list(d.values())
            mean = sum(ws) / len(ws)
            sd = max(sum(w * w for w in ws) / len(ws) - mean * mean, 0.0) ** 0.5
            items = [(x, w) for x, w in items if w >= mean + sigmas * sd]
        return [x for x, _ in items[:n]]

    def _agg_value(self, state: dict, key: str):
        v = state[key]
        if v is _POISON:
            return None
        fn = self.agg_defs[key].fn
        if fn == "avg" and v is not None:
            s, n = v
            return s / n if n else None
        if fn == "count" and v is None:
            return 0
        if fn == "histogram" and v is None:
            node = self.agg_defs[key]
            return [0] * (int(node.args[3].value) + 2)
        if fn == "top":
            node = self.agg_defs[key]
            if not isinstance(v, dict):
                return []
            return self._top_entries(
                v, int(node.opts["n"]), float(node.opts.get("sigmas", 0) or 0)
            )
        if fn == "largest":
            node = self.agg_defs[key]
            if not isinstance(v, list):
                return None if not node.opts.get("up_to") else []
            n = int(node.opts["n"])
            but = int(node.opts.get("but", 0))
            inv = bool(node.opts.get("smallest"))
            if node.opts.get("by"):
                ordered = sorted(v, key=lambda t: t[0], reverse=not inv)
            else:
                # arrival order: LARGEST = most recent first,
                # SMALLEST = oldest first (GREATEST BY SUM GLOBALLY 1)
                ordered = sorted(v, key=lambda t: t[1], reverse=not inv)
            picked = [x for _, _, x in ordered[but:but + n]]
            if len(picked) < n and not node.opts.get("up_to"):
                return None  # strict form: NULL until n entries exist
            return picked
        if fn == "count_distinct":
            return len(v) if isinstance(v, set) else 0
        if fn == "kmv_distinct":
            node = self.agg_defs[key]
            return _kmv_estimate(
                v if isinstance(v, list) else [],
                int(node.opts.get("k", 256)),
            )
        return v

    # -- expression evaluation --------------------------------------------
    def _eval(self, node, row, state, previous, out_partial):
        if isinstance(node, Lit):
            return node.value
        if isinstance(node, Field):
            path = node.path
            if path.startswith("param."):
                return self.params[path[len("param."):]]
            low = _strip_ns(path).lower()
            if path in ("#start", "#stop"):
                # unresolved virtual event-time field (no EVENT clause):
                # start/stop column convention
                return row.get(path[1:]) if row is not None else None
            if path.startswith(("out.",)):
                name = path[4:]
                if out_partial is not None and name in out_partial:
                    return out_partial[name]
                raise KeyError(f"out.{name} referenced before it is built")
            if path.startswith(
                ("previous.", "local_last_out.", "local_last.")
            ):
                name = path.split(".", 1)[1]
                if self.sequential:
                    g = self._seq_prev.get(self._gkey(row))
                    return g.get(name) if g is not None else None
                return previous.get(name) if previous is not None else None
            if path.startswith(("global_last_out.", "global_last.")):
                # last output of ANY group (RamenVariable.ml:39
                # GlobalLastOut) — in sequential mode `previous` is
                # exactly that; grouped folds only see it when there is
                # a single group (compile forces sequential otherwise)
                name = path.split(".", 1)[1]
                return previous.get(name) if previous is not None else None
            if row is not None and _strip_ns(path) in row:
                return row[_strip_ns(path)]
            gmaps = self.params.get("__globals")
            if gmaps is not None and _strip_ns(path) in gmaps:
                # global map variable (DECLARE …, globals_function.ramen)
                return gmaps[_strip_ns(path)]
            if low == "pi":
                return math.pi
            if low == "random":
                # One draw per RANDOM occurrence per input row: after
                # _inline_select_refs the SAME node object appears both
                # in a stateful argument (stepped during update) and in
                # the select field (evaluated at finalize) — the
                # reference builds the output tuple once, so state and
                # output must see the SAME value (fit.ramen f2: the
                # LATEST buffer must hold the emitted z/preds).
                vm = state.get("__vmemo") if state is not None else None
                if vm is None:
                    return self._rng.random()
                key = id(node)
                if key not in vm:
                    vm[key] = self._rng.random()
                return vm[key]
            if low == "now":
                # YIELD frames carry a virtual clock advancing EVERY
                # seconds per tick (see compile_program tick frame)
                if row is not None and row.get("_now") is not None:
                    return row["_now"]
                import time as _time

                return _time.time()
            if _strip_ns(path) in self.params:
                return self.params[_strip_ns(path)]
            raise KeyError(
                f"unknown field {path!r} in COMMIT fold "
                f"(row keys: {sorted(row) if row is not None else None})"
            )
        if isinstance(node, Call) and state is not None:
            key = repr(node)
            if key in self.agg_defs:
                return self._agg_value(state, key)
            if key in self.row_defs or key in self.where_rows:
                return state["__rv"].get(key)
        if isinstance(node, Unop):
            v = self._eval(node.e, row, state, previous, out_partial)
            if node.op == "not":
                return None if v is None else (not v)
            if node.op in ("-", "neg"):
                return None if v is None else -v
            if node.op == "is_null":
                return v is None
            raise NotImplementedError(f"unop {node.op}")
        if isinstance(node, Binop):
            if node.op in ("and", "or"):
                a = self._eval(node.a, row, state, previous, out_partial)
                b = self._eval(node.b, row, state, previous, out_partial)
                if node.op == "and":
                    return False if (a is False or b is False) else (None if None in (a, b) else (a and b))
                return True if (a is True or b is True) else (None if None in (a, b) else (a or b))
            a = self._eval(node.a, row, state, previous, out_partial)
            b = self._eval(node.b, row, state, previous, out_partial)
            if a is None or b is None:
                return None
            if node.op == "index":
                if isinstance(a, dict):
                    # global map read: var["key"]
                    # (src/RamenGlobalVariables.ml)
                    return a.get(b)
                i_ = int(b)
                return a[i_] if isinstance(a, (list, tuple)) and 0 <= i_ < len(a) else None
            if node.op == "in":
                # membership: array/vector, substring, IP-in-CIDR
                # (doc:626)
                if isinstance(b, str):
                    return a in b
                if isinstance(b, (list, tuple)):
                    return a in b
                if isinstance(b, dict) and "mask" in b:
                    av = a
                    if isinstance(av, dict):
                        av = (
                            av.get("v4")
                            if av.get("version") == 4
                            else int.from_bytes(av["v6"], "big")
                        )
                    if isinstance(av, (bytes, bytearray)):
                        av = int.from_bytes(av, "big")
                    addr = b.get("addr", b.get("addr4"))
                    bits = 32
                    if addr is None and b.get("addr6") is not None:
                        addr = int.from_bytes(b["addr6"], "big")
                        bits = 128
                    if isinstance(addr, (bytes, bytearray)):
                        addr = int.from_bytes(addr, "big")
                        bits = 128
                    shift = bits - int(b["mask"])
                    return (int(av) >> shift) == (int(addr) >> shift)
                return None
            return {
                "+": lambda: a + b, "-": lambda: a - b, "*": lambda: a * b,
                "/": lambda: None if b == 0 else a / b,
                "//": lambda: math.floor(a / b) if b else None,
                # dividend-sign mod (reference doc/raql/expr.ml:485)
                "%": lambda: None if b == 0 else (
                    int(math.fmod(a, b))
                    if isinstance(a, int) and isinstance(b, int)
                    else math.fmod(a, b)
                ),
                "^": lambda: a ** b,
                "&": lambda: int(a) & int(b),
                "|": lambda: int(a) | int(b),
                "#": lambda: int(a) ^ int(b),
                "<<": lambda: int(a) << int(b),
                ">>": lambda: int(a) >> int(b),
                ">": lambda: a > b, ">=": lambda: a >= b,
                "<": lambda: a < b, "<=": lambda: a <= b,
                "=": lambda: a == b, "!=": lambda: a != b, "<>": lambda: a != b,
                "||": lambda: str(a) + str(b),
                # LIKE: %/_ wildcards, \ escape; reference default is
                # case-INSENSITIVE (RamenExpr.ml:1061, Globs.ml:142)
                "like": lambda: re.fullmatch(
                    _like_regex(str(b)), str(a), re.IGNORECASE | re.DOTALL
                ) is not None,
                "like_cs": lambda: re.fullmatch(
                    _like_regex(str(b)), str(a), re.DOTALL
                ) is not None,
                "starts_with": lambda: str(a).startswith(str(b)),
                "ends_with": lambda: str(a).endswith(str(b)),
            }[node.op]()
        if isinstance(node, CaseWhen):
            for c, v in node.branches:
                cv = self._eval(c, row, state, previous, out_partial)
                if cv is None:
                    # NULL condition → NULL case (reference null_map,
                    # CodeGen_RaQL2DIL.ml:813-824), no ELSE fallthrough
                    return None
                if cv is True:
                    return self._eval(v, row, state, previous, out_partial)
            return (
                self._eval(node.otherwise, row, state, previous, out_partial)
                if node.otherwise is not None
                else None
            )
        if isinstance(node, Call):
            ev = lambda a: self._eval(a, row, state, previous, out_partial)  # noqa: E731
            if node.fn == "_array":
                return [ev(a) for a in node.args]
            if node.fn == "_tuple":
                return tuple(ev(a) for a in node.args)
            if node.fn == "_record":
                return dict(zip(node.opts["names"], (ev(a) for a in node.args)))
            if node.fn == "get_ord":
                v = ev(node.args[0])
                if v is None:
                    return None
                i = int(node.opts["i"]) - 1
                if isinstance(v, dict):
                    v = list(v.values())
                return v[i] if 0 <= i < len(v) else None
            if node.fn == "cast":
                return _py_cast(ev(node.args[0]), node.opts["to"])
            if node.fn == "net_cast":
                return _py_net_cast(ev(node.args[0]), node.opts.get("kind"))
            if node.fn == "variant":
                exps = self.params.get("__experiments") or {}
                v = self._eval(node.args[0], row, state, previous, out_partial)
                return exps.get(str(v)) if v is not None else None
            if node.fn in ("mapadd", "mapset"):
                # MAPADD(var, k, v) — write into the shared map
                # (CodeGenLib.ml:1195-1210; within one fold task the
                # map is task-local, which covers same-function reads)
                m = ev(node.args[0])
                k = ev(node.args[1])
                v = ev(node.args[2])
                if isinstance(m, dict):
                    m[k] = v
                return v
            if node.fn == "percentile_of":
                p = ev(node.args[0])
                return _py_percentile(ev(node.args[1]) or [], p)
            if node.fn == "countrycode":
                ranges = (self.params or {}).get("__geoip_ranges")
                if not ranges:
                    raise NotImplementedError(
                        "COUNTRYCODE in the fold needs "
                        "params['__geoip_ranges']"
                    )
                v = ev(node.args[0])
                if isinstance(v, dict):  # generic ip sum struct
                    v = v.get("v4") if v.get("version") == 4 else v.get("v6")
                if v is None:
                    return None
                import bisect

                if isinstance(v, (bytes, bytearray)):  # IPv6 lane
                    rs6 = sorted(
                        (self.params or {}).get("__geoip_ranges6") or []
                    )
                    x = int.from_bytes(bytes(v), "big")
                    i = bisect.bisect_right([r[0] for r in rs6], x) - 1
                    if i >= 0 and x <= rs6[i][1]:
                        return rs6[i][2]
                    return None
                rs = sorted(ranges)
                i = bisect.bisect_right([r[0] for r in rs], int(v)) - 1
                if i >= 0 and int(v) <= rs[i][1]:
                    return rs[i][2]
                return None
            if node.fn == "fit":
                return _py_fit(ev(node.args[0]))
            if node.fn in AGGS and len(node.args) == 1:
                # Immediate aggregate over a materialized list
                # (``sum group x``, ``avg (latest 2 n)``…)
                if node.fn == "kmv_distinct":
                    return _py_kmv_immediate(
                        ev(node.args[0]), int(node.opts.get("k", 256))
                    )
                return _py_immediate(
                    node.fn, ev(node.args[0]), node.opts.get("keep_nulls", False)
                )
            if node.fn in ("min", "max") and len(node.args) > 1:
                vals = [ev(a) for a in node.args]
                if any(v is None for v in vals):
                    return None
                return min(vals) if node.fn == "min" else max(vals)
            fn = _PY_FNS.get(node.fn)
            if fn is None:
                raise NotImplementedError(f"stateless fn {node.fn} in COMMIT fold")
            return fn(*[ev(a) for a in node.args])
        if isinstance(node, NetLit):
            # numeric encodings (SURVEY §1.2): ip4/eth int, ip6 16-byte
            # bytes, cidr (addr, mask) pair
            if node.kind in ("ip4", "eth"):
                return int(node.value)
            if node.kind == "ip6":
                return int(node.value).to_bytes(16, "big")
            if node.kind in ("cidr4", "cidr6"):
                addr, mask = node.value
                if node.kind == "cidr6":
                    return {"addr": int(addr).to_bytes(16, "big"), "mask": int(mask)}
                return {"addr": int(addr), "mask": int(mask)}
        raise NotImplementedError(f"node {type(node).__name__}")

    # -- engine callbacks --------------------------------------------------
    def finalize(self, state, row, previous):
        # the candidate output is built ONCE per input row (reference
        # updates minimal_out in the group state): commit_cond and the
        # engine's emission must see the SAME tuple even when fields
        # are volatile (RANDOM in changed.ramen/min_max.ramen)
        memo = state.get("__fin")
        mkey = (state.get("__n"), id(row))
        if memo is not None and memo[0] == mkey:
            return memo[1]
        out: dict[str, Any] = {}
        for name, f_ in zip(self.out_names, self.op.fields):
            out[name] = self._eval(f_.expr, row, state, previous, out)
        # keep PRIVATE (_-prefixed) fields: commit conditions and the
        # previous namespace read them (comms.ramen COMMIT AFTER
        # _my_s % 10 = 0; hosts.ramen _user - previous._user) — the
        # engine drops them at emission against the output schema
        res = dict(out)
        state["__fin"] = (mkey, res)
        if self.sequential:
            # record per-group last output (local_last_out namespace)
            self._seq_prev[self._gkey(row)] = res
        return res

    def commit_cond(self, state, row, previous):
        # only build the candidate output when the condition reads it
        if not hasattr(self, "_refs_out"):
            self._refs_out = any(
                isinstance(n, Field) and n.path.startswith("out.")
                for n in _walk(self.op.commit_after)
            )
        out = None
        if self._refs_out:
            # AFTER mode and cross-group triggers build the candidate
            # from the group's last aggregated row; BEFORE mode on the
            # group's own incoming row (pre-update state,
            # commit_before.ramen LAG semantics)
            own_before = self.op.commit_before and not state.get("__trig")
            fin_row = row if own_before else state.get("__last_row", row)
            out = self.finalize(state, fin_row, previous)
        return self._eval(self.op.commit_after, row, state, previous, out) is True


def _infer_ddl(node, src: dict[str, str], out: dict[str, str], params: dict) -> str:
    """Infer the Spark DDL type of a select expression for the fold
    engine's output schema (the reference runs a full SMT typer,
    src/RamenTyping.ml — here: syntax-directed rules sufficient for
    the operation surface the fold supports)."""
    INT = "bigint"

    def rec(n):
        return _infer_ddl(n, src, out, params)

    if isinstance(node, Lit):
        v = node.value
        if v is None:
            return None  # untyped NULL — surrounding expr decides
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, int):
            return INT
        if isinstance(v, float):
            return "double"
        if isinstance(v, str):
            return "string"
        return "double"
    if isinstance(node, NetLit):
        # numeric encodings per SURVEY §1.2 / functions.network
        return {
            "ip4": INT, "eth": INT, "ip6": "binary",
            "cidr4": "struct<addr:bigint,mask:int>",
            "cidr6": "struct<addr:binary,mask:int>",
        }[node.kind]
    def _param_ddl(v):
        if isinstance(v, float):
            return "double"
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, int):
            return INT
        if isinstance(v, list):
            inner = _param_ddl(v[0]) if v else "double"
            return f"array<{inner}>"
        return "string"

    if isinstance(node, Field):
        p = node.path
        if p.startswith("param."):
            return _param_ddl(params.get(p[6:]))
        name = _strip_ns(p)
        if p.startswith(("out.", "previous.", "local_last.", "local_last_out.", "global_last")):
            name = p.split(".", 1)[1]
        if p.startswith(("out.", "previous.", "local_last.", "local_last_out.", "global_last")) and name in out:
            return out[name]
        if p.startswith(
            ("previous.", "local_last.", "local_last_out.", "global_last")
        ):
            # self-referential previous.X (YIELD 1 + (previous.count |?
            # -1) AS count): the type isn't known yet — unknown sentinel,
            # resolved by the surrounding expression (coalesce/arith)
            return None
        if p in ("#start", "#stop"):
            return "double"
        if name.lower() in ("random", "now", "pi"):
            return "double"
        if name in src:
            return src[name]
        if name in out:
            return out[name]
        if name in params:
            return _param_ddl(params.get(name))
        raise KeyError(f"cannot infer type of field {p!r}")
    if isinstance(node, Unop):
        if node.op in ("not", "is_null"):
            return "boolean"
        return rec(node.e)
    if isinstance(node, Binop):
        o = node.op
        if (
            o == "index"
            and isinstance(node.a, Field)
            and _strip_ns(node.a.path) in (params.get("__globals") or {})
        ):
            return "string"  # global map values (string[string] maps)
        if o in ("=", "<>", "!=", "<", "<=", ">", ">=", "and", "or", "like",
                 "like_cs", "in", "starts_with", "ends_with"):
            return "boolean"
        if o == "||":
            return "string"
        if o == "/":
            return "double"
        if o == "//":
            a, b = rec(node.a), rec(node.b)
            return "double" if "double" in (a, b) else INT
        if o in ("+", "-", "*", "%", "^"):
            a, b = rec(node.a), rec(node.b)
            if a is None:
                a = b
            if b is None:
                b = a
            if a is None:
                return None
            if "string" in (a, b):
                return "string"
            return "double" if "double" in (a, b) or o == "^" else INT
        return "double"
    if isinstance(node, CaseWhen):
        cands = [rec(v) for _, v in node.branches]
        if node.otherwise is not None:
            cands.append(rec(node.otherwise))
        known = [t_ for t_ in cands if t_ is not None]
        return known[0] if known else None
    if isinstance(node, Call):
        fn = node.fn
        if fn == "cast":
            ts: TypeSpec = node.opts["to"]
            if ts.vec_dim is not None or ts.is_arr:
                return f"array<{_infer_ddl(Call('cast', node.args, opts={'to': TypeSpec(ts.name)}), src, out, params)}>"
            if ts.name in _INT_TYPES:
                return INT
            return {"float": "double", "string": "string", "bool": "boolean",
                    "boolean": "boolean", "char": "string"}[ts.name]
        if fn == "cast_tuple":
            inner = ",".join(
                f"_{i}:{_infer_ddl(Call('cast', [a], opts={'to': t_}), src, out, params)}"
                for i, (a, t_) in enumerate(zip(node.args, node.opts["types"]))
            )
            return f"struct<{inner}>"
        if fn in ("count", "count_distinct", "kmv_distinct",
                  "bitand", "bitor", "bitxor", "peek"):
            return INT
        if fn in ("and_all", "or_all", "distinct", "is_null", "remember",
                  "hysteresis", "changed", "is_in_top", "recall"):
            return "boolean"
        if fn in ("avg", "smooth", "season_moveavg", "moveavg", "fit", "derive",
                  "reldiff", "random", "now", "age", "sq", "sqrt", "exp", "log",
                  "log10", "round", "truncate", "parse_time", "fit_multi",
                  "sin", "cos", "tan", "asin", "acos", "atan",
                  "sinh", "cosh", "tanh"):
            return "double"
        if fn in ("lower", "upper", "substring", "basename", "format_time",
                  "sparkline", "chr", "uuid_of_u128", "split", "variant",
                  "countrycode"):
            return "string"
        if fn in ("length", "index", "hash"):
            return INT
        if fn in ("mapadd", "mapset"):
            return rec(node.args[2])  # returns the written value
        if fn == "sum":
            a = rec(node.args[0])
            return "double" if a == "double" else INT
        if fn in ("coalesce", "force", "abs"):
            ts_ = [rec(a) for a in node.args]
            known = [t_ for t_ in ts_ if t_ is not None]
            return known[0] if known else None
        if fn in ("min", "max", "first", "last", "lag"):
            ts_ = [rec(a) for a in node.args]
            known = [t_ for t_ in ts_ if t_ is not None]
            if not known:
                return None
            if fn in ("min", "max") and len(node.args) > 1:
                # variadic stateless form: numeric type unification
                # (min_max.ramen non_aggr — MIN(s, r, u8(bit)) is
                # double when any operand is)
                if any(t_ in ("double", "float") for t_ in known):
                    return "double"
                if all(
                    t_ in ("tinyint", "smallint", "int", "bigint")
                    for t_ in known
                ):
                    return INT
                return known[0]
            t_ = known[-1]
            if (
                fn in ("min", "max", "first", "last")
                and len(node.args) == 1
                and t_.startswith("array<")
                and _is_array_node(node.args[0])
            ):
                # immediate aggregate over a list operand (min of a
                # PAST/LATEST window) reduces to the ELEMENT type
                return t_[6:-1]
            return t_
        if fn in ("group", "latest", "oldest", "sample", "_array", "top",
                  "largest", "past"):
            return f"array<{rec(node.args[-1])}>"
        if fn in ("is_in_top", "is_in_cms_top"):
            return "boolean"
        if fn in ("rank_in_top", "rank_in_cms_top"):
            return INT
        if fn == "net_cast_vec":
            return "array<struct<version:int,v4:bigint,v6:binary>>"
        if fn == "net_cast":
            kind = node.opts.get("kind")
            if kind == "ip":
                return "struct<version:int,v4:bigint,v6:binary>"
            if kind == "ip6":
                return "binary"
            if kind in ("ip4", "eth"):
                return INT
            return rec(node.args[0])
        if fn in ("one_out_of", "once_every", "print", "force"):
            return rec(node.args[-1])
        if fn == "histogram":
            return "array<bigint>"
        if fn == "get":
            idx = node.args[0]
            if (
                isinstance(node.args[1], Field)
                and node.args[1].path in ("in", "out")
                and isinstance(idx, Lit)
                and isinstance(idx.value, str)
            ):
                tbl = src if node.args[1].path == "in" else out
                return tbl.get(idx.value)
            inner = rec(node.args[1])
            if inner and inner.startswith("struct<") and isinstance(idx, Lit):
                for part in inner[7:-1].split(","):
                    k, _, t_ = part.partition(":")
                    if k == idx.value:
                        return t_
            return inner[6:-1] if inner.startswith("array<") else inner
        if fn == "_tuple":
            inner = ",".join(
                f"_{i}:{rec(a) or 'double'}" for i, a in enumerate(node.args)
            )
            return f"struct<{inner}>"
        if fn == "_record":
            inner = ",".join(
                f"{n_}:{rec(a) or 'double'}"
                for n_, a in zip(node.opts["names"], node.args)
            )
            return f"struct<{inner}>"
        if fn == "get_ord":
            inner = rec(node.args[0])
            if inner and inner.startswith("array<"):
                return inner[6:-1]
            if inner and inner.startswith("struct<"):
                fields = inner[7:-1].split(",")
                i = int(node.opts["i"]) - 1
                if 0 <= i < len(fields):
                    return fields[i].split(":", 1)[1]
            return None
        if fn == "split":
            return "string"
        if fn == "percentile_of":
            elem = rec(node.args[1])
            elem = elem[6:-1] if elem.startswith("array<") else elem
            if isinstance(node.args[0], Call) and node.args[0].fn == "_array":
                return f"array<{elem}>"
            return elem
        if fn in ("floor", "ceil"):
            return INT
        if fn == "quality_score":
            return "double"
        if fn in (
            "detect_language",
            "fingerprint",
            "redact_pii",
            "url_host",
            "registrable_domain",
            "dominant_script",
            "canonical_url",
        ):
            return "string"
        if fn in ("token_count", "bpe_token_count"):
            return INT
        if fn == "quantile_sketch":
            raise NotImplementedError(
                "KMV PERCENTILE compiles at the operation level only "
                "(grouped SELECT field via compile_operation); the "
                "COMMIT fold's sketch accumulator covers KMV DISTINCT "
                "— for quantiles under a COMMIT clause use the exact "
                "p PERCENTILE over a GROUP array, or "
                "operators.sketch.quantile_sketch directly"
            )
    raise NotImplementedError(f"cannot infer type of {node!r}")


def infer_output_schema(op: Operation, src_schema, params: dict[str, Any] | None = None) -> str:
    """DDL schema of an operation's public select fields, given the
    parent DataFrame's schema."""
    src = {f.name: f.dataType.simpleString() for f in src_schema.fields}
    out: dict[str, str] = {}
    parts = []
    for i, f_ in enumerate(op.fields):
        if isinstance(f_.expr, Star):
            raise NotImplementedError("schema inference with * select")
        name = f_.alias or _default_name(f_.expr, i)
        ddl = _infer_ddl(f_.expr, src, out, params or {}) or "double"
        out[name] = ddl
        if not name.startswith("_"):
            parts.append(f"{name} {ddl}")
    return ", ".join(parts)


def _like_regex(pattern: str) -> str:
    """SQL LIKE pattern → regex source (%/_ wildcards, backslash
    escape — src/Globs.ml glob compilation)."""
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
        i += 1
    return "".join(out)


def check_commit_for_all(node) -> bool:
    """True when the commit condition references the input tuple — the
    reference then re-checks EVERY group after each input
    (src/CodeGen_Helpers.ml:52: any Variable In / Path reference)."""
    for n in _walk(node):
        if isinstance(n, Field) and not n.path.startswith(
            ("out.", "previous.", "local_last.", "local_last_out.", "global_last", "param.", "env.")
        ):
            return True
    return False


def _expand_star(op: Operation, df: DataFrame) -> Operation:
    """Expand ``*`` select fields against the input columns (reference
    star rules, RamenOperation.ml:1254-1271) — shared by the COMMIT
    engine paths; compile_operation has its own inline copy."""
    if not any(isinstance(f_.expr, Star) for f_ in op.fields):
        return op
    named = {
        f_.alias or _default_name(f_.expr, i)
        for i, f_ in enumerate(op.fields)
        if not isinstance(f_.expr, Star)
    }
    fields: list[SelectField] = []
    for f_ in op.fields:
        if isinstance(f_.expr, Star):
            skip = named | set(f_.expr.exclude)
            fields.extend(
                SelectField(Field(c), c) for c in df.columns if c not in skip
            )
        else:
            fields.append(f_)
    return replace(op, fields=fields)


def _inline_select_refs(op: Operation, in_cols: set[str]) -> Operation:
    """Inline references to EARLIER select fields (bare or ``out.``)
    into later field expressions, for the COMMIT engine: aggregates
    like ``COUNT _low_emit`` (count.ramen:15) must see the referenced
    field's per-row DEFINITION during state update, before any output
    tuple exists. Bare names prefer the input tuple (reference
    resolution order); shared sub-expressions still share one fold
    state because states are keyed by structural repr. WHERE and
    COMMIT clauses are untouched — ``out.`` there means the candidate
    output tuple, not the defining expression."""
    defs: dict[str, Any] = {}

    def subst(node):
        if isinstance(node, Field):
            nm = _strip_ns(node.path)
            if node.path.startswith("out.") and nm in defs:
                return defs[nm]
            if (
                "." not in node.path
                and not node.path.startswith("#")
                and nm in defs
            ):
                # bare ref to an EARLIER select field resolves to OUT
                # even when an input column shares the name
                # (RamenOperation.ml:770-775; tumbling.ramen stop)
                return defs[nm]
            return node
        if isinstance(node, Unop):
            return Unop(node.op, subst(node.e))
        if isinstance(node, Binop):
            return Binop(node.op, subst(node.a), subst(node.b))
        if isinstance(node, Call):
            return Call(node.fn, [subst(a) for a in node.args], node.opts)
        if isinstance(node, CaseWhen):
            return CaseWhen(
                [(subst(c), subst(v)) for c, v in node.branches],
                subst(node.otherwise) if node.otherwise is not None else None,
            )
        return node

    fields = []
    for i, f_ in enumerate(op.fields):
        name = f_.alias or _default_name(f_.expr, i)
        expr = f_.expr if isinstance(f_.expr, Star) else subst(f_.expr)
        # materialize the PRE-inline default name as the alias: naming
        # follows the source expression (``min recent_n`` →
        # min_recent_n), not its inlined definition (past.ramen)
        fields.append(
            SelectField(expr, f_.alias if isinstance(f_.expr, Star) else name)
        )
        defs[name] = expr

    # in WHERE/COMMIT, bare names that name a select field (and not an
    # input column) denote the candidate OUTPUT tuple (changed.ramen:
    # COMMIT AFTER CHANGED answer) — qualify them so the fold resolves
    # them against out/previous state
    def qualify(node):
        if isinstance(node, Field):
            nm = _strip_ns(node.path)
            if "." not in node.path and nm in defs:
                # commit_cond: any select alias resolves to OUT
                # (prefix_smart with allow_out, RamenOperation.ml:795)
                return Field("out." + nm)
            return node
        if isinstance(node, Unop):
            return Unop(node.op, qualify(node.e))
        if isinstance(node, Binop):
            return Binop(node.op, qualify(node.a), qualify(node.b))
        if isinstance(node, Call):
            return Call(node.fn, [qualify(a) for a in node.args], node.opts)
        if isinstance(node, CaseWhen):
            return CaseWhen(
                [(qualify(c), qualify(v)) for c, v in node.branches],
                qualify(node.otherwise) if node.otherwise is not None else None,
            )
        return node

    # WHERE resolves bare names to the INPUT only (prefix_smart
    # ~allow_out:false, RamenOperation.ml:793); COMMIT sees out
    return replace(
        op,
        fields=fields,
        commit_after=(
            qualify(op.commit_after) if op.commit_after is not None else None
        ),
    )


_LOWERABLE_AGGS = {
    "sum", "avg", "min", "max", "count", "first", "last", "group",
    "bitand", "bitor", "bitxor",
}


def _count_commit_shape(cond) -> tuple[Any, int] | None:
    """Match ``COMMIT AFTER (sum 1 | count x) (>=|=|>) N`` — the
    count-window shape that lowers to Catalyst (VERDICT r1 #9; the
    raql_commit_batches oracle proves it is row_number math). Returns
    (count_operand_node | None for sum-1, window_size) or None."""
    if not (isinstance(cond, Binop) and cond.op in (">=", "=", ">")):
        return None
    lhs, rhs = cond.a, cond.b
    if not (
        isinstance(rhs, Lit)
        and isinstance(rhs.value, int)
        and not isinstance(rhs.value, bool)
        and rhs.value >= 1
    ):
        return None
    if not (isinstance(lhs, Call) and len(lhs.args) == 1) or lhs.opts.get("keep_nulls"):
        return None
    n = int(rhs.value) + (1 if cond.op == ">" else 0)
    if lhs.fn == "sum" and isinstance(lhs.args[0], Lit) and lhs.args[0].value == 1:
        return (None, n)
    if lhs.fn == "count":
        return (lhs.args[0], n)
    return None


def _lowerable_select(op: Operation) -> bool:
    """Every select field must compile to window aggregates + stateless
    exprs of the committing row — no row-stateful functions, no
    previous/out namespaces, no nested or poison-semantics (KEEP NULLS)
    aggregates."""
    for f_ in op.fields:
        if isinstance(f_.expr, Star):
            return False
        for nd in _walk(f_.expr):
            if isinstance(nd, Field) and (
                nd.path.startswith(("previous.", "local_last.", "local_last_out.", "global_last", "out."))
                or nd.path in ("#start", "#stop")
            ):
                return False
            if isinstance(nd, Call):
                if nd.fn in ROW_STATEFUL:
                    return False
                if nd.fn in AGGS and len(nd.args) == 1 and not _is_array_node(nd.args[0]):
                    if nd.fn not in _LOWERABLE_AGGS or nd.opts.get("keep_nulls"):
                        return False
                    # nested stateful (sum group x) needs the fold
                    if any(
                        isinstance(x, Call) and (x.fn in AGGS or x.fn in ROW_STATEFUL)
                        for a in nd.args
                        for x in _walk(a)
                    ):
                        return False
    return True


def _try_lower_count_commit(
    df: DataFrame,
    op: Operation,
    keys: list[str],
    order_col: str | list[str],
    params: dict[str, Any] | None,
    output_schema: str | None,
) -> DataFrame | None:
    """Lower a count-based COMMIT window to native Catalyst: one
    Exchange on the group keys, a running-count WindowExec assigns each
    row a window id (``wid = floor(count_so_far / N)``), unbounded-frame
    window aggregates over (keys, wid) compute the select list, and the
    Nth row of each window emits. HashPartitioning(keys) satisfies the
    (keys, wid) clustering, so the second WindowExec adds only a local
    sort — no second shuffle, fully parallel across groups (the Python
    fold this replaces moved every row through Arrow into one Python
    worker per group).

    NULL fold parity: ``count x`` advances only on non-null x, so rows
    with null x never fire a commit and window boundaries track the
    running non-null count, exactly like the fold's state counter.
    """
    from pyspark.sql.types import BooleanType, _parse_datatype_string
    from pyspark.sql.window import Window

    shape = _count_commit_shape(op.commit_after)
    if shape is None or not keys or not _lowerable_select(op):
        return None
    cnt_node, n = shape
    carg = F.lit(1) if cnt_node is None else Compiler(params).col(cnt_node)
    try:
        # fold counts TRUEs for bool operands; F.count counts non-null —
        # don't lower bool-counted windows
        if isinstance(df.select(carg.alias("_c")).schema[0].dataType, BooleanType):
            return None
    except Exception:
        return None
    order_list = [order_col] if isinstance(order_col, str) else list(order_col)
    ocols = [F.col(c) for c in order_list]
    w1 = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*ocols)
    nn = F.when(carg.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    cnt = F.count(carg).over(w1)  # running non-null count incl. current
    df2 = df.withColumn("_wid", F.floor((cnt - nn) / F.lit(n)).cast("long")).withColumn(
        "_fire", carg.isNotNull() & (cnt % n == 0)
    )
    w2 = (
        Window.partitionBy(*([F.col(k) for k in keys] + [F.col("_wid")]))
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    out_names: list[str] = []
    out_cols: list[Column] = []
    for i, f_ in enumerate(op.fields):
        sub = Compiler(params, window=w2)
        name = f_.alias or _default_name(f_.expr, i)
        out_names.append(name)
        out_cols.append(sub.col(f_.expr).alias(name))
    public = [nm for nm in out_names if not nm.startswith("_")]
    res = (
        df2.select(*out_cols, F.col("_fire"))
        .filter(F.col("_fire"))
        .select(*public)
    )
    if output_schema:
        types = {
            fld.name: fld.dataType
            for fld in _parse_datatype_string(output_schema).fields
        }
        res = res.select(
            *[
                F.col(nm).cast(types[nm]).alias(nm) if nm in types else F.col(nm)
                for nm in public
            ]
        )
    return res


def _reads(op: Operation, prefixes: tuple[str, ...]) -> bool:
    """True when a select field, the WHERE, the COMMIT condition or a
    GROUP BY key of ``op`` reads a field under one of ``prefixes``."""
    exprs = [f_.expr for f_ in op.fields] + list(op.group_by)
    exprs += [e for e in (op.where, op.commit_after) if e is not None]
    return any(
        isinstance(n, Field) and n.path.startswith(prefixes)
        for e in exprs
        for n in _walk(e)
    )


def _plan_commit(op: Operation | str, df: DataFrame, params):
    """The planning step both COMMIT engines share: parse, rewrite
    event time, default the condition, expand ``*``, inline select
    refs, detect sequential mode, materialize computed GROUP BY keys,
    decide check-all once and apply a WHERE the fold need not run.
    Returns ``(op, df, flush, keys, sequential, check_all)``; ``df``
    carries the ``_gk{i}`` key columns, and ``op.where`` stays set only
    when the fold runs it."""
    if isinstance(op, str):
        op = parse_operation(op)
    op = _rewrite_event_time(op)
    flush = op.flush
    if op.commit_after is None:
        # default COMMIT AFTER true; with no GROUP BY this is the
        # reference's trivial case where stateful functions get
        # GLOBAL lifespan — state survives the per-row flush
        # (src/RamenOperation.ml:859-875 set_default_lifespans)
        op = replace(op, commit_after=Lit(True))
        if not op.group_by:
            flush = False
    op = _expand_star(op, df)
    op = _inline_select_refs(op, set(df.columns))
    # global_last_out reads cross-group state: fold the whole stream
    # as ONE ordered group (the reference's sequential worker loop;
    # previous.ramen is its spec) with group-scoped namespaces handled
    # inside _Fold
    sequential = _reads(op, ("global_last",))
    keys = []
    for i, k in enumerate([] if sequential else op.group_by):
        if isinstance(k, Field):
            keys.append(_strip_ns(k.path))
        else:
            kc = f"_gk{i}"
            sch = {f_.name: f_.dataType.simpleString() for f_ in df.schema.fields}
            df = df.withColumn(kc, Compiler(params, schema=sch).col(k))
            keys.append(kc)
    # check-all-groups (check_commit_for_all): a condition reading the
    # input tuple re-checks EVERY live group at each input. A
    # row-stateful call (lag, hysteresis…) would advance its state once
    # per checked group, so such conditions fold per group instead.
    cond = op.commit_after
    check_all = (
        not isinstance(cond, Lit)
        and check_commit_for_all(cond)
        and not any(isinstance(n, Call) and n.fn in ROW_STATEFUL for n in _walk(cond))
    )
    # WHERE: stateless → Catalyst filter before the fold (the
    # reference's where_fast); stateful → evaluated inside the fold,
    # and so is a check-all WHERE: check_commit_for_all runs for EVERY
    # input tuple, including ones failing WHERE (CodeGenLib_Skeletons.
    # ml:808-812 runs after the `None -> ()` where-fail branch;
    # patterns.test commits on a Volvo row the WHERE rejects) — unless
    # SORT LAST buffers the filtered rows first.
    if op.where is not None and not (
        (check_all and op.sort_last is None) or _stateful(op.where)
    ):
        df, op = _filtered(df, op.where, params), replace(op, where=None)
    return op, df, flush, keys, sequential, check_all


def _stateful(node) -> bool:
    return any(
        isinstance(n, Call) and (n.fn in ROW_STATEFUL or n.fn in AGGS)
        for n in _walk(node)
    )


def _filtered(df: DataFrame, where, params) -> DataFrame:
    """``df`` under a stateless WHERE, as a Catalyst filter."""
    sch = {f_.name: f_.dataType.simpleString() for f_ in df.schema.fields}
    return df.filter(Compiler(params, schema=sch).col(where))


def compile_commit_operation(
    op: Operation | str,
    source_df: DataFrame,
    output_schema: str | None = None,
    params: dict[str, Any] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Compile a RaQL operation WITH a general COMMIT clause onto the
    commit engine (operators.aggregate) — RaQL's windowing-beyond-SQL
    semantics (SURVEY §2.2 COMMIT row), including KEEP/FLUSH and COMMIT
    BEFORE re-seeding.

    GROUP BY keys may be arbitrary expressions (materialized as
    computed columns so they survive the shuffle). ``output_schema``
    is the Spark DDL of the select list; omitted → inferred from the
    source schema (infer_output_schema). Rows fold in ``ts``-column
    order if present, else input order.

    Conditions over the group's own state fold per group
    (``commit_aggregate``: one shuffle on the GROUP BY key, ordered
    Python fold within each group). Check-all conditions
    (``_plan_commit``), which re-check every live group at each input,
    run through the ``WorkerFold`` the always-on worker runs
    (``_worker_fold``, ``commit_worker``): one ordered pass over the
    whole input, ties in the order column broken by input position —
    the order the worker sees a one-micro-batch input in. Their cond0
    term, a pure-``in`` condition included, lets a row check only the
    groups that may fire."""
    from ramen_spark.operators.aggregate import commit_aggregate, commit_worker

    op, df, flush, keys, sequential, check_all = _plan_commit(op, source_df, params)

    if order_cols is None and op.sort_last is not None:
        n_buf, by_nodes, until_node = op.sort_last
        if until_node is None:
            # SORT LAST n BY e (no UNTIL): in batch the bounded buffer's
            # fixed point is a full sort by the keys — lower to Catalyst
            # sort columns (scale-safe: sorted inside the fold's group
            # partitions, no sequential pass).
            comp = Compiler(params)
            key_names = []
            for i, e in enumerate(by_nodes):
                if isinstance(e, Field):
                    key_names.append(_strip_ns(e.path))
                else:
                    kc = f"_sortby{i}"
                    df = df.withColumn(kc, comp.col(e))
                    key_names.append(kc)
            order_cols = key_names or None
        else:
            # OR UNTIL: emission order depends on buffer state, so run
            # the exact sequential buffer (reference RamenSortBuf) in
            # arrival order, then fold in its emission order. The
            # reference's buffer is worker-LOCAL (each worker buffers
            # its own slice of the stream, src/RamenSortBuf.ml:1-109 +
            # CodeGenLib_Skeletons.ml:896-921), so with a GROUP BY we
            # shard by group key: every group's rows traverse exactly
            # one buffer in arrival order — no global single-partition
            # funnel. Groupless (or global_last-sequential) ops keep
            # the one-stream exact mode.
            df = df.withColumn("_arr", F.monotonically_increasing_id())
            if keys:
                df = df.repartition(*[F.col(k) for k in keys])
            else:
                df = df.repartition(1)
            df = df.sortWithinPartitions("_arr").drop("_arr")
            df = _apply_sort_last(df, op, params)
            # mapInPandas preserves intra-partition order, and each
            # group lives wholly in one partition, so per-partition
            # monotone ids give the fold a correct per-group order.
            df = df.withColumn("_rowid", F.monotonically_increasing_id())
            order_cols = ["_rowid"]
    if order_cols:
        order_col: str | list[str] = order_cols
    elif "ts" in df.columns:
        order_col = "ts"
    elif "start" in df.columns:
        # event-time inference by field name, as the reference's
        # RamenEventTime does for #start: a batch fold ordered by event
        # time is the deterministic analogue of arrival order and keeps
        # per-group folds parallel (no global arrival funnel needed).
        order_col = "start"
    else:
        df = df.withColumn("_rowid", F.monotonically_increasing_id())
        order_col = "_rowid"

    if output_schema is None:
        output_schema = infer_output_schema(op, df.schema, params)

    # count-window fast path: AFTER-mode, FLUSH, stateless-where-only
    # shapes lower to native window aggregates (no Python fold). A
    # check-all shape may still lower, its WHERE filtering first: the
    # count condition reads only per-group state, so re-checking a
    # flushed-on-fire group at another input (WHERE-rejected ones
    # included) never fires — each group's own rows are its triggers.
    if (
        not op.commit_before
        and flush
        and (op.where is None or not _stateful(op.where))
        and (op.sort_last is None or op.sort_last[2] is None)
    ):
        lowered = _try_lower_count_commit(
            df if op.where is None else _filtered(df, op.where, params),
            op, keys, order_col, params, output_schema,
        )
        if lowered is not None:
            return lowered

    fold = _Fold(op, params, sequential=sequential)
    where_fn = fold.update_where if op.where is not None else None
    if check_all:
        return commit_worker(
            df,
            _worker_fold(op, fold, keys, flush, sequential, where_fn),
            order_col,
            output_schema,
        )
    return commit_aggregate(
        df,
        key_cols=keys,
        order_col=order_col,
        init_state=fold.init_state,
        update=fold.update,
        finalize=fold.finalize,
        commit_cond=fold.commit_cond,
        output_schema=output_schema,
        commit_before=op.commit_before,
        flush=flush,
        where=where_fn,
    )


def compile_commit_streaming(
    op: Operation | str,
    stream_df: DataFrame,
    output_schema: str | None = None,
    params: dict[str, Any] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming twin of compile_commit_operation: the same planning
    step (``_plan_commit``) and _Fold callbacks run incrementally under
    ``applyInPandasWithState`` (streaming.commit), state per group key
    in the state store — the reference's long-lived worker loop
    (src/CodeGenLib_Skeletons.ml:717-760) mapped onto Structured
    Streaming. Batch compile_commit_operation is the semantic oracle;
    ordering holds within a micro-batch (see streaming.commit caveat).

    The shared check-all decision routes conditions that re-check
    every group on any incoming tuple (count.ramen, tumbling.ramen) to
    streaming.commit's WORKER mode: one state-store entry holds the
    whole group hashtable, the reference's one-worker-per-function
    loop — cross-group visibility is inherent to the semantics. It
    runs the same ``WorkerFold`` (``_worker_fold``) as the batch
    engine; a ``cond0`` term of the condition (_commit_cond0) lets
    each row check only the groups that may fire. Other conditions
    stay on the per-group-partitioned scale path. Not supported here
    (batch-only): SORT LAST (reorder repair belongs to the watermark
    in streaming)."""
    return _commit_streaming(op, stream_df, output_schema, params, order_cols)[0]


def _commit_streaming(
    op: Operation | str,
    stream_df: DataFrame,
    output_schema: str | None,
    params: dict[str, Any] | None,
    order_cols: list[str] | None,
) -> tuple[DataFrame, bool]:
    """compile_commit_streaming, also returning whether the stateful
    operator groups by a constant key (worker mode's ``_w``, or ``_g``
    with no GROUP BY): such a query's state fits one partition."""
    from ramen_spark.streaming.commit import (
        streaming_commit_aggregate,
        streaming_commit_worker,
    )

    op, df, flush, keys, sequential, check_all = _plan_commit(op, stream_df, params)
    if op.sort_last is not None:
        raise NotImplementedError("SORT LAST in streaming: use the watermark")

    if order_cols is not None:
        # explicit [] ⇒ arrival order within each micro-batch (the
        # reference's ringbuf consumption order)
        order_col: str | list[str] | None = order_cols or None
    elif "ts" in df.columns:
        order_col = "ts"
    else:
        raise ValueError(
            "streaming commit needs order_cols (pass [] for arrival "
            "order) or a ts column"
        )

    if output_schema is None:
        output_schema = infer_output_schema(op, df.schema, params)

    fold = _Fold(op, params, sequential=sequential)
    where_fn = fold.update_where if op.where is not None else None
    constant_key = check_all or not keys
    if check_all:
        return streaming_commit_worker(
            df,
            fold=_worker_fold(op, fold, keys, flush, sequential, where_fn),
            order_col=order_col,
            output_schema=output_schema,
        ), constant_key
    return streaming_commit_aggregate(
        df,
        key_cols=keys,
        order_col=order_col,
        init_state=fold.init_state,
        update=fold.update,
        finalize=fold.finalize,
        commit_cond=fold.commit_cond,
        output_schema=output_schema,
        commit_before=op.commit_before,
        flush=flush,
        where=where_fn,
    ), constant_key


def _worker_fold(op: Operation, fold: _Fold, keys, flush, sequential, where_fn):
    """The one ``WorkerFold`` batch (``commit_worker``) and streaming
    (``streaming_commit_worker``) run for a check-all condition, over
    ``fold``'s callbacks: with the condition's cond0 term (none in
    sequential mode, whose one group needs no index), and dropping a
    flushed group unless something reads its last output or keeps
    per-group state past the flush."""
    from ramen_spark.operators.aggregate import WorkerFold

    return WorkerFold(
        keys, fold.init_state, fold.update, fold.finalize, fold.commit_cond,
        commit_before=op.commit_before,
        flush=flush,
        where=where_fn,
        cond0=None if sequential else _commit_cond0(op, fold),
        keep_flushed=(
            not flush or sequential or bool(fold.where_rows)
            or _reads(op, _LAST_OUT_NS)
        ),
    )


_LAST_OUT_NS = ("previous.", "local_last.", "local_last_out.", "global_last")
_CMP_FLIP = {">": "<", ">=": "<=", "<": ">", "<=": ">="}


def _volatile(node) -> bool:
    """RANDOM, now or a global-map write: a value or side effect that
    depends on how many times, and when, the expression is evaluated."""
    return any(
        (isinstance(n, Field) and _strip_ns(n.path).lower() in ("random", "now"))
        or (isinstance(n, Call) and n.fn in ("mapadd", "mapset"))
        for n in _walk(node)
    )


def _cond0_side(node) -> str | None:
    """Classify one side of a comparison: "in" when ``node`` reads
    only input fields (plus params and literals), "out" when only
    ``out.`` fields, "const" when neither; None when it reads anything
    else or holds stateful or volatile calls."""
    kinds = set()
    for n in _walk(node):
        if isinstance(n, Call) and (n.fn in AGGS or n.fn in ROW_STATEFUL):
            return None
        if isinstance(n, Field) and not n.path.startswith("param."):
            if n.path.startswith(_LAST_OUT_NS + ("env.",)):
                return None
            kinds.add("out" if n.path.startswith("out.") else "in")
    if _volatile(node) or len(kinds) > 1:
        return None
    return kinds.pop() if kinds else "const"


def _commit_cond0(op: Operation, fold: _Fold):
    """The reference's ``cond0`` (src/CodeGenLib_Skeletons.ml:505-527)
    for the check-all ``WorkerFold`` of both engines: the first
    comparison ``f(in) OP g(out)`` (OP one of > >= < <=, either side
    order) that is the whole commit condition or a top-level AND
    conjunct, so the condition holds only where the term does. Returns
    an operators.aggregate.Cond0 whose keys evaluate f on the input
    row and g on the group's trigger-path candidate (the same memoized
    ``finalize`` call commit_cond makes). A condition that reads only
    the input row (and params/literals) is its own term: ``cond(in) >
    False``, so a row it rejects checks no group. None: no such term,
    or a volatile select field or condition whose draws would depend
    on which groups get checked."""
    from ramen_spark.operators.aggregate import Cond0

    cond = op.commit_after
    if _volatile(cond) or any(
        _volatile(f_.expr) for f_ in op.fields if not isinstance(f_.expr, Star)
    ):
        return None
    if _cond0_side(cond) == "in":
        return Cond0(
            lambda row: fold._eval(cond, row, None, None, None) is True,
            lambda st, prev: False,
            ">",
        )

    def conjuncts(n):
        if isinstance(n, Binop) and n.op == "and":
            yield from conjuncts(n.a)
            yield from conjuncts(n.b)
        else:
            yield n

    for t in conjuncts(cond):
        if not (isinstance(t, Binop) and t.op in _CMP_FLIP):
            continue
        a, b = _cond0_side(t.a), _cond0_side(t.b)
        if a in ("in", "const") and b == "out":
            f_node, cmp, g_node = t.a, t.op, t.b
            break
        if b in ("in", "const") and a == "out":
            f_node, cmp, g_node = t.b, _CMP_FLIP[t.op], t.a
            break
    else:
        return None

    def in_key(row):
        return fold._eval(f_node, row, None, None, None)

    def out_key(st, prev):
        last = st.get("__last_row")
        return fold._eval(g_node, last, None, prev, fold.finalize(st, last, prev))

    return Cond0(in_key, out_key, cmp)


def _commit_needs_engine(node) -> bool:
    """A COMMIT condition needs the general engine iff it references
    group aggregates or the previous/local_last namespace — those
    change WHICH rows commit. Conditions over in/out fields only are
    emission *timing* (the tumbling `in.t > out.t + d` pattern), which
    batch run-to-completion grouping already satisfies."""
    if isinstance(node, Field):
        return node.path.startswith(
            ("previous.", "local_last.", "local_last_out.", "global_last")
        )
    if isinstance(node, Call):
        if node.fn in AGGS and (
            len(node.args) == 1
            or (node.fn == "histogram" and len(node.args) == 4)
        ):
            return True
        return any(_commit_needs_engine(a) for a in node.args)
    if isinstance(node, Unop):
        return _commit_needs_engine(node.e)
    if isinstance(node, Binop):
        return _commit_needs_engine(node.a) or _commit_needs_engine(node.b)
    if isinstance(node, CaseWhen):
        return any(
            _commit_needs_engine(x)
            for c, v in node.branches
            for x in (c, v)
        ) or (node.otherwise is not None and _commit_needs_engine(node.otherwise))
    return False
