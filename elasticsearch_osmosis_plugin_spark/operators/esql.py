"""ES|QL front end: Elasticsearch's piped query language compiled to
Spark DataFrame plans.

Elasticsearch 8.11+ ships ES|QL (``POST /_query`` with
``FROM idx | WHERE .. | STATS .. BY .. | SORT .. | LIMIT ..``) as the
successor query surface to the JSON DSL the reference's users speak
(the reference delegates all querying to ES — ``ESNodeITest.java``
round-trips through the same server API this language fronts). Here
the language is compiled natively: a hand-rolled lexer + recursive-
descent expression parser produce a tiny AST that maps 1:1 onto
Catalyst columns, and each pipe command maps onto a DataFrame
transformation — Catalyst then owns pushdown, pruning and join
strategy exactly as if the user had written the DataFrame code.

Supported surface (every form is tested equal to its direct
DataFrame twin, and the flagship forms sit under the hard DuckDB
gate):

- source commands: ``FROM idx[, idx2 | wildcards | cluster:idx]
  [METADATA _index, _id, _score]``, ``ROW a = 1, b = "x"``,
  ``SHOW INFO``
- processing: ``WHERE`` ``EVAL`` ``STATS .. BY ..`` ``INLINESTATS``
  ``SORT`` ``LIMIT`` ``KEEP`` ``DROP`` ``RENAME old AS new``
  ``DISSECT`` ``GROK`` ``MV_EXPAND`` ``LOOKUP JOIN idx ON f``
  ``ENRICH policy ON f [WITH ..]`` ``CHANGE_POINT v ON key``
  (see :mod:`.changepoint`) ``FORK (pipe) (pipe)`` ``RRF``
  (reciprocal-rank fusion of the FORK branches) ``SAMPLE p``
  (deterministic md5-Bernoulli)

Two full-text plans: :func:`esql` over tables compiles ``MATCH`` to
the M1 full-scan scorer; :func:`esql_index` compiles the canonical
search pipeline onto the PERSISTED index's segment-local top-k
(reads only the query terms' posting bytes) — rank-identical.
- expressions: arithmetic, comparisons, ``AND OR NOT``, ``IN``,
  ``LIKE`` (``*``/``?`` wildcards, whole-string), ``RLIKE``
  (whole-string regex), ``IS [NOT] NULL``, ``field : "query"`` match
  operator, time-span literals (``1 hour``) in ``BUCKET``/
  ``DATE_TRUNC``
- functions: math (ABS..POW), string (CONCAT..SPLIT), date
  (DATE_TRUNC / DATE_EXTRACT / DATE_DIFF / DATE_FORMAT / BUCKET),
  conversion (TO_*), conditional (CASE / COALESCE / GREATEST /
  LEAST), multivalue (MV_* over array columns), IP v4
  (TO_IP / CIDR_MATCH / IP_PREFIX — codegen bit math), full-text
  ``MATCH`` / ``MATCH_PHRASE`` (consecutive analyzed tokens, pure
  Catalyst) / ``QSTR`` (classic query_string grammar compiled to a
  boolean — term/prefix/wildcard/fuzzy/phrase leaves, +/-/
  AND/OR/NOT occurs), ``CATEGORIZE`` (log-skeleton grouping key,
  = the categorize_text agg's kernel)
- aggregates: COUNT(*/x), COUNT_DISTINCT (exact — ES approximates
  with HLL above a threshold; exactness is required by the value-
  for-value gate), SUM/AVG/MIN/MAX, MEDIAN, PERCENTILE (exact
  interpolated, = DuckDB ``quantile_cont``), VALUES (sorted for
  determinism), TOP, WEIGHTED_AVG, ST_CENTROID_AGG (mean lon/lat
  geo_point); per-agg ``WHERE`` filters supported.

Full-text scoring: ``FROM docs METADATA _score | WHERE
match(text, "q") [AND filters] | SORT _score DESC | LIMIT k``
routes the match clauses to the engine's BM25 scorer
(``operators.bm25.bm25_score_terms``) — scores are rank-identical to
the ``_search`` DSL path, so one oracle covers both APIs. Without
``METADATA _score``, ``match()`` / ``:`` compile to a pure-Catalyst
boolean (any analyzed query term present in the analyzed field —
ES's ``match`` OR semantics in filter context).

Deliberate exclusions: ``NOW()`` requires an injected clock
(``esql(..., now=...)`` — every NOW() in the query compiles to that
one instant, matching ES's once-per-request now; reading the wall
clock inside compilation would break the deterministic-plan
contract, so without an injected clock NOW() raises);
``SAMPLE p`` is supported but DETERMINISTIC (md5 Bernoulli keyed on
the id column when present, else row content — documented
divergences: not ES's RNG, and content-keyed draws give
byte-identical duplicate rows one shared coin flip);
``RERANK``/``COMPLETION`` resolve their inference endpoint against
the module-global registry (``operators.inference.put_inference`` —
the ES ``PUT _inference`` analog); the builtin ``lexical-rerank``
endpoint compiles to pure Catalyst, registered endpoints run as one
Arrow-batched pandas UDF over the (LIMIT-bounded) window. COMPLETION
has no builtin — the sandbox ships no LLM runtime, so its contract
is the registry + batch plumbing (the multimodal-decode policy).

Cross-cluster search: ``FROM cluster:index`` resolves qualified
names against the same ``tables`` mapping (register remote indexes
under their ``cluster:name`` key, exactly how ES registers remote
clusters in cluster settings). Wildcards follow ES CCS rules — an
unqualified pattern matches only local names; the cluster part of a
qualified pattern may itself be a wildcard (``*:events``). With
``METADATA _index`` remote hits carry the qualified name, as in ES.
One documented divergence: ``match()`` scoring over a multi-cluster
FROM uses dfs-exact GLOBAL term statistics (this engine's multi-index
contract), where ES CCS scores each cluster with local statistics —
this engine's ranking is the one a single merged index would give.

Scale notes (100 TB): the compiler emits only declarative plans — no
UDFs, no collects. ``LOOKUP JOIN`` / ``ENRICH`` broadcast the lookup
side (ES materializes enrich indices on every node for the same
reason). ``STATS`` is one hash aggregation with map-side partials;
``SORT | LIMIT k`` becomes TakeOrderedAndProject, never a global
sort. The scoring path inherits the BM25 engine's plan (broadcast
term stats, single corpus scan).
"""
from __future__ import annotations

import fnmatch
import re
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..config import EngineConfig
from ..functions.tokenizer import tokenize_expr, tokenize_py
from .bm25 import bm25_score_terms
from .intersect import phrase_match_expr
from .query import analyze, query_terms


class EsqlError(ValueError):
    """Parse or compile failure, with position context."""


# =================================================================== lexer

_TOKEN_RE = re.compile(r"""
    (?P<ws>\s+|//[^\n]*|/\*.*?\*/)
  | (?P<str>\"\"\".*?\"\"\"|"(?:\\.|[^"\\])*")
  | (?P<num>\d+\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+|\d+)
  | (?P<ident>`[^`]*`|[A-Za-z_@][A-Za-z0-9_@]*)
  | (?P<op>==|!=|<=|>=|::|[-+*/%<>=(),\[\]|:.?{}])
""", re.VERBOSE | re.DOTALL)

_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\"}


class Tok:
    __slots__ = ("kind", "text", "pos", "end")

    def __init__(self, kind: str, text: str, pos: int, end: int):
        self.kind, self.text, self.pos, self.end = kind, text, pos, end

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Tok({self.kind},{self.text!r}@{self.pos})"


def _lex(src: str) -> list[Tok]:
    out, i, n = [], 0, len(src)
    while i < n:
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise EsqlError(f"ES|QL: cannot tokenize at {i}: {src[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(Tok(kind, m.group(), m.start(), m.end()))
    out.append(Tok("eof", "", n, n))
    return out


def _unquote(raw: str) -> str:
    if raw.startswith('"""'):
        return raw[3:-3]
    body, out, i = raw[1:-1], [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            out.append(_ESCAPES.get(body[i + 1], body[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


# ==================================================== expression AST/parser
#
# AST nodes are tuples: ("lit", v) ("col", name) ("call", f, [args])
# ("bin", op, l, r) ("not", e) ("neg", e) ("in", e, [items], negated)
# ("like", e, pat, is_regex, negated) ("isnull", e, negated)
# ("span", n, unit) ("star",) ("match", field_ast, query_ast)
# ("cast", e, type)

_TIME_UNITS = {
    "millisecond": 0.001, "milliseconds": 0.001, "ms": 0.001,
    "second": 1, "seconds": 1, "sec": 1, "s": 1,
    "minute": 60, "minutes": 60, "min": 60,
    "hour": 3600, "hours": 3600, "h": 3600,
    "day": 86400, "days": 86400, "d": 86400,
    "week": 604800, "weeks": 604800, "w": 604800,
    "month": "month", "months": "month", "mo": "month",
    "quarter": "quarter", "quarters": "quarter", "q": "quarter",
    "year": "year", "years": "year", "y": "year",
}

_CMP = {"==", "!=", "<", "<=", ">", ">="}


class _P:
    """Recursive-descent expression parser over the token list."""

    def __init__(self, toks: list[Tok], src: str, i: int = 0):
        self.t, self.src, self.i = toks, src, i

    # -- token helpers
    def peek(self, k: int = 0) -> Tok:
        return self.t[min(self.i + k, len(self.t) - 1)]

    def next(self) -> Tok:
        tok = self.t[self.i]
        self.i += 1
        return tok

    def kw(self, *words: str) -> bool:
        """True + consume if the next token is one of the keywords."""
        p = self.peek()
        if p.kind == "ident" and p.text.upper() in words:
            self.i += 1
            return True
        return False

    def at_kw(self, *words: str) -> bool:
        p = self.peek()
        return p.kind == "ident" and p.text.upper() in words

    def expect(self, text: str) -> Tok:
        tok = self.next()
        if tok.text != text:
            raise EsqlError(
                f"ES|QL: expected {text!r} at {tok.pos}, got {tok.text!r}")
        return tok

    def src_slice(self, start: int, end_tok_i: int) -> str:
        end = self.t[end_tok_i - 1].end if end_tok_i > 0 else start
        return self.src[start:end].strip()

    def _param(self, qmark: Tok):
        """Parameter marker: ``?`` positional, ``?name``/``?3`` named/
        1-based indexed, ``??name`` identifier param (-> column ref) —
        ES|QL's three marker kinds. Values come from the ``params=``
        argument of :func:`esql` (list for positional/indexed, dict for
        named); markers bind at parse time so the compiled plan embeds
        plain literals (exactly ES's server-side substitution)."""
        params = getattr(_TLS, "params", None)
        if params is None:
            raise EsqlError("ES|QL: query uses parameter markers (?) "
                            "but no params= were supplied")
        nxt = self.peek()
        as_ident = False
        marker_end = qmark.end
        if nxt.kind == "op" and nxt.text == "?" and nxt.pos == qmark.end:
            self.next()                      # ``??name``
            as_ident = True
            marker_end = nxt.end
            nxt = self.peek()
        if nxt.kind in ("ident", "num") and nxt.pos == marker_end:
            self.next()
            if nxt.kind == "num":            # 1-based positional index
                if not isinstance(params, (list, tuple)):
                    raise EsqlError("ES|QL: indexed parameter ?"
                                    f"{nxt.text} needs a params list")
                idx = int(nxt.text) - 1
                if not 0 <= idx < len(params):
                    raise EsqlError(f"ES|QL: parameter ?{nxt.text} out "
                                    f"of range (got {len(params)})")
                v = params[idx]
            else:
                name = nxt.text.strip("`")
                if not isinstance(params, dict) or name not in params:
                    raise EsqlError(f"ES|QL: named parameter ?{name} "
                                    "not in params dict")
                v = params[name]
        else:                                # bare ``?`` positional
            if as_ident:
                raise EsqlError("ES|QL: ?? must be followed by a name")
            if not isinstance(params, (list, tuple)):
                raise EsqlError("ES|QL: positional ? needs a params "
                                "list")
            i = getattr(_TLS, "param_i", 0)
            if i >= len(params):
                raise EsqlError(f"ES|QL: more ? markers than params "
                                f"({len(params)} given)")
            _TLS.param_i = i + 1
            v = params[i]
        if as_ident:
            if not isinstance(v, str):
                raise EsqlError("ES|QL: ?? identifier param must bind "
                                "a string field name")
            return ("col", v)
        return ("lit", v)

    # -- grammar (precedence climbing)
    def expr(self):
        return self.or_()

    def or_(self):
        left = self.and_()
        while self.kw("OR"):
            left = ("bin", "or", left, self.and_())
        return left

    def and_(self):
        left = self.not_()
        while self.kw("AND"):
            left = ("bin", "and", left, self.not_())
        return left

    def not_(self):
        if self.kw("NOT"):
            return ("not", self.not_())
        return self.cmp()

    def cmp(self):
        left = self.add()
        p = self.peek()
        if p.kind == "op" and p.text in _CMP:
            self.next()
            return ("bin", p.text, left, self.add())
        if p.kind == "op" and p.text == ":":
            self.next()
            q = self.add()
            return ("match", left, q)
        negated = False
        if self.at_kw("NOT") and self.peek(1).kind == "ident" \
                and self.peek(1).text.upper() in ("IN", "LIKE", "RLIKE"):
            self.next()
            negated = True
        if self.kw("IN"):
            self.expect("(")
            items = [self.expr()]
            while self.peek().text == ",":
                self.next()
                items.append(self.expr())
            self.expect(")")
            return ("in", left, items, negated)
        if self.at_kw("LIKE", "RLIKE"):
            is_regex = self.next().text.upper() == "RLIKE"
            pat = self.next()
            if pat.kind != "str":
                raise EsqlError("ES|QL: LIKE/RLIKE needs a string literal")
            return ("like", left, _unquote(pat.text), is_regex, negated)
        if self.kw("IS"):
            neg = self.kw("NOT")
            if not self.kw("NULL"):
                raise EsqlError("ES|QL: expected NULL after IS [NOT]")
            return ("isnull", left, neg)
        return left

    def add(self):
        left = self.mul()
        while True:
            p = self.peek()
            if p.kind == "op" and p.text in ("+", "-"):
                self.next()
                left = ("bin", p.text, left, self.mul())
            else:
                return left

    def mul(self):
        left = self.unary()
        while True:
            p = self.peek()
            if p.kind == "op" and p.text in ("*", "/", "%"):
                self.next()
                left = ("bin", p.text, left, self.unary())
            else:
                return left

    def unary(self):
        p = self.peek()
        if p.kind == "op" and p.text == "-":
            self.next()
            return ("neg", self.unary())
        if p.kind == "op" and p.text == "+":
            self.next()
            return self.unary()
        return self.cast_()

    def cast_(self):
        e = self.primary()
        while self.peek().text == "::":
            self.next()
            ty = self.next()
            e = ("cast", e, ty.text.lower())
        return e

    def primary(self):
        p = self.next()
        if p.kind == "num":
            v = float(p.text) if any(c in p.text for c in ".eE") \
                else int(p.text)
            # `1 hour`-style span literal
            nxt = self.peek()
            if isinstance(v, int) and nxt.kind == "ident" \
                    and nxt.text.lower() in _TIME_UNITS:
                self.next()
                return ("span", v, nxt.text.lower())
            return ("lit", v)
        if p.kind == "str":
            return ("lit", _unquote(p.text))
        if p.kind == "op" and p.text == "(":
            e = self.expr()
            self.expect(")")
            return e
        if p.kind == "op" and p.text == "[":
            items = []
            if self.peek().text != "]":
                items.append(self.expr())
                while self.peek().text == ",":
                    self.next()
                    items.append(self.expr())
            self.expect("]")
            return ("list", items)
        if p.kind == "op" and p.text == "?":
            return self._param(p)
        if p.kind == "op" and p.text == "{":
            # named-options map literal (9.1): {"key": lit, ...} —
            # valid only where a function accepts options (MATCH);
            # elsewhere _compile rejects the node with a clear error
            opts = {}
            if self.peek().text != "}":
                while True:
                    kt = self.next()
                    if kt.kind != "str":
                        raise EsqlError("ES|QL: option map keys must "
                                        "be string literals")
                    self.expect(":")
                    vast = self.expr()
                    if vast[0] != "lit":
                        raise EsqlError("ES|QL: option map values "
                                        "must be literals")
                    opts[_unquote(kt.text)] = vast[1]
                    if self.peek().text == ",":
                        self.next()
                        continue
                    break
            self.expect("}")
            return ("map", opts)
        if p.kind == "ident":
            up = p.text.upper()
            if up == "TRUE":
                return ("lit", True)
            if up == "FALSE":
                return ("lit", False)
            if up == "NULL":
                return ("lit", None)
            if self.peek().text == "(":
                self.next()
                if up == "COUNT" and self.peek().text == "*":
                    self.next()
                    self.expect(")")
                    return ("call", "count", [("star",)])
                args = []
                if self.peek().text != ")":
                    args.append(self.expr())
                    while self.peek().text == ",":
                        self.next()
                        args.append(self.expr())
                self.expect(")")
                if up == "MATCH":
                    if len(args) == 3 and args[2][0] == "map":
                        opts = args[2][1]
                        bad = set(opts) - {"operator",
                                           "minimum_should_match",
                                           "boost"}
                        if bad:
                            raise EsqlError(
                                f"ES|QL: MATCH options {sorted(bad)} "
                                "not supported (operator / "
                                "minimum_should_match / boost)")
                        return ("match", args[0], args[1],
                                tuple(sorted(opts.items())))
                    if len(args) != 2:
                        raise EsqlError("ES|QL: MATCH(field, query"
                                        "[, {options}])")
                    return ("match", args[0], args[1])
                if up == "MATCH_PHRASE":
                    if len(args) != 2:
                        raise EsqlError("ES|QL: MATCH_PHRASE(field, query)")
                    return ("phrase_match", args[0], args[1])
                return ("call", up.lower(), args)
            name = p.text
            if name.startswith("`"):
                name = name[1:-1]
            # dotted field: glue strictly-adjacent .ident suffixes
            end = p.end
            while (self.peek().text == "." and self.peek().pos == end
                   and self.peek(1).kind == "ident"
                   and self.peek(1).pos == self.peek().end):
                self.next()
                part = self.next()
                t = part.text[1:-1] if part.text.startswith("`") \
                    else part.text
                name += "." + t
                end = part.end
            return ("col", name)
        raise EsqlError(
            f"ES|QL: unexpected token {p.text!r} at {p.pos}")


# ============================================================== functions

def _like_to_sql(pat: str) -> str:
    """ES|QL LIKE wildcards (* ?) -> SQL LIKE pattern, whole-string."""
    out = []
    for ch in pat:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def _lit_of(ast, what: str):
    if ast[0] == "lit":
        return ast[1]
    if ast[0] == "neg" and ast[1][0] == "lit":
        return -ast[1][1]
    raise EsqlError(f"ES|QL: {what} must be a literal")


def _span_of(ast, what: str):
    """-> (seconds, None) for fixed spans, (None, unit) for calendar."""
    if ast[0] == "span":
        u = _TIME_UNITS[ast[2]]
        if isinstance(u, str):
            if ast[1] != 1:
                raise EsqlError(f"ES|QL: only 1 {u} calendar spans")
            return None, u
        return ast[1] * u, None
    if ast[0] == "lit" and isinstance(ast[1], str):
        # "1 hour" given as a string (DATE_TRUNC("1 day", ..) form)
        m = re.fullmatch(r"(\d+)\s*([a-z]+)", ast[1].strip().lower())
        if m and m.group(2) in _TIME_UNITS:
            return _span_of(("span", int(m.group(1)), m.group(2)), what)
    raise EsqlError(f"ES|QL: {what} needs a time span literal like 1 hour")


def _bucket(args, raw):
    """BUCKET(expr, span) — numeric width or time span / calendar unit."""
    if len(args) != 2:
        raise EsqlError("ES|QL: BUCKET(expr, span) — auto-bucket form "
                        "(4 args) not supported; give an explicit span")
    e = _compile(args[0])
    if args[1][0] == "span" or (args[1][0] == "lit"
                                and isinstance(args[1][1], str)):
        secs, unit = _span_of(args[1], "BUCKET span")
        if unit:
            return F.date_trunc(unit, e)
        from ..functions.analysis import time_bucket

        return time_bucket(e, int(secs))
    width = _lit_of(args[1], "BUCKET width")
    return F.floor(e / F.lit(width)) * F.lit(width)


_DATE_PARTS = {"year": "year", "month": "month", "day_of_month": "day",
               "day": "day", "hour_of_day": "hour", "hour": "hour",
               "minute_of_hour": "minute", "minute": "minute",
               "second_of_minute": "second", "second": "second",
               "day_of_week": "dayofweek", "day_of_year": "doy",
               "week_of_year": "week", "quarter": "quarter"}

_DIFF_US = {"microseconds": 1, "milliseconds": 1000, "seconds": 1_000_000,
            "minutes": 60_000_000, "hours": 3_600_000_000,
            "days": 86_400_000_000, "weeks": 604_800_000_000}


def _date_diff(args, raw):
    if len(args) != 3:
        raise EsqlError("ES|QL: DATE_DIFF(unit, start, end)")
    unit = str(_lit_of(args[0], "DATE_DIFF unit")).lower()
    if unit not in _DIFF_US:
        raise EsqlError(f"ES|QL: DATE_DIFF unit {unit!r} not supported")
    a, b = _compile(args[1]), _compile(args[2])
    us = (F.unix_micros(b.cast("timestamp"))
          - F.unix_micros(a.cast("timestamp")))
    return (us / F.lit(_DIFF_US[unit])).cast("long")


_JAVA2SPARK_FMT = [("yyyy", "yyyy"), ("MM", "MM"), ("dd", "dd"),
                   ("HH", "HH"), ("mm", "mm"), ("ss", "ss")]


def _substring(args, raw):
    if len(args) == 2:
        s, start = _compile(args[0]), _lit_of(args[1], "SUBSTRING start")
        if start < 0:  # from the end
            return F.expr(f"substr({_sql(args[0])}, {start})")
        return s.substr(F.lit(max(start, 1)), F.lit(2_147_483_647))
    s = _compile(args[0])
    start, ln = (_lit_of(args[1], "SUBSTRING start"),
                 _lit_of(args[2], "SUBSTRING length"))
    return s.substr(F.lit(start if start != 0 else 1), F.lit(ln))


def _sql(ast) -> str:
    """Tiny SQL rendering used only for substr-negative-start."""
    if ast[0] == "col":
        return f"`{ast[1]}`"
    if ast[0] == "lit" and isinstance(ast[1], str):
        return "'" + ast[1].replace("'", "''") + "'"
    raise EsqlError("ES|QL: negative SUBSTRING start needs a plain column")


def _arr_num(c: Column) -> Column:
    return F.filter(c, lambda x: x.isNotNull())


_IPV4_RE = (r"^((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}"
            r"(25[0-5]|2[0-4]\d|1?\d?\d)$")


def _ip_long(ast):
    """Dotted-quad string -> uint32 as long, NULL when not valid IPv4
    (the engine's IP surface is v4-only, documented)."""
    c = _compile(ast)
    p = F.split(c, r"\.")
    v = (p[0].cast("long") * 16777216 + p[1].cast("long") * 65536
         + p[2].cast("long") * 256 + p[3].cast("long"))
    return F.when(c.rlike(_IPV4_RE), v)


def _cidr_match(args, raw):
    """CIDR_MATCH(ip, 'net/bits', ...) — true if the ip falls in ANY
    block (ES semantics). Blocks are literals, so each test folds to
    one shift+compare in codegen."""
    if len(args) < 2:
        raise EsqlError("ES|QL: CIDR_MATCH(ip, 'block', ...)")
    ip = _ip_long(args[0])
    cond = None
    for spec in args[1:]:
        block = str(_lit_of(spec, "CIDR block"))
        net, _, bits_s = block.partition("/")
        try:
            bits = int(bits_s) if bits_s else 32
            parts = [int(x) for x in net.split(".")]
        except ValueError:
            raise EsqlError(f"ES|QL: bad CIDR block {block!r}") from None
        if (len(parts) != 4 or not 0 <= bits <= 32
                or any(not 0 <= x <= 255 for x in parts)):
            raise EsqlError(f"ES|QL: bad CIDR block {block!r}")
        net_l = (parts[0] << 24 | parts[1] << 16
                 | parts[2] << 8 | parts[3])
        shift = 32 - bits
        c = (F.shiftright(ip, shift) if shift else ip) \
            == F.lit(net_l >> shift)
        cond = c if cond is None else (cond | c)
    return F.coalesce(cond, F.lit(False))


def _ip_prefix(args, raw):
    """IP_PREFIX(ip, keep_bits): mask to the prefix and re-render
    dotted-quad (ES appends /len only for v6; v4 returns the masked
    address)."""
    bits = int(_lit_of(args[1], "IP_PREFIX bits"))
    if not 0 <= bits <= 32:
        raise EsqlError("ES|QL: IP_PREFIX bits in [0, 32]")
    v = _ip_long(args[0])
    shift = 32 - bits
    masked = (F.shiftleft(F.shiftright(v, shift), shift) if shift else v)
    # concat_ws skips NULLs (yielding ""), so gate on validity
    return F.when(v.isNotNull(), F.concat_ws(
        ".",
        (F.shiftright(masked, 24) % 256).cast("string"),
        (F.shiftright(masked, 16) % 256).cast("string"),
        (F.shiftright(masked, 8) % 256).cast("string"),
        (masked % 256).cast("string")))


def _now_fn(args, raw):
    """NOW() with an INJECTED clock: ``esql(..., now=...)`` pins the
    query timestamp, and NOW() compiles to that literal — the plan
    stays deterministic (same query + same now -> same plan), which is
    also how ES itself evaluates now for a whole request once, so
    every NOW() in one query sees one instant. Without an injected
    clock NOW() raises: a wall-clock read inside compilation would
    break the engine's deterministic-plan contract (oracle twins,
    resume, plan caching)."""
    if args:
        raise EsqlError("ES|QL: NOW() takes no arguments")
    now = getattr(_TLS, "now", None)
    if now is None:
        raise EsqlError(
            "ES|QL: NOW() needs an injected clock — call "
            "esql(..., now=<datetime or ISO string>) (deterministic "
            "plans; the engine never reads the wall clock), or pass "
            "the timestamp as a literal")
    return F.lit(now).cast("timestamp")


# ------------------------------------------------------ ST_* spatial
# ES|QL spatial functions over the geo kernels in operators.geo.
# Geometry model (documented scope): a geo_point VALUE is a struct
# with `lon`/`lat` double fields — that's how a geo_point field is
# stored in parquet, and what TO_GEOPOINT produces; a geo_shape QUERY
# geometry is a compile-time WKT literal (POINT / POLYGON single ring /
# ENVELOPE), unrolled into pure column expressions exactly like the
# DSL geo operators — no UDF, no join, whole-stage codegen. Field-side
# shapes (coordinate-array columns) stay on the DSL surface
# (operators.geo.shape_bbox_relation); ES|QL's own ST_* support is
# point-field-centric too. Boundary semantics: polygons use the strict
# even-odd ray cast (Lucene's crossing count, see point_in_polygon);
# envelopes are closed (touching counts).

_WKT_NUM = r"[-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]+)?"
_WKT_POINT_COL_RE = (r"^\s*POINT\s*\(\s*(" + _WKT_NUM + r")\s+("
                     + _WKT_NUM + r")\s*\)\s*$")


def _parse_wkt(s: str):
    """Driver-side WKT literal parser -> ('point', lon, lat) |
    ('envelope', min_lon, max_lon, max_lat, min_lat) |
    ('polygon', [(lat, lon), ...]) (outer ring; holes rejected)."""
    t = s.strip()
    m = re.match(r"(?is)^POINT\s*\(\s*(%s)\s+(%s)\s*\)$"
                 % (_WKT_NUM, _WKT_NUM), t)
    if m:
        return ("point", float(m.group(1)), float(m.group(2)))
    m = re.match(r"(?is)^ENVELOPE\s*\(\s*(%s)\s*,\s*(%s)\s*,\s*(%s)"
                 r"\s*,\s*(%s)\s*\)$" % ((_WKT_NUM,) * 4), t)
    if m:
        # ES WKT BBOX order: minLon, maxLon, maxLat, minLat
        return ("envelope", *(float(m.group(i)) for i in range(1, 5)))
    m = re.match(r"(?is)^POLYGON\s*\(\s*\(([^()]*)\)\s*\)$", t)
    if m:
        ring = []
        for pair in m.group(1).split(","):
            parts = pair.split()
            if len(parts) != 2:
                raise EsqlError(f"ES|QL: bad WKT ring vertex {pair!r}")
            lon, lat = float(parts[0]), float(parts[1])
            ring.append((lat, lon))
        if len(ring) >= 2 and ring[0] == ring[-1]:
            ring = ring[:-1]  # point_in_polygon closes implicitly
        if len(ring) < 3:
            raise EsqlError("ES|QL: polygon needs >= 3 distinct vertices")
        return ("polygon", ring)
    raise EsqlError(
        f"ES|QL: unsupported WKT {s!r} — POINT, single-ring POLYGON "
        f"and ENVELOPE(minLon, maxLon, maxLat, minLat) literals only")


def _to_geopoint(args, raw):
    """TO_GEOPOINT(expr): WKT 'POINT (lon lat)' string -> geo_point
    struct; non-point / malformed input -> NULL (ES conversion-error
    semantics). Pure regexp + cast — codegen, works on columns."""
    e = _compile(args[0]).cast("string")
    lon = F.regexp_extract(e, _WKT_POINT_COL_RE, 1)
    lat = F.regexp_extract(e, _WKT_POINT_COL_RE, 2)
    return F.when((lon != "") & (lat != ""),
                  F.struct(lon.cast("double").alias("lon"),
                           lat.cast("double").alias("lat")))


def _st_inside(point: Column, shape) -> Column:
    """point-in-shape predicate for a compiled geo_point expr vs a
    parsed WKT literal."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        point_in_polygon,
    )

    lon, lat = point["lon"], point["lat"]
    if shape[0] == "point":
        return (lon == F.lit(shape[1])) & (lat == F.lit(shape[2]))
    if shape[0] == "envelope":
        min_lon, max_lon, max_lat, min_lat = shape[1:]
        return (lon.between(min_lon, max_lon)
                & lat.between(min_lat, max_lat))
    return point_in_polygon(shape[1], lat, lon)


def _st_split_args(args, fname: str):
    """(point_expr_ast_index, shape) for a 2-arg ST_ relation: exactly
    one side must be a WKT string literal (or TO_GEOSHAPE/TO_GEOPOINT
    of one); the other compiles to a geo_point struct expression."""
    if len(args) != 2:
        raise EsqlError(f"ES|QL: {fname}(geom, geom) takes 2 args")

    def lit_str(ast):
        # unwrap TO_GEOSHAPE("...") / TO_GEOPOINT("...") of a literal
        if (ast[0] == "call" and ast[1] in ("to_geoshape", "to_geopoint")
                and len(ast[2]) == 1):
            ast = ast[2][0]
        return ast[1] if ast[0] == "lit" and isinstance(ast[1], str) \
            else None

    for i in (1, 0):
        s = lit_str(args[i])
        if s is not None:
            return 1 - i, _parse_wkt(s)
    raise EsqlError(
        f"ES|QL: {fname} needs one WKT literal side (the query "
        f"geometry) — two field-side geometries would be a spatial "
        f"join, out of this front end's scope")


def _st_relation(args, fname: str, relation: str) -> Column:
    pi, shape = _st_split_args(args, fname)
    inside = _st_inside(_compile(args[pi]), shape)
    if relation == "intersects":
        return inside
    if relation == "disjoint":
        return ~inside
    # CONTAINS/WITHIN are order-sensitive: A CONTAINS B == B WITHIN A.
    # With the field side a POINT, it can only contain/equal another
    # point; a polygon/envelope literal contains the point iff the
    # point is inside.
    lit_first = pi == 1
    point_is_container = (relation == "contains") == (not lit_first)
    if point_is_container:
        # point ⊇ shape (contains) / shape ⊆ point (within): true only
        # for an equal point literal
        if shape[0] == "point":
            return inside
        return F.lit(False)
    return inside


def _st_distance(args, raw):
    """ST_DISTANCE(geo_point, geo_point) -> meters (haversine, mean
    earth radius — same sphere ES's SloppyMath uses)."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        haversine_km,
    )

    if len(args) != 2:
        raise EsqlError("ES|QL: ST_DISTANCE(point, point) takes 2 args")

    def pt(ast):
        s = (ast[1] if ast[0] == "lit" and isinstance(ast[1], str)
             else None)
        if s is not None:
            shape = _parse_wkt(s)
            if shape[0] != "point":
                raise EsqlError("ES|QL: ST_DISTANCE needs POINT geometry")
            return F.lit(shape[1]), F.lit(shape[2])
        c = _compile(ast)
        return c["lon"], c["lat"]

    alon, alat = pt(args[0])
    blon, blat = pt(args[1])
    return haversine_km(alat, alon, blat, blon) * 1000.0


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _st_grid_args(args, fname: str) -> tuple[Column, int]:
    """(compiled point, int literal level) for ST_GEOHASH/ST_GEOTILE —
    the level must be a constant (ES allows expressions; the grid
    kernels here unroll the bit math at compile time, which is what
    makes them whole-stage-codegen instead of a UDF)."""
    if len(args) != 2:
        raise EsqlError(f"ES|QL: {fname}(point, level) takes 2 args")
    lvl = _lit_of(args[1], f"{fname} level")
    return _compile(args[0]), int(lvl)


def _st_geohash(args, raw):
    """ST_GEOHASH(point, precision) -> long, Lucene ``longEncode``
    layout: the 5*precision interleaved cell bits shifted left 4 with
    the precision in the low nibble (Java long wraparound at
    precision 12 included). Pure codegen via the shared
    ``geo.geohash_interleave`` kernel."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        geohash_interleave,
    )

    pt, prec = _st_grid_args(args, "ST_GEOHASH")
    if not 1 <= prec <= 12:
        raise EsqlError("ES|QL: ST_GEOHASH precision must be in [1,12]")
    h = geohash_interleave(pt["lat"], pt["lon"], prec)
    return F.shiftleft(h, 4) + F.lit(prec)


def _st_geohash_to_string(args, raw):
    """ST_GEOHASH_TO_STRING(long) -> base32 geohash. The precision
    rides in the low nibble, so the char count is data-dependent —
    unrolled to 12 guarded terms with dynamic unsigned shifts."""
    h = _compile(args[0]).cast("long")
    prec = h.bitwiseAND(F.lit(15)).cast("int")
    v = F.call_function("shiftrightunsigned", h, F.lit(4))
    alphabet = F.array(*[F.lit(c) for c in _GEOHASH_B32])
    chars = []
    for i in range(12):
        amt = (prec - 1 - F.lit(i)) * 5
        val = F.call_function("shiftrightunsigned", v, amt) \
            .bitwiseAND(F.lit(31))
        chars.append(F.when(F.lit(i) < prec,
                            F.element_at(alphabet, val.cast("int") + 1))
                     .otherwise(F.lit("")))
    return F.concat(*chars)


def _st_geohash_to_long(args, raw):
    """ST_GEOHASH_TO_LONG(string) -> packed long: fold the base32
    chars (acc*32 + digit) then append the length nibble — the exact
    inverse of :func:`_st_geohash_to_string`, as one ``aggregate``
    lambda (codegen, no UDF)."""
    s = F.lower(_compile(args[0]).cast("string"))
    alphabet = F.array(*[F.lit(c) for c in _GEOHASH_B32])
    chars = F.filter(F.split(s, ""), lambda c: c != F.lit(""))
    h = F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, c: acc * 32
        + (F.call_function("array_position", alphabet, c) - 1)
        .cast("long"))
    return F.shiftleft(h, 4) + F.length(s).cast("long")


def _st_geotile(args, raw):
    """ST_GEOTILE(point, zoom) -> long, ES ``GeoTileUtils.longEncode``
    layout: zoom<<58 | x<<29 | y (zoom <= 29, so x/y fit 29 bits)."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        geotile_xy,
    )

    pt, zoom = _st_grid_args(args, "ST_GEOTILE")
    x, y = geotile_xy(pt["lat"], pt["lon"], zoom)
    return F.lit(zoom << 58).cast("long") + F.shiftleft(x, 29) + y


def _st_geotile_to_string(args, raw):
    h = _compile(args[0]).cast("long")
    m29 = F.lit((1 << 29) - 1)
    return F.concat_ws(
        "/",
        F.shiftrightunsigned(h, 58).cast("string"),
        F.shiftrightunsigned(h, 29).bitwiseAND(m29).cast("string"),
        h.bitwiseAND(m29).cast("string"))


def _st_geotile_to_long(args, raw):
    p = F.split(_compile(args[0]).cast("string"), "/")
    z = F.element_at(p, 1).cast("long")
    x = F.element_at(p, 2).cast("long")
    y = F.element_at(p, 3).cast("long")
    return F.shiftleft(z, 58) + F.shiftleft(x, 29) + y


def _wkt_lit_bounds(ast):
    """(min_lon, min_lat, max_lon, max_lat) floats if the AST is a WKT
    string literal (or TO_GEOSHAPE/TO_GEOPOINT of one), else None."""
    if (ast[0] == "call" and ast[1] in ("to_geoshape", "to_geopoint")
            and len(ast[2]) == 1):
        ast = ast[2][0]
    if ast[0] != "lit" or not isinstance(ast[1], str):
        return None
    shape = _parse_wkt(ast[1])
    if shape[0] == "point":
        lon, lat = shape[1], shape[2]
        return lon, lat, lon, lat
    if shape[0] == "envelope":
        min_lon, max_lon, max_lat, min_lat = shape[1:]
        return min_lon, min_lat, max_lon, max_lat
    ring = shape[1]  # [(lat, lon), ...]
    lats = [p[0] for p in ring]
    lons = [p[1] for p in ring]
    return min(lons), min(lats), max(lons), max(lats)


def _st_envelope(args, raw):
    """ST_ENVELOPE(geometry) -> bounding box as a flat struct
    (min_lon, min_lat, max_lon, max_lat) — same representation
    ST_EXTENT_AGG uses, read back via ST_XMIN/XMAX/YMIN/YMAX. WKT
    literals fold to constants; a point field's envelope is the
    degenerate box at the point."""
    if len(args) != 1:
        raise EsqlError("ES|QL: ST_ENVELOPE(geometry) takes 1 arg")
    b = _wkt_lit_bounds(args[0])
    if b is not None:
        return F.struct(F.lit(b[0]).alias("min_lon"),
                        F.lit(b[1]).alias("min_lat"),
                        F.lit(b[2]).alias("max_lon"),
                        F.lit(b[3]).alias("max_lat"))
    pt = _compile(args[0])
    lon, lat = pt["lon"].cast("double"), pt["lat"].cast("double")
    return F.struct(lon.alias("min_lon"), lat.alias("min_lat"),
                    lon.alias("max_lon"), lat.alias("max_lat"))


def _st_bound(args, fname: str, env_field: str, axis: str):
    """ST_XMIN/XMAX/YMIN/YMAX over an envelope (from ST_ENVELOPE, a
    WKT literal, or an envelope-typed COLUMN — e.g. stored via
    ``EVAL e = ST_ENVELOPE(x)``; detected from the current frame's
    schema by the envelope struct shape) or a bare point (its own
    min == max)."""
    if len(args) != 1:
        raise EsqlError(f"ES|QL: {fname}(geometry) takes 1 arg")
    ast = args[0]
    if ast[0] == "call" and ast[1] == "st_envelope":
        return _compile(ast)[env_field].cast("double")
    if ast[0] == "col":
        # round-5 advisor fix: an envelope stored through EVAL reaches
        # here as a bare column — classify by struct shape instead of
        # falling through to the point accessor (which would fail
        # with an unresolved lat/lon field).
        sch = getattr(_TLS, "schema", None)
        if sch is not None and ast[1] in sch.names:
            dt = sch[ast[1]].dataType
            names = getattr(dt, "names", [])
            if "min_lon" in names and "max_lat" in names:
                return _compile(ast)[env_field].cast("double")
    b = _wkt_lit_bounds(ast)
    if b is not None:
        return F.lit(b[{"min_lon": 0, "min_lat": 1,
                        "max_lon": 2, "max_lat": 3}[env_field]])
    return _compile(ast)[axis].cast("double")


def _qstr(args, raw):
    """QSTR("lucene query"[, "default_field"]) — ES|QL's query_string
    function in FILTER context, compiled to one pure-Catalyst boolean
    over the analyzed token stream (no UDFs, no index needed). The
    query parses with the classic-QueryParser grammar shared with the
    index path (``operators.querystring.parse_query_string``), so the
    leaf/occur semantics match ``query_string_topk`` exactly: term
    leaves match if ANY analyzed token occurs (the index path's
    ``isin`` expansion), phrases are consecutive-token matches,
    prefix/wildcard/fuzzy expand per token (``EXISTS`` higher-order
    functions — fuzzy via ``levenshtein``), MUST all hold, SHOULDs
    beside MUSTs only add score (boolean no-op here), a group of only
    SHOULDs needs one, MUST_NOTs exclude, pure-negative raises (the
    Lucene rule the index path enforces too). Unqualified leaves need
    the second default_field argument (ES resolves them against
    index.query.default_field — this engine's table path has no index
    settings to read, so the field is explicit)."""
    from .querystring import (MUST, MUST_NOT, SHOULD, Leaf,
                              parse_query_string)

    if not 1 <= len(args) <= 2:
        raise EsqlError("ES|QL: QSTR(query[, default_field])")
    q = str(_lit_of(args[0], "QSTR query"))
    default_field = (str(_lit_of(args[1], "QSTR default_field"))
                     if len(args) == 2 else None)
    an = _match_analyzer()

    def toks_of(field: str | None) -> Column:
        f = field or default_field
        if f is None:
            raise EsqlError(
                "ES|QL QSTR: unqualified clause needs a default field "
                "— QSTR(query, default_field) or qualify as field:term")
        return tokenize_expr(F.col(f), an)

    return _qstr_column(q, {"analyzer": an}, toks_of)


def _qstr_column(q: str, meta: dict, toks_of) -> Column:
    """Core QSTR tree -> Column compiler, parameterized by the
    token-stream resolver so the persisted-index path can point leaves
    at the docstats term-vector column instead of re-tokenizing.
    Leaf text is analyzed by ``query.analyze`` under ``meta`` (the
    index meta on the index path, so its token length bounds drop
    the query terms the doc side dropped)."""
    from .querystring import (MUST, MUST_NOT, SHOULD, Leaf,
                              parse_query_string)

    try:
        tree = parse_query_string(q)
    except ValueError as e:
        raise EsqlError(f"ES|QL QSTR: {e}") from None

    def leaf(lf: Leaf) -> Column | None:
        if lf.kind == "exists":
            return F.col(lf.text).isNotNull()
        toks = toks_of(lf.field)
        if lf.kind == "term":
            terms = list(dict.fromkeys(analyze(lf.text, meta)))
            if not terms:
                return None      # analyzed-away clause vanishes
            return F.arrays_overlap(
                toks, F.array(*[F.lit(t) for t in terms]))
        if lf.kind == "phrase":
            if lf.slop:
                raise EsqlError(
                    "ES|QL QSTR: phrase slop (~N) needs positional "
                    "postings — use the persisted-index query_string "
                    "path")
            terms = analyze(lf.text, meta)
            if not terms:
                return None
            return phrase_match_expr(toks, terms)
        if lf.kind == "prefix":
            pre = lf.text.lower()
            return F.exists(toks, lambda t: t.startswith(pre))
        if lf.kind == "wildcard":
            pat = re.escape(lf.text.lower()) \
                .replace(r"\*", ".*").replace(r"\?", ".")
            return F.exists(toks, lambda t: t.rlike("^" + pat + "$"))
        if lf.kind == "fuzzy":
            w = lf.text.lower()
            edits = min(lf.fuzz, 2)
            return F.exists(
                toks, lambda t: F.levenshtein(t, F.lit(w)) <= edits)
        raise EsqlError(f"ES|QL QSTR: unsupported leaf {lf.kind!r}")

    def node(n) -> Column | None:
        if isinstance(n, Leaf):
            return leaf(n)
        musts = [c for c in (node(x) for occ, x in n.children
                             if occ == MUST) if c is not None]
        shoulds = [c for c in (node(x) for occ, x in n.children
                               if occ == SHOULD) if c is not None]
        nots = [c for c in (node(x) for occ, x in n.children
                            if occ == MUST_NOT) if c is not None]
        cond = None
        for m in musts:
            cond = m if cond is None else cond & m
        if cond is None and shoulds:
            cond = shoulds[0]
            for s in shoulds[1:]:
                cond = cond | s
        if cond is None:
            if nots:
                raise EsqlError("ES|QL QSTR: purely negative query "
                                "matches nothing")
            return None
        for x in nots:
            cond = cond & ~x
        return cond

    out = node(tree)
    # every clause analyzed away (all stopwords): Lucene's
    # MatchNoDocsQuery
    return F.lit(False) if out is None else out


_KQL_TOK = re.compile(r'"(?:[^"\\]|\\.)*"|[():]|[<>]=?|[^\s():<>"]+')


def _kql(args, raw):
    """KQL(query[, default_field]) — ES|QL's kql() full-text function
    (8.16+) compiled to one pure-Catalyst boolean. The supported KQL
    grammar: ``and``/``or``/``not`` (case-insensitive words, KQL's
    operator spelling), parentheses, ``field:value`` (value matches if
    ANY analyzed token of the value occurs among the field's analyzed
    tokens — ES's match-on-text semantics; the table path has no
    mapping so every string field is text), ``field:"a phrase"``
    (consecutive analyzed tokens), ``field:(a or b)`` value groups,
    trailing/leading ``*`` wildcards in values (token-level rlike),
    ``field:*`` existence, and ``field >= lit`` range comparisons
    (numeric when the literal parses as a number). Unqualified bare
    terms need the second ``default_field`` argument — same engine
    extension QSTR uses (ES resolves them against the index's
    default_field setting, which a table has none of)."""
    if not 1 <= len(args) <= 2:
        raise EsqlError("ES|QL: KQL(query[, default_field])")
    q = str(_lit_of(args[0], "KQL query"))
    default_field = (str(_lit_of(args[1], "KQL default_field"))
                     if len(args) == 2 else None)
    an = _match_analyzer()
    return _kql_column(q, default_field, {"analyzer": an},
                       lambda f: tokenize_expr(F.col(f), an))


def _kql_column(q: str, default_field: str | None, meta: dict,
                ftoks_of, col_of=F.col) -> Column:
    """Core KQL tree -> Column compiler, parameterized by the
    token-stream resolver (``ftoks_of(field) -> Column``) and the
    plain-column resolver (``col_of``, for ``field:*`` existence) so
    the persisted-index path can point the text field's leaves at the
    docstats term-vector column."""
    toks = _KQL_TOK.findall(q)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def next_():
        t = peek()
        if t is None:
            raise EsqlError("ES|QL KQL: unexpected end of query")
        pos[0] += 1
        return t

    def is_word(t, w):
        return t is not None and t.lower() == w

    def value_match(field: str, val: str) -> Column:
        ftoks = ftoks_of(field)
        if val.startswith('"'):
            phrase = re.sub(r'\\(.)', r'\1', val[1:-1])
            terms = analyze(phrase, meta)
            if not terms:
                return F.lit(False)
            return phrase_match_expr(ftoks, terms)
        if val == "*":
            return col_of(field).isNotNull()
        if "*" in val:
            pat = re.escape(val.lower()).replace(r"\*", ".*")
            return F.exists(ftoks, lambda t: t.rlike("^" + pat + "$"))
        terms = query_terms(val, meta)
        if not terms:
            return F.lit(False)
        return F.arrays_overlap(
            ftoks, F.array(*[F.lit(t) for t in terms]))

    def value_group(field: str) -> Column:
        # field:(a or b [or c ...]) / field:(a and b) / not inside
        # groups (Kibana: field:(a and not b))
        if is_word(peek(), "not"):
            next_()
            return ~value_group(field)
        if peek() == "(":
            next_()
            cond = value_group(field)
            while True:
                t = peek()
                if t == ")":
                    next_()
                    return cond
                if is_word(t, "or"):
                    next_()
                    cond = cond | value_group(field)
                elif is_word(t, "and"):
                    next_()
                    cond = cond & value_group(field)
                else:
                    raise EsqlError(
                        "ES|QL KQL: expected OR/AND/) in value group, "
                        f"got {t!r}")
        t = next_()
        if t in (")", ":", "<", ">", "<=", ">=") \
                or t.lower() in ("and", "or"):
            raise EsqlError(f"ES|QL KQL: expected a value, got {t!r}")
        return value_match(field, t)

    def range_lit(s: str):
        if s.startswith('"'):
            return re.sub(r'\\(.)', r'\1', s[1:-1])
        try:
            return int(s)
        except ValueError:
            pass
        try:
            return float(s)
        except ValueError:
            return s

    def primary() -> Column:
        t = peek()
        if t == "(":
            next_()
            c = or_expr()
            if next_() != ")":
                raise EsqlError("ES|QL KQL: unbalanced parens")
            return c
        if is_word(t, "not"):
            next_()
            return ~primary()
        t = next_()
        if t in (")", ":"):
            raise EsqlError(f"ES|QL KQL: unexpected {t!r}")
        nxt = peek()
        if nxt == ":":
            next_()
            return value_group(t)
        if nxt in ("<", ">", "<=", ">="):
            op = next_()
            lit = range_lit(next_())
            col = F.col(t)
            return {"<": col < lit, "<=": col <= lit,
                    ">": col > lit, ">=": col >= lit}[op]
        if default_field is None:
            raise EsqlError(
                "ES|QL KQL: unqualified term needs a default field — "
                "KQL(query, default_field) or qualify as field:term")
        return value_match(default_field, t)

    def and_expr() -> Column:
        c = primary()
        while is_word(peek(), "and"):
            next_()
            c = c & primary()
        return c

    def or_expr() -> Column:
        c = and_expr()
        while is_word(peek(), "or"):
            next_()
            c = c | and_expr()
        return c

    if not toks:
        # KQL empty query matches all (Kibana's blank bar)
        return F.lit(True)
    out = or_expr()
    if pos[0] != len(toks):
        raise EsqlError(
            f"ES|QL KQL: trailing input at {toks[pos[0]]!r}")
    return out


def _categorize(args, raw):
    """CATEGORIZE(field) — ES|QL's log-categorization grouping
    function (STATS .. BY CATEGORIZE(message)). Emits the same
    deterministic token-skeleton key as the categorize_text
    aggregation (one shared kernel — see
    ``operators.intersect.categorize_key`` for the documented
    deviation from ES's arrival-order-dependent merge heuristic), so
    ``STATS COUNT(*) BY CATEGORIZE(x)`` buckets exactly like the agg
    and reduces with one map-side-combined groupBy."""
    from .intersect import categorize_key

    if len(args) != 1:
        raise EsqlError("ES|QL: CATEGORIZE(field) takes one argument")
    return categorize_key(_compile(args[0]))


# name -> fn(arg_asts, raw_text) -> Column
_FUNCS: dict[str, Callable[[list, str], Column]] = {
    # math
    "abs": lambda a, r: F.abs(_compile(a[0])),
    "ceil": lambda a, r: F.ceil(_compile(a[0])),
    "floor": lambda a, r: F.floor(_compile(a[0])),
    "sqrt": lambda a, r: F.sqrt(_compile(a[0])),
    "exp": lambda a, r: F.exp(_compile(a[0])),
    "log10": lambda a, r: F.log10(_compile(a[0])),
    "log": lambda a, r: (F.log(_compile(a[0])) if len(a) == 1 else
                         F.log(_compile(a[1])) / F.log(_compile(a[0]))),
    "pow": lambda a, r: F.pow(_compile(a[0]), _compile(a[1])),
    "round": lambda a, r: F.round(_compile(a[0]),
                                  _lit_of(a[1], "ROUND digits")
                                  if len(a) > 1 else 0),
    "signum": lambda a, r: F.signum(_compile(a[0])),
    "sin": lambda a, r: F.sin(_compile(a[0])),
    "cos": lambda a, r: F.cos(_compile(a[0])),
    "tan": lambda a, r: F.tan(_compile(a[0])),
    "asin": lambda a, r: F.asin(_compile(a[0])),
    "acos": lambda a, r: F.acos(_compile(a[0])),
    "atan": lambda a, r: F.atan(_compile(a[0])),
    "atan2": lambda a, r: F.atan2(_compile(a[0]), _compile(a[1])),
    "sinh": lambda a, r: F.sinh(_compile(a[0])),
    "cosh": lambda a, r: F.cosh(_compile(a[0])),
    "tanh": lambda a, r: F.tanh(_compile(a[0])),
    "cbrt": lambda a, r: F.cbrt(_compile(a[0])),
    "hypot": lambda a, r: F.hypot(_compile(a[0]), _compile(a[1])),
    # SCALB(d, n) = d * 2^n (Java Math.scalb; exact for integer n —
    # pow(2, n) is a power of two, so the multiply only adjusts the
    # exponent field)
    "scalb": lambda a, r: _compile(a[0]).cast("double")
    * F.pow(F.lit(2.0), _compile(a[1]).cast("double")),
    # COPY_SIGN(magnitude, sign): Java Math.copySign, except -0.0
    # counts as positive here (sign-bit introspection needs no
    # real-data distinction). NULL sign propagates NULL (Java null
    # semantics) — a bare otherwise() would treat the NULL
    # comparison as false and wrongly negate.
    "copy_sign": lambda a, r: F.when(
        _compile(a[1]).cast("double").isNull(),
        F.lit(None).cast("double"))
    .when(_compile(a[1]).cast("double") >= 0, F.abs(_compile(a[0])))
    .otherwise(-F.abs(_compile(a[0]))),
    "round_to": lambda a, r: _round_to(a),
    "to_degrees": lambda a, r: F.degrees(_compile(a[0])),
    "to_radians": lambda a, r: F.radians(_compile(a[0])),
    "e": lambda a, r: F.lit(2.718281828459045),
    "pi": lambda a, r: F.lit(3.141592653589793),
    "tau": lambda a, r: F.lit(6.283185307179586),
    # string
    "concat": lambda a, r: F.concat(*[_compile(x) for x in a]),
    "length": lambda a, r: F.length(_compile(a[0])),
    "to_lower": lambda a, r: F.lower(_compile(a[0])),
    "to_upper": lambda a, r: F.upper(_compile(a[0])),
    "trim": lambda a, r: F.trim(_compile(a[0])),
    "ltrim": lambda a, r: F.ltrim(_compile(a[0])),
    "rtrim": lambda a, r: F.rtrim(_compile(a[0])),
    "reverse": lambda a, r: F.reverse(_compile(a[0])),
    "left": lambda a, r: _compile(a[0]).substr(
        F.lit(1), F.lit(_lit_of(a[1], "LEFT n"))),
    "right": lambda a, r: F.expr("substr({}, -{})".format(
        _sql(a[0]), _lit_of(a[1], "RIGHT n"))),
    "replace": lambda a, r: F.regexp_replace(
        _compile(a[0]), _lit_of(a[1], "REPLACE regex"),
        _lit_of(a[2], "REPLACE new")),
    "split": lambda a, r: F.split(
        _compile(a[0]), re.escape(_lit_of(a[1], "SPLIT delim"))),
    "starts_with": lambda a, r: _compile(a[0]).startswith(_compile(a[1])),
    "ends_with": lambda a, r: _compile(a[0]).endswith(_compile(a[1])),
    "locate": lambda a, r: F.locate(
        _lit_of(a[1], "LOCATE substr"), _compile(a[0]),
        _lit_of(a[2], "LOCATE start") if len(a) > 2 else 1),
    "repeat": lambda a, r: F.repeat(_compile(a[0]),
                                    _lit_of(a[1], "REPEAT n")),
    "substring": _substring,
    "hash": lambda a, r: _hash_fn(a, r),
    "md5": lambda a, r: F.md5(_compile(a[0]).cast("binary")),
    "sha1": lambda a, r: F.sha1(_compile(a[0]).cast("binary")),
    "sha256": lambda a, r: F.sha2(_compile(a[0]).cast("binary"), 256),
    "space": lambda a, r: _space(a),
    "bit_length": lambda a, r: F.bit_length(_compile(a[0])),
    "byte_length": lambda a, r: F.octet_length(_compile(a[0])),
    "to_base64": lambda a, r: F.base64(
        _compile(a[0]).cast("binary")),
    "from_base64": lambda a, r: F.unbase64(
        _compile(a[0])).cast("string"),
    # conditional / conversion
    "coalesce": lambda a, r: F.coalesce(*[_compile(x) for x in a]),
    "greatest": lambda a, r: F.greatest(*[_compile(x) for x in a]),
    "least": lambda a, r: F.least(*[_compile(x) for x in a]),
    "case": lambda a, r: _case(a),
    "to_string": lambda a, r: _compile(a[0]).cast("string"),
    "to_integer": lambda a, r: _compile(a[0]).cast("int"),
    "to_int": lambda a, r: _compile(a[0]).cast("int"),
    "to_long": lambda a, r: _compile(a[0]).cast("long"),
    "to_double": lambda a, r: _compile(a[0]).cast("double"),
    "to_boolean": lambda a, r: _compile(a[0]).cast("boolean"),
    "to_datetime": lambda a, r: _compile(a[0]).cast("timestamp"),
    # ip (v4; see _ip_long)
    "to_ip": lambda a, r: F.when(
        _compile(a[0]).rlike(_IPV4_RE), _compile(a[0])),
    "cidr_match": _cidr_match,
    "ip_prefix": _ip_prefix,
    # spatial (ST_* section above; geo_point = struct<lon, lat>)
    "to_geopoint": _to_geopoint,
    "to_geoshape": _to_geopoint,  # POINT via the same parse; POLYGON/
    # ENVELOPE literals are consumed un-compiled by the ST_ relations
    "st_x": lambda a, r: _compile(a[0])["lon"].cast("double"),
    "st_y": lambda a, r: _compile(a[0])["lat"].cast("double"),
    "st_distance": _st_distance,
    "st_geohash": _st_geohash,
    "st_geohash_to_string": _st_geohash_to_string,
    "st_geohash_to_long": _st_geohash_to_long,
    "st_geotile": _st_geotile,
    "st_geotile_to_string": _st_geotile_to_string,
    "st_geotile_to_long": _st_geotile_to_long,
    "st_envelope": _st_envelope,
    "st_xmin": lambda a, r: _st_bound(a, "ST_XMIN", "min_lon", "lon"),
    "st_xmax": lambda a, r: _st_bound(a, "ST_XMAX", "max_lon", "lon"),
    "st_ymin": lambda a, r: _st_bound(a, "ST_YMIN", "min_lat", "lat"),
    "st_ymax": lambda a, r: _st_bound(a, "ST_YMAX", "max_lat", "lat"),
    "qstr": _qstr,
    "kql": _kql,
    "categorize": _categorize,
    "st_intersects": lambda a, r: _st_relation(a, "ST_INTERSECTS",
                                               "intersects"),
    "st_disjoint": lambda a, r: _st_relation(a, "ST_DISJOINT",
                                             "disjoint"),
    "st_contains": lambda a, r: _st_relation(a, "ST_CONTAINS",
                                             "contains"),
    "st_within": lambda a, r: _st_relation(a, "ST_WITHIN", "within"),
    # date
    "now": _now_fn,
    "bucket": _bucket,
    "date_trunc": lambda a, r: _date_trunc(a),
    "date_extract": lambda a, r: _date_extract(a),
    "date_diff": _date_diff,
    "date_format": lambda a, r: F.date_format(
        _compile(a[1]), _lit_of(a[0], "DATE_FORMAT pattern")),
    "date_parse": lambda a, r: F.to_timestamp(
        _compile(a[1]), _lit_of(a[0], "DATE_PARSE pattern")),
    # multivalue (array columns)
    "mv_count": lambda a, r: F.size(_compile(a[0])),
    "mv_min": lambda a, r: F.array_min(_compile(a[0])),
    "mv_max": lambda a, r: F.array_max(_compile(a[0])),
    "mv_sum": lambda a, r: F.aggregate(
        _arr_num(_compile(a[0])), F.lit(0.0),
        lambda acc, x: acc + x.cast("double")),
    "mv_avg": lambda a, r: F.aggregate(
        _arr_num(_compile(a[0])), F.lit(0.0),
        lambda acc, x: acc + x.cast("double"))
        / F.size(_arr_num(_compile(a[0]))),
    "mv_first": lambda a, r: F.element_at(_compile(a[0]), 1),
    "mv_last": lambda a, r: F.element_at(_compile(a[0]), -1),
    "mv_dedupe": lambda a, r: F.array_distinct(_compile(a[0])),
    "mv_sort": lambda a, r: F.sort_array(
        _compile(a[0]),
        asc=str(_lit_of(a[1], "MV_SORT order")).lower() != "desc"
        if len(a) > 1 else True),
    "mv_concat": lambda a, r: F.array_join(
        _compile(a[0]), _lit_of(a[1], "MV_CONCAT delim")),
    "mv_append": lambda a, r: F.concat(_compile(a[0]), _compile(a[1])),
    "mv_contains": lambda a, r: F.array_contains(
        _compile(a[0]), _lit_of(a[1], "MV_CONTAINS value")),
    "mv_median": lambda a, r: _mv_median(a),
    "mv_percentile": lambda a, r: _mv_percentile(a),
    "mv_pseries_weighted_sum": lambda a, r: _mv_pseries(a),
    "mv_zip": lambda a, r: F.zip_with(
        _compile(a[0]), _compile(a[1]),
        lambda x, y: F.concat_ws(
            _lit_of(a[2], "MV_ZIP delim") if len(a) > 2 else ",",
            x, y)),
    "mv_slice": lambda a, r: F.slice(
        _compile(a[0]), _lit_of(a[1], "MV_SLICE start") + 1,
        (_lit_of(a[2], "MV_SLICE end") - _lit_of(a[1], "x") + 1)
        if len(a) > 2 else 1),
}


def _hash_fn(args, raw):
    """HASH(algorithm, input) — ES|QL 8.17: algorithm-first argument
    order (MD5/SHA-1/SHA-256/SHA-512 of the JVM's MessageDigest; the
    same JVM primitives back Spark's hash functions, so digests agree
    byte-for-byte)."""
    if len(args) != 2:
        raise EsqlError("ES|QL: HASH(algorithm, input)")
    alg = str(_lit_of(args[0], "HASH algorithm")).lower().replace("-", "")
    x = _compile(args[1]).cast("binary")
    if alg == "md5":
        return F.md5(x)
    if alg == "sha1":
        return F.sha1(x)
    if alg in ("sha224", "sha256", "sha384", "sha512"):
        return F.sha2(x, int(alg[3:]))
    raise EsqlError(f"ES|QL: HASH: unknown algorithm {alg!r} "
                    "(md5, sha1, sha224, sha256, sha384, sha512)")


def _space(args):
    n = _lit_of(args[0], "SPACE n")
    if not isinstance(n, int) or n < 0:
        raise EsqlError("ES|QL: SPACE needs a non-negative integer "
                        "(ES rejects negatives too)")
    return F.repeat(F.lit(" "), n)


def _mv_percentile(args):
    """MV_PERCENTILE(values, p): exact in-row percentile with linear
    interpolation over the sorted array (the same estimator PERCENTILE
    uses on exact data). Result is always double (same documented
    type divergence as MV_MEDIAN — ES keeps the field's integer
    type); NULL for empty/NULL input, p clamped to [0, 100] like ES."""
    if len(args) != 2:
        raise EsqlError("ES|QL: MV_PERCENTILE(values, p)")
    p = float(_lit_of(args[1], "MV_PERCENTILE p"))
    p = min(max(p, 0.0), 100.0)
    arr = F.array_sort(_arr_num(_compile(args[0])))
    n = F.size(arr)
    pos = (n - 1).cast("double") * F.lit(p / 100.0)
    lo = F.floor(pos).cast("int")
    frac = pos - lo.cast("double")
    v_lo = F.element_at(arr, lo + 1).cast("double")
    v_hi = F.element_at(arr, F.least(lo + F.lit(2), n)).cast("double")
    return F.when(n > 0, v_lo + (v_hi - v_lo) * frac)


def _mv_pseries(args):
    """MV_PSERIES_WEIGHTED_SUM(values, p): Σ values[i] / i^p over the
    array's own order (1-based — ES expects the field pre-sorted
    descending and scores top-heavy rank lists). One codegen
    aggregate, no shuffle."""
    if len(args) != 2:
        raise EsqlError("ES|QL: MV_PSERIES_WEIGHTED_SUM(values, p)")
    p = float(_lit_of(args[1], "MV_PSERIES_WEIGHTED_SUM p"))
    arr = _arr_num(_compile(args[0]))
    weighted = F.transform(
        arr, lambda x, i: x.cast("double")
        / F.pow((i + F.lit(1)).cast("double"), F.lit(p)))
    return F.when(F.size(arr) > 0, F.aggregate(
        weighted, F.lit(0.0), lambda acc, x: acc + x))


def _mv_median(args):
    """Exact in-row median of an array column: sort + middle pick
    (even length: mean of the two middles). DIVERGENCE, documented:
    the result is always double with the exact average — ES keeps the
    field's integer type and rounds the even-count average down."""
    arr = F.array_sort(_arr_num(_compile(args[0])))
    n = F.size(arr)
    lo = F.element_at(arr, (n / 2).cast("int")).cast("double")
    hi = F.element_at(arr, (n / 2).cast("int") + 1).cast("double")
    return (F.when(n == 0, F.lit(None).cast("double"))
            .when(n % 2 == 1, hi)
            .otherwise((lo + hi) / 2.0))


def _case(args):
    if len(args) < 2:
        raise EsqlError("ES|QL: CASE(cond, val, ..., [default])")
    pairs, default = args, None
    if len(args) % 2 == 1:
        pairs, default = args[:-1], args[-1]
    col = None
    for i in range(0, len(pairs), 2):
        c, v = _compile(pairs[i]), _compile(pairs[i + 1])
        col = F.when(c, v) if col is None else col.when(c, v)
    return col.otherwise(_compile(default)) if default is not None else col


def _date_trunc(args):
    if len(args) != 2:
        raise EsqlError("ES|QL: DATE_TRUNC(span, date)")
    secs, unit = _span_of(args[0], "DATE_TRUNC span")
    e = _compile(args[1])
    if unit:
        return F.date_trunc(unit, e)
    from ..functions.analysis import time_bucket

    return time_bucket(e, int(secs))


def _round_to(args):
    """ROUND_TO(value, p1, p2, ...) (ES 9.1): the greatest point <=
    value; values below every point take the SMALLEST point (ES's
    down-rounding bucket rule). Points must be numeric literals, so
    the chain folds to constants — the fixed-histogram fast path the
    function exists for."""
    if len(args) < 2:
        raise EsqlError("ES|QL: ROUND_TO(value, p1[, p2, ...])")
    v = _compile(args[0])
    pts = sorted(float(_lit_of(p, "ROUND_TO point")) for p in args[1:])
    out = F.lit(pts[0])
    for p in pts[1:]:
        out = F.when(v >= F.lit(p), F.lit(p)).otherwise(out)
    return F.when(v.isNotNull(), out)


def _date_extract(args):
    part = str(_lit_of(args[0], "DATE_EXTRACT part")).lower()
    if part not in _DATE_PARTS:
        raise EsqlError(f"ES|QL: DATE_EXTRACT part {part!r} not supported")
    fns = {"year": F.year, "month": F.month, "day": F.dayofmonth,
           "hour": F.hour, "minute": F.minute, "second": F.second,
           "dayofweek": F.dayofweek, "doy": F.dayofyear,
           "week": F.weekofyear, "quarter": F.quarter}
    return fns[_DATE_PARTS[part]](
        _compile(args[1]).cast("timestamp")).cast("long")


# compile-time analyzer used by boolean match() — thread-local so
# concurrent esql() calls with different analyzers on one driver
# (the normal multi-threaded job-submission pattern) cannot race
import threading

_TLS = threading.local()


def _match_analyzer() -> str:
    return getattr(_TLS, "analyzer", "simple")


def _compile(ast) -> Column:
    kind = ast[0]
    if kind == "lit":
        return F.lit(ast[1])
    if kind == "col":
        return F.col(ast[1])
    if kind == "neg":
        return -_compile(ast[1])
    if kind == "not":
        return ~_compile(ast[1])
    if kind == "bin":
        # timestamp ± span arithmetic (`NOW() - 1 hour`, `ts + 3 day`):
        # fixed spans add exact seconds; calendar spans (1 month/year)
        # ES date-math via a literal INTERVAL (stays in codegen).
        if ast[1] in ("+", "-") and ("span" in (ast[2][0], ast[3][0])):
            if ast[2][0] == "span":
                if ast[1] == "-":
                    raise EsqlError("ES|QL: span - timestamp is not a "
                                    "date expression")
                base, sp = ast[3], ast[2]
            else:
                base, sp = ast[2], ast[3]
            secs, unit = _span_of(sp, "date arithmetic")
            b = _compile(base).cast("timestamp")
            if unit is not None:
                iv = F.expr(f"INTERVAL 1 {unit.upper()}")
                return b + iv if ast[1] == "+" else b - iv
            delta = secs if ast[1] == "+" else -secs
            return F.timestamp_add("SECOND", F.lit(delta), b)
        op, l, r = ast[1], _compile(ast[2]), _compile(ast[3])
        if op == "and":
            return l & r
        if op == "or":
            return l | r
        if op == "==":
            return l == r
        if op == "!=":
            return l != r
        if op == "<":
            return l < r
        if op == "<=":
            return l <= r
        if op == ">":
            return l > r
        if op == ">=":
            return l >= r
        if op == "+":
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            return l / r
        if op == "%":
            return l % r
    if kind == "in":
        c = _compile(ast[1]).isin([_lit_of(x, "IN item") for x in ast[2]])
        return ~c if ast[3] else c
    if kind == "like":
        _, e, pat, is_regex, neg = ast
        c = (_compile(e).rlike(f"^(?:{pat})$") if is_regex
             else _compile(e).like(_like_to_sql(pat)))
        return ~c if neg else c
    if kind == "isnull":
        c = _compile(ast[1]).isNull()
        return ~c if ast[2] else c
    if kind == "cast":
        ty = {"string": "string", "keyword": "string", "text": "string",
              "int": "int", "integer": "int", "long": "long",
              "double": "double", "float": "float", "boolean": "boolean",
              "datetime": "timestamp", "date": "timestamp"}.get(ast[2])
        if ty is None:
            raise EsqlError(f"ES|QL: unknown cast type {ast[2]!r}")
        return _compile(ast[1]).cast(ty)
    if kind == "match":
        # non-scoring context: ES match-in-filter — true if ANY analyzed
        # query term occurs among the field's analyzed tokens (pure
        # Catalyst: arrays_overlap over tokenize_expr). The 9.1
        # options map tightens the requirement: operator "and" /
        # minimum_should_match N -> at least N distinct query terms
        # present (array_intersect size), still one codegen pass.
        field_ast, q_ast = ast[1], ast[2]
        if field_ast[0] != "col":
            raise EsqlError("ES|QL: match needs a field on the left")
        query = _lit_of(q_ast, "match query")
        terms = sorted(set(tokenize_py(str(query), _match_analyzer())))
        if not terms:
            return F.lit(False)
        opts = _match_opts(ast)
        msm = int(opts.get("minimum_should_match", 1))
        if str(opts.get("operator", "or")).lower() == "and":
            msm = max(msm, len(terms))
        tarr = F.array(*[F.lit(t) for t in terms])
        toks = tokenize_expr(F.col(field_ast[1]), _match_analyzer())
        if msm > 1:
            return F.size(F.array_intersect(F.array_distinct(toks),
                                            tarr)) >= msm
        return F.arrays_overlap(toks, tarr)
    if kind == "phrase_match":
        # MATCH_PHRASE(field, "q"): true iff the analyzed query tokens
        # occur CONSECUTIVELY in the field's analyzed token stream
        # (intersect.phrase_match_expr — the table-path twin of the
        # positional-postings intersect.match_phrase; slop=0 only,
        # ES's default).
        field_ast, q_ast = ast[1], ast[2]
        if field_ast[0] != "col":
            raise EsqlError("ES|QL: match_phrase needs a field on "
                            "the left")
        query = _lit_of(q_ast, "match_phrase query")
        terms = tokenize_py(str(query), _match_analyzer())  # keep order
        if not terms:
            return F.lit(False)
        return phrase_match_expr(
            tokenize_expr(F.col(field_ast[1]), _match_analyzer()), terms)
    if kind == "list":
        return F.array(*[_compile(x) for x in ast[1]])
    if kind == "call":
        if ast[1] == "knn":
            raise EsqlError("ES|QL: KNN() is only valid as a WHERE "
                            "conjunct with METADATA _score")
        fn = _FUNCS.get(ast[1])
        if fn is None:
            raise EsqlError(f"ES|QL: unknown function {ast[1].upper()}")
        return fn(ast[2], "")
    if kind == "span":
        raise EsqlError("ES|QL: time span literal only valid in "
                        "BUCKET/DATE_TRUNC")
    if kind == "star":
        raise EsqlError("ES|QL: * only valid in COUNT(*)")
    raise EsqlError(f"ES|QL: cannot compile {ast!r}")


# ============================================================== aggregates

def _agg_col(name: str, args: list, where: Column | None) -> Column:
    """STATS aggregate -> Column. `where` is the per-agg filter."""
    def arg(i=0) -> Column:
        c = _compile(args[i])
        return F.when(where, c) if where is not None else c

    if name == "count":
        if args and args[0][0] == "star":
            return (F.count(F.when(where, F.lit(1))) if where is not None
                    else F.count(F.lit(1)))
        return F.count(arg())
    if name == "count_distinct":
        # exact (ES approximates via HLL above precision_threshold; the
        # value-for-value gate needs exactness, documented divergence)
        return F.countDistinct(arg())
    if name in ("sum", "avg", "min", "max"):
        return getattr(F, name)(arg())
    if name == "median":
        # exact interpolated percentile (ES approximates via TDigest —
        # the documented divergence); `arg()` already folds a per-agg
        # WHERE into NULLs, which percentile skips on both engines
        return F.percentile(arg().cast("double"), F.lit(0.5))
    if name == "percentile":
        p = _lit_of(args[1], "PERCENTILE p")
        return F.percentile(arg().cast("double"), F.lit(float(p) / 100.0))
    if name == "median_absolute_deviation":
        # rewritten to a plain median over pre-joined deviations by
        # _stats (the agg is inherently two-pass); reaching here means
        # MAD appeared outside STATS
        raise EsqlError("ES|QL: MEDIAN_ABSOLUTE_DEVIATION is only "
                        "valid in STATS")
    if name == "values":
        # ES returns an unordered multivalue; sorted here for plan
        # determinism (documented divergence)
        return F.sort_array(F.collect_set(arg()))
    if name == "top":
        n = _lit_of(args[1], "TOP n")
        order = str(_lit_of(args[2], "TOP order")).lower() \
            if len(args) > 2 else "desc"
        return F.slice(F.sort_array(F.collect_list(arg()),
                                    asc=order == "asc"), 1, n)
    if name == "st_centroid_agg":
        # ES geo centroid: arithmetic mean of lon/lat over the group
        # (ES accumulates in the same degree space) -> geo_point struct
        c = arg()
        return F.struct(F.avg(c["lon"]).alias("lon"),
                        F.avg(c["lat"]).alias("lat"))
    if name == "st_extent_agg":
        # ES spatial extent: the group's bounding box. ES returns a
        # BBOX geo_shape; here a flat struct of the four bounds (read
        # back via field access — same information, columnar-friendly).
        # No dateline splitting (ES only wraps for geo_point CRS edge
        # cases); pure min/max hash aggregation.
        c = arg()
        return F.struct(F.min(c["lon"]).alias("xmin"),
                        F.max(c["lon"]).alias("xmax"),
                        F.min(c["lat"]).alias("ymin"),
                        F.max(c["lat"]).alias("ymax"))
    if name == "std_dev":
        # ES|QL STD_DEV: population standard deviation (Welford
        # accumulation in ES; algebraically the same moments Spark's
        # stddev_pop computes with partial aggregation — map-side
        # combine, one shuffle of (n, mean, M2)-equivalent state)
        return F.stddev_pop(arg())
    if name == "weighted_avg":
        x, w = arg(0), _compile(args[1])
        if where is not None:
            w = F.when(where, w)
        return F.sum(x * w) / F.sum(w)
    raise EsqlError(f"ES|QL: unknown aggregate {name.upper()}")


_AGG_NAMES = {"count", "count_distinct", "sum", "avg", "min", "max",
              "median", "percentile", "values", "top", "weighted_avg",
              "median_absolute_deviation", "st_centroid_agg",
              "st_extent_agg", "std_dev"}


# ========================================================== DISSECT / GROK

# ============================================================== commands

def _split_pipes(toks: list[Tok]) -> list[list[Tok]]:
    """Split on top-level `|` only — pipes inside parens belong to a
    FORK branch's sub-pipeline."""
    segs, cur, depth = [], [], 0
    for t in toks:
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        if t.kind == "op" and t.text == "|" and depth == 0:
            segs.append(cur)
            cur = []
        elif t.kind != "eof":
            cur.append(t)
    segs.append(cur)
    return segs


# ================================================== TS command (ES 9.x)
#
# `TS metrics | STATS outer(inner_over_time(m)) BY b = BUCKET(ts, span)
# [, dims...]` — ES's time-series source command. Aggregation is
# two-stage by construction: the INNER time-series function collapses
# each (series = ALL dimensions, bucket) first, the OUTER aggregate
# then combines series within the BY group. Compiled to two hash
# aggregates (the first keyed by the full dimension set — partial
# aggregation map-side both times); `rate()` adds ONE window pass per
# series ordered by time BEFORE bucketing, the exact ts_rate plan
# (plans/tsds.py), so counter resets and bucket-boundary deltas follow
# ES's counter semantics.

_TS_INNER = {"rate", "avg_over_time", "min_over_time", "max_over_time",
             "sum_over_time", "count_over_time",
             "count_distinct_over_time", "first_over_time",
             "last_over_time"}


def _extract_ts_aggs(ast, sink: list) -> tuple:
    """Rewrite a TS STATS expression: every outer aggregate must wrap
    one time-series function; each (outer, outer_extra_args,
    inner, inner_args) appends to `sink`, replaced by ("col","__aN")."""
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "call" and ast[1] in _AGG_NAMES:
        args = ast[2]
        if (not args or not isinstance(args[0], tuple)
                or args[0][0] != "call" or args[0][1] not in _TS_INNER):
            raise EsqlError(
                "ES|QL TS STATS: every aggregate must wrap a "
                "time-series function — e.g. SUM(RATE(m)), "
                "AVG(LAST_OVER_TIME(m))")
        inner = args[0]
        sink.append((ast[1], list(args[1:]), inner[1], list(inner[2])))
        return ("col", f"__a{len(sink) - 1}")
    if ast[0] == "call":
        if ast[1] in _TS_INNER:
            raise EsqlError(
                f"ES|QL TS: {ast[1].upper()}() is only valid inside "
                "an outer STATS aggregate")
        return ("call", ast[1],
                [_extract_ts_aggs(a, sink) for a in ast[2]])
    if ast[0] in ("bin",):
        return ("bin", ast[1], _extract_ts_aggs(ast[2], sink),
                _extract_ts_aggs(ast[3], sink))
    if ast[0] in ("not", "neg"):
        return (ast[0], _extract_ts_aggs(ast[1], sink))
    if ast[0] == "cast":
        return ("cast", _extract_ts_aggs(ast[1], sink), ast[2])
    return ast


def _ts_handle(tables, name: str):
    """Resolve a TS source -> (loader, ts_col, dimensions, metrics).
    Accepts a plans.tsds.TsdsRef (persisted TSDS — manifest metadata)
    or a dict {"df", "ts_col", "dimensions"[, "metrics"]} for a
    table-backed series set."""
    h = tables(name) if callable(tables) else tables.get(name)
    if h is None:
        raise EsqlError(f"ES|QL TS: unknown index {name!r}; known: "
                        f"{sorted(tables) if not callable(tables) else '?'}")
    if isinstance(h, dict):
        try:
            return (lambda spark: h["df"]), h["ts_col"], \
                list(h["dimensions"]), dict(h.get("metrics") or {})
        except KeyError as e:
            raise EsqlError(
                "ES|QL TS: dict source needs keys df/ts_col/dimensions"
            ) from None
    if hasattr(h, "load") and hasattr(h, "dimensions"):
        return h.load, h.ts_col, list(h.dimensions), dict(h.metrics)
    raise EsqlError(
        "ES|QL TS: source must be a TsdsRef or a "
        "{'df','ts_col','dimensions'} dict — a bare DataFrame has no "
        "dimension metadata to form the series id (_tsid)")


def _ts_command(spark, p0: _P, tables, segs, query: str,
                analyzer: str, id_col: str, cfg) -> DataFrame:
    from pyspark.sql import Window

    names = _parse_names(p0)
    if len(names) != 1:
        raise EsqlError("ES|QL TS: one time-series index only")
    if p0.peek().kind != "eof":
        raise EsqlError(f"ES|QL TS: trailing input "
                        f"{p0.peek().text!r} after index name")
    load, ts_col, dims, metrics = _ts_handle(tables, names[0])
    df = load(spark)

    # optional WHERE segments filter RAW observations (they run before
    # the rate window, so a time-range filter bounds the delta series
    # exactly like ES's query window)
    rest = list(segs[1:])
    while rest:
        p = _P(rest[0] + [Tok("eof", "", 0, 0)], query)
        if not p.kw("WHERE"):
            break
        df = df.filter(_compile(p.expr()))
        if p.peek().kind != "eof":
            raise EsqlError("ES|QL TS: trailing input in WHERE")
        rest.pop(0)
    if not rest:
        raise EsqlError("ES|QL TS: a STATS segment is required")
    p = _P(rest[0] + [Tok("eof", "", 0, 0)], query)
    if not p.kw("STATS"):
        raise EsqlError("ES|QL TS: the first command after TS "
                        "[| WHERE] must be STATS")
    rest = rest[1:]

    # ---- parse STATS items + BY
    items, sink = [], []
    while True:
        start = p.peek().pos
        name = None
        if (p.peek().kind == "ident" and p.peek(1).text == "="
                and p.peek(2).text != "="):
            name = p.next().text
            if name.startswith("`"):
                name = name[1:-1]
            p.next()
            start = p.peek().pos
        ast = p.expr()
        raw = p.src_slice(start, p.i)
        if p.at_kw("WHERE"):
            raise EsqlError("ES|QL TS STATS: per-aggregate WHERE is "
                            "not supported in TS mode (filter with a "
                            "pipeline WHERE before STATS)")
        n_before = len(sink)
        rewritten = _extract_ts_aggs(ast, sink)
        if len(sink) == n_before:
            raise EsqlError(f"ES|QL TS STATS: {raw!r} contains no "
                            "aggregate")
        items.append((name or raw, rewritten))
        if p.peek().text == ",":
            p.next()
            continue
        break
    if not p.kw("BY"):
        raise EsqlError("ES|QL TS STATS: BY with a BUCKET(ts, span) "
                        "key is required")
    bucket_name, bucket_secs, bucket_ast = None, None, None
    group_dims: list[str] = []
    for name, ast, raw in _named_exprs(p):
        if (isinstance(ast, tuple) and ast[0] == "call"
                and ast[1] == "bucket"):
            if bucket_name is not None:
                raise EsqlError("ES|QL TS STATS: one BUCKET key only")
            if len(ast[2]) != 2:
                raise EsqlError("ES|QL TS: BUCKET(ts, span)")
            secs, unit = _span_of(ast[2][1], "BUCKET span")
            if unit:
                raise EsqlError("ES|QL TS BUCKET: calendar units "
                                f"({unit}) are not fixed-width; use "
                                "second/minute/hour/day spans")
            bucket_name, bucket_secs = name or raw, float(secs)
            bucket_ast = ast
        elif isinstance(ast, tuple) and ast[0] == "col":
            if ast[1] not in dims:
                raise EsqlError(
                    f"ES|QL TS STATS: BY key {ast[1]!r} is not a "
                    f"dimension of {names[0]!r} ({dims}) — grouping "
                    "by a non-dimension would split series")
            group_dims.append(ast[1])
        else:
            raise EsqlError(f"ES|QL TS STATS: BY key {raw!r} must be "
                            "a dimension or BUCKET(ts, span)")
    if bucket_name is None:
        raise EsqlError("ES|QL TS STATS: BY needs a BUCKET(ts, span) "
                        "key")
    if p.peek().kind != "eof":
        raise EsqlError(f"ES|QL TS STATS: trailing input "
                        f"{p.peek().text!r}")

    # ---- stage 1: per-(series, bucket) inner aggregates
    df = df.withColumn("__tsb", _compile(bucket_ast))
    inner_aggs = []
    for i, (outer, extra, inner_fn, inner_args) in enumerate(sink):
        if len(inner_args) != 1:
            raise EsqlError(f"ES|QL TS: {inner_fn.upper()}(metric) "
                            "takes one argument")
        c = _compile(inner_args[0])
        if inner_fn == "rate":
            if (metrics and inner_args[0][0] == "col"
                    and metrics.get(inner_args[0][1]) not in
                    (None, "counter")):
                raise EsqlError(
                    f"ES|QL TS: RATE needs a counter metric; "
                    f"{inner_args[0][1]!r} is "
                    f"{metrics.get(inner_args[0][1])!r}")
            # ES|QL RATE (TS command) uses only WITHIN-bucket samples:
            # per (series, bucket) the counter increase from first to
            # last observation (with reset corrections) divided by the
            # OBSERVED timestamp span — not the bucket width, and no
            # delta carried across bucket boundaries (round-5 advisor
            # fix; the DSL `rate` agg twin in plans/tsds.py keeps its
            # bucket-width semantics, which is that API's contract).
            # NULL samples are skipped: the delta runs from the last
            # non-NULL sample and the span covers non-NULL samples only.
            wb = Window.partitionBy("__tsb", *dims) \
                .orderBy(F.col(ts_col).cast("timestamp")) \
                .rowsBetween(Window.unboundedPreceding, -1)
            prev = F.last(c, ignorenulls=True).over(wb)
            delta = F.when(prev.isNull(), F.lit(None)) \
                .when(c >= prev, c - prev) \
                .otherwise(c)        # reset: counter restarted from 0
            df = df.withColumn(f"__d{i}", delta)
            tsec = F.when(c.isNotNull(),
                          F.col(ts_col).cast("timestamp").cast("double"))
            span = F.max(tsec) - F.min(tsec)
            inner_aggs.append(
                (F.sum(f"__d{i}") / F.when(span > F.lit(0.0), span))
                .alias(f"__t{i}"))
        elif inner_fn == "last_over_time":
            inner_aggs.append(F.max(F.struct(
                F.col(ts_col).alias("t"), c.alias("v")))
                .getField("v").alias(f"__t{i}"))
        elif inner_fn == "first_over_time":
            inner_aggs.append(F.min(F.struct(
                F.col(ts_col).alias("t"), c.alias("v")))
                .getField("v").alias(f"__t{i}"))
        elif inner_fn == "count_over_time":
            inner_aggs.append(F.count(c).alias(f"__t{i}"))
        elif inner_fn == "count_distinct_over_time":
            inner_aggs.append(F.countDistinct(c).alias(f"__t{i}"))
        else:   # avg/min/max/sum_over_time
            fn = getattr(F, inner_fn[:-len("_over_time")])
            inner_aggs.append(fn(c).alias(f"__t{i}"))
    series = df.groupBy("__tsb", *dims).agg(*inner_aggs)

    # ---- stage 2: outer aggregates across series per BY group
    acols = [_agg_col(outer, [("col", f"__t{i}")] + extra, None)
             .alias(f"__a{i}")
             for i, (outer, extra, _f, _a) in enumerate(sink)]
    agged = series.groupBy("__tsb", *group_dims).agg(*acols)
    out = [F.col("__tsb").alias(bucket_name)] \
        + [F.col(d) for d in group_dims] \
        + [_compile(ast).alias(nm) for nm, ast in items]
    st = _State(agged.select(*out), False, spark, analyzer, id_col, cfg)
    st.last_group_cols = [bucket_name] + group_dims
    _run_pipeline(st, rest, query, tables)
    return st.df


def _resolve(tables, name: str) -> DataFrame:
    if callable(tables):
        return tables(name)
    if name in tables:
        return tables[name]
    raise EsqlError(f"ES|QL: unknown index {name!r}; known: "
                    f"{sorted(tables)}")


def _parse_pattern(p: _P) -> str:
    """One name/pattern: adjacent ident / `*` / `.` / `-` / `:` /
    digit tokens glue into a single name (``src*``, ``events.2024*``,
    ``user.name``, ``logs-app-default`` — hyphenated index and
    data-stream names are the common ES convention — and
    ``cluster:index`` cross-cluster qualifiers). Gluing only
    happens in name position (FROM/KEEP/DROP/...), so `a-b` in an
    expression still lexes as subtraction and `field:"q"` as the
    match operator."""
    tok = p.next()
    if tok.kind not in ("ident", "num") and tok.text != "*":
        raise EsqlError(f"ES|QL: expected a name at {tok.pos}, "
                        f"got {tok.text!r}")
    name = tok.text[1:-1] if tok.text.startswith("`") else tok.text
    end = tok.end
    while True:
        nxt = p.peek()
        if nxt.pos != end:
            break
        if nxt.kind in ("ident", "num") or nxt.text in ("*", ".", "-",
                                                        ":"):
            p.next()
            name += (nxt.text[1:-1] if nxt.text.startswith("`")
                     else nxt.text)
            end = nxt.end
        else:
            break
    return name


def _parse_names(p: _P) -> list[str]:
    names = [_parse_pattern(p)]
    while p.peek().text == ",":
        p.next()
        names.append(_parse_pattern(p))
    return names


class _State:
    """Pipeline compile state."""

    def __init__(self, df: DataFrame, score: bool, spark, analyzer: str,
                 id_col: str, cfg: EngineConfig):
        self.df = df
        self.want_score = score      # METADATA _score requested
        self.scored = False          # _score column attached yet
        self.spark, self.analyzer = spark, analyzer
        self.id_col, self.cfg = id_col, cfg
        self.last_group_cols: list[str] = []


def _named_exprs(p: _P, stop_kws: tuple[str, ...] = ()) -> list[tuple]:
    """Parse `name = expr, ...` (name optional) until EOF / stop kw.
    -> [(name_or_None, ast, raw_text)]."""
    out = []
    while True:
        start_pos = p.peek().pos
        name = None
        if (p.peek().kind == "ident" and p.peek(1).text == "="
                and p.peek(2).text != "="):
            name = p.next().text
            if name.startswith("`"):
                name = name[1:-1]
            p.next()
            start_pos = p.peek().pos
        ast = p.expr()
        raw = p.src_slice(start_pos, p.i)
        out.append((name, ast, raw))
        if p.peek().text == ",":
            p.next()
            continue
        break
    return out


def _split_conjuncts(ast) -> list:
    if ast[0] == "bin" and ast[1] == "and":
        return _split_conjuncts(ast[2]) + _split_conjuncts(ast[3])
    return [ast]


def _match_opts(node) -> dict:
    """Options dict of a ("match", field, query[, opts]) node."""
    return dict(node[3]) if len(node) > 3 else {}


def _collect_match_nodes(ast, out: list, *, neg: bool = False) -> None:
    """All match() nodes in POSITIVE context anywhere in the
    expression tree, deduplicated (an identical clause contributes its
    BM25 score ONCE — Lucene rewrites duplicate clauses away the same
    way). Clauses under a NOT — directly or transitively — are
    Lucene must_not context: they filter but NEVER score, so they are
    not collected (and need no scoring join at all)."""
    if isinstance(ast, tuple):
        if ast[:1] == ("match",):
            if not neg and ast not in out:
                out.append(ast)
            return
        if ast[:1] == ("not",):
            _collect_match_nodes(ast[1], out, neg=True)
            return
        for x in ast:
            _collect_match_nodes(x, out, neg=neg)
    elif isinstance(ast, list):
        for x in ast:
            _collect_match_nodes(x, out, neg=neg)


def _has_unscorable_ft(ast) -> bool:
    """MATCH_PHRASE()/QSTR() anywhere in the expression — the scoring
    WHERE can't honor their Lucene score contributions (phrase-freq /
    per-clause boosts), so reject instead of silently ranking wrong."""
    if isinstance(ast, tuple):
        if ast[:1] == ("phrase_match",):
            return True
        if ast[0] == "call" and ast[1] in ("qstr", "kql"):
            return True
        return any(_has_unscorable_ft(x) for x in ast)
    if isinstance(ast, list):
        return any(_has_unscorable_ft(x) for x in ast)
    return False


def _where(st: _State, p: _P) -> None:
    ast = p.expr()
    if st.want_score and not st.scored:
        if _has_unscorable_ft(ast):
            raise EsqlError(
                "ES|QL: MATCH_PHRASE()/QSTR()/KQL() in a scoring "
                "WHERE is not supported — this engine scores "
                "match()/KNN() conjuncts only (a phrase/query_string "
                "contribution would need Lucene phrase-freq/boost "
                "semantics). Put the clause in a WHERE after the "
                "scoring one, or drop METADATA _score")
        conj = _split_conjuncts(ast)
        # match() may sit ANYWHERE in the boolean tree (8.18+ ES|QL
        # scores OR'd/NOT'd full-text clauses too). Lucene semantics:
        # every DISTINCT match clause that matches a surviving doc
        # contributes its BM25 score; clauses the doc does not match
        # contribute 0 (a NOT-match leaf therefore contributes 0 to
        # every survivor by construction). So: score = Σ over distinct
        # leaves of coalesce(leaf BM25, 0) via left joins, and the
        # WHOLE tree compiles once as the row filter (match leaves in
        # filter context are arrays_overlap booleans).
        matches: list = []
        _collect_match_nodes(ast, matches)
        knns = [c for c in conj
                if c[0] == "call" and c[1] == "knn"]
        rest = [c for c in conj if c[0] != "match" and c not in knns]
        if knns and matches:
            raise EsqlError("ES|QL: hybrid KNN+MATCH ranking is the "
                            "DSL retriever surface (rrf/linear) — one "
                            "kind per ES|QL WHERE")
        if len(knns) > 1:
            raise EsqlError("ES|QL: one KNN() per WHERE")
        if knns:
            _knn_where(st, knns[0], rest)
            return
        if matches:
            df = st.df
            parts = []
            drops = []
            for i, mnode in enumerate(matches):
                field = mnode[1]
                if field[0] != "col":
                    raise EsqlError("ES|QL: match needs a field")
                terms = sorted(set(tokenize_py(
                    str(_lit_of(mnode[2], "match query")), st.analyzer)))
                if not terms:
                    # analyzed-away clause: MatchNoDocs — 0 score
                    # contribution; its filter compile is lit(False)
                    continue
                sc = bm25_score_terms(
                    st.df, terms, st.cfg, id_col=st.id_col,
                    text_col=field[1], analyzer=st.analyzer)
                sc = (sc.withColumnRenamed("score", f"__s{i}")
                        .withColumnRenamed("doc_id", st.id_col))
                df = df.join(sc, st.id_col, "left")
                part = F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
                boost = float(_match_opts(mnode).get("boost", 1.0))
                if boost != 1.0:
                    # per-clause boost multiplies the clause's BM25
                    # contribution (Lucene boost semantics); operator/
                    # minimum_should_match tighten only the FILTER,
                    # which _compile(ast) below already honors
                    part = part * F.lit(boost)
                parts.append(part)
                drops.append(f"__s{i}")
            score = parts[0] if parts else F.lit(0.0)
            for x in parts[1:]:
                score = score + x
            df = df.withColumn("_score", score).drop(*drops)
            st.df = df.filter(_compile(ast))
            st.scored = True
            return
    st.df = st.df.filter(_compile(ast))


def _extract_aggs(ast, sink: list) -> tuple:
    """Replace aggregate calls in `ast` with ("col", "__aN") refs,
    appending (fn, args) to `sink`. Returns the rewritten ast."""
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "call" and ast[1] in _AGG_NAMES:
        sink.append((ast[1], ast[2]))
        return ("col", f"__a{len(sink) - 1}")
    if ast[0] == "call":
        return ("call", ast[1],
                [_extract_aggs(a, sink) for a in ast[2]])
    if ast[0] in ("bin",):
        return ("bin", ast[1], _extract_aggs(ast[2], sink),
                _extract_aggs(ast[3], sink))
    if ast[0] in ("not", "neg"):
        return (ast[0], _extract_aggs(ast[1], sink))
    if ast[0] == "cast":
        return ("cast", _extract_aggs(ast[1], sink), ast[2])
    if ast[0] == "in":
        return ("in", _extract_aggs(ast[1], sink), ast[2], ast[3])
    if ast[0] in ("like", "isnull"):
        return (ast[0], _extract_aggs(ast[1], sink)) + ast[2:]
    return ast


def _knn_where(st: _State, node, rest: list) -> None:
    """KNN(vec_field, [q...], k) under METADATA _score: exact cosine
    top-k (brute-force baseline — one narrow scan, per-partition
    heaps) inner-joined back; ``_score`` = cosine. Residual conjuncts
    apply AFTER the k-cut (ES|QL knn-function semantics: k bounds the
    candidates; pre-filtered kNN is the DSL ``knn.filter`` surface)."""
    from ..functions.similarity import cosine_scores

    args = node[2]
    if len(args) != 3 or args[0][0] != "col" or args[1][0] != "list":
        raise EsqlError("ES|QL: KNN(vec_field, [q0, q1, ...], k)")
    qv = [float(_lit_of(x, "KNN vector item")) for x in args[1][1]]
    k = int(_lit_of(args[2], "KNN k"))
    sc = cosine_scores(st.df, qv, id_col=st.id_col, vec_col=args[0][1])
    top = (sc.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)
           .withColumnRenamed("vec_id", st.id_col)
           .withColumnRenamed("cos", "_score"))
    st.df = st.df.join(top, st.id_col)
    st.scored = True
    for c in rest:
        st.df = st.df.filter(_compile(c))


def _mad_rewrite(df: DataFrame, sink: list, where_of: list,
                 gcols: list[str]) -> DataFrame:
    """MEDIAN_ABSOLUTE_DEVIATION: median(|x - median(x)|) per group —
    inherently two-pass, so rewrite before the main groupBy: one extra
    groupBy computes each MAD input's group median, a null-safe
    equi-join on the BY keys brings it back (co-partitioned on the
    same keys — AQE removes the second exchange; a global MAD is a
    1-row cross join), and the sink entry becomes a plain MEDIAN over
    the pre-computed absolute deviation. Exact where ES approximates
    with TDigest — the same documented divergence as
    MEDIAN/PERCENTILE. Per-agg WHERE folds into the deviation input
    as NULLs (percentile ignores NULLs on both engines)."""
    mad_idx = [i for i, (fn, _) in enumerate(sink)
               if fn == "median_absolute_deviation"]
    if not mad_idx:
        return df
    if df.isStreaming:
        raise EsqlError("ES|QL: MEDIAN_ABSOLUTE_DEVIATION is not "
                        "available on streams (two-pass aggregate)")
    for i in mad_idx:
        _, args = sink[i]
        if len(args) != 1:
            raise EsqlError(
                "ES|QL: MEDIAN_ABSOLUTE_DEVIATION(field) takes one "
                "argument")
        x = _compile(args[0]).cast("double")
        if where_of[i] is not None:
            x = F.when(where_of[i], x)
            where_of[i] = None
        df = df.withColumn(f"__madx{i}", x)
    med_aggs = [F.expr(f"percentile(__madx{i}, 0.5)").alias(f"__madm{i}")
                for i in mad_idx]
    if gcols:
        med = df.groupBy(*gcols).agg(*med_aggs)
        med = med.select(
            *[F.col(n).alias(f"__madk{j}") for j, n in enumerate(gcols)],
            *[f"__madm{i}" for i in mad_idx])
        cond = None
        for j, n in enumerate(gcols):
            c = df[n].eqNullSafe(med[f"__madk{j}"])
            cond = c if cond is None else cond & c
        df = df.join(med, cond, "left") \
            .drop(*[f"__madk{j}" for j in range(len(gcols))])
    else:
        df = df.crossJoin(df.agg(*med_aggs))
    for i in mad_idx:
        df = df.withColumn(
            f"__madd{i}",
            F.abs(F.col(f"__madx{i}") - F.col(f"__madm{i}")))
        sink[i] = ("median", [("col", f"__madd{i}")])
    return df


def _stats(st: _State, p: _P) -> None:
    items = []      # (out_name, rewritten_ast, where_ast)
    sink: list[tuple] = []      # (fn, args) in __aN order
    where_of: list[Column | None] = []
    while True:
        start = p.peek().pos
        name = None
        if (p.peek().kind == "ident" and p.peek(1).text == "="
                and p.peek(2).text != "="):
            name = p.next().text
            if name.startswith("`"):
                name = name[1:-1]
            p.next()
            start = p.peek().pos
        ast = p.expr()
        raw = p.src_slice(start, p.i)
        where = None
        if p.kw("WHERE"):
            where = _compile(p.expr())
            raw = p.src_slice(start, p.i)
        n_before = len(sink)
        rewritten = _extract_aggs(ast, sink)
        if len(sink) == n_before:
            raise EsqlError(
                f"ES|QL STATS: {raw!r} contains no aggregate")
        where_of += [where] * (len(sink) - n_before)
        items.append((name or raw, rewritten))
        if p.peek().text == ",":
            p.next()
            continue
        break
    groups = []     # (name, ast)
    if p.kw("BY"):
        for name, ast, raw in _named_exprs(p):
            groups.append((name or raw, ast))
    df = st.df
    gcols, gexprs, posts = [], [], []
    for name, ast in groups:
        if (df.isStreaming and ast[0] == "call" and ast[1] == "bucket"
                and len(ast[2]) == 2):
            # streaming mode: BUCKET on the watermarked event-time
            # column must compile to window() — Spark's state cleanup
            # tracks the time-window grouping expression, not an
            # arithmetic truncation of the column
            secs, unit = _span_of(ast[2][1], "BUCKET span")
            if unit:
                raise EsqlError("ES|QL streaming BUCKET: calendar "
                                f"units ({unit}) are not fixed-width; "
                                "use day/hour/... spans")
            gexprs.append(F.window(_compile(ast[2][0]),
                                   f"{int(secs)} seconds").alias(name))
            posts.append(F.col(name).getField("start").alias(name))
        else:
            df = df.withColumn(name, _compile(ast))
            gexprs.append(F.col(name))
            posts.append(F.col(name))
        gcols.append(name)
    df = _mad_rewrite(df, sink, where_of, gcols)
    acols = [_agg_col(fn, args, wh).alias(f"__a{i}")
             for i, ((fn, args), wh) in enumerate(zip(sink, where_of))]
    agged = df.groupBy(*gexprs).agg(*acols) if gexprs else df.agg(*acols)
    out = posts + [_compile(ast).alias(nm) for nm, ast in items]
    st.last_group_cols = gcols
    st.df = agged.select(*out)


def _inlinestats(st: _State, p: _P) -> None:
    """INLINESTATS: like STATS but the aggregates are appended as new
    columns to EVERY input row (ES|QL 8.14). Compiled as a groupBy on
    the BY keys + a null-safe equi-join back — one shuffle for the
    aggregate, one for the join (co-partitioned on the same keys, so
    AQE plans the second exchange away); supports every aggregate the
    STATS path does, unlike a window-function encoding (Spark cannot
    run percentile/collect aggs as windows)."""
    before = st.df
    _stats(st, p)
    agged = st.df
    gcols = st.last_group_cols
    # BY exprs that create NEW columns (day = BUCKET(..)) would need
    # re-evaluation on the input side; require EVAL first — the
    # common ES|QL form anyway.
    missing = [c for c in gcols if c not in before.columns]
    if missing:
        raise EsqlError("ES|QL INLINESTATS: BY expressions must be "
                        "EVALed into columns first: " + ", ".join(missing))
    if not gcols:
        st.df = before.crossJoin(F.broadcast(agged))
        return
    cond = None
    right = agged
    for g in gcols:
        right = right.withColumnRenamed(g, f"__g_{g}")
        c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
        cond = c if cond is None else (cond & c)
    st.df = before.join(right, cond, "left") \
        .drop(*[f"__g_{g}" for g in gcols])


def _sort(st: _State, p: _P) -> None:
    keys = []
    while True:
        ast = p.expr()
        col = _compile(ast)
        desc = False
        if p.kw("DESC"):
            desc = True
        elif p.kw("ASC"):
            pass
        nulls = None
        if p.kw("NULLS"):
            if p.kw("FIRST"):
                nulls = "first"
            elif p.kw("LAST"):
                nulls = "last"
            else:
                raise EsqlError("ES|QL SORT: NULLS FIRST|LAST")
        if desc:
            col = (col.desc_nulls_first() if nulls == "first" else
                   col.desc_nulls_last() if nulls == "last" else col.desc())
        else:
            col = (col.asc_nulls_first() if nulls == "first" else
                   col.asc_nulls_last() if nulls == "last" else col.asc())
        keys.append(col)
        if p.peek().text == ",":
            p.next()
            continue
        break
    st.df = st.df.orderBy(*keys)


def _keep_drop(st: _State, p: _P, keep: bool) -> None:
    pats = _parse_names(p)
    cols = st.df.columns
    if keep:
        chosen: list[str] = []
        for pat in pats:
            hits = ([pat] if pat in cols else
                    [c for c in cols if fnmatch.fnmatchcase(c, pat)])
            if not hits and "*" not in pat:
                raise EsqlError(f"ES|QL KEEP: unknown column {pat!r}")
            chosen += [h for h in hits if h not in chosen]
        st.df = st.df.select(*chosen)
    else:
        doomed = []
        for pat in pats:
            hits = ([pat] if pat in cols else
                    [c for c in cols if fnmatch.fnmatchcase(c, pat)])
            if not hits and "*" not in pat:
                raise EsqlError(f"ES|QL DROP: unknown column {pat!r}")
            doomed += hits
        st.df = st.df.drop(*doomed)


def _rename(st: _State, p: _P) -> None:
    while True:
        a = _parse_pattern(p)
        if p.kw("AS"):
            old, new = a, _parse_pattern(p)
        elif p.peek().text == "=":          # 9.x `new = old` form
            p.next()
            old, new = _parse_pattern(p), a
        else:
            raise EsqlError("ES|QL RENAME: use `old AS new`")
        st.df = st.df.withColumnRenamed(old, new)
        if p.peek().text == ",":
            p.next()
            continue
        break


def _dissect_grok(st: _State, p: _P, grok: bool) -> None:
    field = _parse_pattern(p)
    pat_tok = p.next()
    if pat_tok.kind != "str":
        raise EsqlError("ES|QL DISSECT/GROK: pattern must be a string")
    pattern = _unquote(pat_tok.text)
    from ..functions.textpat import dissect_regex, grok_regex

    try:
        if grok:
            rx, typed = grok_regex(pattern)
        else:
            rx, names = dissect_regex(pattern)
            typed = [(n, "string") for n in names]
    except ValueError as e:
        raise EsqlError(f"ES|QL {'GROK' if grok else 'DISSECT'}: "
                        f"{e}") from None
    df = st.df
    src = F.col(field)
    for i, (name, ftype) in enumerate(typed):
        c = F.regexp_extract(src, rx, i + 1)
        c = F.when(src.rlike(rx), c)        # no match -> null, like ES
        if ftype in ("int", "long"):
            c = c.cast("long")
        elif ftype in ("float", "double"):
            c = c.cast("double")
        df = df.withColumn(name, c)
    st.df = df


def _mv_expand(st: _State, p: _P) -> None:
    col = _parse_pattern(p)
    others = [c for c in st.df.columns if c != col]
    st.df = st.df.select(*others, F.explode_outer(F.col(col)).alias(col)) \
        .select(*st.df.columns)


def _lookup_join(st: _State, p: _P, tables) -> None:
    p_kw = p.next().text.upper()
    if p_kw != "JOIN":
        raise EsqlError("ES|QL: LOOKUP JOIN <index> ON <field>")
    name = _parse_pattern(p)
    if not p.kw("ON"):
        raise EsqlError("ES|QL: LOOKUP JOIN <index> ON <field>")
    keys = _parse_names(p)
    right = _resolve(tables, name)
    # ES semantics: on name collision the lookup index's value wins
    clash = [c for c in st.df.columns
             if c in right.columns and c not in keys]
    st.df = st.df.drop(*clash).join(F.broadcast(right), on=keys, how="left")


def _enrich(st: _State, p: _P, tables) -> None:
    policy = _parse_pattern(p)
    match_field = None
    with_cols: list[tuple[str, str]] = []
    if p.kw("ON"):
        match_field = _parse_pattern(p)
    if p.kw("WITH"):
        while True:
            a = _parse_pattern(p)
            if p.peek().text == "=":
                p.next()
                with_cols.append((a, _parse_pattern(p)))  # new = col
            else:
                with_cols.append((a, a))
            if p.peek().text == ",":
                p.next()
                continue
            break
    right = _resolve(tables, policy)
    key = match_field or right.columns[0]
    if key not in right.columns:
        # policy match field differs from input field name: join input
        # field against the enrich table's FIRST column (its match col)
        rkey = right.columns[0]
        right = right.withColumnRenamed(rkey, key)
    if with_cols:
        right = right.select(
            key, *[F.col(src).alias(dst) for dst, src in with_cols
                   if src != key])
    clash = [c for c in st.df.columns if c in right.columns and c != key]
    st.df = st.df.drop(*clash).join(F.broadcast(right), on=key, how="left")


def _change_point_cmd(st: _State, p: _P) -> None:
    """CHANGE_POINT value [ON key] [AS type_name, pvalue_name] —
    ES|QL 8.14 tech-preview command; see operators.changepoint."""
    from .changepoint import change_point

    value = _parse_pattern(p)
    key = "@timestamp"
    if p.kw("ON"):
        key = _parse_pattern(p)
    type_col, pvalue_col = "type", "pvalue"
    if p.kw("AS"):
        type_col = _parse_pattern(p)
        p.expect(",")
        pvalue_col = _parse_pattern(p)
    if key not in st.df.columns:
        raise EsqlError(f"ES|QL CHANGE_POINT: no key column {key!r} "
                        "(default @timestamp; give ON <key>)")
    st.df = change_point(st.df, value, key,
                         type_col=type_col, pvalue_col=pvalue_col)


def _row(spark: SparkSession, p: _P) -> DataFrame:
    cols = []
    for name, ast, raw in _named_exprs(p):
        cols.append(_compile(ast).alias(name or raw))
    return spark.range(1).select(*cols)


# ================================================================== entry

def esql(spark: SparkSession, query: str,
         tables: dict[str, DataFrame] | Callable[[str], DataFrame]
         | None = None, *,
         analyzer: str = "simple", id_col: str = "doc_id",
         cfg: EngineConfig | None = None,
         now: "str | datetime.datetime | None" = None,
         params: "list | tuple | dict | None" = None) -> DataFrame:
    """Compile and run an ES|QL query; returns the result DataFrame.

    ``tables`` resolves ``FROM``/``LOOKUP JOIN``/``ENRICH`` names — a
    dict (wildcards in FROM match its keys) or a callable. ``analyzer``
    and ``id_col`` configure the full-text ``match()`` path. ``now``
    injects the query clock: every ``NOW()`` in the query compiles to
    this one instant (ES evaluates now once per request the same way);
    without it NOW() raises to keep plans deterministic. ``params``
    binds parameter markers (``?`` positional / ``?name`` named /
    ``??name`` identifier) exactly like the ES _query API's ``params``
    array — a list for positional, a dict for named.
    """
    toks = _lex(query)
    segs = _split_pipes(toks)
    if not segs or not segs[0]:
        raise EsqlError("ES|QL: empty query")
    tables = tables or {}
    cfg = cfg or EngineConfig()
    _TLS.analyzer = analyzer
    _TLS.now = now
    _TLS.params = params
    _TLS.param_i = 0
    _TLS.schema = None   # set per pipe segment once a frame exists

    # --- source command
    p0 = _P(segs[0] + [Tok("eof", "", 0, 0)], query)
    head = p0.next().text.upper()
    want_score = False
    if head == "FROM":
        names = _parse_names(p0)
        meta: list[str] = []
        if p0.kw("METADATA"):
            meta = _parse_names(p0)
        expanded: list[str] = []
        for nm in names:
            if "*" in nm and not callable(tables):
                # cross-cluster (ES semantics): an UNqualified pattern
                # matches only local names — `FROM *` never pulls in
                # `archive:events`; remote indexes are reached by a
                # qualified pattern (`archive:ev*`, `*:events`) whose
                # cluster part may itself be a wildcard.
                local_only = ":" not in nm
                hits = sorted(k for k in tables
                              if fnmatch.fnmatchcase(k, nm)
                              and not (local_only and ":" in k))
                if not hits:
                    raise EsqlError(f"ES|QL: no index matches {nm!r}")
                expanded += hits
            else:
                expanded.append(nm)
        parts = []
        for nm in expanded:
            d = _resolve(tables, nm)
            if "_index" in meta:
                d = d.withColumn("_index", F.lit(nm))
            if "_id" in meta:
                # ES doc _id (always a string); the engine's id column
                # plays that role
                if id_col not in d.columns:
                    raise EsqlError(
                        f"ES|QL: METADATA _id needs the id column "
                        f"{id_col!r} on index {nm!r}")
                d = d.withColumn("_id", F.col(id_col).cast("string"))
            parts.append(d)
        df = parts[0]
        for d in parts[1:]:
            df = df.unionByName(d, allowMissingColumns=True)
        want_score = "_score" in meta
        unknown = [m for m in meta
                   if m not in ("_index", "_score", "_id")]
        if unknown:
            raise EsqlError(f"ES|QL: METADATA {unknown} not supported")
    elif head == "TS":
        return _ts_command(spark, p0, tables, segs, query,
                           analyzer, id_col, cfg)
    elif head == "ROW":
        df = _row(spark, p0)
    elif head == "SHOW":
        if not p0.kw("INFO"):
            raise EsqlError("ES|QL: SHOW INFO is the only SHOW form")
        from .. import __build_date__, __version__

        # deterministic build identity (ES returns the node's
        # version/build date/hash; this engine's are package literals)
        df = spark.createDataFrame(
            [(__version__, __build_date__, "spark-native")],
            "version string, date string, hash string")
    else:
        raise EsqlError(f"ES|QL: query must start with FROM, TS, ROW or "
                        f"SHOW, got {head}")
    if p0.peek().kind != "eof":
        raise EsqlError(
            f"ES|QL: trailing input in source command: "
            f"{p0.peek().text!r}")

    st = _State(df, want_score, spark, analyzer, id_col, cfg)
    _run_pipeline(st, segs[1:], query, tables)
    return st.df


def _parse_with_endpoint(p: _P, default: str | None) -> str:
    """``WITH "id"`` / ``WITH id`` / ``WITH { "inference_id": "id" }``
    (the 9.1 map form) -> inference_id; `default` when WITH absent."""
    if not p.kw("WITH"):
        if default is None:
            raise EsqlError("ES|QL: WITH <inference_id> required")
        return default
    if p.peek().text == "{":
        p.next()
        key = p.next()
        if key.kind != "str" or _unquote(key.text) != "inference_id":
            raise EsqlError('ES|QL: WITH map supports only '
                            '{ "inference_id" : "..." }')
        p.expect(":")
        val = p.next()
        if val.kind != "str":
            raise EsqlError("ES|QL: inference_id must be a string")
        p.expect("}")
        return _unquote(val.text)
    tok = p.next()
    if tok.kind == "str":
        return _unquote(tok.text)
    if tok.kind == "ident":
        return tok.text
    raise EsqlError(f"ES|QL: WITH expects an inference id, got "
                    f"{tok.text!r}")


def _rerank(st: _State, p: _P) -> None:
    """``RERANK [target =] "query" ON field[, ...] [WITH endpoint]``
    (ES 9.1 tech preview): recompute relevance for the CURRENT frame
    with an inference endpoint and write it to ``target`` (default
    ``_score``; when ``_score``, rows re-sort by the new score like
    ES's reranker — add an explicit SORT after for tie determinism).

    Scale: RERANK scores whatever frame reaches it, so put it after
    SORT/LIMIT — the ES-shaped pipeline reranks a k-bounded window
    and this engine's plan then runs the endpoint over k rows, not
    the corpus (same reason ES caps the rerank window). The builtin
    ``lexical-rerank`` endpoint compiles to a pure Catalyst
    expression (no UDF); registered endpoints run as ONE
    Arrow-batched pandas UDF over the window.
    """
    from .inference import LEXICAL_RERANK, _Builtin, get_inference

    target = "_score"
    if (p.peek().kind == "ident" and p.peek(1).text == "="
            and p.peek(2).text != "="):
        target = p.next().text
        if target.startswith("`"):
            target = target[1:-1]
        p.next()
    q_tok = p.next()
    if q_tok.kind != "str":
        raise EsqlError("ES|QL RERANK: query text must be a string "
                        "literal")
    query = _unquote(q_tok.text)
    if not p.kw("ON"):
        raise EsqlError("ES|QL RERANK: ON <field>[, ...] required")
    fields = _parse_names(p)
    endpoint = _parse_with_endpoint(p, default=LEXICAL_RERANK)
    try:
        fn = get_inference(endpoint, "rerank")
    except KeyError as e:
        raise EsqlError(f"ES|QL RERANK: {e.args[0]}") from None

    cols = [F.col(f).cast("string") for f in fields]
    text = cols[0] if len(cols) == 1 else F.concat_ws("\n", *cols)
    if isinstance(fn, _Builtin):
        # builtin lexical coverage: |distinct tokens ∩ query terms| /
        # |query terms| under the simple analyzer — whole-stage
        # codegen, value-for-value oracle-expressible.
        from ..functions.tokenizer import tokenize_expr, tokenize_py

        terms = sorted(set(tokenize_py(query, "simple")))
        if not terms:
            raise EsqlError("ES|QL RERANK: empty query")
        score = (F.size(F.array_intersect(
            F.array_distinct(tokenize_expr(text, "simple")),
            F.array(*[F.lit(t) for t in terms])))
            / F.lit(float(len(terms)))).cast("double")
    else:
        @F.pandas_udf("double")
        def _rr(s: pd.Series) -> pd.Series:
            out = fn(query, s)
            return pd.Series([float(x) for x in out], index=s.index)

        score = _rr(text)
    st.df = st.df.withColumn(target, score)
    if target == "_score":
        st.scored = True
        st.df = st.df.orderBy(F.desc("_score"))


def _completion(st: _State, p: _P) -> None:
    """``COMPLETION [target =] prompt_expr WITH endpoint`` (ES 9.1
    tech preview): run a completion inference endpoint over the
    prompt column; default target ``completion``. The endpoint MUST
    be registered (`put_inference`) — the sandbox ships no LLM
    runtime, so unlike RERANK there is no builtin; the engine's
    contract is the Arrow-batched plumbing (exactly the multimodal
    decode policy). Put it after LIMIT: the prompt batch that reaches
    the endpoint should be the k-bounded window, not the corpus."""
    from .inference import get_inference

    target = "completion"
    if (p.peek().kind == "ident" and p.peek(1).text == "="
            and p.peek(2).text != "="):
        target = p.next().text
        if target.startswith("`"):
            target = target[1:-1]
        p.next()
    ast = p.expr()
    endpoint = _parse_with_endpoint(p, default=None)
    try:
        fn = get_inference(endpoint, "completion")
    except KeyError as e:
        raise EsqlError(f"ES|QL COMPLETION: {e.args[0]}") from None

    @F.pandas_udf("string")
    def _cc(s: pd.Series) -> pd.Series:
        out = fn(s)
        return pd.Series([None if x is None else str(x) for x in out],
                         index=s.index)

    st.df = st.df.withColumn(target, _cc(_compile(ast).cast("string")))


def _run_pipeline(st: _State, segs: list[list[Tok]], query: str,
                  tables) -> None:
    for seg in segs:
        if not seg:
            raise EsqlError("ES|QL: empty pipe segment")
        # snapshot the frame's schema for shape-directed compilers
        # (ST_XMIN & co. classify envelope-typed columns by it);
        # thread-local like the analyzer, refreshed per segment
        _TLS.schema = st.df.schema
        p = _P(seg + [Tok("eof", "", 0, 0)], query)
        cmd = p.next().text.upper()
        if cmd == "WHERE":
            _where(st, p)
        elif cmd == "EVAL":
            for name, ast, raw in _named_exprs(p):
                st.df = st.df.withColumn(name or raw, _compile(ast))
                _TLS.schema = st.df.schema   # later items see this one
        elif cmd == "STATS":
            _stats(st, p)
        elif cmd == "INLINESTATS":
            _inlinestats(st, p)
        elif cmd == "SORT":
            _sort(st, p)
        elif cmd == "LIMIT":
            n = p.next()
            if n.kind != "num":
                raise EsqlError("ES|QL LIMIT: integer expected")
            st.df = st.df.limit(int(n.text))
        elif cmd == "KEEP":
            _keep_drop(st, p, keep=True)
        elif cmd == "DROP":
            _keep_drop(st, p, keep=False)
        elif cmd == "RENAME":
            _rename(st, p)
        elif cmd == "DISSECT":
            _dissect_grok(st, p, grok=False)
        elif cmd == "GROK":
            _dissect_grok(st, p, grok=True)
        elif cmd == "MV_EXPAND":
            _mv_expand(st, p)
        elif cmd == "LOOKUP":
            _lookup_join(st, p, tables)
        elif cmd == "ENRICH":
            _enrich(st, p, tables)
        elif cmd == "CHANGE_POINT":
            _change_point_cmd(st, p)
        elif cmd == "FORK":
            _fork(st, p, query, tables)
        elif cmd == "FUSE":
            _fuse(st, p)
        elif cmd == "RRF":
            _rrf(st, p)
        elif cmd == "SAMPLE":
            # ES|QL SAMPLE p is RNG-based; this engine's contract is
            # deterministic plans, so the Bernoulli draw is
            # md5(key) < p — same per-row marginal, stable across
            # runs/retries (the temperature_mixture rule). The key is
            # the id column when the frame carries one (one
            # independent draw per row even for byte-identical
            # duplicates); otherwise the row content — DOCUMENTED
            # CAVEAT: content-keyed draws make duplicate rows share
            # one coin flip (kept/dropped as a block), biasing counts
            # on data with duplicates. A random-key fallback
            # (monotonically_increasing_id) would fix that at the
            # cost of partition-layout-dependent results, which
            # breaks the determinism contract — callers needing
            # duplicate-safe sampling should KEEP/EVAL a unique id
            # first.
            n = p.expr()
            prob = float(_lit_of(n, "SAMPLE probability"))
            if not 0 < prob < 1:
                raise EsqlError("ES|QL SAMPLE: probability in (0, 1)")
            from ..functions.sampling import md5_uniform

            if st.id_col in st.df.columns:
                key = F.col(st.id_col).cast("string")
            else:
                key = F.to_json(
                    F.struct(*[F.col(c) for c in st.df.columns]))
            st.df = st.df.filter(md5_uniform(key) < F.lit(prob))
        elif cmd == "RERANK":
            _rerank(st, p)
        elif cmd == "COMPLETION":
            _completion(st, p)
        else:
            raise EsqlError(f"ES|QL: unknown command {cmd}")
        if p.peek().kind != "eof":
            raise EsqlError(f"ES|QL: trailing input after {cmd}: "
                            f"{p.peek().text!r}")


def _rrf(st: _State, p: _P) -> None:
    """RRF — ES|QL 9.2 tech preview: ``FUSE`` with the rrf method and
    ES's fixed rank_constant 60 (the pre-FUSE spelling; kept as an
    alias)."""
    if p.peek().kind != "eof":
        raise EsqlError("ES|QL RRF: takes no arguments")
    _fuse_exec(st, "rrf", rank_constant=60.0, normalizer="none",
               cmd="RRF")


def _fuse(st: _State, p: _P) -> None:
    """FUSE [RRF | LINEAR] [WITH opt = value, ...] — ES|QL 9.2 tech
    preview: merge the FORK branches into one ranking.

    Methods: ``rrf`` (default) scores each doc Σ over branches of
    ``1 / (rank_constant + rank)``; ``linear`` sums the branch scores
    directly, optionally min-max normalized per branch. Options:
    ``rank_constant = N`` (rrf; default 60) and
    ``normalizer = minmax | none`` (linear; default none — ES's
    L2_NORM is not offered, documented).

    Row semantics are shared with RRF: branches rank by ``_score``
    descending (``_id`` ascending tie-break), rows dedupe on ``_id``
    (+ ``_index``), non-key columns carry from the first branch a doc
    appears in, ``_fork`` is consumed."""
    method = "rrf"
    if p.kw("RRF"):
        method = "rrf"
    elif p.kw("LINEAR"):
        method = "linear"
    opts = {"rank_constant": 60.0, "normalizer": "none"}
    if p.kw("WITH"):
        while True:
            name = p.next()
            if name.kind != "ident":
                raise EsqlError("ES|QL FUSE: expected option name "
                                f"after WITH, got {name.text!r}")
            p.expect("=")
            key = name.text.lower()
            val = p.next()
            if key == "rank_constant":
                if method != "rrf":
                    raise EsqlError("ES|QL FUSE: rank_constant is an "
                                    "rrf option")
                try:
                    opts["rank_constant"] = float(val.text)
                except ValueError:
                    raise EsqlError("ES|QL FUSE: rank_constant needs "
                                    "a number") from None
            elif key == "normalizer":
                if method != "linear":
                    raise EsqlError("ES|QL FUSE: normalizer is a "
                                    "linear option")
                v = (val.text[1:-1] if val.kind == "str"
                     else val.text).lower()
                if v not in ("minmax", "none"):
                    raise EsqlError("ES|QL FUSE: normalizer must be "
                                    "minmax or none")
                opts["normalizer"] = v
            else:
                raise EsqlError(
                    f"ES|QL FUSE: unknown option {name.text!r} "
                    "(rank_constant, normalizer)")
            if p.peek().text != ",":
                break
            p.next()
    if p.peek().kind != "eof":
        raise EsqlError(
            f"ES|QL FUSE: trailing input at {p.peek().text!r}")
    _fuse_exec(st, method, rank_constant=opts["rank_constant"],
               normalizer=opts["normalizer"], cmd="FUSE")


def _fuse_exec(st: _State, method: str, *, rank_constant: float,
               normalizer: str, cmd: str) -> None:
    """Shared FUSE/RRF execution.

    Plan shape: one ``row_number`` window partitioned by ``_fork``
    (plus, for minmax, a min/max window over the same partitioning —
    one shuffle, two window functions) + one hash aggregation on the
    doc key. The window partitions by branch, which is only as
    parallel as the branch count — exactly ES's execution too: fusion
    runs on the coordinating node over the per-branch top-k, so
    branches are LIMIT-bounded by construction (put a LIMIT in each
    FORK arm; fusing unbounded branches is the same mistake in ES)."""
    from pyspark.sql.window import Window

    df = st.df
    for need in ("_fork", "_id", "_score"):
        if need not in df.columns:
            raise EsqlError(
                f"ES|QL {cmd}: requires the {need} column — use "
                f"FROM .. METADATA _id, _score | FORK (..) (..) | {cmd}")
    keys = ["_id"] + (["_index"] if "_index" in df.columns else [])
    w = (Window.partitionBy("_fork")
         .orderBy(F.desc_nulls_last("_score"), F.asc("_id")))
    ranked = df.withColumn("__rrf_rank", F.row_number().over(w))
    if method == "rrf":
        contrib = F.lit(1.0) / (F.lit(rank_constant)
                                + F.col("__rrf_rank"))
    else:
        contrib = F.col("_score").cast("double")
        if normalizer == "minmax":
            wb = Window.partitionBy("_fork")
            lo, hi = F.min(contrib).over(wb), F.max(contrib).over(wb)
            # degenerate all-equal branch: every doc is the best hit,
            # normalize to 1.0 (0/0 otherwise)
            contrib = F.when(hi == lo, F.lit(1.0)) \
                .otherwise((contrib - lo) / (hi - lo))
    # window expressions (rank / minmax bounds) must be materialized
    # before the aggregate — Catalyst rejects a window inside an agg
    ranked = ranked.withColumn("__fuse_c", contrib)
    # "first branch" is branch ORDER, not label string order —
    # lexicographic _fork would put fork10 before fork2 at >=10
    # branches, carrying non-key columns from the wrong branch
    fork_no = F.coalesce(
        F.regexp_extract(F.col("_fork"), r"(\d+)$", 1).cast("int"),
        F.lit(1 << 30))
    pick = F.struct(fork_no, F.col("_fork"), F.col("__rrf_rank"))
    carry = [c for c in df.columns
             if c not in keys and c not in ("_score", "_fork")]
    aggs = [F.sum("__fuse_c").alias("_score")]
    aggs += [F.min_by(F.col(c), pick).alias(c) for c in carry]
    fused = ranked.groupBy(*keys).agg(*aggs)
    out_order = [c for c in df.columns if c != "_fork"]
    st.df = fused.select(*out_order)
    st.scored = True


def _fork(st: _State, p: _P, query: str, tables) -> None:
    """FORK (pipe) (pipe) ... — ES|QL 9.1: run each parenthesized
    sub-pipeline on the CURRENT frame and union the results, with a
    ``_fork`` discriminator column (fork1, fork2, ... in branch
    order). Columns union by name, missing ones NULL-filled — ES's
    output-merging rule. The input plan is shared: Spark dedups the
    common subtree when reused, and each branch stays declarative."""
    branches = []
    while p.peek().text == "(":
        p.next()
        depth, toks = 1, []
        while depth > 0:
            t = p.next()
            if t.kind == "eof":
                raise EsqlError("ES|QL FORK: unbalanced parens")
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
                if depth == 0:
                    break
            toks.append(t)
        branches.append(toks)
    if len(branches) < 2:
        raise EsqlError("ES|QL FORK: at least two (branch) pipelines")
    if p.peek().kind != "eof":
        raise EsqlError("ES|QL FORK: trailing input after branches")
    outs = []
    for i, toks in enumerate(branches):
        sub = _State(st.df, st.want_score, st.spark, st.analyzer,
                     st.id_col, st.cfg)
        sub.scored = st.scored
        _run_pipeline(sub, _split_pipes(toks + [Tok("eof", "", 0, 0)]),
                      query, tables)
        outs.append(sub.df.withColumn("_fork", F.lit(f"fork{i + 1}")))
    df = outs[0]
    for d in outs[1:]:
        df = df.unionByName(d, allowMissingColumns=True)
    st.df = df


# ===================================================== persisted-index path

def _has_index_match(ast) -> bool:
    """match()/phrase_match anywhere in the expression (nested
    positions the index path cannot special-case)."""
    if isinstance(ast, tuple):
        if ast[:1] in (("match",), ("phrase_match",)):
            return True
        return any(_has_index_match(x) for x in ast)
    if isinstance(ast, list):
        return any(_has_index_match(x) for x in ast)
    return False


def _index_tv_meta(index_path, what: str) -> dict:
    """Shared validation for conjuncts that evaluate over the docstats
    term-vector column on the persisted-index path: one analyzer
    across the indexes (the constraint dfs-exact stats already
    impose) and term vectors present."""
    from .intersect import load_meta
    from ..plans import catalog

    paths = (list(index_path) if isinstance(index_path, (list, tuple))
             else [index_path])
    metas = [load_meta(p) for p in paths]
    analyzers = {m["analyzer"] for m in metas}
    if len(analyzers) != 1:
        raise EsqlError(
            f"esql_index: {what} across indexes needs one shared "
            f"analyzer, got {sorted(analyzers)}")
    if not all(catalog.read_manifest(p, "docstats").get("term_vectors",
                                                        False)
               for p in paths):
        raise EsqlError(
            f"esql_index: {what} needs the docstats term-vector "
            "column (dropped by merge.drop_term_vectors) — use the "
            "positional intersect operators instead")
    return metas[0]


def _index_phrase_col(index_path, ast) -> Column:
    """Compile a MATCH_PHRASE conjunct for the persisted-index path:
    analyzed phrase terms checked as a contiguous slice of the
    docstats ``tokens`` term-vector column."""
    m = _index_tv_meta(index_path, "MATCH_PHRASE")
    terms = analyze(str(_lit_of(ast[2], "match_phrase query")), m)
    if not terms:
        return F.lit(False)
    return phrase_match_expr(F.col("tokens"), terms)


def _index_qstr_col(index_path, ast) -> Column:
    """Compile a QSTR conjunct for the persisted-index path: the
    classic query_string tree evaluates leaf-for-leaf over the
    docstats term-vector column (``_qstr_column`` with the token
    resolver pointed at ``tokens``); leaves qualified with anything
    but the indexed text field raise — the index analyzes ONE text
    field, carry columns are not token streams."""
    args = ast[2]
    if not 1 <= len(args) <= 2:
        raise EsqlError("ES|QL: QSTR(query[, default_field])")
    q = str(_lit_of(args[0], "QSTR query"))
    m = _index_tv_meta(index_path, "QSTR")
    text_col = m.get("text_col", "text")
    explicit = (str(_lit_of(args[1], "QSTR default_field"))
                if len(args) == 2 else None)
    if explicit is not None and explicit != text_col:
        raise EsqlError(
            f"esql_index: QSTR field {explicit!r} is not the indexed "
            f"text field {text_col!r}")

    def toks_of(field: str | None) -> Column:
        if field is not None and field != text_col:
            raise EsqlError(
                f"esql_index: QSTR leaf field {field!r} is not the "
                f"indexed text field {text_col!r}")
        return F.col("tokens")

    return _qstr_column(q, m, toks_of)


def _index_kql_col(index_path, ast) -> Column:
    """Compile a KQL conjunct for the persisted-index path: leaves on
    the indexed text field read the docstats term-vector column;
    leaves on any other field tokenize the carry column in place
    (KQL's match-on-text semantics over whatever the doc store
    carries); ranges and existence hit carry columns directly."""
    args = ast[2]
    if not 1 <= len(args) <= 2:
        raise EsqlError("ES|QL: KQL(query[, default_field])")
    q = str(_lit_of(args[0], "KQL query"))
    m = _index_tv_meta(index_path, "KQL")
    text_col = m.get("text_col", "text")
    an = m["analyzer"]
    default_field = (str(_lit_of(args[1], "KQL default_field"))
                     if len(args) == 2 else text_col)

    def ftoks_of(field: str) -> Column:
        if field == text_col:
            return F.col("tokens")
        return tokenize_expr(F.col(field), an)

    def col_of(field: str) -> Column:
        return F.col("tokens" if field == text_col else field)

    return _kql_column(q, default_field, m, ftoks_of, col_of)


def esql_index(spark: SparkSession, query: str,
               index_path: str | list[str], *,
               strategy: str = "auto",
               params: "list | tuple | dict | None" = None) -> DataFrame:
    """ES|QL over a PERSISTED inverted index — the flagship fast path.

    Recognizes the canonical search pipeline::

        FROM <name> METADATA _score
        | WHERE MATCH(<field>, "terms") [AND <carry-col filters>]
        [| KEEP cols]
        | SORT _score DESC [, doc_id]
        | LIMIT k

    and compiles it to :func:`..operators.query.topk` — segment-local
    top-k, so the scan reads only the query terms' posting bytes
    instead of the corpus (the table compiler's MATCH path is a
    full-scan M1 plan). Residual WHERE conjuncts become the exact
    ``post_filter``; KEEP of
    carry columns hydrates from docstats with a broadcast of the
    k-bounded hit frame. Any other pipeline shape raises — use
    :func:`esql` over tables for the general language.
    """
    toks = _lex(query)
    segs = _split_pipes(toks)
    _TLS.now = None   # residual conjuncts share _compile; no stale clock
    _TLS.params = params
    _TLS.param_i = 0
    _TLS.schema = None
    p0 = _P(segs[0] + [Tok("eof", "", 0, 0)], query)
    if p0.next().text.upper() != "FROM":
        raise EsqlError("esql_index: pipeline must start with FROM")
    _parse_names(p0)
    meta_cols = _parse_names(p0) if p0.kw("METADATA") else []
    if "_score" not in meta_cols:
        raise EsqlError("esql_index: METADATA _score required")
    unknown_meta = [m for m in meta_cols if m not in ("_score", "_id")]
    if unknown_meta:
        raise EsqlError(f"esql_index: METADATA {unknown_meta} not "
                        "supported (use _score, _id)")
    want_id = "_id" in meta_cols

    match_text = None
    match_opts: dict = {}
    post = None
    keep: list[str] | None = None
    k = None
    for seg in segs[1:]:
        p = _P(seg + [Tok("eof", "", 0, 0)], query)
        cmd = p.next().text.upper()
        if cmd == "WHERE" and match_text is None:
            conj = _split_conjuncts(p.expr())
            matches = [c for c in conj if c[0] == "match"]
            if len(matches) != 1:
                raise EsqlError("esql_index: exactly one MATCH in WHERE")
            match_text = str(_lit_of(matches[0][2], "match query"))
            match_opts = _match_opts(matches[0])
            for c in conj:
                if c is matches[0]:
                    continue
                if c[0] == "phrase_match":
                    # MATCH_PHRASE conjunct on the index path: the
                    # docstats term-vector array carries the analyzed
                    # token stream, so the phrase check compiles to the
                    # same contiguous-slice Column the positionless
                    # fallback uses — evaluated as part of the exact
                    # post_filter (pruning bounds stay correct), no
                    # second posting scan. Filter context only, like
                    # every non-MATCH conjunct here (the scoring MATCH
                    # stays the single score source — the table path's
                    # rule too).
                    col = _index_phrase_col(index_path, c)
                elif c[0] == "call" and c[1] == "qstr":
                    # QSTR conjunct: the query_string tree evaluates
                    # over the same term-vector column (filter
                    # context, same rationale)
                    col = _index_qstr_col(index_path, c)
                elif c[0] == "call" and c[1] == "kql":
                    # KQL conjunct: text-field leaves read the term
                    # vectors, other leaves hit carry columns
                    col = _index_kql_col(index_path, c)
                else:
                    if _has_unscorable_ft(c) or _has_index_match(c):
                        # a full-text node NESTED inside a boolean
                        # conjunct would fall through to the table
                        # compiler — wrong analyzer (thread-local, not
                        # the index meta) over a text column docstats
                        # may not carry. Refuse instead of silently
                        # mis-filtering.
                        raise EsqlError(
                            "esql_index: MATCH/MATCH_PHRASE/QSTR/KQL "
                            "only as top-level AND conjuncts on the "
                            "index path — restructure the WHERE or "
                            "use esql() on tables")
                    col = _compile(c)
                post = col if post is None else (post & col)
        elif cmd == "KEEP":
            keep = _parse_names(p)
        elif cmd == "SORT":
            keys = []
            while True:
                name = _parse_pattern(p)
                desc = p.kw("DESC")
                if not desc:
                    p.kw("ASC")   # consume an explicit ASC; default asc
                keys.append((name, desc))
                if p.peek().text == ",":
                    p.next()
                    continue
                break
            if keys[0] != ("_score", True):
                raise EsqlError("esql_index: SORT must lead with "
                                "_score DESC (index ranking order); "
                                f"got {keys[0][0]} "
                                f"{'DESC' if keys[0][1] else 'ASC'}")
            for name, desc in keys[1:]:
                if name != "doc_id" or desc:
                    raise EsqlError("esql_index: only doc_id [ASC] may "
                                    "follow _score DESC")
        elif cmd == "LIMIT":
            k = int(p.next().text)
        else:
            raise EsqlError(f"esql_index: {cmd} not in the canonical "
                            "index-search shape — use esql() on tables")
    if match_text is None or k is None:
        raise EsqlError("esql_index: need WHERE MATCH(..) and LIMIT k")

    if isinstance(index_path, (list, tuple)):
        # multi-index: dfs-exact cross-index stats (rank-identical to
        # a union rebuild); doc_ids must be globally unique across the
        # indexes (the engine's data-stream convention). Residual WHERE
        # conjuncts become topk_multi's post_filter (evaluated over the
        # union of the per-index docstats — B6 semantics, pruning-bound
        # correct under the filter); KEEP carry columns hydrate from
        # the same docstats union on the k-bounded hit frame.
        from .query import multi_docstats, topk_multi

        paths = list(index_path)
        # MATCH options (round 5): operator/minimum_should_match map
        # to topk_multi's msm exactly as on the single-index path —
        # the AND term count analyzes with the shared analyzer
        # (topk_multi enforces the indexes agree on it), and boost
        # scales the one scoring clause linearly after ranking.
        msm = int(match_opts.get("minimum_should_match", 0))
        if str(match_opts.get("operator", "or")).lower() == "and":
            from ..plans.build import load_meta

            msm = max(msm, len(query_terms(match_text,
                                           load_meta(paths[0]))))
        hits = topk_multi(spark, paths, match_text, k=k, post_filter=post,
                          minimum_should_match=msm)
        hits = (hits.withColumnRenamed("score", "_score")
                .orderBy(F.desc("_score"), F.asc("doc_id")))
        boost = float(match_opts.get("boost", 1.0))
        if boost != 1.0:
            hits = hits.withColumn("_score", F.col("_score") * F.lit(boost))
        if want_id:
            # ES doc _id (always a string) — the engine's id column
            hits = hits.withColumn("_id", F.col("doc_id").cast("string"))
        if keep:
            extra = [c for c in keep
                     if c not in ("doc_id", "_score", "_id")]
            if extra:
                stats = multi_docstats(spark, paths, ["doc_id"] + extra)
                hits = hits.join(stats, "doc_id")   # k-bounded hit frame
            # order BEFORE projecting: KEEP is a projection, never a
            # re-sort, even when it drops the sort columns
            hits = hits.orderBy(F.desc("_score"), F.asc("doc_id")) \
                .select(*keep)
        return hits

    from .query import topk

    msm = int(match_opts.get("minimum_should_match", 0))
    if str(match_opts.get("operator", "or")).lower() == "and":
        # operator "and" == require every distinct analyzed term —
        # analyzed with the INDEX's analyzer and token bounds, so the
        # requirement counts exactly the terms the index stored
        from ..plans.build import load_meta

        msm = max(msm, len(query_terms(match_text, load_meta(index_path))))
    hits = topk(spark, index_path, match_text, k=k, strategy=strategy,
                post_filter=post, minimum_should_match=msm)
    hits = (hits.withColumnRenamed("score", "_score")
            .orderBy(F.desc("_score"), F.asc("doc_id")))
    boost = float(match_opts.get("boost", 1.0))
    if boost != 1.0:
        # one scoring clause: the boost scales _score linearly
        # (rank-preserving, but ES reports the scaled value — so do we)
        hits = hits.withColumn("_score", F.col("_score") * F.lit(boost))
    if want_id:
        # ES doc _id (always a string) — the engine's id column
        hits = hits.withColumn("_id", F.col("doc_id").cast("string"))
    if keep:
        extra = [c for c in keep
                 if c not in ("doc_id", "_score", "_id")]
        if extra:
            from ..plans import catalog

            stats = catalog.read_table(spark, index_path, "docstats") \
                .select("doc_id", *extra)
            hits = hits.join(stats, "doc_id")     # k-bounded hit frame
        # the requested SORT (_score DESC, doc_id) governs row order
        # even when KEEP drops those columns (ES|QL: KEEP is a
        # projection, never a re-sort) — order BEFORE projecting
        hits = hits.orderBy(F.desc("_score"), F.asc("doc_id")) \
            .select(*keep)
    return hits
