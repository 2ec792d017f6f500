"""Lucene ``query_string`` syntax: parser + compiler onto native ops.

The reference stack's users query ES 0.90 through the URI search
``q=`` parameter and the ``query_string`` query, both of which speak
Lucene's classic QueryParser syntax (the reference's integration tests
drive search through the same Java client those endpoints route to).
This module gives that surface natively:

    +spark "query join" win* dup^2 -merge
    (spark OR window) AND NOT dup
    text:spark AND _exists_:lang

Grammar (the practical classic-parser subset)::

    query  := clause+
    clause := [+|-|NOT] [field:] atom [^boost]
    atom   := term | term~N | prefix* | wild?card* | "phrase" [~slop]
              | ( query )

Occur resolution follows the classic one-pass QueryParser rules:
``+``/``-``/``NOT`` pin a clause to MUST / MUST_NOT; ``a AND b``
upgrades both neighbors to MUST (unless pinned); ``a OR b`` marks
both SHOULD; bare clauses take ``default_operator`` (OR -> SHOULD,
AND -> MUST). A group with MUSTs requires all of them and lets
SHOULDs only add score (ES bool semantics); a group with only
SHOULDs requires at least one.

Scoring follows Lucene's rewrite rules where they are cheap and
documents the one divergence:

- term leaves score the real BM25 partial (boost-scaled), ALL term
  leaves in the tree sharing ONE postings decode;
- prefix / wildcard / fuzzy leaves rewrite to constant_score
  (1.0 * boost per matching doc) — exactly Lucene's default
  multi-term rewrite (``CONSTANT_SCORE_REWRITE``);
- phrase leaves contribute constant 1.0 * boost (divergence: Lucene
  scores phrases by phrase frequency; the contiguity CHECK here is
  exact via positional postings, only the matched clause's score
  contribution is flattened).

Field prefixes: the indexed text field (``meta["text_col"]``) and
bare atoms hit the index; ``_exists_:col`` filters on a doc-store
carry column; any other field raises (single-field index).

Scale: one bucket-pruned postings decode for every scored term, each
multi-term expansion is a metadata-only dictionary scan, clause
algebra is hash-aggregation on doc_id, and the final k-cut is a
TakeOrderedAndProject — no driver-side evaluation anywhere.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.operators.query import analyze
from elasticsearch_osmosis_plugin_spark.operators.topk import deterministic_topk

MUST, SHOULD, MUST_NOT = "MUST", "SHOULD", "MUST_NOT"


@dataclass
class Leaf:
    kind: str                    # term | prefix | wildcard | fuzzy | phrase | exists
    text: str
    boost: float = 1.0
    fuzz: int = 0                # fuzzy max_edits
    slop: int = 0                # phrase slop
    field: str | None = None


@dataclass
class Group:
    children: list[tuple[str, object]] = dc_field(default_factory=list)


_TOKEN_RE = re.compile(r"""
    \s*(?:
      (?P<lpar>\() | (?P<rpar>\)) |
      (?P<and>AND\b|&&) | (?P<or>OR\b|\|\|) | (?P<not>NOT\b|!) |
      (?P<plus>\+) | (?P<minus>-) |
      (?P<phrase>"(?P<ph>[^"]*)"(?:~(?P<slop>\d+))?) |
      (?P<atom>[^\s()+\-!"^~][^\s()"^~]*)
        (?:~(?P<fuzz>\d*))? (?:\^(?P<boost>\d+(?:\.\d+)?))?
    )""", re.VERBOSE)


def _scan(q: str):
    """Yield (kind, payload) tokens; raises on unparseable input."""
    pos = 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m or m.end() == pos:
            if q[pos:].strip() == "":
                return
            raise ValueError(f"query_string: cannot parse at: {q[pos:]!r}")
        pos = m.end()
        if m.group("lpar"):
            yield ("(", None)
        elif m.group("rpar"):
            yield (")", None)
        elif m.group("and"):
            yield ("AND", None)
        elif m.group("or"):
            yield ("OR", None)
        elif m.group("not"):
            yield ("NOT", None)
        elif m.group("plus"):
            yield ("+", None)
        elif m.group("minus"):
            yield ("-", None)
        elif m.group("phrase"):
            yield ("PHRASE", (m.group("ph"), int(m.group("slop") or 0)))
        else:
            yield ("ATOM", (m.group("atom"),
                            m.group("fuzz"), m.group("boost")))


def _leaf_from_atom(atom: str, fuzz: str | None, boost: str | None) -> Leaf:
    fld = None
    if ":" in atom:
        fld, atom = atom.split(":", 1)
    b = float(boost) if boost else 1.0
    if fld == "_exists_":
        return Leaf("exists", atom, b)
    if fuzz is not None:                       # trailing ~ or ~N
        return Leaf("fuzzy", atom, b, fuzz=int(fuzz) if fuzz else 2,
                    field=fld)
    if "*" in atom or "?" in atom:
        if atom.endswith("*") and not re.search(r"[*?]", atom[:-1]):
            return Leaf("prefix", atom[:-1], b, field=fld)
        return Leaf("wildcard", atom, b, field=fld)
    return Leaf("term", atom, b, field=fld)


def parse_query_string(q: str, default_operator: str = "OR") -> Group:
    """Parse to a Group tree with classic-QueryParser occur rules."""
    tokens = list(_scan(q))
    pos = 0

    def parse_group(depth: int) -> Group:
        nonlocal pos
        g = Group()
        default_occur = MUST if default_operator.upper() == "AND" else SHOULD
        pending: str | None = None      # +/-/NOT pin for the next clause
        conj: str | None = None         # AND/OR seen since last clause
        pinned: list[bool] = []         # per-child: occur was explicit
        while pos < len(tokens):
            kind, payload = tokens[pos]
            pos += 1
            if kind == ")":
                if depth == 0:
                    raise ValueError("query_string: unbalanced ')'")
                break
            if kind in ("AND", "OR"):
                conj = kind
                # AND retroactively requires the previous clause;
                # OR retroactively relaxes it (classic parser rule)
                if g.children and not pinned[-1]:
                    occ = MUST if kind == "AND" else SHOULD
                    g.children[-1] = (occ, g.children[-1][1])
                continue
            if kind == "NOT":
                pending = MUST_NOT
                continue
            if kind == "+":
                pending = MUST
                continue
            if kind == "-":
                pending = MUST_NOT
                continue
            if kind == "(":
                node: object = parse_group(depth + 1)
            elif kind == "PHRASE":
                text, slop = payload
                node = Leaf("phrase", text, 1.0, slop=slop)
            else:
                node = _leaf_from_atom(*payload)
            if pending is not None:
                occ, explicit = pending, True
            elif conj == "AND":
                occ, explicit = MUST, False
            elif conj == "OR":
                occ, explicit = SHOULD, False
            else:
                occ, explicit = default_occur, False
            g.children.append((occ, node))
            pinned.append(explicit)
            pending, conj = None, None
        else:
            if depth > 0:
                raise ValueError("query_string: unbalanced '('")
        if not g.children:
            raise ValueError("query_string: empty query")
        return g

    root = parse_group(0)
    if pos < len(tokens):
        raise ValueError("query_string: unbalanced ')'")
    return root


# ---------------------------------------------------------------- compile

def _collect_terms(node, meta, out: set[str]) -> None:
    if isinstance(node, Group):
        for _, c in node.children:
            _collect_terms(c, meta, out)
        return
    if node.kind == "term":
        out.update(analyze(node.text, meta))


def query_string_topk(spark: SparkSession, index_path: str, q: str,
                      k: int = 10, default_operator: str = "OR",
                      max_expansions: int = 1000) -> DataFrame:
    """Rank the index with a Lucene query_string -> (doc_id, score)."""
    tree = parse_query_string(q, default_operator)
    return compile_tree_topk(spark, index_path, tree, k, max_expansions)


def compile_tree_topk(spark: SparkSession, index_path: str, tree: Group,
                      k: int = 10, max_expansions: int = 1000) -> DataFrame:
    """Compile a parsed Leaf/Group tree against the index: one shared
    postings decode for every scored term, metadata-only multi-term
    expansions, clause algebra as doc_id hash-aggregation, final k-cut
    a TakeOrderedAndProject. Shared by the classic and the simple
    query-string parsers."""
    from elasticsearch_osmosis_plugin_spark.operators import intersect
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        _scored,
        dictionary_rows,
        live_docs,
        load_meta,
        summed,
        term_idfs,
    )
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    meta = load_meta(index_path)

    all_terms: set[str] = set()
    _collect_terms(tree, meta, all_terms)
    idf_by_term = term_idfs(dictionary_rows(index_path, sorted(all_terms),
                                            meta), meta)
    shared = (_scored(spark, index_path, meta, idf_by_term)
              if idf_by_term else None)

    empty = spark.createDataFrame([], "doc_id long, score double")

    def compile_leaf(leaf: Leaf) -> DataFrame:
        indexed = meta.get("text_col")  # absent on pre-r2 indexes
        if leaf.kind != "exists" and leaf.field is not None \
                and indexed is not None and leaf.field != indexed:
            raise ValueError(
                f"query_string: unknown field {leaf.field!r} "
                f"(index covers {indexed!r})")
        if leaf.kind == "term":
            terms = [t for t in dict.fromkeys(analyze(leaf.text, meta))
                     if t in idf_by_term]
            if not terms or shared is None:
                return empty
            return summed(shared.filter(F.col("term").isin(terms))).select(
                "doc_id", (F.col("score") * F.lit(leaf.boost)).alias("score"))
        if leaf.kind in ("exists", "match_all"):
            ds = catalog.read_table(spark, index_path, "docstats")
            if leaf.kind == "exists":
                ds = ds.filter(F.col(leaf.text).isNotNull())
            return live_docs(spark, index_path, ds.select(
                "doc_id", F.lit(leaf.boost).alias("score")), meta)
        if leaf.kind == "phrase":
            toks = analyze(leaf.text, meta)
            if not toks:
                return empty
            if len(toks) == 1:
                ids = intersect.match_all_terms(spark, index_path, toks[0])
            elif leaf.slop:
                ids = intersect.span_near(spark, index_path, " ".join(toks),
                                          slop=leaf.slop, in_order=True)
            else:
                ids = intersect.match_phrase(spark, index_path,
                                             " ".join(toks))
            return ids.select("doc_id", F.lit(leaf.boost).alias("score"))
        if leaf.kind == "prefix":
            ids = intersect.match_expanded(spark, index_path,
                                           leaf.text.lower(), mode="prefix",
                                           max_expansions=max_expansions)
        elif leaf.kind == "wildcard":
            pat = re.escape(leaf.text.lower()) \
                .replace(r"\*", ".*").replace(r"\?", ".")
            ids = intersect.match_expanded(spark, index_path, pat,
                                           mode="regex",
                                           max_expansions=max_expansions)
        elif leaf.kind == "fuzzy":
            ids = intersect.match_fuzzy(spark, index_path, leaf.text.lower(),
                                        max_edits=min(leaf.fuzz, 2),
                                        max_expansions=max_expansions)
        else:
            raise ValueError(f"query_string: unknown leaf {leaf.kind!r}")
        return ids.select("doc_id", F.lit(leaf.boost).alias("score"))

    def compile_node(node) -> DataFrame:
        if isinstance(node, Leaf):
            return compile_leaf(node)
        musts = [compile_node(c) for occ, c in node.children if occ == MUST]
        shoulds = [compile_node(c) for occ, c in node.children
                   if occ == SHOULD]
        nots = [compile_node(c) for occ, c in node.children
                if occ == MUST_NOT]
        base = None
        if musts:
            u = None
            for i, m in enumerate(musts):
                part = m.select("doc_id", "score",
                                F.lit(i).alias("_cid"))
                u = part if u is None else u.unionByName(part)
            base = (u.groupBy("doc_id")
                    .agg(F.sum("score").alias("score"),
                         F.countDistinct("_cid").alias("_n"))
                    .filter(F.col("_n") == len(musts))
                    .select("doc_id", "score"))
        if shoulds:
            su = None
            for s in shoulds:
                su = s if su is None else su.unionByName(s)
            su = su.groupBy("doc_id").agg(F.sum("score").alias("_s"))
            if base is None:
                base = su.select("doc_id", F.col("_s").alias("score"))
            else:
                # ES bool: SHOULDs beside MUSTs only add score
                base = (base.join(su, "doc_id", "left")
                        .select("doc_id",
                                (F.col("score")
                                 + F.coalesce(F.col("_s"), F.lit(0.0)))
                                .alias("score")))
        if base is None:
            raise ValueError(
                "query_string: purely negative query matches nothing")
        for n in nots:
            base = base.join(n.select("doc_id"), "doc_id", "left_anti")
        return base

    return deterministic_topk(compile_node(tree), k)


# ------------------------------------------------- simple_query_string

_SQS_ALL_FLAGS = frozenset({"AND", "OR", "NOT", "PHRASE", "PREFIX",
                            "PRECEDENCE", "ESCAPE", "FUZZY", "SLOP",
                            "NEAR", "WHITESPACE"})


def _sqs_flags(flags: str) -> frozenset:
    if flags.upper() == "ALL":
        return _SQS_ALL_FLAGS
    if flags.upper() == "NONE":
        return frozenset({"WHITESPACE"})
    out = set()
    for part in flags.upper().split("|"):
        part = part.strip()
        if part and part not in _SQS_ALL_FLAGS:
            raise ValueError(f"simple_query_string: unknown flag {part!r}")
        if part:
            out.add(part)
    out.add("WHITESPACE")          # term splitting is not optional here
    if "NEAR" in out:
        out.add("SLOP")            # ES NEAR == phrase slop
    return frozenset(out)


def _sqs_scan(q: str, fl: frozenset) -> list:
    """Char-level lenient scan. Yields '(' / ')' / 'AND' / 'OR' /
    'NOT' / ('PHRASE', (text, slop)) / ('TERM', (text, fuzz, prefix)).
    Disabled specials fall through as literal word characters; nothing
    ever raises (the simple parser's contract)."""
    out: list = []
    buf: list[str] = []
    i, n = 0, len(q)

    def flush(fuzz: int | None = None) -> None:
        if not buf:
            return
        text = "".join(buf)
        buf.clear()
        prefix = False
        if fuzz is None and "PREFIX" in fl and text.endswith("*") \
                and len(text) > 1:
            text, prefix = text[:-1], True
        out.append(("TERM", (text, fuzz, prefix)))

    while i < n:
        c = q[i]
        if c == "\\" and "ESCAPE" in fl and i + 1 < n:
            buf.append(q[i + 1])
            i += 2
            continue
        if c.isspace():
            flush()
            i += 1
            continue
        if c == "+" and "AND" in fl:
            flush()
            out.append("AND")
            i += 1
            continue
        if c == "|" and "OR" in fl:
            flush()
            out.append("OR")
            i += 1
            continue
        if c == "-" and "NOT" in fl and not buf:
            out.append("NOT")
            i += 1
            continue
        if c == "(" and "PRECEDENCE" in fl:
            flush()
            out.append("(")
            i += 1
            continue
        if c == ")" and "PRECEDENCE" in fl:
            flush()
            out.append(")")
            i += 1
            continue
        if c == '"' and "PHRASE" in fl:
            flush()
            j = q.find('"', i + 1)
            if j < 0:                      # unterminated: rest is the phrase
                text, i = q[i + 1:], n
            else:
                text, i = q[i + 1:j], j + 1
            slop = 0
            if i < n and q[i] == "~" and "SLOP" in fl:
                m = re.match(r"~(\d+)", q[i:])
                if m:
                    slop, i = int(m.group(1)), i + m.end()
            out.append(("PHRASE", (text, slop)))
            continue
        if c == "~" and "FUZZY" in fl and buf:
            m = re.match(r"~(\d*)", q[i:])
            i += m.end()
            flush(fuzz=int(m.group(1)) if m.group(1) else 2)
            continue
        buf.append(c)
        i += 1
    flush()
    return out


def parse_simple_query_string(q: str, default_operator: str = "OR",
                              flags: str = "ALL") -> Group:
    """ES ``simple_query_string``: the lenient end-user mini-language
    (``+`` AND, ``|`` OR, ``-`` negation, quoted phrases with ``~N``
    slop, trailing ``*`` prefix, ``~N`` fuzziness, ``(...)`` groups,
    ``\\`` escaping; each feature detachable via ``flags``). NEVER
    raises on malformed input: stray ``)`` is ignored, an unclosed
    ``(`` or ``"`` closes at end-of-string, dangling operators drop —
    exactly the discard-invalid-parts contract that makes this the
    user-facing search-box query in ES.

    Occur algebra (Lucene SimpleQueryParser's flat model): ``|``
    starts a new alternative, ``+`` (or default_operator=AND
    whitespace) extends the current one, and ``-`` clauses attach as
    MUST_NOT to the ENCLOSING group — ``a | -b`` matches a-docs minus
    b-docs, not "everything except b, or a". One documented
    divergence: ``+`` binds tighter than ``|`` everywhere (DNF),
    where Lucene nests left-associatively on operator switches."""
    fl = _sqs_flags(flags)
    toks = _sqs_scan(q, fl)
    pos = 0
    as_must = default_operator.upper() == "AND"

    def parse_group(depth: int) -> Group | Leaf | None:
        nonlocal pos
        alts: list[list] = []
        cur: list = []
        nots: list = []
        neg = False
        op: str | None = None
        while pos < len(toks):
            t = toks[pos]
            pos += 1
            if t == ")":
                if depth:
                    break
                continue                    # lenient: stray ')'
            if t in ("AND", "OR"):
                op = t
                continue
            if t == "NOT":
                neg = True
                continue
            if t == "(":
                node = parse_group(depth + 1)
            elif t[0] == "PHRASE":
                text, slop = t[1]
                node = Leaf("phrase", text, 1.0, slop=slop) if text.strip() \
                    else None
            else:
                text, fuzz, prefix = t[1]
                if not text:
                    node = None
                elif fuzz is not None:
                    node = Leaf("fuzzy", text, 1.0, fuzz=fuzz)
                elif prefix:
                    node = Leaf("prefix", text, 1.0)
                else:
                    node = Leaf("term", text, 1.0)
            if node is None:               # empty capture: drop silently
                neg, op = False, None
                continue
            if neg:
                nots.append(node)
            else:
                new_alt = (op == "OR") or (op is None and not as_must
                                           and cur)
                if new_alt and cur:
                    alts.append(cur)
                    cur = []
                cur.append(node)
            neg, op = False, None
        if cur:
            alts.append(cur)

        def build_alt(items: list):
            if len(items) == 1:
                return items[0]
            return Group([(MUST, it) for it in items])

        if not alts and not nots:
            return None
        children: list = []
        if len(alts) == 1 and len(alts[0]) == 1 and not nots and depth:
            return alts[0][0]              # transparent inner group
        if len(alts) <= 1:
            for it in (alts[0] if alts else []):
                children.append((MUST, it))
        else:
            for a in alts:
                children.append((SHOULD, build_alt(a)))
        if not children and nots:
            children.append((MUST, Leaf("match_all", "")))
        children.extend((MUST_NOT, x) for x in nots)
        return Group(children)

    root = parse_group(0)
    if root is None:
        return Group([])                   # match none (ES empty query)
    if isinstance(root, Leaf):
        return Group([(MUST, root)])
    return root


def simple_query_string_topk(spark: SparkSession, index_path: str, q: str,
                             k: int = 10, default_operator: str = "OR",
                             flags: str = "ALL",
                             fields: list[str] | None = None,
                             max_expansions: int = 1000) -> DataFrame:
    """Rank the index with an ES simple_query_string -> (doc_id,
    score). Same compiled plan as query_string_topk — one shared
    postings decode, metadata-only expansions, TakeOrderedAndProject
    k-cut."""
    from elasticsearch_osmosis_plugin_spark.operators.query import load_meta

    if fields:
        meta = load_meta(index_path)
        indexed = meta.get("text_col")
        for f in fields:
            name = f.split("^", 1)[0]
            if indexed is not None and name != indexed:
                raise ValueError(
                    f"simple_query_string: unknown field {name!r} "
                    f"(index covers {indexed!r})")
    tree = parse_simple_query_string(q, default_operator, flags)
    if not tree.children:
        return spark.createDataFrame([], "doc_id long, score double")
    return compile_tree_topk(spark, index_path, tree, k, max_expansions)
