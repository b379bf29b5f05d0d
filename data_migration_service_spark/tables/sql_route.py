"""Aligned-join routing for plain SQL over EngineGroup views.

`EngineGroup.sql` registers each table as a parquet-dir temp view, so
Catalyst cannot see the engine's bucket layout and a plain equi-join
between co-located tables pays one shuffle exchange per side — the gap
round-4's verdict named as the last between "the plan you get" and "the
plan you'd want at 100x" (tables/colocated.py docstring). The native fix
is a DSv2 source reporting its bucket transform so storage-partitioned
joins kick in (`spark.sql.sources.v2.bucketing.enabled`), but Spark's
Python DataSource API cannot report partitioning (SupportsReportPartitioning
is JVM-only), so this module implements the verdict's sanctioned
alternative: an engine-level rewrite that detects the routable shape and
plans the join through `colocated_join_many` — zero exchanges on
compacted tables — then runs the rest of the query over that result.

Routable envelope (anything else falls back to the naive plan; the
caller can demand routing with `aligned="require"` and get the precise
refusal reason):

    SELECT <list>                      -- no top-level `*` / `t.*`
    FROM t1 [AS a] {JOIN | LEFT [OUTER] JOIN} t2 [AS b]
         {ON a.k = b.k [AND ...] | USING (k, ...)}
         [JOIN t3 ...]                 -- inner/left, uniform per chain
    [WHERE ...] [GROUP BY ...] [HAVING ...] [ORDER BY ...] [LIMIT n]

with every ON clause a conjunction of same-named column equalities (or a
USING column list), the SAME equality set on every join, and that set
covering the shared layout columns. All joins in a chain must share one
type (all inner or all LEFT). Under LEFT JOIN, a qualified reference to
a RIGHT side's join key (b.k) refuses routing — it is NULL on unmatched
rows while the merged key is not — and so does an ON equality that does
not pair the first table with the joined one (`... LEFT JOIN c ON
b.k = c.k`): the routed plan joins every table on the merged key. When
every join uses USING syntax, bare references to the join columns are
legal (USING merges them), exactly as in plain Spark SQL. Non-join
columns that collide across tables are renamed `{col}_r{k}` (k = the
table's position in the FROM chain, the first being 0) by
`colocated.collision_renames`, the rule `colocated_join_many` applies;
qualified references in the outer clauses are rewritten to the
post-join names, so `SELECT a.lsn, b.lsn FROM ...` keeps working.
Bare references that the original query could resolve only by qualifier
(ambiguous across tables) refuse routing — the naive plan then raises
the same AnalysisException plain Spark SQL would.

The rewrite is token-level (comments stripped, string literals kept
verbatim), never regex-over-text, so `'a.b'` inside a literal is safe.

Reference parity: none (engine-added scale feature; see
tables/colocated.py).
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<lc>--[^\n]*)
    | (?P<bc>/\*.*?\*/)
    | (?P<str>'(?:[^']|'')*')
    | (?P<qid>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
    | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<id>[A-Za-z_][A-Za-z_0-9]*)
    | (?P<op><=>|<>|<=|>=|!=|\|\||->|.)
    """,
    re.X | re.S,
)

# keywords a bare identifier is never a column reference for
_KEYWORDS = {
    "select", "from", "where", "group", "having", "order", "limit", "by",
    "as", "on", "join", "inner", "and", "or", "not", "in", "is", "null",
    "like", "rlike", "ilike", "between", "case", "when", "then", "else",
    "end", "cast", "try_cast", "distinct", "all", "asc", "desc", "nulls",
    "first", "last", "true", "false", "interval", "over", "partition",
    "rows", "range", "preceding", "following", "current", "unbounded",
    "row", "exists", "escape", "div", "union", "except", "intersect",
    "filter", "within", "ignore", "respect", "struct", "array", "map",
    "date", "timestamp", "int", "bigint", "double", "float", "string",
    "boolean", "decimal", "smallint", "tinyint", "binary", "long",
}

_JOIN_BREAKERS = {"where", "group", "having", "order", "limit", "join",
                  "inner", "left", "right", "full", "cross", "natural",
                  "semi", "anti", "lateral", "union", "except",
                  "intersect"}


class Unroutable(Exception):
    """Query is outside the routable envelope; .args[0] says why."""


@dataclass
class _Tok:
    kind: str
    text: str


@dataclass
class _Parsed:
    tables: list[tuple[str, str]] = field(default_factory=list)  # (name, alias)
    on_cols: list[str] = field(default_factory=list)
    how: str = "inner"      # "inner" | "left" (uniform across the chain)
    using: bool = False     # True when EVERY join used USING(...) syntax
    select: list[_Tok] = field(default_factory=list)
    where: list[_Tok] = field(default_factory=list)
    group: list[_Tok] = field(default_factory=list)
    having: list[_Tok] = field(default_factory=list)
    order: list[_Tok] = field(default_factory=list)
    limit: list[_Tok] = field(default_factory=list)


def _tokens(sql: str) -> list[_Tok]:
    out, pos = [], 0
    for m in _TOKEN_RE.finditer(sql):
        if m.start() != pos:
            raise Unroutable(f"cannot tokenize near {sql[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "lc", "bc"):
            continue
        out.append(_Tok(kind, m.group()))
    if pos != len(sql):
        raise Unroutable(f"cannot tokenize near {sql[pos:pos + 20]!r}")
    return out


def _unquote(t: _Tok) -> str:
    if t.kind != "qid":
        return t.text
    q = t.text[0]
    return t.text[1:-1].replace(q + q, q)


def _is_kw(t: _Tok, word: str) -> bool:
    return t.kind == "id" and t.text.lower() == word


class _Cursor:
    def __init__(self, toks: list[_Tok]):
        self.toks, self.i = toks, 0

    def peek(self, ahead: int = 0) -> _Tok | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise Unroutable("unexpected end of query")
        self.i += 1
        return t

    def expect_kw(self, word: str) -> None:
        t = self.next()
        if not _is_kw(t, word):
            raise Unroutable(f"expected {word.upper()}, got {t.text!r}")

    def take_until_kw(self, stops: set[str]) -> list[_Tok]:
        """Consume tokens until a top-level (paren-depth 0) stop keyword."""
        out: list[_Tok] = []
        depth = 0
        while True:
            t = self.peek()
            if t is None:
                return out
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
                if depth < 0:
                    raise Unroutable("unbalanced parentheses")
            elif depth == 0 and t.kind == "id" and t.text.lower() in stops:
                return out
            out.append(self.next())


def _parse_relation(c: _Cursor) -> tuple[str, str]:
    t = c.next()
    if t.text == "(":
        raise Unroutable("subquery in FROM is not routable")
    if t.kind not in ("id", "qid") or (
            t.kind == "id" and t.text.lower() in _KEYWORDS):
        raise Unroutable(f"expected table name, got {t.text!r}")
    name = _unquote(t)
    nxt = c.peek()
    if nxt is not None and nxt.text == ".":
        raise Unroutable("qualified table names are not routable")
    alias = name
    if nxt is not None and _is_kw(nxt, "as"):
        c.next()
        alias = _unquote(c.next())
    elif (nxt is not None and nxt.kind in ("id", "qid")
          and not (nxt.kind == "id" and nxt.text.lower() in _JOIN_BREAKERS)
          and not (nxt.kind == "id" and nxt.text.lower() in ("on", "using"))):
        alias = _unquote(c.next())
    return name, alias


def _parse_on(toks: list[_Tok], known_aliases: set[str],
              new_alias: str, left_first: str | None = None) -> list[str]:
    """Parse a conjunction of same-named qualified equalities; return the
    equality column names (lowercase, in appearance order). Under LEFT
    JOIN (`left_first` = the first table's alias) every equality must
    pair that table with `new_alias`: a middle table's key is NULL where
    it did not match, while the routed plan joins on the merged key."""
    # strip balanced parens wrapping the WHOLE condition:
    # ON (a.k = b.k AND a.x = b.x)
    while (len(toks) >= 2 and toks[0].text == "(" and toks[-1].text == ")"):
        depth = 0
        wraps = True
        for i, t in enumerate(toks):
            depth += (t.text == "(") - (t.text == ")")
            if depth == 0 and i < len(toks) - 1:
                wraps = False
                break
        if not wraps:
            break
        toks = toks[1:-1]
    conjs: list[list[_Tok]] = [[]]
    depth = 0
    for t in toks:
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        if depth == 0 and _is_kw(t, "and"):
            conjs.append([])
        else:
            conjs[-1].append(t)
    cols: list[str] = []
    saw_new = False
    for conj in conjs:
        # strip one optional wrapping paren pair
        if (len(conj) >= 2 and conj[0].text == "(" and conj[-1].text == ")"):
            conj = conj[1:-1]
        if (len(conj) != 7 or conj[1].text != "." or conj[5].text != "."
                or conj[3].text != "="):
            raise Unroutable(
                "ON must be a conjunction of alias.col = alias.col")
        a1, c1 = _unquote(conj[0]).lower(), _unquote(conj[2])
        a2, c2 = _unquote(conj[4]).lower(), _unquote(conj[6])
        if c1.lower() != c2.lower():
            raise Unroutable(
                f"equality on differently-named columns "
                f"({c1} = {c2}) is not alignable")
        if a1 not in known_aliases or a2 not in known_aliases:
            raise Unroutable(f"unknown alias in ON ({a1} / {a2})")
        if a1 == a2:
            raise Unroutable("ON equality within one table")
        if left_first is not None and {a1, a2} != {left_first, new_alias}:
            raise Unroutable(
                f"LEFT JOIN ON {a1}.{c1} = {a2}.{c2} does not pair the "
                f"first table with {new_alias}; write {left_first}.{c1} = "
                f"{new_alias}.{c1} (a middle table's key is NULL where it "
                f"did not match)")
        saw_new = saw_new or new_alias in (a1, a2)
        if c1.lower() not in cols:
            cols.append(c1.lower())
    if not saw_new:
        raise Unroutable("ON does not reference the joined table")
    return cols


def parse(sql: str) -> _Parsed:
    c = _Cursor(_tokens(sql.strip().rstrip(";")))
    c.expect_kw("select")
    p = _Parsed()
    p.select = c.take_until_kw({"from"})
    if not p.select:
        raise Unroutable("empty select list")
    # top-level `*` / `alias.*` cannot be mapped through collision renames
    depth = 0
    for t in p.select:
        depth += (t.text == "(") - (t.text == ")")
        if depth == 0 and t.text == "*":
            raise Unroutable("top-level * select is not routable")
    c.expect_kw("from")
    p.tables.append(_parse_relation(c))
    aliases = {p.tables[0][1].lower()}
    joins: list[list[str]] = []
    hows: list[str] = []
    usings: list[bool] = []
    while True:
        t = c.peek()
        how = "inner"
        if t is not None and _is_kw(t, "inner"):
            c.next()
            t = c.peek()
            if t is None or not _is_kw(t, "join"):
                raise Unroutable("INNER must be followed by JOIN")
        elif t is not None and _is_kw(t, "left"):
            nxt = c.peek(1)
            if nxt is not None and _is_kw(nxt, "outer"):
                nxt = c.peek(2)
            if nxt is not None and _is_kw(nxt, "join"):
                c.next()
                if _is_kw(c.peek(), "outer"):
                    c.next()
                how = "left"
                t = c.peek()
        if t is not None and _is_kw(t, "join"):
            c.next()
            name, alias = _parse_relation(c)
            if alias.lower() in aliases:
                raise Unroutable(f"duplicate alias {alias!r}")
            nt = c.peek()
            if nt is not None and _is_kw(nt, "using"):
                c.next()
                if c.next().text != "(":
                    raise Unroutable("USING needs a parenthesized list")
                cols: list[str] = []
                while True:
                    tok = c.next()
                    if tok.kind not in ("id", "qid"):
                        raise Unroutable(
                            f"expected column in USING, got {tok.text!r}")
                    cols.append(_unquote(tok).lower())
                    sep = c.next()
                    if sep.text == ")":
                        break
                    if sep.text != ",":
                        raise Unroutable(
                            f"expected , or ) in USING, got {sep.text!r}")
                joins.append(cols)
                usings.append(True)
            else:
                c.expect_kw("on")
                cond = c.take_until_kw(_JOIN_BREAKERS)
                joins.append(_parse_on(
                    cond, aliases | {alias.lower()}, alias.lower(),
                    p.tables[0][1].lower() if how == "left" else None))
                usings.append(False)
            hows.append(how)
            p.tables.append((name, alias))
            aliases.add(alias.lower())
            continue
        if how == "left":
            raise Unroutable("LEFT must be followed by [OUTER] JOIN")
        if t is not None and t.kind == "id" and t.text.lower() in (
                "left", "right", "full", "cross", "natural", "semi",
                "anti", "lateral", "union", "except", "intersect"):
            kind = t.text.upper()
            nxt = c.peek(1)
            if (t.text.lower() == "left" and nxt is not None
                    and nxt.kind == "id"):
                # plain LEFT [OUTER] JOIN routes; name the variant that
                # does not (LEFT SEMI / LEFT ANTI)
                kind = f"LEFT {nxt.text.upper()}"
            raise Unroutable(f"{kind} is not routable "
                             f"(inner/left equi-joins only)")
        if t is not None and t.text == ",":
            raise Unroutable("comma join is not routable")
        break
    if len(p.tables) < 2:
        raise Unroutable("no join between group tables")
    if len(set(hows)) > 1:
        raise Unroutable(
            "mixed INNER and LEFT joins in one chain are not routable")
    p.how = hows[0]
    p.using = all(usings)
    first = joins[0]
    for j in joins[1:]:
        if set(j) != set(first):
            raise Unroutable(
                f"joins use different equality sets ({first} vs {j}); "
                f"one aligned pass needs one key set")
    p.on_cols = first
    for kw, attr in (("where", "where"), ("group", "group"),
                     ("having", "having"), ("order", "order"),
                     ("limit", "limit")):
        t = c.peek()
        if t is not None and _is_kw(t, kw):
            c.next()
            if kw in ("group", "order"):
                c.expect_kw("by")
            setattr(p, attr, c.take_until_kw(
                {"group", "having", "order", "limit"} - {kw}))
    if c.peek() is not None:
        raise Unroutable(f"trailing tokens from {c.peek().text!r}")
    # a subquery anywhere outside FROM would reference group tables by
    # name, but the routed execution never registers the per-table views
    # — refuse so the naive plan (which does) handles it
    for clause in (p.select, p.where, p.group, p.having, p.order):
        if any(_is_kw(t, "select") for t in clause):
            raise Unroutable("subquery outside FROM is not routable")
    return p


def _select_aliases(select: list[_Tok]) -> set[str]:
    """Output aliases declared with AS at paren depth 0 — bare references
    to them (ORDER BY n) must not be rewritten as column refs."""
    out, depth = set(), 0
    for i, t in enumerate(select):
        depth += (t.text == "(") - (t.text == ")")
        if depth == 0 and _is_kw(t, "as") and i + 1 < len(select):
            nxt = select[i + 1]
            if nxt.kind in ("id", "qid"):
                out.add(_unquote(nxt).lower())
    return out


def _rewrite(toks: list[_Tok], alias_pos: dict[str, int],
             cols_per_table: list[list[str]], on_lower: set[str],
             ren: dict[tuple[int, str], str],
             skip_bare: set[str], using: bool = False,
             how: str = "inner") -> str:
    col_owners: dict[str, list[int]] = {}
    for k, cols in enumerate(cols_per_table):
        for c in cols:
            col_owners.setdefault(c.lower(), []).append(k)
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        nxt2 = toks[i + 2] if i + 2 < len(toks) else None
        prev = toks[i - 1] if i > 0 else None
        if (t.kind in ("id", "qid") and nxt is not None
                and nxt.text == "." and nxt2 is not None
                and _unquote(t).lower() in alias_pos):
            k = alias_pos[_unquote(t).lower()]
            if nxt2.text == "*":
                raise Unroutable("alias.* is not routable")
            col = _unquote(nxt2)
            table_cols = {c.lower() for c in cols_per_table[k]}
            if col.lower() not in table_cols:
                raise Unroutable(
                    f"{_unquote(t)}.{col} is not a column of that table")
            if how == "left" and k >= 1 and col.lower() in on_lower:
                # under LEFT JOIN the right side's join key is NULL on
                # unmatched rows while the merged key is not — mapping
                # b.k -> k would silently change results
                raise Unroutable(
                    f"right-side join-key reference "
                    f"{_unquote(t)}.{col} under LEFT JOIN is not "
                    f"routable (NULL semantics differ from the merged "
                    f"key)")
            out.append(ren[(k, col.lower())])
            i += 3
            continue
        if (t.kind == "id" and t.text.lower() not in _KEYWORDS
                and (prev is None or prev.text != ".")
                and (nxt is None or nxt.text != "(")
                # ident followed by "." is either an alias (handled above)
                # or a STRUCT column being field-accessed — the latter
                # still needs the collision-rename mapping, so only skip
                # it when it is not a known column
                and (nxt is None or nxt.text != "."
                     or t.text.lower() in col_owners)
                and (prev is None or not _is_kw(prev, "as"))
                and t.text.lower() not in skip_bare):
            owners = col_owners.get(t.text.lower(), [])
            # join keys are ambiguous too under ON syntax: the ORIGINAL
            # query's ON-join keeps both sides' key columns, so plain
            # Spark SQL rejects a bare reference — routing must not
            # silently accept what the naive plan errors on. USING
            # syntax merges the key columns, making the bare reference
            # legal in the original query — route it to the merged key.
            if using and t.text.lower() in on_lower:
                out.append(t.text)
                i += 1
                continue
            if len(owners) > 1:
                raise Unroutable(
                    f"bare reference {t.text!r} is ambiguous across "
                    f"tables; qualify it")
            if len(owners) == 1:
                out.append(ren[(owners[0], t.text.lower())])
                i += 1
                continue
        out.append(t.text)
        i += 1
    return " ".join(out)


def route_aligned_sql(spark, engines: dict, query: str,
                      pins: dict[str, int]) -> DataFrame:
    """Plan `query` with its join tree replaced by one bucket-aligned
    pass (`colocated_join_many`). Raises Unroutable with the reason when
    the query is outside the envelope or the tables are not co-located —
    the caller decides whether that falls back (aligned="auto") or
    surfaces (aligned="require")."""
    from data_migration_service_spark.tables.colocated import (
        collision_renames,
        colocated_join_many,
    )
    from data_migration_service_spark.tables.lake import (
        BUCKET_COL, DELETED_COL,
    )

    p = parse(query)
    by_lower = {n.lower(): n for n in engines}
    names: list[str] = []
    for name, _alias in p.tables:
        if name.lower() not in by_lower:
            raise Unroutable(f"{name!r} is not a group table")
        names.append(by_lower[name.lower()])
    if len(set(names)) != len(names):
        raise Unroutable("self-join of one table is not routable")

    tables = [engines[n].table for n in names]
    snaps = [
        t.load_snapshot(pins[n]) if n in pins else t.current()
        for n, t in zip(names, tables)
    ]
    cols_per_table = [
        [f.name for f in s.schema().fields
         if f.name not in (DELETED_COL, BUCKET_COL)]
        for s in snaps
    ]
    # resolve parsed (lowercase) join cols against actual column case
    on_cols: list[str] = []
    for oc in p.on_cols:
        for c in cols_per_table[0]:
            if c.lower() == oc:
                on_cols.append(c)
                break
        else:
            raise Unroutable(f"join column {oc!r} not in {names[0]}")
    for k, cols in enumerate(cols_per_table[1:], start=1):
        missing = [c for c in on_cols
                   if c.lower() not in {x.lower() for x in cols}]
        if missing:
            raise Unroutable(f"join columns {missing} not in {names[k]}")

    try:
        joined = colocated_join_many(tables, on=on_cols, how=p.how,
                                     snapshots=snaps)
    except ValueError as e:
        raise Unroutable(str(e)) from e

    on_lower = {c.lower() for c in on_cols}
    ren = collision_renames(cols_per_table, on_cols)
    alias_pos = {a.lower(): k for k, (_n, a) in enumerate(p.tables)}
    # table names double as qualifiers when no alias was given; when an
    # alias IS given, SQL hides the table name — alias_pos covers both
    # because _parse_relation defaults alias to the table name
    skip_bare = _select_aliases(p.select)
    rw = lambda toks: _rewrite(toks, alias_pos, cols_per_table,  # noqa: E731
                               on_lower, ren, skip_bare,
                               using=p.using, how=p.how)
    sel = rw(p.select)
    # one view name per call: concurrent callers on one session must not
    # replace (or drop) each other's joined source
    view = f"__dms_aligned_src_{uuid.uuid4().hex}__"
    parts = [f"SELECT {sel} FROM {view}"]
    if p.where:
        parts.append(f"WHERE {rw(p.where)}")
    if p.group:
        parts.append(f"GROUP BY {rw(p.group)}")
    if p.having:
        parts.append(f"HAVING {rw(p.having)}")
    if p.order:
        parts.append(f"ORDER BY {rw(p.order)}")
    if p.limit:
        parts.append(f"LIMIT {rw(p.limit)}")
    outer = " ".join(parts)
    joined.createOrReplaceTempView(view)
    try:
        return spark.sql(outer)
    finally:
        spark.catalog.dropTempView(view)
