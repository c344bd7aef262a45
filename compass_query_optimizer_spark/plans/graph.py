"""Join-graph extraction for the COMPASS planner.

The reference walks the RA filter condition above the join chain and
registers every cross-scan `RexInput = RexInput` equality as a join edge
keyed by (table_id, node_id) — alias-exact, so self-joins get distinct
nodes (FilterPushDownSketch.cpp:25-123 extractHashJoinCol). We do the same
over a declarative JoinQuerySpec, which can be built directly or parsed
from the JOB-style conjunctive SQL the reference benchmarks with
(queries/*.sql.sq.cnt: FROM t AS a, ... WHERE conjuncts).

Transitive equality classes (seed sharing across join-connected attributes,
FilterPushDownSketch.cpp:1280-1373 addPredicate) are computed by union-find
over the join columns; every class gets one deterministic seed set so
sketches of different tables stay comparable.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class JoinQuerySpec:
    """A conjunctive multi-way equi-join query (the JOB/COMPASS shape)."""

    tables: dict[str, str]  # alias -> table name (self-joins: two aliases)
    join_preds: list[tuple[str, str, str, str]]  # (alias_a, col_a, alias_b, col_b)
    filters: dict[str, str] = field(default_factory=dict)  # alias -> SQL conjunction
    post_filters: list[str] = field(default_factory=list)  # cross-alias residuals
    # aliases joined LEFT OUTER (null-extending). The reference executes
    # left outer joins per nesting level of the same left-deep chain
    # (RelAlgExecutor.cpp:2635-2644 left_deep_join_types); here each outer
    # alias must join only to NON-outer aliases, and per-alias `filters` on
    # an outer alias are ON-clause semantics (applied to the table before
    # the join — a WHERE filter on the nullable side would kill the
    # null-extended rows and silently turn the join inner).
    outer: set[str] = field(default_factory=set)


_JOIN_RE = re.compile(r"^(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)$")
_BARE_JOIN_RE = re.compile(r"^(\w+)\s*=\s*(\w+)$")
_ALIAS_RE = re.compile(r"\b(\w+)\.(\w+)\b")
_IDENT_RE = re.compile(r"\b[A-Za-z_]\w*\b")

_SQL_KEYWORDS = frozenset(
    "and or not in is null like ilike between exists case when then else end "
    "true false distinct select from where group by order having limit as "
    "count sum min max avg cast interval date timestamp".split()
)


def _strip_quotes(s: str) -> str:
    return re.sub(r"'(?:[^']|'')*'", "''", s)


def _split_top_level_and(expr: str) -> list[str]:
    """Split a WHERE clause on top-level ANDs (paren-, quote- and
    BETWEEN-aware: the AND inside ``x BETWEEN a AND b`` binds to the
    predicate, not the conjunction)."""
    parts, depth, between, cur, i = [], 0, 0, [], 0
    s = expr

    def word_at(pos: int, w: str) -> bool:
        return (
            s[pos : pos + len(w)].upper() == w
            and (pos == 0 or not (s[pos - 1].isalnum() or s[pos - 1] == "_"))
            and (
                pos + len(w) >= len(s)
                or not (s[pos + len(w)].isalnum() or s[pos + len(w)] == "_")
            )
        )

    while i < len(s):
        ch = s[i]
        if ch == "'":
            cur.append(ch)
            i += 1
            while i < len(s):
                cur.append(s[i])
                if s[i] == "'":
                    break
                i += 1
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif word_at(i, "BETWEEN"):
            between += 1
            cur.append(s[i : i + 7])
            i += 6
        elif word_at(i, "AND") and between > 0:
            between -= 1
            cur.append(s[i : i + 3])
            i += 2
        elif depth == 0 and word_at(i, "AND"):
            parts.append("".join(cur).strip())
            cur = []
            i += 2
        else:
            cur.append(ch)
        i += 1
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def parse_join_query(sql: str) -> JoinQuerySpec:
    """Parse the JOB-style query form:
    ``SELECT ... FROM t1 [AS] a1, t2 [AS] a2, ... WHERE conj AND conj ...``

    Conjuncts that equate columns of two different aliases become join
    edges; conjuncts touching one alias become its pushed-down filter
    (alias prefix stripped); anything else is a post-join residual.
    """
    m = re.search(r"\bFROM\b(.*?)\bWHERE\b(.*)$", sql, re.S | re.I)
    if not m:
        raise ValueError("expected FROM ... WHERE ...")
    from_part, where_part = m.group(1), m.group(2).rstrip().rstrip(";")

    tables: dict[str, str] = {}
    for item in from_part.split(","):
        toks = item.split()
        if len(toks) == 1:
            tables[toks[0]] = toks[0]
        elif len(toks) == 2:
            tables[toks[1]] = toks[0]
        elif len(toks) == 3 and toks[1].upper() == "AS":
            tables[toks[2]] = toks[0]
        else:
            raise ValueError(f"cannot parse FROM item: {item!r}")

    # bare-column resolution: unqualified identifiers owned by exactly one
    # alias (TPC-H style unique column names) resolve to that alias
    from compass_query_optimizer_spark.catalog import SCHEMAS

    owners: dict[str, list[str]] = {}
    for alias, tbl in tables.items():
        schema = SCHEMAS.get(tbl)
        if schema is not None:
            for f in schema.fields:
                owners.setdefault(f.name, []).append(alias)

    def owner(col: str) -> str | None:
        lst = owners.get(col)
        return lst[0] if lst and len(lst) == 1 else None

    spec = JoinQuerySpec(tables=tables, join_preds=[])
    for conj in _split_top_level_and(where_part):
        conj = conj.strip()
        jm = _JOIN_RE.match(conj)
        if jm and jm.group(1) != jm.group(3):
            a, ca, b, cb = jm.groups()
            if a in tables and b in tables:
                spec.join_preds.append((a, ca, b, cb))
                continue
        bm = _BARE_JOIN_RE.match(conj)
        if bm:
            oa, ob = owner(bm.group(1)), owner(bm.group(2))
            if oa and ob and oa != ob:
                spec.join_preds.append((oa, bm.group(1), ob, bm.group(2)))
                continue
        # which aliases does this conjunct touch?
        aliases = {a for a, _ in _ALIAS_RE.findall(conj) if a in tables}
        for ident in _IDENT_RE.findall(_strip_quotes(conj)):
            if ident.lower() in _SQL_KEYWORDS or ident in tables:
                continue
            o = owner(ident)
            if o:
                aliases.add(o)
        if len(aliases) == 1:
            alias = aliases.pop()
            stripped = re.sub(rf"\b{alias}\.", "", conj)
            spec.filters[alias] = (
                f"({spec.filters[alias]}) AND ({stripped})"
                if alias in spec.filters
                else stripped
            )
        else:
            spec.post_filters.append(conj)
    return spec


class JoinGraph:
    """Adjacency + transitive equality classes over a JoinQuerySpec."""

    def __init__(self, spec: JoinQuerySpec):
        self.spec = spec
        # adj[alias] = list of (other_alias, own_col, other_col)
        self.adj: dict[str, list[tuple[str, str, str]]] = {a: [] for a in spec.tables}
        for a, ca, b, cb in spec.join_preds:
            self.adj[a].append((b, ca, cb))
            self.adj[b].append((a, cb, ca))

        # union-find over (alias, col) → equality class
        parent: dict[tuple[str, str], tuple[str, str]] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, ca, b, cb in spec.join_preds:
            ra, rb = find((a, ca)), find((b, cb))
            if ra != rb:
                parent[ra] = rb
        self._find = find

        # class id = lexicographically smallest member, stable across runs
        members: dict[tuple[str, str], list[tuple[str, str]]] = {}
        for a, ca, b, cb in spec.join_preds:
            for node in ((a, ca), (b, cb)):
                members.setdefault(find(node), []).append(node)
        self.class_of: dict[tuple[str, str], str] = {}
        for root, nodes in members.items():
            cid = "eq:" + ".".join(min(nodes))
            for node in set(nodes):
                self.class_of[node] = cid

    def join_cols(self, alias: str) -> list[str]:
        return sorted({ca for (_, ca, _) in self.adj[alias]})

    def class_key(self, alias: str, col: str) -> str:
        return self.class_of[(alias, col)]

    def edges_within(self, subset: frozenset[str]) -> list[tuple[str, str, str, str]]:
        return [
            (a, ca, b, cb)
            for (a, ca, b, cb) in self.spec.join_preds
            if a in subset and b in subset
        ]

    def neighbors(self, subset: frozenset[str]) -> set[str]:
        out = set()
        for a in subset:
            out.update(b for (b, _, _) in self.adj[a] if b not in subset)
        return out

    def is_connected(self) -> bool:
        aliases = list(self.spec.tables)
        if not aliases:
            return True
        seen = {aliases[0]}
        stack = [aliases[0]]
        while stack:
            for (b, _, _) in self.adj[stack.pop()]:
                if b not in seen:
                    seen.add(b)
                    stack.append(b)
        return len(seen) == len(aliases)
