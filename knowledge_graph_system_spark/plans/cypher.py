"""Cypher-subset front end: guarded openCypher → DataFrame plans (P7+).

The reference's raw query surface is guarded openCypher
(`/root/reference/api/app/routes/queries.py:1661-1795` executes it via
`api/app/lib/age_client/base.py:105-222`); its guard rejects write
keywords (rules V010-V016, `api/app/services/program_validator.py:
341-400`) and unbounded variable-length paths (V030, `program_validator.
py:489-560`, max depth 10). The reference's own API also relies on
OPTIONAL MATCH (`api/app/routes/queries.py:675,801,1070`). This module
reproduces that surface Spark-first: the same rejection rules in front
of a compiler that turns a clause sequence into joins over the cached
node/edge DataFrames — Catalyst then plans the joins (broadcast/shuffle,
pushdown) instead of a bespoke graph executor.

Supported subset (clause sequence):
  MATCH (a:Label {prop: lit})-[r:TYPE]->(b) ...   patterns, n hops
         directions ->, <-, undirected -          (undirected = both)
         bounded var-length -[:T*0..3]->          (upper bound ≤ 10)
         rel-type alternation -[:A|B]->           (also [:A|:B]; maps
         to an isin predicate; works in var-length/shortestPath too)
         edge property maps -[r:T {confidence: 0.9}]->  (strict
         equality — NULL never matches; allowed keys rel_type /
         confidence; per-hop filter in var-length patterns)
  OPTIONAL MATCH <pattern> [WHERE ...]            left join; WHERE is
         part of the optional match (null row when no match survives)
  WITH [DISTINCT] item [AS x], ... [ORDER BY ... LIMIT n] [WHERE ...]
         projected subquery; bare variables carry through, aggregates
         imply grouping, WHERE after aggregates = HAVING; DISTINCT
         dedups the projection (entity-vs-match-row ranking); ORDER
         BY+LIMIT (only together — fail closed otherwise) is the
         mid-query top-k, applied after DISTINCT and before WHERE per
         openCypher, planned as TakeOrderedAndProject
  WHERE <expr>   full expression grammar (plans/expr.py) with standard
        openCypher precedence: OR < XOR < AND < NOT < comparison <
        + - < * / % < unary minus; parentheses; chained comparisons
        (0 < x < 1); = <> < <= > >=; IS [NOT] NULL; [NOT] IN [list];
        STARTS WITH / ENDS WITH / CONTAINS; regex =~ 'pat';
        scalar functions (coalesce toLower toUpper trim split substring
        left right size abs round toString ... — whitelist, fail
        closed); graph accessors type(r) labels(n) id(n)
        properties(x) keys(x) over pattern variables (sugar for
        r.rel_type / [n.label] / n.node_id / prop map or name array);
        list predicates any/all/none/single(x IN list WHERE pred) via
        Spark higher-order functions (correlated predicates ok);
        CASE (generic AND simple form, nestable)
        [NOT] EXISTS { [MATCH] <pattern> [WHERE ...] }  correlated
        semi/anti-join on shared node vars; must be a top-level AND
        conjunct (a parenthesized OR *beside* it is fine); uncorrelated
        EXISTS and EXISTS under OR rejected
  RETURN [DISTINCT] <expr> [AS x], ...
         aggregates count(*)/count|sum|avg|min|max|collect|stDev|stDevP
         ([DISTINCT]) over any non-aggregate expression; arithmetic ON
         aggregates (sum(x)/count(*)); implicit Cypher grouping:
         non-aggregate items are the keys; bare refs and simple
         aggregates keep default aliases, other expressions need AS
  UNWIND [lit, ...] AS x | UNWIND listexpr AS x  explode: one row per
         element; listexpr may be a WITH collect(...) alias or any
         array expression (e.g. split(...)). May open the query
         (UNWIND [..] AS x MATCH ...).
  ORDER BY item [ASC|DESC], ...  [SKIP n]  LIMIT n
         SKIP (the reference's pagination idiom, concept_service.py:397)
         requires ORDER BY and is final-RETURN only — fail closed
  <query> UNION [ALL] <query>                     same column names;
         UNION dedups; mixing UNION/UNION ALL rejected; ORDER BY/LIMIT
         inside arms rejected

collect() returns a SORTED array (openCypher leaves collect order
unspecified; sorting makes results deterministic and oracle-comparable).
DISTINCT inside an aggregate supports count/sum/collect (min/max ignore
it; avg DISTINCT is rejected).

Semantics notes (documented deviations):
- Variable-length paths use TRAIL semantics (no edge reused within one
  path), matching openCypher/AGE relationship-uniqueness — edge identity
  is (src, dst, rel_type), so parallel fully-identical edges count as
  one for the reuse check (the derived graph has no duplicate triples).
- `*0..N` includes the zero-length path: start node = end node, no edge
  traversed (rel-type filters vacuous at length 0), like openCypher.
- A pattern after the first clause must share ≥1 node variable with the
  preceding clauses (no implicit cartesian products — fail closed).
- Within one pattern a variable may appear only once (no cycles via
  re-binding inside a single MATCH); re-use ACROSS clauses is the join.

Everything else (CALL, FOREACH, writes) is rejected with a GuardError
naming the rule — fail closed, like the reference. UNWIND mirrors the
reference's own read-path usage (`/root/reference/api/app/lib/
age_client/ontology_scoring.py:232`).

Scale shape: node patterns filter the cached nodes frame (label/prop
pushdown before the join), each hop is an equi-join on node_id against
the cached edge frame, bounded var-length expands to ≤10 chained joins
unioned per length, OPTIONAL MATCH is a left join, WITH is an
aggregate/projection — no driver-side iteration, no collect.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import Ctx, query
from ..sources.graph_view import graph_ctes
from .expr import compile_expr
from .guard import GuardError, scan_statement

MAX_VAR_PATH = 10  # reference MAX_VARIABLE_PATH_LENGTH (V030)

_NODE_PROPS = ("node_id", "label", "name", "ontology", "weight")
_EDGE_PROPS = ("rel_type", "confidence")

# V010-V016 write keywords + clauses outside the subset
_WRITE_KW = re.compile(
    r"\b(create|set|delete|merge|remove|drop|detach)\b", re.IGNORECASE
)
_UNSUPPORTED = re.compile(
    r"\b(call|foreach|load)\b", re.IGNORECASE
)
_UNION_SPLIT = re.compile(r"\bunion(\s+all)?\b", re.IGNORECASE)
_VAR_PATH = re.compile(r"\[\s*[^\]]*\*\s*(\d+)?(?:\s*(\.\.)\s*(\d+)?)?\s*\]")

_CLAUSE_KW = re.compile(
    r"\b(optional\s+match|match|unwind|with|return)\b", re.IGNORECASE
)
_RET_TAIL = re.compile(
    r"^(?P<ret>.+?)"
    r"(?:\s+order\s+by\s+(?P<order>.+?))?"
    r"(?:\s+skip\s+(?P<skip>\d+))?"
    r"(?:\s+limit\s+(?P<limit>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHERE_SPLIT = re.compile(r"\bwhere\b", re.IGNORECASE)

_NODE_PAT = re.compile(
    r"\(\s*(?P<var>\w+)?\s*(?::\s*(?P<label>\w+))?\s*(?P<props>\{[^}]*\})?\s*\)"
)
_EDGE_PAT = re.compile(
    r"(?P<left><)?-\s*(?:\[\s*(?P<var>\w+)?\s*"
    r"(?::\s*(?P<type>\w+(?:\s*\|\s*:?\s*\w+)*))?\s*"
    r"(?P<star>\*\s*(?P<lo>\d+)?\s*(?:\.\.\s*(?P<hi>\d+)?)?)?\s*"
    r"(?P<props>\{[^}]*\})?\s*\])?\s*-(?P<right>>)?"
)

_LITERAL = re.compile(r"'(?:[^']|'')*'|-?\d+(?:\.\d+)?|true|false", re.IGNORECASE)
_AGG_NAMES = {"count", "sum", "avg", "min", "max", "collect", "stdev", "stdevp"}
_REF = re.compile(r"^[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?$")


@dataclass
class _NodePat:
    var: str
    label: str | None
    props: dict[str, object]


@dataclass
class _EdgePat:
    var: str | None
    rel_types: tuple[str, ...] | None  # [:A|B] alternation → ("A", "B")
    direction: str  # out | in | both
    lo: int = 1
    hi: int = 1
    props: dict = field(default_factory=dict)  # {confidence: 0.9} map form


@dataclass
class _Item:
    expr: "F.Column"
    alias: str
    is_agg: bool


def check_cypher_safety(cypher: str) -> tuple[str, str]:
    """The reference guard's rejection rules on the literal-blanked text.
    Returns (executable, scannable) on success."""
    executable, scannable = scan_statement(cypher, line_comments=("--", "//"))
    if ";" in scannable:
        raise GuardError("multi-statement queries are not allowed")
    hit = _WRITE_KW.search(scannable)
    if hit:
        raise GuardError(f"write keyword (V010-V016): {hit.group(0)!r}")
    for m in _VAR_PATH.finditer(scannable):
        lo, dots, hi = m.group(1), m.group(2), m.group(3)
        if dots is None and lo is None:
            raise GuardError(f"unbounded variable-length path (V030): {m.group(0)!r}")
        if dots is not None and hi is None:
            raise GuardError(
                f"variable-length path without upper bound (V030): {m.group(0)!r}"
            )
        depth = int(hi if hi is not None else lo)
        if depth > MAX_VAR_PATH:
            raise GuardError(
                f"variable-length path depth {depth} exceeds maximum {MAX_VAR_PATH} (V030)"
            )
    hit = _UNSUPPORTED.search(scannable)
    if hit:
        raise GuardError(f"unsupported clause: {hit.group(0)!r}")
    return executable, scannable


# ---------------------------------------------------------------------------
# parsing helpers
# ---------------------------------------------------------------------------

def _literal_spans(s: str) -> list[tuple[int, int]]:
    spans, i, n = [], 0, len(s)
    while i < n:
        if s[i] == "'":
            j = i + 1
            while j < n:
                if s[j] == "'" and not (j + 1 < n and s[j + 1] == "'"):
                    break
                j += 2 if s[j] == "'" else 1
            spans.append((i, j + 1))
            i = j + 1
        else:
            i += 1
    return spans


def _brace_depths(s: str) -> list[int]:
    """Curly-brace nesting depth at each position (literal-aware):
    property maps and EXISTS{} bodies sit at depth > 0."""
    spans = _literal_spans(s)
    depths, d = [0] * len(s), 0
    for i, ch in enumerate(s):
        if not any(a <= i < b for a, b in spans):
            if ch == "{":
                d += 1
            elif ch == "}":
                d = max(0, d - 1)
                depths[i] = d
                continue
        depths[i] = d
    return depths


def _matches_outside_braces(s: str, pat: re.Pattern) -> list[re.Match]:
    """Matches outside string literals AND outside {...} — clause
    keywords inside an EXISTS{} body or a property map are not clause
    boundaries."""
    spans = _literal_spans(s)
    depths = _brace_depths(s)
    return [
        m
        for m in pat.finditer(s)
        if not any(a <= m.start() < b for a, b in spans)
        and depths[m.start()] == 0
    ]


def _matches_outside_literals(s: str, pat: re.Pattern) -> list[re.Match]:
    spans = _literal_spans(s)
    return [
        m for m in pat.finditer(s)
        if not any(a <= m.start() < b for a, b in spans)
    ]


def _nesting_depths(s: str) -> list[int]:
    """Combined ()/[]/{} nesting depth at each position (literal-aware)."""
    spans = _literal_spans(s)
    depths, d = [0] * len(s), 0
    for i, ch in enumerate(s):
        if not any(a <= i < b for a, b in spans):
            if ch in "([{":
                d += 1
            elif ch in ")]}":
                d = max(0, d - 1)
                depths[i] = d
                continue
        depths[i] = d
    return depths


def _matches_outside_nesting(s: str, pat: re.Pattern) -> list[re.Match]:
    """Matches outside literals AND outside any ()/[]/{} nesting —
    item commas inside function calls / list literals, and AND/OR
    inside parenthesized conditions, are not split points."""
    spans = _literal_spans(s)
    depths = _nesting_depths(s)
    return [
        m
        for m in pat.finditer(s)
        if not any(a <= m.start() < b for a, b in spans)
        and depths[m.start()] == 0
    ]


def _split_outside_nesting(s: str, sep: re.Pattern) -> list[str]:
    cuts = _matches_outside_nesting(s, sep)
    out, pos = [], 0
    for m in cuts:
        out.append(s[pos : m.start()])
        pos = m.end()
    out.append(s[pos:])
    return [p.strip() for p in out if p.strip()]


def _split_outside_literals(s: str, sep: re.Pattern) -> list[str]:
    """Split on `sep` matches that fall outside single-quoted literals."""
    cuts = _matches_outside_literals(s, sep)
    out, pos = [], 0
    for m in cuts:
        out.append(s[pos : m.start()])
        pos = m.end()
    out.append(s[pos:])
    return [p.strip() for p in out if p.strip()]


def _parse_literal(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        if not tok.endswith("'") or len(tok) < 2:
            raise GuardError(f"bad string literal {tok!r}")
        return tok[1:-1].replace("''", "'")
    low = tok.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        raise GuardError(f"unparseable literal {tok!r}") from None


def _parse_props(body: str) -> dict[str, object]:
    """{k: lit, ...} map inside a node pattern."""
    inner = body.strip()[1:-1].strip()
    if not inner:
        return {}
    out: dict[str, object] = {}
    for part in _split_outside_literals(inner, re.compile(r",")):
        k, _, v = part.partition(":")
        if not _:
            raise GuardError(f"bad property map entry {part!r}")
        out[k.strip()] = _parse_literal(v)
    return out


def _parse_pattern(
    text: str, anon_start: int = 0
) -> tuple[list[_NodePat], list[_EdgePat], int]:
    nodes: list[_NodePat] = []
    edges: list[_EdgePat] = []
    pos, anon = 0, anon_start
    text = text.strip()
    m = _NODE_PAT.match(text)
    if not m:
        raise GuardError(f"expected a node pattern at {text[:40]!r}")

    def mk_node(nm: re.Match) -> _NodePat:
        nonlocal anon
        var = nm.group("var")
        if var is None:
            var, anon = f"_anon{anon}", anon + 1
        props = _parse_props(nm.group("props")) if nm.group("props") else {}
        for k in props:
            if k not in _NODE_PROPS:
                raise GuardError(f"unknown node property {k!r}")
        return _NodePat(var, nm.group("label"), props)

    nodes.append(mk_node(m))
    pos = m.end()
    while pos < len(text):
        em = _EDGE_PAT.match(text, pos)
        if not em:
            raise GuardError(f"expected an edge pattern at {text[pos:pos+40]!r}")
        left, right = em.group("left"), em.group("right")
        direction = "both" if not left and not right else ("in" if left else "out")
        if left and right:
            raise GuardError("edge cannot point both ways")
        lo = hi = 1
        if em.group("star"):
            if em.group("var"):
                raise GuardError("variable-length relationships cannot bind a variable")
            lo = int(em.group("lo") or 1)
            hi = int(em.group("hi") or em.group("lo") or 1)
        # rel-type alternation [:A|B] (also the [:A|:B] spelling): the
        # reference resolves epistemic filters to a SET of allowed
        # types (api/app/routes/queries.py:259-314), so multi-type
        # patterns are the common ported-query shape. Empty segments
        # cannot parse (each arm is \w+), so [:A|] fails closed above.
        ts = em.group("type")
        rel_types = (
            tuple(t.strip().lstrip(":").strip() for t in ts.split("|"))
            if ts
            else None
        )
        # edge property map [{confidence: 0.9}] — strict equality, so a
        # NULL property never matches (openCypher map semantics; the
        # P5 NULL-passes rule applies to >= threshold filters, not maps)
        eprops = _parse_props(em.group("props")) if em.group("props") else {}
        for k in eprops:
            if k not in _EDGE_PROPS:
                raise GuardError(f"unknown relationship property {k!r}")
        edges.append(_EdgePat(em.group("var"), rel_types, direction, lo, hi, eprops))
        pos = em.end()
        nm = _NODE_PAT.match(text, pos)
        if not nm:
            raise GuardError(f"expected a node pattern at {text[pos:pos+40]!r}")
        nodes.append(mk_node(nm))
        pos = nm.end()
    return nodes, edges, anon


# ---------------------------------------------------------------------------
# compilation
# ---------------------------------------------------------------------------

@dataclass
class _Scope:
    """Reference resolution: 'var.prop' or bare alias → physical column."""
    cols: dict[str, str] = field(default_factory=dict)
    node_vars: set[str] = field(default_factory=set)
    all_vars: set[str] = field(default_factory=set)

    def resolve(self, ref: str) -> str:
        ref = ref.strip()
        if ref not in self.cols:
            raise GuardError(f"unknown reference {ref!r}")
        return self.cols[ref]


def _node_frame(ctx: Ctx, pat: _NodePat) -> DataFrame:
    df = ctx.nodes
    if pat.label:
        df = df.filter(F.col("label") == pat.label)
    for k, v in pat.props.items():
        df = df.filter(F.col(k) == F.lit(v))
    return df.select([F.col(c).alias(f"{pat.var}__{c}") for c in _NODE_PROPS])


def _oriented_edges(ctx: Ctx, pat: _EdgePat) -> DataFrame:
    """Edge frame oriented along the pattern direction. `__eid` is the
    edge identity used for trail-uniqueness in var-length paths — the
    same physical edge keeps the same id in both orientations."""
    e = ctx.edges
    if pat.rel_types:
        if len(pat.rel_types) == 1:
            # single type keeps the exact equality predicate (and plan)
            # the pre-alternation compiler produced
            e = e.filter(F.col("rel_type") == pat.rel_types[0])
        else:
            e = e.filter(F.col("rel_type").isin(*pat.rel_types))
    for k, v in pat.props.items():
        # map-form equality on the edge frame; in var-length patterns
        # this filters every hop (the frame is restricted before the
        # expansion loop), matching per-relationship map semantics
        e = e.filter(F.col(k) == F.lit(v))
    e = e.withColumn("__eid", F.concat_ws("|", "src", "dst", "rel_type"))
    out = e.select(
        F.col("src").alias("__from"), F.col("dst").alias("__to"),
        "rel_type", "confidence", "__eid",
    )
    if pat.direction == "out":
        return out
    rev = e.select(
        F.col("dst").alias("__from"), F.col("src").alias("__to"),
        "rel_type", "confidence", "__eid",
    )
    return rev if pat.direction == "in" else out.unionByName(rev)


def _hop_pairs(ctx: Ctx, edf: DataFrame, length: int) -> DataFrame:
    """(__from, __to) pairs for exactly `length` chained hops, one row
    per TRAIL (Cypher path multiplicity with relationship uniqueness:
    an edge id may appear at most once per path). Length 0 is the
    identity pairing — every node to itself, no edge traversed."""
    if length == 0:
        return ctx.nodes.select(
            F.col("node_id").alias("__from"), F.col("node_id").alias("__to")
        )
    cur = edf.select("__from", "__to", F.array("__eid").alias("__eids"))
    for _ in range(length - 1):
        step = edf.select(
            F.col("__from").alias("__jfrom"),
            F.col("__to").alias("__jto"),
            F.col("__eid").alias("__jeid"),
        )
        cur = (
            cur.join(
                step,
                (cur["__to"] == step["__jfrom"])
                & ~F.array_contains(cur["__eids"], step["__jeid"]),
            )
            .select(
                cur["__from"],
                F.col("__jto").alias("__to"),
                F.concat(cur["__eids"], F.array("__jeid")).alias("__eids"),
            )
        )
    return cur.select("__from", "__to")


_SHORTEST_PAT = re.compile(
    r"^(?:(?P<pvar>[A-Za-z_]\w*)\s*=\s*)?shortestPath\s*\((?P<inner>.*)\)\s*$",
    re.DOTALL,
)


# Multi-source BFS visited-state bound: (source, node) pair rows kept
# across all levels. Sized to the machine, not the gate (measured at
# sf1, SCALE_NOTES r13: 150k customer sources -> 1.5M -> 6.0M ->
# 102M pairs by depth 3; the r11 probe COMPLETED the full member at
# 170 s on a quiet block, so ~100-300M pairs is this 128 GiB host's
# completable zone and the budget sits ABOVE it — the guard must
# refuse only what would otherwise GC-spiral, never a query the host
# finishes). Past 500M (~25-50 GB of checkpointed state) the query
# dies with a message naming the fix. Tuned per deployment — a
# cluster scales it with executor count; the hop cap stays mandatory.
_SHORTEST_STATE_MAX = 500_000_000


class _StateOverflow(Exception):
    """Internal escalation signal: the forward wave crossed the
    adaptive threshold (`state_max`), not the hard guard."""


def _shortest_pairs(
    ctx: Ctx,
    edf: DataFrame,
    a_ids: DataFrame,
    lo: int,
    hi: int,
    state_max: int | None = None,
) -> DataFrame:
    """(__src, __node, __plen): minimal hop count from each source to
    every node reachable within `hi` hops — multi-source BFS with
    per-source visited sets. Frontiers broadcast into the edge join
    ONLY while they fit (`traversal._frontier_side`, the shared
    2M-row guard: multi-source state is O(|sources| x reach) rows, and
    an unguarded broadcast of a many-million-row frontier kills the
    executors — found by the r10 sf1 decade probe, the same defect
    class as r8's tombstones and r9's LM count frames); past the
    threshold the planner shuffles the join. Per-level eager
    checkpoints cut the lineage like the traversal BFS; the checkpoint
    doubles as the emptiness probe (count on materialized data, no
    separate take(1) job). The O(|sources| x reach) state itself is
    the declared per-query cost of pairwise shortest paths, bounded by
    the mandatory hop cap AND the _SHORTEST_STATE_MAX guard below
    (r13, closing the VERDICT r11/r12 watch item): past the bound the
    query fails with a GuardError naming the fix — the reference's
    universal result-cap posture (`cypher_guard.py` caps everything),
    as a deterministic refusal instead of a silent truncation (which
    would silently change which pairs exist) or a JVM GC death (what
    the r11 repeated-sf1 probe produced). The per-level counts the
    loop already pays for the emptiness probe are the meter — the
    guard adds no job."""
    from ..operators.traversal import _BROADCAST_FRONTIER_MAX, _frontier_side

    seen = a_ids.select(
        F.col("__src"), F.col("__src").alias("__node")
    ).localCheckpoint(eager=True)
    frontier = seen
    n_frontier = seen.count()
    n_state = n_frontier
    levels = [seen.withColumn("__plen", F.lit(0))] if lo == 0 else []
    # Dead-end prune (r17, guide §2.3 — shuffle fewer bytes): once a
    # frontier outgrows the broadcast bound, its expansion join shuffles
    # EVERY (source, node) pair — including pairs whose node has no
    # outgoing edge and can expand to nothing. The distinct edge-source
    # set (built lazily, only when a frontier first crosses the bound,
    # counted under the same broadcast guard) semi-filters those rows
    # map-side, and an empty expandable frontier ends the wave outright:
    # on layered graphs the deepest level otherwise pays a full
    # frontier-sized shuffle to discover zero rows (measured sf0.1,
    # C→S within 4 hops: the 10.2M-pair depth-3 frontier has no
    # expandable row). Build cost is one edges-pass distinct — strictly
    # less than the expansion shuffle it replaces; past the guard bound
    # the frame is dropped and behavior is exactly the r16 shape.
    exp_nodes: DataFrame | None | bool = False  # False = not yet built
    for d in range(1, hi + 1):
        f_exp = frontier
        n_exp = n_frontier
        if n_frontier > _BROADCAST_FRONTIER_MAX:
            if exp_nodes is False:
                srcs = edf.select(F.col("__from").alias("__node")).distinct()
                srcs = srcs.localCheckpoint(eager=False)
                exp_nodes = srcs if srcs.count() <= _BROADCAST_FRONTIER_MAX else None
            if exp_nodes is not None:
                f_exp = frontier.join(
                    F.broadcast(exp_nodes), "__node", "left_semi"
                )
                n_exp = f_exp.count()
                if n_exp == 0:
                    break
        if d > 1:
            # all levels < d, deferred from the previous iteration AND
            # ordered after the dead-end prune (r17): a wave that
            # terminates here never materializes the final seen-union
            # (measured: the C→S depth-4 break otherwise checkpointed
            # the full 10.9M-row union only to discard it)
            seen = seen.unionByName(frontier).localCheckpoint(eager=True)
        side = _frontier_side(f_exp, n_exp)
        step = (
            edf.join(side, side["__node"] == edf["__from"])
            .select("__src", F.col("__to").alias("__node"))
            .distinct()
            # seen is counted (n_state): under the bound the anti-join
            # broadcasts instead of SortMergeJoin LeftAnti, which
            # exchanged AND sorted the multi-million-row distinct
            # output every level (r17, guide §3.1 — the traversal.py
            # batch-2 shape); past the bound the planner shuffles.
            .join(_frontier_side(seen, n_state), ["__src", "__node"], "left_anti")
        )
        # lazy checkpoint + count: ONE job materializes the level and
        # returns the frontier size (the eager form paid a separate
        # count job per level — r18, the traversal.py r17 shape)
        nxt = step.localCheckpoint(eager=False)
        n_frontier = nxt.count()
        if n_frontier == 0:
            break
        n_state += n_frontier
        if state_max is not None and n_state > state_max:
            raise _StateOverflow(n_state)
        if n_state > _SHORTEST_STATE_MAX:
            raise GuardError(
                f"shortestPath() visited-state exceeded {_SHORTEST_STATE_MAX:,}"
                f" (source, node) rows at depth {d} — narrow the source"
                " pattern (label/property filters) or lower the hop bound"
            )
        levels.append(nxt.withColumn("__plen", F.lit(d)))
        frontier = nxt
    if not levels:
        return seen.withColumn("__plen", F.lit(0)).filter(F.lit(False))
    return reduce(DataFrame.unionByName, levels)


# Forward state past this many pairs escalates to the bidirectional
# formulation. Sized to the MACHINE from measured completable zones
# (the r13 guard lesson): ABOVE the full sf1 member's forward state
# (108.1M cumulative, completes in 170.3 s on a quiet block — r11/r13
# records), so every workload forward handles keeps the faster
# forward plan, and BELOW the GC-death class the 500M hard guard
# exists for — anything bigger escalates to the state-bounded twin
# instead of dying. The sunk forward cost at escalation is bounded by
# this threshold.
_BIDIR_SWITCH = 150_000_000


def _shortest_pairs_adaptive(
    ctx: Ctx,
    edf: DataFrame,
    a_ids: DataFrame,
    b_ids: DataFrame,
    lo: int,
    hi: int,
) -> DataFrame:
    """Forward wave by default — byte-identical plan and cost for the
    common selective query (the unconditional bidir dispatch measured
    a 2.06x sf0.1 regression, SCALE_NOTES r14 part 7) — escalating to
    `_shortest_pairs_bidir` when the metered forward state crosses
    `_BIDIR_SWITCH`. The forward result spans ALL reached nodes while
    the bidir result is restricted to the target set; both are
    supersets of what `_compile_shortest`'s b-side join keeps, so the
    dispatch is invisible downstream."""
    try:
        return _shortest_pairs(ctx, edf, a_ids, lo, hi, state_max=_BIDIR_SWITCH)
    except _StateOverflow:
        return _shortest_pairs_bidir(ctx, edf, a_ids, b_ids, lo, hi)


def _shortest_pairs_bidir(
    ctx: Ctx,
    edf: DataFrame,
    a_ids: DataFrame,
    b_ids: DataFrame,
    lo: int,
    hi: int,
) -> DataFrame:
    """(__src, __node, __plen): the banded/bidirectional formulation of
    `_shortest_pairs`, restricted to the TARGET set — the r14 answer to
    the VERDICT r11-r13 watch item (state superlinear in |sources| x
    reach).

    Two multi-source BFS waves — forward from the a-side sources over
    `edf`, backward from the b-side targets over reversed `edf` — each
    step expanding whichever side has the CHEAPER EXPECTED EXPANSION
    (sum of the frontier pairs' out-degrees in that side's edge
    orientation — the exact pre-distinct row count of the next join),
    until the explored depths satisfy d_fwd + d_bwd == hi (any path of
    length L <= hi splits at a meeting node v with forward part
    <= d_fwd and backward part <= d_bwd iff L <= d_fwd + d_bwd) or a
    side exhausts (an empty frontier means that side's distance map is
    COMPLETE, so the band condition is vacuously satisfied). Minimal
    hop count is then min over meeting nodes of fd + bd — exact, by
    the standard bidirectional-BFS argument: some midpoint of an
    optimal path is reached at its optimal depth from both ends, and
    no meeting sum can undercut a shortest distance.

    WHY DEGREE-WEIGHTED, NOT SMALLER-FRONTIER: frontier row count is
    the wrong proxy when one orientation faces a fan-in hub layer.
    Measured sf1 (SCALE_NOTES r14): at a near-tie (fwd 5.99M pairs vs
    bwd 5.91M) the smaller-frontier rule expanded the backward side
    INTO the lineitem fan-in and paid 172M pairs, where forward would
    have paid ~24M pre-distinct. The expected-expansion sum is
    computed in the SAME aggregate job that already counts the new
    frontier (a left join against a once-per-side degree frame), so
    the better choice costs no extra Spark jobs.

    WHY THIS BOUNDS STATE: forward-only state is O(|S| · reach(hi))
    pairs, and reach grows geometrically with depth (measured sf1,
    SCALE_NOTES r13 part 5: 150k -> 1.5M -> 6.0M -> 102M by depth 3).
    Splitting the depth puts each side at reach(~hi/2) — the
    square-root of the frontier blowup — so a bound-endpoint query
    (selective b) pays O((|S| + |T|) · reach(hi/2)). When b is
    UNSELECTIVE (|T| ~ all nodes, e.g. a bare `(b)` endpoint), its
    expansion estimate dwarfs the forward side's, the backward wave
    never expands, and the computation degrades to exactly the
    forward-only wave plus one identity-band join — never worse than
    `_shortest_pairs`. The `_SHORTEST_STATE_MAX` guard meters the SUM
    of both sides' visited state with the same per-level counts the
    emptiness probes already pay.

    ON THE EXECUTED PATH SINCE r15 (VERDICT r13 next #7 closed):
    `_compile_shortest` dispatches through `_shortest_pairs_adaptive`
    — forward wave until `_BIDIR_SWITCH` (150M) metered pairs, then
    this twin. The unconditional swap was measured and rejected (~1.3x
    median regression on small queries, SCALE_NOTES r14 parts 7/7b):
    the bidir machinery is pure overhead when forward state stays
    small, so escalation is the contract."""
    from ..operators.traversal import _frontier_side

    redf = edf.select(
        F.col("__to").alias("__from"), F.col("__from").alias("__to")
    )
    sides = {
        "f": {
            "edges": edf,
            "seen": a_ids.select(
                F.col("__src").alias("__key"), F.col("__src").alias("__node")
            ).localCheckpoint(eager=False),
            "depth": 0,
        },
        "b": {
            "edges": redf,
            "seen": b_ids.select(
                F.col("__tgt").alias("__key"), F.col("__tgt").alias("__node")
            ).localCheckpoint(eager=False),
            "depth": 0,
        },
    }
    def _probe(s, df, need_cost: bool = True):
        """ONE aggregate job per level (replacing the bare count):
        frontier row count + the exact pre-distinct size of the next
        expansion (sum of the frontier pairs' out-degrees against this
        side's once-built degree frame). The degree join is the price
        of the measured 172M-vs-24M expansion win (docstring above);
        when the OTHER side is exhausted the expansion choice is
        forced and the cost is never compared, so `need_cost=False`
        degrades the probe to the bare count (ADVICE r14: the
        node-count-sized join was paid even where a count sufficed).
        Both degree frames ARE consumed by the level-0 probes — the
        first expansion decision compares both sides — so building
        them lazily would change nothing; eager up-front is correct."""
        if not need_cost:
            s["n_frontier"] = df.count()
            s["exp_cost"] = 0
            return
        row = (
            df.join(s["deg"], "__node", "left")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("__deg"), F.lit(0)).alias("cost"),
            )
            .first()
        )
        s["n_frontier"], s["exp_cost"] = row["n"], row["cost"]

    n_state = 0
    for name, s in sides.items():
        s["name"] = name
        s["deg"] = (
            s["edges"]
            .groupBy(F.col("__from").alias("__node"))
            .agg(F.count(F.lit(1)).alias("__deg"))
            .localCheckpoint(eager=True)
        )
        s["frontier"] = s["seen"]
        _probe(s, s["seen"])
        s["levels"] = [s["seen"].withColumn("__d", F.lit(0))]
        s["n_seen"] = s["n_frontier"]
        n_state += s["n_frontier"]
    while sides["f"]["depth"] + sides["b"]["depth"] < hi:
        live = [s for s in sides.values() if s["n_frontier"] > 0]
        if not live:
            break
        # cheaper expected expansion first; deterministic tie-break on
        # the side name keeps runs reproducible
        s = min(live, key=lambda x: (x["exp_cost"], x["name"]))
        # lazy checkpoint: the probe's aggregate materializes the level
        # (the `_expand` shape); seen stays a union of checkpointed
        # levels, broadcast while its count fits
        nxt = (
            s["edges"]
            .join(
                _frontier_side(s["frontier"], s["n_frontier"]),
                F.col("__node") == F.col("__from"),
            )
            .select("__key", F.col("__to").alias("__node"))
            .distinct()
            .join(
                _frontier_side(s["seen"], s["n_seen"]), ["__key", "__node"], "left_anti"
            )
            .localCheckpoint(eager=False)
        )
        s["depth"] += 1
        _probe(s, nxt, need_cost=len(live) > 1)
        if s["n_frontier"] == 0:
            s["frontier"] = nxt
            continue
        n_state += s["n_frontier"]
        if n_state > _SHORTEST_STATE_MAX:
            raise GuardError(
                f"shortestPath() visited-state exceeded {_SHORTEST_STATE_MAX:,}"
                f" (endpoint, node) rows at band depth {s['depth']} — narrow"
                " the endpoint patterns (label/property filters) or lower"
                " the hop bound"
            )
        s["levels"].append(nxt.withColumn("__d", F.lit(s["depth"])))
        s["seen"] = s["seen"].unionByName(nxt)
        s["n_seen"] += s["n_frontier"]
        s["frontier"] = nxt
    fwd = reduce(DataFrame.unionByName, sides["f"]["levels"]).select(
        F.col("__key").alias("__src"), "__node", F.col("__d").alias("__fd")
    )
    bwd = reduce(DataFrame.unionByName, sides["b"]["levels"]).select(
        F.col("__key").alias("__tgt"), "__node", F.col("__d").alias("__bd")
    )
    return (
        fwd.join(bwd, "__node")
        .groupBy("__src", "__tgt")
        .agg(F.min(F.col("__fd") + F.col("__bd")).alias("__plen"))
        .filter((F.col("__plen") >= lo) & (F.col("__plen") <= hi))
        .select("__src", F.col("__tgt").alias("__node"), "__plen")
    )


def _compile_shortest(
    ctx: Ctx, scope: _Scope, m: "re.Match", anon_start: int
) -> tuple[DataFrame, dict[str, str], list[str], list[str], int]:
    """`[p =] shortestPath((a)-[:T*lo..hi]->(b))`: ONE row per (a, b)
    pair with a path, carrying the minimal hop count as `p__plen`
    (read back via `length(p)`). Parity with the reference's guard:
    an explicit upper bound is MANDATORY (`cypher_guard.py` rejects
    unbounded shortest paths); lo must be 0 or 1; the edge cannot
    bind a variable (same rule as plain var-length)."""
    inner, pvar = m.group("inner"), m.group("pvar")
    nodes, edges, anon = _parse_pattern(inner, anon_start)
    if len(edges) != 1:
        raise GuardError("shortestPath() takes a single relationship pattern")
    ep = edges[0]
    if not re.search(r"\*[^\]]*\d", inner):
        raise GuardError(
            "shortestPath() needs an explicit hop bound (e.g. [*..6]) — "
            "unbounded shortest paths are rejected, as in the reference guard"
        )
    if ep.lo not in (0, 1):
        raise GuardError("shortestPath() lower bound must be 0 or 1")
    if ep.hi < ep.lo or ep.hi > 32:
        raise GuardError("shortestPath() upper bound must be in [lo, 32]")
    a, b = nodes
    for v in (a.var, b.var):
        if v in scope.all_vars:
            # cross-clause reuse joins AFTER compilation, like any match
            pass
    entries: dict[str, str] = {}
    for np_ in nodes:
        for c in _NODE_PROPS:
            entries[f"{np_.var}.{c}"] = f"{np_.var}__{c}"
    if a.var == b.var:
        raise GuardError("shortestPath() endpoints must be distinct variables")
    from ..operators.traversal import _frontier_side

    # r18 (guide §2.3 — shuffle narrower types / keys instead of
    # payloads): the wave shuffles O(|sources| x reach) (__src, __node)
    # pairs per level (10.2M rows at level 3, sf0.1) and every byte of
    # them was a STRING node id. A per-invocation integer dictionary
    # over the node frame narrows every wave-side operation (expansion
    # join, distinct, anti-join, checkpointed state) to two longs; the
    # ids join back onto the endpoint node frames AFTER the wave. The
    # mapping is a bijection — node_id is the node frame's key,
    # monotonically_increasing_id is unique per row and frozen by the
    # checkpoint — and no wave step depends on id VALUES (only equality
    # and set identity), so the result set is unchanged. Edge endpoints
    # all resolve through the dictionary by the graph-view contract
    # (src/dst are node keys by construction). Generic: the dictionary
    # is built from the live node frame inside the engine, per
    # invocation — nothing is fixture-specific and nothing persists.
    nid = (
        ctx.nodes.select("node_id")
        .withColumn("__nid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    n_nodes = nid.count()  # materializes the lazy checkpoint (one job)

    def _dict(key_alias: str, id_alias: str) -> DataFrame:
        return _frontier_side(
            nid.select(
                F.col("node_id").alias(key_alias), F.col("__nid").alias(id_alias)
            ),
            n_nodes,
        )

    edf = (
        _oriented_edges(ctx, ep)
        .select("__from", "__to")
        .distinct()
        .join(_dict("__from", "__fi"), "__from")
        .join(_dict("__to", "__ti"), "__to")
        .select(F.col("__fi").alias("__from"), F.col("__ti").alias("__to"))
        # checkpoint ONCE per invocation: the wave re-planned the full
        # oriented-edge scan + distinct EVERY level before (one corpus
        # exchange per level); every level (and the dead-end prune and
        # the bidir degree frames) now reads the materialized
        # (long, long) pairs (r18, guide §2.4)
        .localCheckpoint(eager=True)
    )
    a_frame = _node_frame(ctx, a).join(_dict(f"{a.var}__node_id", "__ai"), f"{a.var}__node_id")
    a_ids = a_frame.select(F.col("__ai").alias("__src")).distinct()
    b_frame = _node_frame(ctx, b).join(_dict(f"{b.var}__node_id", "__bi"), f"{b.var}__node_id")
    b_ids = b_frame.select(F.col("__bi").alias("__tgt")).distinct()
    pairs = _shortest_pairs_adaptive(ctx, edf, a_ids, b_ids, ep.lo, ep.hi)
    df = (
        a_frame.join(pairs, a_frame["__ai"] == pairs["__src"])
        .drop("__src", "__ai")
        .join(b_frame, F.col("__node") == F.col("__bi"))
        .drop("__node", "__bi")
    )
    path_vars: list[str] = []
    if pvar:
        if pvar in scope.all_vars or pvar in (a.var, b.var):
            raise GuardError(f"duplicate variable {pvar!r}")
        df = df.withColumnRenamed("__plen", f"{pvar}__plen")
        entries[f"{pvar}.plen"] = f"{pvar}__plen"
        path_vars.append(pvar)
    else:
        df = df.drop("__plen")
    return df, entries, [a.var, b.var], path_vars, anon


def _compile_pattern(
    ctx: Ctx, scope: _Scope, text: str, anon_start: int
) -> tuple[DataFrame, dict[str, str], list[str], list[str], int]:
    """Compile one pattern standalone. Returns (frame, new scope entries,
    pattern node vars, new edge/path vars, next anon counter). The frame
    has columns `var__prop` for every pattern variable."""
    sp = _SHORTEST_PAT.match(text.strip())
    if sp:
        return _compile_shortest(ctx, scope, sp, anon_start)
    nodes, edges, anon = _parse_pattern(text, anon_start)

    pat_seen: set[str] = set()
    entries: dict[str, str] = {}
    edge_vars: list[str] = []
    for np_ in nodes:
        if np_.var in pat_seen:
            raise GuardError(
                f"duplicate variable {np_.var!r} within one pattern (re-binding "
                "inside a single MATCH is unsupported; join across clauses instead)"
            )
        pat_seen.add(np_.var)
        for c in _NODE_PROPS:
            entries[f"{np_.var}.{c}"] = f"{np_.var}__{c}"

    df = _node_frame(ctx, nodes[0])
    for i, ep in enumerate(edges):
        lhs, rhs = nodes[i], nodes[i + 1]
        edf = _oriented_edges(ctx, ep)
        if (ep.lo, ep.hi) == (1, 1):
            if ep.var:
                if ep.var in pat_seen or ep.var in scope.all_vars:
                    raise GuardError(f"duplicate variable {ep.var!r}")
                pat_seen.add(ep.var)
                edge_vars.append(ep.var)
                for c in _EDGE_PROPS:
                    entries[f"{ep.var}.{c}"] = f"{ep.var}__{c}"
                edf = edf.select(
                    "__from", "__to",
                    *[F.col(c).alias(f"{ep.var}__{c}") for c in _EDGE_PROPS],
                )
            else:
                edf = edf.select("__from", "__to")
        else:
            edf = reduce(
                DataFrame.unionByName,
                [_hop_pairs(ctx, edf, n) for n in range(ep.lo, ep.hi + 1)],
            )
        df = (
            df.join(edf, df[f"{lhs.var}__node_id"] == edf["__from"])
            .drop("__from")
            .join(
                _node_frame(ctx, rhs),
                F.col("__to") == F.col(f"{rhs.var}__node_id"),
            )
            .drop("__to")
        )
    return df, entries, [n.var for n in nodes], edge_vars, anon


def _split_clauses(executable: str) -> list[tuple[str, str]]:
    """Split into (kind, body) pairs; kinds: match | optional match |
    with | return. The RETURN body keeps its ORDER BY / LIMIT tail."""
    kws = [
        # brace-aware: MATCH/WHERE inside an EXISTS{} body is not a clause
        m for m in _matches_outside_braces(executable, _CLAUSE_KW)
        # `STARTS WITH` / `ENDS WITH` string predicates contain the WITH
        # token — a `with` preceded by starts/ends is not a clause start
        if not (
            m.group(1).lower() == "with"
            and re.search(r"(?:\bstarts|\bends)\s*$", executable[: m.start()], re.IGNORECASE)
        )
    ]
    if not kws or kws[0].start() > len(executable) - len(executable.lstrip()):
        raise GuardError("query must start with MATCH or UNWIND")
    clauses: list[tuple[str, str]] = []
    for i, m in enumerate(kws):
        kind = re.sub(r"\s+", " ", m.group(1).lower())
        end = kws[i + 1].start() if i + 1 < len(kws) else len(executable)
        clauses.append((kind, executable[m.end():end].strip()))
    if clauses[0][0] not in ("match", "unwind"):
        raise GuardError(
            f"query must start with MATCH or UNWIND, not {clauses[0][0].upper()}"
        )
    if clauses[-1][0] != "return" or any(k == "return" for k, _ in clauses[:-1]):
        raise GuardError("query must end with a single RETURN clause")
    return clauses


_EXISTS_OPEN = re.compile(r"(?P<neg>\bnot\s+)?\bexists\s*\{", re.IGNORECASE)


def _extract_exists(where_text: str) -> tuple[str | None, list[tuple[bool, str]]]:
    """Pull `[NOT] EXISTS { ... }` terms out of a WHERE expression.

    Returns (residual WHERE or None, [(negated, body), ...]). EXISTS
    terms must be top-level conjuncts — under OR the semi-join rewrite
    is invalid, so that fails closed. Brace matching is literal-aware
    (property maps inside the pattern nest)."""
    spans = _literal_spans(where_text)
    terms: list[tuple[bool, str]] = []
    pieces: list[str] = []
    pos = 0
    while True:
        ms = [
            m for m in _EXISTS_OPEN.finditer(where_text, pos)
            if not any(a <= m.start() < b for a, b in spans)
        ]
        if not ms:
            pieces.append(where_text[pos:])
            break
        m = ms[0]
        depth, i = 1, m.end()
        while i < len(where_text) and depth:
            if not any(a <= i < b for a, b in spans):
                if where_text[i] == "{":
                    depth += 1
                elif where_text[i] == "}":
                    depth -= 1
            i += 1
        if depth:
            raise GuardError(f"unbalanced EXISTS braces: {where_text!r}")
        terms.append((m.group("neg") is not None, where_text[m.end() : i - 1].strip()))
        pieces.append(where_text[pos : m.start()])
        pieces.append(" __exists__ ")  # placeholder for conjunct check
        pos = i
    flat = "".join(pieces)
    # nesting-aware: OR/AND inside a parenthesized condition is not a
    # top-level connective — `(a OR b) AND EXISTS {...}` is legal
    if terms and _matches_outside_nesting(flat, _OR_SPLIT):
        raise GuardError("EXISTS{} must be a top-level AND conjunct, not under OR")
    conjuncts = [
        c for c in _split_outside_nesting(flat, _AND_SPLIT)
        if c and c != "__exists__"
    ]
    if any("__exists__" in c for c in conjuncts):
        raise GuardError("EXISTS{} must be a whole conjunct")
    residual = " AND ".join(conjuncts) if conjuncts else None
    return residual, terms


def _apply_exists(
    ctx: Ctx,
    df: DataFrame,
    scope: _Scope,
    terms: list[tuple[bool, str]],
    anon: int,
) -> tuple[DataFrame, int]:
    """Apply `[NOT] EXISTS { [MATCH] pattern [WHERE conds] }` terms as
    correlated left-semi / left-anti joins on the shared node
    variables. Mirrors the reference's guarded read surface, which
    accepts arbitrary read Cypher including EXISTS subqueries
    (`api/app/services/cypher_guard.py:31-46` rejects only writes and
    unbounded paths)."""
    for negated, ex_body in terms:
        inner = re.sub(r"^\s*match\b", "", ex_body, flags=re.IGNORECASE).strip()
        iparts = _split_outside_nesting(inner, _WHERE_SPLIT)
        if len(iparts) > 2:
            raise GuardError("multiple WHERE inside EXISTS{}")
        pat_text = iparts[0]
        sub_where = iparts[1] if len(iparts) > 1 else None
        sub_scope = _Scope()
        sub_df, entries, pat_nodes, edge_vars, anon = _compile_pattern(
            ctx, sub_scope, pat_text, anon
        )
        sub_scope.cols.update(entries)
        sub_scope.node_vars.update(pat_nodes)
        sub_scope.all_vars.update(pat_nodes + edge_vars)
        if sub_where:
            sub_df = sub_df.filter(_compile_where(sub_scope, sub_where))
        for v in edge_vars:
            if v in scope.all_vars:
                raise GuardError(
                    f"EXISTS{{}} edge variable {v!r} shadows an outer variable"
                )
        for v in pat_nodes:
            if v in scope.all_vars and v not in scope.node_vars:
                raise GuardError(
                    f"EXISTS{{}} variable {v!r} shadows a non-node outer alias"
                )
        shared = [v for v in pat_nodes if v in scope.node_vars]
        if not shared:
            raise GuardError(
                "EXISTS{} pattern must share a node variable with the outer "
                "clauses (uncorrelated EXISTS is rejected)"
            )
        keys = sub_df.select(
            *[F.col(f"{v}__node_id").alias(f"__ex_{v}") for v in shared]
        )
        on = reduce(
            lambda a, b: a & b,
            [
                F.col(scope.resolve(f"{v}.node_id")) == F.col(f"__ex_{v}")
                for v in shared
            ],
        )
        df = df.join(keys, on, "left_anti" if negated else "left_semi")
    return df, anon


def _apply_match(
    ctx: Ctx,
    df: DataFrame | None,
    scope: _Scope,
    body: str,
    optional: bool,
    anon: int,
) -> tuple[DataFrame, int]:
    parts = _split_outside_nesting(body, _WHERE_SPLIT)
    if len(parts) > 2:
        raise GuardError("multiple WHERE in one clause")
    pattern_text, where_text = parts[0], parts[1] if len(parts) > 1 else None

    exists_terms: list[tuple[bool, str]] = []
    if where_text:
        where_text, exists_terms = _extract_exists(where_text)
        if exists_terms and optional:
            raise GuardError(
                "EXISTS{} inside OPTIONAL MATCH WHERE is not supported"
            )

    pf, entries, pat_nodes, edge_vars, anon = _compile_pattern(
        ctx, scope, pattern_text, anon
    )
    shared = [v for v in pat_nodes if v in scope.node_vars]
    new_nodes = [v for v in pat_nodes if v not in scope.node_vars]

    if df is None:
        if optional:
            raise GuardError("OPTIONAL MATCH cannot be the first clause")
        scope.cols.update(entries)
        scope.node_vars.update(pat_nodes)
        scope.all_vars.update(pat_nodes + edge_vars)
        out = pf
        if where_text:
            out = out.filter(_compile_where(scope, where_text))
        if exists_terms:
            out, anon = _apply_exists(ctx, out, scope, exists_terms, anon)
        return out, anon

    if not shared:
        if scope.node_vars:
            raise GuardError(
                "pattern must share a node variable with the preceding clauses "
                "(cartesian products are rejected)"
            )
        if optional:
            raise GuardError("OPTIONAL MATCH cannot follow only UNWIND")
        # the only node-var-free scope is a literal-UNWIND prologue — a
        # bounded list, so this cross join is a safe broadcast of N literals
        out = df.crossJoin(pf)
        cscope = _Scope(
            cols={**scope.cols, **entries},
            node_vars=set(pat_nodes),
            all_vars=scope.all_vars | set(pat_nodes) | set(edge_vars),
        )
        if where_text:
            out = out.filter(_compile_where(cscope, where_text))
        scope.cols.update(entries)
        scope.node_vars.update(pat_nodes)
        scope.all_vars.update(pat_nodes + edge_vars)
        if exists_terms:
            out, anon = _apply_exists(ctx, out, scope, exists_terms, anon)
        return out, anon
    # rename shared vars' columns in the pattern frame so the join can
    # reference both sides by name; drop the duplicates after the join
    renames = {
        f"{v}__{c}": f"{v}__{c}__r" for v in shared for c in _NODE_PROPS
    }
    pf = pf.select(
        [F.col(c).alias(renames.get(c, c)) for c in pf.columns]
    )
    # resolution scope for this clause's WHERE: prior columns by their
    # names, the pattern's NEW variables by theirs (shared vars resolve
    # to the prior side — identical values by construction)
    cscope = _Scope(
        cols={**scope.cols, **{
            r: c for r, c in entries.items()
            if r.split(".", 1)[0] not in shared
        }},
        node_vars=scope.node_vars | set(pat_nodes),
        all_vars=scope.all_vars | set(pat_nodes) | set(edge_vars),
    )
    conds = [_compile_where(cscope, where_text)] if where_text else []
    join_on = reduce(
        lambda a, b: a & b,
        [F.col(f"{v}__node_id") == F.col(f"{v}__node_id__r") for v in shared]
        + (conds if optional else []),
    )
    out = df.join(pf, join_on, "left" if optional else "inner")
    out = out.drop(*renames.values())
    if not optional:
        for c in conds:
            out = out.filter(c)
    scope.cols.update({
        r: c for r, c in entries.items() if r.split(".", 1)[0] not in shared
    })
    scope.node_vars.update(new_nodes)
    scope.all_vars.update(new_nodes + edge_vars)
    if exists_terms:
        out, anon = _apply_exists(ctx, out, scope, exists_terms, anon)
    return out, anon


def _apply_with(
    df: DataFrame, scope: _Scope, body: str
) -> tuple[DataFrame, _Scope]:
    parts = _split_outside_nesting(body, _WHERE_SPLIT)
    if len(parts) > 2:
        raise GuardError("multiple WHERE in one clause")
    items_text, having_text = parts[0], parts[1] if len(parts) > 1 else None

    # WITH items [ORDER BY ... LIMIT n] [WHERE ...] — mid-query top-k.
    # openCypher applies ORDER BY/LIMIT as part of the projection and
    # WHERE after them. ORDER BY and LIMIT are only accepted TOGETHER:
    # mid-query ordering without a row cap has no observable effect
    # downstream (joins do not preserve order) but costs a global sort,
    # and LIMIT without an order is a non-deterministic subset — both
    # fail closed. Catalyst plans the pair as TakeOrderedAndProject.
    tail = _RET_TAIL.match(items_text)
    items_text = tail.group("ret")
    order_text, limit_text = tail.group("order"), tail.group("limit")
    if tail.group("skip"):
        raise GuardError(
            "SKIP is only supported on the final RETURN (mid-query "
            "pagination has no stable order to offset into)"
        )
    if (order_text is None) != (limit_text is None):
        raise GuardError(
            "ORDER BY in WITH requires LIMIT (and LIMIT requires ORDER "
            "BY): an unbounded mid-query sort has no observable effect "
            "and an unordered LIMIT is non-deterministic"
        )
    # WITH DISTINCT: dedup the projection (before ORDER BY/LIMIT).
    # MATCH rows fan out per pattern match, so `WITH DISTINCT c` is how
    # a query ranks ENTITIES rather than match rows before a top-k.
    dm = re.match(r"^\s*distinct\b(?P<rest>.+)$", items_text,
                  re.IGNORECASE | re.DOTALL)
    with_distinct = dm is not None
    if dm:
        items_text = dm.group("rest")

    new = _Scope()
    key_cols: list = []   # carried/projected (grouping keys when aggregating)
    agg_cols: list = []
    for part in _split_outside_nesting(items_text, re.compile(r",")):
        m = re.match(r"^(?P<body>.+?)(?:\s+as\s+(?P<alias>\w+))?$", part,
                     re.IGNORECASE | re.DOTALL)
        b, alias = m.group("body").strip(), m.group("alias")
        if re.fullmatch(r"[A-Za-z_]\w*", b) and alias is None:
            # bare variable/alias: carry every column it owns
            carried = {r: c for r, c in scope.cols.items()
                       if r == b or r.startswith(f"{b}.")}
            if not carried:
                raise GuardError(f"unknown reference {b!r}")
            for r, c in carried.items():
                key_cols.append(F.col(c))
                new.cols[r] = c
            if b in scope.node_vars:
                new.node_vars.add(b)
            new.all_vars.add(b)
            continue
        if alias is None:
            raise GuardError(
                f"WITH expressions need an alias (AS ...): {part!r}"
            )
        it = _compile_item(scope, part)
        (agg_cols if it.is_agg else key_cols).append(it.expr.alias(it.alias))
        new.cols[it.alias] = it.alias
        new.all_vars.add(it.alias)
    if agg_cols:
        # DISTINCT with aggregation is redundant (grouping dedups)
        out = df.groupBy(*key_cols).agg(*agg_cols) if key_cols else df.agg(*agg_cols)
    else:
        out = df.select(*key_cols)
        if with_distinct:
            out = out.dropDuplicates()
    if order_text:
        by = []
        for part in _split_outside_nesting(order_text, re.compile(r",")):
            m = re.match(r"^(.*?)(?:\s+(asc|desc))?$", part.strip(), re.IGNORECASE)
            col, _ = compile_expr(new, m.group(1).strip(), allow_agg=False)
            by.append(
                col.desc() if (m.group(2) or "").lower() == "desc" else col.asc()
            )
        out = out.orderBy(*by).limit(int(limit_text))
    if having_text:
        out = out.filter(_compile_where(new, having_text))
    return out, new


def _apply_unwind(
    ctx: Ctx, df: DataFrame | None, scope: _Scope, body: str
) -> DataFrame:
    """UNWIND <list> AS x → explode. The list is either a literal
    `[lit, ...]` or an in-scope array reference (a WITH collect alias).
    Mirrors the reference's read-path UNWIND
    (`ontology_scoring.py:232`, UNWIND over an id list)."""
    m = re.match(r"^(?P<expr>.+?)\s+as\s+(?P<alias>\w+)$", body,
                 re.IGNORECASE | re.DOTALL)
    if not m:
        raise GuardError(f"UNWIND needs 'expr AS alias': {body!r}")
    expr, alias = m.group("expr").strip(), m.group("alias")
    if alias in scope.all_vars or alias in scope.cols:
        raise GuardError(f"duplicate variable {alias!r}")
    if expr.startswith("["):
        if not expr.endswith("]"):
            raise GuardError(f"bad list literal {expr!r}")
        inner = expr[1:-1].strip()
        vals = [
            _parse_literal(p)
            for p in _split_outside_literals(inner, re.compile(r","))
        ] if inner else []
        if len({type(v) for v in vals}) > 1:
            raise GuardError("UNWIND list elements must share one type")
        arr = F.array(*[F.lit(v) for v in vals]) if vals else F.array()
        # drop the synthetic range column ONLY when this clause created
        # it — a user column that happens to be aliased 'id' (e.g.
        # `WITH c.node_id AS id UNWIND [...] AS x`) must survive
        created = df is None
        if created:
            df = ctx.spark.range(1)
        out = df.withColumn(alias, F.explode(arr))
        if created:
            out = out.drop("id")
    else:
        if df is None:
            raise GuardError("UNWIND of a reference needs a preceding clause")
        # any array-typed expression: a collect() alias, split(...), etc.
        col, _ = compile_expr(scope, expr, allow_agg=False)
        out = df.withColumn(alias, F.explode(col))
    scope.cols[alias] = alias
    scope.all_vars.add(alias)
    return out


def compile_cypher(ctx: Ctx, cypher: str) -> DataFrame:
    """Guard + parse + compile one Cypher statement to a DataFrame.

    Top-level UNION / UNION ALL combines full subqueries (openCypher
    semantics: UNION dedups rows, arms must return the same column
    names, mixing UNION and UNION ALL is rejected). ORDER BY / LIMIT
    inside union arms is rejected — fail closed like everything else."""
    executable, _ = check_cypher_safety(cypher)

    cuts = _matches_outside_literals(executable, _UNION_SPLIT)
    if cuts:
        kinds = {bool(m.group(1)) for m in cuts}
        if len(kinds) > 1:
            raise GuardError("mixing UNION and UNION ALL is not allowed")
        keep_dups = kinds.pop()
        arms, pos = [], 0
        for m in cuts:
            arms.append(executable[pos : m.start()])
            pos = m.end()
        arms.append(executable[pos:])
        dfs = []
        for arm in arms:
            if _matches_outside_literals(
                arm, re.compile(r"\b(order\s+by|limit)\b", re.IGNORECASE)
            ):
                raise GuardError("ORDER BY / LIMIT inside UNION arms is not supported")
            dfs.append(_compile_single(ctx, arm.strip()))
        cols0 = set(dfs[0].columns)
        for d in dfs[1:]:
            if set(d.columns) != cols0:
                raise GuardError(
                    f"UNION arms must return the same columns: {sorted(cols0)} "
                    f"vs {sorted(d.columns)}"
                )
        out = reduce(lambda a, b: a.unionByName(b), dfs)
        return out if keep_dups else out.dropDuplicates()
    return _compile_single(ctx, executable)


def _compile_single(ctx: Ctx, executable: str) -> DataFrame:
    clauses = _split_clauses(executable)

    df: DataFrame | None = None
    scope = _Scope()
    anon = 0
    for kind, body in clauses[:-1]:
        if kind in ("match", "optional match"):
            df, anon = _apply_match(
                ctx, df, scope, body, kind == "optional match", anon
            )
        elif kind == "unwind":
            df = _apply_unwind(ctx, df, scope, body)
        else:  # with
            if df is None:
                raise GuardError("WITH cannot be the first clause")
            df, scope = _apply_with(df, scope, body)
    if df is None:
        raise GuardError("query needs at least one MATCH before RETURN")

    tail = _RET_TAIL.match(clauses[-1][1])
    ret_text = tail.group("ret")
    dm = re.match(r"^\s*distinct\b(?P<rest>.+)$", ret_text,
                  re.IGNORECASE | re.DOTALL)
    ret_distinct = dm is not None
    if dm:
        ret_text = dm.group("rest")
    items = [
        _compile_item(scope, part)
        for part in _split_outside_nesting(ret_text, re.compile(r","))
    ]
    has_agg = any(it.is_agg for it in items)
    if has_agg:
        # RETURN DISTINCT with aggregation is redundant (grouping dedups)
        keys = [it.expr.alias(it.alias) for it in items if not it.is_agg]
        aggs = [it.expr.alias(it.alias) for it in items if it.is_agg]
        df = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    elif ret_distinct:
        df = df.select(*[it.expr.alias(it.alias) for it in items]).dropDuplicates()

    projected = has_agg or ret_distinct
    by = []
    if tail.group("order"):
        aliases = {it.alias: it for it in items}
        for part in _split_outside_nesting(tail.group("order"), re.compile(r",")):
            m = re.match(r"^(.*?)(?:\s+(asc|desc))?$", part.strip(), re.IGNORECASE)
            ref = m.group(1).strip()
            if ref in aliases:
                col = F.col(ref) if projected else aliases[ref].expr
            elif projected:
                raise GuardError(
                    f"ORDER BY {ref!r} must be a returned alias when "
                    "aggregating or using RETURN DISTINCT"
                )
            else:
                # ordering by a non-returned expression: sort BEFORE the
                # projection drops its inputs (Cypher allows this)
                col, _ = compile_expr(scope, ref, allow_agg=False)
            by.append(col.desc() if (m.group(2) or "").lower() == "desc" else col.asc())
    if by:
        df = df.orderBy(*by)
    if tail.group("skip"):
        # the reference's pagination idiom (`api/app/services/
        # concept_service.py:397` ORDER BY ... SKIP $offset LIMIT
        # $limit). Without a total order the skipped prefix is
        # arbitrary, so SKIP requires ORDER BY — fail closed.
        if not by:
            raise GuardError("SKIP requires ORDER BY (offset into an unordered result)")
        df = df.offset(int(tail.group("skip")))
    if tail.group("limit"):
        df = df.limit(int(tail.group("limit")))
    if not projected:
        df = df.select(*[it.expr.alias(it.alias) for it in items])
    return df


_OR_SPLIT = re.compile(r"\bor\b", re.IGNORECASE)
_AND_SPLIT = re.compile(r"\band\b", re.IGNORECASE)


def _compile_where(scope: _Scope, text: str):
    """WHERE/HAVING boolean expression via the full expression parser
    (`plans/expr.py`): standard precedence (OR < XOR < AND < NOT <
    comparison), parentheses, IS [NOT] NULL, [NOT] IN, string
    predicates, regex `=~`, arithmetic, scalar functions, CASE.
    Aggregates are rejected in this position."""
    col, _ = compile_expr(scope, text, allow_agg=False)
    return col


_SIMPLE_AGG = re.compile(
    r"^(?P<fn>\w+)\s*\(\s*(?:distinct\s+)?"
    r"(?P<arg>\*|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*\)$",
    re.IGNORECASE,
)


def _compile_item(scope: _Scope, part: str) -> _Item:
    """One RETURN/WITH item: any expression from the parser grammar.
    Bare references and single simple-form aggregates keep their
    historical default aliases; every other expression needs AS."""
    m = re.match(r"^(?P<body>.+?)(?:\s+as\s+(?P<alias>\w+))?$", part.strip(),
                 re.IGNORECASE | re.DOTALL)
    body, alias = m.group("body").strip(), m.group("alias")
    col, has_agg = compile_expr(scope, body, allow_agg=True)
    if alias is None:
        if _REF.fullmatch(body):
            alias = body.replace(".", "_")
        else:
            am = _SIMPLE_AGG.match(body)
            if am and am.group("fn").lower() in _AGG_NAMES:
                fn, arg = am.group("fn").lower(), am.group("arg")
                alias = f"{fn}_{'all' if arg == '*' else arg.replace('.', '_')}"
            else:
                raise GuardError(
                    f"expressions need an alias (AS ...): {part!r}"
                )
    return _Item(col, alias, has_agg)


def run_cypher(spark: SparkSession, sf_dir: str, cypher: str) -> DataFrame:
    return compile_cypher(Ctx.get(spark, sf_dir), cypher)


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

_DEMO_CYPHER = """
MATCH (c:Customer)-[:PLACED]->(o:Order)-[:L0]->(p:Part)
WHERE c.weight > 9500 AND p.ontology <> 'Brand#45'
RETURN c.ontology AS segment, p.ontology AS brand, count(*) AS n
"""

_VARLEN_CYPHER = """
MATCH (c {node_id: 'C1'})-[*1..2]->(x)
RETURN x.label AS label, count(*) AS paths
"""

_TRAIL_CYPHER = """
MATCH (p {node_id: 'P1'})-[*1..2]-(x)
RETURN x.label AS label, count(*) AS paths
"""

_OPTIONAL_CYPHER = """
MATCH (c:Customer {ontology: 'BUILDING'})
OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.weight > 350000
RETURN c.node_id AS cid, count(o.node_id) AS big_orders
"""

_WITH_CYPHER = """
MATCH (c:Customer)-[:PLACED]->(o:Order)
WITH c, count(o.node_id) AS n_orders
WHERE n_orders >= 15
MATCH (c)-[:PLACED]->(o2:Order)
WHERE o2.weight > 200000
RETURN c.ontology AS segment, count(*) AS big_orders
"""


@query(
    "p7_cypher_subset",
    oracle=graph_ctes()
    + """
SELECT c.ontology AS segment, p.ontology AS brand, CAST(count(*) AS BIGINT) AS n
FROM nodes c
JOIN edges r1 ON r1.src = c.node_id AND r1.rel_type = 'PLACED'
JOIN nodes o ON o.node_id = r1.dst AND o.label = 'Order'
JOIN edges r2 ON r2.src = o.node_id AND r2.rel_type = 'L0'
JOIN nodes p ON p.node_id = r2.dst AND p.label = 'Part'
WHERE c.label = 'Customer' AND c.weight > 9500 AND p.ontology <> 'Brand#45'
GROUP BY c.ontology, p.ontology
""",
)
def p7_cypher_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop guarded Cypher through the compiler; the oracle is the
    equivalent relational join chain."""
    return run_cypher(spark, sf_dir, _DEMO_CYPHER)


@query(
    "p7_cypher_varlen",
    oracle=graph_ctes()
    + """,
step1 AS (SELECT dst FROM edges WHERE src = 'C1'),
step2 AS (SELECT e2.dst FROM step1 JOIN edges e2 ON e2.src = step1.dst),
allx AS (SELECT dst FROM step1 UNION ALL SELECT dst FROM step2)
SELECT n.label AS label, CAST(count(*) AS BIGINT) AS paths
FROM allx JOIN nodes n ON n.node_id = allx.dst GROUP BY n.label
""",
)
def p7_cypher_varlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded variable-length Cypher ([*1..2]): one row per trail. The
    directed graph is a DAG (C→O→P→S prefixes), so directed trails and
    walks coincide and the UNION ALL oracle needs no uniqueness filter."""
    return run_cypher(spark, sf_dir, _VARLEN_CYPHER)


@query(
    "p7_cypher_trail",
    oracle=graph_ctes()
    + """,
und AS (
  SELECT src AS f, dst AS t, src || '|' || dst || '|' || rel_type AS eid FROM edges
  UNION ALL
  SELECT dst, src, src || '|' || dst || '|' || rel_type FROM edges
),
s1 AS (SELECT t, eid FROM und WHERE f = 'P1'),
s2 AS (SELECT u2.t FROM s1 JOIN und u2 ON u2.f = s1.t AND u2.eid <> s1.eid),
allx AS (SELECT t FROM s1 UNION ALL SELECT t FROM s2)
SELECT n.label AS label, CAST(count(*) AS BIGINT) AS paths
FROM allx JOIN nodes n ON n.node_id = allx.t GROUP BY n.label
""",
)
def p7_cypher_trail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected var-length where trail semantics MATTERS: a walk could
    bounce straight back to P1 over the edge it arrived on; openCypher
    relationship-uniqueness forbids that, and the oracle encodes the
    same `eid <>` exclusion."""
    return run_cypher(spark, sf_dir, _TRAIL_CYPHER)


@query(
    "p7_cypher_optional",
    oracle=graph_ctes()
    + """
SELECT c.node_id AS cid, CAST(count(t.dst) AS BIGINT) AS big_orders
FROM nodes c
LEFT JOIN (
  SELECT r.src, r.dst FROM edges r
  JOIN nodes o ON o.node_id = r.dst AND o.label = 'Order'
  WHERE r.rel_type = 'PLACED' AND o.weight > 350000
) t ON t.src = c.node_id
WHERE c.label = 'Customer' AND c.ontology = 'BUILDING'
GROUP BY c.node_id
""",
)
def p7_cypher_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL MATCH compiled to a left join; its WHERE is part of the
    optional pattern (null row when no qualifying order), so customers
    with zero big orders still appear with big_orders = 0 — mirrors the
    reference's own OPTIONAL MATCH usage (`routes/queries.py:675`)."""
    return run_cypher(spark, sf_dir, _OPTIONAL_CYPHER)


_UNION_CYPHER = """
MATCH (c:Customer) WHERE c.ontology = 'BUILDING' RETURN c.node_id AS id
UNION
MATCH (c:Customer) WHERE c.weight > 9000 RETURN c.node_id AS id
"""


@query(
    "p7_cypher_union",
    oracle=graph_ctes()
    + """
-- DISTINCT over UNION ALL, not bare UNION: DuckDB under WITH RECURSIVE
-- treats non-recursive UNION as UNION ALL (same caveat as so_program_demo)
SELECT DISTINCT id FROM (
  SELECT node_id AS id FROM nodes WHERE label = 'Customer' AND ontology = 'BUILDING'
  UNION ALL
  SELECT node_id FROM nodes WHERE label = 'Customer' AND weight > 9000
)
""",
)
def p7_cypher_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-level UNION with overlapping arms (BUILDING customers ∪
    high-balance customers): openCypher UNION dedups, so the overlap
    must appear once — the oracle's SQL UNION has the same semantics."""
    return run_cypher(spark, sf_dir, _UNION_CYPHER)


_UNWIND_CYPHER = """
MATCH (c:Customer)-[:PLACED]->(o:Order)
WITH c.ontology AS segment, collect(DISTINCT o.ontology) AS prios
UNWIND prios AS prio
RETURN segment, prio
"""


@query(
    "p7_cypher_unwind",
    oracle=graph_ctes()
    + """,
seg AS (
  SELECT c.ontology AS segment,
         list_sort(list_distinct(list(o.ontology))) AS prios
  FROM nodes c
  JOIN edges r ON r.src = c.node_id AND r.rel_type = 'PLACED'
  JOIN nodes o ON o.node_id = r.dst AND o.label = 'Order'
  WHERE c.label = 'Customer'
  GROUP BY c.ontology
)
SELECT segment, unnest(prios) AS prio FROM seg
""",
)
def p7_cypher_unwind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect(DISTINCT) → UNWIND roundtrip: aggregate order priorities
    per market segment into a sorted list, then explode back to rows —
    the collect/UNWIND shape the reference's own read path uses
    (`/root/reference/api/app/lib/age_client/ontology_scoring.py:232`).
    Oracle: DuckDB list()/unnest()."""
    return run_cypher(spark, sf_dir, _UNWIND_CYPHER)


@query(
    "p7_cypher_with",
    oracle=graph_ctes()
    + """,
cust AS (
  SELECT c.node_id, c.ontology, count(o.node_id) AS n_orders
  FROM nodes c
  JOIN edges r ON r.src = c.node_id AND r.rel_type = 'PLACED'
  JOIN nodes o ON o.node_id = r.dst AND o.label = 'Order'
  WHERE c.label = 'Customer'
  GROUP BY c.node_id, c.ontology
  HAVING count(o.node_id) >= 15
)
SELECT cust.ontology AS segment, CAST(count(*) AS BIGINT) AS big_orders
FROM cust
JOIN edges r2 ON r2.src = cust.node_id AND r2.rel_type = 'PLACED'
JOIN nodes o2 ON o2.node_id = r2.dst AND o2.label = 'Order' AND o2.weight > 200000
GROUP BY cust.ontology
""",
)
def p7_cypher_with(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH as a projected subquery: aggregate per customer, HAVING-style
    WHERE on the aggregate, then a second MATCH joining back on the
    carried variable — subquery chaining the reference does with WITH."""
    return run_cypher(spark, sf_dir, _WITH_CYPHER)


# ---------------------------------------------------------------------------
# r8 driver row (prepared in r7, registered at the file tail): the
# shortestPath() surface as a driver row; tests/test_cypher.py runs the
# exact driver-style compare. The oracle computes min-dist by level-union (per-depth
# DISTINCT reachability, then min over depths) — equivalent to the
# engine's multi-source BFS on this DAG-shaped graph.
# ---------------------------------------------------------------------------

_SHORTEST_CYPHER = (
    "MATCH p = shortestPath((c:Customer)-[*1..4]->(s:Supplier)) "
    "RETURN length(p) AS d, count(*) AS n_pairs"
)


def p7_cypher_shortest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shortestPath() aggregated: pair counts by minimal hop distance
    from every Customer to every reachable Supplier within 4 hops."""
    return run_cypher(spark, sf_dir, _SHORTEST_CYPHER)


def p7_cypher_shortest_oracle() -> str:
    return graph_ctes() + """,
r0 AS (SELECT node_id AS root, node_id AS node FROM nodes WHERE label = 'Customer'),
de AS (SELECT DISTINCT src, dst FROM edges),
r1 AS (SELECT DISTINCT r0.root, de.dst AS node FROM r0 JOIN de ON de.src = r0.node),
r2 AS (SELECT DISTINCT r1.root, de.dst AS node FROM r1 JOIN de ON de.src = r1.node),
r3 AS (SELECT DISTINCT r2.root, de.dst AS node FROM r2 JOIN de ON de.src = r2.node),
r4 AS (SELECT DISTINCT r3.root, de.dst AS node FROM r3 JOIN de ON de.src = r3.node),
lev AS (
  SELECT root, node, 1 AS d FROM r1
  UNION ALL SELECT root, node, 2 FROM r2
  UNION ALL SELECT root, node, 3 FROM r3
  UNION ALL SELECT root, node, 4 FROM r4
),
mind AS (SELECT root, node, min(d) AS d FROM lev GROUP BY root, node)
SELECT CAST(m.d AS INT) AS d, CAST(count(*) AS BIGINT) AS n_pairs
FROM mind m JOIN nodes n ON n.node_id = m.node
WHERE n.label = 'Supplier'
GROUP BY m.d
"""


# r8 driver row: prepared in r7, registered this round (registration
# only; candidate code and oracle unchanged).
query("p7_cypher_shortest", oracle=p7_cypher_shortest_oracle())(p7_cypher_shortest)
