"""`interactive` workload: one client, closed loop, a seeded request mix
over the cached graph views.

Requests repeat a fixed 10-slot pattern: 3 search, 2 neighborhood,
2 path, 1 program and 2 cypher. A run measures whole blocks of 10 until
their requests have taken `seconds`, at least one block. Each slot fixes the
request's shape (k, depth, direction, template) so every seed measures
the same mix; the seed draws the literals. Start nodes and query texts
are Zipf-skewed, so popular inputs repeat the way real traffic does.

Every request is a template over an engine call plus the DuckDB oracle
of the registered query it was built from, with the same literals. The
oracle runs after the timed loop; a repeated request must also return
the same rows as its first occurrence.
"""

from __future__ import annotations

import copy
import itertools
import time
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
from knowledge_graph_system_spark.functions.vectors import unit_vec_py
from knowledge_graph_system_spark.operators import setops
from knowledge_graph_system_spark.operators.traversal import (
    bfs, enumerate_paths, shortest_path_length)
from knowledge_graph_system_spark.operators.vector import vector_search
from knowledge_graph_system_spark.plans import cypher as cy
from knowledge_graph_system_spark.plans.program import execute_program
from knowledge_graph_system_spark.sources.graph_view import graph_ctes

from checks import Oracle, spark_digest, subst

# (kind, variant) per slot: 3 search, 2 neighborhood, 2 path, 1 program,
# 2 cypher. Each slot fixes everything that sets a request's job count
# (k, depth, direction, path source label), so seeds differ only in
# literals. EXTRA shapes run in the smoke check only.
PATTERN = [
    ("search", 10), ("neighborhood", ("out", 2)), ("path", ("shortest", "C")),
    ("program", "demo"), ("cypher", "subset"), ("search", 25), ("neighborhood", ("both", 1)),
    ("search", 50), ("path", ("enumerate", "P")), ("cypher", "with"),
]
EXTRA = [("program", "matrix"), ("cypher", "varlen"), ("cypher", "optional"),
         ("neighborhood", ("both", 2)), ("neighborhood", ("out", 3)),
         ("path", ("shortest", "P")), ("path", ("enumerate", "C"))]
ZIPF_S = 1.1


@dataclass
class Request:
    kind: str
    shape: str  # the template and its fixed parameters
    key: tuple
    call: Callable  # (recorder) -> (columns, rows)
    oracle: str


class Zipf:
    """Seeded Zipf(`ZIPF_S`) draws over a seeded permutation of `population`."""

    def __init__(self, rng, population):
        self.rng = rng
        self.pop = list(rng.permutation(np.asarray(population)))
        p = np.arange(1, len(self.pop) + 1, dtype=np.float64) ** -ZIPF_S
        self.p = p / p.sum()

    def draw(self):
        return self.pop[int(self.rng.choice(len(self.pop), p=self.p))]


def _walk_sql(start: str, depth: int, direction: str) -> str:
    if direction == "out":
        prefix = graph_ctes("dedges AS (SELECT src, dst FROM edges)")
    else:
        prefix = graph_ctes(
            "dedges AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)")
    return prefix + f""",
walk(node_id, dist) AS (
  SELECT '{start}', 0
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN dedges e ON e.src = w.node_id
  WHERE w.dist < {depth}
)
SELECT node_id, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY node_id
"""


class Templates:
    """Builds requests from seeded literals against one engine context."""

    def __init__(self, spark, sf_dir, ctx, specs):
        self.spark, self.sf_dir, self.ctx = spark, sf_dir, ctx
        self.specs = specs

    def _oracle(self, name: str) -> str:
        return self.specs[name].oracle

    def search(self, qtext: str, k: int) -> Request:
        def call(rec):
            with rec.layer("vector.search"):
                df = vector_search(self.ctx.nodes_emb, unit_vec_py(qtext), k=k)
                rows = df.collect()
            return df.columns, rows

        sql = subst(self._oracle("v1_vector_search"),
                    {"'query:1'": f"'{qtext}'", "LIMIT 50": f"LIMIT {k}"})
        return Request("search", f"search/{k}", ("search", qtext, k), call, sql)

    def neighborhood(self, start: str, direction: str, depth: int) -> Request:
        def call(rec):
            with rec.layer("traversal.bfs"):
                df = bfs(self.ctx.edges, [start], depth, direction)
                rows = df.collect()
            return df.columns, rows

        sql = _walk_sql(start, depth, direction)
        return Request("neighborhood", f"neighborhood/{direction}/{depth}",
                       ("nbh", start, direction, depth), call, sql)

    def path(self, variant: str, src: str, dst: str) -> Request:
        repl = {"'C1'": f"'{src}'", "'S1'": f"'{dst}'"}

        def call(rec):
            with rec.layer("traversal.path"):
                if variant == "shortest":
                    df = shortest_path_length(self.ctx.edges, src, dst, max_hops=6)
                else:
                    df = enumerate_paths(self.ctx.edges, src, dst, max_hops=4, k=5)
                rows = df.collect()
            return df.columns, rows

        name = "g2_shortest_path" if variant == "shortest" else "g3_k_shortest_paths"
        sql = subst(self._oracle(name), repl)
        return Request("path", f"path/{variant}/{src[0]}", ("path", variant, src, dst),
                       call, sql)

    def program(self, variant: str, lit: dict) -> Request:
        if variant == "demo":
            prog = copy.deepcopy(setops._DEMO_PROGRAM)
            prog[0]["source"]["min_weight"] = lit["w1"]
            prog[1]["source"]["start"] = lit["start"]
            prog[3]["source"]["max_weight"] = lit["w2"]
            sql = subst(self._oracle("so_program_demo"), {
                "'C1'": f"'{lit['start']}'", "950.0": f"{lit['w1']:.1f}",
                "920.0": f"{lit['w2']:.1f}"})
        else:
            prog = copy.deepcopy(setops._MATRIX_PROGRAM)
            prog[0]["source"]["query"] = lit["query"]
            prog[2]["source"]["concept_id"] = lit["start"]
            prog[3]["source"]["concept_id"] = lit["start"]
            prog[4]["source"]["concept_ids"] = [lit["start"], "P1", "S1"]
            sql = subst(self._oracle("so_dispatch_matrix"), {
                "'query:1'": f"'{lit['query']}'", "'C1'": f"'{lit['start']}'"})

        def call(rec):
            with rec.layer("program.execute"):
                res = execute_program(prog, setops.make_dispatch(self.ctx),
                                      setops.empty_working(self.ctx), collect_counts=False)
            if res.aborted:
                raise RuntimeError(f"program aborted: {res.abort_reason}")
            rec.program_steps.extend(s.ms for s in res.log)
            with rec.layer("program.collect"):
                df = res.working.nodes.select("node_id", "label")
                rows = df.collect()
            return df.columns, rows

        key = ("program", variant, tuple(sorted(lit.items())))
        return Request("program", f"program/{variant}", key, call, sql)

    def cypher(self, variant: str, lit: dict) -> Request:
        if variant == "subset":
            repl = {"9500": str(lit["w"]), "'Brand#45'": f"'Brand#{lit['brand']}'"}
            text, name = cy._DEMO_CYPHER, "p7_cypher_subset"
        elif variant == "varlen":
            repl = {"'C1'": f"'{lit['start']}'"}
            text, name = cy._VARLEN_CYPHER, "p7_cypher_varlen"
        elif variant == "optional":
            repl = {"'BUILDING'": f"'{lit['segment']}'", "350000": str(lit["w"])}
            text, name = cy._OPTIONAL_CYPHER, "p7_cypher_optional"
        else:
            repl = {">= 15": f">= {lit['n']}", "> 200000": f"> {lit['w']}"}
            text, name = cy._WITH_CYPHER, "p7_cypher_with"
        text = subst(text, repl)
        sql = subst(self._oracle(name), repl)

        def call(rec):
            with rec.layer("cypher.compile"):
                df = cy.run_cypher(self.spark, self.sf_dir, text)
            with rec.layer("cypher.execute"):
                rows = df.collect()
            return df.columns, rows

        return Request("cypher", f"cypher/{variant}", ("cypher", text), call, sql)


def make_requests(tpl: Templates, graph, seed: int,
                  pattern: list = PATTERN) -> Iterator[Request]:
    """The seeded request stream over `pattern`, built lazily and without end."""
    rng = np.random.default_rng([seed, 3])
    cust = Zipf(rng, np.unique(graph.o_custkey))
    part = Zipf(rng, np.unique(graph.l_partkey))
    text = Zipf(rng, np.arange(1000))
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

    def path(var):
        variant, src = var
        # a reachable supplier, so every seed runs the same number of hops
        sup = []
        while not len(sup):
            key = int((cust if src == "C" else part).draw())
            sup = (graph.suppliers_of_customer(key) if src == "C"
                   else graph.suppliers_of_part(key))
        return tpl.path(variant, f"{src}{key}", f"S{int(rng.choice(sup))}")

    def program(var):
        lit = {"start": f"C{cust.draw()}"}
        if var == "demo":
            lit["w1"] = round(float(rng.uniform(930.0, 980.0)), 1)
            lit["w2"] = round(float(rng.uniform(905.0, 925.0)), 1)
        else:
            lit["query"] = f"query:{text.draw()}"
        return tpl.program(var, lit)

    def cypher(var):
        lit = {
            "subset": lambda: {"w": int(rng.integers(9000, 9800)),
                               "brand": int(rng.integers(1, 26))},
            "varlen": lambda: {"start": f"C{cust.draw()}"},
            "optional": lambda: {"segment": segments[int(rng.integers(0, 5))],
                                 "w": int(rng.integers(300_000, 450_000))},
            "with": lambda: {"n": int(rng.integers(12, 17)),
                             "w": int(rng.integers(150_000, 300_000))},
        }[var]()
        return tpl.cypher(var, lit)

    def neighborhood(var):
        direction, depth = var
        start = f"C{cust.draw()}" if direction == "out" else f"P{part.draw()}"
        return tpl.neighborhood(start, direction, depth)

    build = {"search": lambda k: tpl.search(f"query:{text.draw()}", k),
             "neighborhood": neighborhood, "path": path, "program": program,
             "cypher": cypher}
    for kind, var in itertools.cycle(pattern):
        yield build[kind](var)


def execute(rec, requests):
    """Run `requests` in order, closed loop:
    [(request, digest or None, exception or None)]."""
    results = []
    for req in requests:
        with rec.op(req.kind, req.shape) as span:
            try:
                cols, rows = req.call(rec)
                span.rows = len(rows)
                results.append((req, spark_digest(cols, rows), None))
            except Exception as exc:  # a failed request is counted, not fatal
                results.append((req, None, exc))
    return results


# untimed warm-up before the first block, with seed-independent literals:
# the program template runs match, BFS and checkpoint paths the other
# templates share
WARMUP = [("program", "demo")]


def run(rec, tpl: Templates, graph, seed: int, seconds: float, oracle: Oracle) -> dict:
    """Whole blocks of the pattern until `seconds` of requests have run (at
    least one block), so every run measures the same mix. Each block's
    requests are built before its clock starts."""
    from spans import Recorder

    execute(Recorder("warmup", "warmup"),
            itertools.islice(make_requests(tpl, graph, 2**32 - 1, WARMUP), len(WARMUP)))
    stream = make_requests(tpl, graph, seed)
    results = []
    wall = 0.0
    while not results or wall < seconds:
        block = list(itertools.islice(stream, len(PATTERN)))
        t0 = time.perf_counter()
        results += execute(rec, block)
        wall += time.perf_counter() - t0
    return {"wall_s": wall, **check(results, oracle)}


def check(results, oracle: Oracle) -> dict:
    first: dict[tuple, tuple] = {}
    failed = 0
    for req, got, exc in results:
        if exc is not None:
            failed += 1
            print(f"request {req.key} failed: {exc!r}")
            continue
        if req.key in first:
            want = first[req.key]
        else:
            want = oracle.digest(req.oracle)
            first[req.key] = got
        if got != want:
            failed += 1
            print(f"request {req.key} mismatch: got {got[:2]} want {want[:2]}")
    return {"attempted": len(results), "failed": failed, "distinct": len(first)}
