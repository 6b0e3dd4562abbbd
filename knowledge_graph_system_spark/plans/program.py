"""GraphProgram DSL: set algebra over working subgraphs (SURVEY.md §2.7).

Reference semantics (ADR-500) reproduced operator-for-operator:
- SO1 `+` union-merge (W wins on key collision), SO2 `-` difference with
  dangling-link cascade, SO3 `&` intersect, SO4 `?` optional union,
  SO5 `!` assert-union (abort on empty)
  (`/root/reference/api/app/services/program_operators.py:42-137`).
- SO6 conditionals has_results/empty/count_gte/count_lte with then/else
  branches, nesting ≤ 3 (`program_executor.py:198-221`,
  `models/program.py:107,126-154`).
- SO7 sequential executor with per-step log (op, rows affected, working
  size, ms) and timeout (60 s default, `program_executor.py:43`).
- SO8 validator: structural + safety (op whitelist, op count ≤ 50,
  nesting depth) (`program_validator.py:92-676`).
- SO9 dispatch ops: each statement's result set R comes from an engine
  operator (vector search, BFS neighborhood, node match) instead of the
  reference's guarded Cypher (`program_dispatch.py:193-394`).

The working graph W is a pair of DataFrames (nodes keyed by node_id,
links keyed by (src, rel_type, dst)); every operator is a distributed
set op (unionByName/left_semi/left_anti + dropDuplicates), so a program
over a 100 TB graph never materializes W on the driver — only counts.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_OPS = 50
MAX_NESTING = 3
DEFAULT_TIMEOUT_S = 60.0
_OPS = ("+", "-", "&", "?", "!")
_CONDS = ("has_results", "empty", "count_gte", "count_lte")
# Force the (normally lazy) link checkpoint eager every K set-op
# statements so plan depth stays bounded for arbitrarily long programs.
_LINK_MATERIALIZE_EVERY = 8


class ProgramValidationError(ValueError):
    pass


class ProgramAborted(RuntimeError):
    """SO5 `!` assert produced an empty result set."""


@dataclass
class WorkingGraph:
    """W: nodes(node_id, ...) + links(src, dst, rel_type, ...)."""

    nodes: DataFrame
    links: DataFrame

    def _prune_dangling(self) -> "WorkingGraph":
        """Dangling-link invariant: every link endpoint must exist in the
        node set (`program_operators.py:42-53`). The node-id frame is a
        program RESULT — O(V) for a match-all — so the semi-join hints
        are counted, not forced (r11 sweep; one count serves both).

        The FULL node frame is checkpointed here and returned — the
        executor reuses it as the statement's per-step materialization
        instead of checkpointing the same plan a second time (r17,
        guide §1/§2.4: was two full evaluations of every statement's
        node set — the ids projection here plus the executor's own
        nodes checkpoint)."""
        from ..operators.traversal import _frontier_side

        nodes = self.nodes.localCheckpoint(eager=True)
        ids = nodes.select("node_id")
        n_ids = nodes.count()  # cheap: counts the materialized checkpoint
        links = self.links.join(
            _frontier_side(ids.withColumnRenamed("node_id", "src"), n_ids),
            "src",
            "left_semi",
        ).join(
            _frontier_side(ids.withColumnRenamed("node_id", "dst"), n_ids),
            "dst",
            "left_semi",
        )
        return WorkingGraph(nodes, links)


@dataclass
class Result:
    """R: one statement's result set."""

    nodes: DataFrame
    links: DataFrame | None = None


def op_union(w: WorkingGraph, r: Result) -> WorkingGraph:
    """SO1 `+`: merge R into W, dedup by key, W wins (union keeps the
    first occurrence → W's rows listed first)."""
    nodes = w.nodes.unionByName(
        r.nodes.join(w.nodes.select("node_id"), "node_id", "left_anti"),
        allowMissingColumns=True,
    )
    links = w.links
    if r.links is not None:
        links = w.links.unionByName(
            r.links.join(
                w.links.select("src", "dst", "rel_type"),
                ["src", "dst", "rel_type"],
                "left_anti",
            ),
            allowMissingColumns=True,
        )
    return WorkingGraph(nodes, links)._prune_dangling()


def op_difference(w: WorkingGraph, r: Result) -> WorkingGraph:
    """SO2 `-`: remove R's nodes from W; dangling links cascade."""
    nodes = w.nodes.join(r.nodes.select("node_id"), "node_id", "left_anti")
    return WorkingGraph(nodes, w.links)._prune_dangling()


def op_intersect(w: WorkingGraph, r: Result) -> WorkingGraph:
    """SO3 `&`: keep only W nodes present in R."""
    nodes = w.nodes.join(r.nodes.select("node_id"), "node_id", "left_semi")
    return WorkingGraph(nodes, w.links)._prune_dangling()


def op_optional(w: WorkingGraph, r: Result) -> WorkingGraph:
    """SO4 `?`: union iff R non-empty, else no-op."""
    if r.nodes.isEmpty():
        return w
    return op_union(w, r)


def op_assert(w: WorkingGraph, r: Result) -> WorkingGraph:
    """SO5 `!`: union iff R non-empty, else abort the program."""
    if r.nodes.isEmpty():
        raise ProgramAborted("assert operator received an empty result set")
    return op_union(w, r)


_APPLY = {
    "+": op_union,
    "-": op_difference,
    "&": op_intersect,
    "?": op_optional,
    "!": op_assert,
}


# ---------------------------------------------------------------------------
# Validator (SO8)
# ---------------------------------------------------------------------------

def validate_program(statements: list[dict[str, Any]]) -> None:
    """Structural + safety validation before any execution (3-layer model
    of `program_validator.py:92-676`, minus pydantic)."""
    count = _validate_block(statements, depth=0)
    if count > MAX_OPS:
        raise ProgramValidationError(f"program has {count} ops (max {MAX_OPS})")


def _validate_block(statements: Any, depth: int) -> int:
    if depth > MAX_NESTING:
        raise ProgramValidationError(f"conditional nesting exceeds {MAX_NESTING}")
    if not isinstance(statements, list) or not statements:
        raise ProgramValidationError("program block must be a non-empty list")
    n = 0
    for st in statements:
        if not isinstance(st, dict):
            raise ProgramValidationError("statement must be a dict")
        if "if" in st:
            cond = st["if"]
            if not isinstance(cond, dict) or cond.get("cond") not in _CONDS:
                raise ProgramValidationError(f"unknown condition {cond!r}")
            if cond["cond"] in ("count_gte", "count_lte") and "value" not in cond:
                raise ProgramValidationError(f"{cond['cond']} requires a value")
            if "source" not in st:
                raise ProgramValidationError("conditional needs a source")
            n += 1 + _validate_block(st.get("then", []), depth + 1)
            if "else" in st:
                n += _validate_block(st["else"], depth + 1)
        else:
            if st.get("op") not in _OPS:
                raise ProgramValidationError(f"unknown operator {st.get('op')!r}")
            if "source" not in st:
                raise ProgramValidationError("statement needs a source")
            n += 1
    return n


# ---------------------------------------------------------------------------
# Executor (SO6/SO7)
# ---------------------------------------------------------------------------

@dataclass
class StepLog:
    op: str
    result_rows: int
    working_nodes: int
    ms: float


@dataclass
class ProgramResult:
    working: WorkingGraph
    log: list[StepLog] = field(default_factory=list)
    aborted: bool = False
    abort_reason: str | None = None


def execute_program(
    statements: list[dict[str, Any]],
    dispatch,
    initial: WorkingGraph,
    timeout_s: float = DEFAULT_TIMEOUT_S,
    collect_counts: bool = True,
    pre_dispatch: bool = True,
) -> ProgramResult:
    """Run validated statements sequentially. `dispatch(source) -> Result`
    supplies each statement's R from an engine operator (SO9).

    `collect_counts=False` skips the per-step result/working `.count()`
    actions (logged as -1): a long program then costs one Spark job per
    statement (the nodes checkpoint) instead of three-plus, which is what
    keeps a 50-statement program inside the reference's 60 s envelope
    (`program_executor.py:43`). Conditionals still count — the condition
    needs the number.

    DISPATCH CONTRACT under `pre_dispatch=True` (the default, r17 §2.6
    overlap / documented per ADVICE r17): each block's statements are
    dispatched CONCURRENTLY from up to 4 threads, and speculatively for
    statements an aborting `!`/timeout would never reach, so `dispatch`
    must be (a) thread-safe, (b) pure with respect to the working graph
    (R is a function of the engine context and `source` only — the
    in-repo SO9 dispatch is, by construction), (c) side-effect-free
    (a speculative invocation may run and be discarded), and (d) launch
    its Spark jobs from the calling thread, or an abort cannot cancel
    them (see `_group_dispatch`). A dispatch that
    is side-effecting, reads W, or is not thread-safe must pass
    `pre_dispatch=False`, which restores strictly sequential
    dispatch-at-fold semantics (same results, no overlap).
    """
    validate_program(statements)
    res = ProgramResult(working=initial)
    deadline = time.monotonic() + timeout_s
    try:
        _run_block(statements, dispatch, res, deadline, collect_counts, pre_dispatch)
    except ProgramAborted as exc:
        res.aborted = True
        res.abort_reason = str(exc)
    return res


def _checkpointed_dispatch(dispatch, source) -> "tuple[Result, float]":
    """Dispatch one statement's source and eagerly materialize R.nodes.

    ONE evaluation of the statement's result set (r17, guide §1/§2.4):
    R.nodes was evaluated up to three times per statement — the `?`/`!`
    isEmpty probe, the conditional/log count, and the fold into W's
    checkpoint each re-ran the dispatch plan (for a BFS or corpus-scan
    source, each evaluation is the expensive part). The eager checkpoint
    materializes R.nodes once; every later probe/count/fold reads the
    materialized partitions. R.links stays lazy — programs that never
    materialize links (nodes-only results) never pay for them.

    Returns (Result, dispatch_ms): the dispatch+materialization cost is
    timed HERE, where the work actually runs, so StepLog.ms reports true
    per-statement cost even when the pre-dispatch pool ran it
    concurrently and the fold's wait on the future was near zero
    (ADVICE r17)."""
    t0 = time.perf_counter()
    r = dispatch(source)
    out = Result(nodes=r.nodes.localCheckpoint(eager=True), links=r.links)
    return out, _ms(t0)


def _group_dispatch(sc, gid: str, dispatch, source) -> "tuple[Result, float]":
    """Pre-dispatch worker: tag this thread's Spark jobs with the
    block's job group (thread-local, so it must be set INSIDE the
    worker) so an aborting fold can cancel still-running speculative
    dispatches instead of leaking them past execute_program's return
    (leaked jobs contaminated subsequent measured legs).

    Dispatch contract: `dispatch` must launch its Spark jobs from the
    calling thread. The group is thread-local, so jobs that a dispatch
    launches from threads of its own need not carry it, and an abort's
    cancelJobGroup would not reach them. The in-repo SO9 dispatch is
    single-threaded."""
    sc.setJobGroup(gid, "so-program pre-dispatch")
    return _checkpointed_dispatch(dispatch, source)


def _run_block(
    statements, dispatch, res: ProgramResult, deadline: float, collect_counts: bool,
    pre_dispatch: bool = True,
) -> None:
    # Pre-dispatch pipeline (r17, guide §2.6): R is a pure function of
    # the engine context and the statement's `source` — by construction
    # of SO9 dispatch it never reads the working graph W — so every
    # statement in this block can dispatch and materialize its R
    # CONCURRENTLY while the fold below stays strictly sequential.
    # Sequentially, a program over K expensive sources (BFS waves,
    # vector scans) serializes K long chains of driver-latency-bound
    # jobs; overlapped, later statements' jobs back-fill the executor
    # gaps of earlier ones. Result rows are unchanged: the fold still
    # consumes R's in statement order, conditionals still gate their
    # branch blocks (a branch pre-dispatches only when taken, via the
    # recursion), and `!`/timeout aborts surface exactly as before —
    # any not-yet-consumed R's are simply discarded work on the abort
    # path, never a semantic change.
    from concurrent.futures import ThreadPoolExecutor

    pool = futs = sc = gid = None
    if pre_dispatch and len(statements) > 1:
        sc = res.working.nodes.sparkSession.sparkContext
        gid = f"so-program-{id(res)}-{len(res.log)}-{id(statements)}"
        pool = ThreadPoolExecutor(max_workers=min(4, len(statements)))
        futs = [
            pool.submit(_group_dispatch, sc, gid, dispatch, st["source"])
            for st in statements
        ]
    try:
        _fold_block(
            statements, futs, dispatch, res, deadline, collect_counts, pre_dispatch
        )
    except BaseException:
        # ProgramAborted (empty `!` / timeout): cancel queued futures AND
        # the block's still-running speculative Spark jobs — without the
        # group cancel, pre-dispatched jobs kept executing in non-daemon
        # threads after execute_program returned (ADVICE r17)
        if pool is not None:
            for f in futs:
                f.cancel()
            sc.cancelJobGroup(gid)
        raise
    finally:
        if pool is not None:
            pool.shutdown(wait=False)


def _fold_block(
    statements, futs, dispatch, res: ProgramResult, deadline: float,
    collect_counts: bool, pre_dispatch: bool = True,
) -> None:
    for i, st in enumerate(statements):
        if time.monotonic() > deadline:
            raise ProgramAborted("program timeout exceeded")
        r, dispatch_ms = (
            futs[i].result()
            if futs is not None
            else _checkpointed_dispatch(dispatch, st["source"])
        )
        if "if" in st:
            cond = st["if"]
            n = r.nodes.count()
            ok = {
                "has_results": n > 0,
                "empty": n == 0,
                "count_gte": n >= cond.get("value", 0),
                "count_lte": n <= cond.get("value", 0),
            }[cond["cond"]]
            branch = st.get("then", []) if ok else st.get("else", [])
            wn = res.working.nodes.count() if collect_counts else -1
            res.log.append(StepLog(f"if:{cond['cond']}", n, wn, dispatch_ms))
            if branch:
                _run_block(
                    branch, dispatch, res, deadline, collect_counts, pre_dispatch
                )
        else:
            res.working = _APPLY[st["op"]](res.working, r)
            # localCheckpoint: cut lineage so long programs don't build
            # mile-deep plans (the engine analog of the reference's
            # per-statement materialized WorkingGraph). Nodes were
            # checkpointed eagerly inside `_prune_dangling` (one
            # materialization per statement, r17); links lazy — they
            # materialize fused into whichever later action first
            # touches them instead of paying a dedicated job per statement.
            # Lazy checkpoints chain unmaterialized, so every K statements
            # the link checkpoint is forced eager to bound the accumulated
            # analysis-time plan depth for arbitrarily long programs.
            links_eager = len(res.log) % _LINK_MATERIALIZE_EVERY == (
                _LINK_MATERIALIZE_EVERY - 1
            )
            res.working = WorkingGraph(
                res.working.nodes,
                res.working.links.localCheckpoint(eager=links_eager),
            )
            rn = r.nodes.count() if collect_counts else -1
            wn = res.working.nodes.count() if collect_counts else -1
            # ms = the statement's true dispatch+materialization cost
            # (timed inside _checkpointed_dispatch), NOT the fold's wait
            # on an already-running future (ADVICE r17 — the SO7
            # per-step log semantics)
            res.log.append(StepLog(st["op"], rn, wn, dispatch_ms))


def _ms(t0: float) -> float:
    return round((time.perf_counter() - t0) * 1000, 1)
