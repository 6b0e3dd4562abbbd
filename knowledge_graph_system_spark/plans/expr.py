"""Cypher expression compiler: tokenizer + Pratt-style recursive descent
parser producing Spark Columns.

The reference's guarded read surface accepts arbitrary read openCypher
(`/root/reference/api/app/services/cypher_guard.py:31-46` rejects only
write keywords and unbounded paths), so every expression form a read
query can contain is in scope for parity. The earlier regex-only
grammar (comparisons, string predicates, IS NULL, generic CASE) is
replaced here by a real parser covering, with standard openCypher
precedence:

  OR < XOR < AND < NOT < comparison < additive < multiplicative < unary-
  minus < primary

  comparison:  = <> < <= > >=   (chainable: a < b < c = a<b AND b<c)
               IS [NOT] NULL    [NOT] IN <list-expr>
               STARTS WITH / ENDS WITH / CONTAINS     =~ (regex)
  primary:     literals ('s', 1, 2.5, true, false, null), var / var.prop
               references, [list, literals], ( parenthesized ),
               CASE (generic AND simple form, nestable), function calls

Function whitelist (fail closed on anything else):
  aggregates   count sum avg min max collect stDev stDevP
               (+ DISTINCT where meaningful; collect() returns a SORTED
               array for determinism, as before)
  scalar       coalesce toLower toUpper trim ltrim rtrim replace split
               substring left right size char_length length reverse
               head last abs round ceil floor sign sqrt exp log log10
               toString toInteger toFloat toBoolean
  graph        type(r) labels(n) id(n) properties(x) keys(x) —
               accessors over a bare pattern variable (sugar for
               r.rel_type / [n.label] / n.node_id / a map or name
               array of the var's bound props; properties() values
               are string-cast — Spark maps are monomorphic; fail
               closed on unbound vars or wrong entity kind)
  list preds   any/all/none/single(x IN list WHERE pred) → Spark
               exists/forall/~exists/size(filter)=1 higher-order
               functions (JVM-side, no explode); predicates may be
               correlated with outer columns; nesting allowed with
               distinct element vars (re-binding fails closed)
  list compr   [x IN list WHERE pred | expr] → filter()/transform()
               (either part optional); reduce(acc = init, x IN list |
               expr) → aggregate() — same lambda-binding rules

Documented deviations from openCypher (each fails toward SQL semantics,
which is what the DuckDB oracles pin):
  - `+` is numeric addition only (no string/list concatenation — Spark
    cannot dispatch on the operand type at plan-build time);
  - `/` on two integers is double division (SQL), not openCypher's
    integer division;
  - `size()` applies to arrays, `char_length()`/`length()` to strings
    (openCypher's size-of-string form is deprecated there anyway);
  - `round()` is the 1-arg form;
  - aggregate arguments may be any non-aggregate expression, but one
    item may not MIX aggregated and non-aggregated references
    (openCypher would treat the bare reference as an implicit grouping
    key inside the same item — rejected here, fail closed).

Aggregation discipline: `compile_expr(..., allow_agg=True)` returns
(column, has_agg); nested aggregates and aggregates in WHERE/CASE-
inside-aggregate positions raise GuardError.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from .guard import GuardError

_TOK = re.compile(
    r"\s*(?:"
    r"(?P<str>'(?:[^']|'')*')"
    r"|(?P<num>\d+\.\d+|\.\d+|\d+)"
    r"|(?P<ident>[A-Za-z_]\w*)"
    r"|(?P<op><>|<=|>=|=~|=|<|>|\+|-|\*|/|%|\(|\)|\[|\]|,|\.|\|)"
    r")"
)

_KEYWORDS = {
    "and", "or", "xor", "not", "in", "is", "null", "true", "false",
    "case", "when", "then", "else", "end", "distinct",
    "starts", "ends", "with", "contains",
}


@dataclass
class _Tok:
    kind: str  # str | num | ident | op | end
    text: str

    @property
    def low(self) -> str:
        return self.text.lower()


def _tokenize(text: str) -> list[_Tok]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TOK.match(text, pos)
        if not m:
            rest = text[pos:].strip()
            if not rest:
                break
            raise GuardError(f"unparseable expression at {rest[:30]!r}")
        for kind in ("str", "num", "ident", "op"):
            if m.group(kind) is not None:
                toks.append(_Tok(kind, m.group(kind)))
                break
        pos = m.end()
    toks.append(_Tok("end", ""))
    return toks


def _unquote(tok: str) -> str:
    return tok[1:-1].replace("''", "'")


def _num(tok: str):
    return float(tok) if "." in tok else int(tok)


_AGG_FNS = {"count", "sum", "avg", "min", "max", "collect", "stdev", "stdevp"}

# scalar whitelist: name -> (min_arity, max_arity, builder)
_SCALARS: dict[str, tuple[int, int, object]] = {
    "coalesce": (1, 99, lambda *a: F.coalesce(*a)),
    "tolower": (1, 1, F.lower),
    "toupper": (1, 1, F.upper),
    "trim": (1, 1, F.trim),
    "ltrim": (1, 1, F.ltrim),
    "rtrim": (1, 1, F.rtrim),
    "reverse": (1, 1, F.reverse),
    "size": (1, 1, F.size),
    "char_length": (1, 1, F.length),
    "length": (1, 1, F.length),
    "head": (1, 1, lambda c: F.element_at(c, 1)),
    "last": (1, 1, lambda c: F.element_at(c, -1)),
    "abs": (1, 1, F.abs),
    "round": (1, 1, lambda c: F.round(c, 0)),
    "ceil": (1, 1, F.ceil),
    "floor": (1, 1, F.floor),
    "sign": (1, 1, F.signum),
    "sqrt": (1, 1, F.sqrt),
    "exp": (1, 1, F.exp),
    "log": (1, 1, F.log),
    "log10": (1, 1, F.log10),
    "tostring": (1, 1, lambda c: c.cast("string")),
    "tointeger": (1, 1, lambda c: c.cast("long")),
    "tofloat": (1, 1, lambda c: c.cast("double")),
    "toboolean": (1, 1, lambda c: c.cast("boolean")),
    "substring": (2, 3, None),  # custom: 0-based start
    "left": (2, 2, None),       # version-gated below
    "right": (2, 2, None),
    "replace": (3, 3, None),
    "split": (2, 2, None),      # custom: literal delimiter
}

_CMP = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


class _Parser:
    def __init__(self, scope, text: str, allow_agg: bool):
        self.scope = scope
        self.text = text
        self.toks = _tokenize(text)
        self.i = 0
        self.allow_agg = allow_agg
        self.agg_count = 0
        self.in_agg = 0
        self.plain_refs = 0
        self.lambda_vars: dict[str, Column] = {}

    # ---- token stream -----------------------------------------------------
    def peek(self) -> _Tok:
        return self.toks[self.i]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        if t.kind != "end":
            self.i += 1
        return t

    def at_op(self, *ops: str) -> bool:
        t = self.peek()
        return t.kind == "op" and t.text in ops

    def eat_op(self, op: str) -> bool:
        if self.at_op(op):
            self.i += 1
            return True
        return False

    def expect_op(self, op: str, what: str):
        if not self.eat_op(op):
            raise GuardError(
                f"expected {op!r} in {what}, found {self.peek().text!r} "
                f"in {self.text!r}"
            )

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t.kind == "ident" and t.low in kws

    def eat_kw(self, kw: str) -> bool:
        if self.at_kw(kw):
            self.i += 1
            return True
        return False

    # ---- grammar ----------------------------------------------------------
    def expr(self) -> Column:
        left = self.xor_expr()
        while self.eat_kw("or"):
            left = left | self.xor_expr()
        return left

    def xor_expr(self) -> Column:
        left = self.and_expr()
        while self.eat_kw("xor"):
            # boolean XOR: exactly one side true (null-propagating !=)
            left = left != self.and_expr()
        return left

    def and_expr(self) -> Column:
        left = self.not_expr()
        while self.eat_kw("and"):
            left = left & self.not_expr()
        return left

    def not_expr(self) -> Column:
        if self.eat_kw("not"):
            return ~self.not_expr()
        return self.comparison()

    def comparison(self) -> Column:
        cur = self.add_expr()
        conds: list[Column] = []
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in _CMP:
                op = self.next().text
                rhs = self.add_expr()
                conds.append(_CMP[op](cur, rhs))
                cur = rhs  # chained a < b < c
                continue
            if t.kind == "op" and t.text == "=~":
                if conds:
                    raise GuardError(
                        f"=~ cannot follow a comparison chain in {self.text!r}"
                    )
                self.next()
                pat = self.peek()
                if pat.kind != "str":
                    raise GuardError(
                        f"=~ needs a string-literal pattern in {self.text!r}"
                    )
                self.next()
                cur = cur.rlike(_unquote(pat.text))
                continue
            if self.at_kw("is"):
                if conds:
                    raise GuardError(
                        f"IS NULL cannot follow a comparison chain in {self.text!r}"
                    )
                self.next()
                neg = self.eat_kw("not")
                if not self.eat_kw("null"):
                    raise GuardError(f"expected NULL after IS in {self.text!r}")
                cur = cur.isNotNull() if neg else cur.isNull()
                continue
            if self.at_kw("in") or (
                self.at_kw("not") and self.toks[self.i + 1].low == "in"
            ):
                # fail closed, like IS NULL above: silently returning
                # only the chain (dropping the IN test) would ADMIT
                # rows the predicate excludes
                if conds:
                    raise GuardError(
                        f"IN cannot follow a comparison chain in {self.text!r}"
                    )
                neg = self.eat_kw("not")
                self.eat_kw("in")
                arr = self.add_expr()
                test = F.array_contains(arr, cur)
                cur = ~test if neg else test
                continue
            if self.at_kw("starts", "ends"):
                if conds:
                    raise GuardError(
                        "STARTS/ENDS WITH cannot follow a comparison chain"
                        f" in {self.text!r}"
                    )
                which = self.next().low
                if not self.eat_kw("with"):
                    raise GuardError(
                        f"expected WITH after {which.upper()} in {self.text!r}"
                    )
                rhs = self.add_expr()
                cur = cur.startswith(rhs) if which == "starts" else cur.endswith(rhs)
                continue
            if self.at_kw("contains"):
                if conds:
                    raise GuardError(
                        f"CONTAINS cannot follow a comparison chain in {self.text!r}"
                    )
                self.next()
                cur = cur.contains(self.add_expr())
                continue
            break
        if conds:
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out
        return cur

    def add_expr(self) -> Column:
        left = self.mul_expr()
        while self.at_op("+", "-"):
            op = self.next().text
            right = self.mul_expr()
            left = left + right if op == "+" else left - right
        return left

    def mul_expr(self) -> Column:
        left = self.unary()
        while self.at_op("*", "/", "%"):
            op = self.next().text
            right = self.unary()
            left = {"*": left * right, "/": left / right, "%": left % right}[op]
        return left

    def unary(self) -> Column:
        if self.at_op("-"):
            # constant-fold a negated numeric literal: lit(-1), not
            # negative(lit(1)) — same value, simpler plan
            if self.toks[self.i + 1].kind == "num":
                self.next()
                return F.lit(-_num(self.next().text))
            self.next()
            return -self.unary()
        if self.eat_op("+"):
            return self.unary()
        return self.primary()

    def primary(self) -> Column:
        t = self.peek()
        if t.kind == "str":
            self.next()
            return F.lit(_unquote(t.text))
        if t.kind == "num":
            self.next()
            return F.lit(_num(t.text))
        if t.kind == "op" and t.text == "(":
            self.next()
            inner = self.expr()
            self.expect_op(")", "parenthesized expression")
            return inner
        if t.kind == "op" and t.text == "[":
            # `[x IN list ...]` is a comprehension, per openCypher — a
            # one-element literal list holding a membership test needs
            # parens: `[(x IN list)]` (documented deviation-free: the
            # spec resolves the ambiguity the same way)
            nxt, nxt2 = self.toks[self.i + 1], self.toks[self.i + 2]
            if (
                nxt.kind == "ident"
                and nxt.low not in _KEYWORDS
                and nxt2.kind == "ident"
                and nxt2.low == "in"
            ):
                return self.list_comprehension()
            return self.list_literal()
        if t.kind == "ident":
            low = t.low
            if low == "null":
                self.next()
                return F.lit(None)
            if low in ("true", "false"):
                self.next()
                return F.lit(low == "true")
            if low == "case":
                self.next()
                return self.case_expr()
            if self.toks[self.i + 1].kind == "op" and self.toks[self.i + 1].text == "(":
                return self.func_call()
            return self.reference()
        raise GuardError(
            f"unsupported expression at {t.text!r} in {self.text!r}"
        )

    def list_literal(self) -> Column:
        self.expect_op("[", "list")
        if self.eat_op("]"):
            return F.array()
        items = [self.expr()]
        while self.eat_op(","):
            items.append(self.expr())
        self.expect_op("]", "list")
        return F.array(*items)

    def reference(self) -> Column:
        var = self.next().text
        if var.lower() in _KEYWORDS:
            raise GuardError(f"unexpected keyword {var!r} in {self.text!r}")
        if var in self.lambda_vars:
            if self.peek().kind == "op" and self.peek().text == ".":
                raise GuardError(
                    f"list elements have no properties: {var!r} in {self.text!r}"
                )
            return self.lambda_vars[var]
        ref = var
        if self.eat_op("."):
            prop = self.next()
            if prop.kind != "ident":
                raise GuardError(f"expected property after '.' in {self.text!r}")
            ref = f"{var}.{prop.text}"
        if self.in_agg == 0:
            self.plain_refs += 1
        return F.col(self.scope.resolve(ref))

    def case_expr(self) -> Column:
        test = None
        if not self.at_kw("when", "else", "end"):
            test = self.expr()  # simple form: CASE <expr> WHEN value ...
        branches: list[tuple[Column, Column]] = []
        while self.eat_kw("when"):
            cond = self.expr()
            if test is not None:
                cond = test == cond
            if not self.eat_kw("then"):
                raise GuardError(
                    f"malformed CASE: expected THEN, found {self.peek().text!r} "
                    f"in {self.text!r}"
                )
            branches.append((cond, self.expr()))
        if not branches:
            raise GuardError("CASE needs at least one WHEN branch")
        else_val = self.expr() if self.eat_kw("else") else None
        if not self.eat_kw("end"):
            raise GuardError(
                f"malformed CASE: missing END (found {self.peek().text!r}) "
                f"in {self.text!r}"
            )
        out = F.when(branches[0][0], branches[0][1])
        for cond, val in branches[1:]:
            out = out.when(cond, val)
        if else_val is not None:
            out = out.otherwise(else_val)
        return out

    def func_call(self) -> Column:
        name = self.next().low
        self.expect_op("(", f"{name}() call")
        if name in _AGG_FNS:
            return self.agg_call(name)
        if name in ("type", "labels", "id", "properties", "keys"):
            return self.graph_accessor(name)
        if name in ("any", "all", "none", "single"):
            return self.list_predicate(name)
        if name == "reduce":
            return self.reduce_call()
        if name not in _SCALARS:
            raise GuardError(f"unsupported function {name}() in {self.text!r}")
        if name == "length":
            # length(p) where p is a bound shortestPath variable reads
            # the path's hop count; any other argument falls through to
            # the string form. Lookahead only — nothing is consumed
            # unless the path resolution succeeds.
            t0 = self.peek()
            if (
                t0.kind == "ident"
                and t0.low not in _KEYWORDS
                and t0.text not in self.lambda_vars
                and self.toks[self.i + 1].kind == "op"
                and self.toks[self.i + 1].text == ")"
            ):
                try:
                    col = self.scope.resolve(f"{t0.text}.plen")
                except GuardError:
                    col = None
                if col is not None:
                    self.next()
                    self.next()
                    if self.in_agg == 0:
                        self.plain_refs += 1
                    return F.col(col)
        lo, hi, builder = _SCALARS[name]
        if name == "split":
            # delimiter must be a string LITERAL: Spark's split() takes a
            # regex pattern, so the literal is escaped at compile time
            arg = self.expr()
            self.expect_op(",", "split()")
            d = self.peek()
            if d.kind != "str":
                raise GuardError(
                    f"split() needs a string-literal delimiter in {self.text!r}"
                )
            self.next()
            self.expect_op(")", "split()")
            return F.split(arg, re.escape(_unquote(d.text)))
        args = [self.expr()]
        while self.eat_op(","):
            args.append(self.expr())
        self.expect_op(")", f"{name}() call")
        if not (lo <= len(args) <= hi):
            raise GuardError(
                f"{name}() takes {lo}"
                + (f"..{hi}" if hi != lo else "")
                + f" arguments, got {len(args)}"
            )
        if builder is not None:
            return builder(*args)
        if name == "substring":
            start = args[1] + F.lit(1)  # Cypher is 0-based, SQL 1-based
            if len(args) == 3:
                return F.substr(args[0], start, args[2])
            return F.substr(args[0], start)
        if name == "left":
            if hasattr(F, "left"):
                return F.left(args[0], args[1])
            return F.substr(args[0], F.lit(1), args[1])
        if name == "right":
            if hasattr(F, "right"):
                return F.right(args[0], args[1])
            return F.substr(args[0], -args[1])
        if name == "replace":
            if hasattr(F, "replace"):
                return F.replace(args[0], args[1], args[2])
            raise GuardError("replace() is not available in this Spark build")
        raise AssertionError(name)

    def graph_accessor(self, name: str) -> Column:
        """Graph entity accessors the reference's read Cypher uses
        (`api/app/services/edge_service.py:271` `type(r)`,
        `confidence_analyzer.py:505` `count(DISTINCT type(r))`,
        `concept_service.py` `labels(c)`): sugar over the pattern
        variable's bound columns — type(r) = r.rel_type, id(n) =
        n.node_id, labels(n) = [n.label] (single-label model). The
        argument must be a bare pattern variable; resolve() fails
        closed if it is not bound (or bound to the wrong entity kind:
        node vars carry no rel_type, edge vars no node_id)."""
        t = self.peek()
        if t.kind != "ident":
            raise GuardError(
                f"{name}() takes a single bare pattern variable in {self.text!r}"
            )
        var = self.next().text
        self.expect_op(")", f"{name}() call")
        if self.in_agg == 0:
            self.plain_refs += 1
        if name == "type":
            return F.col(self.scope.resolve(f"{var}.rel_type"))
        if name == "id":
            return F.col(self.scope.resolve(f"{var}.node_id"))
        if name == "labels":
            return F.array(F.col(self.scope.resolve(f"{var}.label")))
        # properties(x) / keys(x): every prop the pattern bound for the
        # variable, introspected from the scope (works for node AND
        # edge vars). Deviation: properties() values are string-cast —
        # Spark maps are monomorphic, openCypher maps are not.
        cols = getattr(self.scope, "cols", None)
        if not cols:
            raise GuardError(f"{name}() needs a pattern scope in {self.text!r}")
        props = sorted(
            (r.split(".", 1)[1], c)
            for r, c in cols.items()
            if r.startswith(f"{var}.")
        )
        if not props:
            raise GuardError(f"unknown reference {var!r} in {self.text!r}")
        if name == "keys":
            return F.array(*[F.lit(p) for p, _ in props])
        return F.create_map(
            *[x for p, c in props for x in (F.lit(p), F.col(c).cast("string"))]
        )

    def list_predicate(self, name: str) -> Column:
        """openCypher list predicates any/all/none/single(x IN list
        WHERE pred) → Spark higher-order functions exists/forall/
        ~exists/size(filter)=1 — JVM-side per-row array evaluation, no
        UDF, no explode. The predicate may reference outer scope
        columns (correlated) alongside the element variable; the
        element is bound as a lambda variable, shadowing any outer
        name for the predicate's extent."""
        t = self.peek()
        if t.kind != "ident" or t.low in _KEYWORDS:
            raise GuardError(
                f"{name}() needs 'var IN list WHERE pred' in {self.text!r}"
            )
        var = self.next().text
        if var in self.lambda_vars:
            raise GuardError(f"nested list predicates cannot re-bind {var!r}")
        if not self.eat_kw("in"):
            raise GuardError(f"expected IN after {name}({var} in {self.text!r}")
        lst = self.expr()
        if not self.eat_kw("where"):
            raise GuardError(f"expected WHERE in {name}(...) in {self.text!r}")

        # Spark's higher-order builders invoke the lambda eagerly and
        # exactly once, so the predicate is parsed in place with the
        # element column bound for its extent.
        def body(elem: Column) -> Column:
            self.lambda_vars[var] = elem
            try:
                return self.expr()
            finally:
                del self.lambda_vars[var]

        if name == "any":
            out = F.exists(lst, body)
        elif name == "all":
            out = F.forall(lst, body)
        elif name == "none":
            out = ~F.exists(lst, body)
        else:  # single
            out = F.size(F.filter(lst, body)) == 1
        self.expect_op(")", f"{name}() call")
        return out

    def _bound(self, var: str, elem: Column):
        """Parse one sub-expression with `var` bound to `elem` for its
        extent (the Spark higher-order builders invoke each lambda
        eagerly and exactly once, so sequential parsing stays aligned
        with the token stream)."""
        self.lambda_vars[var] = elem
        try:
            return self.expr()
        finally:
            del self.lambda_vars[var]

    def list_comprehension(self) -> Column:
        """`[x IN list WHERE pred | expr]` → Spark filter()/transform()
        higher-order functions — JVM-side, no UDF, no explode. WHERE
        and the projection are each optional; `[x IN list]` is a plain
        copy. The element variable shadows outer names for its extent
        and cannot re-bind an enclosing lambda variable."""
        self.expect_op("[", "list comprehension")
        var = self.next().text
        if var in self.lambda_vars:
            raise GuardError(
                f"nested comprehension cannot re-bind {var!r} in {self.text!r}"
            )
        if not self.eat_kw("in"):
            raise GuardError(f"expected IN in comprehension in {self.text!r}")
        out = self.expr()
        if self.eat_kw("where"):
            out = F.filter(out, lambda e: self._bound(var, e))
        if self.eat_op("|"):
            out = F.transform(out, lambda e: self._bound(var, e))
        self.expect_op("]", "list comprehension")
        return out

    def reduce_call(self) -> Column:
        """`reduce(acc = init, x IN list | expr)` → Spark aggregate()
        higher-order function. Both the accumulator and element
        variables bind for the merge expression's extent; the result
        type is the merge expression's type (openCypher's is the
        accumulator's — write the merge so both agree, which the
        DuckDB differential pins)."""
        acc = self.next()
        if acc.kind != "ident" or acc.low in _KEYWORDS:
            raise GuardError(
                f"reduce() needs 'acc = init, x IN list | expr' in {self.text!r}"
            )
        if not (self.peek().kind == "op" and self.peek().text == "="):
            raise GuardError(f"expected = after reduce({acc.text} in {self.text!r}")
        self.next()
        init = self.expr()
        self.expect_op(",", "reduce()")
        var_t = self.peek()
        if var_t.kind != "ident" or var_t.low in _KEYWORDS:
            raise GuardError(f"reduce() needs an element variable in {self.text!r}")
        var = self.next().text
        if var == acc.text:
            raise GuardError(
                f"reduce() accumulator and element must differ in {self.text!r}"
            )
        if var in self.lambda_vars or acc.text in self.lambda_vars:
            raise GuardError(
                f"reduce() cannot re-bind an enclosing lambda variable in {self.text!r}"
            )
        if not self.eat_kw("in"):
            raise GuardError(f"expected IN in reduce() in {self.text!r}")
        lst = self.expr()
        if not (self.peek().kind == "op" and self.peek().text == "|"):
            raise GuardError(f"expected | before reduce() merge in {self.text!r}")
        self.next()

        def merge(a: Column, x: Column) -> Column:
            self.lambda_vars[acc.text] = a
            return self._bound(var, x)

        try:
            out = F.aggregate(lst, init, merge)
        finally:
            self.lambda_vars.pop(acc.text, None)
        self.expect_op(")", "reduce() call")
        return out

    def agg_call(self, name: str) -> Column:
        if not self.allow_agg:
            raise GuardError(
                f"aggregate {name}() is not allowed in this position "
                f"(WHERE / inside another expression context): {self.text!r}"
            )
        if self.in_agg:
            raise GuardError(f"nested aggregate {name}() in {self.text!r}")
        distinct = self.eat_kw("distinct")
        if self.at_op("*"):
            self.next()
            self.expect_op(")", "count(*)")
            if name != "count" or distinct:
                raise GuardError(
                    f"'*' argument only valid in count(*): {self.text!r}"
                )
            self.agg_count += 1
            return F.count(F.lit(1))
        self.in_agg += 1
        arg = self.expr()
        self.in_agg -= 1
        self.expect_op(")", f"{name}() call")
        self.agg_count += 1
        if name == "collect":
            # sorted array: openCypher leaves collect order unspecified;
            # sorting makes it deterministic and oracle-comparable
            inner = F.collect_set(arg) if distinct else F.collect_list(arg)
            return F.sort_array(inner)
        if name == "count":
            return F.count_distinct(arg) if distinct else F.count(arg)
        if name == "sum" and distinct:
            return F.sum_distinct(arg)
        if name == "avg" and distinct:
            raise GuardError("avg(DISTINCT ...) is not supported")
        if name in ("stdev", "stdevp") and distinct:
            raise GuardError(f"{name}(DISTINCT ...) is not supported")
        fn = {
            "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
            "stdev": F.stddev_samp, "stdevp": F.stddev_pop,
        }[name]
        return fn(arg)  # min/max ignore DISTINCT (it cannot change the result)


def compile_expr(scope, text: str, allow_agg: bool = False) -> tuple[Column, bool]:
    """Compile one Cypher expression. Returns (column, has_aggregate)."""
    p = _Parser(scope, text, allow_agg)
    col = p.expr()
    t = p.peek()
    if t.kind != "end":
        raise GuardError(
            f"malformed expression: unexpected {t.text!r} after a complete "
            f"expression in {text!r}"
        )
    if p.agg_count and p.plain_refs:
        raise GuardError(
            "mixing aggregated and non-aggregated references in one "
            f"expression is not supported: {text!r}"
        )
    return col, p.agg_count > 0
