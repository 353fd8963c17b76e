"""Continuous-query analyzer: validate the CQ SQL subset and split a
``SELECT`` over a stream into (worker partial-agg plan, matrel schema,
overlay finalize plan).

Mirrors the behavior (not the implementation) of the reference's
``TransformSelectStmtForContProcess`` (``src/analyzer.c:2762-3074``),
``ValidateParsedContQuery`` (``src/analyzer.c:1183-1336``),
``find_clock_timestamp_expr`` (``src/analyzer.c:321-423``) and the
streaming-variant rewrite table (``src/analyzer.c:84-107``).  Like the
reference, which walks Postgres parse trees, :func:`analyze` reads the
CQ once with Spark's own parser (the engine's one SQL reader) and takes
every structural fact from that tree: the clause chain, select items
and their aliases, aggregate calls (name, DISTINCT, FILTER, WITHIN
GROUP arguments), GROUP BY entries, the relations of FROM and the
sliding-window conjunct of WHERE.  Scalar expressions reach Catalyst,
the real expression compiler, as the text of their tree nodes, cut from
the statement at each node's origin.  Only three PostgreSQL spellings
that Spark's parser misreads are rewritten first, in one
string-literal-aware, length-preserving pass (:func:`pg_spellings`).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pipelinedb_spark.aggregates import REGISTRY, AggRegistry


class CQError(ValueError):
    """Continuous-query validation error (reference: ereport calls in
    ValidateParsedContQuery)."""


# ---------------------------------------------------------------------------
# Spark parse trees: the engine's one SQL reader hands every statement over
# as an unresolved logical plan; these helpers read it.
# ---------------------------------------------------------------------------

def _named(names, rel: str) -> str | None:
    """The one of ``names`` that relation ``rel`` denotes, matched
    case-insensitively as Spark resolves identifiers."""
    if rel in names:
        return rel
    return next((n for n in names if n.lower() == rel.lower()), None)


def _seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _plans(plan):
    """``(name, node)`` of each plan node of a parsed statement, CTE
    bodies, subqueries (inner children) and an EXPLAIN's plan too."""
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.nodeName()
        yield kind, node
        stack += _seq(node.children()) + _seq(node.innerChildren()) + (
            [node.logicalPlan()] if kind == "ExplainCommand" else [])


# expression nodes without children
_LEAVES = ("UnresolvedAttribute", "Literal")


def _expressions(plan) -> list:
    """``(name, node)`` of every expression node of a parsed statement."""
    out = []
    for _, node in _plans(plan):
        stack = _seq(node.expressions())
        while stack:
            e = stack.pop()
            out.append((kind := e.nodeName(), e))
            if kind not in _LEAVES:
                stack += _seq(e.children())
    return out


def _output_of(node) -> str | None:
    """The view an ``output_of('cv')`` table function node reads."""
    if _seq(node.name())[-1].lower() != "output_of":
        return None
    args = _seq(node.functionArgs())
    if len(args) != 1 or args[0].nodeName() != "Literal":
        raise CQError("output_of() takes one continuous view name")
    return args[0].value().toString()


def _relation_name(kind: str, node) -> str | None:
    """The single-part name a relation node reads, else None; an
    ``output_of('cv')`` call reads the output stream ``cv_osrel``."""
    if kind in ("UnresolvedRelation", "UnresolvedTableOrView"):
        ident = _seq(node.multipartIdentifier())
        return ident[0] if len(ident) == 1 else None
    if kind == "UnresolvedTableValuedFunction" and (
            cv := _output_of(node)) is not None:
        return f"{cv}_osrel"


def _fname(node) -> str | None:
    """Lower-cased name of an unqualified function call node."""
    parts = _seq(node.nameParts())
    return parts[0].lower() if len(parts) == 1 else None


def _combine_calls(exprs: list) -> list:
    """combine()/sw_combine() calls in parsed expressions, in order."""
    calls, stack = [], list(exprs)
    while stack:
        e = stack.pop()
        if (e.nodeName() == "UnresolvedFunction" and
                e.nameParts().last().lower() in ("combine", "sw_combine")):
            calls.append(e)
        else:
            stack += _seq(e.children())
    return sorted(calls, key=lambda c: _span(c)[0])


def _span(node) -> tuple[int, int]:
    """``[start, stop)`` of a parsed node in its statement's text."""
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get() + 1


def _extent(node, kind: str | None = None) -> tuple[int, int]:
    """``[start, stop)`` of a parsed expression's whole text.  Spark
    dates a predicate (``x IN (…)``, ``x IS NULL``, ``x BETWEEN …``)
    from its operator, so the extent starts at the first leaf when
    that comes earlier.  ``kind``: the node's name, when known."""
    lo, hi = _span(node)
    if kind not in _LEAVES:
        start = node.collectLeaves().head().origin().startIndex()
        if start.isDefined():
            lo = min(lo, start.get())
    return lo, hi


def _splice(text: str, edits: list[tuple[int, int, str]]) -> str:
    """``text`` with each ``(start, stop, new)`` edit applied."""
    for s, e, new in sorted(edits, reverse=True):
        text = text[:s] + new + text[e:]
    return text


def _text(text: str, node, subs: dict | None = None) -> str:
    """The text of a parsed expression, each combine() call in it
    replaced by ``subs``' text for its argument."""
    lo, hi = _extent(node)
    edits = []
    for call in _combine_calls([node]) if subs else []:
        s, e = _span(call)
        arg = call.arguments().apply(0).nameParts().apply(0)
        edits.append((s - lo, e - lo, subs[arg]))
    return _splice(text[lo:hi], edits)


# ---------------------------------------------------------------------------
# PostgreSQL spellings Spark's parser misreads
# ---------------------------------------------------------------------------

_DISTINCT_ON = re.compile(r"(?is)\A(\s*SELECT\s+DISTINCT)(\s+ON\s*\(([^()]*)\))")
_PG_TOKEN = re.compile(
    r"""(?P<alias>\bAS\s+"[^"`]*")
      | '(?:[^'\\]|\\.)*' | "(?:[^"\\]|\\.)*" | `[^`]*`
      | --[^\n]* | /\*.*?\*/
      | (?P<array>\bARRAY\s*\[) | (?P<bracket>[\[\]])""",
    re.I | re.S | re.X)


def pg_spellings(sql: str) -> tuple[str, list[str] | None]:
    """``sql`` as Spark's parser should read it, and the columns of a
    leading ``DISTINCT ON (…)``.  Three PostgreSQL spellings change,
    outside string literals, quoted identifiers and comments:
    ``DISTINCT ON (cols)`` (Spark reads a call to a function ``ON``)
    keeps its ``DISTINCT``; ``ARRAY[…]`` becomes ``array(…)``; and
    ``AS "alias"`` becomes ``AS `alias```.  Every change keeps the
    text's length, so node origins index both texts alike."""
    out = list(sql)
    distinct_on = None
    m = _DISTINCT_ON.match(sql)
    if m:
        out[m.start(2):m.end(2)] = " " * (m.end(2) - m.start(2))
        distinct_on = [c.strip() for c in m.group(3).split(",")
                       if c.strip()]
    arrays: list[bool] = []   # open brackets: ARRAY[ or a subscript
    for t in _PG_TOKEN.finditer(sql):
        if t.group("alias"):
            out[sql.index('"', t.start())] = out[t.end() - 1] = "`"
        elif t.group("array"):
            arrays.append(True)
            out[t.end() - 1] = "("
        elif t.group("bracket") == "[":
            arrays.append(False)
        elif t.group("bracket") and arrays and arrays.pop():
            out[t.start()] = ")"
    return "".join(out), distinct_on


# ---------------------------------------------------------------------------
# Plan
# ---------------------------------------------------------------------------

# names users may not alias outputs to: the stream's implicit arrival
# column plus this engine's internal matrel columns
_RESERVED_COLS = {"arrival_timestamp", "_step", "_gid", "_seq",
                  "__bucket"}

# Non-combinable → streaming variant rewrites (reference
# StreamingVariants, src/analyzer.c:84-107).
STREAMING_VARIANTS = {
    "percentile_cont": "combinable_percentile_cont",
    "rank": "combinable_rank",
    "dense_rank": "combinable_dense_rank",
    "percent_rank": "combinable_percent_rank",
    "cume_dist": "combinable_cume_dist",
}


@dataclass
class AggCall:
    out: str            # output/state column prefix
    func: str           # registry name
    args: list[str]     # raw SQL arg expressions
    text: str           # original call text (for error messages)
    # FILTER (WHERE ...) condition — applied WORKER-side only; the
    # combiner merges unfiltered states exactly as the reference strips
    # the clause from combiner aggs (src/analyzer.c:3053-3068)
    filter: str | None = None
    # per arg: a constant (number, string, ``*``), not a per-row input
    consts: list[bool] = field(default_factory=list)

    def worker_args(self) -> list[str]:
        """Args for the worker's partial aggregation, with the FILTER
        condition folded in.  Every registry aggregate is NULL-strict
        (built-ins skip NULL inputs; sketch UDAFs dropna), so
        ``FILTER (WHERE c)`` ≡ nulling out the data args on non-
        matching rows — PG's row-removal semantics.  Constant args are
        left untouched: they are direct arguments, not per-row
        inputs."""
        if self.filter is None:
            return self.args
        cond = f"({self.filter})"
        wrapped, any_data = [], False
        for a, const in zip(self.args, self.consts):
            if const:
                wrapped.append(a)
            else:
                wrapped.append(f"CASE WHEN {cond} THEN ({a}) END")
                any_data = True
        if not any_data:
            if self.func == "count":
                # count(*) FILTER (WHERE c) → count of matching rows
                return [f"CASE WHEN {cond} THEN 1 END"]
            raise CQError(
                f"FILTER is not supported here (no per-row argument "
                f"to restrict): {self.text}")
        return wrapped


@dataclass
class CQPlan:
    select_items: list[tuple[str, str]]        # (expr with placeholders, alias)
    aggs: list[AggCall]
    group_exprs: list[str]                     # raw SQL group expressions
    group_names: list[str]                     # matrel column name per group expr
    from_clause: str
    stream: str                                # the single stream read
    where: str | None
    limit: int | None
    sw_column: str | None = None               # sliding-window time column
    sw_seconds: float | None = None
    sw_step_seconds: float | None = None
    # GROUPING SETS/CUBE/ROLLUP: list of sets (each a list of exprs from
    # group_exprs); None for plain GROUP BY (reference analyzer.c:2819)
    grouping_sets: list[list[str]] | None = None
    # DISTINCT ON (cols): overlay-level dedup on these columns
    # (reference: DISTINCT ON -> view-level distinct, analyzer.c:3019)
    distinct_on: list[str] | None = None
    # no-aggregate CV (reference create_cont_view.sql cqcreate0-2):
    # every projected event row materializes.  State is count-compressed
    # (one matrel row per distinct projected tuple + multiplicity);
    # reads expand the multiset back.
    append: bool = False
    # LIMIT ... OFFSET n (reference cont_limit.sql): the overlay skips
    # the first n rows in ARRIVAL order for append CVs
    offset: int | None = None
    # FROM names the stream alone: the worker reads each batch as is
    bare_stream: bool = False
    # the CQ after its CREATE-time rewrites: what the catalog stores
    sql: str = ""


def _norm(expr: str) -> str:
    """Expression text compared whitespace- and case-insensitively."""
    return "".join(expr.split()).lower()


def _column_name(body: str) -> str:
    """Output name of an unaliased, non-identifier select item: its
    word characters, runs of anything else as one ``_``."""
    words = "".join(c if c.isalnum() or c == "_" else " " for c in body)
    return "_".join(words.split()).strip("_")


def _parse_cq(parse: Callable, sql: str, text: str):
    from pyspark.errors import ParseException
    try:
        return parse(text)
    except ParseException as exc:
        raise CQError(f"invalid continuous query {sql!r}: {exc}") from exc


# ---------------------------------------------------------------------------
# Aggregate extraction
# ---------------------------------------------------------------------------

def _agg_call(text: str, call, fname: str, registry: AggRegistry,
              out: str) -> AggCall:
    """One hoisted aggregate call (reference src/analyzer.c:2880-3008):
    ``count(DISTINCT x)`` streams as ``hll_count_distinct``,
    ``array_agg(DISTINCT x)`` as ``set_agg``, and WITHIN GROUP's
    ordering expressions follow the arguments (the reference folds them
    likewise, src/analyzer.c:2091-2108)."""
    span = _span(call)
    args, consts = [], []
    for a in _seq(call.arguments()) + [
            o.child() for o in _seq(call.orderingWithinGroup())]:
        kind = a.nodeName()
        lo, hi = _extent(a, kind)
        # Spark reads count(*) as count(1), dated from the call's start
        args.append("*" if lo == span[0] else text[lo:hi])
        consts.append(kind == "Literal")
    func = fname
    if call.isDistinct():
        if fname == "count":
            func = "hll_count_distinct"
        elif fname == "array_agg":
            func = "set_agg"
        else:
            raise CQError(
                f"DISTINCT is only supported by count/array_agg in "
                f"continuous queries: {text[span[0]:span[1]]}")
    func = STREAMING_VARIANTS.get(func, func)
    if func not in registry:
        raise CQError(f"aggregate {fname} is not combinable / not supported")
    # agg(...) FILTER (WHERE cond) — reference parses the clause on
    # worker aggregates and strips it on combiner aggs
    # (src/analyzer.c:3053-3068; cont_dist_agg.sql:38)
    filt = call.filter()
    return AggCall(out=out, func=func, args=args,
                   text=text[span[0]:span[1]],
                   filter=_text(text, filt.get()) if filt.isDefined()
                   else None, consts=consts)


def _hoist(text: str, body, extent: tuple[int, int], registry: AggRegistry,
           used: set[str], alias: str | None) -> tuple[str, list[AggCall]]:
    """The text of ``body`` (at ``extent``) with each aggregate call
    replaced by an ``{out}`` placeholder, and the calls.  A body that
    is one call names its state after the item's alias."""
    found, stack = [], [body]
    while stack:
        e = stack.pop()
        kind = e.nodeName()
        if kind == "UnresolvedFunction":
            fname = _fname(e)
            if (fname in registry or fname in STREAMING_VARIANTS
                    or fname == "count"):
                found.append((_span(e), fname, e))
                continue
        if kind not in _LEAVES:
            stack += _seq(e.children())
    lo, hi = extent
    calls, edits = [], []
    for (s, e), fname, node in sorted(found, key=lambda f: f[0]):
        base = alias if (alias and node is body) else fname
        out, k = base, 0
        while out in used:
            k += 1
            out = f"{base}_{k}"
        used.add(out)
        calls.append(_agg_call(text, node, fname, registry, out))
        edits.append((s - lo, e - lo, "{" + out + "}"))
    return _splice(text[lo:hi], edits), calls


# ---------------------------------------------------------------------------
# Sliding-window detection
# ---------------------------------------------------------------------------

_INTERVAL_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800, "ms": 0.001, "millisecond": 0.001,
    "milliseconds": 0.001,
}


def parse_interval(text: str) -> float:
    """'5 minutes' / '1 hour 30 minutes' → seconds."""
    total = 0.0
    for num, unit in re.findall(r"([\d.]+)\s*([A-Za-z]+)", text):
        u = unit.lower()
        if u not in _INTERVAL_UNITS:
            raise CQError(f"unsupported interval unit: {unit!r}")
        total += float(num) * _INTERVAL_UNITS[u]
    if total <= 0:
        raise CQError(f"cannot parse interval: {text!r}")
    return total


_CLOCKS = ("clock_timestamp", "now", "current_timestamp")


def _interval(text: str, node) -> float | None:
    """Seconds of an ``interval '…'`` literal node, else None."""
    lit = _text(text, node) if node.nodeName() == "Literal" else ""
    return parse_interval(lit) if lit.lower().startswith("interval") else None


def _conjuncts(cond) -> list:
    """Top-level AND conjuncts of a parsed condition, in order."""
    if cond.nodeName() == "And":
        return _conjuncts(cond.left()) + _conjuncts(cond.right())
    return [cond]


def _window_predicate(text: str, cond) -> tuple[str, float] | None:
    """(time expression, window seconds) of a conjunct shaped
    ``expr >[=] {clock_timestamp|now|current_timestamp}() - interval
    'W'``.  A constant offset on the left folds into the width:
    ``expr + interval 'K' > clock() - interval 'W'`` ⟺ ``expr >
    clock() - (W + K)`` (reference sw_ts_expr1,
    pipeline_regress.sql:183-185)."""
    if (cond.nodeName() not in ("GreaterThan", "GreaterThanOrEqual")
            or cond.right().nodeName() != "Subtract"):
        return None
    lhs, (clock, width) = cond.left(), _seq(cond.right().children())
    if (clock.nodeName() != "UnresolvedFunction" or _fname(clock)
            not in _CLOCKS or clock.arguments().size()
            or (secs := _interval(text, width)) is None):
        return None
    if lhs.nodeName() in ("Add", "Subtract") and (
            k := _interval(text, lhs.right())) is not None:
        secs = secs + k if lhs.nodeName() == "Add" else secs - k
        lhs = lhs.left()
        if secs <= 0:
            raise CQError("sliding-window offset leaves a non-positive "
                          f"window ({secs}s)")
    return _text(text, lhs), secs


def _sliding_window(text: str, cond) -> tuple[str | None, float | None,
                                              str | None]:
    """(column, seconds, remaining WHERE) of the first sliding-window
    conjunct (reference removes the matched node,
    find_clock_timestamp_expr src/analyzer.c:321-423).  The remaining
    conjuncts rejoin with AND; an OR among them keeps its parentheses,
    which node text leaves out."""
    parts = _conjuncts(cond)
    for i, c in enumerate(parts):
        sw = _window_predicate(text, c)
        if sw is not None:
            rest = [f"({_text(text, p)})" if p.nodeName() == "Or"
                    else _text(text, p) for p in parts[:i] + parts[i + 1:]]
            return sw[0], sw[1], " AND ".join(rest) or None
    return None, None, _text(text, cond)


# ---------------------------------------------------------------------------
# FROM: relations and sub-SELECT validation (reference ValidateSubselect,
# src/analyzer.c:1344-1407): inner queries of a CQ's FROM clause must be
# simple projections — the continuous semantics of aggregates/DISTINCT/
# ORDER BY etc. inside a subquery would silently differ from batch SQL.
# ---------------------------------------------------------------------------

_SUBSELECT_AGGS = {"count", "sum", "avg", "min", "max", "stddev",
                   "variance", "var_samp", "var_pop", "stddev_samp",
                   "stddev_pop", "array_agg", "string_agg", "json_agg",
                   "collect_list", "collect_set", "first", "last"}

# what a sub-SELECT may not contain, by plan node, in report order
_SUBSELECT_CLAUSES = {
    "UnresolvedWith": "CTEs", "GROUP BY": "GROUP BY clauses",
    "UnresolvedHaving": "HAVING clauses", "Sort": "ORDER BY clauses",
    "GlobalLimit": "LIMIT clauses", "Offset": "OFFSET clauses",
    "Distinct": "DISTINCT clauses", "aggregates": "aggregates"}
_FROM_KINDS = {"Join", "SubqueryAlias", "UnresolvedRelation",
               "UnresolvedTableOrView", "UnresolvedTableValuedFunction"}


def _from_relations(from_node, registry: AggRegistry) -> list[str]:
    """Relation names read by a CQ's FROM, after validating each
    sub-SELECT in it."""
    rels, found = [], set()
    for kind, node in _plans(from_node):
        if (rel := _relation_name(kind, node)) is not None:
            rels.append(rel)
        elif kind not in _FROM_KINDS:   # a node of a sub-SELECT
            found.add(kind)
            if kind == "Aggregate" and node.groupingExpressions().size():
                found.add("GROUP BY")
    if found:
        if any(k == "UnresolvedFunction" and (
                _fname(e) in _SUBSELECT_AGGS or _fname(e) in registry)
               for k, e in _expressions(from_node)):
            found.add("aggregates")
        for kind, what in _SUBSELECT_CLAUSES.items():
            if kind in found:
                raise CQError(f"subqueries in continuous views cannot "
                              f"contain {what}")
    return rels


def _from_span(node) -> tuple[int, int]:
    """``[start, stop)`` of a FROM item.  Spark dates a join from its
    JOIN keyword (a comma join from FROM), so a join starts where its
    left side does."""
    lo, hi = _span(node)
    if node.nodeName() == "Join":
        lo = _from_span(node.left())[0]
    return lo, hi


# ---------------------------------------------------------------------------
# GROUP BY
# ---------------------------------------------------------------------------

def _group_by(text: str, groups: list) -> tuple[list[str],
                                                list[list[str]] | None]:
    """(GROUP BY expression texts, grouping sets or None): Spark
    expands CUBE and ROLLUP to their sets."""
    if not any(g.nodeName() in ("GroupingSets", "Cube", "Rollup")
               for g in groups):
        return [_text(text, g) for g in groups], None
    if len(groups) != 1:
        raise CQError("GROUPING SETS, CUBE and ROLLUP can't be mixed "
                      "with other GROUP BY items")
    sets = [[_text(text, e) for e in _seq(s)]
            for s in _seq(groups[0].selectedGroupByExprs())]
    return list(dict.fromkeys(e for s in sets for e in s)), sets


# ---------------------------------------------------------------------------
# Main entry
# ---------------------------------------------------------------------------

_DATEPARTS = {"year", "month", "day", "hour", "minute", "second"}


def _create_edits(text: str, tree, exprs: list,
                  truncs: bool) -> list[tuple[int, int, str]]:
    """CREATE-time edits: ``output_of('cv')`` reads ``cv_osrel``
    (reference src/analyzer.c:776-828); with ``truncs``, bare
    ``year()``…``second()`` become the ``*_trunc`` TRUNCATION functions
    PipelineDB registers under those names (pipelinedb--1.0.0.sql:
    2590-2618) where Spark's builtins EXTRACT a field.  ``ctx.sql()``
    keeps Spark's meaning; a CQ extracts with ``extract``/``date_part``."""
    edits = []
    for kind, node in _plans(tree):
        if kind == "UnresolvedTableValuedFunction" and (
                cv := _output_of(node)) is not None:
            lo = _span(node)[0]
            hi = text.index(")", _span(node.functionArgs().apply(0))[1])
            edits.append((lo, hi + 1, f"{cv}_osrel"))
    for kind, e in exprs if truncs else []:
        if kind == "UnresolvedFunction" and (f := _fname(e)) in _DATEPARTS:
            lo = _span(e)[0]
            if text[lo:lo + len(f)].lower() == f:
                edits.append((lo, lo + len(f), f + "_trunc"))
    return edits


def analyze(sql: str, stream_names, parse: Callable,
            registry: AggRegistry = REGISTRY, sw: str | None = None,
            step_factor: float = 5.0, truncs: bool = False,
            rewrite: Callable | None = None) -> CQPlan:
    """The CQ ``sql`` over one of ``stream_names`` as a :class:`CQPlan`,
    read from the tree ``parse`` (the engine's SQL reader) returns.
    ``truncs`` applies the datepart rewrite (CREATE only: replay keeps
    a stored statement as stored); ``rewrite(tree, exprs)`` returns
    further ``(start, stop, new)`` edits.  The text parses once,
    and again only when an edit changed it."""
    text, distinct_on = pg_spellings(sql)
    tree = _parse_cq(parse, sql, text)
    exprs = _expressions(tree)
    edits = _create_edits(text, tree, exprs, truncs) + (
        rewrite(tree, exprs) if rewrite else [])
    if edits:
        sql = _splice(sql, edits)
        text, distinct_on = pg_spellings(sql)
        tree = _parse_cq(parse, sql, text)
        exprs = _expressions(tree)

    # the clause chain above the SELECT
    node, limit, offset, chain = tree, None, None, set()
    while (kind := node.nodeName()) in ("GlobalLimit", "LocalLimit",
                                        "Offset", "Distinct", "Sort",
                                        "UnresolvedHaving",
                                        "UnresolvedWith"):
        chain.add(kind)
        if kind == "GlobalLimit":
            limit = int(node.limitExpr().value())
        elif kind == "Offset":
            offset = int(node.offsetExpr().value())
        node = node.child()
    distinct = "Distinct" in chain
    if "UnresolvedHaving" in chain:
        raise CQError("continuous queries don't support HAVING clauses; "
                      "use a WHERE clause on the continuous view instead")
    if "Sort" in chain:
        raise CQError("continuous queries don't support ORDER BY")
    if "UnresolvedWith" in chain:
        raise CQError("continuous queries don't support CTEs")
    if any(k in ("WindowExpression", "UnresolvedWindowExpression")
           for k, _ in exprs):
        raise CQError("continuous queries don't support window functions")
    if kind == "Aggregate":
        items, groups = (_seq(node.aggregateExpressions()),
                         _seq(node.groupingExpressions()))
    elif kind == "Project":
        items, groups = _seq(node.projectList()), []
    else:
        raise CQError("continuous queries must be SELECT ... FROM ...")
    node = node.child()
    cond = None
    if node.nodeName() == "Filter":
        cond, node = node.condition(), node.child()
    if node.nodeName() == "OneRowRelation":
        raise CQError("continuous queries must be SELECT ... FROM ...")

    # select items + aliases
    raw_items: list[tuple[str, str | None, object, tuple]] = []
    for item in items:
        kind = item.nodeName()
        alias = item.name() if kind == "Alias" else None
        if kind in ("Alias", "UnresolvedAlias"):
            item = item.child()
            kind = item.nodeName()
        if kind == "UnresolvedStar":
            raise CQError("can't select \"*\" in continuous queries")
        lo, hi = _extent(item, kind)
        expr = text[lo:hi]
        if alias is None and expr.isidentifier():
            alias = expr
        if alias and alias.lower() in _RESERVED_COLS \
                and expr.lower() != alias.lower():
            # renaming an output to an internal/reserved name corrupts
            # the matrel (reference: 'arrival_timestamp is a reserved
            # column name', create_cont_view.out:694)
            raise CQError(f"{alias} is a reserved column name")
        raw_items.append((expr, alias, item, (lo, hi)))

    rels = _from_relations(node, registry)
    streams = list(dict.fromkeys(
        s for r in rels if (s := _named(stream_names, r)) is not None))
    if len(streams) == 0:
        raise CQError("continuous queries must include a stream in the FROM clause")
    if len(streams) > 1:
        raise CQError("continuous queries don't support stream-to-stream JOINs")
    stream = streams[0]
    lo, hi = _from_span(node)
    from_clause = text[lo:hi]

    sw_col, sw_secs, where = (_sliding_window(text, cond) if cond
                              else (None, None, None))
    if sw:  # WITH (sw='X') storage option (reference analyzer.c:1771-)
        if sw_col:
            raise CQError("sw option conflicts with sliding-window WHERE predicate")
        sw_col, sw_secs = "arrival_timestamp", parse_interval(sw)

    group_exprs, grouping_sets = _group_by(text, groups)
    if distinct:
        if group_exprs:
            raise CQError("SELECT DISTINCT with GROUP BY is not supported")
        group_exprs = [b for b, *_ in raw_items]

    # resolve GROUP BY ordinals / aliases to expressions
    def resolve_g(g: str) -> str:
        if g.isdigit():
            return raw_items[int(g) - 1][0]
        hit = next((b for b, a, *_ in raw_items if a == g and b != g), None)
        return hit if hit is not None else g

    group_exprs = [resolve_g(g) for g in group_exprs]
    if grouping_sets is not None:
        grouping_sets = [[resolve_g(g) for g in s] for s in grouping_sets]

    # hoist aggregates from each select item (two passes: the append-CV
    # decision needs to know whether ANY item aggregates)
    used: set[str] = set()
    extracted = [(b, a) + _hoist(text, body, extent, registry, used, a)
                 for b, a, body, extent in raw_items]
    append = (not any(calls for *_, calls in extracted)
              and not group_exprs and not distinct
              and grouping_sets is None)
    if append:
        # no aggregates anywhere: every projected event row
        # materializes (reference create_cont_view.sql cqcreate0-2).
        # All items become the matrel key; multiplicity rides a hidden
        # presence count, expanded back at read.
        group_exprs = [b for b, *_ in raw_items]
    norm_group = {_norm(g) for g in group_exprs}
    parsed_items: list[tuple[str, str]] = []
    all_aggs: list[AggCall] = []
    for body, alias, rewritten, calls in extracted:
        if calls:
            all_aggs.extend(calls)
            name = alias or calls[0].out
        else:
            if _norm(body) not in norm_group and not distinct:
                raise CQError(
                    f"column {body!r} must appear in the GROUP BY clause or "
                    f"be used in an aggregate function")
            name = alias or _column_name(body)
        parsed_items.append((rewritten, name))

    # matrel names for group exprs: reuse select alias when the group
    # expr textually matches a plain select item, else hidden _gN
    # (INTERNAL_COLNAME_PREFIX, reference src/analyzer.c:64).
    group_names = []
    for i, g in enumerate(group_exprs):
        hit = next((name for (body, *_), (rew, name)
                    in zip(raw_items, parsed_items)
                    if _norm(body) == _norm(g) and "{" not in rew), None)
        if hit is None and g.strip().isidentifier() \
                and g.strip() not in used:
            # a bare-identifier group expr keeps its own name even
            # without a matching plain select item, so select
            # expressions MIXING it with aggregates (e.g.
            # id + avg(id), reference pipeline_regress.sql:68-71)
            # resolve against the matrel
            hit = g.strip()
        group_names.append(hit if hit else f"_g{i}")

    step = None
    if sw_col is not None:
        if not group_exprs and not all_aggs:
            raise CQError("sliding windows require aggregation")
        step = max(1.0, sw_secs * step_factor / 100.0)

    return CQPlan(
        select_items=parsed_items,
        aggs=all_aggs,
        group_exprs=group_exprs,
        group_names=group_names,
        from_clause=from_clause,
        stream=stream,
        where=where,
        limit=limit,
        sw_column=sw_col,
        sw_seconds=sw_secs,
        sw_step_seconds=step,
        grouping_sets=grouping_sets,
        distinct_on=distinct_on,
        append=append,
        offset=offset,
        bare_stream=node.nodeName() == "UnresolvedRelation",
        sql=sql,
    )
