"""Physical-plan audit: mechanical detection of 100 TB anti-patterns.

``.explain()`` discipline, automated: walk a DataFrame's executed
plan and report the shapes that kill jobs at scale long before they
kill them —

- **error** ``CartesianProduct``: an unkeyed join neither side of
  which is broadcastable; O(n*m) rows through one stage. Always a
  bug at fleet size (the engine's similarity operators exist
  precisely to avoid these).
- **error** ``BatchEvalPython``: a row-at-a-time Python UDF in the
  plan — 10-100x slower than Arrow-vectorized exchange. The engine
  permits Python only through Arrow (``ArrowEvalPython``,
  ``mapInPandas``/``FlatMapGroupsInPandas``), which audit as info.
- **warn** ``BroadcastNestedLoopJoin``: legitimate when one side is
  deliberately tiny (ANN query fan-out does this on a handful of
  probe rows); fatal when the "small" side merely *looked* small to
  the planner. Surfaced for review, not banned.
- **warn** ``Exchange SinglePartition``: a global window/limit/agg
  funneling everything through one task (the engine's two-phase
  cumsum in ``operators/packing.py`` is the standard fix).
- **error** ``single_partition_window``: the subset of the above
  that is never acceptable unseen — a ``Window`` whose input arrives
  through an ``Exchange SinglePartition`` NOT fed by a limit
  (``TakeOrderedAndProject``/``GlobalLimit``/``CollectLimit``). A
  post-limit window runs over k rows (q117's top-k-then-rank shape);
  an unlimited one funnels the whole input through one task, which
  100x kills. Windows over a *bounded-grain aggregate* (day grain,
  char-bigram grain) also match this pattern mechanically — those
  queries declare the bounded grain via ``assert_scale_clean``'s
  ``allow`` set, so every exception is named and justified rather
  than silently tolerated.
- **info** hash-exchange count: not wrong, but the number to watch
  when a pipeline composes operators.

Usage: ``audit_plan(df)`` returns findings; ``assert_scale_clean``
raises on errors — tests run it over EVERY registered query, making
"no cartesian products, no row-Python anywhere in the engine" an
enforced invariant rather than a code-review hope.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

__all__ = ["Finding", "audit_plan", "assert_scale_clean"]


@dataclass(frozen=True)
class Finding:
    level: str  # "error" | "warn" | "info"
    code: str
    detail: str


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# tree-string parsing for the single_partition_window check: Spark's
# plan toString indents each level by 3 chars (":- ", "+- ", "   ");
# node name starts after the last "- " and may carry a codegen "*(N) "
# prefix. Good enough to recover (depth, name) per line — the only
# structure the check needs.
_NODE_RE = re.compile(r"^(?P<prefix>[\s:+-]*)(?:\*\(\d+\)\s*)?(?P<name>\w+)")
# reuse-resolution tag: present on both a ReusedExchange line and the
# real Exchange it reads, in AQE and non-AQE toString output alike
_PLAN_ID_RE = re.compile(r"\[plan_id=(\d+)\]")

# cardinality-bounding nodes: anything downstream of these is <= k
# rows by construction, so a single-partition window over them is the
# sanctioned top-k-then-rank shape
_BOUNDING = {
    "TakeOrderedAndProject",
    "GlobalLimit",
    "CollectLimit",
    "LocalLimit",
}
# narrow 1:1-or-filter pass-throughs we look through when walking from
# the exchange to the node that determines its input cardinality
_PASS_THROUGH = {
    "Project",
    "Filter",
    "Sort",
    "ColumnarToRow",
    "InputAdapter",
    "SerializeFromObject",
    "DeserializeToObject",
    "Coalesce",
    "WholeStageCodegen",
}


def _parse_tree(plan: str) -> list[tuple[int, str]]:
    nodes: list[tuple[int, str]] = []
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        if not m or not m.group("name"):
            continue
        depth = len(m.group("prefix")) // 3
        nodes.append((depth, m.group("name")))
    return nodes


def _unbounded_single_partition_windows(plan: str) -> int:
    """Count Window nodes whose input flows through an ``Exchange
    SinglePartition`` that is not fed (through narrow pass-throughs)
    by a limit node. Subquery sections parse as separate roots of the
    same line list, which is fine: depth comparison only ever walks
    *into* a subtree, never across section boundaries."""
    nodes = _parse_tree(plan)
    # recover which Exchange lines are SinglePartition (the name regex
    # drops the argument list, so re-scan raw lines in lockstep)
    raw = [
        ln
        for ln in plan.splitlines()
        if _NODE_RE.match(ln) and _NODE_RE.match(ln).group("name")
    ]

    def _bounded_below(ei: int) -> bool:
        # walk from the exchange through pass-throughs to the first
        # cardinality-determining node
        k = ei + 1
        ed = nodes[ei][0]
        while k < len(nodes) and nodes[k][0] > ed:
            nm = nodes[k][1]
            if nm in _BOUNDING:
                return True
            if nm in _PASS_THROUGH:
                k += 1
                continue
            return False  # first non-pass-through, non-limit node
        return False

    # A ReusedExchange is a leaf that re-reads another exchange's
    # shuffle output — it has no subtree of its own to walk. Both the
    # reuse line and the real exchange carry the same ``[plan_id=N]``
    # tag in every toString variant (AQE final plan and the
    # rule-based ReuseExchange path alike), so resolve the reuse to
    # ITS exchange and judge only that one. The all-real-exchanges
    # heuristic stays as the fallback for a tag-less plan string —
    # judging by every exchange false-positives on a plan with one
    # bounded reused window plus an unrelated unbounded single
    # partition elsewhere (r8 advice).
    real_single = [
        i
        for i, (_, name) in enumerate(nodes)
        if name == "Exchange" and "SinglePartition" in raw[i]
    ]
    exch_by_pid = {}
    for i in real_single:
        m = _PLAN_ID_RE.search(raw[i])
        if m:
            exch_by_pid[m.group(1)] = i
    reused_bounded_fallback = bool(real_single) and all(
        _bounded_below(i) for i in real_single
    )

    def _reused_bounded(ri: int) -> bool:
        m = _PLAN_ID_RE.search(raw[ri])
        if m and m.group(1) in exch_by_pid:
            return _bounded_below(exch_by_pid[m.group(1)])
        return reused_bounded_fallback

    bad = 0
    for i, (d, name) in enumerate(nodes):
        if name != "Window":
            continue
        # walk ONLY the pass-through chain directly beneath the
        # window (each pass-through has exactly one child, so the
        # chain is consecutive deeper lines). Stopping at the first
        # non-pass-through node keeps a single-partition exchange in
        # an unrelated join branch — below an intervening hash
        # exchange, join, or agg — from being attributed to this
        # window. A nested Window ends the chain too: it owns its own
        # partitioning and is audited by its own iteration.
        j = i + 1
        bounded = None
        while j < len(nodes) and nodes[j][0] > d:
            nm = nodes[j][1]
            if nm == "Exchange" and "SinglePartition" in raw[j]:
                bounded = _bounded_below(j)
                break
            if nm == "ReusedExchange" and "SinglePartition" in raw[j]:
                bounded = _reused_bounded(j)
                break
            if nm in _PASS_THROUGH:
                j += 1
                continue
            break  # non-pass-through: the window's input partitioning
            # is determined here, not by any deeper exchange
        if bounded is False:
            bad += 1
    return bad


def audit_plan(df: DataFrame) -> list[Finding]:
    plan = _plan_string(df)
    out: list[Finding] = []
    n_cart = plan.count("CartesianProduct")
    if n_cart:
        out.append(
            Finding(
                "error",
                "cartesian_product",
                f"{n_cart} CartesianProduct node(s): unkeyed join with "
                "no broadcastable side — O(n*m) at scale",
            )
        )
    n_rowpy = plan.count("BatchEvalPython")
    if n_rowpy:
        out.append(
            Finding(
                "error",
                "row_python_udf",
                f"{n_rowpy} BatchEvalPython node(s): row-at-a-time "
                "Python in the hot path — use Arrow (pandas_udf / "
                "mapInPandas) instead",
            )
        )
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    if n_bnlj:
        out.append(
            Finding(
                "warn",
                "broadcast_nested_loop",
                f"{n_bnlj} BroadcastNestedLoopJoin node(s): fine only "
                "if the broadcast side is genuinely tiny",
            )
        )
    n_single = plan.count("Exchange SinglePartition")
    if n_single:
        out.append(
            Finding(
                "warn",
                "single_partition_exchange",
                f"{n_single} Exchange SinglePartition node(s): global "
                "funnel through one task",
            )
        )
    n_spw = _unbounded_single_partition_windows(plan)
    if n_spw:
        out.append(
            Finding(
                "error",
                "single_partition_window",
                f"{n_spw} Window node(s) over an unlimited Exchange "
                "SinglePartition: the whole input funnels through one "
                "task — use orderBy().limit(k) before the window "
                "(TakeOrderedAndProject) or the two-phase "
                "global_cumsum; bounded-grain windows must be "
                "allowlisted per query",
            )
        )
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    out.append(
        Finding(
            "info", "hash_exchanges", f"{n_hash} hash exchange(s)"
        )
    )
    return out


def assert_scale_clean(df: DataFrame, allow: set[str] = frozenset()) -> None:
    """Raise if the plan contains error-level anti-patterns (minus
    explicitly allowed codes, for the rare audited exception)."""
    errors = [
        f
        for f in audit_plan(df)
        if f.level == "error" and f.code not in allow
    ]
    if errors:
        raise AssertionError(
            "; ".join(f"{f.code}: {f.detail}" for f in errors)
        )
