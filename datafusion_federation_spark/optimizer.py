"""Pre-federation logical optimization: filter pushdown.

The reference gets this for free — DataFusion's optimizer pushes filters
into scans BEFORE SQLFederationOptimizerRule claims subtrees, so a WHERE
above a cross-provider join still rides inside each provider's SQL
(reference optimizer pipeline order; src/optimizer/mod.rs registers the
federation rule after the standard passes). Our federation pass runs on
the raw plan IR, and a RemoteQueryNode executes its SQL eagerly at
compile time — Catalyst never gets a chance to push the filter — so
without this pass a SQL-front query like

    SELECT ... FROM duck_orders o JOIN lite_dim p ON ...
    WHERE o.o_totalprice > 50000

pulls the ENTIRE remote orders table. At 100 TB that is the difference
between shipping a filtered aggregate and shipping the fact table.

Conservative by construction: only provably-safe moves —
- split a Filter into AND-conjuncts;
- push a conjunct below an INNER/CROSS join to the single side whose
  output columns cover every referenced name (name must be unambiguous
  across sides, qualifier-aware);
- push through SubqueryAlias (stripping the alias qualifier) and
  through Project when every referenced name maps to a plain column;
- merge adjacent Filters.
A conjunct containing a subquery, window, aggregate, outer reference,
placeholder, or a nondeterministic function never moves.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from .expressions import (
    AggFunc, Alias, BinaryOp, Col, Exists, Expr, Func, InSubquery,
    OuterRef, Placeholder, ScalarSubquery, ScalarVariable, SetComparison,
    Star, WindowFunc, walk,
)
from .plans.nodes import (
    Filter, Join, Plan, Project, SubqueryAlias,
)

_NONDETERMINISTIC = {"rand", "random", "randn", "uuid", "shuffle",
                     "monotonically_increasing_id"}


def _conjuncts(e: Expr):
    from .compiler import _split_conjuncts
    return _split_conjuncts(e)


def _and_all(conjs: Sequence[Expr]) -> Expr:
    out = conjs[0]
    for c in conjs[1:]:
        out = BinaryOp("AND", out, c)
    return out


def _movable(e: Expr) -> bool:
    """A conjunct is movable iff relocating it cannot change results."""
    for x in walk(e):
        if isinstance(x, (Exists, InSubquery, ScalarSubquery,
                          SetComparison, WindowFunc, AggFunc, OuterRef,
                          Placeholder, ScalarVariable, Star)):
            return False
        if isinstance(x, Func) and x.name.lower() in _NONDETERMINISTIC:
            return False
    return True


def _refs(e: Expr) -> List[Col]:
    return [x for x in walk(e) if isinstance(x, Col)]


def _aliases_of(p: Plan) -> set:
    """Relation qualifiers a side answers to (its root alias plus scan
    local names), lowercased."""
    from .plans.nodes import Scan, walk_plan
    names = set()
    if isinstance(p, SubqueryAlias):
        # an alias SHADOWS the names beneath it
        return {p.alias.lower()}
    for n in walk_plan(p):
        if isinstance(n, Scan):
            names.add(n.table.local_name.lower())
        elif isinstance(n, SubqueryAlias):
            names.add(n.alias.lower())
    return names


def _side_covers(refs: Sequence[Col], cols: Optional[Sequence[str]],
                 own_aliases: set, other_cols: Optional[Sequence[str]],
                 other_aliases: set) -> bool:
    """Every referenced column resolves to THIS side and unambiguously
    so: qualified refs must name one of this side's relations; bare refs
    must exist here and — when the other side's columns are known — not
    exist there too."""
    if cols is None:
        return False
    colset = {c.lower() for c in cols}
    otherset = ({c.lower() for c in other_cols}
                if other_cols is not None else None)
    for r in refs:
        name = r.name.lower()
        if r.table is not None:
            q = r.table.lower()
            if q not in own_aliases:
                return False
            if q in other_aliases:
                return False        # qualifier ambiguous across sides
            if name not in colset:
                return False
            continue
        if name not in colset:
            return False
        if otherset is None or name in otherset:
            # unknown other side, or the name exists on both: ambiguous
            return False
    return True


def _rebuild(plan: Plan, new_inputs) -> Plan:
    """with_inputs that preserves node IDENTITY when nothing changed.
    Shared plan nodes (a WITH RECURSIVE CTE referenced twice resolves to
    ONE RecursiveCTE object) must stay shared through the optimizer
    passes — the compiler's id()-keyed fixpoint cache depends on it, and
    an unconditional rebuild would silently split the sharing and run
    the fixpoint once per mention (review r7 s3 finding #6)."""
    old = plan.inputs()
    if len(old) == len(new_inputs) and \
            all(n is o for n, o in zip(new_inputs, old)):
        return plan
    return plan.with_inputs(list(new_inputs))


def _find_shared_ids(plan: Plan) -> set:
    """ids of plan nodes reachable through MORE than one parent (a WITH
    [RECURSIVE] CTE referenced twice resolves to one shared object).
    These must keep a single identity through the rewrite passes — the
    compiler's id()-keyed fixpoint/static-reuse caches depend on it."""
    seen: set = set()
    shared: set = set()

    def go(p: Plan) -> None:
        if id(p) in seen:
            shared.add(id(p))
            return
        seen.add(id(p))
        for k in p.inputs():
            go(k)

    go(plan)
    return shared


def push_filters(plan: Plan, _memo: Optional[dict] = None) -> Plan:
    """Recursively push Filter conjuncts toward the scans. Returns a new
    plan; unknown node shapes pass through untouched (children still
    optimized). ``_memo`` (id -> (node, rewritten)) keeps shared nodes
    shared: the result depends only on the node, so two parents of one
    child must receive the SAME rewritten object (ADVICE r8 — without
    this a changed shared subtree splits into one copy per mention).

    The memo stores the KEYED NODE alongside its result (ADVICE r9):
    transient nodes built in ``_push_one`` are also memoized here, and
    if the value were the result alone, a transient key could be
    garbage-collected while its id stays in the memo — a later node
    allocated at the same address would get a stale hit and splice an
    unrelated subtree into the plan. Holding the node in the value
    pins its id for the memo's lifetime; the ``is`` check is
    belt-and-braces."""
    if _memo is None:
        _memo = {}
    hit = _memo.get(id(plan))
    if hit is not None and hit[0] is plan:
        return hit[1]
    out = _push_filters_node(plan, _memo)
    _memo[id(plan)] = (plan, out)
    return out


def _push_filters_node(plan: Plan, _memo: dict) -> Plan:
    # optimize children first so stacked filters cascade in one call
    kids = [push_filters(k, _memo) for k in plan.inputs()]
    if kids:
        plan = _rebuild(plan, kids)

    if not isinstance(plan, Filter):
        return plan

    conjs = list(_conjuncts(plan.predicate))
    target = plan.input
    kept: List[Expr] = []
    changed = False

    for c in conjs:
        if not _movable(c):
            kept.append(c)
            continue
        pushed = _push_one(target, c)
        if pushed is None:
            kept.append(c)
        else:
            target = pushed
            changed = True

    if not changed:
        return plan
    # re-run on the rewritten subtree so a conjunct pushed below a join
    # continues down through further joins/projects
    target = push_filters(target, _memo)
    if kept:
        return Filter(target, _and_all(kept))
    return target


def _push_one(p: Plan, c: Expr) -> Optional[Plan]:
    """Try to push conjunct `c` one level into `p`; None = cannot."""
    if isinstance(p, Filter):
        # merge into the existing filter (then both push further on the
        # caller's recursive pass)
        return Filter(p.input, BinaryOp("AND", p.predicate, c))

    if isinstance(p, SubqueryAlias):
        alias = p.alias.lower()
        inner_cols = _plan_cols(p.input)
        refs = _refs(c)
        for r in refs:
            if r.table is not None and r.table.lower() != alias:
                return None
            if inner_cols is not None and \
                    r.name.lower() not in {x.lower() for x in inner_cols}:
                return None
        if inner_cols is None:
            return None
        from .compiler import _rewrite_expr

        def strip(x: Expr) -> Expr:
            if isinstance(x, Col) and x.table is not None:
                return Col(x.name)
            return x

        return SubqueryAlias(Filter(p.input, _rewrite_expr(c, strip)),
                             p.alias)

    if isinstance(p, Project):
        # NEVER push below a projection computing window functions (or
        # stray aggregates): they aggregate over the projection's row
        # set, so filtering first changes their values — this is exactly
        # the QUALIFY evaluation order
        if any(isinstance(x, (WindowFunc, AggFunc))
               for e in p.projections for x in walk(e)):
            return None
        # push through only when every referenced name maps to a PLAIN
        # column of the input (alias-of-Col or passthrough Col); a lone
        # unqualified Star passes everything through unchanged
        from .federation import _is_star_shell
        if _is_star_shell(p):
            return Project(Filter(p.input, c), p.projections)
        mapping = {}
        for e in p.projections:
            if isinstance(e, Col):
                mapping[e.output_name().lower()] = e
            elif isinstance(e, Alias) and isinstance(e.expr, Col):
                mapping[e.name.lower()] = e.expr
        refs = _refs(c)
        if not all(r.table is None and r.name.lower() in mapping
                   for r in refs):
            return None
        from .compiler import _rewrite_expr

        def sub(x: Expr) -> Expr:
            if isinstance(x, Col) and x.table is None:
                return mapping[x.name.lower()]
            return x

        return Project(Filter(p.input, _rewrite_expr(c, sub)),
                       p.projections)

    if isinstance(p, Join) and p.how in ("inner", "cross"):
        refs = _refs(c)
        if not refs:
            return None
        lcols, rcols = _plan_cols(p.left), _plan_cols(p.right)
        la, ra = _aliases_of(p.left), _aliases_of(p.right)
        if _side_covers(refs, lcols, la, rcols, ra):
            return Join(Filter(p.left, c), p.right, p.how,
                        p.condition, p.using)
        if _side_covers(refs, rcols, ra, lcols, la):
            return Join(p.left, Filter(p.right, c), p.how,
                        p.condition, p.using)
        return None

    return None


def _plan_cols(p: Plan):
    """Output columns for PUSHDOWN coverage checks. Unlike the
    compiler's provenance-guard resolver (which answers None for Join —
    attributing a column to ONE side there would be wrong), the
    pushdown check needs the UNION of a join's sides: in a left-deep
    3-way join the top filter's conjuncts must see through the inner
    Join to reach their scans (r8: the q111 three-engine split exposed
    this — with None here, a WHERE over customer⋈nation⋈region pushed
    NOTHING and every engine got a whole-table read). Ambiguity stays
    safe: a name on BOTH sides of the top join is caught by the
    otherset check in _side_covers, and a name duplicated WITHIN one
    side fails the per-side check one level deeper, landing the
    conjunct above the inner join — still a correct placement."""
    from .compiler import _plan_output_cols
    from .plans.nodes import Filter as _F
    if isinstance(p, Join) and p.how in ("inner", "cross", "left",
                                         "right", "full"):
        left, right = _plan_cols(p.left), _plan_cols(p.right)
        if left is None or right is None:
            return None
        return list(left) + list(right)
    if isinstance(p, (SubqueryAlias, _F)):
        return _plan_cols(p.input)
    return _plan_output_cols(p)


# ---------------------------------------------------------------------------
# column pruning (the projection-pushdown half of the standard passes)
# ---------------------------------------------------------------------------

def prune_scans(plan: Plan, required: Optional[Sequence[str]] = None,
                _shared: Optional[set] = None,
                _memo: Optional[dict] = None) -> Plan:
    """Thread required-column sets top-down and set ``Scan.projection``
    wherever the set is fully determined — so a federated whole-table
    child ships `SELECT needed, cols` instead of `SELECT *`, and a local
    parquet scan prunes at the reader. A 100 TB fact table joined on two
    columns must not ship its full width.

    ``required=None`` means "everything / unknown" — the pass bails to
    None whenever any construct makes the set uncertain (Star
    projections, set operations' positional semantics, unknown side
    attribution in joins, expression subqueries), so pruning is only
    ever applied when provably safe. HOW a requirement is discharged:
    every referenced name in projections/predicates/keys joins the set
    flowing to children.

    A node referenced by MORE than one parent (shared CTE object) is
    pruned ONCE, conservatively (required=None — each mention may need
    different columns), and every mention receives the same rewritten
    object (ADVICE r8: per-mention rebuilds split shared nodes and
    defeat the compiler's id()-keyed caches)."""
    if _shared is None:
        _shared = _find_shared_ids(plan)
        _memo = {}
    is_shared = id(plan) in _shared
    if is_shared:
        hit = _memo.get(id(plan))
        if hit is not None:
            return hit
        required = None
    out = _prune_node(plan, required, _shared, _memo)
    if is_shared:
        _memo[id(plan)] = out
    return out


def _prune_node(plan: Plan, required, _shared: set, _memo: dict) -> Plan:
    req = (None if required is None
           else {c.lower() for c in required})

    def bare_refs(exprs: Sequence[Expr]):
        """Referenced column names; None if a Star makes them unknown."""
        out = set()
        for e in exprs:
            for x in walk(e):
                if isinstance(x, Star):
                    return None
                if isinstance(x, Col):
                    out.add(x.name.lower())
                if isinstance(x, (Exists, InSubquery, ScalarSubquery,
                                  SetComparison)):
                    # correlated refs inside reach parent columns we
                    # cannot attribute — give up on pruning this subtree
                    return None
        return out

    from .plans.nodes import (
        Aggregate, Distinct, Filter as _F, Limit, Scan, SetOp, Sort,
        Union, Window,
    )

    if isinstance(plan, Scan):
        if req is None or plan.projection:
            return plan
        cols = _plan_cols(plan)
        if cols is None:
            return plan
        keep = [c for c in cols if c.lower() in req]
        if not keep or len(keep) == len(cols):
            return plan
        return Scan(plan.table, projection=keep)

    if isinstance(plan, Project):
        below = bare_refs(plan.projections)
        return _rebuild(plan, [prune_scans(plan.input, below, _shared, _memo)])

    if isinstance(plan, _F):
        below = bare_refs([plan.predicate])
        if below is not None and req is not None:
            below = below | req
        elif req is None:
            below = None
        return _rebuild(plan, [prune_scans(plan.input, below, _shared, _memo)])

    if isinstance(plan, SubqueryAlias):
        return _rebuild(plan, [prune_scans(plan.input, req, _shared, _memo)])

    if isinstance(plan, Sort):
        below = bare_refs([k.expr for k in plan.keys])
        if below is not None and req is not None:
            below = below | req
        elif req is None:
            below = None
        return _rebuild(plan, [prune_scans(plan.input, below, _shared, _memo)])

    if isinstance(plan, Limit):
        return _rebuild(plan, [prune_scans(plan.inputs()[0], req, _shared, _memo)])

    if isinstance(plan, Distinct):
        # DISTINCT dedupes WHOLE rows: pruning below changes the row
        # multiplicities a parent projection sees — keep every column
        return _rebuild(plan, [prune_scans(plan.inputs()[0], None, _shared, _memo)])

    if isinstance(plan, Aggregate):
        from .expressions import Cube, GroupingSets, Rollup
        flat = []
        for g in plan.group_by:
            if isinstance(g, (Rollup, Cube)):
                flat.extend(g.exprs)
            elif isinstance(g, GroupingSets):
                for s in g.sets:
                    flat.extend(s)
            else:
                flat.append(g)
        extra = ([plan.having] if getattr(plan, "having", None) is not None
                 else [])
        below = bare_refs(list(flat) + list(plan.aggregates) + extra)
        return _rebuild(plan, [prune_scans(plan.input, below, _shared, _memo)])

    if isinstance(plan, Join):
        cond_refs = (bare_refs([plan.condition])
                     if plan.condition is not None
                     else set(plan.using or []))
        if cond_refs is None or req is None:
            l, r = None, None
        else:
            need = {c.lower() for c in cond_refs} | req
            lcols, rcols = _plan_cols(plan.left), _plan_cols(plan.right)
            if lcols is None or rcols is None:
                l, r = None, None
            else:
                lset = {c.lower() for c in lcols}
                rset = {c.lower() for c in rcols}
                # a name on both sides (USING keys, same-named equi
                # keys) is kept on BOTH — over-approximation is safe
                # for pruning, and bailing entirely would leave wide
                # tables unpruned for every USING join
                l = need & lset
                r = need & rset
        return _rebuild(plan, [prune_scans(plan.left, l, _shared, _memo),
                           prune_scans(plan.right, r, _shared, _memo)])

    if isinstance(plan, (Union, SetOp, Window)):
        # positional semantics / whole-row windows: no pruning below
        return _rebuild(plan,
                        [prune_scans(k, None, _shared, _memo) for k in plan.inputs()])

    from .plans.nodes import LateralJoin
    if isinstance(plan, LateralJoin):
        # the lateral BODY's projections under-state its needs: the
        # decorrelating compile widens them with correlation keys and
        # hidden sort columns AFTER this pass, so a Scan.projection set
        # here would have already dropped them. The body never
        # federates (its OuterRefs force local), and Catalyst prunes
        # local parquet scans on its own — so skip the body entirely
        # and prune only the (possibly federated) left input.
        return _rebuild(plan, [prune_scans(plan.left, None, _shared, _memo), plan.right])

    kids = [prune_scans(k, None, _shared, _memo) for k in plan.inputs()]
    return _rebuild(plan, kids) if kids else plan
