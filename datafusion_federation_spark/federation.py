"""The federation optimizer pass.

Port of the reference's signature rewrite: find the LARGEST sub-plans whose
table scans all belong to one federation provider, hand each to that
provider's optimizer, and replace it with an opaque federated leaf
(FederationOptimizerRule / optimize_plan_recursively — reference
datafusion-federation/src/optimizer/mod.rs:28-264; ScanResult lattice —
src/optimizer/scan_result.rs:7-58).

Nothing in Catalyst does this (DSv2 pushdown only targets a single scan);
it runs as a Python pre-pass over our plan IR before the Spark compiler
takes over (SURVEY.md §4, §7).
"""

from __future__ import annotations

import dataclasses
from collections import Counter
from typing import List, Optional, Tuple

from .expressions import (
    Col, Exists, Expr, InSubquery, OuterRef, ScalarSubquery, SetComparison,
    walk,
)
from .plans.nodes import (
    AsofJoin, Filter, Join, OneRow, Plan, Project, RecursiveRef,
    RemoteQueryNode, Scan, SubqueryAlias, walk_plan,
)
from .expressions import Star
from .sources.provider import FederationProvider, LocalSparkProvider

_LOCAL = LocalSparkProvider()
_SUBQUERIES = (Exists, InSubquery, ScalarSubquery, SetComparison)


class ScanResult:
    """Provider lattice: NONE ⊔ Distinct(p) ⊔ AMBIGUOUS
    (reference src/optimizer/scan_result.rs:7-58)."""

    NONE = "none"
    DISTINCT = "distinct"
    AMBIGUOUS = "ambiguous"

    def __init__(self, kind: str = NONE,
                 provider: Optional[FederationProvider] = None):
        self.kind = kind
        self.provider = provider

    @classmethod
    def none(cls): return cls(cls.NONE)

    @classmethod
    def distinct(cls, p): return cls(cls.DISTINCT, p)

    @classmethod
    def ambiguous(cls): return cls(cls.AMBIGUOUS)

    def merge(self, other: "ScanResult") -> "ScanResult":
        # Distinct(a) ⊔ Distinct(b != a) = Ambiguous (scan_result.rs:23-44)
        if self.kind == self.NONE:
            return other
        if other.kind == self.NONE:
            return self
        if self.kind == self.AMBIGUOUS or other.kind == self.AMBIGUOUS:
            return ScanResult.ambiguous()
        if self.provider == other.provider:
            return self
        return ScanResult.ambiguous()

    def is_distinct(self) -> bool:
        return self.kind == self.DISTINCT

    def is_ambiguous(self) -> bool:
        return self.kind == self.AMBIGUOUS

    def __repr__(self):
        return f"ScanResult({self.kind}, {self.provider})"


# ---------------------------------------------------------------------------
# provider discovery (scan_plan_recursively / scan_plan_exprs /
# scan_expr_recursively — reference src/optimizer/mod.rs:63-126)
# ---------------------------------------------------------------------------

def _visible_aliases(p: Plan) -> frozenset:
    """Relation qualifiers visible to expressions AT this plan's level
    in the generated SQL, lowercased (qualifier comparison is
    case-insensitive, matching sqlfront scope resolution and SQL
    engines): scan auto-aliases (the local table name) and derived-
    table aliases — a SubqueryAlias SHADOWS everything beneath it, so
    its subtree's names are NOT visible. Subquery plans hanging off
    expressions bind their OWN scopes, resolved level by level in
    _subquery_outer_ok."""
    out: set = set()

    def visit(n: Plan) -> None:
        if isinstance(n, SubqueryAlias):
            out.add(n.alias.lower())       # shadows its whole subtree
            return
        if isinstance(n, Scan):
            out.add(n.table.local_name.lower())
            return
        for i in n.inputs():
            visit(i)

    visit(p)
    return frozenset(out)


def _subquery_outer_ok(subplan: Plan, enclosing: frozenset) -> bool:
    """True iff every outer reference in `subplan` (at any nesting
    depth) is QUALIFIED and its qualifier resolves, SQL-lexically, to a
    scope inside the claim: depth-1 refs against `enclosing`, deeper
    refs against enclosing + the intermediate subquery scopes
    (comparisons lowercased). An unqualified OuterRef cannot be
    scope-checked (and a bare name in the rendered SQL would bind the
    INNERMOST scope — a self-join tautology), so it keeps the subquery
    out of the claim; the local compile path binds those explicitly and
    stays correct."""
    own = _visible_aliases(subplan)
    for node in walk_plan(subplan):
        for e in node.exprs():
            for x in walk(e):
                if isinstance(x, OuterRef):
                    qual = x.table.lower() if x.table else None
                    if not qual or qual in own or qual not in enclosing:
                        return False
                elif isinstance(x, (Exists, InSubquery, ScalarSubquery,
                                    SetComparison)):
                    if not _subquery_outer_ok(x.plan, enclosing | own):
                        return False
    return True


def scan_expr(e: Expr, enclosing: frozenset = frozenset(),
              outer_vetted: bool = False) -> ScanResult:
    """`enclosing` holds the aliases bound by the candidate claim the
    expression lives in. A subquery whose outer references all resolve
    within the claim (checked to full nesting depth by
    _subquery_outer_ok) joins the lattice — a same-provider correlated
    EXISTS/IN/scalar renders natively inside the one remote SQL; its
    inner OuterRefs are then scanned with `outer_vetted=True`. A
    subquery that would have to leave a referenced scope behind — or a
    bare OuterRef on an UNvetted path (the candidate is itself a
    correlated subquery root) — forces Ambiguous, the reference's
    posture (optimizer/mod.rs:114-120; its analyzer decorrelates first,
    so the collapse observable matches DataFusion+federation)."""
    res = ScanResult.none()
    for node in walk(e):
        if isinstance(node, (ScalarSubquery, SetComparison, Exists,
                             InSubquery)):
            if outer_vetted or _subquery_outer_ok(node.plan, enclosing):
                res = res.merge(
                    scan_plan(node.plan,
                              enclosing | _visible_aliases(node.plan),
                              outer_vetted=True))
            else:
                res = res.merge(ScanResult.ambiguous())
        elif isinstance(node, OuterRef) and not outer_vetted:
            res = res.merge(ScanResult.ambiguous())
    return res


def scan_plan(p: Plan, enclosing: Optional[frozenset] = None,
              outer_vetted: bool = False) -> ScanResult:
    if enclosing is None:
        enclosing = _visible_aliases(p)
    res = ScanResult.none()
    if isinstance(p, Scan):
        prov = p.table.provider or _LOCAL
        return ScanResult.distinct(prov)
    if isinstance(p, RemoteQueryNode):
        # already federated — double-federation guard
        # (optimizer/mod.rs:142-147)
        return ScanResult.ambiguous()
    if isinstance(p, OneRow):
        # constant one-row relation (FROM-less SELECT): local — claiming
        # it would make the unparser render a FROM-less branch per
        # dialect for zero pushdown benefit (there is nothing to push)
        return ScanResult.distinct(_LOCAL)
    from .plans.nodes import SeriesScan
    if isinstance(p, SeriesScan):
        # generated integer series (r9): a constant relation with no
        # provider — local like OneRow; siblings still claim
        return ScanResult.distinct(_LOCAL)
    if isinstance(p, RecursiveRef):
        # WITH RECURSIVE working table: only the local fixpoint loop can
        # bind it, so the recursive term (and everything above it) must
        # stay local; sibling subtrees inside base/step still federate
        # independently via the recursive optimizer pass
        return ScanResult.ambiguous()
    from .plans.nodes import Pivot, TableSample, Unpivot
    if isinstance(p, (Pivot, Unpivot)):
        # no unparser rendering (PIVOT/UNPIVOT spellings vary per
        # engine and Spark compiles them natively); the compiler owns
        # these nodes — children still claim individually, so the
        # pivoted input arrives as one remote read
        return ScanResult.ambiguous()
    if isinstance(p, TableSample):
        # deterministic hash-Bernoulli. r12: statically-typed inputs
        # never reach here — sqlfront lowers them to a plain Filter
        # whose md5 predicate claims into the remote SQL (sampling AT
        # the engine). This node survives only for unknown schemas /
        # render-unstable types (doubles, timestamps), where the
        # compiler owns it; the sampled input still federates as one
        # remote read
        return ScanResult.ambiguous()
    from .plans.nodes import LateralJoin
    if isinstance(p, LateralJoin):
        # the decorrelating compile owns this node. A CORRELATED body's
        # OuterRefs would force ambiguous via the generic walk anyway,
        # but an UNCORRELATED body over the same provider as the left
        # side would otherwise mark the whole node claimable — and the
        # unparser has no LATERAL rendering, so the claim would die
        # with an uncaught ValueError instead of degrading (review r7
        # s3 finding #1). Same posture as AsofJoin's dialect gate:
        # ambiguous here, children still claim individually.
        return ScanResult.ambiguous()
    for e in p.exprs():
        res = res.merge(scan_expr(e, enclosing, outer_vetted))
    for i in p.inputs():
        res = res.merge(scan_plan(i, enclosing, outer_vetted))
    if isinstance(p, AsofJoin) and res.is_distinct():
        # ASOF is claimable only by engines with native syntax; every
        # other dialect forces local (the window-op compile) rather
        # than a mis-rendered plain join. SQLProvider already carries
        # the resolved Dialect object — no per-visit lookup.
        d = getattr(res.provider, "dialect", None)
        if not getattr(d, "supports_asof_join", False):
            return ScanResult.ambiguous()
    return res


# ---------------------------------------------------------------------------
# the rewrite (optimize_plan_recursively — src/optimizer/mod.rs:134-264)
# ---------------------------------------------------------------------------

def federate(plan: Plan) -> Plan:
    """Entry point: push filters toward the scans (the reference's
    optimizer runs standard passes before the federation rule — without
    this a WHERE above a cross-provider join pulls whole remote
    tables), then replace maximal single-provider subtrees with
    RemoteQueryNode leaves; everything else stays for the Spark
    compiler."""
    from .optimizer import prune_scans, push_filters
    _reject_star_over_asof(plan)
    plan = push_filters(plan)
    plan = prune_scans(plan)
    new_plan, _ = _optimize_recursively(plan, is_root=True, memo={})
    return requalify(new_plan)


class AmbiguousFederatedColumn(ValueError):
    """A qualified reference above a federated join names a column that
    more than one of the join's inputs produce. The remote result has
    one column per input under that name and a single qualifier, so the
    reference cannot be told apart from its namesake."""


def absorbed_relations(plan: Plan) -> List[Tuple[str, Plan]]:
    """``(qualifier, relation)`` for each relation a claimed sub-plan
    absorbs whose qualifier stays visible above it, in output order: a
    derived-table alias or a scan's table name, seen through joins,
    filters and wrap_projection's SELECT-* shell. The compiler aliases
    the remote frame with the first; ``requalify`` points references
    to the others at it."""
    if isinstance(plan, SubqueryAlias):
        return [(plan.alias, plan)]
    if isinstance(plan, Scan):
        return [(plan.table.local_name, plan)]
    if isinstance(plan, (Join, Filter)) or _is_star_shell(plan):
        return [r for i in plan.inputs() for r in absorbed_relations(i)]
    return []


def _is_star_shell(p: Plan) -> bool:
    return (isinstance(p, Project) and len(p.projections) == 1
            and isinstance(p.projections[0], Star)
            and p.projections[0].table is None
            and not p.projections[0].replace
            and not p.projections[0].exclude)


def requalify(plan: Plan) -> Plan:
    """Re-point qualified column references above each claimed join.

    A claimed join absorbs one qualifier per input (``o`` and ``c`` in
    ``orders o JOIN customer c``), but its result is one DataFrame with
    one alias. Every reference to an absorbed qualifier in the scope
    that sees the join is rewritten to the alias the compiler applies;
    a name more than one input produces raises
    ``AmbiguousFederatedColumn``. Shared nodes stay shared."""
    if not any(isinstance(n, RemoteQueryNode)
               and len(absorbed_relations(n.plan)) > 1
               for n in walk_plan(plan)):
        return plan

    def node(old: Plan, new: Plan) -> Plan:
        targets = _absorbed_in_scope(old)
        if not targets:
            return new
        new = _map_exprs(new, lambda e: _repoint(e, targets))
        if isinstance(new, Project):
            new = dataclasses.replace(new, projections=[
                x for e in new.projections
                for x in _expand_star(e, targets)])
        return new

    return _rewrite_plan(plan, node)


def _rewrite_plan(plan: Plan, node) -> Plan:
    """Bottom-up plan rewrite: ``node(old, rebuilt)`` gives each node's
    replacement once its inputs are rewritten; shared nodes stay
    shared."""
    from .optimizer import _rebuild
    memo: dict = {}

    def go(p: Plan) -> Plan:
        hit = memo.get(id(p))
        if hit is None:
            hit = memo[id(p)] = node(
                p, _rebuild(p, [go(i) for i in p.inputs()]))
        return hit

    return go(plan)


def _absorbed_in_scope(p: Plan) -> dict:
    """Lowercased qualifier -> (alias the compiler applies, names more
    than one input produces, the qualifier's own columns or None) for
    every claimed join visible to the expressions of ``p``; a
    SubqueryAlias hides what is beneath it."""
    from .optimizer import _plan_cols
    out: dict = {}

    def visit(n: Plan) -> None:
        if isinstance(n, SubqueryAlias):
            return
        if isinstance(n, RemoteQueryNode):
            rels = absorbed_relations(n.plan)
            if len(rels) > 1:
                counts = Counter(c.lower() for _, r in rels
                                 for c in _plan_cols(r) or ())
                twice = {c for c, k in counts.items() if k > 1}
                for q, r in rels:
                    out[q.lower()] = (rels[0][0], twice, _plan_cols(r))
            return
        for i in n.inputs():
            visit(i)

    for i in p.inputs():
        visit(i)
    return out


def _repoint(e: Expr, targets: dict) -> Expr:
    if isinstance(e, _SUBQUERIES):
        # the subquery's correlated references point at this scope too
        e = dataclasses.replace(e, plan=_rewrite_plan(
            e.plan, lambda old, new: _map_exprs(
                new, lambda x: _repoint(x, targets)
                if isinstance(x, OuterRef) else x)))
        return _map_exprs(e, lambda x: _repoint(x, targets))
    if not (isinstance(e, (Col, OuterRef)) and e.table
            and e.table.lower() in targets):
        return e
    alias, twice, _ = targets[e.table.lower()]
    if e.name.lower() in twice:
        raise AmbiguousFederatedColumn(
            f"{e.table}.{e.name} is ambiguous above the federated join "
            f"of {sorted(targets)}: more than one input has a column "
            f"{e.name!r}; select it under a distinct alias inside the "
            "join's sources")
    return e if e.table == alias else type(e)(e.name, alias)


def _expand_star(e: Expr, targets: dict) -> List[Expr]:
    """``c.*`` over a claimed join: the columns ``c`` contributes, under
    the join's one alias (unchanged when they are not known)."""
    hit = (isinstance(e, Star) and e.table and not e.replace
           and not e.exclude and targets.get(e.table.lower()))
    if not hit or hit[2] is None:
        return [e]
    return [_repoint(Col(n, e.table), targets) for n in hit[2]]


def _map_exprs(p, fn):
    """Copy of the plan node or subquery expression ``p`` with every
    expression it holds rewritten top-down by ``fn`` (``fn`` returning
    a new node stops the descent there); plan inputs are left as they
    are."""
    from .compiler import _rewrite_expr
    updates = {}
    for f in dataclasses.fields(p):
        v = getattr(p, f.name)
        if isinstance(v, Expr):
            nv = _rewrite_expr(v, fn)
        elif isinstance(v, (list, tuple)) and any(
                isinstance(x, Expr) for x in v):
            nv = type(v)(_rewrite_expr(x, fn) if isinstance(x, Expr)
                         else x for x in v)
        else:
            continue
        updates[f.name] = nv
    return dataclasses.replace(p, **updates) if updates else p


def _reject_star_over_asof(plan: Plan) -> None:
    """SELECT * over an ASOF JOIN is refused BEFORE either arm runs:
    SQL's star expansion (all left+right columns) and the engine's
    documented asof output contract (left + suffixed right, no right
    keys) disagree, so the native-remote and local-window arms would
    return different shapes for the same query — the one thing this
    engine must never do (review r5, reproduced as a SchemaCastError
    on the federated arm and silent divergence on the local one)."""
    from .plans.nodes import Distinct, Filter, Limit, Sort, SubqueryAlias

    def _reaches_asof(node) -> bool:
        # transparent nodes pass the input schema through untouched, so
        # a star above any chain of them still expands the asof output
        # (ADVICE r5: 'SELECT * FROM a ASOF JOIN b WHERE ...' parses as
        # Project(Filter(AsofJoin)) and slipped past the direct check)
        while isinstance(node, (Filter, Sort, Limit, Distinct,
                                SubqueryAlias)):
            node = node.input
        return isinstance(node, AsofJoin)

    for node in walk_plan(plan):
        if (isinstance(node, Project)
                and _reaches_asof(node.input)
                and any(isinstance(e, Star) for e in node.projections)):
            raise NotImplementedError(
                "SELECT * over ASOF JOIN is not supported: the star "
                "expansion differs between native-remote and local "
                "execution; list the output columns explicitly "
                "(right-side columns unqualified, right timestamp as "
                "'<ts>_right')")


def _optimize_recursively(plan: Plan, is_root: bool,
                          memo: Optional[dict] = None) -> Tuple[Plan, bool]:
    """``memo`` maps id(node) -> (rewritten, changed) for the is_root=True
    walk so SHARED plan nodes (a WITH RECURSIVE CTE referenced twice
    resolves to ONE RecursiveCTE object) stay shared after federation
    rewrites — the compiler's id()-keyed fixpoint/static-reuse caches
    depend on it; without this a shared federated subtree splits into two
    node objects and its remote SQL executes once per mention (ADVICE r7;
    same class as optimizer._rebuild's r7 fix)."""
    if memo is None:
        memo = {}
    hit = memo.get(id(plan))
    if hit is not None:
        return hit

    from .plans.nodes import Analyze
    if isinstance(plan, Analyze):
        # EXPLAIN ANALYZE is never federated as a whole — the unparser
        # cannot emit it; only the inner query federates (reference
        # src/optimizer/mod.rs:194-209, test src/sql/mod.rs:772-818).
        new_input, changed = _optimize_recursively(plan.input, is_root=True,
                                                   memo=memo)
        out = (plan.with_inputs([new_input]) if changed else plan), changed
        memo[id(plan)] = out
        return out

    from .dialects import UnsupportedUnparse

    res = scan_plan(plan)

    if res.is_distinct() and res.provider.can_federate():
        if is_root:
            try:
                # whole plan belongs to one federatable provider
                out = _claim(res.provider, plan), True
                memo[id(plan)] = out
                return out
            except UnsupportedUnparse:
                # the dialect cannot express this plan's root operators
                # (e.g. * EXCEPT on an engine without the syntax and
                # unknown columns): fall through and federate the
                # largest subtrees the unparser CAN express — the
                # residue compiles locally. This mirrors DataFusion
                # only claiming plans its unparser supports.
                pass
        else:
            # not root: parent decides; signal "federatable as a whole".
            # (With the current call sites this branch is only reachable
            # via Analyze inputs — children are pre-checked by the parent
            # loop — but it keeps the recursion faithful to the
            # reference's shape.)
            return plan, False

    # mixed/ambiguous node: federate each maximal single-provider input
    new_inputs = []
    changed = False
    for child in plan.inputs():
        hit = memo.get(id(child))
        if hit is not None:
            new_inputs.append(hit[0])
            changed = changed or hit[1]
            continue
        child_res = scan_plan(child)
        if child_res.is_distinct() and child_res.provider.can_federate():
            try:
                claimed = _claim(child_res.provider, child)
                memo[id(child)] = (claimed, True)
                new_inputs.append(claimed)
                changed = True
                continue
            except UnsupportedUnparse:
                pass        # claim smaller pieces of this child instead
        new_child, ch = _optimize_recursively(child, is_root=True, memo=memo)
        new_inputs.append(new_child)
        changed = changed or ch
    # subquery expressions federate independently as their own roots
    # (optimize_plan_exprs — optimizer/mod.rs:266-305)
    _federate_subquery_exprs(plan)
    out = ((plan.with_inputs(new_inputs), True) if changed
           else (plan, False))
    memo[id(plan)] = out
    return out


def _federate_subquery_exprs(plan: Plan) -> None:
    """Each subquery-bearing expression's plan is federated independently
    as its own root (optimizer/mod.rs:285-305) — including EXISTS/IN:
    they stay LOCAL as predicates (ambiguous in the lattice), but the
    remote portions INSIDE them must still push down, or a
    'WHERE EXISTS (SELECT .. FROM remote WHERE f)' degrades to a
    whole-table remote read. Mutates in place."""
    for e in plan.exprs():
        for node in walk(e):
            if isinstance(node, (Exists, InSubquery, ScalarSubquery,
                                 SetComparison)):
                node.plan = federate(node.plan)


def _claim(provider: FederationProvider, plan: Plan) -> Plan:
    """Hand the subtree to the provider's optimizer. Non-Projection roots
    get wrapped in an all-columns projection first so the unparsed SQL has
    a SELECT list (wrap_projection — optimizer/mod.rs:341-358)."""
    plan = wrap_projection(plan)
    node = provider.claim(plan)
    if not isinstance(node, RemoteQueryNode):
        raise TypeError("provider.claim must return a RemoteQueryNode")
    return node


def wrap_projection(plan: Plan) -> Plan:
    from .plans.nodes import (
        Aggregate, Distinct, Limit, Project, Sort, Union, Window,
    )
    if isinstance(plan, (Project, Aggregate, Union, Distinct)):
        return plan
    if isinstance(plan, (Sort, Limit, Window)):
        return plan  # unparser emits SELECT * shells for these
    if isinstance(plan, Scan) and plan.projection:
        return plan
    return Project(plan, [Star()])


# ---------------------------------------------------------------------------
# per-table hook pipeline (reference src/sql/mod.rs:234-301)
# ---------------------------------------------------------------------------

def apply_table_hooks(plan: Plan):
    """Gather the TableHandles under `plan`, apply their logical optimizers
    (schema must not change — checked like src/sql/mod.rs:272-282), and
    return (plan, tables) for the SQL/AST rewriter stages."""
    from .expressions import _subquery_plans
    tables = []
    seen = set()
    stack = [plan]
    while stack:
        # walk_plan alone never descends into expression-embedded
        # subquery plans — a table appearing only inside a claimed
        # ScalarSubquery/EXISTS/IN/ANY would silently skip its hooks
        root = stack.pop()
        for n in walk_plan(root):
            for sub in _subquery_plans(n):
                stack.append(sub)
            if isinstance(n, Scan) and id(n.table) not in seen:
                seen.add(id(n.table))
                tables.append(n.table)
    for t in tables:
        opt = t.remote.logical_optimizer if t.remote is not None else None
        if opt is not None:
            before = _plan_signature(plan)
            plan = opt(plan)
            if _plan_signature(plan) != before:
                raise ValueError(
                    f"logical optimizer for {t.local_name} changed the plan "
                    "schema (hooks must be schema-stable)")
    return plan, tables


def _plan_signature(plan: Plan):
    """Cheap output signature: projection names of the root, if known."""
    from .plans.nodes import Project, Aggregate
    if isinstance(plan, Project):
        return tuple(e.output_name() for e in plan.projections)
    if isinstance(plan, Aggregate):
        return tuple(e.output_name() for e in
                     list(plan.group_by) + list(plan.aggregates))
    return type(plan).__name__
