"""Schema-reachability type pruning for iterative expansions.

An untyped var-length / shortest-path expansion (``-[*..k]->``) must, in
principle, consider every relationship type at every BFS level.  But when
the graph declares endpoint labels per relationship type
(``PropertyGraph.rel_endpoint_labels``), the *label topology* — a tiny
driver-side graph with one vertex per label and one edge per relationship
type — determines which types can possibly occur at each level of the
traversal.  Restricting each level's edge scan to those types means the
irrelevant type shards are never read at all.

This is the iterative-operator analog of what the reference's planner does
statically with label/type constraints feeding leaf-plan selection
(``compiler/planner/logical/steps/labelScanLeafPlanner.scala``,
selectivity via ``planner-spi/.../GraphStatistics.scala:27-65``): the
pattern ``(c:Customer)-[*..3]->(r:Region)`` over the TPC-H mapping prunes
to ``FROM_NATION`` at level 1 and ``IN_REGION`` at level 2 — the orders /
lineitem edge shards (>95% of the edge volume) are never scanned.  At
100 TB this is the difference between reading the full edge set per BFS
level and reading only the schema-relevant types.

Soundness contract (same as the scan-elision contract in
``cypher/translate.py``): a declared endpoint entry ``type -> (src, dst)``
guarantees each endpoint's label; an endpoint spec may be a single label,
a tuple of alternative labels (e.g. ``FROM_NATION: (("Customer",
"Supplier"), "Nation")``), or None (unconstrained — treated as "any
label", which disables pruning *through* that type but keeps it for the
rest).  Types with no entry at all are likewise treated as
any-label-to-any-label.  Writes that could break a guarantee already drop
the affected entries (``operators/writes.py``); label mutations outside
the shard keys (``PropertyGraph._extra_labels``) disable pruning entirely.
"""

from __future__ import annotations

from typing import FrozenSet, List, Optional, Sequence

from ..cypher import ast as A

_INF = 10 ** 9


def _norm(spec, universe: FrozenSet[str]) -> FrozenSet[str]:
    if spec is None:
        return universe
    if isinstance(spec, str):
        return frozenset([spec])
    return frozenset(spec)


def level_type_sets(
    graph,
    rp: "A.RelPat",
    start_labels: Optional[Sequence[str]],
    target_labels: Optional[Sequence[str]],
    max_len: int,
) -> Optional[List[FrozenSet[str]]]:
    """Type sets only (see :func:`level_all_sets`)."""
    all_ = level_all_sets(graph, rp, start_labels, target_labels, max_len)
    return None if all_ is None else all_[0]


def level_all_sets(
    graph,
    rp: "A.RelPat",
    start_labels: Optional[Sequence[str]],
    target_labels: Optional[Sequence[str]],
    max_len: int,
):
    """Per-level allowed relationship-type sets for a var-length BFS.

    Returns ``(sets, lefts, rights)`` where ``sets[k-1]`` = the set of
    relationship types that can occur at traversal level ``k`` (1-based)
    of a ``max_len``-level expansion in ``rp.direction``, starting from a
    node whose label is among ``start_labels`` (None = unknown) and —
    when ``target_labels`` is given — ending, at *some* level
    ``<= max_len``, on a node labeled among ``target_labels``.
    ``lefts[k-1]`` / ``rights[k-1]`` are the admissible label
    alternatives for the level's traversal-source / traversal-destination
    node (None = unconstrained) — consumed by multi-shard rel types
    (PropertyGraph.rel_shards) to prune the level's scan below type
    granularity (e.g. the last backward level of
    ``(c:Customer)-[*2..2]->(:Region)`` reads only FROM_NATION's
    customer shard).  Returns None when no pruning is possible (no
    declared topology, mutated labels) or no level shrinks at either
    granularity.

    Two constraints compose per level:
    - forward closure: the type's travel-source labels intersect the labels
      reachable after ``k-1`` steps;
    - remaining-budget distance: the type's travel-destination labels can
      still reach a target label within ``max_len - k`` further steps
      (label-graph BFS distance, driver-side, O(labels x types)).
    """
    meta = getattr(graph, "rel_endpoint_labels", {})
    if not meta or getattr(graph, "_extra_labels", None):
        return None
    considered = list(rp.types) if rp.types else sorted(graph.rel_frames)
    if rp.neg_types:
        considered = [t for t in considered if t not in rp.neg_types]
    universe = frozenset(graph.node_frames)
    # travel edges: (type, from-labels, to-labels) per traversal orientation
    edges = []
    for t in considered:
        s, d = meta.get(t) or (None, None)
        ss, dd = _norm(s, universe), _norm(d, universe)
        if rp.direction in ("out", "both"):
            edges.append((t, ss, dd))
        if rp.direction in ("in", "both"):
            edges.append((t, dd, ss))

    # label -> min #steps to reach a target label (BFS over reversed edges)
    dist = None
    if target_labels:
        dist = {l: 0 for l in target_labels}
        cur = set(target_labels)
        for dd_ in range(1, max_len + 1):
            nxt = {u for (t, fs, ts) in edges if ts & cur for u in fs}
            nxt -= set(dist)
            for u in nxt:
                dist[u] = dd_
            if not nxt:
                break
            cur = nxt

    reach: FrozenSet[str] = (
        frozenset(start_labels) if start_labels else universe)
    full = set(considered)
    sharded = any(t in getattr(graph, "rel_shards", {}) for t in considered)
    out: List[FrozenSet[str]] = []
    lefts: List[Optional[List[str]]] = []
    rights: List[Optional[List[str]]] = []
    pruned = False
    for k in range(1, max_len + 1):
        allowed = set()
        nxt: set = set()
        budget = max_len - k
        lefts.append(sorted(reach) if reach != universe else None)
        for t, fs, ts in edges:
            if not (fs & reach):
                continue
            if dist is not None and \
                    min((dist.get(l, _INF) for l in ts), default=_INF) > budget:
                continue
            allowed.add(t)
            nxt |= ts
        out.append(frozenset(allowed))
        # a destination label is admissible at level k iff it can still
        # reach a target label within the remaining budget (same argument
        # as the per-type dist filter, at label granularity)
        if dist is not None:
            adm = frozenset(l for l in nxt if dist.get(l, _INF) <= budget)
        else:
            adm = frozenset(nxt)
        rights.append(sorted(adm) if adm != universe else None)
        reach = frozenset(nxt)
        if allowed != full:
            pruned = True
    if not pruned and sharded:
        # type sets never shrank, but shard-level label pruning may still
        # bite (a sharded type allowed at every level with a constrained
        # endpoint)
        pruned = any(l is not None for l in lefts) \
            or any(r is not None for r in rights)
    return (out, lefts, rights) if pruned else None


def flipped(rp: "A.RelPat") -> "A.RelPat":
    """The same rel pattern traversed in the opposite direction (for
    backward BFS sides)."""
    import dataclasses

    d = {"out": "in", "in": "out", "both": "both"}[rp.direction]
    return dataclasses.replace(rp, direction=d)


def restricted_scans(tr, rp: "A.RelPat", all_sets, var: str, slim: bool,
                     depth: int, reverse: bool = False) -> Optional[List]:
    """Materialize per-level rel scans for ``all_sets`` — the
    ``(sets, lefts, rights)`` triple of :func:`level_all_sets` (None -> no
    pruning).

    A level whose allowed set is empty gets a ``limit(0)`` scan — the
    frontier is schema-dead from there on and Catalyst folds the empty
    joins away; correctness needs no special-casing.  Each scan's rel
    struct is aligned to the *unrestricted* scan's schema (missing property
    fields null-padded) so accumulated rel arrays type-check across
    levels.

    ``lefts`` / ``rights``: per-level traversal-source / -destination
    label alternatives for shard pruning.  With ``reverse=True`` the scan
    is built in ``rp``'s original orientation and column-swapped
    afterwards, so the traversal-left node is the original pattern-RIGHT
    side — the label sets swap accordingly."""
    if all_sets is None:
        return None
    sets, lefts, rights = all_sets
    import dataclasses

    from pyspark.sql import functions as F

    from .paths import _reverse_scan

    full_dt = tr._rel_scan(rp, var, slim=slim).schema[var].dataType
    scans = []
    cache: dict = {}
    for k in range(depth):
        key = sets[k] if k < len(sets) else frozenset()
        lv = lefts[k] if k < len(lefts) else None
        rv = rights[k] if k < len(rights) else None
        ckey = (key, tuple(lv) if lv else None, tuple(rv) if rv else None)
        if ckey not in cache:
            sub = dataclasses.replace(
                rp, types=sorted(key), neg_types=[])
            ll, rr = (rv, lv) if reverse else (lv, rv)
            scan = tr._rel_scan(sub, var, slim=slim,
                                left_labels=ll, right_labels=rr)
            if not key:
                scan = scan.limit(0)
            if scan.schema[var].dataType != full_dt:
                have = {f.name for f in scan.schema[var].dataType.fields}
                fields = [
                    (F.col(var).getField(f.name).cast(f.dataType)
                     if f.name in have
                     else F.lit(None).cast(f.dataType)).alias(f.name)
                    for f in full_dt.fields]
                scan = scan.select("__from", "__to",
                                   F.struct(*fields).alias(var))
            if reverse:
                scan = _reverse_scan(scan)
            cache[ckey] = scan
        scans.append(cache[ckey])
    return scans
