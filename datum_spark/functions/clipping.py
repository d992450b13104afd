"""Polygon boolean operations: intersection / union / difference / xor.

The reference's PostGIS users splice ``ST_Intersection`` / ``ST_Union``
/ ``ST_Difference`` / ``ST_Buffer`` into ``where=`` fragments and
``create_view`` SQL, delegated wholesale to the backend
(``/root/reference/datum/postgis/table.py:157-158``,
``database.py:108-111``).  This module is the computational core that
lets the engine answer those natively: the Martinez–Rueda–Feito
sweep-line algorithm ("A new algorithm for computing Boolean operations
on polygons", Martinez et al., Computers & Geosciences 2009 — the same
published algorithm behind the open-source martinez-polygon-clipping
library), handling arbitrary simple polygons, holes and multipolygons,
including the degenerate shared-edge cases via the overlap transition
types.

Pure Python on plain tuples — no Spark imports; the Spark layer wraps
these per-geometry functions in Arrow-batched pandas UDFs
(``geometry.py:register_overlay_ops``), the same embarrassingly-parallel
posture as ``st_simplify``: per-row compute, zero shuffle, cost is one
Arrow round-trip of the geometry column.

Representation: *multipolygon* = list of polygons; *polygon* = list of
rings (ring 0 exterior, rest holes); *ring* = list of (x, y) tuples,
closed (first == last).
"""

from __future__ import annotations

import heapq
import math
import re

INTERSECTION, UNION, DIFFERENCE, XOR = 0, 1, 2, 3

# edge annotation for collinear overlaps between subject and clipping
_NORMAL, _NON_CONTRIBUTING, _SAME_TRANSITION, _DIFFERENT_TRANSITION = \
    0, 1, 2, 3


def _signed_area(p0, p1, p2) -> float:
    """Twice the signed area of the triangle (p0, p1, p2)."""
    return ((p0[0] - p2[0]) * (p1[1] - p2[1])
            - (p1[0] - p2[0]) * (p0[1] - p2[1]))


class _SweepEvent:
    __slots__ = ("point", "left", "other", "is_subject", "type",
                 "in_out", "other_in_out", "result_transition",
                 "contour_id")

    def __init__(self, point, left, other, is_subject):
        self.point = point
        self.left = left
        self.other = other
        self.is_subject = is_subject
        self.type = _NORMAL
        self.in_out = False
        self.other_in_out = False
        self.result_transition = 0
        self.contour_id = 0

    def is_below(self, p) -> bool:
        if self.left:
            return _signed_area(self.point, self.other.point, p) > 0
        return _signed_area(self.other.point, self.point, p) > 0

    def is_above(self, p) -> bool:
        return not self.is_below(p)

    def is_vertical(self) -> bool:
        return self.point[0] == self.other.point[0]

    @property
    def in_result(self) -> bool:
        return self.result_transition != 0

    def __lt__(self, o) -> bool:          # heapq ordering
        return _compare_events(self, o) < 0


def _compare_events(e1: _SweepEvent, e2: _SweepEvent) -> int:
    """-1 → e1 is processed first (sweep moves left→right, bottom→top;
    at equal points right endpoints come before left ones, then the
    lower segment first)."""
    p1, p2 = e1.point, e2.point
    if p1[0] > p2[0]:
        return 1
    if p1[0] < p2[0]:
        return -1
    if p1[1] != p2[1]:
        return 1 if p1[1] > p2[1] else -1
    if e1.left != e2.left:
        return 1 if e1.left else -1
    if _signed_area(p1, e1.other.point, e2.other.point) != 0:
        return 1 if not e1.is_below(e2.other.point) else -1
    return 1 if (not e1.is_subject and e2.is_subject) else -1


def _compare_segments(le1: _SweepEvent, le2: _SweepEvent) -> int:
    """Sweep-line status order: -1 → le1 below le2 at the sweep."""
    if le1 is le2:
        return 0
    if (_signed_area(le1.point, le1.other.point, le2.point) != 0
            or _signed_area(le1.point, le1.other.point,
                            le2.other.point) != 0):
        # segments not collinear
        if le1.point == le2.point:
            return -1 if le1.is_below(le2.other.point) else 1
        if le1.point[0] == le2.point[0]:
            return -1 if le1.point[1] < le2.point[1] else 1
        if _compare_events(le1, le2) == 1:   # le2 was inserted first
            s = _signed_area(le2.point, le2.other.point, le1.point)
            if s == 0:
                # le1 STARTS exactly on le2 (vertex-on-edge touch):
                # order by where le1 CONTINUES — its right endpoint
                # against le2's supporting line (slope tie-break).
                # Without this, a segment rising off another's interior
                # sorted below it, corrupting every in/out flag above.
                s = _signed_area(le2.point, le2.other.point,
                                 le1.other.point)
            return 1 if s > 0 else -1
        s = _signed_area(le1.point, le1.other.point, le2.point)
        if s == 0:                           # le2 starts on le1: same fix
            s = _signed_area(le1.point, le1.other.point, le2.other.point)
        return -1 if s > 0 else 1
    # collinear
    if le1.is_subject == le2.is_subject:
        if le1.point == le2.point:
            if le1.other.point == le2.other.point:
                return 0
            return 1 if le1.contour_id > le2.contour_id else -1
    else:
        return -1 if le1.is_subject else 1
    return 1 if _compare_events(le1, le2) == 1 else -1


# -- segment intersection ----------------------------------------------------

def _cross(a, b):
    return a[0] * b[1] - a[1] * b[0]


def _seg_intersection(a1, a2, b1, b2):
    """0, 1 or 2 intersection points of segments [a1,a2] and [b1,b2]
    (2 = collinear overlap endpoints), or None."""
    va = (a2[0] - a1[0], a2[1] - a1[1])
    vb = (b2[0] - b1[0], b2[1] - b1[1])
    e = (b1[0] - a1[0], b1[1] - a1[1])
    kross = _cross(va, vb)
    la2 = va[0] * va[0] + va[1] * va[1]
    lb2 = vb[0] * vb[0] + vb[1] * vb[1]

    def to_point(p, s, d):
        return (p[0] + s * d[0], p[1] + s * d[1])

    # RELATIVE parallel test: the computed crossing of two segments at
    # angle θ carries error ~ ulp/sin(θ) — at θ < 1e-9 rad that error
    # reaches 1e-4 on unit-scale coordinates, far outside any endpoint
    # snap, and e.g. two near-collinear edges SHARING an endpoint get a
    # bogus interior "crossing".  |kross| > 1e-9 |va||vb| <=> θ > ~1e-9
    # rad; flatter pairs go through the collinear branch, whose
    # projection arithmetic is well-conditioned.
    if kross * kross > 1e-18 * la2 * lb2:
        # endpoint tolerance: a true tangency (segment endpoint exactly
        # on the other segment) computes s/t within a few ulp of 0 or 1
        # and must not be rejected as out-of-range — a missed division
        # leaves a vertex on a fragment's interior, breaking the
        # fragments-meet-only-at-endpoints invariant the reconstruction
        # relies on
        ptol = 1e-12
        s = _cross(e, vb) / kross
        if s < -ptol or s > 1 + ptol:
            return None
        t = _cross(e, va) / kross
        if t < -ptol or t > 1 + ptol:
            return None
        if s <= ptol:
            return [a1]
        if s >= 1 - ptol:
            return [a2]
        if t <= ptol:
            return [b1]
        if t >= 1 - ptol:
            return [b2]
        pt = to_point(a1, s, va)
        # snap to a coincident endpoint: a crossing that passes exactly
        # through a vertex computes parametrically to within a few ulp
        # of it (e.g. y = 7.999999999999999 at an exact corner), and the
        # phantom micro-segment it would create corrupts the topology
        for ep in (a1, a2, b1, b2):
            if (abs(pt[0] - ep[0]) <= 1e-9 * (abs(ep[0]) + 1.0)
                    and abs(pt[1] - ep[1]) <= 1e-9 * (abs(ep[1]) + 1.0)):
                return [ep]
        return [pt]
    # parallel: collinear?  (matching relative tolerance: an offset of
    # |e|·1e-9 off the shared line still counts as collinear — the same
    # scale the parallel test admits)
    ecross = _cross(e, va)
    le2 = e[0] * e[0] + e[1] * e[1]
    if ecross * ecross > 1e-18 * la2 * le2:
        return None
    sqr_len_a = la2
    if sqr_len_a == 0:
        return None
    ptol = 1e-12
    s0 = (va[0] * e[0] + va[1] * e[1]) / sqr_len_a
    s1 = s0 + (va[0] * vb[0] + va[1] * vb[1]) / sqr_len_a
    smin, smax = min(s0, s1), max(s0, s1)
    if smin > 1 + ptol or smax < -ptol:
        return None
    if smin >= 1 - ptol:
        return [a2]                       # touch at a's far endpoint
    if smax <= ptol:
        return [a1]                       # touch at a's near endpoint
    lo = to_point(a1, max(smin, 0.0), va)
    hi = to_point(a1, min(smax, 1.0), va)
    return [lo] if lo == hi else [lo, hi]


# -- sweep -------------------------------------------------------------------

def _divide_segment(se: _SweepEvent, p, queue) -> None:
    r = _SweepEvent(p, False, se, se.is_subject)
    left = _SweepEvent(p, True, se.other, se.is_subject)
    r.contour_id = left.contour_id = se.contour_id
    # rounding guard: the new left event must not sort after the old
    # right endpoint
    if _compare_events(left, se.other) > 0:
        se.other.left = True
        left.left = False
    se.other.other = left
    se.other = r
    heapq.heappush(queue, left)
    heapq.heappush(queue, r)


def _possible_intersection(se1: _SweepEvent, se2: _SweepEvent,
                           queue) -> int:
    inter = _seg_intersection(se1.point, se1.other.point,
                              se2.point, se2.other.point)
    n = 0 if inter is None else len(inter)
    if n == 0:
        return 0
    if n == 1 and (se1.point == se2.point
                   or se1.other.point == se2.other.point):
        return 0                          # touch at a shared endpoint
    if n == 2 and se1.is_subject == se2.is_subject:
        return 0                          # same-polygon overlap: ignore
    if n == 1:
        p = inter[0]
        if se1.point != p and se1.other.point != p:
            _divide_segment(se1, p, queue)
        if se2.point != p and se2.other.point != p:
            _divide_segment(se2, p, queue)
        return 1
    # collinear overlap between subject and clipping
    events = []
    left_coincide = right_coincide = False
    if se1.point == se2.point:
        left_coincide = True
    elif _compare_events(se1, se2) == 1:
        events.extend([se2, se1])
    else:
        events.extend([se1, se2])
    if se1.other.point == se2.other.point:
        right_coincide = True
    elif _compare_events(se1.other, se2.other) == 1:
        events.extend([se2.other, se1.other])
    else:
        events.extend([se1.other, se2.other])

    if (left_coincide and right_coincide) or left_coincide:
        # equal segments, or sharing the left endpoint
        se2.type = _NON_CONTRIBUTING
        se1.type = (_SAME_TRANSITION if se2.in_out == se1.in_out
                    else _DIFFERENT_TRANSITION)
        if left_coincide and not right_coincide:
            _divide_segment(events[1].other, events[0].point, queue)
        return 2
    if right_coincide:
        _divide_segment(events[0], events[1].point, queue)
        return 3
    if events[0] is not events[3].other:
        _divide_segment(events[0], events[1].point, queue)
        _divide_segment(events[1], events[2].point, queue)
        return 3
    # one segment fully contains the other
    _divide_segment(events[0], events[1].point, queue)
    _divide_segment(events[3].other, events[2].point, queue)
    return 3


def _in_result(event: _SweepEvent, operation: int) -> bool:
    t = event.type
    if t == _NORMAL:
        if operation == INTERSECTION:
            return not event.other_in_out
        if operation == UNION:
            return event.other_in_out
        if operation == DIFFERENCE:
            return ((event.is_subject and event.other_in_out)
                    or (not event.is_subject and not event.other_in_out))
        return True                       # XOR
    if t == _SAME_TRANSITION:
        return operation in (INTERSECTION, UNION)
    if t == _DIFFERENT_TRANSITION:
        return operation == DIFFERENCE
    return False                          # NON_CONTRIBUTING


def _compute_fields(event: _SweepEvent, prev: _SweepEvent | None,
                    operation: int) -> None:
    if prev is None:
        event.in_out = False
        event.other_in_out = True
    else:
        if event.is_subject == prev.is_subject:
            event.in_out = not prev.in_out
            event.other_in_out = prev.other_in_out
        else:
            event.in_out = not prev.other_in_out
            event.other_in_out = (not prev.in_out if prev.is_vertical()
                                  else prev.in_out)
    if _in_result(event, operation):
        this_in = not event.in_out
        that_in = not event.other_in_out
        if operation == INTERSECTION:
            is_in = this_in and that_in
        elif operation == UNION:
            is_in = this_in or that_in
        elif operation == XOR:
            is_in = this_in != that_in
        else:                              # DIFFERENCE
            is_in = (this_in and not that_in) if event.is_subject \
                else (that_in and not this_in)
        event.result_transition = 1 if is_in else -1
    else:
        event.result_transition = 0


def _fill_queue(subject, clipping):
    """Events for every edge of every ring; returns (heap, sbbox, cbbox)
    where bbox = [minx, miny, maxx, maxy]."""
    queue: list = []
    sbbox = [math.inf, math.inf, -math.inf, -math.inf]
    cbbox = [math.inf, math.inf, -math.inf, -math.inf]
    contour_id = 0
    for polys, is_subject, bbox in ((subject, True, sbbox),
                                    (clipping, False, cbbox)):
        for poly in polys:
            for ring in poly:
                contour_id += 1
                for i in range(len(ring) - 1):
                    p1 = (float(ring[i][0]), float(ring[i][1]))
                    p2 = (float(ring[i + 1][0]), float(ring[i + 1][1]))
                    if p1 == p2:
                        continue          # zero-length edge
                    e1 = _SweepEvent(p1, False, None, is_subject)
                    e2 = _SweepEvent(p2, False, e1, is_subject)
                    e1.other = e2
                    e1.contour_id = e2.contour_id = contour_id
                    if _compare_events(e1, e2) < 0:
                        e1.left = True
                    else:
                        e2.left = True
                    for x, y in (p1, p2):
                        bbox[0] = min(bbox[0], x)
                        bbox[1] = min(bbox[1], y)
                        bbox[2] = max(bbox[2], x)
                        bbox[3] = max(bbox[3], y)
                    heapq.heappush(queue, e1)
                    heapq.heappush(queue, e2)
    return queue, sbbox, cbbox


def _subdivide(queue, sbbox, cbbox, operation):
    """The sweep: returns all events in processed order with their
    result fields computed."""
    status: list[_SweepEvent] = []       # sorted by _compare_segments
    sorted_events: list[_SweepEvent] = []
    rightbound = min(sbbox[2], cbbox[2])
    while queue:
        event = heapq.heappop(queue)
        sorted_events.append(event)
        if ((operation == INTERSECTION and event.point[0] > rightbound)
                or (operation == DIFFERENCE
                    and event.point[0] > sbbox[2])):
            break
        if event.left:
            idx = 0
            while idx < len(status) \
                    and _compare_segments(event, status[idx]) > 0:
                idx += 1
            status.insert(idx, event)
            prev = status[idx - 1] if idx > 0 else None
            nxt = status[idx + 1] if idx + 1 < len(status) else None
            _compute_fields(event, prev, operation)
            if nxt is not None:
                if _possible_intersection(event, nxt, queue) == 2:
                    _compute_fields(event, prev, operation)
                    _compute_fields(nxt, event, operation)
            if prev is not None:
                if _possible_intersection(prev, event, queue) == 2:
                    pidx = status.index(prev)
                    prevprev = status[pidx - 1] if pidx > 0 else None
                    _compute_fields(prev, prevprev, operation)
                    _compute_fields(event, prev, operation)
        else:
            left = event.other
            try:
                idx = status.index(left)
            except ValueError:
                continue                  # already removed (degenerate)
            prev = status[idx - 1] if idx > 0 else None
            nxt = status[idx + 1] if idx + 1 < len(status) else None
            status.pop(idx)
            if prev is not None and nxt is not None:
                _possible_intersection(prev, nxt, queue)
    return sorted_events


def _pip_multipoly(pt, multipoly) -> bool:
    """Even-odd ray cast over every ring of a multipolygon."""
    x, y = pt
    cnt = 0
    for poly in multipoly:
        for ring in poly:
            for i in range(len(ring) - 1):
                (x1, y1), (x2, y2) = ring[i], ring[i + 1]
                if (y1 > y) != (y2 > y) \
                        and x < x1 + (x2 - x1) * (y - y1) / (y2 - y1):
                    cnt += 1
    return cnt % 2 == 1


def _ring_signed_area2(ring) -> float:
    s = 0.0
    for i in range(len(ring) - 1):
        s += ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
    return s


def _connect_edges(sorted_events, inside_op):
    """Rebuild result contours from the sweep's boundary-edge set.

    Martinez's original event-order walk can emit self-intersecting
    (pinched) rings when several result edges meet at one vertex (a
    long-standing weakness of that reconnection phase); the edge SET,
    however, is exactly the result boundary.  So instead: direct every
    edge with the result interior on its LEFT (the result_transition
    flag says whether the region above the edge is inside; vertical
    edges — where "above" is meaningless — are resolved by ε-sampling
    ``inside_op`` beside the midpoint), then trace faces by the
    standard planar-subdivision rule (at each vertex continue with the
    outgoing edge next CLOCKWISE from the reversed incoming direction).
    Edges only meet at endpoints (the sweep subdivided all crossings),
    so the traced faces are simple rings by construction: CCW =
    exterior, CW = hole.
    """
    def classify(p, q):
        """ε-sample both sides of the fragment's midpoint against the
        op-combined INPUT interiors: returns the interior-on-left
        directed edge, or None when both sides agree (not a result
        boundary).  Sound because fragments only meet other fragments
        at endpoints (the sweep subdivided every crossing), so the
        perpendicular offset stays on the fragment's own side for any
        feature wider than ~1e-9·coordinate."""
        mx, my = (p[0] + q[0]) / 2, (p[1] + q[1]) / 2
        dx, dy = q[0] - p[0], q[1] - p[1]
        norm = math.hypot(dx, dy)
        eps = 1e-9 * (abs(mx) + abs(my) + 1.0)
        left_in = inside_op((mx - eps * dy / norm, my + eps * dx / norm))
        right_in = inside_op((mx + eps * dy / norm, my - eps * dx / norm))
        if left_in == right_in:
            return None
        return (p, q) if left_in else (q, p)

    def direct_by_sample(p, q):
        d = classify(p, q)
        return d if d is not None else (p, q)

    # membership AND direction for EVERY fragment come from the
    # sampling (ground truth over the inputs), not the sweep's
    # transition flags: the flags mis-transition in rare degenerate
    # multi-event configurations (vertex-on-edge chains, collinear
    # contacts — measured ~0.04% of random integer-grid pairs), for
    # vertical and non-vertical edges alike, and a single wrong edge
    # corrupts the whole reconstruction.  The sweep's irreplaceable
    # job is the SUBDIVISION (fragments that only meet at endpoints —
    # exactly what makes the ε-sampling sound).
    edges = []
    seen = set()
    for e in sorted_events:
        if not e.left:
            continue
        p, q = e.point, e.other.point
        if p == q:
            continue
        key = (p, q) if p < q else (q, p)
        if key in seen:
            continue            # overlap duplicates: one boundary edge
        seen.add(key)
        d = classify(p, q)
        if d is not None:
            edges.append(d)

    # degree repair: a boundary traced interior-on-left has in-degree ==
    # out-degree at EVERY vertex.  The transition flags very rarely
    # mis-transition at a multi-event vertex (e.g. an edge passing
    # exactly through another polygon's corner), which shows up as a
    # degree imbalance — re-decide the incident edges by sampling.
    from collections import Counter

    for _ in range(3):
        outd: Counter = Counter()
        ind: Counter = Counter()
        for u, v in edges:
            outd[u] += 1
            ind[v] += 1
        bad = {v for v in set(outd) | set(ind) if outd[v] != ind[v]}
        if not bad:
            break
        for i, (u, v) in enumerate(edges):
            if u in bad or v in bad:
                edges[i] = direct_by_sample(u, v)

    out_at: dict = {}
    for i, (u, v) in enumerate(edges):
        out_at.setdefault(u, []).append(
            (math.atan2(v[1] - u[1], v[0] - u[0]), i))
    for lst in out_at.values():
        lst.sort()

    two_pi = 2 * math.pi
    used = [False] * len(edges)
    rings: list[list] = []
    for start in range(len(edges)):
        if used[start]:
            continue
        ring = [edges[start][0]]
        cur = start
        for _ in range(len(edges) + 1):           # hard bound
            used[cur] = True
            u, v = edges[cur]
            ring.append(v)
            if v == ring[0]:
                break
            ain = math.atan2(u[1] - v[1], u[0] - v[0])
            best_d, nxt = None, None
            for ang, j in out_at.get(v, ()):
                if used[j]:
                    continue
                d = (ain - ang) % two_pi
                if d == 0.0:
                    d = two_pi                   # straight back: last resort
                if best_d is None or d < best_d:
                    best_d, nxt = d, j
            if nxt is None:
                break                             # open chain: degenerate
            cur = nxt
        if len(ring) >= 4 and ring[0] == ring[-1]:
            rings.append(ring)
    return rings


def _assemble(rings):
    """Classify rings by orientation, attach holes to their smallest
    containing exterior, emit multipolygon structure (exterior first)."""
    exteriors, holes = [], []
    for ring in rings:
        a2 = _ring_signed_area2(ring)
        if a2 > 0:
            exteriors.append(ring)
        elif a2 < 0:
            holes.append(ring)
    polys = [[ext] for ext in exteriors]
    if holes and exteriors:
        areas = [abs(_ring_signed_area2(e)) for e in exteriors]
        for hole in holes:
            # sample a point just inside the hole's DISK (right-hand
            # side of the CW ring's first edge)
            (x1, y1), (x2, y2) = hole[0], hole[1]
            mx, my = (x1 + x2) / 2, (y1 + y2) / 2
            dx, dy = x2 - x1, y2 - y1
            norm = math.hypot(dx, dy) or 1.0
            eps = 1e-9 * (abs(mx) + abs(my) + 1.0)
            sample = (mx + eps * dy / norm, my - eps * dx / norm)
            best, best_area = None, None
            for i, ext in enumerate(exteriors):
                if _pip_multipoly(sample, [[ext]]) and \
                        (best_area is None or areas[i] < best_area):
                    best, best_area = i, areas[i]
            if best is not None:
                polys[best].append(hole)
            else:                                 # orphan: standalone
                polys.append([hole[::-1]])
    elif holes:                                   # all-CW degenerate input
        polys.extend([[h[::-1]]] for h in holes)
    return polys


def boolean_op(subject, clipping, operation):
    """Boolean operation over two multipolygons.  Returns a
    multipolygon: list of polygons, each ``[exterior, hole, ...]`` with
    closed rings."""
    s_empty = not subject or all(not p or not p[0] for p in subject)
    c_empty = not clipping or all(not p or not p[0] for p in clipping)
    if s_empty or c_empty:
        if operation == INTERSECTION:
            return []
        if operation == DIFFERENCE:
            return [] if s_empty else [list(p) for p in subject]
        return [list(p) for p in (clipping if s_empty else subject)]
    queue, sbbox, cbbox = _fill_queue(subject, clipping)
    if (sbbox[0] > cbbox[2] or cbbox[0] > sbbox[2]
            or sbbox[1] > cbbox[3] or cbbox[1] > sbbox[3]):
        # disjoint bounding boxes
        if operation == INTERSECTION:
            return []
        if operation == DIFFERENCE:
            return [list(p) for p in subject]
        return [list(p) for p in subject] + [list(p) for p in clipping]
    sorted_events = _subdivide(queue, sbbox, cbbox, operation)

    def inside_op(pt):
        in_s = _pip_multipoly(pt, subject)
        in_c = _pip_multipoly(pt, clipping)
        if operation == INTERSECTION:
            return in_s and in_c
        if operation == UNION:
            return in_s or in_c
        if operation == DIFFERENCE:
            return in_s and not in_c
        return in_s != in_c

    rings = _connect_edges(sorted_events, inside_op)
    return _assemble(rings)


# -- WKT plumbing -------------------------------------------------------------

_COORD_PAIR = re.compile(
    r"(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)\s+(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)")
_RING_RE = re.compile(r"\(([^()]+)\)")


def parse_wkt(wkt: str):
    """WKT → multipolygon (polygon/multipolygon types), list of closed
    linestrings (line types, each as a 'ring' that is NOT closed), or
    list of points.  Returns ``(kind, data)`` with kind in
    {'polygon', 'line', 'point', 'empty'}."""
    if wkt is None:
        return "empty", []
    head = wkt.strip().split("(", 1)[0].strip().upper().split()[0] \
        if wkt.strip() else ""
    if not head or "EMPTY" in wkt.upper():
        return "empty", []
    rings = [[(float(a), float(b)) for a, b in _COORD_PAIR.findall(body)]
             for body in _RING_RE.findall(wkt)]
    if head in ("POINT", "MULTIPOINT"):
        pts = [(float(a), float(b)) for a, b in _COORD_PAIR.findall(wkt)]
        return "point", pts
    if head in ("LINESTRING", "MULTILINESTRING"):
        return "line", rings
    if head == "POLYGON":
        return "polygon", [rings]
    if head == "MULTIPOLYGON":
        # group rings into parts by the ')),((' separators
        parts = re.split(r"\)\s*\)\s*,\s*\(\s*\(",
                         wkt[wkt.index("("):])
        polys = []
        idx = 0
        for part in parts:
            bodies = re.split(r"\)\s*,\s*\(", part.strip("() \t\n"))
            polys.append(rings[idx: idx + len(bodies)])
            idx += len(bodies)
        return "polygon", polys
    raise ValueError(f"unsupported geometry type for overlay: {head}")


def _fmt_num(x: float) -> str:
    s = repr(float(x))
    if "e" in s or "E" in s:
        from decimal import Decimal

        s = format(Decimal(s), "f")
    return s[:-2] if s.endswith(".0") else s


def to_wkt(multipoly) -> str:
    """Multipolygon structure → WKT (POLYGON when single-part)."""
    if not multipoly:
        return "POLYGON EMPTY"

    def ring_txt(ring):
        return "(" + ", ".join(f"{_fmt_num(x)} {_fmt_num(y)}"
                               for x, y in ring) + ")"

    parts = ["(" + ", ".join(ring_txt(r) for r in poly) + ")"
             for poly in multipoly]
    if len(parts) == 1:
        return "POLYGON " + parts[0]
    return "MULTIPOLYGON (" + ", ".join(parts) + ")"


def multipoly_area(multipoly) -> float:
    """Shoelace area; ring 0 adds, later rings (holes) subtract."""
    total = 0.0
    for poly in multipoly:
        for ri, ring in enumerate(poly):
            s = 0.0
            for i in range(len(ring) - 1):
                s += (ring[i][0] * ring[i + 1][1]
                      - ring[i + 1][0] * ring[i][1])
            total += abs(s) / 2 * (1 if ri == 0 else -1)
    return total


# -- buffer -------------------------------------------------------------------

def _circle_points(cx: float, cy: float, r: float, n: int):
    """n-gon on an ABSOLUTE angular grid (angles k·2π/n regardless of
    context) so adjacent capsules sharing a vertex produce EXACTLY equal
    circle vertices — their overlaps are clean equal-segment cases for
    the sweep instead of near-degenerate crossings."""
    return [(cx + r * math.cos(2 * math.pi * k / n),
             cy + r * math.sin(2 * math.pi * k / n)) for k in range(n)]


def _hull(points):
    """Monotone-chain convex hull, CCW, closed ring."""
    pts = sorted(set(points))
    if len(pts) == 1:
        return None

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return None
    return hull + [hull[0]]


def _capsule(p, q, r: float, n: int):
    """Discrete capsule around segment [p, q]: convex hull of the two
    absolute-grid circles — covers every point within distance r of the
    segment (to n-gon approximation)."""
    return _hull(_circle_points(p[0], p[1], r, n)
                 + _circle_points(q[0], q[1], r, n))


def _union_fold(pieces):
    """Tree-fold union of a list of multipolygons (balanced, so
    intermediate operands stay small)."""
    pieces = [p for p in pieces if p]
    if not pieces:
        return []
    while len(pieces) > 1:
        nxt = []
        for i in range(0, len(pieces) - 1, 2):
            nxt.append(boolean_op(pieces[i], pieces[i + 1], UNION))
        if len(pieces) % 2:
            nxt.append(pieces[-1])
        pieces = nxt
    return pieces[0]


def buffer_wkt(wkt: str, distance: float, quad_segs: int = 8) -> str | None:
    """ST_Buffer on WKT: points → discrete circles, lines → unions of
    segment capsules, polygons → polygon ∪ edge capsules (positive) or
    polygon ∖ edge capsules (negative erosion).  ``quad_segs`` segments
    per quarter circle (PostGIS default 8 → 32-gon circles)."""
    if wkt is None:
        return None
    n = max(4, 4 * int(quad_segs))
    kind, data = parse_wkt(wkt)
    if kind == "empty":
        return "POLYGON EMPTY"
    if distance == 0:
        return wkt if kind == "polygon" else "POLYGON EMPTY"
    if kind == "point":
        if distance < 0:
            return "POLYGON EMPTY"
        discs = [[[_hull(_circle_points(x, y, distance, n))]]
                 for x, y in data]
        discs = [d for d in discs if d[0][0] is not None]
        return to_wkt(_union_fold(discs))
    if kind == "line":
        if distance < 0:
            return "POLYGON EMPTY"
        caps = []
        for line in data:
            for i in range(len(line) - 1):
                c = _capsule(line[i], line[i + 1], distance, n)
                if c is not None:
                    caps.append([[c]])
        return to_wkt(_union_fold(caps))
    # polygon
    caps = []
    for poly in data:
        for ring in poly:
            for i in range(len(ring) - 1):
                if ring[i] == ring[i + 1]:
                    continue
                c = _capsule(ring[i], ring[i + 1], abs(distance), n)
                if c is not None:
                    caps.append([[c]])
    band = _union_fold(caps)
    if distance > 0:
        return to_wkt(boolean_op(data, band, UNION))
    return to_wkt(boolean_op(data, band, DIFFERENCE))


# -- line clipping ------------------------------------------------------------

def _clip_polyline(line, poly, keep_inside: bool):
    """Split one polyline at every polygon-boundary crossing and keep
    the pieces whose midpoint is inside (or outside) the multipolygon;
    boundary-riding pieces count as inside (ST_Intersection includes
    the boundary).  Returns a list of polylines (chains of contiguous
    kept pieces)."""
    edges = [(poly_ring[i], poly_ring[i + 1])
             for p in poly for poly_ring in p
             for i in range(len(poly_ring) - 1)]
    chains: list[list] = []
    cur: list | None = None
    for i in range(len(line) - 1):
        p, q = line[i], line[i + 1]
        if p == q:
            continue
        dx, dy = q[0] - p[0], q[1] - p[1]
        ts = {0.0, 1.0}
        for (b1, b2) in edges:
            inter = _seg_intersection(p, q, b1, b2)
            for pt in inter or ():
                if abs(dx) >= abs(dy):
                    t = (pt[0] - p[0]) / dx
                else:
                    t = (pt[1] - p[1]) / dy
                if 0.0 < t < 1.0:
                    ts.add(t)
        cuts = sorted(ts)
        for a, b in zip(cuts, cuts[1:]):
            if b - a <= 0:
                continue
            mx, my = p[0] + (a + b) / 2 * dx, p[1] + (a + b) / 2 * dy
            inside = _pip_multipoly((mx, my), poly) or \
                _on_boundary((mx, my), poly)
            if inside != keep_inside:
                cur = None
                continue
            pa = p if a == 0.0 else (p[0] + a * dx, p[1] + a * dy)
            pb = q if b == 1.0 else (p[0] + b * dx, p[1] + b * dy)
            if cur is not None and cur[-1] == pa:
                cur.append(pb)
            else:
                cur = [pa, pb]
                chains.append(cur)
    return [c for c in chains if len(c) >= 2]


def _on_boundary(pt, poly) -> bool:
    x, y = pt
    for p in poly:
        for ring in p:
            for i in range(len(ring) - 1):
                (x1, y1), (x2, y2) = ring[i], ring[i + 1]
                if ((x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) == 0
                        and min(x1, x2) <= x <= max(x1, x2)
                        and min(y1, y2) <= y <= max(y1, y2)):
                    return True
    return False


def _lines_to_wkt(lines) -> str:
    if not lines:
        return "LINESTRING EMPTY"

    def body(ln):
        return "(" + ", ".join(f"{_fmt_num(x)} {_fmt_num(y)}"
                               for x, y in ln) + ")"

    if len(lines) == 1:
        return "LINESTRING " + body(lines[0])
    return "MULTILINESTRING (" + ", ".join(body(ln) for ln in lines) + ")"


def clip_lines_wkt(line_wkt: str, poly_wkt: str,
                   keep_inside: bool = True) -> str | None:
    """ST_Intersection / ST_Difference of a LINESTRING(/MULTI) with a
    polygon: the line splits at boundary crossings and keeps the inside
    (or outside) pieces — street-segments × district, the 1-D overlay."""
    if line_wkt is None or poly_wkt is None:
        return None
    kind, lines = parse_wkt(line_wkt)
    pkind, poly = parse_wkt(poly_wkt)
    if kind == "empty" or pkind == "empty":
        return line_wkt if (not keep_inside and kind != "empty") \
            else "LINESTRING EMPTY"
    if kind != "line" or pkind != "polygon":
        raise ValueError("clip_lines_wkt needs (line, polygon) operands")
    out = []
    for ln in lines:
        out.extend(_clip_polyline(ln, poly, keep_inside))
    return _lines_to_wkt(out)


# -- per-geometry WKT entry points (the UDF cores) ----------------------------

_OPS = {"intersection": INTERSECTION, "union": UNION,
        "difference": DIFFERENCE, "symdifference": XOR}


def overlay_wkt(wa: str, wb: str, op: str) -> str | None:
    """Boolean overlay of two WKT geometries.  Polygon×polygon runs the
    full Martinez sweep; line×polygon intersection/difference clips the
    line at the boundary (PostGIS's 1-D overlay); other mixed-dimension
    combinations raise (buffer points/lines first for area semantics).
    Returns WKT ('POLYGON EMPTY'/'LINESTRING EMPTY' when empty);
    NULL in → NULL out."""
    if wa is None or wb is None:
        return None
    ka, da = parse_wkt(wa)
    kb, db = parse_wkt(wb)
    if ka == "line" and kb in ("polygon", "empty") \
            and op in ("intersection", "difference"):
        return clip_lines_wkt(wa, wb, keep_inside=(op == "intersection"))
    if kb == "line" and ka in ("polygon", "empty"):
        if op == "intersection":
            return clip_lines_wkt(wb, wa, keep_inside=True)
        if op == "difference":
            return wa            # removing a 1-D set leaves the area as-is
    if ka not in ("polygon", "empty") or kb not in ("polygon", "empty"):
        raise ValueError(
            f"st_{op} supports polygonal operands (plus line×polygon "
            f"intersection/difference); got {ka}/{kb} — buffer "
            "lines/points first (st_buffer)")
    return to_wkt(boolean_op(da, db, _OPS[op]))


# -- validity: ST_IsValid / ST_MakeValid --------------------------------------
#
# PostGIS delegation parity: the reference's users run
# ST_IsValid / ST_MakeValid inside where=/create_view SQL
# (/root/reference/datum/postgis/table.py:157-158).  MakeValid here is
# the GEOS "linework" method re-expressed on this module's primitives:
# node every ring against itself (split edges at self-intersections),
# extract the simple loops between repeated vertices, and XOR-fold the
# loops through the Martinez sweep — even-odd semantics, so a bowtie
# becomes two triangles, a spike vanishes, and a doubly-wound ring
# cancels.  Valid input round-trips unchanged (area-identical).


def _node_rings(rings):
    """Planar noding of a SET of rings: insert every intersection point
    — self-intersections within a ring AND crossings between rings —
    into each ring's vertex sequence.  O((ΣE)²) segment pairs:
    per-geometry work inside an Arrow batch, never a join.

    Intersection points are SNAPPED to a canonical representative
    (original vertices preferred, shared across all rings): the same
    crossing computed from two different edge pairs can differ in the
    last ulp, and an unsnapped pair would leave a micro-edge the loop
    extraction cannot close."""
    ring_pts = []
    for ring in rings:
        pts = [(float(x), float(y)) for x, y in ring]
        if pts and pts[0] != pts[-1]:
            pts.append(pts[0])
        ring_pts.append(pts)

    canon: list = list(dict.fromkeys(
        p for pts in ring_pts for p in pts))

    def snap(p):
        tol = 1e-9 * (abs(p[0]) + abs(p[1]) + 1.0)
        for q in canon:
            if abs(p[0] - q[0]) <= tol and abs(p[1] - q[1]) <= tol:
                return q
        canon.append(p)
        return p

    edges = [(ri, i) for ri, pts in enumerate(ring_pts)
             for i in range(len(pts) - 1)]
    splits: dict = {e: [] for e in edges}
    for ei in range(len(edges)):
        ra, ia = edges[ei]
        a1, a2 = ring_pts[ra][ia], ring_pts[ra][ia + 1]
        if a1 == a2:
            continue
        for ej in range(ei + 1, len(edges)):
            rb, ib = edges[ej]
            b1, b2 = ring_pts[rb][ib], ring_pts[rb][ib + 1]
            if b1 == b2:
                continue
            inter = _seg_intersection(a1, a2, b1, b2)
            if not inter:
                continue
            for p in inter:
                p = snap(p)
                if p != a1 and p != a2:
                    splits[edges[ei]].append(p)
                if p != b1 and p != b2:
                    splits[edges[ej]].append(p)
    out_rings = []
    for ri, pts in enumerate(ring_pts):
        out = []
        for i in range(len(pts) - 1):
            a1 = pts[i]
            out.append(a1)
            uniq = sorted(set(splits[(ri, i)]),
                          key=lambda p: (p[0] - a1[0]) ** 2
                                        + (p[1] - a1[1]) ** 2)
            out.extend(uniq)
        if pts:
            out.append(pts[0])
        out_rings.append(out)
    return out_rings


def _extract_simple_loops(noded):
    """Cut a noded closed vertex sequence into SIMPLE loops at repeated
    vertices (each loop visits no vertex twice).  Degenerate loops
    (< 3 distinct points or zero signed area — spikes) are dropped."""
    loops = []
    path: list = []
    index: dict = {}
    for p in noded[:-1] if noded else []:
        if p in index:
            i = index[p]
            loop = path[i:] + [p]
            for q in path[i + 1:]:
                index.pop(q, None)
            del path[i + 1:]
            if len(loop) >= 4:
                loops.append(loop)
        else:
            index[p] = len(path)
            path.append(p)
    if len(path) >= 3:
        loops.append(path + [path[0]])
    return [l for l in loops if _ring_signed_area2(l) != 0]


def make_valid_multipoly(multipoly):
    """Even-odd validity repair: every ring noded and split into simple
    loops, loops XOR-folded through the sweep.  Holes fall out of the
    fold (outer XOR hole = annulus); valid input reproduces itself."""
    all_rings = [ring for poly in multipoly for ring in poly]
    loops = []
    for noded in _node_rings(all_rings):
        loops.extend(_extract_simple_loops(noded))
    result: list = []
    for loop in loops:
        result = boolean_op(result, [[loop]], XOR) if result else [[loop]]
    # the face walk can emit a PINCHED ring where two faces meet at a
    # single shared vertex (the boundary passes through it twice); OGC
    # rings must be simple, so split such rings back into their loops
    # and re-nest holes
    rings, pinched = [], False
    for poly in result:
        for ring in poly:
            body = ring[:-1]
            if len(body) != len(set(body)):
                pinched = True
                rings.extend(_extract_simple_loops(list(ring)))
            else:
                rings.append(ring)
    if pinched:
        result = _assemble(rings)
    # drop MICRO-SLIVER parts/holes: XOR-folding loops that touch at a
    # sharp-angle vertex intersects nearly-parallel edges, whose
    # computed crossing is ill-conditioned (error ~ ulp/sin(angle));
    # the resulting noise faces are below 1e-9 of the geometry's bbox
    # area and can overlap a real face by the same noise margin
    xs = [p[0] for poly in multipoly for ring in poly for p in ring]
    ys = [p[1] for poly in multipoly for ring in poly for p in ring]
    if xs:
        bbox_area = (max(xs) - min(xs)) * (max(ys) - min(ys))
        tol = 1e-9 * max(bbox_area, 1e-300)
        cleaned = []
        for poly in result:
            if abs(_ring_signed_area2(poly[0])) / 2 <= tol:
                continue
            cleaned.append([poly[0]]
                           + [h for h in poly[1:]
                              if abs(_ring_signed_area2(h)) / 2 > tol])
        result = cleaned
    return result


def polygon_invalid_reason(multipoly) -> str | None:
    """None when valid, else why not.  Checks the OGC failure modes this
    engine can produce or repair: too-few-point / unclosed rings,
    repeated vertices, ring self-intersection, ring-ring crossing
    within a polygon, and a hole anchored outside its shell.  (Nested
    shells and fully-shared-boundary holes are not flagged — document
    gap vs full OGC, same tier as the DE-9IM notes.)"""
    for poly in multipoly:
        for ri, ring in enumerate(poly):
            pts = [(float(x), float(y)) for x, y in ring]
            closed = bool(pts) and pts[0] == pts[-1]
            body = pts[:-1] if closed else pts
            if len(body) < 3:
                return "too few points"
            if not closed:
                return "ring not closed"
            if len(set(body)) != len(body):
                return "repeated vertex"
            n = len(pts) - 1
            for i in range(n):
                for j in range(i + 1, n):
                    inter = _seg_intersection(pts[i], pts[i + 1],
                                              pts[j], pts[j + 1])
                    if not inter:
                        continue
                    if len(inter) == 2:
                        return "self-intersection (collinear overlap)"
                    p = inter[0]
                    shared = p in (pts[i], pts[i + 1]) \
                        and p in (pts[j], pts[j + 1])
                    if not shared:
                        return "self-intersection"
        # ring-ring interactions within one polygon
        for ri in range(len(poly)):
            for rj in range(ri + 1, len(poly)):
                a, b = poly[ri], poly[rj]
                for i in range(len(a) - 1):
                    ea = (tuple(map(float, a[i])),
                          tuple(map(float, a[i + 1])))
                    for j in range(len(b) - 1):
                        eb = (tuple(map(float, b[j])),
                              tuple(map(float, b[j + 1])))
                        inter = _seg_intersection(ea[0], ea[1],
                                                  eb[0], eb[1])
                        if not inter:
                            continue
                        if len(inter) == 2:
                            return "rings share a boundary segment"
                        # PROPER crossing only: interior to both edges.
                        # A vertex-on-edge or vertex-vertex touch is
                        # valid tangency (OGC allows point contact).
                        if inter[0] not in ea and inter[0] not in eb:
                            return "rings cross"
        shell_only = [[poly[0]]]          # multipoly: shell ring alone
        for hole in poly[1:]:
            p0 = (float(hole[0][0]), float(hole[0][1]))
            if not _pip_multipoly(p0, shell_only) \
                    and not _on_boundary(p0, shell_only):
                return "hole outside shell"
    # multipolygon parts: shells may touch at points but never cross or
    # share a boundary segment (nested/contained shells: documented gap)
    for pi in range(len(multipoly)):
        for pj in range(pi + 1, len(multipoly)):
            a, b = multipoly[pi][0], multipoly[pj][0]
            for i in range(len(a) - 1):
                ea = (tuple(map(float, a[i])), tuple(map(float, a[i + 1])))
                for j in range(len(b) - 1):
                    eb = (tuple(map(float, b[j])),
                          tuple(map(float, b[j + 1])))
                    inter = _seg_intersection(ea[0], ea[1], eb[0], eb[1])
                    if not inter:
                        continue
                    if len(inter) == 2:
                        return "shells share a boundary segment"
                    if inter[0] not in ea and inter[0] not in eb:
                        return "shells cross"
    return None


def is_valid_wkt(wkt: str):
    """(valid, reason) for a WKT geometry; points/lines are valid when
    parseable.  NULL in → (None, None)."""
    if wkt is None:
        return None, None
    try:
        kind, data = parse_wkt(wkt)
    except ValueError as exc:
        return False, str(exc)
    if kind != "polygon":
        return True, None
    reason = polygon_invalid_reason(data)
    return reason is None, reason


def make_valid_wkt(wkt: str) -> str | None:
    """ST_MakeValid: polygons repaired via the even-odd loop fold;
    already-valid geometry (points/lines) and types the parser does not
    model (e.g. GEOMETRYCOLLECTION) pass through unchanged — a bad row
    must not fail the whole job at scale."""
    if wkt is None:
        return None
    try:
        kind, data = parse_wkt(wkt)
    except ValueError:
        return wkt
    if kind != "polygon":
        return wkt
    if polygon_invalid_reason(data) is None:
        return wkt
    return to_wkt(make_valid_multipoly(data))
