"""Per-layer self time from recorded spans.

A span is (id, name, start, end, parent); its layer is the name up to
the first dot. The root span is named "run". The run's wall clock is
partitioned exactly: every instant goes to the deepest span active at
that instant (ties to the later-started one), and instants covered by
the root alone are "unattributed". For properly nested spans this is
the usual self time (duration minus the part its children cover); for
spans from concurrent threads it still sums to the wall, never more."""


def _parents(spans):
    """Parent of each span: the recorded parent, or (for parent 0, e.g.
    listener-derived or other-thread spans) the shortest span whose
    interval contains it; between spans with the same interval the
    earlier-recorded one is the parent. Returns {id: parent_id}; the
    root maps to None."""
    by_id = {s[0]: s for s in spans}
    root = next(s for s in spans if s[1] == "run")
    parent = {root[0]: None}
    for sid, _, st, en, p in spans:
        if sid == root[0]:
            continue
        if p and p in by_id:
            parent[sid] = p
            continue
        best = root
        for c in spans:
            if c[0] == sid or not (c[2] <= st and en <= c[3]):
                continue
            if (c[2], c[3]) == (st, en) and c[0] > sid:
                continue
            if (c[3] - c[2], -c[0]) < (best[3] - best[2], -best[0]):
                best = c
        parent[sid] = best[0]
    return parent


def _depths(spans, parent):
    depth = {}

    def d(i):
        if i not in depth:
            p = parent[i]
            depth[i] = 0 if p is None else d(p) + 1
        return depth[i]

    for s in spans:
        d(s[0])
    return depth


def self_times(spans):
    """({layer: self seconds}, unattributed seconds, wall seconds)."""
    root = next(s for s in spans if s[1] == "run")
    r0, r1 = root[2], root[3]
    parent = _parents(spans)
    depth = _depths(spans, parent)
    clipped = [(max(s[2], r0), min(s[3], r1), s) for s in spans if s[0] != root[0]]
    clipped = [c for c in clipped if c[1] > c[0]]
    cuts = sorted({r0, r1} | {c[0] for c in clipped} | {c[1] for c in clipped})
    # sweep the elementary intervals, keeping the active set sorted by
    # (depth, start) so the owner of each interval is its last element
    starts = sorted(clipped, key=lambda c: c[0])
    active = []
    layers = {}
    unattributed = 0
    k = 0
    for a, b in zip(cuts, cuts[1:]):
        while k < len(starts) and starts[k][0] <= a:
            active.append(starts[k])
            k += 1
        active = [c for c in active if c[1] > a]
        if not active:
            unattributed += b - a
            continue
        owner = max(active, key=lambda c: (depth[c[2][0]], c[2][2]))
        layer = owner[2][1].split(".", 1)[0]
        layers[layer] = layers.get(layer, 0) + (b - a)
    to_s = 1e-9
    return ({k: v * to_s for k, v in layers.items()},
            unattributed * to_s, (r1 - r0) * to_s)
