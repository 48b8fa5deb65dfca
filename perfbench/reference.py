"""Independent references for every timed operation.

Each ``check_*`` compares an engine result with a reference computed here in
numpy / plain Python from the generated inputs, and returns a list of
failure messages (empty when the result is correct). Point-in-polygon
references use ``kernel.region.Polygon.contains_points``; distances are a
brute force written out below.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import numpy as np


def xyz(lat_deg, lng_deg) -> np.ndarray:
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    return np.stack([np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng), np.sin(lat)], axis=-1)


def bbox_mask(lat, lng, verts_latlng, pad: float = 0.05) -> np.ndarray:
    """Points inside a padded lat/lng box around the vertices (all points
    when the box would cross the antimeridian)."""
    lo = verts_latlng.min(axis=0) - pad
    hi = verts_latlng.max(axis=0) + pad
    if lo[1] < -180.0 or hi[1] > 180.0:
        return np.ones(len(lat), dtype=bool)
    return (lat >= lo[0]) & (lat <= hi[0]) & (lng >= lo[1]) & (lng <= hi[1])


def pip_pairs(lat, lng, ids, polygons: dict, vertices: dict) -> set:
    """{(point_id, polygon_id)} for every contained point. ``polygons`` maps
    id -> kernel Polygon, ``vertices`` id -> (m, 2) lat/lng array."""
    pairs = set()
    for pid, poly in polygons.items():
        mask = bbox_mask(lat, lng, vertices[pid])
        p = xyz(lat[mask], lng[mask])
        inside = poly.contains_points(p[:, 0], p[:, 1], p[:, 2])
        pairs.update((int(i), pid) for i in ids[mask][inside])
    return pairs


def check_pip(got: list[tuple], expected: set) -> list[str]:
    got_set = set(got)
    out = []
    if len(got) != len(got_set):
        out.append(f"pip: {len(got) - len(got_set)} duplicate pairs")
    missing, extra = expected - got_set, got_set - expected
    if missing or extra:
        out.append(f"pip: {len(missing)} missing, {len(extra)} extra of {len(expected)} pairs")
    return out


def check_knn(got: list[tuple], index_ids, index_lat, index_lng, q_ids, q_lat, q_lng,
              k: int) -> list[str]:
    """``got`` rows are (query_id, rank, neighbor_id). Compares each query's
    ranked neighbour distances with a brute-force top-k over the index."""
    p = xyz(index_lat, index_lng)
    pos = {int(i): n for n, i in enumerate(index_ids)}
    by_q = defaultdict(list)
    for qid, rank, nid in got:
        by_q[int(qid)].append((int(rank), int(nid)))
    out = []
    for qid, la, ln in zip(q_ids, q_lat, q_lng):
        c = xyz(la, ln)
        d = ((p - c) ** 2).sum(axis=1)
        best = np.sort(d)[:k]
        rows = sorted(by_q.get(int(qid), []))
        nids = [nid for _, nid in rows]
        if [r for r, _ in rows] != list(range(1, len(best) + 1)) or len(set(nids)) != len(nids):
            out.append(f"knn: query {qid} has ranks {[r for r, _ in rows]}")
            continue
        got_d = np.array([d[pos[n]] for n in nids])
        if np.abs(got_d - best).max() > 1e-14 + 1e-9 * best.max():
            out.append(f"knn: query {qid} neighbours differ from brute force")
    return out


def edge_chord2(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared chord distance from point ``p`` to each great-circle arc
    a[j] -> b[j]: the foot of the perpendicular when it lies on the arc,
    else the nearer endpoint."""
    n = np.cross(a, b)
    n /= np.linalg.norm(n, axis=1, keepdims=True)
    foot = p - (n @ p)[:, None] * n
    foot /= np.linalg.norm(foot, axis=1, keepdims=True)
    on_arc = (np.einsum("ij,ij->i", np.cross(a, foot), n) >= 0) & (
        np.einsum("ij,ij->i", np.cross(foot, b), n) >= 0
    )
    d_end = np.minimum(((a - p) ** 2).sum(axis=1), ((b - p) ** 2).sum(axis=1))
    d_foot = ((foot - p) ** 2).sum(axis=1)
    return np.where(on_arc, np.minimum(d_foot, d_end), d_end)


def polygon_edges(vertices: dict) -> tuple[list[tuple], np.ndarray, np.ndarray]:
    """Edge keys (polygon_id, edge_id) and endpoints in xyz; edge e runs
    from vertex e to vertex e + 1 of the loop as written."""
    keys, a, b = [], [], []
    for pid, v in vertices.items():
        p = xyz(v[:, 0], v[:, 1])
        for e in range(len(p)):
            keys.append((pid, e))
            a.append(p[e])
            b.append(p[(e + 1) % len(p)])
    return keys, np.array(a), np.array(b)


def check_closest(got: list[tuple], vertices: dict, q_ids, q_lat, q_lng,
                  tol: float = 1e-12) -> list[str]:
    """``got`` rows are (query_id, shape_id, edge_id, chord2) for rank 1:
    the named edge must be at the brute-force minimum distance."""
    keys, a, b = polygon_edges(vertices)
    where = {k: n for n, k in enumerate(keys)}
    by_q = {int(r[0]): r for r in got}
    out = []
    for qid, la, ln in zip(q_ids, q_lat, q_lng):
        d = edge_chord2(xyz(la, ln), a, b)
        row = by_q.get(int(qid))
        if row is None:
            out.append(f"closest: query {qid} has no result")
            continue
        n = where.get((row[1], int(row[2])))
        if n is None or abs(d[n] - d.min()) > tol or abs(float(row[3]) - d.min()) > tol:
            out.append(f"closest: query {qid} got {row[1]}/{row[2]}, brute force is {keys[int(d.argmin())]}")
    if len(by_q) != len(got):
        out.append("closest: more than one rank-1 row per query")
    return out


def check_rollup(by_polygon: dict, expected: Counter) -> list[str]:
    """Rollup span totals per polygon (None = outside every polygon)."""
    if dict(by_polygon) != dict(expected):
        return [f"rollup: totals {sorted(by_polygon.items(), key=str)} != {sorted(expected.items(), key=str)}"]
    return []


def rows_digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows, key=repr)).encode()).hexdigest()


def alpha_words(text: str) -> list[str]:
    """The words the engine's dedup tokenizer keeps: lowercase a-z runs."""
    return re.sub("[^a-z ]", " ", text.lower()).split()


def check_exact(got: list[tuple], doc_ids, texts) -> list[str]:
    """``got`` rows are (id, group_size, canonical_id)."""
    groups = defaultdict(list)
    for i, t in zip(doc_ids, texts):
        groups[t.lower()].append(int(i))
    want = {}
    for members in groups.values():
        for i in members:
            want[i] = (len(members), min(members))
    have = {int(i): (int(s), int(c)) for i, s, c in got}
    if len(have) != len(got) or have != want:
        bad = sum(1 for i in want if have.get(i) != want[i])
        return [f"exact: {bad} of {len(want)} docs have the wrong group"]
    return []


def check_clusters(got: list[tuple], doc_ids, texts) -> list[str]:
    """``got`` rows are (id, component): every doc exactly once, and exact
    copies with at least 3 alphabetic words share a component."""
    out = []
    comp = {}
    for i, c in got:
        if int(i) in comp:
            out.append(f"clusters: doc {i} has more than one component")
        comp[int(i)] = int(c)
    if set(comp) != {int(i) for i in doc_ids}:
        out.append(f"clusters: {len(comp)} docs assigned of {len(doc_ids)}")
        return out
    groups = defaultdict(set)
    for i, t in zip(doc_ids, texts):
        if len(alpha_words(t)) >= 3:
            groups[t.lower()].add(comp[int(i)])
    split = sum(1 for cs in groups.values() if len(cs) > 1)
    if split:
        out.append(f"clusters: {split} exact-copy groups split across components")
    return out
