"""Output checks. Each returns a list of problems; an empty list means the
job's output is correct. Pure Python/numpy over collected rows, so the
self-tests can corrupt an output and see the check fail."""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np

from o2g_spark.kernels import geometry


def digest(rows) -> str:
    """Order-insensitive digest of a collection of tuples."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def check_repeat(what: str, ref, got) -> list[str]:
    return [] if ref == got else [f"{what} changed between jobs: {ref!r} -> {got!r}"]


def pip_expected(points, rings_by_zone) -> Counter:
    """(url, zone_id) rows for sampled points, by brute ray cast against
    every zone with no covers. ``points``: (url, lon, lat) tuples."""
    if not points:
        return Counter()
    urls = [p[0] for p in points]
    lon = np.array([p[1] for p in points], dtype=np.float64)
    lat = np.array([p[2] for p in points], dtype=np.float64)
    out: Counter = Counter()
    for zid, rings in rings_by_zone.items():
        inside = geometry.points_in_polygon(lon, lat, rings)
        for i in np.flatnonzero(inside):
            out[(urls[i], int(zid))] += 1
    return out


def check_pip(expected: Counter, got_rows) -> list[str]:
    """pip_join's rows for the sampled points must equal the brute
    answer row for row (a point in two zones is two rows)."""
    got = Counter((r[0], int(r[1])) for r in got_rows)
    if got == expected:
        return []
    missing = expected - got
    extra = got - expected
    return [
        f"pip sample: {sum(missing.values())} rows missing "
        f"(e.g. {sorted(missing)[:2]}), {sum(extra.values())} unexpected "
        f"(e.g. {sorted(extra)[:2]})"
    ]


def knn_expected(queries, targets, k: int) -> dict:
    """qid → [(tid, dist2)] of its k nearest targets by squared planar
    distance, ties broken by tid. ``queries``: (qid, lat, lon);
    ``targets``: (tid, lat, lon)."""
    tid = np.array([t[0] for t in targets], dtype=np.int64)
    tlat = np.array([t[1] for t in targets], dtype=np.float64)
    tlon = np.array([t[2] for t in targets], dtype=np.float64)
    out = {}
    for qid, lat, lon in queries:
        d2 = geometry.planar_dist2(lat, lon, tlat, tlon)
        order = np.lexsort((tid, d2))[:k]
        out[qid] = [(int(tid[i]), float(d2[i])) for i in order]
    return out


def check_knn(expected: dict, got_rows) -> list[str]:
    """``got_rows``: (qid, tid, dist2, knn_rank) for the sampled queries."""
    got: dict = {}
    for qid, t, d2, rank in got_rows:
        got.setdefault(qid, []).append((int(rank), int(t), float(d2)))
    problems = []
    for qid, want in expected.items():
        have = [(t, d2) for _, t, d2 in sorted(got.pop(qid, []))]
        if [t for t, _ in have] != [t for t, _ in want] or not np.allclose(
            [d for _, d in have], [d for _, d in want], rtol=1e-12, atol=0.0
        ):
            problems.append(f"knn {qid}: got {have}, want {want}")
    if got:
        problems.append(f"knn rows for {len(got)} unsampled queries")
    return problems[:5]


def check_pairs(what: str, expected_rows, got_rows) -> list[str]:
    """Near-dup pairs (id_a, id_b, jaccard) must match the twin's pairs,
    jaccard to 1e-6."""
    want = {(int(a), int(b)): float(j) for a, b, j in expected_rows}
    have = {(int(a), int(b)): float(j) for a, b, j in got_rows}
    if want.keys() != have.keys():
        return [
            f"{what}: {len(want.keys() - have.keys())} pairs missing, "
            f"{len(have.keys() - want.keys())} unexpected"
        ]
    bad = [p for p in want if abs(want[p] - have[p]) > 1e-6]
    return [f"{what}: jaccard differs on {len(bad)} pairs, e.g. {bad[:2]}"] if bad else []
