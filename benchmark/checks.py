"""Checks of engine results against the ground truth ``gen.py`` planted.

Each check takes plain Python values (the engine's collected result and
the expected answer) and returns a list of error strings; an empty list
means the result is correct. ``selftest.py`` feeds every check a
deliberately wrong answer to prove it rejects it.
"""

from __future__ import annotations

import math

REL = 1e-9


def close(got, want, rel: float = REL) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if math.isnan(got) or math.isnan(want):
        return False
    return abs(got - want) <= rel * max(abs(want), 1e-300)


def introduce(got: dict, truth: dict) -> list[str]:
    """``got``: {metric: value} from the basic section of introduce()."""
    errs = []
    for metric in ("rows", "columns"):
        if got.get(metric) != truth[metric]:
            errs.append(f"introduce {metric}: {got.get(metric)} != {truth[metric]}")
    return errs


def describe(got: dict, truth: dict, stats=("count", "n_null", "min", "max", "mean")) -> list[str]:
    """``got``: {(column, statistic): value_num}; ``truth``: per column
    expected statistics (exact for counts, 1e-9 relative otherwise)."""
    errs = []
    for col, want in truth.items():
        for stat, value in want.items():
            if stat not in stats:
                continue
            g = got.get((col, stat))
            ok = g == value if stat in ("count", "n_null") else close(g, value)
            if not ok:
                errs.append(f"describe {col}.{stat}: {g!r} != {value!r}")
    return errs


def counts(what: str, got: dict, want: dict) -> list[str]:
    """Exact per-key counts; a key missing on one side counts as 0."""
    return [
        f"{what} {k}: {got.get(k, 0)} != {want.get(k, 0)}"
        for k in sorted(set(got) | set(want))
        if got.get(k, 0) != want.get(k, 0)
    ]


def equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: {got!r} != {want!r}"]


def at_least(what: str, got: float, floor: float) -> list[str]:
    return [] if got >= floor else [f"{what}: {got:.4f} < floor {floor}"]


def histogram(got: list[tuple], count: int, lo: float, hi: float, n_buckets: int) -> list[str]:
    """``got``: [(bucket, edge_lo, edge_hi, n)] of an equi-depth histogram."""
    errs = []
    total = sum(r[3] for r in got)
    if total != count:
        errs.append(f"histogram total {total} != {count}")
    if not 1 <= len(got) <= n_buckets:
        errs.append(f"histogram has {len(got)} buckets")
    if got and not (close(got[0][1], lo) and close(got[-1][2], hi)):
        errs.append(f"histogram edges {got[0][1]}..{got[-1][2]} != {lo}..{hi}")
    return errs


def moments(what: str, got: dict, want: dict) -> list[str]:
    """Finalized-profile row vs expected n, n_null, min, max, mean."""
    errs = []
    for k in ("n", "n_null"):
        if got.get(k) != want[k]:
            errs.append(f"{what} {k}: {got.get(k)} != {want[k]}")
    for k in ("min", "max", "mean"):
        if not close(got.get(k), want[k]):
            errs.append(f"{what} {k}: {got.get(k)!r} != {want[k]!r}")
    return errs


def topk(got: dict, truth: dict, k: int = 10) -> list[str]:
    """``got``: {query: [neighbor ids]} of an exact top-k. Each answer
    must hold k distinct non-self ids whose true cosine is at least the
    true k-th best (ties at float precision may swap)."""
    errs = []
    for q, t in truth.items():
        ids = got.get(q, [])
        if len(set(ids)) != k or q in ids:
            errs.append(f"topk query {q}: {len(set(ids))} ids {ids[:3]}...")
            continue
        worst = min(t["sims"][i] for i in ids)
        if worst < t["kth"] - 1e-6:
            errs.append(f"topk query {q}: neighbor cosine {worst} < {t['kth']}")
    for q in got:
        if q not in truth:
            errs.append(f"topk unexpected query {q}")
    return errs


def recall_at_k(got: dict, truth: dict) -> float:
    """Mean share of the exact top-k ids found by the approximate answer."""
    if not truth:
        return 0.0
    return sum(
        len(set(got.get(q, [])) & set(t["ids"])) / len(t["ids"])
        for q, t in truth.items()
    ) / len(truth)


def semantic(dropped: set, truth: list, floor: float) -> tuple[list[str], float]:
    """Every dropped row must be a planted copy; recall has a floor."""
    want = set(truth)
    wrong = sorted(dropped - want)
    errs = [f"semantic_dedup dropped unplanted ids {wrong[:5]}"] if wrong else []
    recall = len(dropped & want) / len(want) if want else 1.0
    return errs + at_least("semantic_dedup recall", recall, floor), recall


def pair_recall(clusters: dict, pairs: list) -> float:
    """Share of planted near-duplicate pairs placed in one cluster."""
    if not pairs:
        return 1.0
    hit = sum(1 for a, b in pairs
              if clusters.get(a) is not None and clusters.get(a) == clusters.get(b))
    return hit / len(pairs)


def media(got: dict, truth: dict) -> list[str]:
    """``got``: {id: (mime, valid, width, height)}."""
    errs = []
    for i, (kind, w, h) in truth.items():
        g = got.get(i)
        if g != (kind, True, w, h):
            errs.append(f"media {i}: {g} != {(kind, True, w, h)}")
    if len(got) != len(truth):
        errs.append(f"media rows {len(got)} != {len(truth)}")
    return errs[:10]
