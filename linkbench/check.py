"""Output checks for one linkage run against its generated corpus."""

from __future__ import annotations

from collections import Counter


def pairwise_f1(pred: list[object], truth: list[object]) -> float:
    """Exact pairwise F1 of a predicted clustering against the truth.

    Both lists label the same pages in the same order; a ``None`` truth
    label is a singleton. Counts every pair of pages, not a sample.
    """
    truth = [t if t is not None else ("singleton", i) for i, t in enumerate(truth)]

    def pairs(counts) -> int:
        return sum(n * (n - 1) // 2 for n in counts)

    tp = pairs(Counter(zip(pred, truth)).values())
    n_pred = pairs(Counter(pred).values())
    n_true = pairs(Counter(truth).values())
    if n_pred == 0 and n_true == 0:
        return 1.0
    return 2 * tp / (n_pred + n_true)


def check_clusters(
    rows: list[tuple[str, str]], urls: list[str], truth: list[object],
    min_f1: float = 0.99,
) -> tuple[list[str], float]:
    """→ (problems, pairwise F1) for ``(id, cluster_id)`` output rows.

    The output must have one row per input page, each cluster's id must
    be its minimum member id, and pairwise F1 must reach ``min_f1``.
    """
    problems = []
    cluster_of = dict(rows)
    if len(rows) != len(urls) or set(cluster_of) != set(urls):
        problems.append(
            f"{len(rows)} rows for {len(urls)} pages, "
            f"{len(set(cluster_of) ^ set(urls))} ids differ"
        )
        return problems, 0.0
    members: dict[str, str] = {}
    for page, cid in rows:
        members[cid] = min(members.get(cid, page), page)
    bad = [cid for cid, low in members.items() if cid != low]
    if bad:
        problems.append(f"{len(bad)} clusters not labelled by their minimum id")
    f1 = pairwise_f1([cluster_of[u] for u in urls], truth)
    if f1 < min_f1:
        problems.append(f"pairwise F1 {f1:.4f} < {min_f1}")
    return problems, f1
