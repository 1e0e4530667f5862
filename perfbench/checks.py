"""Independent output checks for the benchmark, computed in plain
Python/numpy from the engine's persisted outputs and the generator's
truth. Each check returns a list of problems; empty means it passed."""

from __future__ import annotations

import numpy as np


def same_ids(what: str, got, want) -> list[str]:
    got, want = set(got), set(want)
    if got == want:
        return []
    extra, missing = sorted(got - want), sorted(want - got)
    return [f"{what}: {len(extra)} unexpected (e.g. {extra[:3]}), "
            f"{len(missing)} missing (e.g. {missing[:3]})"]


# -- dedup oracle -------------------------------------------------------


def _shingles(text: str, n: int) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def near_dup_clusters(texts: dict[str, str], n: int, threshold: float
                      ) -> dict[str, str]:
    """node -> cluster id (min member) over word-n-gram Jaccard pairs
    at ``>= threshold``; docs without a pair are absent."""
    sh = {i: _shingles(t, n) for i, t in texts.items()}
    postings: dict[str, list[str]] = {}
    for i, s in sh.items():
        for g in s:
            postings.setdefault(g, []).append(i)
    cand: set[tuple[str, str]] = set()
    for ids in postings.values():
        if len(ids) > 1:
            ids = sorted(ids)
            for a in range(len(ids)):
                for b in range(a + 1, len(ids)):
                    cand.add((ids[a], ids[b]))
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cand:
        inter = len(sh[a] & sh[b])
        union = len(sh[a]) + len(sh[b]) - inter
        if union and inter / union >= threshold:
            ra, rb = find(a), find(b)
            # the smaller root wins, so a root is its component's minimum
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def dedup_state(labels: dict[str, str], flags: dict[str, tuple[str, bool]],
                texts: dict[str, str], n: int, threshold: float) -> list[str]:
    """Labels equal the oracle's clusters; every live doc carries a flag
    with its cluster (singletons are their own cluster) and each
    cluster keeps exactly its minimum member."""
    want = near_dup_clusters(texts, n, threshold)
    problems = []
    if labels != want:
        bad = sorted(k for k in set(labels) | set(want)
                     if labels.get(k) != want.get(k))
        problems.append(f"dedup labels differ from the oracle on "
                        f"{len(bad)} docs (e.g. {bad[:3]})")
    problems += same_ids("dedup flags", flags, texts)
    keeps: dict[str, int] = {}
    for doc, (cluster, keep) in flags.items():
        if cluster != want.get(doc, doc):
            problems.append(f"dedup flag cluster of {doc} is {cluster}")
            break
        if keep:
            keeps[cluster] = keeps.get(cluster, 0) + 1
            if doc != cluster:
                problems.append(f"dedup keeps {doc}, not min member {cluster}")
                break
    clusters = {want.get(d, d) for d in texts}
    if any(keeps.get(c, 0) != 1 for c in clusters):
        problems.append("a dedup cluster does not have exactly one keep")
    return problems


# -- ANN oracle ---------------------------------------------------------


def exact_topk(ids: list[str], mat: np.ndarray, queries: np.ndarray, k: int
               ) -> list[list[tuple[str, float]]]:
    """Exact cosine top-k per query; cosines rounded to 4 digits before
    ranking and ties broken by id, the engine's serving contract."""
    nrm = np.sqrt((mat * mat).sum(axis=1))
    qn = np.sqrt((queries * queries).sum(axis=1))
    cos = (queries @ mat.T) / np.outer(qn, nrm)
    cos = np.floor(cos * 1e4 + 0.5) / 1e4
    order = np.array(ids)
    out = []
    for row in cos:
        idx = np.lexsort((order, -row))[:k]
        out.append([(ids[i], float(row[i])) for i in idx])
    return out


def topk_equal(got: list[list[tuple[str, float]]],
               want: list[list[tuple[str, float]]]) -> list[str]:
    """Result lists agree id for id; where they differ, the cosines
    must tie within one rounding step (a last-ulp difference between
    the engine's and numpy's dot products may flip a rounded tie)."""
    for q, (g, w) in enumerate(zip(got, want)):
        if [i for i, _ in g] == [i for i, _ in w]:
            continue
        gc = [c for _, c in g]
        wc = [c for _, c in w]
        if len(gc) != len(wc) or any(abs(a - b) > 1.5e-4 for a, b in zip(gc, wc)):
            return [f"ann top-k of query {q} differs from exact: "
                    f"{g[:3]} vs {w[:3]}"]
    if len(got) != len(want):
        return [f"ann answered {len(got)} queries, expected {len(want)}"]
    return []
