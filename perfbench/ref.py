"""Independent reference for every benchmark output, in numpy and plain Python.

Nothing here imports the engine. The rank references re-derive the graph from
the generated parquet rows with Python mirrors of the engine's documented
semantics (FIXTURES.md, SURVEY.md §2): host/URL un-reversal and validation,
trim, case-insensitive self-loop drop, ``#fragment`` strip with the "keep the
original list if the cleaned one is empty" guard, implicit vertices, the
float32-widened teleport, intended-semantics TrustRank and the
Abramowitz-Stegun erf used by the Normal-CDF normalisation. The corpus
references check exact-duplicate groups against the generator's planted
truth, components against a union-find, and Jaccard scores against exact set
arithmetic over the same pruned word 3-gram sets.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa

#: outputs must match the reference to this absolute tolerance: the
#: 6-decimal parity the repository's own DuckDB oracles hold
TOL = 1e-6

DAMPING = 0.85
TELEPORT = float(np.float32(1.0) - np.float32(DAMPING))
SCALE = 10.0
SIGMA_FLOOR = 1e-10
TRUST_EPS = 1e-3
JACCARD_N = 3
JACCARD_THRESHOLD = 0.5
JACCARD_MAX_DF = 100

_SCHEME = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://")
_HOSTPORT = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)")
_REST = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(.*)$")
_PORT = re.compile(r":([0-9]+)$")
_HEAD = re.compile(r"^([^/?#]*)")
_NON_WORD = re.compile(r"[^a-z0-9à-ÿ]+")


# --- URL / host functions (regexp_extract yields "" on no match) ----------


def _extract(rx: re.Pattern, s: str) -> str:
    m = rx.search(s)
    return m.group(1) if m else ""


def url_host(url: str) -> str:
    return _extract(_HOSTPORT, url).rsplit("@", 1)[-1].split(":")[0]


def url_is_valid(url: str | None) -> bool:
    if url is None:
        return False
    host = url_host(url)
    return _extract(_SCHEME, url) != "" and host != "" and "." in host


def host_is_valid(host: str | None) -> bool:
    return host is not None and url_is_valid("http://" + host)


def host_reverse(host: str) -> str:
    return ".".join(reversed(host.split(".")))


def url_unreverse(rev: str) -> str:
    head = _extract(_HEAD, rev)
    parts = head.split(":")
    port = parts[2] if len(parts) > 2 else ""
    return (
        parts[1] + "://" + host_reverse(parts[0]) + (":" + port if port else "")
        + rev[len(head):]
    )


def url_source_detect(key: str) -> str:
    dot, colon = key.find(".") + 1, key.find(":") + 1
    return url_unreverse(key) if 0 < dot < colon else key


def url_reverse(url: str) -> str:
    hostport = _extract(_HOSTPORT, url).rsplit("@", 1)[-1]
    port = _extract(_PORT, hostport)
    rest = _extract(_REST, url).split("#")[0]
    return (
        host_reverse(hostport.split(":")[0]) + ":" + _extract(_SCHEME, url)
        + (":" + port if port else "") + rest
    )


def _trim(s: str) -> str:
    return s.strip(" ")


# --- graph extraction -------------------------------------------------------


def _rows(table: pa.Table):
    return zip(
        table.column("row_key").to_pylist(),
        table.column("outlinks").to_pylist(),
        table.column("metadata").to_pylist(),
    )


def _edges(pairs) -> list[tuple[str, str]]:
    """Distinct pairs, in first-seen order."""
    return list(dict.fromkeys(pairs))


def host_graph(table: pa.Table):
    """(trust vertices {id: initial score}, edges) of a host mirror."""
    trust: dict[str, float] = {}
    pairs = []
    for key, links, meta in _rows(table):
        src = host_reverse(key)
        ok = host_is_valid(src)
        if ok:
            flag = dict(meta or []).get("_tf_")
            try:
                trust[src] = 1.0 if flag is not None and int(flag.strip()) == 1 else 0.0
            except ValueError:
                trust[src] = 0.0
        for k, _ in links or []:
            dst = _trim(k)
            if ok and host_is_valid(dst) and src.lower() != dst.lower():
                pairs.append((src, dst))
    return trust, _edges(pairs)


def webpage_graph(table: pa.Table):
    """(vertex ids, edges after the scan, edges after dedup_edges)."""
    ids = []
    pairs = []
    for key, links, _ in _rows(table):
        src = url_source_detect(key)
        ok = url_is_valid(src)
        if ok:
            ids.append(src)
        for k, _ in links or []:
            dst = _trim(k)
            if ok and url_is_valid(dst) and src.lower() != dst.lower():
                pairs.append((src, dst))
    edges = _edges(pairs)
    return ids, edges, dedup_edges(edges)


def dedup_edges(edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Target trim + fragment strip, self-loop drop against the trimmed
    source, distinct; a source left with no edge keeps its original ones."""
    cleaned = _edges(
        (s, d) for s, d in ((s, _trim(d).split("#")[0]) for s, d in edges)
        if _trim(s).lower() != d.lower()
    )
    kept = {s for s, _ in cleaned}
    return cleaned + [(s, d) for s, d in edges if s not in kept]


# --- rank loops -------------------------------------------------------------


def _index(vertices: dict[str, float], edges, default: float):
    ids = dict.fromkeys(vertices)
    for s, d in edges:
        ids.setdefault(s)
        ids.setdefault(d)
    pos = {v: i for i, v in enumerate(ids)}
    src = np.fromiter((pos[s] for s, _ in edges), np.int64, len(edges))
    dst = np.fromiter((pos[d] for _, d in edges), np.int64, len(edges))
    score = np.array([vertices.get(v, default) for v in ids], dtype=np.float64)
    return list(ids), src, dst, score


def rank(
    vertices: dict[str, float],
    edges: list[tuple[str, str]],
    updates: int,
    trust: bool = False,
) -> dict[str, float]:
    """Raw LinkRank (``trust=False``) or intended-semantics TrustRank scores
    after ``updates`` score updates, over vertices ∪ edge endpoints."""
    ids, src, dst, score = _index(vertices, edges, 0.0 if trust else 1.0)
    n = len(ids)
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    trusted = np.abs(score - 1.0) < TRUST_EPS
    n_trusted = int(trusted.sum())
    for _ in range(updates):
        msg = np.bincount(dst, weights=score[src] / outdeg[src], minlength=n)
        dmass = score[dangling].sum()
        if trust:
            share = np.where(trusted, dmass / n_trusted, 0.0) if n_trusted else 0.0
        else:
            share = dmass / n
        score = TELEPORT / n + DAMPING * (msg + share)
    return dict(zip(ids, score.tolist()))


def _erf(x: np.ndarray) -> np.ndarray:
    t = 1.0 / (1.0 + 0.3275911 * np.abs(x))
    poly = ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736) * t
            + 0.254829592) * t
    return np.where(x >= 0, 1.0, -1.0) * (1.0 - poly * np.exp(-(x * x)))


def normalize(scores: dict[str, float]) -> dict[str, float]:
    """Φ((ln s - μ) / σ_pop) · scale, with the A&S erf."""
    lx = np.log(np.array(list(scores.values())))
    mu, sigma = lx.mean(), lx.std()
    sigma = sigma if sigma != 0.0 else SIGMA_FLOOR
    out = 0.5 * (1.0 + _erf((lx - mu) / (sigma * math.sqrt(2.0)))) * SCALE
    return dict(zip(scores, out.tolist()))


def host_expected(table: pa.Table, updates: int) -> list[tuple[str, str, float]]:
    """Sink rows (row_key, qualifier, score) of host TrustRank."""
    trust, edges = host_graph(table)
    tr = normalize(rank(trust, edges, updates, trust=True))
    return sorted((host_reverse(v), "_tr_", s) for v, s in tr.items())


def webpage_expected(table: pa.Table, updates: int) -> list[tuple[str, str, float]]:
    ids, _, edges = webpage_graph(table)
    lr = normalize(rank(dict.fromkeys(ids, 1.0), edges, updates))
    return sorted((url_reverse(v), "_lr_", s) for v, s in lr.items())


def mirror_rows(table: pa.Table) -> list[tuple[str, str, float]]:
    """(row_key, qualifier, score) of a sink mirror read back from parquet."""
    out = []
    for key, meta in zip(table.column("row_key").to_pylist(), table.column("metadata").to_pylist()):
        for q, v in meta:
            out.append((key, q, float(v)))
    return sorted(out)


def compare_rows(got: list[tuple[str, str, float]], want: list[tuple[str, str, float]]) -> str | None:
    """None when both sorted row lists agree within TOL, else the first
    difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if g[:2] != w[:2] or not abs(g[2] - w[2]) <= TOL:
            return f"row {g} differs from expected {w}"
    return None


# --- corpus dedup -----------------------------------------------------------


def words(text: str) -> list[str]:
    """Lower-cased alphanumeric tokens, as the engine's ``words``."""
    return [w for w in _NON_WORD.sub(" ", text.lower()).strip(" ").split() if w]


def shingles(text: str, n: int = JACCARD_N) -> set[str]:
    ws = words(text)
    return {"_".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def union_find_labels(pairs) -> dict[int, int]:
    """Component label (smallest member) of every id in ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def jaccard_pairs(texts: dict[int, str]) -> dict[tuple[int, int], float]:
    """Every pair of ``texts`` whose Jaccard over shingle sets, with shingles
    in more than JACCARD_MAX_DF documents pruned, is >= the threshold."""
    sets = {i: shingles(t) for i, t in texts.items()}
    df = Counter(s for ss in sets.values() for s in ss)
    sets = {i: {s for s in ss if df[s] <= JACCARD_MAX_DF} for i, ss in sets.items()}
    postings = defaultdict(list)
    for i in sorted(sets):
        for s in sets[i]:
            postings[s].append(i)
    inter = Counter()
    for ids in postings.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                inter[(ids[x], ids[y])] += 1
    out = {}
    for (a, b), k in inter.items():
        union = len(sets[a]) + len(sets[b]) - k
        if 2 * k >= union:
            out[(a, b)] = k / union
    return out


def corpus_check(
    docs: pa.Table,
    truth: dict,
    exact: list[tuple[int, int]],
    candidates: list[tuple[int, int]],
    components: list[tuple[int, int]],
    verified: list[tuple[int, int, float]],
    keep: list[tuple[int, int]],
) -> tuple[str | None, dict]:
    """Check one dedup pass; returns (first failure or None, counts).

    exact: (n_docs, keep_id) rows of exact_dedup; candidates: LSH pairs;
    components: (id, component); verified: (id_a, id_b, jaccard);
    keep: (doc_id, cluster) rows of the sink."""
    ids = docs.column("doc_id").to_pylist()
    text = dict(zip(ids, docs.column("text").to_pylist()))
    groups = [sorted(g) for g in truth["exact_groups"]]
    in_group = {i for g in groups for i in g}
    want_exact = sorted([(len(g), g[0]) for g in groups] + [(1, i) for i in ids if i not in in_group])
    if sorted(exact) != want_exact:
        return "exact_dedup groups differ from the planted truth", {}
    survivors = {k for _, k in want_exact}
    for a, b in candidates:
        if not (a < b and a in survivors and b in survivors):
            return f"candidate pair {(a, b)} is not an ordered pair of survivors", {}
    labels = union_find_labels(candidates)
    if dict(components) != labels or len(components) != len(labels):
        return "components differ from a union-find over the candidate pairs", {}
    want_pairs = jaccard_pairs({i: text[i] for i in labels})
    got_pairs = {(a, b): j for a, b, j in verified}
    if len(got_pairs) != len(verified) or set(got_pairs) != set(want_pairs):
        return "verified pairs differ from exact Jaccard over the candidates", {}
    for p, j in got_pairs.items():
        if not abs(j - want_pairs[p]) <= 5e-7 + 1e-12:  # rounded to 6 decimals
            return f"pair {p} jaccard {j} != {want_pairs[p]}", {}
    dropped = {b for _, b in want_pairs}
    want_keep = sorted((i, labels.get(i, i)) for i in survivors - dropped)
    if sorted(keep) != want_keep:
        return "keep-set differs from survivors minus verified duplicates", {}
    # a planted near-duplicate pair, seen through exact dedup: each side
    # becomes its group's surviving id
    keep_of = {i: g[0] for g in groups for i in g}
    planted = {tuple(sorted((keep_of.get(a, a), keep_of.get(b, b)))) for a, b in truth["near_pairs"]}
    planted = {p for p in planted if p[0] != p[1]}
    found = sum(1 for p in planted if p in want_pairs)
    return None, {
        "candidate_pairs": len(candidates),
        "verified_pairs": len(verified),
        # share of LSH candidates that verify; verification also finds
        # pairs that are only linked through a component, so this is not
        # verified_pairs / candidate_pairs
        "lsh_precision": (
            len(set(candidates) & set(want_pairs)) / len(candidates) if candidates else 0.0
        ),
        "planted_recall": found / len(planted) if planted else 0.0,
    }
