"""Seeded input generators: the Nutch ``host`` and ``webpage`` mirrors and a
document corpus.

Each generator takes a seed and returns ``(table, truth)``: a pyarrow table
in the input schema the engine reads, and the planted facts the checker
needs that cannot be recomputed from the table alone (only the corpus has
any). The same seed gives the same rows, and ``write_parquet`` turns them
into the same bytes.

Schemas follow FIXTURES.md §2: the Nutch ``host`` and ``webpage`` mirrors are
``(row_key STRING, outlinks MAP<STRING,STRING>, metadata MAP<STRING,STRING>,
score_legacy DOUBLE)`` with rows in row-key order, as HBase stores them; the
corpus is ``(doc_id BIGINT, text STRING)``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INPUTS = ("host", "webpage", "corpus")

#: input sizes, chosen so a run (set-up plus three warm passes) fits
#: the benchmark's time budget on a 4-core box. Every graph's vertex state stays under the
#: engine's 64 MB broadcast limit (n * (avg id bytes + 48) in
#: ``linkrank._broadcast_rule``): crossing it needs ~1 GB of shuffle per pass,
#: which does not fit that budget.
SIZES = {
    "host": {"hosts": 4_000, "outlinks": 15, "trusted": 0.10},
    "webpage": {"pages": 5_000, "outlinks": 4, "unfetched": 0.78, "tracked": 0.25},
    "corpus": {"docs": 2_500, "vocab": 4_000, "exact": 0.10, "near": 0.20},
}

_TLDS = np.array(["com", "org", "net", "de", "co.uk", "io", "fr", "com.tr"])
_SYL = np.array(["ka", "lo", "mi", "ner", "tu", "sa", "po", "ri", "den", "va", "zu", "qi"])
_ANCHORS = np.array(["", "home", "read more", "next", "link", "about us", "contact"])


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), INPUTS.index(name)])


def _names(rng: np.random.Generator, n: int, prefix: str) -> list[str]:
    """``n`` distinct host names ``<prefix>.<syllables><i>.<tld>``."""
    syl = rng.integers(0, len(_SYL), (n, 4))
    k = rng.integers(2, 5, n)
    tld = _TLDS[rng.integers(0, len(_TLDS), n)]
    return [
        f"{prefix}.{''.join(_SYL[syl[i, : k[i]]])}{i}.{tld[i]}" for i in range(n)
    ]


def _power_law(rng: np.random.Generator, n: int, size: int, a: float) -> np.ndarray:
    """``size`` draws from ``range(n)`` whose popularity follows 1/rank**a
    over a random permutation, so in-degrees follow a power law."""
    w = 1.0 / np.arange(1, n + 1) ** a
    return rng.permutation(n)[rng.choice(n, size=size, p=w / w.sum())]


def _map_array(rows: np.ndarray, keys: list[str], values: list[str], n_rows: int) -> pa.Array:
    """MAP column from row-major (row index, key, value) triples, dropping
    repeated keys within a row (HBase qualifiers are unique per row)."""
    seen: set[tuple[int, str]] = set()
    keep = []
    for i, (r, k) in enumerate(zip(rows.tolist(), keys)):
        if (r, k) not in seen:
            seen.add((r, k))
            keep.append(i)
    idx = np.array(keep, dtype=np.int64)
    kept_rows = rows[idx]
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(np.bincount(kept_rows, minlength=n_rows), out=offsets[1:])
    return pa.MapArray.from_arrays(
        pa.array(offsets),
        pa.array([keys[i] for i in keep], pa.string()),
        pa.array([values[i] for i in keep], pa.string()),
    )


def _mirror(
    row_keys: list[str],
    links: pa.Array,
    metadata: pa.Array,
    rng: np.random.Generator,
) -> pa.Table:
    n = len(row_keys)
    legacy = np.where(rng.random(n) < 0.5, rng.random(n), np.nan)
    table = pa.table(
        {
            "row_key": pa.array(row_keys, pa.string()),
            "outlinks": links,
            "metadata": metadata,
            "score_legacy": pa.array(legacy, pa.float64(), from_pandas=True),
        }
    )
    return table.take(pa.array(np.argsort(np.array(row_keys), kind="stable")))


#: query-string parameters of the tracking tail crawled URLs carry (campaign,
#: placement and experiment tags): few distinct values, so URLs share long
#: substrings as real ones do
_TRACKING = [
    f"utm_{k}={v}"
    for k, vs in {
        "source": ["newsletter-weekly-digest", "partner-network-affiliate", "social-share-button",
                   "search-engine-marketing", "display-retargeting-campaign"],
        "medium": ["email-html-template-v3", "cpc-broad-match", "banner-300x250-top-right",
                   "organic-referral", "push-notification-mobile"],
        "campaign": [f"{season}-{year}-{what}" for season in ("spring", "summer", "autumn", "winter")
                     for year in (2024, 2025, 2026)
                     for what in ("clearance-sale-all-categories", "new-collection-launch-event",
                                  "loyalty-members-exclusive-offer")],
        "content": [f"variant-{c}-hero-image-{i}-call-to-action-button" for c in "abcd" for i in range(8)],
        "term": [f"keyword-group-{i}-long-tail-search-phrase-match" for i in range(20)],
    }.items()
    for v in vs
]


def _tracking(rng: np.random.Generator, n: int, mean_len: int) -> list[str]:
    """``n`` tracking tails of about ``mean_len`` bytes: parameters drawn from
    _TRACKING plus a per-URL click id."""
    avg = sum(map(len, _TRACKING)) / len(_TRACKING) + 1
    k = np.maximum(1, rng.poisson(mean_len / avg, n))
    picks = rng.integers(0, len(_TRACKING), int(k.sum()))
    click = rng.integers(0, 2**62, n)
    out, pos = [], 0
    for i in range(n):
        out.append("".join("&" + _TRACKING[j] for j in picks[pos : pos + k[i]]) + f"&gclid={click[i]:x}")
        pos += k[i]
    return out


def _reverse_host(host: str) -> str:
    return ".".join(reversed(host.split(".")))


def host_table(seed: int) -> tuple[pa.Table, dict]:
    """Nutch ``host`` mirror: reversed bare-host row keys, bare-host outlink
    keys, ``mtdt:_tf_`` trust flags. Dirt: invalid hosts (row keys and
    targets), self-links (some case-variant), whitespace-padded and
    case-variant duplicate targets, garbage and missing trust flags."""
    cfg = SIZES["host"]
    rng = _rng(seed, "host")
    n = cfg["hosts"]
    hosts = _names(rng, n, "www")
    external = _names(rng, max(n // 5, 1), "cdn")
    invalid = ["localhost", "", "intranet", "http"]
    deg = rng.poisson(cfg["outlinks"], n)
    total = int(deg.sum())
    src = np.repeat(np.arange(n), deg)
    tgt = _power_law(rng, n, total, 0.9)
    kind = rng.random(total)
    case = rng.random(total) < 0.5
    ext = rng.integers(0, len(external), total)
    bad = rng.integers(0, len(invalid), total)
    dup = rng.random(total)
    keys: list[str] = []
    rows: list[int] = []
    for j in range(total):
        s = int(src[j])
        if kind[j] < 0.02:
            t = hosts[s].upper() if case[j] else hosts[s]  # self-link
        elif kind[j] < 0.03:
            t = invalid[bad[j]]
        elif kind[j] < 0.13:
            t = external[ext[j]]  # implicit vertex: no row of its own
        else:
            t = hosts[tgt[j]]
        keys.append(t)
        rows.append(s)
        if dup[j] < 0.03:
            keys.append(f" {t} ")  # padded duplicate
            rows.append(s)
        elif dup[j] < 0.04:
            keys.append(t.capitalize())  # case variant: a distinct vertex
            rows.append(s)
    anchors = _ANCHORS[rng.integers(0, len(_ANCHORS), len(keys))].tolist()
    row_keys = [_reverse_host(h) for h in hosts]
    # extra rows: invalid keys (their links are dropped with them) and
    # case-variant keys (distinct vertices); both reuse a host's outlinks
    extra = np.flatnonzero(rng.random(n) < 0.015)
    dummy = rng.random(len(extra)) < 2 / 3
    row_arr = np.array(rows, dtype=np.int64)
    copy_keys, copy_rows, copy_anchors = [], [], []
    for e, (h, is_dummy) in enumerate(zip(extra.tolist(), dummy.tolist())):
        row_keys.append(f"dummy{h}" if is_dummy else row_keys[h].upper())
        lo, hi = np.searchsorted(row_arr, [h, h + 1])
        copy_keys += keys[lo:hi]
        copy_anchors += anchors[lo:hi]
        copy_rows += [n + e] * (hi - lo)
    links = _map_array(
        np.array(rows + copy_rows, dtype=np.int64), keys + copy_keys,
        anchors + copy_anchors, len(row_keys),
    )
    r = rng.random(len(row_keys))
    garbage = np.array(["yes", "", "true"])[rng.integers(0, 3, len(row_keys))]
    flag = np.where(r < cfg["trusted"], "1", np.where(r < cfg["trusted"] + 0.01, garbage, "0"))
    has_flag = ~((r >= cfg["trusted"] + 0.01) & (r < cfg["trusted"] + 0.05))
    meta_rows = np.flatnonzero(has_flag)
    metadata = _map_array(
        meta_rows, ["_tf_"] * len(meta_rows), flag[meta_rows].tolist(), len(row_keys)
    )
    return _mirror(row_keys, links, metadata, rng), {}


def _url_reverse_simple(url: str) -> str:
    """Row key of a generated URL (scheme://host/path?query, no port or
    fragment) — the only URL shape the generator writes as a row key."""
    scheme, rest = url.split("://", 1)
    host, slash, tail = rest.partition("/")
    return _reverse_host(host) + ":" + scheme + slash + tail


def webpage_table(seed: int) -> tuple[pa.Table, dict]:
    """Nutch ``webpage`` mirror: reversed-URL row keys, URLs of ~120 bytes
    (path and query string; a quarter carry a tracking tail), power-law
    in-links, and most targets unfetched (implicit vertices, as in a live
    crawl frontier). Dirt: #fragment targets, self-links (some upper-cased),
    padded and fragment-variant duplicate targets, invalid URLs and junk row
    keys."""
    cfg = SIZES["webpage"]
    rng = _rng(seed, "webpage")
    n = cfg["pages"]
    deg = rng.poisson(cfg["outlinks"], n)
    total = int(deg.sum())
    hosts = _names(rng, max(n // 40, 1), "www")
    sections = ["news", "articles", "products", "blog", "archive", "docs", "forum"]

    def urls(first: int, count: int, kind: str) -> list[str]:
        h = rng.integers(0, len(hosts), count)
        syl = _SYL[rng.integers(0, len(_SYL), (count, 4))]
        q = rng.integers(0, 10**9, count)
        sess = rng.integers(0, 10**6, count)
        tail = np.where(rng.random(count) < cfg["tracked"], _tracking(rng, count, 100), "")
        return [
            f"http://{hosts[h[i]]}/{sections[(first + i) % 7]}/{'-'.join(syl[i])}"
            f"-{kind}-{first + i}.html?id={q[i]}&session=x{sess[i]}{tail[i]}"
            for i in range(count)
        ]

    pages = urls(0, n, "page")
    src = np.repeat(np.arange(n), deg)
    kind = rng.random(total)
    unfetched = rng.random(total) < cfg["unfetched"]
    frontier = urls(n, int(unfetched.sum()), "item")
    tgt = _power_law(rng, n, total, 0.8)
    upper = rng.random(total) < 0.3
    bad = rng.integers(0, 4, total)
    frag = rng.random(total) < 0.02
    frag_no = rng.integers(0, 9, total)
    dup = rng.random(total)
    invalid = ["http://", "http://invalidurl", "mailto:info@example", "javascript:void(0)"]
    keys: list[str] = []
    rows: list[int] = []
    k_front = 0
    for j in range(total):
        s = int(src[j])
        rows.append(s)
        if kind[j] < 0.01:
            keys.append(pages[s].upper() if upper[j] else pages[s])  # self-link
            continue
        if kind[j] < 0.015:
            keys.append(invalid[bad[j]])
            continue
        if unfetched[j]:
            t = frontier[k_front]
            k_front += 1
        else:
            t = pages[tgt[j]]
        if frag[j]:
            t = f"{t}#sec{frag_no[j]}"
        keys.append(t)
        if dup[j] < 0.02:
            keys.append(f" {t} ")  # padded duplicate
            rows.append(s)
        elif dup[j] < 0.03:
            keys.append(t.split("#")[0] + "#top")  # duplicate after fragment strip
            rows.append(s)
    anchors = _ANCHORS[rng.integers(0, len(_ANCHORS), len(keys))].tolist()
    row_keys = [_url_reverse_simple(u) for u in pages]
    junk = np.flatnonzero(rng.random(n) < 0.005)
    row_arr = np.array(rows, dtype=np.int64)
    copy_keys, copy_rows, copy_anchors = [], [], []
    for e, p in enumerate(junk.tolist()):  # junk row keys carrying real outlinks
        row_keys.append(f"dummy{p}")
        lo, hi = np.searchsorted(row_arr, [p, p + 1])
        copy_keys += keys[lo:hi]
        copy_anchors += anchors[lo:hi]
        copy_rows += [n + e] * (hi - lo)
    links = _map_array(
        np.array(rows + copy_rows, dtype=np.int64), keys + copy_keys,
        anchors + copy_anchors, len(row_keys),
    )
    metadata = _map_array(np.zeros(0, dtype=np.int64), [], [], len(row_keys))
    return _mirror(row_keys, links, metadata, rng), {}


def corpus_table(seed: int) -> tuple[pa.Table, dict]:
    """Document corpus: Zipf-vocabulary docs of 60-220 words; ~10% exact
    copies and ~20% near-duplicates with 5% of their words replaced. Doc ids
    are shuffled so a copy is as likely to precede its source as follow it.

    truth = {"exact_groups": [[ids of one identical text], ...] (size >= 2),
             "near_pairs": [(min id, max id) of each planted near-dup]}"""
    cfg = SIZES["corpus"]
    rng = _rng(seed, "corpus")
    n, v = cfg["docs"], cfg["vocab"]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 9, v)
    chars = letters[rng.integers(0, 26, (v, 8))]
    vocab = np.array([f"{''.join(chars[i, : lens[i]])}{i % 7}" for i in range(v)])
    w = 1.0 / np.arange(1, v + 1) ** 1.05
    w /= w.sum()
    n_exact, n_near = int(n * cfg["exact"]), int(n * cfg["near"])
    n_base = n - n_exact - n_near
    lengths = rng.integers(60, 221, n_base)
    flat = vocab[rng.choice(v, size=int(lengths.sum()), p=w)]
    cuts = np.cumsum(lengths)[:-1]
    texts = [list(ws) for ws in np.split(flat, cuts)]
    sources = rng.integers(0, n_base, n_exact + n_near)
    for k, s in enumerate(sources.tolist()):
        words = list(texts[s])
        if k >= n_exact:  # near-duplicate: replace 5% of the words
            m = max(1, round(0.05 * len(words)))
            pos = rng.choice(len(words), size=m, replace=False)
            for p, word in zip(pos.tolist(), vocab[rng.choice(v, size=m, p=w)]):
                words[p] = word
        texts.append(words)
    ids = rng.permutation(n).astype(np.int64) + 1  # the doc at position i gets ids[i]
    strings = []
    for words in texts:
        s = " ".join(words)
        strings.append(s[0].upper() + s[1:] + ".")
    groups: dict[str, list[int]] = {}
    for i, s in enumerate(strings):
        groups.setdefault(s, []).append(int(ids[i]))
    near_pairs = sorted(
        {
            tuple(sorted((int(ids[n_base + k]), int(ids[s]))))
            for k, s in enumerate(sources.tolist())
            if k >= n_exact and strings[n_base + k] != strings[s]
        }
    )
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([strings[i] for i in order], pa.string()),
        }
    )
    truth = {
        "exact_groups": sorted(sorted(g) for g in groups.values() if len(g) > 1),
        "near_pairs": near_pairs,
    }
    return table, truth


GENERATORS = {"host": host_table, "webpage": webpage_table, "corpus": corpus_table}


def write_parquet(table: pa.Table, path: str) -> None:
    """One parquet file, byte-stable for a given table."""
    pq.write_table(table, path, compression="snappy", row_group_size=8192)
