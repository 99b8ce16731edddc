"""Seeded workload inputs, planted ground truth and references.

Every corpus is drawn from ``pyjedai_spark.synth.generate_webtext`` with
the 20k-token Zipf vocabulary. The 56-word base vocabulary is not used:
on it the flagship collapses into one giant component, so the numbers
would measure a degenerate pair explosion instead of the DER chain.

Inputs and references are built once per (workload, seed) and cached
under the work directory, keyed by the source of every file they
depend on, so editing ``synth.py``, the replica, the oracle or this file
rebuilds them.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from pyjedai_spark.synth import generate_webtext

ROOT = Path(__file__).resolve().parent.parent

# Corpus sizes. At these sizes a pass is dominated by per-job latency,
# not per-row work: on a 4-core host a 2k-doc and a 5k-doc flagship pass
# both take about 6 s warm, and a 400-doc and a 600-doc clean pass both
# about 13 s. Every run also pays a fresh JVM's cold pass (18-30 s), so
# these are the sizes the per-run time budget allows.
FLAGSHIP_DOCS = 5_000
CLEAN_DOCS = 600
CLEAN_BATCHES = 2

# Shares of the clean corpus that are planted on the benchmark side:
# each one exercises a different drop stage of the cleaning chain.
URL_VARIANT_SHARE = 0.08   # same page under a tracking-param / re-crawl URL
EXACT_COPY_SHARE = 0.08    # byte-identical text under another URL
LOW_QUALITY_SHARE = 0.08   # no stopwords: fails the Gopher gate
# Two distinct stopwords let a synthetic page pass the Gopher gate
# (analysis.gopher_quality needs >= 2); synth text has none.
STOPWORD_PREFIX = "the"
STOPWORD_SUFFIX = "and of"

_DEPENDS_ON = [
    "pyjedai_spark/synth.py",
    "pyjedai_spark/queries.py",
    "parity/reference_replica.py",
    "perfbench/corpus.py",
]


def source_key() -> str:
    """Digest of the sources the cached inputs and references derive from."""
    h = hashlib.sha256()
    for rel in _DEPENDS_ON:
        h.update(rel.encode())
        h.update((ROOT / rel).read_bytes())
    return h.hexdigest()[:16]


def rows_digest(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(rows, key=repr):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def pairs_from_groups(groups: dict[int, int]) -> set[tuple[int, int]]:
    """All intra-group (lo, hi) pairs of an ``{eid: group}`` map."""
    members: dict[int, list[int]] = {}
    for e, g in groups.items():
        members.setdefault(g, []).append(e)
    out = set()
    for ms in members.values():
        ms.sort()
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out


def _union_find(n: int, edges) -> dict[int, int]:
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def flagship_corpus(seed: int, n_docs: int = FLAGSHIP_DOCS):
    """Plain synth webtext: (docs frame, planted duplicate pairs)."""
    rows, gt = generate_webtext(n_docs=n_docs, seed=seed, vocab_size=20000)
    docs = pd.DataFrame({
        "doc_id": np.array([r["eid"] for r in rows], dtype="int64"),
        "text": [r["text"] for r in rows],
        "source": [f"site{r['eid']}" for r in rows],
    })
    return docs, {(min(a, b), max(a, b)) for a, b in gt}


def _variant_origin(e: int, m: int) -> int:
    """The id whose ``derived_url`` canonicalizes like
    ``e``'s when both share a source: the canonical key is
    (source, id % 50, id % 3 == 2), and ids 0 and 1 mod 3 differ only
    in tracking parameters, so those pairs are true URL variants."""
    step = {0: 50, 1: 100, 2: 150}[e % 3]
    return e - step - 150 * m


def clean_corpus(seed: int, n_docs: int = CLEAN_DOCS):
    """Arrival-ordered crawl: synth pages (with their planted near-dup
    clusters) interleaved with URL variants, exact copies and
    low-quality pages at the stated shares. Ids are arrival order.
    Returns (docs frame, planted duplicate pairs)."""
    rng = np.random.RandomState(seed + 7919)
    good, good_gt = generate_webtext(n_docs=n_docs, seed=seed,
                                     vocab_size=20000, doc_len=(60, 120))
    junk, _ = generate_webtext(n_docs=n_docs, seed=seed + 1,
                               vocab_size=20000, dup_fraction=0.0,
                               doc_len=(60, 120))
    synth_pos: dict[int, int] = {}
    texts, sources, edges = [], [], []
    is_original: list[bool] = []
    gi = ji = 0
    for e in range(n_docs):
        u = rng.rand()
        kind = "good"
        if u < URL_VARIANT_SHARE:
            o = _variant_origin(e, rng.randint(3))
            if o >= 0 and is_original[o]:
                kind = "url"
        elif u < URL_VARIANT_SHARE + EXACT_COPY_SHARE and e > 0:
            kind = "exact"
        elif u < URL_VARIANT_SHARE + EXACT_COPY_SHARE + LOW_QUALITY_SHARE:
            kind = "junk"
        if kind == "url":
            texts.append(texts[o])
            sources.append(sources[o])
            edges.append((o, e))
        elif kind == "exact":
            o = rng.randint(e)
            texts.append(texts[o])
            sources.append(f"site{e}")
            edges.append((o, e))
        elif kind == "junk":
            texts.append(junk[ji]["text"])
            sources.append(f"site{e}")
            ji += 1
        else:
            synth_pos[good[gi]["eid"]] = e
            texts.append(f"{STOPWORD_PREFIX} {good[gi]['text']} "
                         f"{STOPWORD_SUFFIX}")
            sources.append(f"site{e}")
            gi += 1
        is_original.append(kind != "url")
    edges += [(synth_pos[a], synth_pos[b]) for a, b in good_gt
              if a in synth_pos and b in synth_pos]
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "source": sources,
    })
    return docs, pairs_from_groups(_union_find(n_docs, edges))


def flagship_reference(docs: pd.DataFrame) -> list[tuple]:
    """(eid, cluster_id) rows of the pure-python reference replica."""
    from parity.reference_replica import der_dedup

    assign = der_dedup(dict(zip(docs["doc_id"].tolist(),
                                docs["text"].tolist())))
    return sorted((int(e), int(c)) for e, c in assign.items())


_URL_RE = re.compile(r"^(?:([a-zA-Z][a-zA-Z0-9+.-]*)://)?([^/?#]*)"
                     r"([^?#]*)(?:\?([^#]*))?(?:#.*)?$")
_TRACKING = re.compile(r"^(utm_[^=]*|fbclid|gclid)(=|$)")
_EN_STOPWORDS = {"the", "a", "and", "of", "to", "in", "is", "that", "with",
                 "for"}


def derived_url(doc_id: int, source: str) -> str:
    """The URL the ``corpus_clean`` oracle derives from (source, id)."""
    qs = {0: "?utm_source=feed&b=2&a=1#frag", 1: "?a=1&b=2"}.get(
        doc_id % 3, "")
    return (f"HTTPS://{source.upper()}.example.com:443/Crawl/"
            f"{doc_id % 50}/{qs}")


def _canonical_url(url: str) -> str:
    scheme, host, path, q = _URL_RE.match(url).groups("")
    scheme = scheme.lower()
    host = re.sub(r":(80|443)$", "", host.lower())
    path = re.sub(r"/+$", "", path)
    qs = "&".join(sorted(p for p in q.split("&")
                         if p and not _TRACKING.search(p)))
    return ((f"{scheme}://" if scheme else "") + host + path
            + (f"?{qs}" if qs else ""))


def _words(text: str) -> list[str]:
    return [w for w in re.split(r"[\W_]", text.lower()) if w]


def _gopher_passes(text: str) -> bool:
    tl = _words(text)
    lines = [x.strip() for x in text.split("\n") if x.strip()]
    n = len(tl)
    if n == 0:
        return False
    mean_wl = sum(map(len, tl)) / n
    sym = (text.count("#") + len(re.findall(r"\.\.\.", text))) / n
    alpha = sum(1 for w in tl if re.search("[a-zA-Z]", w)) / n
    bullets = sum(1 for x in lines if x[:1] in "-*") / max(len(lines), 1)
    ellip = sum(1 for x in lines if x.endswith("...")) / max(len(lines), 1)
    return (50 <= n <= 100000 and 3 <= mean_wl <= 10 and sym <= 0.1
            and alpha >= 0.8 and len(set(tl) & _EN_STOPWORDS) >= 2
            and bullets < 0.9 and ellip < 0.3)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def clean_reference(docs: pd.DataFrame, k: int = 32, bands: int = 8,
                    shingle: int = 3, threshold: float = 0.5
                    ) -> list[tuple]:
    """(eid, status, survivor) rows of ``corpus_clean_pipeline(url_col=
    "url", max_bucket=None)`` on ``docs`` with the oracle's derived URL,
    computed in plain Python: the four stages of the ``corpus_clean``
    DuckDB oracle re-stated row by row. The oracle itself is not run per
    seed: DuckDB re-evaluates its edge CTE inside every recursion step
    of the components closure, about 33 s on 1.2k docs with 4 threads.
    ``perfbench/tests/test_perfbench.py`` pins it to the oracle."""
    from pyjedai_spark.operators.dedup import P, minhash_coeffs

    ids = docs["doc_id"].tolist()
    text = dict(zip(ids, docs["text"].fillna("").tolist()))
    out = []

    def first_seen(keys: dict[int, str], status: str) -> list[int]:
        surv: dict[str, int] = {}
        for e in sorted(keys):
            surv.setdefault(keys[e], e)
        for e in sorted(keys):
            if surv[keys[e]] != e:
                out.append((e, status, surv[keys[e]]))
        return [e for e in sorted(keys) if surv[keys[e]] == e]

    rem = first_seen({e: _canonical_url(derived_url(e, s)) for e, s in
                      zip(ids, docs["source"].tolist())}, "url_dup")
    rem = first_seen({e: _md5(re.sub(r"\s+", " ", text[e]).lower())
                      for e in rem}, "exact_dup")
    passed = []
    for e in rem:
        if _gopher_passes(text[e]):
            passed.append(e)
        else:
            out.append((e, "low_quality", None))

    coeffs = minhash_coeffs(k)
    rows = k // bands
    shingles, buckets = {}, {}
    for e in passed:
        tl = _words(text[e])
        sl = {" ".join(tl[i:i + shingle])
              for i in range(len(tl) - shingle + 1)}
        shingles[e] = sl
        hl = [int(_md5(t)[:8], 16) for t in sl]
        sig = [min(((h * a + b) % P for h in hl), default=P)
               for a, b in coeffs]
        for b in range(bands):
            key = (b, _md5("-".join(map(str, sig[b * rows:(b + 1) * rows]))))
            buckets.setdefault(key, []).append(e)
    cands = {(x, y) for ms in buckets.values()
             for i, x in enumerate(ms) for y in ms[i + 1:]}
    edges = []
    for x, y in cands:
        inter = len(shingles[x] & shingles[y])
        union = len(shingles[x]) + len(shingles[y]) - inter
        if union and round(inter / union, 6) >= threshold:
            edges.append((x, y))
    pos = {e: i for i, e in enumerate(passed)}
    comp = _union_find(len(passed), [(pos[x], pos[y]) for x, y in edges])
    for e in passed:
        c = passed[comp[pos[e]]]
        out.append((e, "kept", e) if c == e else (e, "near_dup", c))
    return sorted(out, key=repr)


def prepare(workload: str, seed: int, work: Path) -> dict:
    """Build (or load from cache) one workload's input and reference.
    Returns paths, planted pairs, reference rows and digests."""
    d = work / "cache" / f"{workload}-s{seed}-{source_key()}"
    meta_path = d / "meta.json"
    if not meta_path.exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        (tmp / "input").mkdir(parents=True, exist_ok=True)
        doc_path = tmp / "input" / "documents.parquet"
        if workload == "der_flagship":
            docs, gt = flagship_corpus(seed)
            docs.to_parquet(doc_path, index=False)
            ref = flagship_reference(docs)
        else:
            docs, gt = clean_corpus(seed)
            docs.to_parquet(doc_path, index=False)
            ref = clean_reference(docs)
        meta = {
            "n_docs": len(docs),
            "input_digest": rows_digest(docs.itertuples(index=False,
                                                        name=None)),
            "reference_digest": rows_digest(ref),
            "gt_pairs": sorted(gt),
            "reference": ref,
        }
        (tmp / "meta.json").write_text(json.dumps(meta))
        if d.exists():
            shutil.rmtree(tmp)
        else:
            os.replace(tmp, d)
    meta = json.loads(meta_path.read_text())
    meta["gt_pairs"] = {tuple(p) for p in meta["gt_pairs"]}
    meta["reference"] = sorted(map(tuple, meta["reference"]), key=repr)
    meta["input_dir"] = str(d / "input")
    return meta
