"""Seeded corpora with planted duplicate structure, and the check of a
members table against that planted truth.

Every text is a bag of words ``w<k>`` with ``k = hash(seed, key, position,
version) % VOCAB``: a doc's ``key`` picks its base text, and a per-position
``version`` lets variants rewrite chosen positions. Docs that share a key and
every version are byte-identical; rewriting one position in ``every`` changes
``5/every`` of the 5-shingles, which is how the Jaccard of each planted pair
is set (see ``NEAR_EVERY`` / ``REJECT_EVERY``).

Each doc carries ``truth``: the planted cluster it belongs to, or None for a
doc that must come back unmerged. The corpus is built in numpy, before the
JVM starts; ``generate`` writes the pages to parquet (all the program under
test reads) and returns the truth as a pandas frame.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB = 20000
# one rewritten position in 60: 1-3 rewrites on an 80-200 token doc, 5-shingle
# Jaccard 0.85-0.88 against its base -- well above the 0.7 verify threshold
NEAR_EVERY = 60
# one rewritten position in 14: Jaccard ~0.45-0.5, a MinHash-LSH candidate
# most of the time (b=32, r=4) that verification must reject
REJECT_EVERY = 14
# a chain drifts by rewriting one position residue per step, so neighbours sit
# at the NEAR_EVERY Jaccard while the chain's ends share nothing
CHAIN_PERIOD = NEAR_EVERY
# one identical-text clique above operators/lsh.PAIR_CAP_CROSS (1024): its
# band buckets take the salted-star tier
HOT_CLIQUE = 1100
# cliques inside the exhaustive (collect_list) tier; fixed sizes, so every
# seed does the same pair-generation work
MID_CLIQUES = (80, 130, 190)
CLIQUE_TOKENS = 140  # the mean of the 80-200 token web_mix docs
CHAINS, CHAIN_LEN = 10, 24
# resume_suffix: the shared verbatim run is longer than the default
# suffix_min_run_tokens (50); its pair's Jaccard stays ~0.1
RUN_TOKENS = 60
SOURCES = 4
FILES = 2 * SOURCES  # parquet files the pages are written to
EPOCH_S = 1704067200
TAG = 1 << 40  # key ranges of the different roles are disjoint by tag
_WORDS = np.array([f"w{k}" for k in range(VOCAB)], dtype=object)


@dataclass(frozen=True)
class Workload:
    """What the benchmark generates and runs for one workload name."""

    name: str
    n_docs: int
    checkpointed: bool  # run_dedup_checkpointed (cold + resume) vs run_dedup


WORKLOADS = {
    "web_mix": Workload("web_mix", 10000, checkpointed=False),
    "resume_suffix": Workload("resume_suffix", 3000, checkpointed=True),
}


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64's finalizer: a bijection of uint64 that mixes every bit."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _h(seed: int, *cols) -> np.ndarray:
    """uint64 hash of (seed, *cols), elementwise over broadcast int columns."""
    with np.errstate(over="ignore"):
        x = _mix(np.asarray([seed], dtype=np.int64).astype(np.uint64))
        for c in cols:
            c = np.asarray(c, dtype=np.int64).astype(np.uint64)
            x = _mix(x ^ (c + np.uint64(0x9E3779B97F4A7C15)))
    return x


def _mod(x: np.ndarray, m) -> np.ndarray:
    return (x % np.asarray(m, dtype=np.uint64)).astype(np.int64)


def _texts(seed: int, key: np.ndarray, n: np.ndarray, version=None) -> list[list]:
    """Per doc, the n words of text `key`; version(doc, pos) -> int64 per
    token (positions are 1-based), 0 everywhere when None."""
    doc = np.repeat(np.arange(len(key)), n)
    start = np.cumsum(n) - n
    pos = np.arange(len(doc)) - np.repeat(start, n) + 1
    ver = np.zeros(len(doc), np.int64) if version is None else version(doc, pos)
    words = _WORDS[_mod(_h(seed, key[doc], pos, ver), VOCAB)]
    return [list(words[a:b]) for a, b in zip(start, start + n)]


def _length(seed: int, key: np.ndarray, lo: int, span: int) -> np.ndarray:
    return _mod(_h(seed, -1, key), span) + lo


def _blocks(ids: np.ndarray, start: int, block: int):
    """(block index, offset in block) of ids laid out from `start`."""
    rel = ids - start
    return rel // block, rel % block


def _frame(seed: int, texts: list[str], truth: list) -> pd.DataFrame:
    """The input_hint page schema (url, warc_ts, html, text, lang, source)
    plus `truth`. Urls are hashed so their sort order (which drives id
    assignment) mixes every planted role across partitions."""
    ids = np.arange(len(texts))
    url_hash = _h(seed, -2, ids)
    return pd.DataFrame({
        "url": [f"https://synth.example/{h:x}/{i}" for h, i in zip(url_hash, ids)],
        "warc_ts": pd.to_datetime(EPOCH_S + ids, unit="s", utc=True),
        "html": None,
        "text": texts,
        "lang": "en",
        "source": [f"src{i % SOURCES}" for i in ids],
        "truth": truth,
        "file": _mod(_h(seed, -3, ids), FILES),
    })


def web_mix(n_docs: int, seed: int) -> pd.DataFrame:
    """Production mix plus boilerplate skew, 80-200 tokens per doc.

    - ~8% in exact-dup groups of 2-4 (blocks of 4 ids, the tail is filler);
    - ~8% near-dup groups: a base plus 1-2 variants at Jaccard 0.85-0.88;
    - ~4% reject cohort: pairs at Jaccard ~0.45-0.5 that LSH proposes and
      verify must reject (truth: unmerged);
    - one identical clique of HOT_CLIQUE docs (salted-star tier), MID_CLIQUES
      cliques (exhaustive tier), and CHAINS near-dup chains
      of CHAIN_LEN docs whose ends are unrelated (connected components sees
      a long diameter);
    - the rest unique filler.
    """
    n_exact, n_near = n_docs // 40, n_docs // 30  # blocks of 4 and of 3
    n_reject = n_docs // 50  # pairs
    bounds = {}
    pos = 0
    for role, size in (
        ("exact", 4 * n_exact), ("near", 3 * n_near), ("reject", 2 * n_reject),
        ("hot", HOT_CLIQUE), *((f"mid{k}", m) for k, m in enumerate(MID_CLIQUES)),
        ("chain", CHAINS * CHAIN_LEN),
    ):
        bounds[role] = (pos, pos + size)
        pos += size
    if pos > n_docs:
        raise ValueError(f"web_mix needs at least {pos} docs, got {n_docs}")

    ids = np.arange(n_docs)
    key = 9 * TAG + ids  # unique filler unless a role below claims the doc
    kind = np.zeros(n_docs, np.int8)  # 0 fixed, 1 near, 2 reject, 3 chain
    param = np.zeros(n_docs, np.int64)
    truth = np.full(n_docs, None, dtype=object)

    def claim(role: str, block: int):
        lo, hi = bounds[role]
        sel = ids[lo:hi]
        return sel, *_blocks(sel, lo, block)

    sel, b, o = claim("exact", 4)
    sel = sel[o < _mod(_h(seed, 1, b), 3) + 2]
    key[sel] = 1 * TAG + (sel - bounds["exact"][0]) // 4
    truth[sel] = [f"exact:{k - TAG}" for k in key[sel]]
    sel, b, o = claim("near", 3)
    keep = o < _mod(_h(seed, 2, b), 2) + 2
    sel, b, o = sel[keep], b[keep], o[keep]
    key[sel], kind[sel], param[sel] = 2 * TAG + b, 1, o
    truth[sel] = [f"near:{x}" for x in b]
    sel, b, o = claim("reject", 2)
    key[sel], kind[sel], param[sel] = 3 * TAG + b, 2, o
    sel = ids[slice(*bounds["hot"])]
    key[sel], truth[sel] = 4 * TAG, "hot"
    for k in range(len(MID_CLIQUES)):
        sel = ids[slice(*bounds[f"mid{k}"])]
        key[sel], truth[sel] = 5 * TAG + k, f"mid{k}"
    sel, b, o = claim("chain", CHAIN_LEN)
    key[sel], kind[sel], param[sel] = 6 * TAG + b, 3, o
    truth[sel] = [f"chain:{x}" for x in b]

    def version(doc: np.ndarray, pos: np.ndarray) -> np.ndarray:
        k, p = kind[doc], param[doc]
        return np.select(
            [(k == 1) & (pos % NEAR_EVERY == 0),
             (k == 2) & (pos % REJECT_EVERY == 0),
             k == 3],
            [p, p, (p + pos % CHAIN_PERIOD) // CHAIN_PERIOD],
            0,
        )

    n = _length(seed, key, 80, 121)
    # the cliques hold 16% of the docs but only four texts: at a seeded
    # length they would move the corpus's token count by +-5% from seed to
    # seed, so they take the mean length and every seed does the same work
    n[np.isin(key // TAG, (4, 5))] = CLIQUE_TOKENS
    texts = _texts(seed, key, n, version)
    return _frame(seed, [" ".join(t) for t in texts], list(truth))


def resume_suffix(n_docs: int, seed: int, edited: bool = False) -> pd.DataFrame:
    """SOURCES partitions of 150-250 token docs.

    - ~10% in suffix pairs (ids 2b, 2b+1, always in different sources): each
      doc is its own filler with one shared RUN_TOKENS verbatim run spliced
      in at a doc-specific offset -- Jaccard ~0.1, found only by the suffix
      channel;
    - ~4% in exact-dup groups of 2-4 (blocks of 4 ids, the tail is filler);
    - the rest unique filler.

    ``edited=True`` is the corpus after partition src0 was edited: its
    unique docs get new text, and its suffix-pair members get a fresh run,
    which breaks their pairs (their partners in other sources turn unique).
    """
    n_pairs, n_exact = n_docs // 20, n_docs // 80
    sfx_hi = 2 * n_pairs
    ex_hi = sfx_hi + 4 * n_exact
    ids = np.arange(n_docs)
    edit = (ids % SOURCES == 0) if edited else np.zeros(n_docs, bool)
    pb = ids // 2
    eb, eo = _blocks(ids, sfx_hi, 4)
    is_sfx = ids < sfx_hi
    is_exact = (ids >= sfx_hi) & (ids < ex_hi) & (eo < _mod(_h(seed, 1, eb), 3) + 2)
    # a pair survives the edit only if neither member sits in src0; members
    # are ids 2b (even) and 2b+1, so src0 (id % 4 == 0) holds the even one
    pair_broken = edited & ((2 * pb) % SOURCES == 0)
    truth = np.full(n_docs, None, dtype=object)
    truth[is_sfx & ~pair_broken] = [f"sfx:{b}" for b in pb[is_sfx & ~pair_broken]]
    truth[is_exact] = [f"exact:{b}" for b in eb[is_exact]]
    bump = np.where(edit, 1 << 32, 0)
    own = np.where(is_exact, 1 * TAG + eb, 9 * TAG + ids + bump)
    run_key = 2 * TAG + pb + bump
    n = _length(seed, own, 150, 101)
    filler = _texts(seed, own, n)
    run = _texts(seed, run_key[is_sfx], np.full(is_sfx.sum(), RUN_TOKENS))
    cut = _mod(_h(seed, 3, ids), n - 1) + 1
    texts = []
    for i, words in enumerate(filler):
        if is_sfx[i]:
            words = words[: cut[i]] + run[i] + words[cut[i] :]
        texts.append(" ".join(words))
    return _frame(seed, texts, list(truth))


def generate(name: str, n_docs: int, seed: int, base: str,
             edited: bool = False) -> pd.DataFrame:
    """Write workload `name`'s input to `base`/pages as FILES parquet files
    (the input_hint schema, all the program ever sees); return its planted
    truth as (url, truth) for the docs in a planted cluster."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if name == "web_mix":
        df = web_mix(n_docs, seed)
    else:
        df = resume_suffix(n_docs, seed, edited)
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()),
    ])
    os.makedirs(f"{base}/pages")
    for f, part in df.groupby("file"):
        table = pa.Table.from_pandas(part[schema.names], schema=schema,
                                     preserve_index=False)
        pq.write_table(table, f"{base}/pages/part-{f:05d}.parquet")
    planted = df["truth"].notna()
    return df.loc[planted, ["url", "truth"]].reset_index(drop=True)


@dataclass(frozen=True)
class TruthCheck:
    recall: float
    precision: float
    broken_clusters: int  # planted clusters not returned whole and alone
    false_merges: int  # predicted clusters holding docs of >1 truth group

    @property
    def ok(self) -> bool:
        return self.broken_clusters == 0 and self.false_merges == 0


def _pairs(sizes) -> int:
    return int(sum(int(s) * (int(s) - 1) // 2 for s in sizes))


def check_members(members, truth) -> TruthCheck:
    """members(url, cluster_id) vs truth(url, truth) pandas frames.

    Dup-pair recall/precision from cluster contingency counts (a 1100-doc
    clique is 604k pairs; no pair is materialized). A doc with null truth is
    a planted singleton: any predicted cluster holding one is a false merge.
    """
    import pandas as pd

    planted = truth.dropna(subset=["truth"])
    m = members[["url", "cluster_id"]].merge(truth, on="url", how="left")
    # null truth -> a label of its own, so it never agrees with anything
    m["label"] = m["truth"].where(m["truth"].notna(), "__single__" + m["url"])
    true_pairs = _pairs(planted.groupby("truth").size())
    pred_pairs = _pairs(m.groupby("cluster_id").size())
    tp = _pairs(m.groupby(["cluster_id", "label"]).size())
    labels_per_cluster = m.groupby("cluster_id")["label"].nunique()
    got = m.groupby("label").agg(n=("url", "size"), c=("cluster_id", "nunique"))
    want = planted.groupby("truth").size().rename("want")
    joined = pd.concat([want, got], axis=1, join="outer")
    broken = joined["want"].notna() & ~(
        (joined["n"] == joined["want"]) & (joined["c"] == 1)
    )
    return TruthCheck(
        recall=tp / true_pairs if true_pairs else 1.0,
        precision=tp / pred_pairs if pred_pairs else 1.0,
        broken_clusters=int(broken.sum()),
        false_merges=int((labels_per_cluster > 1).sum()),
    )
