"""Seeded input tables for the query workload.

Writes ``documents`` and ``events`` parquet files with the column types
and value distributions of the package's sf0.01 test tables (500
documents over a 31-word vocabulary, 10,000 events of 150 users over 30
days).
Row counts and the near-duplicate structure are fixed, so every seed
asks the same amount of work of the queries; the seed only changes the
values.

Near duplicates come as ``CHAINS`` chains of ``CHAIN_LEN + 1`` documents.
Document k of a chain is word block k followed by word block k + 1, so
neighbours share a block and documents two apart share none.  Each chain
is drawn until its minhash-LSH candidate edges (the banding that
``q_dedup_clusters`` uses: 3-word shingles, 16 hashes, 8 bands of 2) are
exactly its path, and the whole table is drawn again if any other edge
appears.  Chain documents get increasing ids along the chain, so min-label
propagation needs ``CHAIN_LEN`` rounds to carry the smallest id to the far
end, plus one to see the fixpoint, for every seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_DOCS = 500
N_EVENTS = 10_000
N_USERS = 150
CHAINS = 8
CHAIN_LEN = 4  # edges per chain: q_dedup_clusters runs CHAIN_LEN + 1 rounds
BLOCK_WORDS = (20, 40)  # a chain block's length, half-open range

# The LSH shape of q_dedup_clusters, restated here so the inputs do not
# change when the package does.
_P = 2_147_483_647
_HASHES = 16
_ROWS_PER_BAND = 2


def _minhash_params() -> list[tuple[int, int]]:
    params, state = [], 0x9E3779B9
    for _ in range(_HASHES):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        params.append((a, state % _P))
    return params


_PARAMS = _minhash_params()


def lsh_buckets(text: str) -> set[tuple[int, str]]:
    """The (band, bucket) pairs of ``text``; two documents are candidate
    duplicates when they share one."""
    toks = text.split(" ")
    shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    hb = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _P for s in shingles]
    mh = [min((a * h + b) % _P for h in hb) for a, b in _PARAMS]
    r = _ROWS_PER_BAND
    return {
        (j, hashlib.md5("|".join(map(str, mh[j * r:(j + 1) * r])).encode()).hexdigest())
        for j in range(_HASHES // r)
    }


def lsh_edges(buckets: list[set]) -> set[tuple[int, int]]:
    """Candidate pairs (i < j) of documents by shared LSH bucket, from
    each document's ``lsh_buckets``."""
    members: dict[tuple[int, str], list[int]] = {}
    for i, keys in enumerate(buckets):
        for key in keys:
            members.setdefault(key, []).append(i)
    return {(a, b) for ids in members.values() for k, b in enumerate(ids) for a in ids[:k]}


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB, rng.integers(lo, hi)))


def _chain(rng: np.random.Generator) -> tuple[list[str], list[set]]:
    """CHAIN_LEN + 1 documents whose LSH edges are exactly the path, and
    their buckets."""
    path = set(zip(range(CHAIN_LEN), range(1, CHAIN_LEN + 1)))
    while True:
        blocks = [_words(rng, *BLOCK_WORDS) for _ in range(CHAIN_LEN + 2)]
        texts = [f"{a} {b}" for a, b in zip(blocks, blocks[1:])]
        buckets = [lsh_buckets(t) for t in texts]
        if lsh_edges(buckets) == path:
            return texts, buckets


def documents(rng: np.random.Generator) -> pa.Table:
    n_chain = CHAINS * (CHAIN_LEN + 1)
    while True:
        texts: list[str] = [""] * N_DOCS
        buckets: list[set] = [set()] * N_DOCS
        want: set[tuple[int, int]] = set()
        slots = rng.permutation(N_DOCS)
        for c in range(CHAINS):
            ids = sorted(slots[c * (CHAIN_LEN + 1):(c + 1) * (CHAIN_LEN + 1)].tolist())
            for i, text, keys in zip(ids, *_chain(rng)):
                texts[i], buckets[i] = text, keys
            want |= set(zip(ids, ids[1:]))
        in_chain = set(slots[:n_chain].tolist())
        # 30-99 words, so chance LSH edges between random documents are
        # rare; a random document with one is drawn again.
        redraw = set(slots[n_chain:].tolist())
        while redraw:
            for i in sorted(redraw):
                texts[i] = _words(rng, 30, 100)
                buckets[i] = lsh_buckets(texts[i])
            extra = lsh_edges(buckets) - want
            redraw = {b if b not in in_chain else a for a, b in extra}
            if redraw & in_chain:
                break  # an edge between two chain documents: draw all again
        else:
            break
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % 10}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng: np.random.Generator) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    ts = np.sort(start_us + rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


TABLES = {"documents": documents, "events": events}


def write_tables(seed: int, out_dir: str) -> str:
    """Write the tables for ``seed`` under ``out_dir``; return it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, make in TABLES.items():
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
