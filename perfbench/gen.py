"""Seeded input generator: corpus, MaxP vectors, queries and write batches.

Shape follows ``sparkforward/webtext.py`` with crawl-order locality, but
every draw comes from ``--seed`` (the library's generator pins SEED=42):

* Zipf(1.2) over 40 named head terms plus a 20k-term tail;
* doc ids in crawl order: HOST_PAGES consecutive ids per host, each host
  drawing its tail terms from a sliding HOST_WINDOW-wide slice of the tail;
* 20-120 tokens per doc;
* MaxP vectors: 1-3 passages per doc, dim 64, float32.

The library only ever sees the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HEAD = [
    "the", "a", "data", "spark", "query", "join", "filter", "window",
    "stream", "sort", "merge", "table", "hash", "group", "agg", "fast",
    "scan", "column", "slow", "row", "customer", "order", "key", "big",
    "small", "value", "vector", "batch", "index", "score", "rank", "term",
    "page", "link", "crawl", "web", "text", "html", "lang", "shard",
]
N_TAIL = 20_000
VOCAB = np.asarray(HEAD + [f"tail{i}" for i in range(N_TAIL)])
N_HEAD = len(HEAD)
HOST_PAGES = 250
HOST_WINDOW = 2000
HOST_STEP = 37
DIM = 64


def _zipf_cum(n: int, s: float = 1.2) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return np.cumsum(p / p.sum())


_CUM = _zipf_cum(len(VOCAB))


def _seed(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding draws to one
    stream never shifts another."""
    tag = int.from_bytes(stream.encode(), "little") % (2**31)
    return np.random.default_rng([int(seed) % 2**63, tag])  # any int seed


def corpus(seed: int, first_id: int, n_docs: int) -> pd.DataFrame:
    """(doc_id:int64, text:str) for ids ``first_id .. first_id + n_docs``.

    Rows depend only on (seed, first_id, n_docs), so a later append batch
    is a separate call with its own id range."""
    rng = _seed(seed, f"corpus:{first_id}")
    lens = rng.integers(20, 121, size=n_docs)
    idx = np.searchsorted(_CUM, rng.random(int(lens.sum())), side="right")
    idx = np.minimum(idx, len(VOCAB) - 1)
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    host = np.repeat(ids // HOST_PAGES, lens)
    w0 = (host * HOST_STEP) % (len(VOCAB) - N_HEAD - HOST_WINDOW)
    tail = idx >= N_HEAD
    idx = np.where(tail, N_HEAD + w0 + ((idx - N_HEAD) % HOST_WINDOW), idx)
    toks = VOCAB[idx]
    ends = np.cumsum(lens)
    starts = ends - lens
    text = [" ".join(toks[s:e]) for s, e in zip(starts, ends)]
    return pd.DataFrame({"doc_id": ids, "text": text})


def vectors(seed: int, doc_ids: np.ndarray) -> pd.DataFrame:
    """MaxP vector table (vec_idx, doc_id, psg_id, vector): 1-3 passages
    per doc, in (doc_id, passage) order."""
    rng = _seed(seed, "vectors")
    n_psg = rng.integers(1, 4, size=len(doc_ids))
    doc = np.repeat(doc_ids, n_psg)
    psg_no = np.arange(len(doc)) - np.repeat(np.cumsum(n_psg) - n_psg, n_psg)
    vec = rng.standard_normal((len(doc), DIM)).astype(np.float32)
    return pd.DataFrame({
        "vec_idx": np.arange(len(doc), dtype=np.int64),
        "doc_id": doc.astype(str),
        "psg_id": [f"{d}_{p}" for d, p in zip(doc, psg_no)],
        "vector": list(vec),
    })


def query_texts(seed: int, stream: str, docs: pd.DataFrame, n: int,
                used: set[str] | None = None) -> list[str]:
    """``n`` queries, each one tail term that occurs in the corpus plus 1-2
    distinct head terms. No two queries share a tail term, nor with the
    queries whose tails are in ``used`` (which is updated): a served index
    memoizes each term's dictionary and block lookups, so a tail term seen
    before would make a new query skip its planning jobs by chance.

    The seed picks the tail terms; the head terms follow a fixed schedule
    (:func:`head_terms`). A frequent head term costs a query several times
    what a tail term does, so a seeded draw of heads would change the mix
    of heavy and light queries from run to run, and a run's latency with it."""
    rng = _seed(seed, f"queries:{stream}")
    used = set() if used is None else used
    out = []
    texts = docs["text"].to_numpy()
    while len(out) < n:
        toks = texts[int(rng.integers(0, len(texts)))].split()
        tails = [t for t in toks if t.startswith("tail") and t not in used]
        if not tails:
            continue
        tail = tails[int(rng.integers(0, len(tails)))]
        used.add(tail)
        out.append(" ".join([tail, *head_terms(len(out))]))
    return out


def head_terms(j: int) -> list[str]:
    """Head terms of a stream's ``j``-th query: one for even ``j``, two for
    odd; consecutive queries step through the head ranks 13 apart, so
    any few of them mix frequent and rarer head terms."""
    a = (13 * j) % N_HEAD
    return [HEAD[a]] + ([HEAD[(a + N_HEAD // 2) % N_HEAD]] if j % 2 else [])


def query_vectors(seed: int, q_ids: list[str]) -> dict[str, list[float]]:
    rng = _seed(seed, "qvec")
    vec = rng.standard_normal((len(q_ids), DIM)).astype(np.float32)
    return {q: [float(x) for x in v] for q, v in zip(q_ids, vec)}


def interactive_requests(seed: int, docs: pd.DataFrame, n: int,
                         used: set[str], repeat_every: int = 4) -> list[tuple[str, str]]:
    """(q_id, query) per request; every ``repeat_every``-th request repeats
    an earlier request exactly, so any prefix of the list holds the same
    share of repeats (the run's length decides how many requests it
    serves, and a random share would make its latency swing). The other
    requests are new queries whose tail terms are not in ``used``."""
    rng = _seed(seed, "repeats")
    fresh = iter(query_texts(seed, "interactive", docs, n, used))
    out: list[tuple[str, str]] = []
    for i in range(n):
        if i % repeat_every == repeat_every - 1:
            out.append(out[int(rng.integers(0, len(out)))])
        else:
            out.append((f"q{i}", next(fresh)))
    return out


def delete_ids(seed: int, round_no: int, live: np.ndarray, n: int) -> np.ndarray:
    rng = _seed(seed, f"delete:{round_no}")
    return np.sort(rng.choice(live, size=min(n, len(live)), replace=False))


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if "vector" in df.columns:
        schema = pa.schema([
            ("vec_idx", pa.int64()), ("doc_id", pa.string()),
            ("psg_id", pa.string()), ("vector", pa.list_(pa.float32())),
        ])
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    else:
        table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path)
