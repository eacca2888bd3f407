"""Seeded input generation for the benchmark workloads.

Everything the program under test receives (table rows, update
generations, key batches, documents, vectors and queries) is made here
from ``--seed`` with NumPy's PCG64 generator. Sizes follow the sf0.1
test data (orders 150k rows, documents 5k, embeddings 2k) and never
depend on the seed, so a different seed changes the values but not the
amount of work per op. The latest view ``kv_point`` checks against is
computed here too, from the same frames, without Spark.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd

ORDERS_ROWS = 150_000
ORDERS_KEY_SPACE = 4 * ORDERS_ROWS  # present keys are a 1-in-4 sample
KEY_BATCH_SIZES = (1, 8, 64)  # one kv_point cycle: one batch of each
KEY_BATCH_CYCLES = 16  # distinct batch cycles before the pool repeats
ABSENT_KEY_SHARE = 0.10
DOCS = 5_000
EMBEDDINGS = 2_000
DIM = 64
INCREMENT_DOCS = 16
TEXT_QUERIES = 8
TERMS_PER_QUERY = 3
VECTOR_QUERIES = 8

_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_COMMON = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join index region"
).split()
VOCAB = _COMMON + [f"w{i}" for i in range(400)]


def orders_catalog(name: str) -> str:
    return json.dumps(
        {
            "table": {"namespace": "bench", "name": name, "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "o_orderkey": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "o_custkey": {"cf": "o", "col": "ck", "type": "bigint"},
                "o_orderstatus": {"cf": "o", "col": "st", "type": "string"},
                "o_totalprice": {"cf": "o", "col": "tp", "type": "double"},
                "o_orderpriority": {"cf": "o", "col": "pr", "type": "string"},
            },
        }
    )


def fingerprint(obj) -> str:
    """Stable digest of generated inputs (tests compare seeds with it)."""
    h = hashlib.sha256()

    def feed(o) -> None:
        if isinstance(o, dict):
            for k in sorted(o, key=str):
                h.update(str(k).encode())
                feed(o[k])
        elif isinstance(o, (list, tuple)):
            for v in o:
                feed(v)
        elif isinstance(o, pd.DataFrame):
            for col in o.columns:
                values = o[col].to_numpy()
                if values.dtype == object and len(values) and isinstance(values[0], np.ndarray):
                    values = np.stack(values)
                elif values.dtype == object:
                    values = np.array([str(v) for v in values])
                h.update(values.tobytes())
        else:
            h.update(repr(o).encode())

    feed(obj)
    return h.hexdigest()


def _orders_rows(rng, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, 15_000, n, dtype=np.int64),
            "o_orderstatus": _STATUS[rng.integers(0, len(_STATUS), n)],
            "o_totalprice": np.round(rng.uniform(900.0, 400_000.0, n), 2),
            "o_orderpriority": _PRIORITY[rng.integers(0, len(_PRIORITY), n)],
        }
    )


def _apply_updates(base: pd.DataFrame, key: list, updates: list) -> pd.DataFrame:
    """Latest view after whole-row update generations (later wins)."""
    out = pd.concat([base] + updates, ignore_index=True)
    return out.drop_duplicates(subset=key, keep="last").sort_values(key, ignore_index=True)


def kv_inputs(seed: int) -> dict:
    """orders base + 2 update generations of 1%, and key batches."""
    rng = np.random.default_rng([seed, 1])
    keys = np.sort(rng.choice(ORDERS_KEY_SPACE, ORDERS_ROWS, replace=False))
    base = _orders_rows(rng, keys)
    updates = [
        _orders_rows(rng, np.sort(rng.choice(keys, ORDERS_ROWS // 100, replace=False)))
        for _ in range(2)
    ]
    latest = _apply_updates(base, ["o_orderkey"], updates)
    absent = np.setdiff1d(np.arange(ORDERS_KEY_SPACE), keys)
    batches = []
    for _ in range(KEY_BATCH_CYCLES):
        for size in KEY_BATCH_SIZES:
            n_absent = int(round(size * ABSENT_KEY_SHARE))
            picked = np.concatenate(
                [
                    rng.choice(keys, size - n_absent, replace=False),
                    rng.choice(absent, n_absent, replace=False),
                ]
            )
            batches.append([int(k) for k in rng.permutation(picked)])
    return {"base": base, "updates": updates, "latest": latest, "batches": batches}


def _doc(rng, n_words: int) -> list:
    # common words dominate, rare words make documents distinguishable
    common = rng.random(n_words) < 0.6
    words = np.where(
        common,
        np.array(_COMMON)[rng.integers(0, len(_COMMON), n_words)],
        np.array(VOCAB[len(_COMMON):])[rng.integers(0, len(VOCAB) - len(_COMMON), n_words)],
    )
    return list(words)


def _near_copy(rng, words: list) -> list:
    out = list(words)
    out[int(rng.integers(0, len(out)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def index_inputs(seed: int) -> dict:
    """Corpus documents (10% near-duplicates of earlier ones), clustered
    unit vectors, and one query of each operator: a 16-doc increment
    (half near-copies of corpus docs), 8 three-term BM25 queries and 8
    query vectors near corpus vectors."""
    rng = np.random.default_rng([seed, 4])
    docs = []
    for i in range(DOCS):
        if i >= 100 and rng.random() < 0.10:
            docs.append(_near_copy(rng, docs[int(rng.integers(0, i))]))
        else:
            docs.append(_doc(rng, int(rng.integers(30, 60))))
    corpus = pd.DataFrame({"doc_id": np.arange(DOCS, dtype=np.int64), "text": [" ".join(d) for d in docs]})
    inc = []
    for j in range(INCREMENT_DOCS):
        if j % 2 == 0:
            inc.append(_near_copy(rng, docs[int(rng.integers(0, DOCS))]))
        else:
            inc.append(_doc(rng, int(rng.integers(30, 60))))
    increment = pd.DataFrame(
        {"doc_id": np.arange(DOCS, DOCS + INCREMENT_DOCS, dtype=np.int64), "text": [" ".join(d) for d in inc]}
    )
    centers = rng.normal(size=(16, DIM))
    vecs = centers[rng.integers(0, 16, EMBEDDINGS)] + 0.35 * rng.normal(size=(EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame({"vec_id": np.arange(EMBEDDINGS, dtype=np.int64), "embedding": list(vecs)})
    qv = vecs[rng.choice(EMBEDDINGS, VECTOR_QUERIES, replace=False)] + 0.05 * rng.normal(size=(VECTOR_QUERIES, DIM))
    qv = (qv / np.linalg.norm(qv, axis=1, keepdims=True)).astype(np.float32)
    vector_queries = pd.DataFrame(
        {"vec_id": np.arange(10**6, 10**6 + VECTOR_QUERIES, dtype=np.int64), "embedding": list(qv)}
    )
    # two common terms and one rare term per query: the postings read
    # per batch do not depend on the seed
    text_queries = {
        f"q{i}": [str(t) for t in rng.choice(_COMMON, TERMS_PER_QUERY - 1, replace=False)]
        + [str(rng.choice(VOCAB[len(_COMMON):]))]
        for i in range(TEXT_QUERIES)
    }
    return {
        "corpus": corpus,
        "increment": increment,
        "embeddings": embeddings,
        "vector_queries": vector_queries,
        "text_queries": text_queries,
    }
