"""Seeded benchmark inputs.

Everything here is plain pandas/pyarrow: staging uses no Spark, so its
time is the generator's and the file writes'. The program under test
receives only the files written here.

* Transactions come from the repository's own generator
  (``sources.generator``). A base pool is generated once per seed and tiled
  into larger backlogs: each tile gets distinct transaction ids and an
  event-time shift of ``POOL_DAYS``, so per-user windows never straddle tiles.
* Wire frames are the Kafka ``(key, value)`` shape that
  ``sources.kafka.parse_transactions`` reads, written as parquet files.
* The corpus is random-word documents with planted near-duplicate clusters;
  :func:`exact_clusters` is the exhaustive reference the dedup gate uses.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from realtime_fraud_detection_spark.sources import generator as G

N_USERS = 10_000
N_MERCHANTS = 5_000
POOL_DAYS = 4
POOL_ROWS = 15_000  # generating is ~75 us/row; tiling is nearly free
# the generator's burst clones add ~17% rows on top of the requested count
BURST_FACTOR = 1.17


def profiles(seed: int, n_users: int = N_USERS) -> tuple[pd.DataFrame, pd.DataFrame]:
    return G.generate_profiles(n_users=n_users, n_merchants=N_MERCHANTS, seed=seed)


def transactions(users, merchants, n_events: int, seed: int) -> pd.DataFrame:
    """``n_events`` events (burst clones included): one generated pool of at
    most ``POOL_ROWS`` rows, tiled until it is large enough, then cut to
    ``n_events`` rows in event-time order."""
    base = G.generate_transactions(
        users, merchants, n=min(POOL_ROWS, int(n_events / BURST_FACTOR) + 1),
        seed=seed, days=POOL_DAYS,
    )
    tiles = []
    for k in range(-(-n_events // len(base))):
        t = base.copy()
        if k:
            t["transaction_id"] = t["transaction_id"] + f"_t{k}"
            t["ts"] = t["ts"] + pd.Timedelta(days=POOL_DAYS * k)
        tiles.append(t)
    return pd.concat(tiles, ignore_index=True).iloc[:n_events].reset_index(drop=True)


def wire_values(tx: pd.DataFrame) -> list[str]:
    """JSON payloads in the shape ``serialize_for_kafka`` emits: every
    generator column, locations as ``{lat, lon}`` structs, ISO-8601 UTC
    timestamps with milliseconds."""
    df = tx.drop(columns=["lat", "lon", "m_lat", "m_lon"])
    df["ts"] = tx["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f").str[:-3] + "Z"
    df["geolocation"] = [{"lat": a, "lon": b} for a, b in zip(tx["lat"], tx["lon"])]
    df["merchant_location"] = [
        {"lat": a, "lon": b} for a, b in zip(tx["m_lat"], tx["m_lon"])
    ]
    return df.to_json(orient="records", lines=True, double_precision=15).splitlines()


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> list[tuple[str, int]]:
    """Split ``table`` (in order) into ``n_files`` parquet files; returns
    ``(path, rows)`` per file in order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).round().astype(int)
    files = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        files.append((path, int(hi - lo)))
    return files


def write_wire_files(tx: pd.DataFrame, out_dir: str, n_files: int) -> list[tuple[str, int]]:
    return _write_parts(
        pa.table({"key": tx["transaction_id"].tolist(), "value": wire_values(tx)}), out_dir, n_files
    )


def write_typed_files(tx: pd.DataFrame, out_dir: str, n_files: int) -> list[tuple[str, int]]:
    """Already-typed ``(user_id, transaction_id, ts, amount)`` files: the
    state probe skips JSON parsing."""
    cols = tx[["user_id", "transaction_id", "ts", "amount"]].copy()
    cols["ts"] = cols["ts"].astype("datetime64[us]")
    return _write_parts(pa.Table.from_pandas(cols, preserve_index=False), out_dir, n_files)


# ---------------------------------------------------------------------------
# the dedup probe's corpus
# ---------------------------------------------------------------------------
DOC_WORDS = 48
VOCAB = 20_000
DUP_SHARE = 0.3  # share of documents that are planted near-duplicates
JACCARD_THRESHOLD = 0.7
SHINGLE_K = 3


def corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """``n_docs`` documents of ``DOC_WORDS`` random words; ``DUP_SHARE`` of
    them are copies of an earlier original with one word replaced, so a
    planted duplicate has 3-shingle Jaccard >= 43/49 with its original.
    Doc ids are a seeded permutation, so cluster ids are not positional."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(VOCAB)])
    n_dup = int(n_docs * DUP_SHARE)
    n_orig = n_docs - n_dup
    words = rng.integers(0, VOCAB, (n_docs, DOC_WORDS))
    src = rng.integers(0, n_orig, n_dup)
    words[n_orig:] = words[src]
    pos = rng.integers(0, DOC_WORDS, n_dup)
    words[np.arange(n_orig, n_docs), pos] = rng.integers(0, VOCAB, n_dup)
    ids = rng.permutation(n_docs).astype("int64") + 1
    return pd.DataFrame({"doc_id": ids, "text": [" ".join(vocab[w]) for w in words]})


def exact_clusters(docs: pd.DataFrame) -> dict[int, int]:
    """doc_id -> min doc_id of its component, over EVERY pair with 3-shingle
    Jaccard >= JACCARD_THRESHOLD. Exhaustive: an inverted shingle index
    enumerates every pair that shares a shingle (all others have Jaccard
    0), and each is scored exactly."""
    sets = {}
    index: dict[str, list[int]] = {}
    for doc, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        w = text.split()
        sh = frozenset(" ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1))
        sets[doc] = sh
        for s in sh:
            index.setdefault(s, []).append(doc)
    parent = {d: d for d in sets}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for members in index.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                pair = (a, b) if a < b else (b, a)
                if pair in seen:
                    continue
                seen.add(pair)
                sa, sb = sets[a], sets[b]
                if len(sa & sb) / len(sa | sb) >= JACCARD_THRESHOLD:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in sets}
