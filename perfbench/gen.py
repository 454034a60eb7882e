"""Seeded input generators for the benchmark.

Every generator is a pure function of its ``seed`` (``numpy``'s PCG64), so
the same seed gives byte-identical inputs. Schemas and value domains follow
the fixture family described in FIXTURES.md (documents, embeddings,
events) and the reference's raw taxi schema (FIXTURES.md section B).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "es", "de", "fr", "zh"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
EPOCH_2015 = np.datetime64("2015-01-01T00:00:00", "us")


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def documents(seed: int, n: int) -> pa.Table:
    """Token-soup documents over a 30-word vocabulary, 10-100 tokens each.
    3% are near-duplicates of an earlier document (10% of tokens replaced,
    a trailing ``dup`` marker) and 2% are exact copies, so the dedup and
    similarity operators have real work to find."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks = [t for t in toks if t != "dup"]
            flip = rng.random(len(toks)) < 0.1
            repl = vocab[rng.integers(0, len(vocab), len(toks))]
            toks = [repl[j] if flip[j] else t for j, t in enumerate(toks)]
            texts.append(" ".join(toks + ["dup"]))
        elif i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with a uniform 0-9 label."""
    rng = np.random.default_rng([seed, 2])
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def events(seed: int, n: int, n_users: int) -> pa.Table:
    """Time-ordered events over 30 days of January 2024."""
    rng = np.random.default_rng([seed, 3])
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_corpus_fixture(seed: int, sf_dir: str, n_docs: int, n_vecs: int) -> int:
    """Write ``documents`` and ``embeddings``; return bytes written."""
    return _write(documents(seed, n_docs), f"{sf_dir}/documents.parquet") + _write(
        embeddings(seed, n_vecs), f"{sf_dir}/embeddings.parquet"
    )


def write_events(seed: int, sf_dir: str, n: int, n_users: int) -> int:
    return _write(events(seed, n, n_users), f"{sf_dir}/events.parquet")


def taxi_month(seed: int, n: int) -> pa.Table:
    """Raw taxi trips shaped like the reference's input (FIXTURES.md B):
    a January 2015 month where most rows pass ``clean_and_transform`` and
    a seeded minority violates each of its filters."""
    rng = np.random.default_rng([seed, 4])
    pickup = EPOCH_2015 + rng.integers(0, 31 * 86400, n).astype("timedelta64[s]")
    dur_s = rng.integers(120, 3600, n)
    bad = rng.random(n)
    # ~2% each: too short, too long, non-positive distance, off-box coords
    dur_s = np.where(bad < 0.02, rng.integers(0, 50, n), dur_s)
    dur_s = np.where((bad >= 0.02) & (bad < 0.04), rng.integers(11_000, 20_000, n), dur_s)
    dropoff = pickup + dur_s.astype("timedelta64[s]")
    dist = np.round(rng.gamma(2.0, 1.5, n), 2)
    dist = np.where((bad >= 0.04) & (bad < 0.06), 0.0, dist)
    lon = rng.uniform(-74.1, -73.7, (2, n))
    lat = rng.uniform(40.6, 40.9, (2, n))
    lon[0] = np.where((bad >= 0.06) & (bad < 0.08), 0.0, lon[0])
    fare = np.round(2.5 + dist * 2.5 + rng.uniform(0, 3, n), 2)
    tip = np.round(fare * rng.choice([0.0, 0.1, 0.15, 0.2], n), 2)
    tolls = np.where(rng.random(n) < 0.05, 5.54, 0.0)
    total = np.round(fare + 0.5 + 0.5 + 0.3 + tip + tolls, 2)
    return pa.table(
        {
            "VendorID": rng.integers(1, 3, n).astype(np.int32),
            "tpep_pickup_datetime": pa.array(pickup.astype("datetime64[us]")),
            "tpep_dropoff_datetime": pa.array(dropoff.astype("datetime64[us]")),
            "passenger_count": rng.integers(0, 7, n).astype(np.int32),
            "trip_distance": dist,
            "pickup_longitude": lon[0],
            "pickup_latitude": lat[0],
            "RateCodeID": rng.integers(1, 7, n).astype(np.int32),
            "store_and_fwd_flag": np.where(rng.random(n) < 0.01, "Y", "N"),
            "dropoff_longitude": lon[1],
            "dropoff_latitude": lat[1],
            "payment_type": rng.integers(1, 8, n).astype(np.int32),
            "fare_amount": fare,
            "extra": np.full(n, 0.5),
            "mta_tax": np.full(n, 0.5),
            "tip_amount": tip,
            "tolls_amount": tolls,
            "improvement_surcharge": np.full(n, 0.3),
            "total_amount": total,
        }
    )


def write_taxi_month(seed: int, path: str, n: int) -> int:
    """Write the month; return the in-memory (Arrow) size of its rows."""
    month = taxi_month(seed, n)
    _write(month, path)
    return month.nbytes


# --- CDC table --------------------------------------------------------------

TABLE_PARTS = 8


def table_rows(rng: np.random.Generator, ids: np.ndarray, version: int) -> pa.Table:
    """Rows of the CDC table for keys ``ids``. ``amount_cents`` is integral
    so every UPDATE the workload applies is exact in both the table and
    the replay."""
    n = len(ids)
    return pa.table(
        {
            "id": ids.astype(np.int64),
            "part": (ids % TABLE_PARTS).astype(np.int32),
            "amount_cents": rng.integers(100, 100_000, n).astype(np.int64),
            "status": np.array(["new", "open", "paid"])[rng.integers(0, 3, n)],
            "version": np.full(n, version, dtype=np.int64),
            "note": np.array(VOCAB)[rng.integers(0, len(VOCAB), n)],
        }
    )


def cdc_batch(seed: int, k: int, next_id: int, live_ids: np.ndarray, size: int) -> dict:
    """CDC batch ``k``: fresh keys to append, and two disjoint sets of
    existing keys (plus a few new ones) for the merge-on-read and
    copy-on-write merges. Also picks the UPDATE / DELETE residues and
    the point-read key."""
    rng = np.random.default_rng([seed, 5, k])
    n_new = size
    n_upd = size // 2
    picked = rng.choice(live_ids, 2 * n_upd, replace=False)
    new_ids = np.arange(next_id, next_id + n_new + 2 * 8, dtype=np.int64)
    return {
        "append": table_rows(rng, new_ids[:n_new], k + 1),
        "merge_mor": table_rows(
            rng, np.concatenate([picked[:n_upd], new_ids[n_new : n_new + 8]]), k + 1
        ),
        "merge_cow": table_rows(
            rng, np.concatenate([picked[n_upd:], new_ids[n_new + 8 :]]), k + 1
        ),
        "next_id": int(new_ids[-1]) + 1,
        "update_part": int(rng.integers(0, TABLE_PARTS)),
        "update_mod": int(rng.integers(0, 17)),
        "delete_part": int(rng.integers(0, TABLE_PARTS)),
        "delete_mod": int(rng.integers(0, 29)),
        "point_key": int(rng.choice(live_ids)),
        "scan_part": int(rng.integers(0, TABLE_PARTS)),
    }
