"""Seeded inputs for the benchmark.

Two generators:

- ``write_star_tables`` writes the ten parquet tables the registry
  queries read (region .. embeddings), with the schemas in
  ``tvbigdataproject_spark.schemas.TESTDATA_SCHEMAS`` and the value
  shapes of the repo's test data at sf0.01 or sf0.1: uniform keys, TPC-H-style
  enumerations, 64-dim unit embeddings around 10 centres, documents
  drawn from a small vocabulary. Unlike that data, 10% of the documents
  are exact or near copies of earlier ones, so the dedup queries find
  pairs.
- ``tweet_records`` builds the tweet corpus of FIXTURES.md section A:
  Zipf-skewed hashtags with one hub tag whose user share is bounded,
  case and accent variants of the same tag, at least 30% retweets,
  null text and null tag lists. ``write_tweets`` renders it as JSON
  lines; the same seed gives a byte-identical file.

Run ``python3 perfbench/datagen.py <dir> [seed]`` to write both.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the repo's test data at each scale factor (TESTDATA.md).
STAR_ROWS = {
    0.01: {
        "customer": 1500,
        "supplier": 100,
        "part": 2000,
        "orders": 15000,
        "lineitem": 60000,
        "events": 10000,
        "event_users": 150,
        "documents": 500,
        "embeddings": 500,
    },
    0.1: {
        "customer": 15000,
        "supplier": 1000,
        "part": 20000,
        "orders": 150000,
        "lineitem": 600000,
        "events": 100000,
        "event_users": 1500,
        "documents": 5000,
        "embeddings": 2000,
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order group big "
    "stream filter vector"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _day_stamps(rng, n: int, first: dt.date, last: dt.date) -> np.ndarray:
    start = _micros(dt.datetime.combine(first, dt.time()))
    days = rng.integers(0, (last - first).days + 1, n)
    return start + days * 86_400_000_000


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def star_tables(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    """The ten star-schema tables at scale factor ``sf`` (a key of
    STAR_ROWS), as arrow tables."""
    rng = np.random.default_rng(seed)
    n = STAR_ROWS[sf]
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    pk = np.arange(n["part"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _ts(_day_stamps(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_day_stamps(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4))),
        }
    )
    ne = n["events"]
    t0 = _micros(dt.datetime(2024, 1, 1))
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n["event_users"], ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.02:
            text = texts[int(rng.integers(0, i))]
        elif i > 10 and roll < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            text = " ".join(words)
        else:
            text = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90))))
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centres = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    vecs = centres[labels] + rng.normal(scale=0.6, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_star_tables(out_dir: str, seed: int, sf: float = 0.01) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- tweet corpus -----------------------------------------------------------

# Each base tag comes with spellings that normalize_tags folds together.
TAG_VARIANTS = [
    ["Café", "café", "CAFE", "cafe"],
    ["Música", "musica", "MUSICA"],
    ["Žurnál", "zurnal", "ZURNAL"],
    ["Čaj", "caj"],
    ["Señal", "SEÑAL", "señal"],  # ñ is not in the fold table and stays
]


def tweet_records(
    seed: int,
    n_tweets: int = 1500,
    n_users: int = 300,
    n_tags: int = 100,
    hub_user_share: float = 0.2,
) -> list[dict]:
    """Tweet dicts in the TWEET_SCHEMA shape.

    Each user posts about a profile of three tags drawn Zipf(0.5) from
    ``n_tags - 1`` base tags. Tag 0 is the hub, the most used tag: every
    post of ``hub_user_share`` of the users carries it, and only they
    retweet it.
    ``pair_candidates`` pairs every two users sharing a tag with no
    degree cap, so that share bounds the hub's candidate pairs at about
    (share * users)^2 / 2.
    """
    rng = np.random.default_rng(seed)
    base = [v[0] for v in TAG_VARIANTS] + [f"tag{i}" for i in range(len(TAG_VARIANTS), n_tags)]
    spellings = [TAG_VARIANTS[i] if i < len(TAG_VARIANTS) else [t, t.upper(), t.title()] for i, t in enumerate(base)]
    weights = 1.0 / np.arange(1, n_tags) ** 0.5
    weights /= weights.sum()
    hub_users = set(rng.choice(n_users, int(hub_user_share * n_users), replace=False).tolist())
    profiles = [1 + rng.choice(n_tags - 1, 3, replace=False, p=weights) for _ in range(n_users)]
    user_ids = 10_000 + rng.permutation(n_users * 7)[:n_users]

    def tags_for(u: int) -> list[str] | None:
        if rng.random() < 0.1:
            return None
        picks = [0] * (u in hub_users) + rng.choice(profiles[u], int(rng.integers(1, 3))).tolist()
        return [spellings[t][int(rng.integers(0, len(spellings[t])))] for t in picks]

    def text_for(tags: list[str] | None) -> str | None:
        if rng.random() < 0.08:
            return None
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(3, 15)))]
        return " ".join(words + ["#" + t for t in tags or []]) + "!"

    def entities(tags):
        return None if tags is None else [{"text": t} for t in tags]

    originals: list[dict] = []
    records: list[dict] = []
    for i in range(n_tweets):
        u = int(rng.integers(0, n_users))
        orig = originals[int(rng.integers(0, len(originals)))] if originals else None
        if orig is not None and rng.random() < 0.45 and (u in hub_users or not orig["hub"]):
            tags = orig["hashtagEntitiesArray"]
            rec = {
                "user": {"id": int(user_ids[u])},
                "text": None if rng.random() < 0.1 else "RT " + (orig["text"] or ""),
                "hashtagEntities": entities(tags),
                "hashtagEntitiesArray": tags,
                "retweeted_status": {
                    "user": orig["user"],
                    "text": orig["text"],
                    "hashtagEntities": orig["hashtagEntities"],
                    "hashtagEntitiesArray": tags,
                },
            }
        else:
            tags = tags_for(u)
            rec = {
                "user": {"id": int(user_ids[u])},
                "text": text_for(tags),
                "hashtagEntities": entities(tags),
                "hashtagEntitiesArray": tags,
                "retweeted_status": None,
            }
            originals.append({**rec, "hub": any(t in spellings[0] for t in tags or [])})
        records.append(rec)
    return records


def write_tweets(records: list[dict], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for rec in records:
            fh.write(json.dumps(rec, ensure_ascii=False, separators=(",", ":")))
            fh.write("\n")


if __name__ == "__main__":
    out = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    write_star_tables(os.path.join(out, "star"), seed)
    write_tweets(tweet_records(seed), os.path.join(out, "tweets.json"))
