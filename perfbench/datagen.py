"""Seeded synthetic fixture tables for the benchmark.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``), one parquet file each,
with the schemas and value shapes of the engine's fixture set (FIXTURES.md
§A) at scale factor ``sf``: 150k·sf customers, 10k·sf suppliers, 200k·sf
parts, 1.5M·sf orders, 6M·sf lineitems, 1M·sf events, 50k·sf documents and
20k·sf embeddings (small tables have floors so every code path has input).

Two planted structures keep the workloads' work shape fixed across seeds:

- **restore candidates.** Every listing instance ``OCG_INST<k>`` gets three
  newest backups whose archive health follows a fixed pattern per
  stratum ``k % 4`` (see :data:`RESTORE_STRATA`). The engine derives archive
  health from the backup's mtime second (``% 3 == 0`` corrupt,
  ``% 5 == 0`` two members); the seed only picks which second of each class.
- **near and exact duplicates.** About 5% of documents copy an earlier
  document's text plus a trailing ``dup`` token, and about 1% copy one
  verbatim, so the dedup indexes and admission gates always have hits.

Run ``python3 perfbench/datagen.py OUT_DIR SF SEED`` to write a set by hand.
"""

from __future__ import annotations

import os
import shutil
import sys
import uuid
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: archive health of the three newest backups (rank 1, 2, 3) per
#: ``k % 4``: V viable, G corrupt bytes, M two members.
RESTORE_STRATA = {
    0: "VGM",  # first candidate restores
    1: "GVM",  # one failed probe, then a restore
    2: "MGV",  # two failed probes, then a restore
    3: "GMG",  # every probe fails: the instance is reported not ok
}

_SECONDS = {
    "V": [s for s in range(60) if s % 3 and s % 5],
    "G": [s for s in range(60) if s % 3 == 0],
    "M": [s for s in range(60) if s % 5 == 0 and s % 3],
}

_WORDS = (
    "a the data row column table key value query scan filter join merge sort "
    "hash group agg window stream batch spark line order part customer fast "
    "slow big small vector"
).split()
_ADJ = "cold small large blue old new hot red".split()
_NOUN = "widget bolt rod anvil ring gizmo plate gear".split()
_US_PER_DAY = 86_400_000_000


def _ts(day: str) -> int:
    return int(datetime.fromisoformat(day).timestamp()) * 1_000_000


def _us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _choice(rng, words, n):
    return np.asarray(words, dtype=object)[rng.integers(0, len(words), n)]


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    vocab = np.asarray(_WORDS, dtype=object)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            text[i] = text[int(rng.integers(0, i))] + " dup"
        elif u < 0.06:
            text[i] = text[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    langs = np.where(
        rng.random(n) < 0.4, "en", _choice(rng, ["fr", "es", "zh", "de"], n)
    )
    return {
        "doc_id": ids,
        "text": text,
        "lang": langs.astype(object),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def _events(rng, n: int, n_users: int) -> dict:
    start = _ts("2024-01-01")
    ts = start + rng.integers(0, 30 * _US_PER_DAY, n)
    user = rng.integers(0, n_users, n)
    # three newest backups per instance, planted after the 30-day range:
    # rank 1 is the newest, each rank one minute older than the previous
    plant_ts, plant_user = [], []
    base = _ts("2024-01-31")
    for k in range(20):
        users_k = np.arange(k, n_users, 20)
        for rank, health in enumerate(RESTORE_STRATA[k % 4]):
            minute = (k * 4 + (3 - rank)) * 60_000_000
            second = int(rng.choice(_SECONDS[health])) * 1_000_000
            plant_ts.append(base + minute + second + int(rng.integers(0, 1_000_000)))
            plant_user.append(int(rng.choice(users_k)))
    ts = np.concatenate([ts, np.asarray(plant_ts, dtype=np.int64)])
    user = np.concatenate([user, np.asarray(plant_user, dtype=np.int64)])
    m = len(ts)
    value = np.round(rng.exponential(50.0, m), 2)
    return {
        "event_id": np.arange(m, dtype=np.int64),
        "ts": _us(ts),
        "user_id": user.astype(np.int64),
        "event_type": _choice(rng, ["click", "purchase", "error", "signup", "view"], m),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
    }


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write the table set for (``sf``, ``seed``) to ``out_dir`` unless a
    complete set is already there; build into a temp dir, then rename."""
    if os.path.exists(os.path.join(out_dir, ".done")):
        return out_dir
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    tmp = f"{out_dir}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(tmp, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(tmp, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(tmp, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _choice(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(tmp, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(tmp, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_choice(rng, _ADJ, n_part), _choice(rng, _NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 200) * 0.1, 2),
    })
    day0 = _ts("1995-01-01")
    _write(tmp, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _us(day0 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(tmp, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _us(day0 + (1 + rng.integers(0, 2498, n_line)) * _US_PER_DAY),
    })
    _write(tmp, "events", _events(rng, n_ev, n_users))
    _write(tmp, "documents", _documents(rng, n_docs))
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(tmp, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    with open(os.path.join(tmp, ".done"), "w") as f:
        f.write(f"sf={sf} seed={seed}\n")
    try:
        os.rename(tmp, out_dir)
    except OSError:  # a concurrent generator published first
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
