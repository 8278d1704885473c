"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and a size), so the same
seed always yields byte-identical inputs. The shapes mirror the repo's
fixture tables (FIXTURES.md §3-5) and the GitHub event envelope
(FIXTURES.md §2): the program under test sees these files and nothing
else.
"""

from __future__ import annotations

import gzip
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "hot", "red"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
WORDS = (
    "a the data row column table query join hash sort merge scan filter "
    "group agg window stream batch spark vector key value order line "
    "part customer fast slow big small"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
GH_TYPES = ["PushEvent", "WatchEvent", "IssuesEvent", "ForkEvent", "PullRequestEvent"]
# Strings that exercise JSON escaping and multi-byte UTF-8 in ``raw``.
ODD_NAMES = ['dé"jà', "日本語", "emoji \U0001F680", 'quote "x" \\ back', "tab\there"]


def _dates(rng, lo: str, hi: str, n: int) -> np.ndarray:
    d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (d1 - d0).astype(int) + 1, n)
    return (d0 + days).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


DUP_EVERY = 20


def documents(seed: int, n: int) -> pd.DataFrame:
    """Documents over a 30-word vocabulary. Every ``DUP_EVERY``-th
    document is the one ``DUP_EVERY // 2`` before it plus the word
    ``dup`` (the fixture's near-dup shape), so every dedup operator has
    real clusters to find. Lengths and the duplicate layout depend only
    on ``n``; the seed draws the words, so the dedup work is the same
    for every seed."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n):
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[i - DUP_EVERY // 2] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, 8 + (i * 37) % 92)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, n: int) -> pd.DataFrame:
    """Unit vectors of the fixture's dimension (64) with labels 0-9."""
    rng = np.random.default_rng([seed, 2])
    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(m),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def tables(seed: int) -> dict[str, pd.DataFrame]:
    """All ten fixture tables at the sf0.001 sizes."""
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev = 1500, 6000, 1000
    out = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500000, n_ord),
                "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
    }
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, n_ev // 66), n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = documents(seed, 500)
    out["embeddings"] = embeddings(seed, 500)
    return out


def write_tables(seed: int, out_dir: str) -> None:
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


BIG_LINE_BYTES = 1 << 20


def hour_files(seed: int, out_dir: str, hours: int, per_hour: int) -> dict[str, int]:
    """GH Archive-style hourly ``YYYY-MM-DD-H.json.gz`` files.

    Edge cases (FIXTURES.md §2): ids as JSON strings and as numbers, a
    slice of each hour repeated verbatim in the next hour (cross-batch
    duplicates of the same ``(ts, id)`` key), unicode and embedded quotes
    in string fields, events without a ``payload``, a few malformed lines
    the parser must drop, and one line of ``BIG_LINE_BYTES``.

    Returns ``lines`` (all lines written), ``valid`` (lines with a usable
    id and created_at), ``distinct_keys`` (distinct ``(ts, id)`` among
    them, i.e. the compacted table's row count) and ``raw_bytes``
    (uncompressed NDJSON bytes).
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    t0 = datetime(2020, 1, 1)
    keys: set[tuple[str, int]] = set()
    next_id = 10_000_000 + int(rng.integers(0, 1000)) * 1000
    stats = {"lines": 0, "valid": 0, "raw_bytes": 0}
    carry: list[str] = []
    big_hour = int(rng.integers(0, hours))
    for h in range(hours):
        hour = t0 + timedelta(hours=h)
        lines = list(carry)
        secs = np.sort(rng.integers(0, 3600, per_hour))
        actors = rng.integers(1, 5000, per_hour)
        repos = rng.integers(1, 2000, per_hour)
        types = rng.choice(GH_TYPES, per_hour)
        for i in range(per_hour):
            created = (hour + timedelta(seconds=int(secs[i]))).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
            eid = next_id
            next_id += 1
            ev = {
                "id": eid if i % 7 == 0 else str(eid),
                "type": str(types[i]),
                "actor": {
                    "id": int(actors[i]),
                    "login": f"user{actors[i]}",
                    "display_login": ODD_NAMES[i % 5] if i % 11 == 0 else f"user{actors[i]}",
                },
                "repo": {"id": int(repos[i]), "name": f"org{repos[i] % 97}/repo{repos[i]}"},
                "public": True,
                "created_at": created,
            }
            if i % 13:
                ev["payload"] = {"push_id": eid, "size": int(i % 5), "ref": "refs/heads/main"}
            if h == big_hour and i == 0:
                ev["payload"] = {"blob": "x" * BIG_LINE_BYTES}
            lines.append(json.dumps(ev, ensure_ascii=False))
            keys.add((created, eid))
        # malformed lines: unparseable id, unparseable timestamp
        lines.append('{"id": "not-a-number", "created_at": "2020-01-01T00:00:00Z"}')
        lines.append(f'{{"id": "{next_id}", "created_at": "yesterday"}}')
        next_id += 1
        stats["valid"] += len(lines) - 2
        # the next hour re-delivers this hour's last 2% verbatim
        carry = lines[-2 - max(1, per_hour // 50) : -2]
        body = ("\n".join(lines) + "\n").encode("utf-8")
        name = f"{hour:%Y-%m-%d}-{hour.hour}.json.gz"
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(gzip.compress(body, compresslevel=6, mtime=0))
        stats["lines"] += len(lines)
        stats["raw_bytes"] += len(body)
    stats["distinct_keys"] = len(keys)
    return stats


def epoch_files(docs: pd.DataFrame, seed: int, k: int, out_dir: str) -> None:
    """Split ``docs`` into ``k`` equal parquet files by a seeded
    permutation (file ``i`` holds epoch ``i``).
    The file source orders files by modification time, so file ``i`` is
    stamped ``i`` seconds after file 0: a stream with
    ``maxFilesPerTrigger=1`` replays them one epoch per trigger."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng([seed, 4]).permutation(len(docs))
    t0 = 1_600_000_000
    for i, idx in enumerate(np.array_split(order, k)):
        part = docs.iloc[np.sort(idx)]
        path = os.path.join(out_dir, f"epoch-{i:04d}.parquet")
        part.to_parquet(path, index=False)
        os.utime(path, (t0 + i, t0 + i))
