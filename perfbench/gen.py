"""Seeded input generator: TPC-H-shaped parquet that ``adapters.testdata``
reads unchanged.

The engine's adapters derive the wallet log from ``events``, the
bet-round log from ``lineitem``, the ranking fact from ``orders``, the
player dimension from ``customer`` and the site dimension from
``nation``; the LLM chain reads ``documents``.  This module writes those
six tables from a seed alone, with three properties the product paths
need and the stock fixtures lack:

- one calendar: wallet rows (``events.ts``) and bet rounds
  (``lineitem.l_shipdate``) fall on the same days, so one daemon clock
  and one board drive every family;
- bet rounds are spread over the day (not stamped at midnight), so the
  player 5min and 1h windows hold data;
- players registered on a calendar day (the adapter derives
  ``reg_time = 1995-01-01 + custkey % 2000 days``) place a share of
  that day's bet rounds, so the new-register report has rows.

The same seed gives byte-identical tables; files are cached per seed
under ``perfbench/.data``.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated content changes, so stale caches are ignored.
GEN_VERSION = 5

#: The calendar every table shares.  Its last day ends a month, so a
#: board over it carries a 1M window whose end is the next midnight, and
#: its day index (211) is not a multiple of 5, so the player registered
#: on it is a NORMAL player, not a robot (see ``adapters.testdata.player``).
DAY0 = datetime(1995, 7, 29)
N_DAYS = 3
REG_EPOCH = datetime(1995, 1, 1)
#: Share of a day's bet rounds placed by the player registered that day.
NEW_PLAYER_SHARE = 0.1

EVENTS_PER_DAY = 4000
LINEITEMS_PER_DAY = 4000
ORDERS_PER_DAY = 400
N_CUSTOMERS = 3000
N_DOCS = 400

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
#: ``functions.text`` scores the stopword ratio.  Content words are a
#: fixed list of random letter strings (the same for every seed), so
#: unrelated documents share almost no character 5-grams and near-dup
#: pairs come only from the planted copies.
STOPWORDS = ("the", "a", "of", "and")
STOPWORD_SHARE = 0.15
_WORD_RNG = np.random.default_rng(0)
CONTENT_WORDS = tuple(
    "".join(_WORD_RNG.choice(list("abcdefghijklmnopqrstuvwxyz"), int(n))) for n in _WORD_RNG.integers(3, 9, 2000)
)
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
N_SOURCES = 20
#: Shared boilerplate that recurs across documents, so the
#: duplicated-span stage has cross-document spans to cut.
BOILERPLATE = [
    "subscribe to the stream for more data about the batch query and its merge window",
    "this part of the table is a copy of the big scan and the hash join on the key row",
    "all values in this column are from the fast filter on the vector customer order",
]

TABLES = ("events", "lineitem", "orders", "customer", "nation", "documents")

DATA_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".data")


def _day_stamps(rng: np.random.Generator, n_per_day: int) -> np.ndarray:
    """``n_per_day`` microsecond timestamps per calendar day, uniform
    within the day, sorted."""
    base = np.repeat(np.arange(N_DAYS, dtype=np.int64) * 86_400_000_000, n_per_day)
    offs = rng.integers(0, 86_400_000_000, size=base.size, dtype=np.int64)
    us = np.sort(base + offs) + int(pd.Timestamp(DAY0).value // 1000)
    return us.astype("datetime64[us]")


def _events(rng: np.random.Generator) -> pd.DataFrame:
    ts = _day_stamps(rng, EVENTS_PER_DAY)
    n = ts.size
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n, dtype=np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, EVENT_TYPES.size, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _lineitem(rng: np.random.Generator) -> pd.DataFrame:
    ts = _day_stamps(rng, LINEITEMS_PER_DAY)
    n = ts.size
    qty = rng.integers(1, 51, n).astype(np.float64)
    # the adapter names a bet round's player ``orderkey % 300``; players
    # 0..299 register on day ``name`` after REG_EPOCH
    orderkey = rng.integers(0, 60_000, n, dtype=np.int64)
    day = (ts.astype("datetime64[D]") - np.datetime64(REG_EPOCH.date())).astype(np.int64)
    new = rng.random(n) < NEW_PLAYER_SHARE
    orderkey[new] = orderkey[new] // 300 * 300 + day[new] % 300
    return pd.DataFrame(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 20_001, n, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": ts,
        }
    )


def _orders(rng: np.random.Generator) -> pd.DataFrame:
    days = np.repeat(np.arange(N_DAYS), ORDERS_PER_DAY)
    n = days.size
    dates = (np.datetime64(DAY0.date()) + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, n, dtype=np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": dates,
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n)
            ],
        }
    )


def _customer(rng: np.random.Generator) -> pd.DataFrame:
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, N_CUSTOMERS), 2),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, N_CUSTOMERS)
            ],
        }
    )


def _nation() -> pd.DataFrame:
    keys = np.arange(25, dtype=np.int32)
    return pd.DataFrame(
        {"n_nationkey": keys, "n_name": [f"NATION_{k}" for k in keys], "n_regionkey": (keys % 5).astype(np.int32)}
    )


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    """Random-word documents over a fixed vocabulary.  A fifth of the
    corpus are copies of distinct originals with two words replaced (so
    every near-dup component is one pair, and the component labeling
    converges in the same number of rounds for every seed), and a tenth
    of the originals embed a shared boilerplate sentence."""
    n_copies = N_DOCS // 5
    n_orig = N_DOCS - n_copies

    def words(n: int) -> list[str]:
        stop = rng.random(n) < STOPWORD_SHARE
        picks = np.where(stop, rng.integers(0, len(STOPWORDS), n), rng.integers(0, len(CONTENT_WORDS), n))
        return [STOPWORDS[p] if s else CONTENT_WORDS[p] for s, p in zip(stop, picks)]

    texts = [words(int(rng.integers(30, 70))) for _ in range(n_orig)]
    for i in rng.choice(n_orig, n_orig // 10, replace=False):
        at = int(rng.integers(0, len(texts[i]) + 1))
        texts[i][at:at] = BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))].split()
    for i in rng.choice(n_orig, n_copies, replace=False):
        copy = list(texts[i])
        for at in rng.choice(len(copy), 2, replace=False):
            copy[at] = CONTENT_WORDS[int(rng.integers(0, len(CONTENT_WORDS)))]
        texts.append(copy)
    texts = [" ".join(t) for t in texts]
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, LANGS.size, N_DOCS)],
            "source": [f"src{s}" for s in np.arange(N_DOCS) % N_SOURCES],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate_frames(seed: int) -> dict[str, pd.DataFrame]:
    """Every input table for ``seed`` as pandas frames (no I/O)."""
    root = np.random.SeedSequence(seed)
    streams = dict(zip(TABLES, root.spawn(len(TABLES))))
    rng = {name: np.random.default_rng(s) for name, s in streams.items()}
    return {
        "events": _events(rng["events"]),
        "lineitem": _lineitem(rng["lineitem"]),
        "orders": _orders(rng["orders"]),
        "customer": _customer(rng["customer"]),
        "nation": _nation(),
        "documents": _documents(rng["documents"]),
    }


def content_hash(frames: dict[str, pd.DataFrame]) -> str:
    """Order-sensitive hash of every table's rows and column names."""
    h = hashlib.sha256()
    for name in sorted(frames):
        df = frames[name]
        h.update(name.encode())
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def ensure_inputs(seed: int, root: str = DATA_ROOT) -> str:
    """Directory holding ``<table>.parquet`` for ``seed``; generated on
    first use and reused afterwards.  A ``_SUCCESS`` marker is written
    last, so an interrupted generation is redone, never half-read."""
    out = os.path.join(root, f"v{GEN_VERSION}-seed{seed}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    os.makedirs(out, exist_ok=True)
    frames = generate_frames(seed)
    for name, df in frames.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_SUCCESS"), "w") as f:
        f.write(content_hash(frames) + "\n")
    return out


def calendar_day(i: int) -> datetime:
    """Midnight of the ``i``-th generated day."""
    return DAY0 + timedelta(days=i)
