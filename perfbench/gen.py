"""Seeded input generators. The same seed gives byte-identical inputs; the
package under test only ever sees the generated files."""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np

# ---------------------------------------------------------------- FxA payloads

EVENT_TYPES = (
    "fxa_login - complete",
    "fxa_login - view",
    "fxa_reg - created",
    "fxa_reg - complete",
    "fxa_activity - cert_signed",
    "fxa_email - sent",
    "fxa_email - click",
    "fxa_pref - view",
    "fxa_connect_device - view",
    "fxa_sms - sent",
)
SERVICES = ("sync", "amo", "pocket", "monitor", "send", "relay", "vpn")
ENTRYPOINTS = ("menupanel", "preferences", "synced-tabs", "fxa_discoverability", "email")
BROWSERS = ("Firefox", "Firefox Mobile", "Chrome", "Safari", "Edge")
IDENTIFY_SHARE = 0.5
INVALID_SHARE = 0.03
USERS = 20_000
ZIPF_S = 1.1
BASE_TIME_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _uids(seed: int) -> list[str]:
    return [
        hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()[:32] for i in range(USERS)
    ]


class PayloadGen:
    """FxA log payloads, one JSON object per line.

    The mix is fixed: the four envelope variants (``Fields``, ``Fields`` with
    ``op``/``data``, ``Fields`` with stringified props, bare event) in equal
    shares; about half the events carry ``$identify`` verbs; a few percent are
    invalid (no ids, empty event type, string or non-positive time); user ids
    are Zipf-skewed. File ``i`` depends only on (seed, i)."""

    def __init__(self, seed: int, events_per_file: int):
        self.seed = seed
        self.events_per_file = events_per_file
        self.uids = _uids(seed)
        ranks = np.arange(1, USERS + 1, dtype=np.float64)
        cdf = np.cumsum(ranks**-ZIPF_S)
        self.cdf = cdf / cdf[-1]

    def _event(self, rng: random.Random, user: int, t: int) -> dict:
        uid = self.uids[user]
        ev: dict = {
            "device_id": f"{uid[:12]}-{rng.randrange(3)}",
            "user_id": uid,
            "event_type": rng.choice(EVENT_TYPES),
            "time": t,
            "event_properties": {
                "service": rng.choice(SERVICES),
                "entrypoint": rng.choice(ENTRYPOINTS),
            },
        }
        r = rng.random()
        if r < 0.70:
            ev["session_id"] = t - rng.randrange(1, 3_600_000)
        elif r < 0.80:
            ev["session_id"] = f"{t - rng.randrange(1, 3_600_000)}x"
        elif r < 0.85:
            ev["session_id"] = "not-a-session"
        up: dict = {"flow_id": hashlib.md5(f"{uid}{t}".encode()).hexdigest()[:16]}
        if rng.random() < IDENTIFY_SHARE:
            if rng.random() < 0.7:
                up["$set"] = {"ua_browser": rng.choice(BROWSERS), "sync_device_count": rng.randrange(1, 9)}
            else:
                up["$append"] = {"fxa_services_used": rng.choice(SERVICES)}
        ev["user_properties"] = up
        if rng.random() < INVALID_SHARE:
            kind = rng.randrange(4)
            if kind == 0:
                del ev["device_id"], ev["user_id"]
            elif kind == 1:
                ev["event_type"] = ""
            elif kind == 2:
                ev["time"] = str(t)
            else:
                ev["time"] = -t
        return ev

    def _envelope(self, rng: random.Random, ev: dict) -> dict:
        variant = rng.randrange(4)
        if variant == 0:
            return {"Fields": ev}
        if variant == 1:
            return {"Fields": {"op": "amplitudeEvent", "data": json.dumps(ev)}}
        if variant == 2:
            ev = dict(ev)
            ev["event_properties"] = json.dumps(ev["event_properties"])
            ev["user_properties"] = json.dumps(ev["user_properties"])
            return {"Fields": ev}
        return ev

    def lines(self, index: int) -> list[str]:
        rng = random.Random(self.seed * 1_000_003 + index)
        users = np.searchsorted(
            self.cdf, np.random.default_rng([self.seed, index]).random(self.events_per_file)
        )
        t0 = BASE_TIME_MS + index * 60_000
        return [
            json.dumps(self._envelope(rng, self._event(rng, int(u), t0 + i * 7)))
            for i, u in enumerate(users)
        ]

    def stage(self, index: int, staging: str) -> str:
        path = os.path.join(staging, f"part-{index:06d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(self.lines(index)) + "\n")
        return path

    def write(self, index: int, directory: str, staging: str) -> None:
        """Stage file ``index``, then move it in: the stream never sees a
        partial file."""
        path = self.stage(index, staging)
        os.replace(path, os.path.join(directory, os.path.basename(path)))


# ---------------------------------------------------------------- warehouse tables

WORDS = (
    "a the data spark stream batch table row column key value hash join merge "
    "sort scan filter group agg window query part line order customer vector "
    "small big fast slow"
).split()
LANGS = (("en", 0.41), ("de", 0.14), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))


def _ts_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def warehouse_tables(seed: int, sf: float) -> dict:
    """The ten TPC-H-shaped tables the package's SQL views expect, at scale
    ``sf`` (0.1 = 15k customers, 150k orders, ~600k lineitems, 100k events,
    5k documents, 2k embeddings), as pyarrow tables."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7])
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    day_us = 86_400 * 1_000_000
    d0 = _ts_us("1995-01-01")
    ts_type = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    odate = d0 + rng.integers(0, 2400, n_ord) * day_us
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(odate, ts_type),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, int(200_000 * sf), n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, int(10_000 * sf), n_li, dtype=np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                odate[okey] + rng.integers(1, 122, n_li) * day_us, ts_type
            ),
        }
    )
    e0 = _ts_us("2024-01-01")
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.sort(e0 + rng.integers(0, 30 * day_us, n_ev)), ts_type),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev, dtype=np.int64),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": money(0, 560, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_words = rng.integers(8, 97, n_doc)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in n_words]
    for i in range(0, n_doc, 625):  # a few exact duplicates, as in real crawls
        texts[(i + 311) % n_doc] = texts[i]
    langs = np.array([lang for lang, _ in LANGS])[
        rng.choice(len(LANGS), n_doc, p=[p for _, p in LANGS])
    ]
    documents = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    region = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    n_supp, n_part, n_emb = int(10_000 * sf), int(200_000 * sf), int(20_000 * sf)
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adjectives = ["large", "hot", "blue", "red", "small", "new", "old", "dark"]
    nouns = ["ring", "bolt", "plate", "rod", "anvil", "widget", "gear", "nut"]
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                rng.integers(0, 6, n_part)
            ],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(
                list(rng.standard_normal((n_emb, 64), dtype=np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": rng.integers(0, 10, n_emb, dtype=np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "part": part,
        "embeddings": embeddings,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
    }


def write_warehouse(seed: int, sf: float, directory: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    for name, table in warehouse_tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
