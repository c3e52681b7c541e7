"""Seeded input generators for the benchmark.

Everything the program reads is made here from the workload seed, so a
run needs nothing outside its checkout and the same seed always gives
the same bytes:

- `write_tables`: the TPC-H-like star schema plus the `events`,
  `documents` and `embeddings` tables the headline registry queries
  read, with the column names, types and value shapes of the sf test
  corpus (uniform keys, a 31-word document vocabulary, 10 embedding
  clusters).
- `CdcStream`: a wal2json (format-version 2) changelog of `orders` and
  `customer`, one file per epoch, plus the generator's own live rows so
  the sink can be checked against a from-scratch aggregate.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write the ten corpus tables at scale factor `sf` into out_dir and
    return their row counts. Row counts follow the test corpus
    (sf0.01: 1,500 customers, 15,000 orders, 60,000 lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = n_ord * 4
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(STATUSES, n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(DOC_WORDS, k))
             for k in rng.integers(10, 100, n_docs)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0.0, 0.15, size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, size=(n_vecs, 64))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_ev, "documents": n_docs, "embeddings": n_vecs}


# -- CDC changelog ----------------------------------------------------------

ORDER_COLS = {"o_orderkey": "bigint", "o_custkey": "bigint",
              "o_orderstatus": "string", "o_cents": "bigint"}
CUSTOMER_COLS = {"c_custkey": "bigint", "c_mktsegment": "string"}
# price per order in cents, redrawn (never compounded) on every update:
# SUM over every live order stays far below 2^63
MAX_CENTS = 50_000_000


class CdcStream:
    """Postgres-style CDC of `orders` and `customer` as wal2json v2 files.

    Epoch 0 is the backfill: every customer and order as an insert.
    Each later epoch carries `changes` order changes — inserts of new
    order keys, updates of live keys chosen with Zipf skew (hot orders
    change often), deletes of live keys — plus `segment_moves` customer
    `c_mktsegment` updates, which move all of that customer's joined
    rows between groups. The generator keeps the live rows, so
    `expected_groups` is the from-scratch answer for the sink.
    """

    def __init__(self, seed: int, n_customers: int, n_orders: int,
                 changes: int, segment_moves: int,
                 mix: tuple[float, float, float] = (0.3, 0.5, 0.2)):
        self.rng = np.random.default_rng(seed)
        self.n_customers = n_customers
        self.changes = changes
        self.segment_moves = segment_moves
        self.mix = mix
        self.customers = {c: SEGMENTS[s] for c, s in enumerate(
            self.rng.integers(0, len(SEGMENTS), n_customers))}
        self.orders: dict[int, tuple[int, str, int]] = {}
        self._next_key = 0
        self._lsn = 0x1000
        self._xid = 1000
        self._initial_orders = n_orders

    def _order(self) -> tuple[int, str, int]:
        return (int(self.rng.integers(0, self.n_customers)),
                STATUSES[int(self.rng.integers(0, 3))],
                int(self.rng.integers(100, MAX_CENTS)))

    def _rec(self, action: str, table: str, cols: dict, ident: dict | None) -> str:
        self._lsn += 0x28
        rec = {"action": action, "schema": "public", "table": table,
               "lsn": f"0/{self._lsn:X}", "xid": self._xid}
        if cols:
            rec["columns"] = [{"name": k, "type": _PG_TYPES[k], "value": v}
                              for k, v in cols.items()]
        if ident:
            rec["identity"] = [{"name": k, "type": _PG_TYPES[k], "value": v}
                               for k, v in ident.items()]
        return json.dumps(rec, separators=(",", ":"))

    def _order_rec(self, action: str, key: int) -> str:
        if action == "D":
            return self._rec("D", "orders", {}, {"o_orderkey": key})
        cust, status, cents = self.orders[key]
        cols = {"o_orderkey": key, "o_custkey": cust,
                "o_orderstatus": status, "o_cents": cents}
        return self._rec(action, "orders", cols,
                         {"o_orderkey": key} if action == "U" else None)

    def _customer_rec(self, action: str, key: int) -> str:
        cols = {"c_custkey": key, "c_mktsegment": self.customers[key]}
        return self._rec(action, "customer", cols,
                         {"c_custkey": key} if action == "U" else None)

    def backfill(self) -> list[str]:
        self._xid += 1
        lines = [self._customer_rec("I", c) for c in range(self.n_customers)]
        for _ in range(self._initial_orders):
            key = self._next_key
            self._next_key += 1
            self.orders[key] = self._order()
            lines.append(self._order_rec("I", key))
        return lines

    def epoch(self) -> list[str]:
        """One epoch of changes, applied to the generator's live rows."""
        self._xid += 1
        lines = []
        live = np.fromiter(self.orders.keys(), np.int64, len(self.orders))
        kinds = self.rng.choice(3, self.changes, p=self.mix)
        # Zipf-skewed victims: rank r is picked with weight 1/(r+10)
        w = 1.0 / (np.arange(len(live)) + 10.0)
        victims = self.rng.choice(live, self.changes, p=w / w.sum())
        done: set[int] = set()
        for kind, key in zip(kinds, victims):
            key = int(key)
            if kind == 0 or key in done or key not in self.orders:
                key = self._next_key
                self._next_key += 1
                self.orders[key] = self._order()
                lines.append(self._order_rec("I", key))
            elif kind == 1:
                cust = self.orders[key][0]
                _, status, cents = self._order()
                self.orders[key] = (cust, status, cents)
                lines.append(self._order_rec("U", key))
            else:
                del self.orders[key]
                lines.append(self._order_rec("D", key))
            done.add(key)
        for cust in self.rng.choice(self.n_customers, self.segment_moves,
                                    replace=False):
            cust = int(cust)
            segs = [s for s in SEGMENTS if s != self.customers[cust]]
            self.customers[cust] = segs[int(self.rng.integers(0, len(segs)))]
            lines.append(self._customer_rec("U", cust))
        return lines

    def expected_groups(self) -> dict[tuple[str, str], tuple[int, int]]:
        """(c_mktsegment, o_orderstatus) -> (COUNT(*), SUM(o_cents)) over
        the live orders joined to their customers, from scratch."""
        out: dict[tuple[str, str], list[int]] = {}
        for cust, status, cents in self.orders.values():
            acc = out.setdefault((self.customers[cust], status), [0, 0])
            acc[0] += 1
            acc[1] += cents
        return {k: (v[0], v[1]) for k, v in out.items()}


_PG_TYPES = {"o_orderkey": "bigint", "o_custkey": "bigint",
             "o_orderstatus": "character(1)", "o_cents": "bigint",
             "c_custkey": "bigint", "c_mktsegment": "text"}


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")

