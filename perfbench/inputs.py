"""Seeded inputs for the benchmark, and the independent expected results.

Everything the engine receives is generated here from the run's seed:
the warehouse tables (same schemas and value shapes as the engine's
fixture tables), the CDC change epochs over ``orders``, and the
taxi-shaped JSON trip files of the streaming workload.  The expected
results are kept on the side in plain Python/pandas — never computed by
the engine — so the checks in ``workloads.py`` are independent of it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Rows at scale factor 1 (documents/embeddings have a floor of 500).
_SF1_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def table_rows(sf: float) -> dict[str, int]:
    rows = {t: max(1, int(round(n * sf))) for t, n in _SF1_ROWS.items()}
    rows["documents"] = max(500, rows["documents"])
    rows["embeddings"] = max(500, rows["embeddings"])
    return rows


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng, n: int, start: str, ndays: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = base + rng.integers(0, ndays, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5% near-duplicates: an earlier document's text plus a marker word.
    for i in sorted(rng.choice(np.arange(1, n), n // 20, replace=False)):
        text[i] = text[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(text),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def warehouse_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten warehouse tables at scale factor ``sf`` for ``seed``, each
    from its own random stream."""
    n = table_rows(sf)
    c, s, p, o = n["customer"], n["supplier"], n["part"], n["orders"]
    make = {
        "region": lambda: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": lambda: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": lambda: _customer(_rng(seed, 1), c),
        "supplier": lambda: _supplier(_rng(seed, 2), s),
        "part": lambda: _part(_rng(seed, 3), p),
        "orders": lambda: _orders(_rng(seed, 4), o, c),
        "lineitem": lambda: _lineitem(_rng(seed, 5), n["lineitem"], o, p, s),
        "events": lambda: _events(_rng(seed, 6), n["events"]),
        "documents": lambda: _documents(_rng(seed, 7), n["documents"]),
        "embeddings": lambda: _embeddings(_rng(seed, 8), n["embeddings"]),
    }
    return {name: make[name]() for name in TABLES}


def _customer(r, c: int) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": _cents(r.uniform(-999.99, 9999.99, c)),
        "c_mktsegment": _pick(r, _SEGMENTS, c),
    })


def _supplier(r, s: int) -> pa.Table:
    return pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": _cents(r.uniform(-999.99, 9999.99, s)),
    })


def _part(r, p: int) -> pa.Table:
    keys = np.arange(p, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, p), r.integers(0, 8, p))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, p)]),
        "p_type": _pick(r, _PART_TYPES, p),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })


def _orders(r, o: int, c: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": r.integers(0, c, o).astype(np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], o),
        "o_totalprice": _cents(r.uniform(1000.0, 500000.0, o)),
        "o_orderdate": _days(r, o, "1995-01-01", 2405),
        "o_orderpriority": _pick(r, _PRIORITIES, o),
    })


def _lineitem(r, li: int, o: int, p: int, s: int) -> pa.Table:
    return pa.table({
        "l_orderkey": r.integers(0, o, li).astype(np.int64),
        "l_partkey": r.integers(0, p, li).astype(np.int64),
        "l_suppkey": r.integers(0, s, li).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _cents(r.uniform(900.0, 105000.0, li)),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], li),
        "l_linestatus": _pick(r, ["F", "O"], li),
        "l_shipdate": _days(r, li, "1995-01-02", 2499),
    })


def _events(r, e: int) -> pa.Table:
    gaps = np.maximum(1, (r.exponential(26.0, e) * 1e6).astype(np.int64))
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, max(1, e * 3 // 200), e).astype(np.int64),
        "event_type": _pick(r, _EVENT_TYPES, e),
        "value": _cents(r.exponential(50.0, e)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)]),
    })


def write_warehouse(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write each table as one single-row-group parquet file (the
    fixture layout); returns rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in warehouse_tables(sf, seed).items():
        pq.write_table(
            table, os.path.join(sf_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# CDC epochs over ``orders`` and the independent fold they must match.
# ---------------------------------------------------------------------------

CDC_KEY = "o_orderkey"
CDC_CHURN = 0.01  # share of the table's keys each epoch changes


class CdcFold:
    """Generates seeded upsert/delete epochs and folds them into the
    expected table state with pandas, independently of the engine.

    Each epoch touches ``CDC_CHURN`` of the keys: 70% updates of live
    keys, 20% deletes of live keys, 10% inserts (re-inserts of deleted
    keys first, then keys above the original range).  Every change
    carries the epoch's commit version as its CDC log position."""

    def __init__(self, orders: pa.Table, seed: int):
        self.live = orders.to_pandas().set_index(CDC_KEY)
        self.live["version"] = 0
        self.deleted: dict[int, pd.Series] = {}
        self.next_key = int(self.live.index.max()) + 1
        self.per_epoch = max(10, int(round(len(self.live) * CDC_CHURN)))
        self.seed = seed

    def next_epoch(self, epoch: int, version: int) -> tuple[pd.DataFrame, dict]:
        """The change batch for commit ``version`` and its expected net
        changes ``{"insert": n, "update": n, "delete": n}``."""
        r = _rng(self.seed, 100, epoch)
        n = self.per_epoch
        n_ins = n // 10
        n_del = n // 5
        n_upd = n - n_ins - n_del
        live_keys = self.live.index.to_numpy()
        picked = r.choice(live_keys, n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        reins = list(self.deleted)[:n_ins]
        fresh = list(range(self.next_key, self.next_key + n_ins - len(reins)))
        self.next_key += len(fresh)

        up = self.live.loc[upd].copy()
        up["o_totalprice"] = _cents(up["o_totalprice"].to_numpy() * r.uniform(0.5, 1.5, len(up)))
        up["o_orderstatus"] = np.asarray(["F", "O", "P"], dtype=object)[r.integers(0, 3, len(up))]
        ins = pd.DataFrame([self.deleted.pop(k) for k in reins], index=pd.Index(reins, name=CDC_KEY))
        if fresh:
            nf = len(fresh)
            ins = pd.concat([ins, pd.DataFrame({
                "o_custkey": r.integers(0, 1000, nf).astype(np.int64),
                "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[r.integers(0, 3, nf)],
                "o_totalprice": _cents(r.uniform(1000.0, 500000.0, nf)),
                "o_orderdate": _EPOCH_1995 + (r.integers(0, 2405, nf) * _DAY_US).astype("timedelta64[us]"),
                "o_orderpriority": np.asarray(_PRIORITIES, dtype=object)[r.integers(0, 5, nf)],
                "version": 0,
            }, index=pd.Index(fresh, name=CDC_KEY))])
        gone = self.live.loc[dele].copy()

        upserts = pd.concat([up, ins])
        upserts["op"] = "u"
        gone["op"] = "d"
        batch = pd.concat([upserts, gone])
        batch["version"] = version
        batch = batch.reset_index()
        batch = batch.iloc[r.permutation(len(batch))].reset_index(drop=True)

        for k, row in gone.drop(columns="op").iterrows():
            self.deleted[int(k)] = row
        self.live = self.live.drop(index=dele)
        new_rows = upserts.drop(columns="op").assign(version=version)
        self.live = pd.concat([self.live.drop(index=upd), new_rows])
        expected = {"insert": len(ins), "update": len(up), "delete": len(gone)}
        return batch, expected

    def head_aggregate(self) -> tuple[int, int]:
        """(row count, sum of o_totalprice in cents) of the live table."""
        cents = np.round(self.live["o_totalprice"].to_numpy() * 100).astype(np.int64)
        return len(self.live), int(cents.sum())

    def head_frame(self) -> pd.DataFrame:
        return self.live.reset_index().sort_values(CDC_KEY).reset_index(drop=True)


def cdc_batch_table(batch: pd.DataFrame) -> pa.Table:
    schema = pa.schema([
        (CDC_KEY, pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
        ("version", pa.int64()), ("op", pa.string()),
    ])
    return pa.Table.from_pandas(batch[schema.names], schema=schema, preserve_index=False)


# ---------------------------------------------------------------------------
# Taxi-shaped trip files for the streaming workload.
# ---------------------------------------------------------------------------

def taxi_files(seed: int, n_files: int, rows_per_file: int) -> tuple[list[bytes], dict]:
    """JSON-lines payloads in the reference producer's trip shape, and
    the expected hourly rollup over the rows the quality filter keeps:
    ``{hour: [trip_count, fare_cents]}``.  About 3% of trips last 300+
    minutes and 1% carry a negative fare, so the filter has work."""
    r = _rng(seed, 200)
    start = np.datetime64("2024-01-01T00:00:00", "s")
    expected: dict[pd.Timestamp, list[int]] = {}
    payloads = []
    for _ in range(n_files):
        n = rows_per_file
        pickup = start + r.integers(0, 24 * 3600, n).astype("timedelta64[s]")
        dur_s = r.integers(60, 90 * 60, n)
        long_trip = r.random(n) < 0.03
        dur_s[long_trip] = 300 * 60 + r.integers(0, 3600, int(long_trip.sum()))
        dropoff = pickup + dur_s.astype("timedelta64[s]")
        dist = np.round(r.exponential(3.0, n), 2)
        fare = np.round(2.5 + 2.5 * dist + r.uniform(0, 3, n), 2)
        fare[r.random(n) < 0.01] = -1.0
        tip = np.round(fare * r.uniform(0, 0.3, n), 2)
        total = np.round(fare + tip + 1.0, 2)
        vendor = r.integers(1, 3, n)
        pax = r.integers(1, 7, n)
        pu = pickup.astype(str)
        do = dropoff.astype(str)
        lines = [
            json.dumps({
                "VendorID": int(vendor[i]),
                "tpep_pickup_datetime": pu[i].replace("T", " "),
                "tpep_dropoff_datetime": do[i].replace("T", " "),
                "passenger_count": int(pax[i]),
                "trip_distance": float(dist[i]),
                "fare_amount": float(fare[i]),
                "tip_amount": float(tip[i]),
                "total_amount": float(total[i]),
            })
            for i in range(n)
        ]
        payloads.append(("\n".join(lines) + "\n").encode())
        keep = (dist >= 0) & (fare >= 0) & (dur_s > 0) & (dur_s < 300 * 60)
        kept = pd.DataFrame({
            "hour": pickup[keep].astype("datetime64[h]"),
            "cents": np.round(fare[keep] * 100).astype(np.int64),
        }).groupby("hour")["cents"].agg(["size", "sum"])
        for h, (cnt, cents) in kept.iterrows():
            acc = expected.setdefault(pd.Timestamp(h), [0, 0])
            acc[0] += int(cnt)
            acc[1] += int(cents)
    return payloads, expected
