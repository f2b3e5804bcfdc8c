"""Seeded input generators. Pure Python/NumPy/pyarrow: nothing here
touches Spark, so the engine only ever sees the files written here.

Every generator is a function of ``(seed, size)`` alone and returns
the facts the benchmark later checks the engine's outputs against.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

RIDE_HEADER = (
    "ride_id;rideable_type;started_at;ended_at;start_station_name;"
    "start_station_id;end_station_name;end_station_id;start_lat;"
    "start_lng;end_lat;end_lng;member_casual"
)
RIDEABLE_TYPES = ("classic_bike", "electric_bike")
MEMBER_TYPES = ("member", "casual")
N_STATIONS = 140
# shares of the edge rows the reference data carries
NULL_END_SHARE = 0.01
NO_FRACTION_SHARE = 0.05
DUPLICATE_SHARE = 0.02
MONTH_START_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z
MONTH_MS = 30 * 24 * 3600 * 1000
EARTH_RADIUS_KM = 6371.0


def haversine_km(lat1: float, lng1: float, lat2: float, lng2: float) -> float:
    """The great-circle formula ``functions.geo.haversine_km`` uses."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lng2 - lng1)
    a = math.sin(dp / 2.0) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))


def _ts_strings(ms: np.ndarray, with_fraction: np.ndarray) -> pa.Array:
    """``yyyy-MM-dd HH:mm:ss.SSS``, or without the fraction where
    ``with_fraction`` is false."""
    iso = pa.array(np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms"))
    iso = pc.replace_substring(iso, "T", " ")
    return pc.if_else(pa.array(with_fraction), iso, pc.utf8_slice_codeunits(iso, 0, 19))


def _lookup(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[idx], type=pa.string())


def write_ride_csv(path: str, seed: int, n_rows: int) -> dict:
    """Write a reference-shaped, semicolon-delimited ride CSV: 140
    stations, 2 rideable types, 2 member tiers, one month of rides,
    with seeded shares of rows without an end station, rows whose
    timestamps lack fractional seconds, and duplicated rides (same
    ride under a new ride_id). Returns what the star schema built
    from it must contain."""
    rng = np.random.default_rng([seed, 1])
    st_lat = np.round(40.70 + rng.uniform(0.0, 0.08, N_STATIONS), 6)
    st_lng = np.round(-74.06 + rng.uniform(0.0, 0.08, N_STATIONS), 6)
    st_name = [f"Station {i:03d}" for i in range(N_STATIONS)]

    n_dup = int(n_rows * DUPLICATE_SHARE)
    n_base = n_rows - n_dup
    start_st = rng.integers(0, N_STATIONS, n_base)
    end_st = rng.integers(0, N_STATIONS, n_base)
    end_st[rng.random(n_base) < NULL_END_SHARE] = -1
    whole = rng.random(n_base) < NO_FRACTION_SHARE
    # fraction-less rows sit on whole seconds, so parsing either form
    # yields the same instant
    start_ms = MONTH_START_MS + rng.integers(0, MONTH_MS, n_base)
    start_ms[whole] -= start_ms[whole] % 1000
    dur_ms = rng.integers(120_000, 3_600_000, n_base)
    dur_ms[whole] -= dur_ms[whole] % 1000
    end_ms = start_ms + dur_ms
    rideable = rng.integers(0, len(RIDEABLE_TYPES), n_base)
    member = rng.integers(0, len(MEMBER_TYPES), n_base)
    # duplicated rides repeat an earlier ride's content verbatim
    src = np.concatenate([np.arange(n_base), rng.integers(0, n_base, n_dup)])
    order = rng.permutation(n_rows)
    src = src[order]

    started = _ts_strings(start_ms[src], ~whole[src])
    ended = _ts_strings(end_ms[src], ~whole[src])
    ride_ids = rng.integers(0, 2**63, n_rows, dtype=np.int64)
    # fixed-width hex of every id in one pass
    hex_ids = np.frombuffer(ride_ids.astype(">u8").tobytes().hex().encode(), dtype="S16")
    # station columns by index; index 0 is the empty end of a ride
    # without an end station
    s_idx = start_st[src] + 1
    e_idx = end_st[src] + 1
    names = ["", *st_name]
    ids = ["", *(f"E{i:03d}" for i in range(N_STATIONS))]
    lats = ["", *(repr(x) for x in st_lat.tolist())]
    lngs = ["", *(repr(x) for x in st_lng.tolist())]
    lines = pc.binary_join_element_wise(
        pa.array(hex_ids).cast(pa.string()),
        _lookup(list(RIDEABLE_TYPES), rideable[src]),
        started,
        ended,
        _lookup(names, s_idx),
        _lookup(ids, s_idx),
        _lookup(names, e_idx),
        _lookup(ids, e_idx),
        _lookup(lats, s_idx),
        _lookup(lngs, s_idx),
        _lookup(lats, e_idx),
        _lookup(lngs, e_idx),
        _lookup(list(MEMBER_TYPES), member[src]),
        ";",
    )
    # every line ends in a newline; the joined array's data buffer is
    # then the file body
    lines = pc.binary_join_element_wise(lines, "", "\n")
    offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32)
    with open(path, "wb") as f:
        f.write((RIDE_HEADER + "\n").encode())
        f.write(memoryview(lines.buffers()[2])[offsets[0] : offsets[n_rows]])

    used = np.unique(src)
    stations = set(start_st[used].tolist()) | {e for e in end_st[used].tolist() if e >= 0}
    timestamps = np.unique(np.concatenate([start_ms[used], end_ms[used]]))
    # pinned rows: rides whose start instant is unique, so the fact
    # row is found through the date dimension
    starts, counts = np.unique(start_ms[src], return_counts=True)
    unique_start = set(starts[counts == 1].tolist())
    pinned = []
    for j in used.tolist():
        if start_ms[j] not in unique_start:
            continue
        want_null_end = len(pinned) == 0
        if (end_st[j] < 0) != want_null_end:
            continue
        s, e = int(start_st[j]), int(end_st[j])
        # the engine's duration is the difference of the two instants
        # as double epoch seconds (microseconds / 1e6); at ~1.7e9 s that
        # rounds the exact duration by up to ~1e-9 of its value
        dur = int(end_ms[j]) * 1000 / 1e6 - int(start_ms[j]) * 1000 / 1e6
        if e >= 0:
            dist = haversine_km(st_lat[s], st_lng[s], st_lat[e], st_lng[e])
            speed = dist / (dur / 3600.0)
        else:
            dist, speed = None, 0.0
        pinned.append(
            {
                "started_at": _ts_strings(np.array([start_ms[j]]), np.array([True]))[0].as_py(),
                "trip_duration": int(dur),
                "distance": dist,
                "speed": speed,
            }
        )
        if len(pinned) == 4:
            break
    return {
        "n_rows": n_rows,
        "n_member_types": len(set(member[used].tolist())),
        "n_rideable_types": len(set(rideable[used].tolist())),
        "n_station_rows": len(stations),
        "n_timestamps": int(timestamps.size),
        "n_fact_rows": len(used),
        "pinned": pinned,
    }


# ---------------------------------------------------------------------------
# the catalog's ten TPC-H-ish tables (schemas.TESTDATA_TABLES)
# ---------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_WORDS = ("small", "red", "blue", "large", "steel", "ring", "widget", "bolt")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
_EPOCH_1995_DAYS = 9131  # 1995-01-01 as days since 1970-01-01
_EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DOC_EXACT_DUP_SHARE = 0.03
DOC_NEAR_DUP_SHARE = 0.08
EMBED_DIM = 64


def _days_ts(days: np.ndarray) -> pa.Array:
    return pa.array((days.astype(np.int64) * 86_400_000_000).astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < DOC_EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and roll < DOC_EXACT_DUP_SHARE + DOC_NEAR_DUP_SHARE:
            # one extra trailing shingle: 3-shingle Jaccard >= 0.8
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(8, 60)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[k] for k in rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vec = centroids[label] + rng.normal(0.0, 1.6 / math.sqrt(EMBED_DIM), (n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def warehouse_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten catalog tables at ``scale`` (1.0 = 15,000 orders and
    ~60,000 lineitems, the shape of the catalog's sf0.01 test data)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(150, int(1500 * scale))
    n_supp = max(20, int(100 * scale))
    n_part = max(200, int(2000 * scale))
    n_ord = max(1000, int(15000 * scale))
    n_ev = max(1000, int(10000 * scale))
    n_doc = max(100, int(500 * scale))

    region = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": list(_REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    w = rng.integers(0, len(_PART_WORDS), (n_part, 2))
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{_PART_WORDS[a]} {_PART_WORDS[b]}" for a, b in w],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
        }
    )
    o_days = _EPOCH_1995_DAYS + rng.integers(0, 2400, n_ord)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days_ts(o_days),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ok)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_ok),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(l_num),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
            "l_shipdate": _days_ts(np.repeat(o_days, lines) + rng.integers(1, 121, n_li)),
        }
    )
    ev_us = np.sort(_EVENTS_START_US + rng.integers(0, 30 * 86_400_000_000, n_ev))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ev_us.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 150, n_ev)),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
            "value": pa.array(np.round(rng.exponential(40.0, n_ev) + 0.01, 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_doc),
    }


def write_warehouse(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the catalog tables as ``<out_dir>/<table>.parquet``;
    returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in warehouse_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# commit cycle: an orders-shaped table, its seeded operation stream,
# and the reference model those operations must produce
# ---------------------------------------------------------------------------

ORDER_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderpriority", pa.string()),
    ]
)
# raw bytes of one orders row: three 8-byte numbers plus the strings
_FIXED_ROW_BYTES = 24


def _row_bytes(status: str, priority: str) -> int:
    return _FIXED_ROW_BYTES + len(status) + len(priority)


@dataclass
class Op:
    """One commit of the stream: ``kind`` is ``merge`` (``rows`` is
    the upsert batch) or ``delete`` (``keys`` to delete)."""

    kind: str
    rows: pa.Table | None = None
    keys: np.ndarray | None = None
    user_bytes: int = 0


@dataclass
class OrdersModel:
    """Reference model of the orders table: ``key -> row``. Applies
    the same operations the engine commits, in the same order."""

    rows: dict[int, tuple] = field(default_factory=dict)

    def apply(self, op: Op) -> None:
        if op.kind == "merge":
            cols = [op.rows.column(i).to_pylist() for i in range(op.rows.num_columns)]
            for row in zip(*cols):
                self.rows[row[0]] = row
        else:
            for k in op.keys.tolist():
                self.rows.pop(k, None)

    def table(self) -> pa.Table:
        keys = sorted(self.rows)
        cols = list(zip(*(self.rows[k] for k in keys))) if keys else [[]] * 5
        return pa.table(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, ORDER_SCHEMA)],
            schema=ORDER_SCHEMA,
        )


class CommitStream:
    """Seeded stream of commits against an orders table of ``n_rows``
    keys, repeating a cycle of five commit kinds: a key-band update
    (file-sparse under the key's clustering), scattered updates
    (touching most files), two pure appends past the key range (each
    a new small file, no file rewritten), and a scattered delete."""

    KINDS = ("band", "scattered", "append", "append", "delete")

    def __init__(self, seed: int, n_rows: int, batch: int) -> None:
        self.rng = np.random.default_rng([seed, 3])
        self.warm_rng = np.random.default_rng([seed, 5])
        self.n_rows = n_rows
        self.batch = batch
        self.next_key = n_rows
        self.i = 0

    def _rows(self, keys: np.ndarray, rng: np.random.Generator | None = None) -> pa.Table:
        n = len(keys)
        rng = rng or self.rng
        return pa.table(
            [
                pa.array(keys.astype(np.int64)),
                pa.array(rng.integers(0, 1500, n)),
                pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, n)]),
                pa.array(_money(rng, 1000.0, 500000.0, n)),
                pa.array([_PRIORITIES[k] for k in rng.integers(0, 5, n)]),
            ],
            schema=ORDER_SCHEMA,
        )

    def initial(self) -> pa.Table:
        return self._rows(np.arange(self.n_rows))

    def _band(self, n: int) -> np.ndarray:
        lo = int(self.rng.integers(0, max(1, self.next_key - n)))
        return np.arange(lo, lo + n)

    def warmup(self) -> list[Op]:
        """Two commits outside the stream, for set-up: a band update
        and a scattered delete. They come from their own generator, so
        the stream's first commit is the same with or without them."""
        rng = self.warm_rng
        lo = int(rng.integers(0, max(1, self.n_rows - self.batch)))
        keys = np.arange(lo, lo + min(self.batch, self.n_rows))
        delete = np.unique(rng.integers(0, self.n_rows, max(1, self.batch // 4)))
        return [Op("merge", rows=self._rows(keys, rng)), Op("delete", keys=delete)]

    def next(self) -> Op:
        rng = self.rng
        kind = self.KINDS[self.i % len(self.KINDS)]
        self.i += 1
        if kind == "delete":
            keys = np.unique(rng.integers(0, self.next_key, self.batch // 4))
            return Op("delete", keys=keys, user_bytes=8 * len(keys))
        if kind == "band":
            keys = self._band(self.batch)
        elif kind == "scattered":
            keys = np.unique(rng.integers(0, self.next_key, self.batch // 2))
        else:
            keys = np.arange(self.next_key, self.next_key + self.batch // 2)
            self.next_key += len(keys)
        rows = self._rows(keys)
        user = sum(
            _row_bytes(s, p)
            for s, p in zip(
                rows.column("o_orderstatus").to_pylist(),
                rows.column("o_orderpriority").to_pylist(),
            )
        )
        return Op("merge", rows=rows, user_bytes=user)


def table_digest(table: pa.Table) -> str:
    """Order-insensitive digest of a table's rows (sorted by the first
    column, every value rendered exactly)."""
    import hashlib

    table = table.sort_by(table.column_names[0])
    h = hashlib.sha256()
    for row in zip(*(table.column(c).to_pylist() for c in table.column_names)):
        h.update(repr(row).encode())
    return h.hexdigest()
