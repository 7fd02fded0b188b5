"""Seeded input generators and their reference answers.

Everything the benchmark feeds the program is built here from the
``--seed`` argument with NumPy, never with the program itself: the
TPC-H-shaped tables at the program's sf0.1 row counts and value ranges
(the benchmark reads only its own checkout, so it regenerates them
rather than reading the test data), the sales-event streams (JSON and
registry-framed Avro Kafka envelopes), and the Debezium change feed
over ``orders``.
Each generator has a matching tally or fold computed from the same
arrays, which is what the program's outputs are checked against.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: event-time origin of every stream (2024-01-01T00:00:00Z), in ms
BASE_MS = 1_704_067_200_000
#: event-time milliseconds that pass per generated event (60 ms per
#: event at 5k ev/s is one event-time minute per wall second: a
#: 20 s stream spans four 5-minute window slides)
EVENT_TIME_STEP_MS = 12
#: share of events stamped up to OOO_MAX_MS earlier than their slot;
#: kept under the 10-minute watermark delay so no event is ever late
#: and the complete-mode answer is independent of batch boundaries
OOO_SHARE = 0.05
OOO_MAX_MS = 4 * 60_000
#: share of events whose user id is not in the customer dimension
UNKNOWN_SHARE = 0.03
WINDOW_S = 600
SLIDE_S = 300

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "error"])
STATUSES = np.array(["F", "O", "P"])

TOPIC = "sales-events"
#: registry id that frames every Avro value (0x00 + 4-byte id + body)
SCHEMA_ID = 7

EVENT_AVRO = json.dumps({
    "type": "record", "name": "sale_event",
    "namespace": "perfbench",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-millis"}},
        {"name": "created_us", "type": "long"},
    ]})


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# ---------------------------------------------------------------------------
# The TPC-H-shaped tables, at the row counts and value ranges of the
# program's sf0.1 test data (its TESTDATA.md layout: one parquet file
# per table, event times as timestamp[us])
# ---------------------------------------------------------------------------

#: sf0.1 row counts
SF01 = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}
WORDS = np.array(["batch", "stream", "spark", "column", "order", "sort",
                  "scan", "value", "line", "fast", "small", "part"])
REGIONS = np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
#: o_orderdate spans 1995-01-01 .. 2001-08-01 (80 monthly partitions)
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0)
                 .astype("int64")) + 1
#: the events table spans January 2024 over 1,500 users
EVENT_DAY0 = np.datetime64("2024-01-01", "D")
EVENT_USERS = 1500
TABLE_EVENT_TYPES = np.array(["click", "error", "purchase", "signup",
                              "view"])


def customers(seed: int, n: int = SF01["customer"]) -> pa.Table:
    """The customer table: keys 0..n-1, 25 nations, 5 segments."""
    r = _rng(seed, 1)
    keys = np.arange(n, dtype="int64")
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": r.integers(0, 25, n).astype("int32"),
        "c_acctbal": r.integers(-99_999, 1_000_000, n) / 100.0,
        "c_mktsegment": SEGMENTS[r.integers(0, len(SEGMENTS), n)],
    })


def write_customers(seed: int, sf_dir: str,
                    n: int = SF01["customer"]) -> None:
    """``customer.parquet`` in the layout ``catalog.load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(customers(seed, n), f"{sf_dir}/customer.parquet")


def orders(seed: int, n: int = SF01["orders"],
           n_customers: int = SF01["customer"]) -> dict[str, np.ndarray]:
    """The orders table as arrays: uniform customers, statuses,
    priorities, prices of 1,000..500,000 and order days."""
    r = _rng(seed, 2)
    return {"o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": r.integers(0, n_customers, n),
            "status_idx": r.integers(0, len(STATUSES), n),
            "cents": r.integers(100_000, 50_000_000, n),
            "day": r.integers(0, ORDER_DAYS, n),
            "priority_idx": r.integers(0, len(PRIORITIES), n)}


def _micros(days: np.ndarray, day0: np.datetime64) -> pa.Array:
    us = (day0 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def write_tables(seed: int, sf_dir: str) -> None:
    """Every table of the program's catalog at sf0.1 row counts (the
    dashboard queries read region, nation, customer, orders, lineitem
    and events; the catalog opens the others too)."""
    os.makedirs(sf_dir, exist_ok=True)
    r = _rng(seed, 5)
    o = orders(seed)
    n_ord, n_li, n_ev = SF01["orders"], SF01["lineitem"], SF01["events"]
    n_sup, n_part = SF01["supplier"], SF01["part"]
    n_doc, n_vec = SF01["documents"], SF01["embeddings"]
    ev_us = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    words = WORDS[r.integers(0, len(WORDS), (n_doc, 16))]
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32")}),
        "customer": customers(seed),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_sup, dtype="int64"),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_sup)],
            "s_nationkey": r.integers(0, 25, n_sup).astype("int32"),
            "s_acctbal": r.integers(-99_999, 1_000_000, n_sup) / 100.0}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": np.char.add(np.char.add(
                WORDS[r.integers(0, len(WORDS), n_part)], " "),
                WORDS[r.integers(0, len(WORDS), n_part)]),
            "p_brand": np.char.add("Brand#",
                                   r.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                "SMALL", "STANDARD"])[
                r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": 900 + np.arange(n_part) % 1000 / 10.0}),
        "orders": pa.table({
            "o_orderkey": o["o_orderkey"], "o_custkey": o["o_custkey"],
            "o_orderstatus": STATUSES[o["status_idx"]],
            "o_totalprice": o["cents"] / 100.0,
            "o_orderdate": _micros(o["day"], ORDER_DAY0),
            "o_orderpriority": PRIORITIES[o["priority_idx"]]}),
        "lineitem": pa.table({
            "l_orderkey": r.integers(0, n_ord, n_li),
            "l_partkey": r.integers(0, 20_000, n_li),
            "l_suppkey": r.integers(0, 1_000, n_li),
            "l_linenumber": r.integers(1, 8, n_li).astype("int32"),
            "l_quantity": r.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": r.integers(90_000, 10_500_000, n_li) / 100.0,
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": _micros(r.integers(1, ORDER_DAYS + 95, n_li),
                                  ORDER_DAY0)}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pa.array(EVENT_DAY0.astype("datetime64[us]") + ev_us,
                           type=pa.timestamp("us")),
            "user_id": r.integers(0, EVENT_USERS, n_ev),
            "event_type": TABLE_EVENT_TYPES[r.integers(0, 5, n_ev)],
            "value": r.integers(0, 56_022, n_ev) / 100.0,
            "props": [f'{{"k": {k}}}' for k in
                      r.integers(0, 100, n_ev).tolist()]}),
        "documents": pa.table({
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": [" ".join(w) for w in words.tolist()],
            "lang": np.array(["de", "en", "fr", "zh"])[
                r.integers(0, 4, n_doc)],
            "source": np.char.add("src", r.integers(0, 5, n_doc).astype(str)),
            "n_chars": np.char.str_len(words).sum(axis=1) + 15}),
        "embeddings": pa.table({
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(
                r.standard_normal(n_vec * 32).astype("float32"), 32
            ).cast(pa.list_(pa.float32())),
            "label": r.integers(0, 4, n_vec).astype("int32")}),
    }
    for name, table in tables.items():
        pq.write_table(table, f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Sales-event streams
# ---------------------------------------------------------------------------

def events(seed: int, n: int, n_customers: int) -> dict[str, np.ndarray]:
    """``n`` sales events: Zipf-skewed user ids over a shuffled customer
    order (a few customers are hot), ``UNKNOWN_SHARE`` ids outside the
    dimension, and ``OOO_SHARE`` events stamped out of order."""
    r = _rng(seed, 3)
    hot = r.permutation(n_customers)
    user = hot[(r.zipf(1.2, n) - 1) % n_customers].astype("int64")
    unknown = r.random(n) < UNKNOWN_SHARE
    user[unknown] = n_customers + r.integers(0, 1000, int(unknown.sum()))
    idx = np.arange(n, dtype="int64")
    ts = BASE_MS + idx * EVENT_TIME_STEP_MS
    late = r.random(n) < OOO_SHARE
    ts[late] -= r.integers(1, OOO_MAX_MS, int(late.sum()))
    return {"event_id": idx, "user_id": user,
            "type_idx": r.integers(0, len(EVENT_TYPES), n),
            "cents": r.integers(1, 50_000, n), "ts_ms": ts}


def window_tally(ev: dict[str, np.ndarray],
                 segment_of_user: np.ndarray) -> dict[tuple, tuple]:
    """Reference answer of the enriched sliding-window query:
    ``(segment, window_start_s) -> (events, sum of cents)`` over the
    10-minute windows sliding by 5 minutes."""
    names = np.append(SEGMENTS, "Unassigned")
    user = ev["user_id"]
    known = user < len(segment_of_user)
    seg = np.full(len(user), len(SEGMENTS))
    seg[known] = np.searchsorted(SEGMENTS, segment_of_user[user[known]])
    slot = ev["ts_ms"] // (SLIDE_S * 1000)
    out: dict[tuple, tuple] = {}
    for back in range(WINDOW_S // SLIDE_S):
        key = seg * 10**9 + (slot - back)
        uniq, inv = np.unique(key, return_inverse=True)
        cnt = np.bincount(inv)
        cents = np.bincount(inv, weights=ev["cents"])
        for k, c, s in zip(uniq.tolist(), cnt.tolist(), cents.tolist()):
            name = (str(names[k // 10**9]), (k % 10**9) * SLIDE_S)
            c0, s0 = out.get(name, (0, 0))
            out[name] = (c0 + c, s0 + int(s))
    return out


def _ts_text(ms: np.ndarray) -> np.ndarray:
    """Epoch ms -> ``yyyy-MM-dd HH:mm:ss.SSSSSS`` (serde.TS_FMT)."""
    whole = (ms // 1000).astype("datetime64[s]").astype(str)
    frac = (ms % 1000) * 1000
    return np.char.add(np.char.add(np.char.replace(whole, "T", " "), "."),
                       np.char.zfill(frac.astype(str), 6))


def json_values(ev: dict[str, np.ndarray], lo: int, hi: int,
                created_us: np.ndarray) -> list[bytes]:
    ts = _ts_text(ev["ts_ms"][lo:hi])
    types = EVENT_TYPES[ev["type_idx"][lo:hi]]
    return [
        (f'{{"event_id":{i},"user_id":{u},"event_type":"{t}",'
         f'"value":{c / 100.0!r},"ts":"{s}","created_us":{cu}}}').encode()
        for i, u, t, c, s, cu in zip(
            ev["event_id"][lo:hi].tolist(), ev["user_id"][lo:hi].tolist(),
            types.tolist(), ev["cents"][lo:hi].tolist(), ts.tolist(),
            created_us.tolist())]


def _varints(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Zigzag varints of int64 ``v``: (byte matrix n x 10, lengths)."""
    z = ((v << 1) ^ (v >> 63)).astype("uint64")
    out = np.zeros((len(v), 10), dtype="uint8")
    lens = np.ones(len(v), dtype="int64")
    for j in range(10):
        low = (z & np.uint64(0x7F)).astype("uint8")
        z = z >> np.uint64(7)
        more = z != 0
        out[:, j] = low | (more.astype("uint8") << 7)
        lens += more
        if not more.any():
            break
    return out, lens


def avro_values(ev: dict[str, np.ndarray], lo: int, hi: int,
                created_us: np.ndarray) -> pa.BinaryArray:
    """Registry-framed Avro binary records of ``EVENT_AVRO``, encoded
    with NumPy independently of the program's codec: each field's bytes
    are laid into one row-per-record matrix, and the used prefix of
    every row is one record."""
    n = hi - lo
    header = np.frombuffer(b"\x00" + struct.pack(">I", SCHEMA_ID), "uint8")
    names = [t.encode() for t in EVENT_TYPES]
    type_m = np.zeros((len(names), 1 + max(map(len, names))), "uint8")
    for i, t in enumerate(names):
        type_m[i, 0] = 2 * len(t)                    # zigzag length byte
        type_m[i, 1:1 + len(t)] = np.frombuffer(t, "uint8")
    type_i = ev["type_idx"][lo:hi]
    doubles = (ev["cents"][lo:hi] / 100.0).astype("<f8").view("uint8")
    fields = [(np.broadcast_to(header, (n, 5)), np.full(n, 5)),
              _varints(ev["event_id"][lo:hi]), _varints(ev["user_id"][lo:hi]),
              (type_m[type_i], np.array([1 + len(t) for t in names])[type_i]),
              (doubles.reshape(n, 8), np.full(n, 8)),
              _varints(ev["ts_ms"][lo:hi]), _varints(created_us)]
    width = sum(m.shape[1] for m, _ in fields)
    out = np.zeros((n, width), "uint8")
    at = np.zeros(n, "int64")
    rows = np.arange(n)
    for m, lens in fields:
        for j in range(m.shape[1]):
            live = lens > j
            out[rows[live], at[live] + j] = m[live, j]
        at += lens
    offsets = np.concatenate([[0], np.cumsum(at)]).astype("int32")
    data = out[np.arange(width) < at[:, None]]
    return pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def envelope_table(values, keys: np.ndarray, first_offset: int,
                   append_ms: int) -> pa.Table:
    """Kafka-envelope rows (catalog.KAFKA_ENVELOPE) around ``values``."""
    n = len(values)
    return pa.table({
        "key": pa.array(keys).cast(pa.string()).cast(pa.binary()),
        "value": pa.array(values, type=pa.binary()),
        "topic": pa.array([TOPIC] * n),
        "partition": pa.array(np.zeros(n, dtype="int32")),
        "offset": pa.array(np.arange(first_offset, first_offset + n,
                                     dtype="int64")),
        "timestamp": pa.array(np.full(n, append_ms * 1000, dtype="int64"),
                              type=pa.timestamp("us", tz="UTC")),
        "timestampType": pa.array(np.zeros(n, dtype="int32")),
    })


def publish(table: pa.Table, stage_dir: str, out_dir: str, name: str,
            mtime_ns: int) -> int:
    """Write ``table`` beside the watched directory, stamp it with
    ``mtime_ns`` and rename it into place (the file source sees either
    the whole file or none of it); returns the file size."""
    tmp = os.path.join(stage_dir, name)
    pq.write_table(table, tmp)
    os.utime(tmp, ns=(mtime_ns, mtime_ns))
    dst = os.path.join(out_dir, name)
    os.replace(tmp, dst)
    return os.path.getsize(dst)


# ---------------------------------------------------------------------------
# Debezium change feed over orders
# ---------------------------------------------------------------------------

CDC_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "order_month"]
_RECORD = pa.struct([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                     ("o_orderstatus", pa.string()),
                     ("o_totalprice", pa.float64()),
                     ("order_month", pa.string())])
_SOURCE = pa.struct([("db", pa.string()), ("schema", pa.string()),
                     ("table", pa.string()), ("lsn", pa.int64()),
                     ("ts_ms", pa.int64())])
#: partitions most changes land in, and old-order changes per batch
RECENT_MONTHS = 3
OLD_CHANGES = 4
CDC_TS0_MS = 1_700_000_000_000


def _next_month(m: str) -> str:
    y, mo = int(m[:4]), int(m[5:])
    return f"{y + mo // 12}-{mo % 12 + 1:02d}"


def cdc_feed(seed: int, n_batches: int, batch_rows: int,
             n_orders: int = SF01["orders"]) -> list[list[tuple]]:
    """Snapshot of the ``orders`` table (``order_month`` from its order
    date) followed by ``n_batches`` change batches of ``batch_rows``
    events. Each event is ``(op, lsn, before, after)`` with records as
    ``CDC_COLS`` tuples.

    As in an order system, changes concentrate on recent orders: all but
    ``OLD_CHANGES`` events per batch pick Zipf-hot keys of the newest
    ``RECENT_MONTHS`` partitions, and the rest update one old order in
    place in each of as many old months, so every batch rewrites about
    the same number of partitions. A fifth of recent updates move the
    order to the next month's partition (never past the newest), one
    change in twelve deletes, and new orders and deleted keys that come
    back land in the newest month, so a batch repeats keys, crosses
    partitions and deletes rows it just updated."""
    o = orders(seed, n_orders)
    months = (ORDER_DAY0 + o["day"].astype("timedelta64[D]")
              ).astype("datetime64[M]")
    month_idx = (months - months.min()).astype("int64")
    n_months = int(month_idx.max()) + 1
    snapshot_recs = list(zip(
        o["o_orderkey"].tolist(), o["o_custkey"].tolist(),
        STATUSES[o["status_idx"]].tolist(), (o["cents"] / 100.0).tolist(),
        months.astype(str).tolist()))
    state = dict(zip(o["o_orderkey"].tolist(), snapshot_recs))
    feed = [[("r", k, None, rec) for k, rec in enumerate(snapshot_recs)]]
    newest = str(months.max())
    by_month = np.argsort(month_idx, kind="stable")
    sorted_month = month_idx[by_month]
    r = _rng(seed, 4)
    recent = r.permutation(np.flatnonzero(
        month_idx >= n_months - RECENT_MONTHS))           # hottest first
    lsn, next_key = n_orders, n_orders
    for _ in range(n_batches):
        batch = []
        old = r.choice(n_months - RECENT_MONTHS, OLD_CHANGES, replace=False)
        lo = np.searchsorted(sorted_month, old)
        hi = np.searchsorted(sorted_month, old, side="right")
        picks = np.concatenate([
            recent[(r.zipf(1.3, batch_rows - OLD_CHANGES) - 1) % len(recent)],
            by_month[lo + (r.random(OLD_CHANGES) * (hi - lo))
                     .astype("int64")]])
        draws = r.random((batch_rows, 3))
        draws[-OLD_CHANGES:, :2] = (0.5, 1.0)  # old orders: updated in place
        for key, (u_op, u_move, u_price) in zip(picks.tolist(),
                                                draws.tolist()):
            cur = state.get(key)
            if cur is None or u_op < 0.06:
                # a deleted hot key comes back; otherwise a new order
                if cur is not None:
                    key, next_key = next_key, next_key + 1
                new = (key, int(u_price * SF01["customer"]), "O",
                       round(1000 + u_price * 400_000, 2), newest)
                state[key] = new
                batch.append(("c", lsn, None, new))
            elif u_op < 0.14:
                del state[key]
                batch.append(("d", lsn, cur, None))
            else:
                m = cur[4]
                if u_move < 0.2 and m < newest:
                    m = _next_month(m)
                new = (key, cur[1], str(STATUSES[int(u_price * 3)]),
                       round(cur[3] * (0.9 + u_price * 0.2), 2), m)
                state[key] = new
                batch.append(("u", lsn, cur, new))
            lsn += 1
        feed.append(batch)
    return feed


def _records(recs: list) -> pa.StructArray:
    """``_RECORD`` struct array of ``CDC_COLS`` tuples (None: null)."""
    cols = zip(*[(0, 0, "", 0.0, "") if t is None else t for t in recs])
    return pa.StructArray.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _RECORD)],
        fields=list(_RECORD), mask=pa.array([t is None for t in recs]))


def cdc_table(batch: list[tuple]) -> pa.Table:
    """Debezium envelope rows (catalog.debezium_envelope) for a batch."""
    lsns = np.array([lsn for _, lsn, _, _ in batch], dtype="int64")
    ts = CDC_TS0_MS + lsns
    n = len(batch)
    source = pa.StructArray.from_arrays(
        [pa.array(["pagila"] * n), pa.array(["public"] * n),
         pa.array(["orders"] * n), pa.array(lsns), pa.array(ts)],
        fields=list(_SOURCE))
    return pa.table({
        "before": _records([b for _, _, b, _ in batch]),
        "after": _records([a for _, _, _, a in batch]),
        "source": source,
        "op": pa.array([op for op, _, _, _ in batch]),
        "ts_ms": pa.array(ts),
    })


def cdc_fold(feed: list[list[tuple]]) -> dict[int, tuple]:
    """Latest-wins fold of the feed, deletes removing their key:
    ``key -> (record..., lsn)``."""
    state: dict[int, tuple] = {}
    for batch in feed:
        for op, lsn, before, after in batch:
            if op == "d":
                state.pop(before[0], None)
            else:
                state[after[0]] = after + (lsn,)
    return state
