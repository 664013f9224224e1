"""Seeded input generation: everything a run feeds the engine comes from here.

Each workload's inputs are a pure function of the seed, so the same seed
reproduces a run's inputs byte for byte and another seed changes them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# events ledger at scale factor 0.1 (the shape of the TPC-H-ish fixture's
# `events` table: 100 000 rows over 1 500 users in January 2024)
EVENTS = 100_000
USERS = 1_500
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# bank_txn
TRANSFER_BASE = 1_000_000_000  # above every ledger event id; see BankTxn.scala
WRITERS = 2
TRANSFERS_PER_WRITER = 4_000
READER_OPS = 1_000
AUDIT_EVERY = 10
ABSENT_IDS = 20

# ingest_mv
BASE_ROWS = 20_000
BATCH_ROWS = 1_000  # half updates of existing keys, half new keys
BATCHES = 40
SUPPLIERS = 1_000
QUERY_KINDS = ["range", "point", "view_agg"]
RANGE_WIDTH = 1_000

# olap_lanes: the read-only lanes it runs and the scale of its fixture
# (the TPC-H-ish star schema at scale factor 0.01)
LANES = ["q_ship_priority", "q_multi_join", "q_similarity_pq"]
PASSES = 100
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = 25
CUSTOMERS = 1_500
ORDERS = 15_000
LINEITEMS = 60_000
PARTS = 2_000
SUPPLIERS_SF001 = 100
VECTORS = 500
DIM = 64
LABELS = 10


def rng(seed, stream):
    """An independent generator per (seed, stream) pair."""
    return np.random.default_rng([seed, stream])


def events(seed):
    r = rng(seed, 1)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span, EVENTS)) + start
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, USERS, EVENTS, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, EVENTS)]),
        "value": pa.array(np.round(r.exponential(60.0, EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, EVENTS)]),
    })


def transfers(seed, writer):
    """Writer `writer`'s transfers: (tid, from, to, cents) rows. Writers
    interleave tids, so no two clients ever use the same id."""
    r = rng(seed, 10 + writer)
    n = TRANSFERS_PER_WRITER
    tid = TRANSFER_BASE + 1 + WRITERS * np.arange(n, dtype=np.int64) + writer
    src = r.integers(0, USERS, n)
    dst = (src + r.integers(1, USERS, n)) % USERS
    cents = r.integers(1, 100_000, n)
    return np.stack([tid, src, dst, cents], axis=1)


def reader_plan(seed):
    """bank_txn reader: every AUDIT_EVERY-th op is an audit, the rest look
    up the acknowledged transfer at fraction `u` of the acknowledged list."""
    u = rng(seed, 20).random(READER_OPS)
    kinds = ["audit" if (i + 1) % AUDIT_EVERY == 0 else "lookup"
             for i in range(READER_OPS)]
    return list(zip(kinds, u))


def bank_inputs(seed):
    r = rng(seed, 30)
    return {
        "events": events(seed),
        "warm": np.array([[TRANSFER_BASE, 1, 2, 100]], dtype=np.int64),
        "writers": [transfers(seed, w) for w in range(WRITERS)],
        "reader": reader_plan(seed),
        # given to no writer: far above every planned transfer id
        "absent": TRANSFER_BASE + 10**8 + r.choice(10**8, ABSENT_IDS, replace=False),
    }


def lineitems(r, keys, seq):
    """Lineitem-shaped rows for `keys`, all at version `seq`."""
    n = len(keys)
    price = np.round(r.uniform(900.0, 105_000.0, n), 2)
    ship = (np.datetime64("1995-01-02", "us").astype(np.int64)
            + r.integers(0, 2_500, n) * 86_400 * 1_000_000)
    return pa.table({
        "l_id": pa.array(np.asarray(keys, dtype=np.int64)),
        "seq": pa.array(np.full(n, seq, dtype=np.int64)),
        "l_orderkey": pa.array(r.integers(0, 150_000, n, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, SUPPLIERS, n, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
        "l_cents": pa.array(np.round(price * 100).astype(np.int64)),
    })


def upsert_batch(seed, index):
    """Batch `index` (0 is the warm-up batch): BATCH_ROWS/2 distinct updates
    of base keys and BATCH_ROWS/2 keys no earlier batch used."""
    r = rng(seed, 100 + index)
    half = BATCH_ROWS // 2
    updates = r.choice(BASE_ROWS, half, replace=False)
    fresh = BASE_ROWS + index * half + np.arange(half)
    return lineitems(r, np.concatenate([updates, fresh]), seq=index + 1)


def ingest_reader_plan(seed):
    """ingest_mv reader: the three catalog queries in turn; ranges and
    points fall inside the base keys, which every version holds."""
    r = rng(seed, 40)
    plan = []
    for i in range(300):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        if kind == "range":
            lo = int(r.integers(0, BASE_ROWS - RANGE_WIDTH))
            plan.append((kind, lo, lo + RANGE_WIDTH - 1))
        elif kind == "point":
            k = int(r.integers(0, BASE_ROWS))
            plan.append((kind, k, k))
        else:
            plan.append((kind, 0, 0))
    return plan


def ingest_inputs(seed):
    return {
        "base": lineitems(rng(seed, 50), np.arange(BASE_ROWS), seq=0),
        "warm": upsert_batch(seed, 0),
        "batches": [upsert_batch(seed, i) for i in range(1, BATCHES + 1)],
        "reader": ingest_reader_plan(seed),
    }


def days(r, first, n_days, n):
    """`n` midnight timestamps (us) within `n_days` days from `first`."""
    base = np.datetime64(first, "us").astype(np.int64)
    return pa.array(base + r.integers(0, n_days, n) * 86_400 * 1_000_000,
                    type=pa.timestamp("us"))


def olap_tables(seed):
    """The star-schema fixture the lanes read, in the column types of the
    repository's test fixtures (int32 dimension keys, int64 fact keys,
    timestamp[us] dates, list<float> embeddings)."""
    r = rng(seed, 60)
    i32, i64 = np.int32, np.int64
    pick = lambda xs, n: pa.array(np.array(xs)[r.integers(0, len(xs), n)])
    price = np.round(r.uniform(900.0, 105_000.0, LINEITEMS), 2)
    vec = r.normal(0.0, 1.0, (VECTORS, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=i32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(NATIONS, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(NATIONS)]),
            "n_regionkey": pa.array(np.arange(NATIONS, dtype=i32) % len(REGIONS))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(CUSTOMERS, dtype=i64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(CUSTOMERS)]),
            "c_nationkey": pa.array(r.integers(0, NATIONS, CUSTOMERS, dtype=i32)),
            "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, CUSTOMERS), 2)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], CUSTOMERS)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(ORDERS, dtype=i64)),
            "o_custkey": pa.array(r.integers(0, CUSTOMERS, ORDERS, dtype=i64)),
            "o_orderstatus": pick(["F", "O", "P"], ORDERS),
            "o_totalprice": pa.array(np.round(r.uniform(1_000.0, 500_000.0, ORDERS), 2)),
            "o_orderdate": days(r, "1995-01-01", 2_404, ORDERS),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], ORDERS)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(r.integers(0, ORDERS, LINEITEMS, dtype=i64)),
            "l_partkey": pa.array(r.integers(0, PARTS, LINEITEMS, dtype=i64)),
            "l_suppkey": pa.array(r.integers(0, SUPPLIERS_SF001, LINEITEMS, dtype=i64)),
            "l_linenumber": pa.array(r.integers(1, 8, LINEITEMS, dtype=i32)),
            "l_quantity": pa.array(r.integers(1, 51, LINEITEMS).astype(np.float64)),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(r.integers(0, 11, LINEITEMS) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, LINEITEMS) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], LINEITEMS),
            "l_linestatus": pick(["F", "O"], LINEITEMS),
            "l_shipdate": days(r, "1995-01-02", 2_499, LINEITEMS)}),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(VECTORS, dtype=i64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, LABELS, VECTORS, dtype=i32))}),
    }


def lane_passes(seed):
    """olap_lanes: the lane order of each pass, a seeded permutation."""
    r = rng(seed, 70)
    return [[LANES[i] for i in r.permutation(len(LANES))] for _ in range(PASSES)]


def olap_inputs(seed):
    return {"tables": olap_tables(seed), "passes": lane_passes(seed)}


def _csv(path, rows):
    with open(path, "w") as f:
        for row in rows:
            f.write(",".join(str(x) for x in row) + "\n")


def _number(path, n):
    with open(path, "w") as f:
        f.write(f"{n}\n")


def write_inputs(workload, seed, out):
    """Write `workload`'s inputs for `seed` under directory `out`."""
    os.makedirs(out, exist_ok=True)
    if workload == "bank_txn":
        d = bank_inputs(seed)
        pq.write_table(d["events"], f"{out}/events.parquet")
        _csv(f"{out}/warm.csv", d["warm"])
        for w, plan in enumerate(d["writers"]):
            _csv(f"{out}/writer{w}.csv", plan)
        _csv(f"{out}/reader.csv", d["reader"])
        _csv(f"{out}/absent.csv", ([x] for x in d["absent"]))
    elif workload == "ingest_mv":
        d = ingest_inputs(seed)
        pq.write_table(d["base"], f"{out}/base.parquet")
        pq.write_table(d["warm"], f"{out}/warm.parquet")
        os.makedirs(f"{out}/batches", exist_ok=True)
        for i, b in enumerate(d["batches"], start=1):
            pq.write_table(b, f"{out}/batches/b{i:05d}.parquet")
        _csv(f"{out}/reader.csv", d["reader"])
        _number(f"{out}/base_rows.txt", BASE_ROWS)
    elif workload == "olap_lanes":
        d = olap_inputs(seed)
        for name, t in d["tables"].items():
            pq.write_table(t, f"{out}/{name}.parquet")
        _csv(f"{out}/passes.csv", d["passes"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
