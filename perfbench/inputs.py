"""Seeded input generation. The package under test only ever sees the
files written here: JSON-lines batches for the importer, parquet CDC
micro-batches for the demux, and the ten parquet fixture tables the query
registry reads. The same seed always yields the same bytes of input.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# ingest_cow: nested JSON-lines batches
# ---------------------------------------------------------------------------

TIERS = ("gold", "silver", "bronze", "basic")
CURRENCIES = ("EUR", "USD", "GBP", "JPY")
REGIONS = ("north", "south", "east", "west", "central")


@dataclass
class IngestPlan:
    """The staged batch files and the records in each."""

    paths: list[str]
    batches: list[list[dict]]


def ingest_batches(
    rng: np.random.Generator,
    out_dir: str,
    n_batches: int,
    genesis_rows: int,
    batch_rows: int,
    stale_share: float = 0.05,
) -> IngestPlan:
    """Batch 0 inserts ``genesis_rows`` new keys; every later batch
    updates existing keys (skewed toward recent keys) with about half its
    rows and inserts new keys with the rest. A small share of updates
    carries an older precombine value than the key's current one, so it
    must lose the merge."""
    os.makedirs(out_dir, exist_ok=True)
    plan = IngestPlan(paths=[], batches=[])
    current_ts: dict[int, int] = {}
    next_key = 0
    clock = 1_000_000
    for b in range(n_batches):
        n = genesis_rows if b == 0 else batch_rows
        n_upd = 0 if b == 0 else n // 2
        keys: list[int] = []
        if n_upd:
            # recent keys are hotter: the offset back from the newest key
            # is exponential, so the hot set moves as the table grows
            back = rng.exponential(scale=max(1.0, next_key / 6), size=n_upd)
            keys += [int(next_key - 1 - min(int(x), next_key - 1)) for x in back]
        keys += list(range(next_key, next_key + n - n_upd))
        next_key += n - n_upd
        order = rng.permutation(len(keys))
        records = []
        for i in order:
            k = keys[i]
            clock += 7
            ts = clock
            if k in current_ts and rng.random() < stale_share:
                ts = current_ts[k] - 1 - int(rng.integers(0, 3))
            current_ts[k] = max(current_ts.get(k, ts), ts)
            records.append(
                {
                    "id": k,
                    "ts": ts,
                    "region": REGIONS[int(rng.integers(0, len(REGIONS)))],
                    "customer": {
                        "name": f"cust{int(rng.integers(0, 1 << 20)):06x}",
                        "tier": TIERS[int(rng.integers(0, len(TIERS)))],
                    },
                    "amount": {
                        "cents": int(rng.integers(0, 10_000_000)),
                        "currency": CURRENCIES[int(rng.integers(0, 4))],
                    },
                }
            )
        path = os.path.join(out_dir, f"batch_{b:04d}.json")
        text = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in records)
        with open(path, "w") as fh:
            fh.write(text)
        plan.paths.append(path)
        plan.batches.append(records)
    return plan


# ---------------------------------------------------------------------------
# cdc_mor: parquet CDC micro-batches across many tables
# ---------------------------------------------------------------------------

CDC_DB = "shop"
CDC_EPOCH_US = 1_700_000_000_000_000
CDC_ARROW_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("db", pa.string()),
        ("table", pa.string()),
        ("id", pa.int64()),
        ("data", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("binlog_file", pa.string()),
        ("binlog_offset", pa.int64()),
    ]
)


@dataclass
class CdcPlan:
    tables: list[str]
    paths: list[str] = field(default_factory=list)
    # per batch: list of (table, op, id, data, ts_us)
    batches: list[list[tuple]] = field(default_factory=list)


def cdc_batches(
    rng: np.random.Generator,
    out_dir: str,
    n_batches: int,
    n_tables: int,
    batch_events: int,
    zipf_s: float = 1.1,
    late_share: float = 0.05,
    dup_share: float = 0.03,
) -> CdcPlan:
    """Micro-batches of insert/update/delete events, Zipf-skewed across
    ``n_tables`` tables. Batch 0 is all inserts. Later batches mix
    inserts (40%), updates (45%) and deletes (15%), plus late updates
    (older timestamp than the key's current row) and redelivered
    duplicates of earlier events.

    Every event's timestamp is unique per key, except exact duplicates.
    No event reaches a key with an older timestamp than a delete of that
    key in an earlier batch: the table keeps no tombstone after a
    compaction, so such an event would come back to life depending on
    when compaction ran, and the expected state would not be defined."""
    os.makedirs(out_dir, exist_ok=True)
    tables = [f"t{i:02d}" for i in range(n_tables)]
    weights = 1.0 / np.arange(1, n_tables + 1) ** zipf_s
    weights /= weights.sum()
    plan = CdcPlan(tables=tables)
    live: list[dict[int, int]] = [dict() for _ in tables]  # id -> ts
    deleted_at: list[dict[int, int]] = [dict() for _ in tables]
    next_id = [0] * n_tables
    clock = CDC_EPOCH_US
    offset = 4
    prev: list[tuple] = []
    for b in range(n_batches):
        events: list[tuple] = []
        batch_deletes: list[tuple[int, int, int]] = []
        counts = rng.multinomial(batch_events, weights)
        for t, cnt in enumerate(counts):
            ops = (
                np.zeros(cnt, dtype=int)
                if b == 0
                else rng.choice(3, size=cnt, p=[0.40, 0.45, 0.15])
            )
            for op in ops:
                clock += 10
                k = None
                if op:
                    # recent keys are hotter: step back from the newest id
                    scale = max(1.0, len(live[t]) / 5)
                    for _ in range(4):
                        cand = next_id[t] - 1 - int(rng.exponential(scale))
                        if cand in live[t]:
                            k = cand
                            break
                if k is None:
                    k = next_id[t]
                    next_id[t] += 1
                    kind = "insert"
                else:
                    kind = "update" if op == 1 else "delete"
                ts = clock
                if kind == "update" and rng.random() < late_share:
                    ts = live[t][k] - 1 - int(rng.integers(0, 8))
                data = f"v{int(rng.integers(0, 1 << 30)):x}-" + "x" * int(
                    rng.integers(0, 24)
                )
                events.append((tables[t], kind, k, data, ts))
                if kind == "delete":
                    live[t].pop(k, None)
                    batch_deletes.append((t, k, ts))
                elif ts > live[t].get(k, -1):
                    live[t][k] = ts
        # redelivered duplicates: of this batch's events or the previous
        # batch's, never older than a delete from an earlier batch
        pool = events + prev
        n_dup = int(len(events) * dup_share)
        for i in rng.integers(0, len(pool), size=n_dup):
            ev = pool[int(i)]
            t = tables.index(ev[0])
            if ev[4] > deleted_at[t].get(ev[2], -1):
                events.append(ev)
        for t, k, ts in batch_deletes:
            deleted_at[t][k] = max(deleted_at[t].get(k, -1), ts)
        order = rng.permutation(len(events))
        events = [events[int(i)] for i in order]
        rows = {
            "op": [],
            "db": [],
            "table": [],
            "id": [],
            "data": [],
            "ts": [],
            "binlog_file": [],
            "binlog_offset": [],
        }
        for tbl, kind, k, data, ts in events:
            offset += 100
            rows["op"].append(kind)
            rows["db"].append(CDC_DB)
            rows["table"].append(tbl)
            rows["id"].append(k)
            rows["data"].append(data)
            rows["ts"].append(ts)
            rows["binlog_file"].append("mysql-bin.000001")
            rows["binlog_offset"].append(offset)
        path = os.path.join(out_dir, f"batch_{b:04d}.parquet")
        pq.write_table(pa.table(rows, schema=CDC_ARROW_SCHEMA), path)
        plan.paths.append(path)
        plan.batches.append(events)
        prev = events
    return plan


# ---------------------------------------------------------------------------
# query_mix: the ten fixture tables of the query registry
# ---------------------------------------------------------------------------
#
# The generator follows the distributions of the seeded fixture tables the
# query registry is developed against (the sf0.01 and sf0.1 sets), measured
# per table: uniform keys and categories, orders and ship dates uniform over
# about 6.6 years, exponential event values and inter-arrival gaps, 10 to
# 100 words per document from a 30-word vocabulary with 5% of documents in
# near-duplicate pairs (a copy with one extra word), and unit-length
# isotropic embeddings whose labels carry no geometry. ``scale`` 1.0 gives
# the row counts of the sf0.01 set.

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query filter stream group vector"
).split()
DUP_WORD = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "red", "old", "new", "hot", "cold", "small", "large")
PART_NOUNS = ("anvil", "widget", "gizmo", "ring", "gear", "bolt", "plate", "rod")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, size=n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def query_fixtures(rng: np.random.Generator, out_dir: str, scale: float) -> int:
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings as one parquet file each, with the
    column names and types the registry's queries and oracles expect.
    Returns the total row count."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(1500 * scale)
    n_supp = int(100 * scale)
    n_part = int(2000 * scale)
    n_ord = int(15000 * scale)
    n_line = int(60000 * scale)
    n_ev = int(10000 * scale)
    n_doc = int(500 * scale)
    n_emb = int(500 * scale)
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10, 2),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": pa.array(
                _days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")
            ),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(
                _days(rng, n_line, "1995-01-02", 2498), pa.timestamp("us")
            ),
        },
        "events": _events(rng, n_ev),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    total = 0
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        total += t.num_rows
    return total


def _events(rng, n):
    """Exponential gaps over 30 days, about 66 events per user."""
    gaps = rng.exponential(scale=2592000e6 / n, size=n).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    return {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n * 3 // 200), n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
    }


def _documents(rng, n):
    """Random word sequences of 10 to 100 words. One document in twenty
    is the copy of another, and one of each such pair ends in an extra
    word, so the Jaccard and containment queries each find about n/20
    pairs."""
    texts = [
        [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        for _ in range(n)
    ]
    slots = rng.permutation(n)
    n_pairs = n // 20
    for src, dst in zip(slots[:n_pairs], slots[n_pairs : 2 * n_pairs]):
        texts[dst] = list(texts[src])
        grown = src if rng.random() < 0.5 else dst
        texts[grown] = texts[grown] + [DUP_WORD]
    texts = [" ".join(t) for t in texts]
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [
            LANGS[0] if rng.random() < 0.42 else LANGS[int(rng.integers(1, 5))]
            for _ in range(n)
        ],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n, dim=64):
    """Unit-length isotropic vectors; the label is independent of them."""
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }
