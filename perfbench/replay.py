"""Expected outputs, computed without Spark: a pure-Python replay of the
seeded inputs for the lake workloads, and the registry's DuckDB oracle for
the query mix. Tables are compared by row count and an order-independent
digest."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

INGEST_BUCKETS = 16
INGEST_COLUMNS = (
    "id", "ts", "region", "customer", "amount_cents", "amount_currency", "bucket"
)
# The user's <SRC> transform for the importer; ingest_row mirrors it.
INGEST_SQL = (
    "SELECT id, ts, region, "
    "concat(customer_name, ':', upper(customer_tier)) AS customer, "
    "amount_cents, amount_currency, "
    f"CAST(pmod(id, {INGEST_BUCKETS}) AS INT) AS bucket FROM <SRC>"
)
# The per-table transform of the transformed half of the CDC tables.
CDC_SQL = "SELECT *, length(data) AS data_len FROM <SRC>"


def digest(rows) -> tuple[int, str]:
    """(row count, order-independent digest) of an iterable of tuples."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b("\x1f".join(map(str, r)).encode(), digest_size=16)
        acc = (acc + int.from_bytes(h.digest(), "big")) % (1 << 128)
        n += 1
    return n, f"{acc:032x}"


# ---------------------------------------------------------------------------
# ingest_cow
# ---------------------------------------------------------------------------


def ingest_row(rec: dict) -> tuple:
    """One JSON record after flatten and INGEST_SQL."""
    return (
        rec["id"],
        rec["ts"],
        rec["region"],
        f"{rec['customer']['name']}:{rec['customer']['tier'].upper()}",
        rec["amount"]["cents"],
        rec["amount"]["currency"],
        rec["id"] % INGEST_BUCKETS,
    )


def ingest_apply(state: dict[int, tuple], records: list[dict]) -> None:
    """Upsert one batch: latest precombine (ts) wins; no ties occur."""
    for rec in records:
        cur = state.get(rec["id"])
        if cur is None or rec["ts"] >= cur[1]:
            state[rec["id"]] = ingest_row(rec)


# ---------------------------------------------------------------------------
# cdc_mor
# ---------------------------------------------------------------------------


def cdc_apply(
    states: dict[str, dict[int, tuple]], events: list[tuple], transformed: set[str]
) -> None:
    """Apply one micro-batch: per key the event with the latest ts wins
    inside the batch; it then competes with the table's row by ts (an
    upsert wins ties, a delete removes rows at or below its ts)."""
    winners: dict[tuple[str, int], tuple] = {}
    for ev in events:
        table, _op, k, _data, ts = ev
        cur = winners.get((table, k))
        if cur is None or ts > cur[4]:
            winners[(table, k)] = ev
    for (table, k), (_t, op, _k, data, ts) in winners.items():
        state = states.setdefault(table, {})
        cur = state.get(k)
        if op == "delete":
            if cur is not None and cur[1] <= ts:
                del state[k]
        elif cur is None or ts >= cur[1]:
            row = (k, ts, data)
            state[k] = row + (len(data),) if table in transformed else row


# ---------------------------------------------------------------------------
# query_mix: DuckDB oracle compare
# ---------------------------------------------------------------------------


def _norm(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return ("nan",) if math.isnan(f) else ("f", f)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), _norm(x)) for k, x in v.items())))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return ("s", str(v))


def _close(a, b) -> bool:
    if a[0] == "f" and b[0] == "f":
        return a[1] == b[1] or abs(a[1] - b[1]) <= 1e-9 * max(1.0, abs(a[1]), abs(b[1]))
    if a[0] in ("l", "m") and b[0] == a[0]:
        return len(a[1]) == len(b[1]) and all(_close(x, y) for x, y in zip(a[1], b[1]))
    return a == b


def oracle_mismatch(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when the two results hold the same rows (any order, floats to
    a relative 1e-9), else a one-line reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != oracle {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"{len(spark_rows)} rows != oracle {len(duck_rows)}"
    order = sorted(spark_cols)
    si = [spark_cols.index(c) for c in order]
    di = [duck_cols.index(c) for c in order]
    left = sorted((tuple(_norm(r[i]) for i in si) for r in spark_rows), key=repr)
    right = sorted((tuple(_norm(r[i]) for i in di) for r in duck_rows), key=repr)
    for a, b in zip(left, right):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {a} != oracle {b}"
    return None
