"""Seeded input generation for the benchmark.

Everything the engine reads is made here from ``--seed`` with numpy and
written as plain files: parquet tables shaped like the engine's test data
(orders, lineitem, events, documents, embeddings) and Debezium-JSON change
files, one event per line, as ``sources.cdc.read_cdc_stream`` reads them.
The engine never sees the seed, only the files.

Change events follow the reference's shape: per order key one insert, then
seeded updates and deletes. LSN = key * 16 + {1, 3, 5, 9}, so LSN order is
key order.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark order data column join small line customer query filter group "
    "window stream sort big vector"
).split()
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

# LSN offsets of the four event kinds within one key's LSN slot.
LSN_INSERT, LSN_EARLY_UPDATE, LSN_LATE_UPDATE, LSN_DELETE = 1, 3, 5, 9


# --------------------------------------------------------------------------
# Tables for the query workload
# --------------------------------------------------------------------------


def orders_table(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, 2400, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(n // 10, 1), n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n) / 100.0),
            "o_orderdate": pa.array(EPOCH_1995 + days * np.timedelta64(1, "D")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def lineitem_table(rng: np.random.Generator, n_orders: int) -> pa.Table:
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    n_parts = max(n_orders * 2 // 15, 10)
    return pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_parts, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(n_parts // 20, 5), n, dtype=np.int64)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.integers(90_000, 200_000, n) / 100.0, 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
            "l_shipdate": pa.array(EPOCH_1995 + rng.integers(0, 2500, n) * np.timedelta64(1, "D")),
        }
    )


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.integers(1, 400_000_000, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(60.0, n), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in eight is a near-copy of an earlier one
    (two words swapped out), so the dedup queries find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            for pos in rng.integers(0, len(words), 2):
                words[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 80)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors around ``k`` cluster centres; one in twenty is a
    near-copy of an earlier vector."""
    centres = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n).astype(np.int32)
    vec = centres[label] + 1.2 * rng.normal(size=(n, dim))
    for i in range(8, n):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vec[i] = vec[j] + 1e-3 * rng.normal(size=dim)
            label[i] = label[j]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def write_query_tables(sf_dir: str, seed: int, n_orders: int) -> None:
    """The five tables the query workload's plans read, at ``n_orders``
    orders (the test data's ratios: 4 lineitems, 2/3 events and 1/30
    documents and embeddings per order)."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    pq.write_table(orders_table(rng, n_orders), f"{sf_dir}/orders.parquet")
    pq.write_table(lineitem_table(rng, n_orders), f"{sf_dir}/lineitem.parquet")
    pq.write_table(events_table(rng, n_orders * 2 // 3), f"{sf_dir}/events.parquet")
    pq.write_table(documents_table(rng, max(n_orders // 30, 40)), f"{sf_dir}/documents.parquet")
    pq.write_table(embeddings_table(rng, max(n_orders // 30, 40)), f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------------
# Change events
# --------------------------------------------------------------------------

EVENT_COLUMNS = ("order_id", "op", "customer_id", "amount_cents", "ts_us", "batch_id", "lsn")


def _events(order_id, op, customer_id, amount_cents, ts_us, batch_id, lsn) -> dict[str, np.ndarray]:
    return {
        "order_id": np.asarray(order_id, dtype=np.int64),
        "op": np.asarray(op, dtype="<U1"),
        "customer_id": np.asarray(customer_id, dtype=np.int32),
        "amount_cents": np.asarray(amount_cents, dtype=np.int64),
        "ts_us": np.asarray(ts_us, dtype=np.int64),
        "batch_id": np.asarray(batch_id, dtype=np.int64),
        "lsn": np.asarray(lsn, dtype=np.int64),
    }


def concat_events(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {c: np.concatenate([p[c] for p in parts]) for c in EVENT_COLUMNS}


def slice_events(ev: dict[str, np.ndarray], sl) -> dict[str, np.ndarray]:
    return {c: ev[c][sl] for c in EVENT_COLUMNS}


def order_events(seed: int, n_orders: int) -> dict[str, np.ndarray]:
    """The order stream in LSN order. ``seed`` draws the event mix: which
    keys get an early update, a late update and a final delete."""
    rng = np.random.default_rng([seed, 2])
    key = np.arange(n_orders, dtype=np.int64)
    cust = rng.integers(0, 1000, n_orders)
    cents = rng.integers(100_000, 50_000_000, n_orders)
    ts = (rng.integers(0, 2400, n_orders) * DAY_US).astype(np.int64) + 788_918_400_000_000
    batch = key // 100
    parts = [_events(key, np.full(n_orders, "c"), cust, cents, ts, batch, key * 16 + LSN_INSERT)]
    for off, share, delta in ((LSN_EARLY_UPDATE, 0.20, 500), (LSN_LATE_UPDATE, 0.33, 100)):
        m = rng.random(n_orders) < share
        parts.append(_events(key[m], np.full(m.sum(), "u"), cust[m], cents[m] + delta, ts[m], batch[m], key[m] * 16 + off))
    m = rng.random(n_orders) < 1 / 7
    parts.append(_events(key[m], np.full(m.sum(), "d"), cust[m], cents[m], ts[m], batch[m], key[m] * 16 + LSN_DELETE))
    ev = concat_events(parts)
    return slice_events(ev, np.argsort(ev["lsn"], kind="stable"))


def live_batches(
    seed: int, n_orders: int, n_batches: int, batch_events: int, hot_keys: int, new_key_share: float
) -> list[dict[str, np.ndarray]]:
    """Skewed live batches that follow the order stream: most events update
    one of ``hot_keys`` existing keys (drawn from ``seed``), the rest, a
    fixed ``new_key_share`` of each batch, insert new keys. LSNs continue
    past the order stream's last one."""
    rng = np.random.default_rng([seed, 3])
    hot = rng.choice(n_orders, hot_keys, replace=False).astype(np.int64)
    next_key, lsn = n_orders, n_orders * 16 + 16
    out = []
    for _ in range(n_batches):
        new = np.zeros(batch_events, dtype=bool)
        new[rng.choice(batch_events, round(batch_events * new_key_share), replace=False)] = True
        key = np.where(new, 0, hot[rng.integers(0, hot_keys, batch_events)])
        key[new] = np.arange(next_key, next_key + new.sum())
        next_key += int(new.sum())
        lsns = lsn + 16 * np.arange(batch_events, dtype=np.int64)
        lsn = int(lsns[-1]) + 16
        out.append(
            _events(
                key,
                np.where(new, "c", "u"),
                rng.integers(0, 1000, batch_events),
                rng.integers(100_000, 50_000_000, batch_events),
                (rng.integers(0, 2400, batch_events) * DAY_US).astype(np.int64) + 788_918_400_000_000,
                key // 100,
                lsns,
            )
        )
    return out


def events_arrow(ev: dict[str, np.ndarray]) -> pa.Table:
    """Change events as an Arrow table with the target's column types
    (amount DECIMAL(10,2), ts TIMESTAMP without time zone)."""
    import decimal

    cents = ev["amount_cents"]
    return pa.table(
        {
            "order_id": pa.array(ev["order_id"]),
            "op": pa.array(ev["op"].astype(object)),
            "customer_id": pa.array(ev["customer_id"]),
            "amount": pa.array([decimal.Decimal(int(c)).scaleb(-2) for c in cents], type=pa.decimal128(10, 2)),
            "ts": pa.array(ev["ts_us"].astype("datetime64[us]")),
            "batch_id": pa.array(ev["batch_id"]),
            "lsn": pa.array(ev["lsn"]),
        }
    )


def _lsn_text(lsn: int) -> str:
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def _ts_text(ts_us: int) -> str:
    return str(np.datetime64(int(ts_us), "us").astype("datetime64[s]"))


def envelope_lines(ev: dict[str, np.ndarray], created_ms: int) -> list[str]:
    """One ``{"key", "value"}`` JSON line per event; ``value`` is the
    Debezium envelope as text, stamped with its creation time."""
    lines = []
    for k, op, cust, cents, ts, batch, lsn in zip(*(ev[c] for c in EVENT_COLUMNS)):
        row = (
            f'{{"order_id":{k},"customer_id":{cust},"amount":{cents // 100}.{cents % 100:02d},'
            f'"ts":"{_ts_text(ts)}","batch_id":{batch}}}'
        )
        before, after = (row, "null") if op == "d" else ("null", row)
        value = (
            f'{{"op":"{op}","before":{before},"after":{after},'
            f'"source":{{"lsn":"{_lsn_text(int(lsn))}"}},"ts_ms":{created_ms}}}'
        )
        lines.append(json.dumps({"key": str(k), "value": value}))
    return lines


def write_change_file(path: str, ev: dict[str, np.ndarray], created_ms: int) -> None:
    """Write a change file atomically: the stream only ever lists whole
    files (written under a dot-name, which the file source skips, then
    renamed)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(envelope_lines(ev, created_ms)) + "\n")
    os.rename(tmp, path)
