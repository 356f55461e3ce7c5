"""Seeded input generator for the benchmark.

Every input the program sees is written here, from one ``numpy`` generator
seeded by ``--seed``: the same seed gives byte-identical files.

- ``events`` and the TPC-H-style tables follow the shapes of the
  repository's testdata (TESTDATA.md: same columns, types and value
  ranges), so the registered batch queries and their DuckDB oracles run on
  them unchanged.
- Transaction envelopes apply the ``sources/cdc_sim`` mapping to ``events``
  (type, status and op derived from ``event_id``) and carry the
  ``cdc_sim.with_synthetic_ledger`` balances, so the balance pipeline holds
  state: per account the running sum of amounts in (time, id) order, with a
  +7.5 ledger error where ``transaction_id % 13 == 5``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["purchase", "click", "error", "signup", "view"])
TXN_TYPES = np.array(["DEBIT", "TRANSFER_OUT", "FEE", "CREDIT", "TRANSFER_IN"])
DAY_US = 86_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
# Account of the flush transaction: no customer has it, and its rows are
# left out of every reference comparison (its own dormancy session never
# closes in the stream).
FLUSH_ACCOUNT = 9_999_999


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def events(rng: np.random.Generator, n: int, n_accounts: int, days: int,
           first_id: int = 0, start_us: int = EPOCH_2024_US) -> pa.Table:
    """``n`` events over ``days`` days, strictly increasing in time and id.

    Strictly increasing timestamps mean any cut between rows is a clean
    event-time boundary, so a file-by-file replay never makes a row late."""
    ts = np.sort(rng.integers(0, days * DAY_US - n, n)) + np.arange(n)
    value = np.clip(np.round(rng.exponential(50.0, n), 2), 0.01, 560.0)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(start_us + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_accounts, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def flush_event(after_us: int, after_id: int) -> pa.Table:
    """One completed DEBIT of 0.01 on FLUSH_ACCOUNT, three days after
    ``after_us``.

    Its event time moves every watermark past the last session end, so the
    dormancy pipeline closes (and emits) every session. It must be a
    completed debit: Spark pushes the pipelines' debit filters below the
    watermark, so no other row reaches it. The id is the first one above
    ``after_id`` that the cdc_sim mapping turns into a completed insert
    (ids ending in 0 become deletes, ids with ``id % 7 == 3`` PENDING)."""
    eid = (after_id // 10 + 1) * 10 + 5
    while eid % 7 == 3:
        eid += 10
    return pa.table({
        "event_id": pa.array([eid], pa.int64()),
        "ts": pa.array(np.array([after_us + 3 * DAY_US]), pa.timestamp("us")),
        "user_id": pa.array([FLUSH_ACCOUNT], pa.int64()),
        "event_type": pa.array(["purchase"]),
        "value": pa.array([0.01]),
        "props": pa.array(['{"k": 0}']),
    })


def envelope_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from cdc_stream_processor_spark import schemas

    return to_arrow_schema(schemas.TRANSACTION_ENVELOPE)


def envelopes(ev: pa.Table, schema: pa.Schema) -> pa.Table:
    """``sources/cdc_sim`` envelope mapping plus the synthetic ledger."""
    n = ev.num_rows
    eid = ev["event_id"].to_numpy()
    acct = ev["user_id"].to_numpy()
    ts_us = ev["ts"].cast(pa.int64()).to_numpy()
    amount = ev["value"].to_numpy()
    etype = ev["event_type"].to_numpy(zero_copy_only=False)
    type_idx = np.full(n, -1)
    for i, name in enumerate(EVENT_TYPES):
        type_idx[etype == name] = i
    txn_type = np.where(type_idx >= 0, TXN_TYPES[type_idx], "INTEREST")
    is_delete = eid % 10 == 0
    op = np.select([is_delete, eid % 10 == 1, eid % 10 == 2], ["d", "r", "u"], "c")

    # Ledger over the rows parse_transactions keeps (not deleted, account
    # != 0), in (initiated_at, transaction_id) order per account. Events
    # are already in that order, so a stable sort by account suffices;
    # integer cents keep the running sum exact.
    kept = ~is_delete & (acct != 0)
    cents = np.round(amount * 100).astype(np.int64)
    idx = np.flatnonzero(kept)
    order = idx[np.argsort(acct[idx], kind="stable")]
    run = np.cumsum(cents[order])
    starts = np.r_[True, acct[order][1:] != acct[order][:-1]]
    base = np.maximum.accumulate(np.where(starts, run - cents[order], 0))
    after_cents = np.zeros(n, np.int64)
    after_cents[order] = run - base
    bal_after = after_cents / 100.0
    bal_before = (after_cents - cents) / 100.0 + np.where(eid % 13 == 5, 7.5, 0.0)

    value_type = schema.field("after").type

    def nulls(t):
        return pa.nulls(n, t)

    cols = {
        "TRANSACTION_ID": pa.array(eid.astype(np.float64)),
        "ACCOUNT_ID": pa.array(acct.astype(np.float64)),
        "TRANSACTION_REF": pa.array(np.char.add("REF-", eid.astype(str))),
        "TRANSACTION_TYPE": pa.array(txn_type),
        "AMOUNT": pa.array(amount),
        "CURRENCY": pa.array(np.full(n, "NGN")),
        "BALANCE_BEFORE": pa.array(bal_before, mask=~kept),
        "BALANCE_AFTER": pa.array(bal_after, mask=~kept),
        "CHANNEL": pa.array(np.char.upper(etype.astype(str))),
        "TRANSACTION_STATUS": pa.array(np.where(eid % 7 == 3, "PENDING", "COMPLETED")),
        "INITIATED_AT": pa.array(ts_us, pa.int64()),
    }
    fields = list(value_type)
    image = pa.StructArray.from_arrays(
        [cols[f.name].cast(f.type) if f.name in cols else nulls(f.type) for f in fields],
        fields=fields,
    )
    before = pa.StructArray.from_arrays(
        image.flatten(), fields=fields, mask=pa.array(~is_delete))
    after = pa.StructArray.from_arrays(
        image.flatten(), fields=fields, mask=pa.array(is_delete))
    src_type = schema.field("source").type
    eid_s = pa.array(eid.astype(str))
    src_cols = {
        "version": pa.array(np.full(n, "2.4")),
        "connector": pa.array(np.full(n, "oracle")),
        "name": pa.array(np.full(n, "xepdb1")),
        "ts_ms": pa.array(ts_us // 1000, pa.int64()),
        "snapshot": pa.array(np.full(n, "false")),
        "db": pa.array(np.full(n, "XEPDB1")),
        "schema": pa.array(np.full(n, "BANKDB")),
        "table": pa.array(np.full(n, "TRANSACTIONS")),
        "txId": eid_s,
        "scn": eid_s,
    }
    source = pa.StructArray.from_arrays(
        [src_cols[f.name] if f.name in src_cols else nulls(f.type) for f in src_type],
        fields=list(src_type),
    )
    return pa.Table.from_arrays(
        [before, after, pa.array(op), pa.array(ts_us // 1000, pa.int64()), source,
         nulls(schema.field("transaction").type)],
        schema=schema,
    )


def cut_points(rng: np.random.Generator, n_rows: int, n_files: int,
               jitter: float) -> np.ndarray:
    """Row offsets of ``n_files`` consecutive slices whose sizes vary by up
    to ``jitter`` around the mean (the seed sets the jitter)."""
    w = 1.0 + jitter * (2 * rng.random(n_files) - 1)
    sizes = np.maximum(1, np.floor(w / w.sum() * n_rows)).astype(int)
    sizes[-1] = n_rows - sizes[:-1].sum()
    if sizes[-1] < 1:
        raise ValueError("too many files for the rows")
    return np.r_[0, np.cumsum(sizes)]


def write_slices(table: pa.Table, cuts: np.ndarray, out_dir: str) -> list[str]:
    """Write ``table[cuts[i]:cuts[i+1]]`` as one file each; return paths in
    order."""
    paths = []
    for i in range(len(cuts) - 1):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        paths.append(path)
    return paths


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n)]),
    })


_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["widget", "bolt", "gear", "ring", "rod", "plate", "gizmo", "anvil"]
_PTYPE = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group "
          "big sort query fast the").split()
_LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])


def _days_us(rng, n, first: str, n_days: int) -> pa.Array:
    start = np.datetime64(first, "D").astype("datetime64[us]").astype(np.int64)
    return pa.array(start + rng.integers(0, n_days, n) * DAY_US, pa.timestamp("us"))


def batch_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """The testdata table set at ``scale`` (1.0 = sf0.01 row counts:
    15k orders, 60k lineitems, 10k events, 500 documents, 500 vectors)."""
    n_cust = max(50, int(1500 * scale))
    n_part = max(50, int(2000 * scale))
    n_supp = max(10, int(100 * scale))
    n_ord = max(100, int(15000 * scale))
    n_line = 4 * n_ord
    n_ev = max(200, int(10000 * scale))
    n_doc = max(40, int(500 * scale))
    n_vec = max(40, int(500 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = customer(rng, n_cust)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(_PTYPE)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _days_us(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": pa.array(np.array(_PRIO)[rng.integers(0, 5, n_ord)]),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flags = rng.integers(0, 3, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days_us(rng, n_line, "1995-01-02", 2499),
    })
    t["events"] = events(rng, n_ev, max(20, n_cust // 10), 30)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), k)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n_doc)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def permuted(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    """Row permutation of ``table`` (the batch workload's per-seed shuffle)."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def write_batch_tables(rng: np.random.Generator, scale: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    rows = {}
    for name, table in batch_tables(rng, scale).items():
        write_table(permuted(rng, table), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
