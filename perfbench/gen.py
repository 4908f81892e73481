"""Seeded input generation for the three workloads.

Everything the program reads is made here from the seed, inside the run's
own directory: the star-schema, events, documents and embeddings tables the
registry queries read (same schemas and value shapes as the repo's test
tables), and the change tables plus staged commits the relay workloads poll.
The same seed always gives the same files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
US_PER_DAY = 86_400_000_000

CHANGE_SCHEMA = pa.schema([
    ("id", pa.int64()), ("xact_id", pa.int64()), ("operation", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
    ("changed", pa.list_(pa.string())),
])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(base_days, us):
    """Microsecond timestamps `us` after day `base_days` since 1970."""
    return pa.array(base_days * US_PER_DAY + np.asarray(us, dtype=np.int64),
                    type=pa.timestamp("us"))


def events(rng, n, users):
    gaps = rng.exponential(30 * US_PER_DAY / n, n).astype(np.int64) + 1
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(19723, np.cumsum(gaps)),  # from 2024-01-01
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def registry_tables(rng, out, sf):
    """The ten tables the registry queries read, at scale factor `sf`."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    t = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "large", "red", "blue", "hot", "cold", "old"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "anvil"], n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": _ts(9131, rng.integers(0, 2404, n_ord) * US_PER_DAY),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
            "l_shipdate": _ts(9132, rng.integers(0, 2498, n_li) * US_PER_DAY)}),
        "events": events(rng, int(1_000_000 * sf), max(15, int(15_000 * sf))),
        "documents": documents(rng, max(500, int(50_000 * sf))),
        "embeddings": embeddings(rng, max(500, int(20_000 * sf))),
    }
    for name, table in t.items():
        _write(table, os.path.join(out, "tables", f"{name}.parquet"))


def change_rows(rng, pool, first_version, n):
    """`n` outbox rows with versions first_version.., drawn from an events
    pool; the seed picks the rows and the operation mix."""
    idx = rng.integers(0, pool.num_rows, n)
    ops = rng.choice(["I", "U", "D"], n, p=[0.7, 0.25, 0.05])
    ids = np.arange(first_version, first_version + n, dtype=np.int64)
    return pa.table({
        "id": ids, "xact_id": ids, "operation": pa.array(ops),
        "value": pool.column("value").take(pa.array(idx)),
        "props": pool.column("props").take(pa.array(idx)),
        "changed": pa.array([["value"] if o == "U" else None for o in ops],
                            type=pa.list_(pa.string())),
    }, schema=CHANGE_SCHEMA)


def fanout(rng, out, objects, secondary, base_rows, commit_rows, period_s, seconds):
    """Per-object change tables plus staged commit files. Object j commits
    every `period_s` seconds from offset j/objects * period_s; the benchmark
    moves each staged file into the table at its due time."""
    pool = events(rng, 20_000, 1_500)
    objs = []
    for j in range(objects):
        name = f"obj{j:02d}"
        table = f"tables/{name}"
        _write(change_rows(rng, pool, 1, base_rows), os.path.join(out, table, "base.parquet"))
        version = base_rows + 1
        warm, commits = [], []
        due = period_s * j / objects
        schedule = [None]
        while due < seconds:
            schedule.append(due)
            due += period_s
        for k, due_s in enumerate(schedule):
            f = f"staged/{name}/c{k:05d}.parquet"
            _write(change_rows(rng, pool, version, commit_rows), os.path.join(out, f))
            rec = {"file": f, "min": version, "max": version + commit_rows - 1}
            version += commit_rows
            if due_s is None:
                warm.append(dict(rec, due_s=0.0))
            else:
                commits.append(dict(rec, due_s=due_s))
        objs.append({"name": name, "table": table, "base_max": base_rows,
                     "warm": warm, "commits": commits,
                     "env": "secondary" if j >= objects - secondary else "primary"})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"objects": objs, "period_s": period_s}, f)


def initial_sync(rng, out, rows):
    """One change table of `rows` rows (versions 1..rows): the events pool
    replicated with a seeded salt on value and props."""
    pool = events(rng, 100_000, 1_500)
    reps = -(-rows // pool.num_rows)
    salt = rng.integers(0, 1 << 20, reps)
    value = np.concatenate([pool.column("value").to_numpy() + s / 1e6 for s in salt])[:rows]
    props = [f'{{"k": {k}, "salt": {s}}}' for s in salt
             for k in rng.integers(0, 100, pool.num_rows)][:rows]
    ids = np.arange(1, rows + 1, dtype=np.int64)
    ops = rng.choice(["I", "U", "D"], rows, p=[0.7, 0.25, 0.05])
    table = pa.table({
        "id": ids, "xact_id": ids, "operation": pa.array(ops),
        "value": pa.array(np.round(value, 6)), "props": pa.array(props),
        "changed": pa.array([["value"] if o == "U" else None for o in ops],
                            type=pa.list_(pa.string())),
    }, schema=CHANGE_SCHEMA)
    # Several files, as an outbox accumulates them.
    per = -(-rows // 8)
    for i in range(8):
        _write(table.slice(i * per, per), os.path.join(out, "sync_table", f"part-{i}.parquet"))
