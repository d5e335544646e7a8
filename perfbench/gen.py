#!/usr/bin/env python3
"""Seeded input generators for the benchmark.

Every generator takes a seed and an output directory and writes parquet or
JSON there; the program under test only ever receives the resulting paths.
The distributions follow the repository's test tables (``TESTDATA.md``): the
document text is resampled from the sf0.1 ``documents`` vocabulary and word
frequencies, near-duplicates are planted the way the fixture plants them (a
copy of another document with `` dup`` appended), embeddings are unit-norm
64-d vectors with weak per-label clusters, and the TPC-H-ish tables keep the
fixture's key ranges, categories and types (int32 nation/region keys, naive
microsecond timestamps).

Usage (normally called by ``run.py``)::

    python3 perfbench/gen.py tables  OUT --seed N [--docs N --vectors N ...]
    python3 perfbench/gen.py stream  OUT --seed N ...
"""
import argparse
import datetime as dt
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 documents: 30 words at near-uniform frequency (counts per 5000 docs)
# plus the planted near-duplicate marker "dup".
VOCAB = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144, "column": 9127,
    "vector": 9119, "stream": 9117, "value": 9112, "data": 9104, "small": 9100,
    "join": 9080, "filter": 9063, "big": 9057, "group": 9040, "hash": 9024,
    "customer": 9017, "sort": 9005, "order": 8971, "slow": 8960, "line": 8951,
    "part": 8929, "fast": 8926, "row": 8925, "the": 8925, "agg": 8912,
    "key": 8893, "query": 8881, "a": 8877, "scan": 8863, "batch": 8829,
}
WORDS = np.array(list(VOCAB))
WORD_P = np.array(list(VOCAB.values()), dtype=float)
WORD_P /= WORD_P.sum()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([2059, 753, 744, 742, 702], dtype=float)
LANG_P /= LANG_P.sum()
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
P_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
P_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
US = 1_000_000


def _micros(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * US


def _write(table: pa.Table, path: Path):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def documents(rng, n, dup_share):
    """`n` documents; `dup_share` of them are near-duplicates of others."""
    n_dup = int(round(n * dup_share))
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(WORDS, size=k, p=WORD_P)) for k in lens]
    dup_idx = rng.choice(n, size=n_dup, replace=False) if n_dup else []
    originals = np.setdiff1d(np.arange(n), dup_idx)
    for i in dup_idx:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    centers = rng.normal(size=(10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, size=n)
    v = rng.normal(size=(n, EMB_DIM)) + 0.56 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events(rng, n):
    t0, t1 = _micros(2024, 1, 1), _micros(2024, 1, 31)
    ts = np.sort(rng.integers(t0, t1, size=n))
    users = max(50, n // 67)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def tpch(rng, customers, suppliers, parts, orders):
    days = (_micros(2001, 8, 1) - _micros(1995, 1, 1)) // (86400 * US)
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": pa.array(REGIONS)})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=customers), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=customers), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=customers)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(suppliers), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=suppliers), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=suppliers), 2)),
    })
    price = np.round(900.0 + (np.arange(parts) % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, parts), rng.integers(0, 8, parts))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=parts)]),
        "p_type": pa.array(rng.choice(P_TYPES, size=parts)),
        "p_size": pa.array(rng.integers(1, 51, size=parts), pa.int32()),
        "p_retailprice": pa.array(price),
    })
    odate = _micros(1995, 1, 1) + rng.integers(0, days, size=orders) * 86400 * US
    order = pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, size=orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), size=orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=orders), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=orders)),
    })
    per = rng.integers(1, 8, size=orders)
    okey = np.repeat(np.arange(orders), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    n = len(okey)
    pkey = rng.integers(0, parts, size=n)
    qty = rng.integers(1, 51, size=n).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, size=n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pkey], 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), size=n)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), size=n)),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 121, size=n) * 86400 * US),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": order, "lineitem": lineitem}


def gen_tables(out: Path, seed: int, docs: int, vectors: int, events_n: int,
               orders: int, dup_share: float):
    """A full table directory (the ten test tables), sf0.001-shaped."""
    rng = np.random.default_rng(seed)
    tabs = tpch(rng, customers=max(150, orders // 10), suppliers=max(10, orders // 150),
                parts=max(200, orders // 7), orders=orders)
    tabs["events"] = events(rng, events_n)
    tabs["documents"] = documents(rng, docs, dup_share)
    tabs["embeddings"] = embeddings(rng, vectors)
    for name, t in tabs.items():
        _write(t, out / f"{name}.parquet")


def _shards(table: pa.Table, dirpath: Path, shards: int, t_base: float):
    """Split `table` row-wise into `shards` parquet files with strictly
    increasing mtimes, so a one-file-per-trigger replay reads them in order."""
    dirpath.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, shards + 1).astype(int)
    for i in range(shards):
        p = dirpath / f"part-{i:05d}.parquet"
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (t_base + i, t_base + i))


def _iso(epoch):
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _sentence(rng, n):
    return " ".join(rng.choice(WORDS, size=n, p=WORD_P)).capitalize() + "."


def _block(rng):
    s = " ".join(_sentence(rng, int(rng.integers(5, 13))) for _ in range(int(rng.integers(1, 5))))
    if rng.random() < 0.08:
        s += "\n```python\nprint('hello')\n```\n" + _sentence(rng, 6)
    return s


def exports(rng, n_claude: int, n_chatgpt: int):
    """Claude and ChatGPT raw exports with the edge cases of
    ``tools/gen_large_export.py``: ISO-Z and epoch-string timestamps,
    duplicated conversation entries, null text, role-less roots, branching
    trees, empty parts and null model slugs. Message ids are globally
    unique. Returns the two exports and the expected normalized counts."""
    claude, n_claude_msgs = [], 0
    base = 1704067200
    for i in range(n_claude):
        t0 = base + i * 3600
        ts = _iso if i % 2 == 0 else str
        msgs = [{"uuid": f"cm-{i}-{j}", "sender": "human" if j % 2 == 0 else "assistant",
                 "text": None if (i % 7 == 0 and j == 1) else _block(rng),
                 "created_at": ts(t0 + j * 30)}
                for j in range(int(rng.integers(6, 15)))]
        n_claude_msgs += len(msgs)
        claude.append({"uuid": f"cc-{i}", "name": f"Conversation {i}: {_sentence(rng, 3)[:-1]}",
                       "created_at": ts(t0), "updated_at": ts(t0 + 1800),
                       "account": {"uuid": f"acct-{i % 9}"}, "chat_messages": msgs})
    for i in range(0, n_claude, 60):
        claude.append(claude[i])
    chatgpt, n_gpt_msgs = [], 0
    base = 1706745600.0
    for i in range(n_chatgpt):
        t0 = base + i * 7200
        mapping = {f"g{i}-root": {"parent": None, "children": [f"g{i}-n0"], "message": None}}
        n_nodes = int(rng.integers(8, 17))
        prev = f"g{i}-root"
        for j in range(n_nodes):
            nid = f"g{i}-n{j}"
            children = [f"g{i}-n{j + 1}"] if j + 1 < n_nodes else []
            if j % 5 == 4:
                bid = f"g{i}-b{j}"
                children.append(bid)
                mapping[bid] = {"parent": nid, "children": [], "message": {
                    "author": {"role": "assistant"},
                    "content": {"parts": [f"branch take {j}: " + _sentence(rng, 8)]},
                    "create_time": t0 + j * 60 + 30.5,
                    "metadata": {"model_slug": "gpt-4o"}}}
                n_gpt_msgs += 1
            slug = None if j % 3 == 0 else ("gpt-4" if j % 3 == 1 else "gpt-4o")
            mapping[nid] = {"parent": prev, "children": children, "message": {
                "author": {"role": "user" if j % 2 == 0 else "assistant"},
                "content": {"parts": [] if (i % 11 == 0 and j == 2) else [_block(rng)]},
                "create_time": t0 + j * 60.0, "metadata": {"model_slug": slug}}}
            n_gpt_msgs += 1
            prev = nid
        chatgpt.append({"id": f"gc-{i}", "title": f"Chatgpt {i}: {_sentence(rng, 3)[:-1]}",
                        "create_time": t0, "update_time": t0 + n_nodes * 60.0,
                        "mapping": mapping})
    truth = {"claude": {"conversations": n_claude, "messages": n_claude_msgs},
             "chatgpt": {"conversations": n_chatgpt, "messages": n_gpt_msgs}}
    return claude, chatgpt, truth


def gen_stream(out: Path, seed: int, docs: int, vectors: int, events_n: int,
               shards: int, dup_share: float, claude: int, chatgpt: int):
    """Sharded stream inputs (events and documents as directories of parquet
    shards), the static tables the write-path rows join, and raw exports."""
    rng = np.random.default_rng(seed)
    tabs = tpch(rng, customers=150, suppliers=10, parts=200, orders=1500)
    for name, t in tabs.items():
        _write(t, out / f"{name}.parquet")
    _write(embeddings(rng, vectors), out / "embeddings.parquet")
    t_base = 1_700_000_000.0
    _shards(events(rng, events_n), out / "events.parquet", shards, t_base)
    _shards(documents(rng, docs, dup_share), out / "documents.parquet", shards, t_base)
    c, g, truth = exports(rng, claude, chatgpt)
    ex = out / "exports"
    ex.mkdir(parents=True, exist_ok=True)
    (ex / "claude_export.json").write_text(json.dumps(c))
    (ex / "chatgpt_export.json").write_text(json.dumps(g))
    truth.update({"events": events_n, "documents": docs})
    (ex / "truth.json").write_text(json.dumps(truth))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["tables", "stream"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, default=500)
    ap.add_argument("--vectors", type=int, default=500)
    ap.add_argument("--events", type=int, default=1000)
    ap.add_argument("--orders", type=int, default=1500)
    ap.add_argument("--dup-share", type=float, default=0.05)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--claude", type=int, default=300)
    ap.add_argument("--chatgpt", type=int, default=200)
    a = ap.parse_args()
    out = Path(a.out)
    if a.kind == "tables":
        gen_tables(out, a.seed, a.docs, a.vectors, a.events, a.orders, a.dup_share)
    else:
        gen_stream(out, a.seed, a.docs, a.vectors, a.events, a.shards, a.dup_share,
                   a.claude, a.chatgpt)


if __name__ == "__main__":
    main()
