"""Seeded input generators for the benchmark.

Everything the program reads in a run is made here from the run's seed:
the ten fixture tables (same schemas, physical types and value domains as
the fixture testdata described in FIXTURES.md, one parquet file with one row
group each) and, for `replica_sync`, the initial replica snapshot plus a
series of DAP envelope deliveries. The same seed gives byte-identical files;
`python3 perfbench/selftest.py` shows it.

The feed generator also folds the expected replica after every poll with a
plain-Python latest-ts-wins, delete-wins fold, independent of the engine.
"""
import gzip
import hashlib
import json
import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
NOUN = ["bolt", "plate", "rod", "anvil", "ring", "gear", "widget", "gizmo"]
PTYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00Z in µs

# replica_sync feed shape. These rates, and the shares of new keys,
# deletes, late rows and equal-ts deletes below, are assumptions chosen to
# exercise every fold case; they are not taken from measured DAP traffic.
SYNC_DELIVERIES = 48         # two 18-poll cycles and spare
SYNC_CHANGES = 400           # change rows per delivery
SYNC_REDELIVER_EVERY = 6     # every 6th delivery repeats an earlier file


def _write(path, cols):
    t = pa.table(cols)
    pq.write_table(t, path, compression="snappy", row_group_size=max(1, t.num_rows))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out_dir, seed, sf=0.1):
    """Write the ten fixture tables for scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(SEGMENTS).take(rng.integers(0, 5, n_cust))})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pk,
        "p_name": pa.array(names).take(rng.integers(0, len(names), n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)])
        .take(rng.integers(0, 25, n_part)),
        "p_type": pa.array(PTYPES).take(rng.integers(0, 6, n_part)),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pa.array(STATUS).take(rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": pa.array(PRIORITY).take(rng.integers(0, 5, n_ord))})
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, n_li)),
        "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n_li)),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * US_PER_DAY)})
    # events arrive in event_id order with strictly increasing µs timestamps
    gaps = 1 + rng.exponential(30 * US_PER_DAY / n_ev, n_ev).astype(np.int64)
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(20, int(15_000 * sf)), n_ev, dtype=np.int64),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {i}}}' for i in range(100)])
        .take(rng.integers(0, 100, n_ev))})
    # documents: synthetic prose over a 30-word vocabulary; 5% near-duplicates
    # (a copy of another document plus one token) and a few exact copies
    lens = rng.integers(10, 101, n_doc)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pa.array(LANGS).take(rng.choice(5, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})


# ---------------------------------------------------------------- sync feed
#
# The replica is keyed by o_orderkey and carries (o_custkey, o_orderstatus,
# o_totalprice) plus the change columns ts (µs), seq and action. A change's
# fold order is (ts, is_delete, seq): latest ts wins, a delete beats an
# upsert at the same ts, and seq breaks the remaining ties.

def _fold_key(ts, action, seq):
    return (ts, 1 if action == "D" else 0, seq)


def sync_feed(out_dir, seed, orders_path):
    """Write the initial snapshot and the deliveries into `out_dir`.

    Layout:
      snapshot.parquet            initial replica (every key action 'U')
      deliveries/NNNN.jsonl.gz    DAP envelopes {key, value, meta}
      manifest.jsonl              one line per delivery, in arrival order:
                                  {file, since, until, bytes, expected_rows}
    `expected_rows` is the snapshot row count after that delivery is
    applied; a re-delivery leaves it unchanged (the since-gate skips it).
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{out_dir}/deliveries", exist_ok=True)
    o = pq.read_table(orders_path, columns=[
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]).to_pydict()
    n = len(o["o_orderkey"])
    t0 = EPOCH_2024 + 30 * US_PER_DAY
    snap_ts = t0 - rng.integers(1, 30 * US_PER_DAY, n)
    _write(f"{out_dir}/snapshot.parquet", {
        "o_orderkey": pa.array(o["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(o["o_custkey"], pa.int64()),
        "o_orderstatus": o["o_orderstatus"],
        "o_totalprice": pa.array(o["o_totalprice"], pa.float64()),
        "ts": pa.array(snap_ts, pa.int64()),
        "seq": pa.array(np.zeros(n, dtype=np.int64)),
        "action": ["U"] * n})
    # state: key -> fold key of its winning change (action needed for count)
    state = {k: (int(t), 0, 0) for k, t in zip(o["o_orderkey"], snap_ts)}
    live = n
    next_key = n
    seq = 0
    clock = t0
    written = []
    manifest = []
    for d in range(SYNC_DELIVERIES):
        since = clock
        if d and d % SYNC_REDELIVER_EVERY == 0:
            # a re-delivery: the same bytes again, with its old window
            old = written[int(rng.integers(0, len(written)))]
            manifest.append(dict(old, expected_rows=live))
            continue
        clock += int(rng.integers(60, 600)) * 1_000_000
        n_ch = SYNC_CHANGES
        is_new = rng.random(n_ch) < 0.10                 # inserts of new keys
        pick = rng.random(n_ch)                          # which existing key
        late = rng.random(n_ch) < 0.05                   # ts far in the past
        ts_now = rng.integers(since + 1, clock + 1, n_ch)
        ts_late = since - rng.integers(1, 40 * US_PER_DAY, n_ch)
        is_del = rng.random(n_ch) < 0.08
        collide = rng.random(n_ch) < 0.01                # equal ts: delete wins
        cust = rng.integers(0, 15_000, n_ch)
        status = rng.integers(0, 3, n_ch)
        price = np.round(rng.uniform(1000, 500_000, n_ch), 2)
        lines = []
        for j in range(n_ch):
            seq += 1
            if is_new[j]:
                k = next_key
                next_key += 1
            else:
                k = int(pick[j] * next_key)
            ts = int(ts_late[j] if late[j] else ts_now[j])
            action = "D" if is_del[j] else "U"
            if collide[j] and k in state:
                ts, action = state[k][0], "D"
            env = {"key": {"o_orderkey": k}, "meta": {"ts": ts, "seq": seq, "action": action}}
            if action == "U":
                env["value"] = {"o_custkey": int(cust[j]), "o_orderstatus": STATUS[status[j]],
                                "o_totalprice": float(price[j])}
            lines.append(env)
            fk = _fold_key(ts, action, seq)
            prev = state.get(k)
            if prev is None or fk > prev:
                was_live = prev is not None and prev[1] == 0
                state[k] = fk
                live += (action == "U") - was_live
        # arrival order inside a delivery is not ts order
        order = rng.permutation(len(lines))
        body = "".join(json.dumps(lines[i], sort_keys=True) + "\n" for i in order)
        name = f"deliveries/{d:04d}.jsonl.gz"
        with open(f"{out_dir}/{name}", "wb") as f:
            # mtime=0 keeps the gzip header, and so the bytes, seed-determined
            f.write(gzip.compress(body.encode(), mtime=0))
        entry = {"file": name, "since": since, "until": clock,
                 "bytes": os.path.getsize(f"{out_dir}/{name}")}
        written.append(entry)
        manifest.append(dict(entry, expected_rows=live))
    with open(f"{out_dir}/manifest.jsonl", "w") as f:
        for m in manifest:
            f.write(json.dumps(m, sort_keys=True) + "\n")


def generate(out_dir, seed, workload):
    """All inputs one run of `workload` reads, under `out_dir`."""
    sf = 0.01 if workload == "stream_ops" else 0.1
    tables(f"{out_dir}/data", seed, sf)
    if workload == "replica_sync":
        sync_feed(f"{out_dir}/sync", seed, f"{out_dir}/data/orders.parquet")


def digest(root):
    """sha256 over every file's relative path and bytes under `root`."""
    h = hashlib.sha256()
    for dp, dns, fns in sorted(os.walk(root)):
        dns.sort()
        for fn in sorted(fns):
            p = os.path.join(dp, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def selftest(scratch):
    """Same seed -> byte-identical inputs; another seed -> different ones."""
    ok = True
    for w in ["replica_query", "replica_sync", "stream_ops"]:
        ds = []
        for s in (11, 11, 12):
            d = tempfile.mkdtemp(dir=scratch)
            generate(d, s, w)
            ds.append(digest(d))
        same, differ = ds[0] == ds[1], ds[0] != ds[2]
        ok &= same and differ
        print(f"{w}: same-seed identical={same} other-seed differs={differ}")
    return ok

