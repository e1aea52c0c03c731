"""Seeded generators for the benchmark's inputs.

`corpus(dir)` writes the sf0.1 test corpus the repository's benchmarks
and tests read (TESTDATA.md): the star schema plus the events,
documents and embeddings tables, one parquet file per table (the layout
`graft.Bench.stage` expects). It replays that corpus's seeded draws, so
every table equals the sf0.1 one value for value; the benchmark builds
it in its checkout because it may read nothing outside it.

`landing(...)` cuts the staged events into the ingest workload's
event-time batches and lands each as a CSV or JSON-lines file; it
returns the ground truth the run is checked against.
"""
import os
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

# The vocabulary and category lists in the order the generator draws
# from them: the draw order is part of the corpus.
WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PTYPE = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPE = ["click", "view", "purchase", "signup", "error"]
LANG = ["en", "en", "en", "de", "fr", "es", "zh"]


def _write(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _days(start, offsets):
    return (np.datetime64(start, "D") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def corpus(out):
    """Write the sf0.1 corpus under `out`: one stream of draws from
    default_rng(42), table by table and column by column, which gives
    the repository's sf0.1 test data value for value."""
    rng = np.random.default_rng(CORPUS_SEED)
    pick = lambda values, n: np.array(values)[rng.integers(0, len(values), n)]
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_li = 15000, 1000, 20000, 150000, 600000
    n_ev, n_doc, n_dup, n_emb = 100000, 5000, 250, 2000

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        f"{out}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pick(SEGMENTS, n_cust)}),
        f"{out}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    adj, noun = pick(ADJ, n_part), pick(NOUN, n_part)
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": pick(PTYPE, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": pick(PRIORITY, n_ord)}),
        f"{out}/orders.parquet")
    # lines pick their order and line number at random: (l_orderkey,
    # l_linenumber) is not a key
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": pick(["R", "A", "N"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_li))}),
        f"{out}/lineitem.parquet")
    # events: sorted times over 30 days, drawn in float seconds and cut
    # to nanoseconds, then to microseconds
    ts_ns = (np.sort(rng.uniform(0, 30 * 86400, n_ev)) * 1e9).astype(np.int64)
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + (ts_ns // 1000).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": pick(ETYPE, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    # documents: 10-99 words each; then 250 distinct docs become a copy
    # of a random doc plus " dup", in turn (a copy of a copy gains two)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
             for _ in range(n_doc)]
    for i, j in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[i] = texts[j] + " dup"
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(LANG, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    # embeddings: unit-norm Gaussian directions; labels independent
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        f"{out}/embeddings.parquet")


def _stratified(rng, n, lo, hi):
    """n values in [lo, hi], one per equal-width stratum, shuffled:
    every block of batches carries about the same volume."""
    v = lo + (np.arange(n) + rng.random(n)) * (hi - lo) / n
    rng.shuffle(v)
    return v


def landing(events_parquet, out, seed, blocks=6, fresh_per_block=9):
    """Cut the events into event-time batches and land each as CSV or
    JSON-lines under `out`. Batches come in blocks of ten steps: nine
    fresh batches (500-3,000 rows before scaling to the whole table)
    and one replay of an already-sent batch at a seeded position.
    About 5% of rows arrive one to three batches late and about 0.5%
    are malformed. Returns the steps in order, each with its truth:
    the valid rows and decimal value sum it adds (replays add none)."""
    rng = np.random.default_rng(seed)
    ev = pq.read_table(events_parquet,
                       columns=["event_id", "ts", "user_id", "event_type", "value"]).to_pandas()
    ev = ev.sort_values("event_id").reset_index(drop=True)
    n_fresh = blocks * fresh_per_block
    sizes = np.concatenate([_stratified(rng, fresh_per_block, 500, 3000) for _ in range(blocks)])
    sizes = np.floor(sizes * len(ev) / sizes.sum()).astype(int)
    sizes[-1] += len(ev) - sizes.sum()
    owner = np.repeat(np.arange(n_fresh), sizes)
    late = rng.random(len(ev)) < 0.05
    owner = np.where(late, np.minimum(owner + rng.integers(1, 4, len(ev)), n_fresh - 1), owner)
    bad = rng.random(len(ev)) < 0.005
    formats = np.concatenate([rng.permutation(["csv", "json"] * 5)[:fresh_per_block]
                              for _ in range(blocks)])
    os.makedirs(out, exist_ok=True)
    ts_txt = ev["ts"].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    val_txt = ev["value"].map(repr)
    # malformed rows: an impossible timestamp or a non-numeric value
    odd = (ev["event_id"] % 2 == 1).to_numpy()
    t_col = ts_txt.where(~(bad & odd), "2024-13-45 99:99:99.000000")
    v_col = val_txt.where(~(bad & ~odd), "n/a")
    eid, uid, et = (ev[c].astype(str) for c in ("event_id", "user_id", "event_type"))
    lines = {
        "csv": eid + "," + t_col + "," + uid + "," + et + "," + v_col + "\n",
        "json": ('{"event_id":' + eid + ',"ts":"' + t_col + '","user_id":' + uid
                 + ',"event_type":"' + et + '","value":'
                 + v_col.where(v_col != "n/a", '"n/a"') + "}\n"),
    }
    ts_txt, val_txt = ts_txt.to_numpy(), val_txt.to_numpy()
    fresh = []
    for b in range(n_fresh):
        idx = np.flatnonzero(owner == b)
        kind = str(formats[b])
        path = os.path.abspath(f"{out}/b{b:03d}.{kind}")
        body = lines[kind].to_numpy()[idx]
        with open(path, "w") as f:
            if kind == "csv":
                f.write("event_id,ts,user_id,event_type,value\n")
            f.write("".join(body))
        user_bytes = sum(len(x) for x in body[~bad[idx]])
        good = idx[~bad[idx]]
        fresh.append({"id": b, "path": path, "format": kind, "kind": "fresh",
                      "bad": int(bad[idx].sum()), "valid": int(len(good)),
                      "value_sum": str(sum((Decimal(val_txt[i]) for i in good), Decimal(0))),
                      "user_bytes": user_bytes,
                      "days": sorted(set(ts_txt[i][:10] for i in good))})
    steps = []
    for blk in range(blocks):
        batch = fresh[blk * fresh_per_block:(blk + 1) * fresh_per_block]
        at = int(rng.integers(1, fresh_per_block + 1))
        for j, st in enumerate(batch):
            steps.append(st)
            if j + 1 == at:
                again = fresh[int(rng.integers(0, blk * fresh_per_block + at))]
                steps.append(dict(again, kind="replay", valid=0, value_sum="0", user_bytes=0))
    for i, st in enumerate(steps):
        st["step"] = i
    return steps
