"""Deterministic generator of the ten fixture tables the batch queries read.

The tables follow the schema contract in FIXTURES.md (TPC-H-ish star schema
plus the events / documents / embeddings tables). Values come from one
seeded numpy generator, drawn column by column in a fixed order, so a seed
and a scale factor always give the same rows. With seed 42 the tables equal,
value for value, the seed-42 tables the program is graded and tuned on
(sf0.001, sf0.01 and sf0.1; `--compare` checks that against a copy).

Usage: python3 perfbench/fixture.py <out_dir> <sf> [seed]
       python3 perfbench/fixture.py --compare <generated_dir> <reference_dir>
"""
import hashlib
import os
import sys

import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
# English three times as likely as each other language
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _pick(values, idx):
    return np.array(values, dtype=object)[idx]


def _days(base, offsets):
    return np.datetime64(base, "us") + offsets.astype("timedelta64[D]")


def _write(out, name, cols):
    pd.DataFrame(cols).to_parquet(os.path.join(out, f"{name}.parquet"), index=False)


def generate(out, sf, seed=42):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = round(1_000_000 * sf)
    n_users = round(15_000 * sf)
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5})

    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(PTYPES, rng.integers(0, 6, n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(["O", "F", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord))})

    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(["R", "A", "N"], rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(["O", "F"], rng.integers(0, 2, n_line)),
        "l_shipdate": _days("1995-01-01", rng.integers(1, 2500, n_line))})

    # 30 days of events, drawn in seconds, kept at nanoseconds, stored at
    # microseconds (truncated)
    secs = rng.uniform(0, 30 * 86_400, n_ev)
    ts = np.sort(np.datetime64("2024-01-01", "ns")
                 + (secs * 1e9).astype("timedelta64[ns]")).astype("datetime64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # Documents: random word streams; then one in twenty becomes a copy of
    # another (as it stands at that moment) with " dup" appended, so the
    # dedup queries find near-duplicate pairs and chains.
    texts = []
    for _ in range(n_docs):
        length = rng.integers(10, 100)
        texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), length)))
    n_dup = n_docs // 20
    targets = rng.choice(n_docs, n_dup, replace=False)
    for t, s in zip(targets, rng.integers(0, n_docs, n_dup)):
        texts[t] = texts[s] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(LANGS, rng.integers(0, len(LANGS), n_docs)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})


def ensure(out, sf, seed=42):
    """Generate once per directory; a marker file records completion and
    the generator it came from, so a changed generator regenerates."""
    with open(os.path.abspath(__file__), "rb") as f:
        stamp = f"sf={sf} seed={seed} generator={hashlib.sha1(f.read()).hexdigest()}\n"
    done = os.path.join(out, "_COMPLETE")
    if not os.path.exists(done) or open(done).read() != stamp:
        generate(out, sf, seed)
        with open(done, "w") as f:
            f.write(stamp)
    return out


def compare(got_dir, ref_dir):
    """Prints, per table, whether schema and every value equal the reference
    table's. Returns the number of tables that differ."""
    import pyarrow.parquet as pq
    differ = 0
    for t in TABLES:
        got = pq.read_table(os.path.join(got_dir, f"{t}.parquet"))
        ref = pq.read_table(os.path.join(ref_dir, f"{t}.parquet"))
        same_schema = got.schema.remove_metadata() == ref.schema.remove_metadata()
        same = same_schema and got.to_pydict() == ref.to_pydict()
        differ += not same
        print(f"{t:11s} rows {got.num_rows:>8d} vs {ref.num_rows:>8d}  "
              f"schema {'same' if same_schema else 'DIFFERS'}  "
              f"values {'equal' if same else 'DIFFER'}")
    return differ


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        sys.exit(1 if compare(sys.argv[2], sys.argv[3]) else 0)
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
