#!/usr/bin/env python3
"""Seeded inputs for the benchmark workloads.

Usage: python3 perfbench/gen_data.py <workload> <seed> <sf> <out-dir>

Writes only what the workload reads, plus MANIFEST.json with the exact
reference answers the generator knows (the GC count of the DNA text, the
per-key sums of the key/value text):

  mare_pipe   dna/part-*.txt (one DNA line per record, 16 files),
              kv/part-*.txt ("key<TAB>value" lines)
  deck_serve  region nation customer supplier part orders lineitem events
              documents embeddings (.parquet, the TPC-H-like star schema
              plus the events/documents/embeddings side tables), and
              batches.parquet: lineitem rows under NEW order keys, tagged
              with `batch` (the store admits one batch at a time)

Tables follow the repo's test-data schema and marginals (10x rows per
scale-factor decade; sf1 = 6M lineitem rows). The same seed always gives
the same bytes.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86400_000_000
OD_LO = np.datetime64("1995-01-01", "us").astype("int64")
OD_HI = np.datetime64("2001-08-01", "us").astype("int64")
O_DAYS = (OD_HI - OD_LO) // DAY_US


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def lineitem_rows(rng, orderkeys, n_part, n_supp):
    """Poisson(4) lines per order (zero-line orders are absent keys)."""
    nlines = rng.poisson(4.0, orderkeys.size)
    okeys = np.repeat(orderkeys, nlines)
    n = okeys.size
    lineno = np.concatenate([np.arange(1, k + 1) for k in nlines if k > 0])
    qty = rng.integers(1, 51, n).astype(np.float64)
    shipdate = (OD_LO + rng.integers(0, O_DAYS + 1, n) * DAY_US
                + rng.integers(1, 96, n) * DAY_US)
    return {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    }


def counts(sf):
    return {k: max(int(v * sf), 1) for k, v in {
        "cust": 150_000, "supp": 10_000, "part": 200_000, "orders": 1_500_000,
        "events": 1_000_000, "users": 15_000, "docs": 50_000, "emb": 20_000,
    }.items()}


def gen_batches(rng, sf, out):
    """64 admit batches of new order keys (more than any run admits); keys
    start well above the base table so base and batch keys never collide."""
    n = counts(sf)
    per_batch = max(n["orders"] // 500, 20)
    first = n["orders"] * 2
    keys = np.arange(first, first + 64 * per_batch, dtype=np.int64)
    cols = lineitem_rows(rng, keys, n["part"], n["supp"])
    cols["batch"] = pa.array((cols["l_orderkey"].to_numpy() - first) // per_batch,
                             pa.int32())
    write(out, "batches", pa.table(cols))
    return {"base_orders": n["orders"], "batch_key_base": int(first),
            "batch_orders": int(per_batch)}


def gen_deck(rng, sf, out):
    n = counts(sf)
    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    segs = np.array(["MACHINERY", "HOUSEHOLD", "AUTOMOBILE", "BUILDING", "FURNITURE"])
    write(out, "customer", pa.table({
        "c_custkey": pa.array(range(n["cust"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["cust"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["cust"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n["cust"]), 2),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n["cust"])]),
    }))
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(n["supp"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supp"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supp"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n["supp"]), 2),
    }))
    adjs = ["large", "hot", "blue", "small", "dark", "cold", "light", "round"]
    nouns = ["ring", "bolt", "cog", "gear", "tube", "disk", "plate", "rod"]
    ptypes = np.array(["SMALL", "ECONOMY", "LARGE", "STANDARD", "MEDIUM", "PROMO"])
    pa_i, pn_i = rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"])
    write(out, "part", pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in zip(pa_i, pn_i)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": pa.array(ptypes[rng.integers(0, 6, n["part"])]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n["part"]), 2),
    }))
    no = n["orders"]
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["cust"], no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, no)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(OD_LO + rng.integers(0, O_DAYS + 1, no) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, no)]),
    }))
    write(out, "lineitem", pa.table(lineitem_rows(
        rng, np.arange(no, dtype=np.int64), n["part"], n["supp"])))
    ne = n["events"]
    ev_lo = np.datetime64("2024-01-01", "us").astype("int64")
    ev_hi = np.datetime64("2024-01-31", "us").astype("int64")
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    write(out, "events", pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(rng.integers(ev_lo, ev_hi, ne), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pa.array(etypes[rng.integers(0, 5, ne)]),
        "value": rng.exponential(50.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }))
    vocab = np.array("""a agg batch big column customer data dup fast filter
    group hash join key line merge order part query row scan slow small sort
    spark stream table the value vector window""".split())
    nd = n["docs"]
    texts = [" ".join(vocab[rng.integers(0, vocab.size, k)])
             for k in rng.integers(10, 100, nd)]
    for i in rng.choice(np.arange(1, nd), size=max(int(nd * 0.0016), 1), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    write(out, "documents", pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(["en", "fr", "de", "zh", "es"])[
            rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    emb = rng.normal(size=(n["emb"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(range(n["emb"]), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["emb"]), pa.int32()),
    }))
    return {}


def gen_pipe(rng, sf, out):
    """DNA lines over {A,C,G,T} and key/value lines; sizes scale with sf
    (sf0.1 = 16 x 2000 lines of 100 bases, 50k key/value records)."""
    files, lines, width = 16, max(int(20_000 * sf), 4), 100
    gc = 0
    os.makedirs(os.path.join(out, "dna"))
    for f in range(files):
        bases = rng.integers(0, 4, (lines, width), dtype=np.uint8)
        gc += int(np.count_nonzero((bases == 1) | (bases == 2)))
        text = np.frombuffer(b"ACGT", np.uint8)[bases]
        with open(os.path.join(out, "dna", f"part-{f:02d}.txt"), "wb") as fh:
            fh.write(b"\n".join(row.tobytes() for row in text) + b"\n")
    n_kv, n_keys = max(int(500_000 * sf), 100), 8
    keys = rng.integers(0, n_keys, n_kv)
    vals = rng.integers(0, 1000, n_kv)
    os.makedirs(os.path.join(out, "kv"))
    for f in range(4):
        sl = slice(f * n_kv // 4, (f + 1) * n_kv // 4)
        with open(os.path.join(out, "kv", f"part-{f}.txt"), "w") as fh:
            fh.write("".join(f"k{k}\t{v}\n" for k, v in zip(keys[sl], vals[sl])))
    sums = {f"k{k}": int(vals[keys == k].sum()) for k in range(n_keys)}
    return {"dna_gc": gc, "dna_records": files * lines, "kv_sums": sums}


def gen_deck_serve(rng, sf, out):
    gen_deck(rng, sf, out)
    return gen_batches(rng, sf, out)


GENERATORS = {"mare_pipe": gen_pipe, "deck_serve": gen_deck_serve}


def main(workload, seed, sf, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(int(seed))
    manifest = GENERATORS[workload](rng, float(sf), out)
    manifest.update({"workload": workload, "seed": int(seed), "sf": float(sf)})
    with open(os.path.join(out, "MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh)


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] not in GENERATORS:
        sys.exit(__doc__)
    main(*sys.argv[1:])
