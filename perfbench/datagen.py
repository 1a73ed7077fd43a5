"""Seeded input generator for the graft benchmark.

Writes the ten tables the registered queries read (TPC-H-shaped
relational tables, events, documents, embeddings) as single parquet
files, with the schemas and value distributions of the repo's
reference test data. Every random choice comes from the seed:

- key stride: every key domain is shifted by the same seed-chosen
  multiple of 10,000,000, so referential integrity holds and the
  key parities the queries split on (``vec_id % 2``, ``doc_id % 10``)
  keep their shares;
- word-rename salt: the document vocabulary is a seed-chosen bijective
  renaming of the base vocabulary, so shingle and MinHash structure is
  preserved while the tokens themselves change;
- embedding rotation: vectors are cyclically shifted by a seed-chosen
  number of dimensions (an orthogonal map, so cosine structure holds);
- row order: rows of every fact table are written in a seed-chosen
  permutation.

Row counts depend only on ``scale``, never on the seed, so two seeds
give different inputs of equal size. Usage:

    python3 perfbench/datagen.py OUT_DIR SEED [SCALE]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 10_000_000
BASE_VOCAB = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
              "fast", "filter", "group", "hash", "join", "key", "line",
              "merge", "order", "part", "query", "row", "scan", "slow",
              "small", "sort", "spark", "stream", "table", "value", "vector",
              "window"]
# rename targets for every vocabulary word except the two stopwords,
# which the text quality filters count and so keep verbatim
RENAME_POOL = ["alpha", "amber", "anchor", "arrow", "atlas", "basin", "birch",
               "blade", "bloom", "brick", "cable", "canal", "cedar", "chalk",
               "cliff", "cloud", "coral", "crane", "delta", "drift", "ember",
               "fable", "fern", "flint", "frost", "garnet", "glade", "grain",
               "harbor", "hazel", "ivory", "jade", "kite", "lagoon", "lark",
               "ledge", "maple", "marsh", "meadow", "mesa", "nectar", "oasis",
               "onyx", "orchid", "pebble", "pine", "prism", "quartz", "raven",
               "reef", "ridge", "river", "saffron", "shale", "spruce", "summit",
               "thistle", "timber", "tundra", "willow"]
DIMS = 64


def sizes(scale: float) -> dict:
    """Row counts per table at `scale` (1.0 = 6 M lineitem rows)."""
    n = lambda base: max(1, int(round(base * scale)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000),
        "embeddings": n(50_000),
    }


def ts_us(start: str, seconds):
    base = np.datetime64(start, "us")
    return base + (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(seed: int, scale: float) -> dict:
    rng = np.random.default_rng(seed)
    rows = sizes(scale)
    off = int(rng.integers(0, 97)) * KEY_STRIDE

    def perm(n):
        return rng.permutation(n)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    nc = rows["customer"]
    ck = np.arange(nc)
    t["customer"] = pa.table({
        "c_custkey": ck + off,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})

    ns = rows["supplier"]
    sk = np.arange(ns)
    t["supplier"] = pa.table({
        "s_suppkey": sk + off,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})

    npart = rows["part"]
    pk = np.arange(npart)
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    t["part"] = pa.table({
        "p_partkey": pk + off,
        "p_name": np.char.add(np.char.add(rng.choice(adj, npart), " "),
                              rng.choice(noun, npart)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})

    no = rows["orders"]
    ok = perm(no)
    order_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01"))
                     .astype(int))
    t["orders"] = pa.table({
        "o_orderkey": ok + off,
        "o_custkey": rng.integers(0, nc, no) + off,
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": ts_us("1995-01-01", rng.integers(0, order_days + 1, no) * 86400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})

    nl = rows["lineitem"]
    ship_days = int((np.datetime64("2001-11-04") - np.datetime64("1995-01-02"))
                    .astype(int))
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl) + off,
        "l_partkey": rng.integers(0, npart, nl) + off,
        "l_suppkey": rng.integers(0, ns, nl) + off,
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": ts_us("1995-01-02", rng.integers(0, ship_days + 1, nl) * 86400)})

    ne = rows["events"]
    users = max(1, nc // 10)
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    ev_order = perm(ne)
    t["events"] = pa.table({
        "event_id": (np.arange(ne) + off)[ev_order],
        "ts": ts_us("2024-01-01", np.round(secs, 6))[ev_order],
        "user_id": rng.integers(0, users, ne)[ev_order] + off,
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 ne)[ev_order],
        "value": np.round(rng.exponential(50.0, ne), 2)[ev_order],
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)[ev_order]]})

    nd = rows["documents"]
    targets = rng.choice(RENAME_POOL, len(BASE_VOCAB) - 2, replace=False)
    vocab = np.array(BASE_VOCAB[:2] + list(targets))
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:        # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:     # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    doc_order = perm(nd)
    texts = np.array(texts, dtype=object)[doc_order]
    t["documents"] = pa.table({
        "doc_id": (np.arange(nd) + off)[doc_order],
        "text": list(texts),
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in doc_order],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})

    nv = rows["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = rng.normal(size=(nv, DIMS)) + 0.6 * centers[labels]
    x = np.roll(x, int(rng.integers(0, DIMS)), axis=1)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    vec_order = perm(nv)
    t["embeddings"] = pa.table({
        "vec_id": (np.arange(nv) + off)[vec_order],
        "embedding": pa.array(list(x[vec_order]), type=pa.list_(pa.float32())),
        "label": pa.array(labels[vec_order].astype(np.int32))})
    return t


def generate(out_dir: str, seed: int, scale: float) -> dict:
    """Write every table and return the manifest (rows and bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "scale": scale, "tables": {}}
    for name, table in gen_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        manifest["tables"][name] = {"rows": table.num_rows,
                                    "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 0.01
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), scale)))
