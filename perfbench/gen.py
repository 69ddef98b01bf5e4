#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

The tables come from the sf0.1 test-data drop: `orders`, `documents` and
`embeddings` are committed under perfbench/data/sf0.1 (byte for byte), and
`analytic_mix` reads every TPC-H table from $SPARK_GRAFT_SF_DIR, the
directory graft.Bench reads. The generator copies them into one output
directory and adds only the seeded parts: the lifecycle write batches and
predicates, the planted duplicates and the truth the checks compare
against. It writes nothing anywhere else. The same (workload, seed) gives
byte-identical files: every random draw comes from numpy's PCG64 seeded
with the seed, and parquet is written by pyarrow with fixed settings.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

Layout:
  data/<table>.parquet   the sf0.1 tables the workload reads
  data_small/            analytic_mix: a slice of every table, for warm-up
  plan.json              traffic dimensions, the lifecycle op plan and the
                         expected results the checks compare against
  batches/<i>.parquet    table_lifecycle write batches
  corpus/*.parquet       llm_dedup corpus (documents, embeddings)
  corpus_small/          llm_dedup: every fourth corpus row, for warm-up
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
TPCH = ("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")

# table_lifecycle traffic dimensions
LIFE_PASSES = 20          # plan length in passes; a run runs a prefix
LIFE_BATCH = 2000         # rows per upsert batch
LIFE_UPDATE_SHARE = 0.3   # share of an upsert batch that hits live keys
LIFE_SELECTIVITY = 0.01   # share of live rows a WHERE verb touches
LIFE_COMMITS_PER_PASS = 4 # commits between maintenance cycles
LIFE_KEEP = 6             # versions vacuum keeps
LIFE_BUCKETS = 8          # partitions of the versioned table

# llm_dedup traffic dimensions
DEDUP_K = 1               # corpus = sf0.1 documents/embeddings x k
DEDUP_SHARE = 0.05        # planted near-duplicate share (and exact share)
DEDUP_OFFSET = 10_000_000 # key offset between replicas


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def copy_table(src_dir, name, out):
    """Copy one table into out/data, byte for byte; return it read."""
    src = os.path.join(src_dir, f"{name}.parquet")
    if not os.path.exists(src):
        raise SystemExit(f"perfbench: table {name} not found in {src_dir}")
    dst = os.path.join(out, "data", f"{name}.parquet")
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copyfile(src, dst)
    return pq.read_table(dst)


# ---------------------------------------------------------------- lifecycle

class Model:
    """In-memory image of the versioned orders table: key -> (price in
    cents, status code, present). Arrays are indexed by o_orderkey."""
    STATUS = ["F", "O", "P"]

    def __init__(self, orders, cap):
        keys = orders.column("o_orderkey").to_numpy()
        self.present = np.zeros(cap, dtype=bool)
        self.cents = np.zeros(cap, dtype=np.int64)
        self.status = np.zeros(cap, dtype=np.int8)
        self.present[keys] = True
        self.cents[keys] = cents_of(orders)
        self.status[keys] = status_of(orders)

    def digest(self, mask=None):
        m = self.present if mask is None else (self.present & mask)
        keys = np.nonzero(m)[0]
        return {"rows": int(keys.size), "key_sum": int(keys.sum()),
                "cents_sum": int(self.cents[keys].sum())}


def cents_of(t):
    return np.round(t.column("o_totalprice").to_numpy() * 100).astype(
        np.int64)


def status_of(t):
    st = t.column("o_orderstatus").to_numpy(zero_copy_only=False)
    return np.searchsorted(Model.STATUS, st).astype(np.int8)


def lifecycle(rng, out):
    orders = copy_table(DATA, "orders", out)
    n = orders.num_rows
    next_key = int(pc.max(orders.column("o_orderkey")).as_py()) + 1
    cap = next_key + LIFE_PASSES * 2 * LIFE_BATCH + 1
    model = Model(orders, cap)
    keys_all = np.arange(cap)
    ops = []

    def live_keys():
        return np.nonzero(model.present)[0]

    def batch(size, share):
        """A write batch: `share` of its keys live, the rest new; every
        other column taken from randomly drawn sf0.1 orders rows."""
        nonlocal next_key
        n_upd = int(size * share)
        upd = np.sort(rng.choice(live_keys(), n_upd, replace=False))
        ins = np.arange(next_key, next_key + size - n_upd)
        next_key += size - n_upd
        keys = np.concatenate([upd, ins])
        t = orders.take(pa.array(rng.integers(0, n, size)))
        t = t.set_column(t.schema.get_field_index("o_orderkey"),
                         "o_orderkey", pa.array(keys, pa.int64()))
        t = t.append_column("bucket", pa.array(
            (keys % LIFE_BUCKETS).astype(np.int32)))
        return t, keys, status_of(t), cents_of(t)

    def key_window(share):
        """[lo, hi] over the key space holding about `share` of live rows."""
        live = live_keys()
        width = max(1, int(live.size * share))
        i = int(rng.integers(0, live.size - width))
        return int(live[i]), int(live[i + width - 1])

    initial = model.digest()
    commit_ops = []   # op indexes that commit, in order (-1: set-up)
    for pass_no in range(LIFE_PASSES):
        # every pass runs the same ops in the same order, so seeds differ
        # only in keys, values and predicates; maintenance closes the pass,
        # once every LIFE_COMMITS_PER_PASS commits
        for kind in ("upsert", "read", "delete_where", "time_travel",
                     "update_where", "read_wide", "sql_merge", "history",
                     "maintain"):
            i = len(ops)
            op = {"i": i, "kind": kind}
            if kind == "maintain":
                # passes 1 and 2 (the traced and untraced pass a traced
                # run compares) use the same method; it alternates after
                method = ["zorder", "partitions"][(pass_no + 1) // 2 % 2]
                op.update({"method": method,
                           "keep": LIFE_KEEP, "after": model.digest()})
            elif kind == "upsert":
                t, keys, st, cents = batch(LIFE_BATCH, LIFE_UPDATE_SHARE)
                write(t, f"{out}/batches/{i}.parquet")
                model.present[keys] = True
                model.cents[keys] = cents
                model.status[keys] = st
            elif kind == "sql_merge":
                t, keys, st, cents = batch(LIFE_BATCH // 2, 0.5)
                dele = model.present[keys] & (rng.random(keys.size) < 0.2)
                write(t.append_column("del", pa.array(dele)),
                      f"{out}/batches/{i}.parquet")
                keep = ~dele
                model.present[keys[keep]] = True
                model.cents[keys[keep]] = cents[keep]
                model.status[keys[keep]] = st[keep]
                model.present[keys[dele]] = False
            elif kind in ("delete_where", "update_where"):
                lo, hi = key_window(LIFE_SELECTIVITY)
                op.update({"lo": lo, "hi": hi})
                hit = model.present & (keys_all >= lo) & (keys_all <= hi)
                if kind == "delete_where":
                    model.present[hit] = False
                else:
                    model.cents[hit] += 100   # SET o_totalprice + 1.0
            elif kind in ("read", "read_wide"):
                # one narrow and one wide range read per pass
                lo, hi = key_window(0.2 if kind == "read_wide" else 0.002)
                op["kind"] = kind = "read"
                sts = sorted(set(rng.choice(Model.STATUS, 2).tolist()))
                codes = [Model.STATUS.index(x) for x in sts]
                op.update({"lo": lo, "hi": hi, "status": sts,
                           "expect": model.digest((keys_all >= lo) &
                                                  (keys_all <= hi) &
                                                  np.isin(model.status,
                                                          codes))})
            elif kind == "time_travel":
                # a version vacuum must still keep: one of the last commits
                j = int(rng.choice(commit_ops[-(LIFE_KEEP - 2):] or [-1]))
                op.update({"at_op": j,
                           "expect": ops[j]["after"] if j >= 0 else initial})
            elif kind == "history":
                op["expect"] = model.digest()
            if kind in ("upsert", "sql_merge", "delete_where",
                        "update_where"):
                op["after"] = model.digest()
            if "after" in op:
                commit_ops.append(i)
            ops.append(op)
    return {"ops": ops, "initial": initial,
            "dims": {"batch_rows": LIFE_BATCH,
                     "update_share": LIFE_UPDATE_SHARE,
                     "predicate_selectivity": LIFE_SELECTIVITY,
                     "maintenance_every_commits": LIFE_COMMITS_PER_PASS,
                     "vacuum_keep_versions": LIFE_KEEP,
                     "table_rows_at_start": n,
                     "partitions": LIFE_BUCKETS}}


# ---------------------------------------------------------------- llm_dedup

def replicate(t, key, k):
    """k copies of table t, copy r with `key` offset by r * DEDUP_OFFSET."""
    ki = t.schema.get_field_index(key)
    return pa.concat_tables([
        t.set_column(ki, key, pc.add(t.column(key), r * DEDUP_OFFSET))
        for r in range(k)])


def clusters(ids, links):
    """Union-find over ids; return every pair (a < b) in one cluster."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in links:
        parent[find(a)] = find(b)
    groups = {}
    for i in ids:
        groups.setdefault(find(i), []).append(i)
    return sorted((a, b) for g in groups.values() if len(g) > 1
                  for x, a in enumerate(sorted(g)) for b in sorted(g)[x + 1:])


def dedup_corpus(rng, out):
    base = replicate(copy_table(DATA, "documents", out), "doc_id", DEDUP_K)
    text = base.column("text").to_pylist()
    ids = base.column("doc_id").to_numpy()
    nd = base.num_rows
    n_plant = int(nd * DEDUP_SHARE)
    pid0 = DEDUP_K * DEDUP_OFFSET
    # sources are distinct docs long enough (>= 24 words) that one edit
    # keeps the planted copy a near-duplicate under 3-word shingling
    long_docs = np.nonzero(base.column("n_chars").to_numpy() >= 24 * 5)[0]
    src = rng.choice(long_docs, 2 * n_plant, replace=False)
    plant_text = [text[s] for s in src[:n_plant]]
    for s in src[n_plant:]:
        toks = text[s].split(" ")
        for _ in range(max(1, len(toks) // 40)):
            toks[int(rng.integers(0, len(toks)))] = "vary"
        plant_text.append(" ".join(toks))
    # a planted copy keeps its source's language and source tag
    planted = base.take(pa.array(src))
    for col, v in (("doc_id", np.arange(pid0, pid0 + src.size)),
                   ("text", plant_text),
                   ("n_chars", [len(x) for x in plant_text])):
        planted = planted.set_column(planted.schema.get_field_index(col),
                                     col, pa.array(v, base.schema.field(
                                         col).type))
    docs = pa.concat_tables([base, planted])
    write(docs, f"{out}/corpus/documents.parquet")

    # truth: docs with one text, the corpus's own "<text> dup" copies and
    # the planted copies form duplicate clusters
    all_ids = docs.column("doc_id").to_pylist()
    all_text = docs.column("text").to_pylist()
    first = {}
    for d, tx in zip(all_ids, all_text):
        first.setdefault(tx, d)
    links = [(first[tx], d) for d, tx in zip(all_ids, all_text)]
    links += [(first[tx[:-4]], d) for d, tx in zip(all_ids, all_text)
              if tx.endswith(" dup") and tx[:-4] in first]
    links += [(int(ids[s]), pid0 + j) for j, s in enumerate(src)]
    exact = {}
    for d, tx in zip(all_ids, all_text):
        h = hashlib.md5(tx.encode()).hexdigest()
        exact[h] = min(exact.get(h, d), d)

    emb = replicate(copy_table(DATA, "embeddings", out), "vec_id", DEDUP_K)
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    nv = emb.num_rows
    nvp = int(nv * DEDUP_SHARE)
    vsrc = rng.choice(nv, nvp, replace=False)
    noise = rng.standard_normal((nvp, vecs.shape[1])).astype(np.float32)
    pv = (vecs[vsrc] + noise * 0.02).astype(np.float32)
    vids = emb.column("vec_id").to_numpy()
    vec_pairs = [(int(vids[s]), pid0 + j) for j, s in enumerate(vsrc)]
    pemb = emb.take(pa.array(vsrc))
    pemb = pemb.set_column(0, "vec_id", pa.array(
        np.arange(pid0, pid0 + nvp), pa.int64()))
    pemb = pemb.set_column(1, "embedding", pa.FixedSizeListArray.from_arrays(
        pa.array(pv.reshape(-1), pa.float32()), vecs.shape[1]).cast(
        emb.schema.field("embedding").type))
    embs = pa.concat_tables([emb, pemb])
    write(embs, f"{out}/corpus/embeddings.parquet")
    # every fourth row of each table for set-up's warm-up pass
    for name, t in (("documents", docs), ("embeddings", embs)):
        write(t.take(pa.array(range(0, t.num_rows, 4))),
              f"{out}/corpus_small/{name}.parquet")
    builtin = sum(tx.endswith(" dup") for tx in all_text[:nd])
    return {"exact_ids": sorted(exact.values()),
            "dup_pairs": clusters(all_ids, links),
            "vec_pairs": sorted(vec_pairs),
            "dims": {"corpus_k": DEDUP_K, "documents": docs.num_rows,
                     "embeddings": embs.num_rows,
                     "planted_dup_share": DEDUP_SHARE,
                     "planted_near_dup_docs": n_plant,
                     "planted_exact_dup_docs": n_plant,
                     "corpus_dup_token_docs": builtin,
                     "planted_near_dup_vectors": nvp}}


def analytic_tables(out):
    src = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not src:
        raise SystemExit("perfbench: analytic_mix reads the sf0.1 tables "
                         "from $SPARK_GRAFT_SF_DIR; set it")
    for name in TPCH:
        t = copy_table(src, name, out)
        # a small slice of every table for set-up's warm-up pass
        write(t.slice(0, max(25, t.num_rows // 100)),
              f"{out}/data_small/{name}.parquet")


def generate(workload, seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    plan = {"workload": workload, "seed": seed}
    if workload == "analytic_mix":
        analytic_tables(out)
    elif workload == "table_lifecycle":
        plan.update(lifecycle(rng, out))
    elif workload == "llm_dedup":
        plan.update(dedup_corpus(rng, out))
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f, sort_keys=True)
    return plan


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
