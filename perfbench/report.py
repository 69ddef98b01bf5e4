"""Statistics, output checks and metric derivation for the benchmark.

Everything here works on the raw sample file the Scala harness writes
(`Main.scala`) plus the generator's plan (`gen.py`), so it can be tested
without a JVM.
"""
import glob
import importlib.util
import math
import os
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10


# ---------------------------------------------------------------- statistics

def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values):
    """(value, percentile, n): the highest percentile in TAIL_LADDER with at
    least TAIL_BEYOND samples beyond it. With fewer samples than p75 needs
    (40) no percentile qualifies and the value is None: a tail is never
    the median."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND - 1e-9:
            return percentile(values, p), p, n
    return None, None, n


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


# ---------------------------------------------------------------- checks

def load_comparator(root):
    """The DuckDB comparator of the repository's tools/check.py."""
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frames_match(check, got, want):
    """'' when the two frames match under check.py's rule, else why not."""
    try:
        got, want = check.driver_canon(got), check.driver_canon(want)
    except Exception as e:  # the comparator's own failure counts as a fail
        return f"comparator: {type(e).__name__}: {e}"
    if list(got.columns) != list(want.columns):
        return f"schema {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if not (check.frame_hash(got) == check.frame_hash(want) and
            check.frame_hash_str(got) == check.frame_hash_str(want)):
        return "values differ"
    return ""


def check_analytic(raw, work, root):
    """query -> '' or the reason its output differs from the oracle."""
    import duckdb
    import pandas as pd
    check = load_comparator(root)
    res = raw["results"]
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(work, "data", "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    out = {}
    for q in res.get("queries", []):
        if q in res.get("write_errors", {}):
            out[q] = "spark: " + res["write_errors"][q]
            continue
        sql = res.get("oracle_sql", {}).get(q)
        if sql is None:
            out[q] = "no oracle sql"
            continue
        files = sorted(glob.glob(os.path.join(work, "out", q, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files],
                            ignore_index=True)
            want = con.execute(sql).fetchdf()
        except Exception as e:
            out[q] = f"{type(e).__name__}: {e}"
            continue
        out[q] = frames_match(check, got, want)
    return out


def lifecycle_expected_final(plan, ops):
    """Model digest of the whole table after the last op that ran."""
    state = plan["initial"]
    for o in ops:
        p = plan["ops"][o["i"]]
        if "after" in p:
            state = p["after"]
    return state


def check_lifecycle_op(plan_op, op):
    """'' when a read op returned what the model holds and maintenance
    kept the table's properties, else why not."""
    if plan_op["kind"] == "maintain" and op["extra"].get("props_lost"):
        return (f"table property {op['extra']['props_lost']} lost by "
                f"maintenance (vacuum)")
    if plan_op["kind"] not in ("read", "time_travel", "history"):
        return ""
    got = op["extra"].get("digest")
    want = plan_op["expect"]
    if plan_op["kind"] == "history":
        want = {"rows": want["rows"]}
    if got != want:
        return f"{plan_op['kind']} read {got}, model holds {want}"
    return ""


def check_lifecycle(raw, plan):
    """(per-op reasons, end-of-run reasons) for table_lifecycle."""
    ops = raw["ops"]
    per_op = {o["i"]: check_lifecycle_op(plan["ops"][o["i"]], o)
              for o in ops if o["ok"]}
    res = raw["results"]
    want = lifecycle_expected_final(plan, ops)
    final = {}
    for side in ("source", "mirror"):
        got = res.get(side)
        final[side] = "" if got == want else \
            f"{side} holds {got}, model holds {want}"
    if "finish_error" in res:
        final["finish"] = res["finish_error"]
    return per_op, final


def read_pairs(work, name, a, b):
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
    if not files:
        return None
    t = pq.ParquetDataset(files).read()
    return set(zip(t.column(a).to_pylist(), t.column(b).to_pylist()))


def check_dedup(raw, plan, work):
    """(check reasons by step, quality figures) for llm_dedup."""
    import pyarrow.parquet as pq
    reasons, quality = {}, {}
    files = glob.glob(os.path.join(work, "out", "dedup_exact", "*.parquet"))
    if files:
        got = sorted(pq.ParquetDataset(files).read().column(
            "doc_id").to_pylist())
        reasons["dedup_exact"] = "" if got == plan["exact_ids"] else \
            f"exact dedup kept {len(got)} docs, truth {len(plan['exact_ids'])}"
    truth = {tuple(p) for p in plan["dup_pairs"]}
    found = read_pairs(work, "dedup_minhash", "doc_a", "doc_b")
    if found is not None:
        hit = len(found & truth)
        quality["dup_recall"] = hit / len(truth)
        quality["dup_precision"] = hit / len(found) if found else 0.0
    vtruth = {tuple(p) for p in plan["vec_pairs"]}
    vfound = read_pairs(work, "dedup_embedding_ann", "id_a", "id_b")
    if vfound is not None:
        quality["ann_recall"] = len(vfound & vtruth) / len(vtruth)
    return reasons, quality


# ---------------------------------------------------------------- metrics

def union_s(intervals, lo=None, hi=None):
    """Seconds covered by the union of (start_ms, end_ms) intervals,
    clipped to [lo, hi] when given."""
    xs = []
    for a, b in intervals:
        if lo is not None:
            a, b = max(a, lo), min(b, hi)
        if b > a:
            xs.append((a, b))
    xs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in xs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def verb_times(ops, names):
    return [t for o in ops for v, t, _ in o["verbs"] if v in names]


def call_times(ops):
    """Seconds of every blocking call the client made (depth 0)."""
    return [t for o in ops for _, t, d in o["verbs"] if d == 0]


def timing(out, name, values):
    """Median and tail of a timing, under name_p50_s / name_tail_s."""
    if not values:
        return
    out[f"{name}_p50_s"] = (statistics.median(values), "s", None)
    v, p, n = tail(values)
    out[f"{name}_tail_s"] = (v, "s", f"p{p:g}, n={n}" if v is not None
                             else f"n={n}, a tail needs 40 samples")


def end_to_end(raw, failed_ops, extra):
    """name -> (value, unit, note) for every end-to-end metric that applies
    to the workload."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    out = {}
    st = raw["setup"]
    out["setup_s"] = (st["total_s"], "s", "process start to first timed op: "
                      + ", ".join(f"{k[:-2]} {st[k]:.2f}" for k in (
                          "jvm_s", "session_s", "bootstrap_s", "warmup_s",
                          "jit_settle_s")))
    walls = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    out["wall_s"] = (statistics.median(walls), "s",
                     f"median of {len(walls)} passes")
    timing(out, "op", call_times(ops))
    n = len(raw["ops"])
    out["failed_op_ratio"] = (failed_ops / n if n else 1.0, "ratio",
                              f"{failed_ops}/{n}")
    out["live_heap_peak_mb"] = (max(raw["live_heap_mb"]), "MB", None)
    if raw["workload"] == "table_lifecycle":
        timing(out, "commit", verb_times(ops, {"commit"}))
        timing(out, "read", verb_times(
            ops, {"read_skip_pruned", "read_version", "history"}))
        timing(out, "freshness", verb_times(ops, {"freshness"}))
        r = raw["results"]
        if r.get("plain_bytes"):
            out["space_amp"] = (r["table_bytes"] / r["plain_bytes"], "ratio",
                                None)
    if raw["workload"] == "llm_dedup":
        for k in ("dup_recall", "dup_precision"):
            if k in extra:
                out[k] = (extra[k], "ratio",
                          "against the corpus's and the planted pairs")
    return out


def spans_of(raw, ops):
    """Every span of the traced ops as (layer, name, op, start, end)."""
    ids = {o["i"] for o in ops}
    out = [tuple(s) for s in raw["spans"] if s[2] in ids]
    for j in raw["jobs"]:
        if j["op"] in ids:
            out.append(("spark", "job", j["op"], j["start_ms"], j["end_ms"]))
    for p in raw["plans"]:
        if p["op"] in ids:
            out.append(("sql", "catalyst", p["op"], p["start_ms"],
                        p["end_ms"]))
    for e in raw["epochs"]:
        if e["op"] in ids and e["dur_ms"].get("triggerExecution"):
            out.append(("streaming", "epoch", e["op"], e["start_ms"],
                        e["start_ms"] + e["dur_ms"]["triggerExecution"]))
    return out


def self_times(spans):
    """layer -> seconds of its spans not covered by their child spans. A
    span's parent is the shortest other span of the same op that encloses
    its start and is a call, an op or a streaming epoch."""
    parents = [s for s in spans if s[0] != "spark" and s[1] != "catalyst"]
    children = {id(s): [] for s in spans}
    for s in spans:
        best = None
        for p in parents:
            if p is s or p[2] != s[2]:
                continue
            if p[3] <= s[3] <= p[4] and (p[4] - p[3]) >= (s[4] - s[3]):
                if best is None or (p[4] - p[3]) < (best[4] - best[3]):
                    best = p
        if best is not None:
            children[id(best)].append(s)
    out = {}
    for s in spans:
        kids = [(c[3], c[4]) for c in children[id(s)]]
        own = (s[4] - s[3]) / 1e3 - union_s(kids, s[3], s[4])
        out[s[0]] = out.get(s[0], 0.0) + max(0.0, own)
    return out


def per_layer(raw, plan, gen_s):
    """name -> (value, unit, note) for every per-layer metric that applies
    to the workload, from the traced passes of a traced run."""
    ops = [o for o in raw["ops"] if o["traced"]]
    out = {}
    n = max(1, len(ops))
    ids = {o["i"] for o in ops}
    by_op = {o["i"]: o for o in ops}
    jobs = [j for j in raw["jobs"] if j["op"] in ids]
    stage_op = {s: j["op"] for j in jobs for s in j["stages"]}
    stages = [s for s in raw["stages"] if s["id"] in stage_op]
    traced_passes = [p for p in raw["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in raw["passes"][1:] if not p["traced"]]
    traced = [p["wall_s"] for p in traced_passes]
    traced_wall = sum(p["wall_s"] for p in traced_passes) or 1e-9
    npass = max(1, len(traced_passes))
    cores = raw["cpus"]

    def put(name, value, unit, note=None):
        out[name] = (value, unit, note)

    # setup
    med = statistics.median
    for k in ("jvm_s", "session_s", "warmup_s", "bootstrap_s",
              "jit_settle_s"):
        put(f"setup.{k}", raw["setup"][k], "s")
    put("setup.input_gen_s", gen_s, "s", "not part of setup_s")
    # spark
    put("spark.jobs_per_op", len(jobs) / n, "count")
    put("spark.stages_per_op", len(stages) / n, "count")
    put("spark.tasks_per_op", sum(s["tasks"] for s in stages) / n, "count")
    busy = sum(union_s([(j["start_ms"], j["end_ms"]) for j in jobs
                        if j["op"] == i]) for i in ids)
    put("spark.job_busy_s_per_op", busy / n, "s")
    for k, name in (("cpu_s", "task_cpu_s"), ("run_s", "task_run_s"),
                    ("gc_s", "task_gc_s")):
        put(f"spark.{name}", sum(s[k] for s in stages) / npass, "s",
            "per pass")
    for k, name in (("shuffle_write_b", "shuffle_write_mb"),
                    ("shuffle_read_b", "shuffle_read_mb"),
                    ("input_b", "input_mb")):
        put(f"spark.{name}", sum(s[k] for s in stages) / npass / 2**20,
            "MB", "per pass")
    put("spark.slot_busy_share",
        sum(s["run_s"] for s in stages) / (traced_wall * cores), "ratio",
        f"{cores} cores")
    put("spark.stage_skew",
        med([s["skew"] for s in stages]) if stages else 1.0, "ratio",
        "median over stages of max/median task time")
    # sql (Catalyst)
    plans = [p for p in raw["plans"] if p["op"] in ids]
    for k in ("analysis_s", "optimization_s", "planning_s"):
        put(f"sql.{k}", sum(p[k] for p in plans) / n, "s", "per op")
    put("sql.plans_per_op", len(plans) / n, "count")
    # jvm
    put("jvm.gc_pause_s", raw["gc_timed_s"] / max(1, len(raw["passes"])),
        "s", "per pass")
    put("jvm.jit_s", raw["setup_jit_s"], "s", "process start to first op")
    # engine: driver-side filesystem calls (client and stream threads)
    def fs(o, kinds=None, origins=("client", "stream")):
        return sum(v for org in origins for k, v in o["fs"][org].items()
                   if kinds is None or k in kinds)
    put("engine.fs_calls_per_op", sum(fs(o) for o in ops) / n, "count",
        "driver side")
    # self time per layer, and tracing overhead
    sp = spans_of(raw, ops)
    for layer, s in sorted(self_times(sp).items()):
        put(f"self.{layer}_s", s / n, "s", "per op")
    if untraced and traced:
        put("trace.overhead_s", med(traced) - med(untraced), "s",
            "traced minus untraced pass wall, after a first untraced pass")

    wl = raw["workload"]
    if wl == "analytic_mix":
        for fam in ("agg", "join", "win", "set", "other"):
            xs = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops
                  if o["family"] == fam]
            if xs:
                put(f"ops.{fam}_s", med(xs), "s", "p50")
    if wl == "table_lifecycle":
        lifecycle_layers(raw, ops, jobs,
                         [e for e in raw["epochs"] if e["op"] in ids], put, fs)
    if wl == "llm_dedup":
        for step, name in (("dedup_minhash", "dedup_minhash_s"),
                           ("dedup_substring", "dedup_substring_s"),
                           ("dedup_embedding_ann", "dedup_embedding_ann_s"),
                           ("sim_cosine_topk_ann", "sim_topk_ann_s"),
                           ("text_tfidf", "text_tfidf_s")):
            xs = verb_times(ops, {step})
            if xs:
                put(f"ops.{name}", med(xs), "s", "p50")
        kernel = {"dedup_substring", "dedup_embedding_ann",
                  "sim_cosine_topk_ann"}
        cpu = sum(s["cpu_s"] for s in stages
                  if by_op[stage_op[s["id"]]]["kind"] in kernel)
        docs = plan["dims"]["documents"] / 1000.0
        put("functions.task_cpu_s_per_1k_docs", cpu / npass / docs, "s",
            "steps calling graft kernels, per pass")
    return out


def lifecycle_layers(raw, ops, jobs, epochs, put, fs):
    med = statistics.median
    commit_ops = [o for o in ops if any(v[0] == "commit" for v in o["verbs"])]
    read_ops = [o for o in ops if o["kind"] in
                ("read", "time_travel", "history")]
    kinds = {"fs_calls": None, "fs_opens": {"open"}, "fs_lists": {"list"},
             "fs_exists": {"exists", "stat"}, "fs_creates": {"create"},
             "fs_renames": {"rename"}}
    for name, ks in kinds.items():
        if commit_ops:
            put(f"engine.{name}_per_commit",
                sum(fs(o, ks, ("client",)) for o in commit_ops) /
                len(commit_ops), "count", "client thread")
    for name in ("fs_calls", "fs_opens", "fs_lists"):
        if read_ops:
            put(f"engine.{name}_per_read",
                sum(fs(o, kinds[name], ("client",)) for o in read_ops) /
                len(read_ops), "count", "client thread")
    if commit_ops:
        put("engine.fs_calls_per_epoch",
            sum(fs(o, None, ("stream",)) for o in commit_ops) /
            max(1, len([e for e in epochs if e["rows"] > 0])), "count",
            "stream thread")

    def gap(o, verbs):
        spans = [s for s in raw["spans"] if s[2] == o["i"] and s[1] in verbs]
        js = [(j["start_ms"], j["end_ms"]) for j in jobs if j["op"] == o["i"]]
        return sum((s[4] - s[3]) / 1e3 - union_s(js, s[3], s[4])
                   for s in spans)
    if commit_ops:
        put("engine.driver_gap_s_per_commit",
            med(gap(o, {"commit"}) for o in commit_ops), "s",
            "commit span minus its jobs, p50")
    if read_ops:
        put("engine.driver_gap_s_per_read",
            med(gap(o, {"read_skip_pruned", "read_version", "history"})
                for o in read_ops), "s", "p50")
    xs = verb_times(ops, {"current_version"})
    if xs:
        put("engine.current_version_s", med(xs), "s", "p50")
    r = raw["results"]
    if r.get("versions_at_end"):
        put("engine.files_per_version",
            r["table_files"] / r["versions_at_end"], "count",
            "files under the table dir over versions")
        put("engine.metadata_bytes_per_version",
            r["metadata_bytes"] / r["versions_at_end"], "B")
    for verb, name in (("merge_upsert", "merge_upsert_s"),
                       ("merge_delete_where", "merge_delete_where_s"),
                       ("merge_update_where", "merge_update_where_s"),
                       ("compact", "compact_s"), ("vacuum", "vacuum_s"),
                       ("read_skip_pruned", "read_skip_pruned_s"),
                       ("history", "history_s")):
        xs = verb_times(ops, {verb})
        if xs:
            put(f"ops.{name}", med(xs), "s", "p50")
    if commit_ops:
        put("ops.files_written_per_commit",
            sum(o["fs"]["task"]["create"] + o["fs"]["client"]["create"]
                for o in commit_ops) / len(commit_ops), "count",
            "files created, tasks and client")
    reads = [o for o in ops if o["kind"] == "read"]
    if reads:
        read_ids = {o["i"] for o in reads}
        stage_op = {s: j["op"] for j in jobs for s in j["stages"]}
        scanned = sum(s["input_rows"] for s in raw["stages"]
                      if stage_op.get(s["id"]) in read_ids)
        returned = sum(o["extra"]["digest"]["rows"] for o in reads
                       if "digest" in o["extra"])
        if scanned:
            put("ops.rows_scanned_per_row_returned",
                scanned / max(1, returned), "ratio")
    xs = verb_times(ops, {"merge_into"})
    if xs:
        put("sql.merge_into_s", med(xs), "s", "p50")
    ep = [e for e in epochs if e["rows"] > 0]
    for k, name in (("triggerExecution", "trigger_s"),
                    ("latestOffset", "latest_offset_s"),
                    ("getBatch", "get_batch_s"), ("addBatch", "add_batch_s"),
                    ("walCommit", "wal_commit_s"),
                    ("queryPlanning", "query_planning_s")):
        if ep:
            put(f"streaming.{name}",
                med(e["dur_ms"].get(k, 0) / 1e3 for e in ep), "s",
                "p50 over epochs with data")
    if ep:
        put("streaming.epoch_overhead_s",
            med((e["dur_ms"].get("triggerExecution", 0) -
                 e["dur_ms"].get("addBatch", 0)) / 1e3 for e in ep), "s",
            "trigger minus addBatch, p50")
    if commit_ops:
        put("streaming.epochs_per_commit", len(ep) / len(commit_ops),
            "count")
