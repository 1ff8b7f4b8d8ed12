"""Turns one raw run record (written by perfbench.Main) into metrics.

End-to-end metrics come from the untraced timed loop (`--trace 0`);
per-layer metrics from the traced run (`--trace 1`). A layer a workload
does not call reports 0 for it.
"""

from stats import median, self_times, tail, union_length

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}

SHAPES = ("bcast", "table", "shuffle")
OPS_CALLS = ("line_dedup", "dedup_spans", "lm_score", "decontaminate")

PER_LAYER = {
    "h3.latlng_to_cell_ns": "ns",
    "h3.pip_raycast_ns": "ns",
    "h3.grid_disk_k2_ns": "ns",
    "h3.cover_build_ms": "ms",
    "spark.synth_noop_s": "s",
    "spark.index_noop_s": "s",
    "spark.index_expr_s": "s",
    "spark.codegen_compiles": "count",
}
for _shape in SHAPES:
    PER_LAYER.update({
        f"spatial_join.{_shape}.call_s": "s",
        f"spatial_join.{_shape}.candidate_rows": "count",
        f"spatial_join.{_shape}.joined_rows": "count",
        f"spatial_join.{_shape}.accept_ratio": "ratio",
        f"spatial_join.{_shape}.max_task_ms": "ms",
    })
PER_LAYER.update({
    "tile_rollup.call_s": "s",
    "tile_rollup.shuffle_write_bytes": "bytes",
    "knn.batch_s": "s",
    "knn.jobs_per_batch": "count",
    "knn.rows_scanned_per_query": "count",
    "knn.pruned_batch_ratio": "ratio",
    "knn.max_task_ms": "ms",
    "icelite.write_s": "s",
    "icelite.jobs_per_write": "count",
    "icelite.files_written": "count",
    "icelite.bytes_written_per_row": "bytes",
    "icelite.read_files_per_batch": "count",
})
for _call in OPS_CALLS:
    PER_LAYER.update({
        f"ops.{_call}.call_s": "s",
        f"ops.{_call}.jobs": "count",
        f"ops.{_call}.shuffle_write_bytes": "bytes",
        f"ops.{_call}.result_bytes": "bytes",
    })
PER_LAYER.update({
    "stage.task_s": "s",
    "stage.task_p50_ms": "ms",
    "stage.task_max_ms": "ms",
    "stage.scheduler_delay_s": "s",
    "stage.shuffle_read_bytes": "bytes",
    "stage.shuffle_write_bytes": "bytes",
    "stage.spill_bytes": "bytes",
    "stage.gc_s": "s",
    "stage.failed_tasks": "count",
    "stage.jobs": "count",
    "driver.idle_s": "s",
    "driver.plan_nodes": "count",
    "driver.result_bytes": "bytes",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.op_self_s": "s",
})

# Columns of the raw task and plan records.
DUR, RUN, GC, DELAY, SHUF_R, SHUF_W, SPILL, RESULT, FAILED, STAGE, END_NS = range(11)
NODES, SCAN_ROWS, FILES_READ, FILE_SCANS = range(4)


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _wall_s(ops):
    return (ops[-1]["t1_ns"] - ops[0]["t0_ns"]) / 1e9


def _latencies(ops):
    return [(o["t1_ns"] - o["t0_ns"]) / 1e9 for o in ops]


# geojoin's span around its fused broadcast join -> tile pyramid plan.
FUSED = "spatial_join.bcast+tile_rollup"


def split_fused(span):
    """Splits the fused join -> rollup span at the end of its join side.

    The join side is every stage that reads no shuffle input: point
    synthesis, res-9 index, the broadcast join and the partial aggregate
    by res-9 cell, which Spark fuses into one stage. Every later stage
    aggregates shuffled rows and is the rollup side. Returns (join_s,
    rollup_s, join-side tasks): driver time before the first job counts
    to the join (it builds the cover), the collect to the rollup.
    """
    stages = {}
    for t in span["tasks"]:
        stages.setdefault(t[STAGE], []).append(t)
    join = [t for ts in stages.values() if not any(t[SHUF_R] for t in ts) for t in ts]
    lo, hi = span["t0_ns"], span["t1_ns"]
    cut = min(hi, max([lo] + [t[END_NS] for t in join]))
    return (cut - lo) / 1e9, (hi - cut) / 1e9, join


def outcome(raw):
    """(attempted, failed, correct) over every op the run issued."""
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    return len(ops), failed, failed == 0 and not raw["verify"]


def end_to_end(raw):
    """End-to-end metrics plus the tail percentile and sample count."""
    ops = [o for o in raw["ops"] if o["phase"] == "timed"]
    lat = _latencies(ops)
    tail_v, tail_p, tail_n = tail(lat)
    metrics = {
        "setup_s": median(raw["setup_s"]),
        "items_per_s": sum(o["items"] for o in ops) / _wall_s(ops),
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
    }
    facts = {"op_tail_percentile": tail_p, "op_tail_samples_beyond": tail_n,
             "timed_ops": len(ops)}
    return metrics, facts


def per_layer(raw):
    """Per-layer metrics of a traced run."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    traced_ops = {o["id"] for o in raw["ops"] if o["phase"] == "traced"}
    in_loop = [s for s in spans if s["op"] in traced_ops]
    n_ops = max(1, len(traced_ops))

    def bench_side(s):
        while s is not None:
            if s["name"].startswith("bench."):
                return True
            s = by_id.get(s["parent"])
        return False

    def named(name, pool=in_loop):
        return [s for s in pool if s["name"] == name]

    def dur_s(s):
        return (s["t1_ns"] - s["t0_ns"]) / 1e9

    def tasks(ss):
        return [t for s in ss for t in s["tasks"]]

    def plans(ss):
        return [p for s in ss for p in s["plans"]]

    def max_task(s):
        return max((t[DUR] for t in s["tasks"]), default=0)

    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: v for k, v in raw["probes"].items() if k in PER_LAYER})

    joins = raw["info"].get("joins", [])
    joins = [j for j in joins if j["op"] in traced_ops]
    fused = [split_fused(s) for s in named(FUSED)]
    for shape in SHAPES:
        if shape == "bcast":
            calls = [f[0] for f in fused]
            max_tasks = [max((t[DUR] for t in f[2]), default=0) for f in fused]
        else:
            ss = named(f"spatial_join.{shape}")
            calls = [dur_s(s) for s in ss]
            max_tasks = [max_task(s) for s in ss]
        if not calls:
            continue
        cand = [j[shape]["candidates"] for j in joins]
        joined = [j[shape]["joined"] for j in joins]
        pre = f"spatial_join.{shape}."
        out[pre + "call_s"] = median(calls)
        out[pre + "candidate_rows"] = median(cand)
        out[pre + "joined_rows"] = median(joined)
        out[pre + "accept_ratio"] = sum(joined) / sum(cand) if sum(cand) else 0.0
        out[pre + "max_task_ms"] = median(max_tasks)

    if fused:
        # The join writes no shuffle, so every shuffle byte is the rollup's.
        out["tile_rollup.call_s"] = median([f[1] for f in fused])
        out["tile_rollup.shuffle_write_bytes"] = median(
            [sum(t[SHUF_W] for t in s["tasks"]) for s in named(FUSED)])

    ss = named("knn.batch")
    if ss:
        queries = raw["info"]["queries_per_batch"]
        out["knn.batch_s"] = median([dur_s(s) for s in ss])
        out["knn.jobs_per_batch"] = _mean([len(s["jobs"]) for s in ss])
        out["knn.rows_scanned_per_query"] = (
            sum(p[SCAN_ROWS] for p in plans(ss)) / (queries * len(ss)))
        out["knn.pruned_batch_ratio"] = _mean(
            [1.0 if any(p[FILE_SCANS] > 0 for p in s["plans"]) else 0.0 for s in ss])
        out["knn.max_task_ms"] = median([max_task(s) for s in ss])
        out["icelite.read_files_per_batch"] = _mean(
            [sum(p[FILES_READ] for p in s["plans"]) for s in ss])
    writes = named("knn.prepare_corpus", spans)
    if writes:
        info = raw["info"]
        out["icelite.write_s"] = median([dur_s(s) for s in writes])
        out["icelite.jobs_per_write"] = median([len(s["jobs"]) for s in writes])
        out["icelite.files_written"] = info["corpus_files"]
        out["icelite.bytes_written_per_row"] = info["corpus_bytes"] / info["corpus_points"]

    for call in OPS_CALLS:
        ss = named(f"ops.{call}")
        if not ss:
            continue
        pre = f"ops.{call}."
        out[pre + "call_s"] = median([dur_s(s) for s in ss])
        out[pre + "jobs"] = median([len(s["jobs"]) for s in ss])
        out[pre + "shuffle_write_bytes"] = median(
            [sum(t[SHUF_W] for t in s["tasks"]) for s in ss])
        out[pre + "result_bytes"] = median(
            [sum(t[RESULT] for t in s["tasks"]) for s in ss])

    work = [s for s in in_loop if not bench_side(s)]
    ts = tasks(work)
    durs = [t[DUR] for t in ts]
    out["stage.task_s"] = sum(t[RUN] for t in ts) / 1e3 / n_ops
    out["stage.task_p50_ms"] = median(durs)
    out["stage.task_max_ms"] = max(durs, default=0)
    out["stage.scheduler_delay_s"] = sum(t[DELAY] for t in ts) / 1e3 / n_ops
    out["stage.shuffle_read_bytes"] = sum(t[SHUF_R] for t in ts) / n_ops
    out["stage.shuffle_write_bytes"] = sum(t[SHUF_W] for t in ts) / n_ops
    out["stage.spill_bytes"] = sum(t[SPILL] for t in ts) / n_ops
    out["stage.gc_s"] = sum(t[GC] for t in ts) / 1e3 / n_ops
    out["stage.failed_tasks"] = sum(t[FAILED] for t in ts)
    out["stage.jobs"] = sum(len(s["jobs"]) for s in work) / n_ops
    # A span's compiles include its children's; drop the bench.* ones.
    out["spark.codegen_compiles"] = sum(
        s["compiles"] - sum(b["compiles"] for b in in_loop if b["op"] == s["op"]
                            and b["name"].startswith("bench.")
                            and not bench_side(by_id.get(b["parent"])))
        for s in named("op")) / n_ops
    out["driver.plan_nodes"] = sum(p[NODES] for p in plans(work)) / n_ops
    out["driver.result_bytes"] = sum(t[RESULT] for t in ts) / n_ops

    # Op wall time with no job running, benchmark-side spans excluded.
    op_spans = named("op")
    idle, walls, self_s = {}, {}, []
    selfs = self_times(spans)
    for op in op_spans:
        mine = [s for s in in_loop if s["op"] == op["op"]]
        bench = [(s["t0_ns"], s["t1_ns"]) for s in mine
                 if s["name"].startswith("bench.")]
        jobs = [tuple(j) for s in mine if not bench_side(s) for j in s["jobs"]]
        lo, hi = op["t0_ns"], op["t1_ns"]
        wall = hi - lo - union_length(bench, lo, hi)
        busy = union_length(jobs + bench, lo, hi) - union_length(bench, lo, hi)
        idle[op["op"]] = (wall - busy) / 1e9
        walls[op["op"]] = wall / 1e9
        self_s.append(selfs[op["id"]] / 1e9)
    out["driver.idle_s"] = median(list(idle.values()))
    out["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    # Each traced op repeats the input of the untraced op before it.
    untraced = {o["id"]: (o["t1_ns"] - o["t0_ns"]) / 1e9
                for o in raw["ops"] if o["phase"] == "untraced"}
    out["trace.overhead_s"] = median(
        [w - untraced[r - 1] for r, w in walls.items() if r - 1 in untraced])
    out["trace.op_self_s"] = median(self_s)
    return out
