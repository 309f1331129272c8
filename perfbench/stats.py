"""Arithmetic of the benchmark's metrics, from the raw run record the
harness writes. Kept free of I/O except `dir_bytes` so it can be tested on
its own (perfbench/tests)."""
import os
import statistics

END_TO_END = [
    ("setup_s", "s"), ("op_p50_s", "s"), ("write_p50_s", "s"), ("read_p50_s", "s"), ("rows_per_s", "1/s"),
    ("store_bytes_per_input_byte", "ratio"), ("rss_peak_mb", "MiB"),
]

# span name -> per-layer metric (self time, ms per op)
SPAN_LAYERS = {
    "sources.load": "sources.load_ms",
    "pipeline.call": "pipeline.call_ms",
    "operators.upsert": "operators.upsert_ms",
    "ext.imputation": "ext.imputation_ms",
    "ext.dedup": "ext.dedup_ms",
    "ext.similarity": "ext.similarity_ms",
    "ext.text": "ext.text_ms",
}

# per-op counters the traced harness records, reported as a mean per op
OP_COUNTERS = [
    ("spark.plan_ms", "ms"), ("spark.stages", "count"),
    ("spark.stages_skipped", "count"), ("spark.tasks", "count"),
    ("spark.sched_delay_ms", "ms"), ("io.files_written", "count"),
    ("io.bytes_written", "bytes"), ("spark.task_ms", "ms"),
    ("spark.task_cpu_ms", "ms"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_fetch_wait_ms", "ms"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.input_records", "count"),
    ("spark.task_gc_ms", "ms"), ("jvm.gc_ms", "ms"),
    ("jvm.heap_after_mb", "MiB"), ("env.steal_ticks", "count"),
    ("env.stall_ms", "ms"),
]

PER_LAYER = (
    [("Session.start_ms", "ms")]
    + [(m, "ms") for m in SPAN_LAYERS.values()]
    + [("spark.jobs", "count"),
       ("spark.job_wall_ms", "ms"), ("spark.driver_gap_ms", "ms"),
       ("spark.busy_cores", "cores"), ("spark.tasks_failed_ratio", "ratio")]
    + OP_COUNTERS
    + [("ops_stalled", "count"), ("trace.op_p50_s", "s")]
)


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """Latency at the highest nearest-rank percentile that has at least ten
    samples beyond it: rank n-10 of n sorted samples, the
    100*(n-10)/n-th percentile. Returns (value, percentile, n); with ten
    samples or fewer no rank qualifies and the median is returned with
    percentile 50."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return median(s), 50.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_ms(wall_ms, job_intervals):
    """Op wall time not covered by any of its jobs (intervals clipped to
    the op's window [0, wall])."""
    clipped = [(max(0.0, s), min(wall_ms, e)) for s, e in job_intervals]
    return wall_ms - union_ms(clipped)


def dir_bytes(path):
    """Bytes of every regular file under `path` (0 if it does not exist)."""
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dp, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def store_input_bytes(rec):
    """Input parquet bytes the run's set-up and writes ingested into its
    stores."""
    return rec.get("setup_store_in_bytes", 0) + sum(o["store_in_bytes"] for o in rec["ops"])


def store_ratio(dirs, input_bytes):
    """Bytes on disk under the stores / input parquet bytes they ingested."""
    return sum(dir_bytes(d) for d in dirs) / input_bytes


def self_times(spans):
    """Per span id: its duration minus what its child spans cover."""
    dur = {s["id"]: s["endMs"] - s["startMs"] for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["startMs"], s["endMs"]))
    return {i: d - union_ms(children.get(i, [])) for i, d in dur.items()}


def end_to_end(rec, store_bytes_per_input_byte):
    ops = rec["ops"]
    walls = [o["wall_ms"] / 1000.0 for o in ops]
    writes = [o["wall_ms"] / 1000.0 for o in ops if o["kind"] == "write"]
    reads = [o["wall_ms"] / 1000.0 for o in ops if o["kind"] == "read"]
    t, pct, n = tail(walls)
    metrics = {
        "setup_s": median(rec["setup_s"]),
        "op_p50_s": median(walls),
        "write_p50_s": median(writes) if writes else float("nan"),
        "read_p50_s": median(reads) if reads else float("nan"),
        "rows_per_s": sum(o["rows_in"] for o in ops) / sum(walls),
        "store_bytes_per_input_byte": store_bytes_per_input_byte,
        "rss_peak_mb": rec["rss_peak_mb"],
    }
    # op_tail_s stays in the artifact only: at ~10 ops per run the rule
    # falls back to the median, and its percentile would shift with n
    detail = {"op_tail_s": t, "op_tail_percentile": pct, "n_ops": n, "n_write": len(writes),
              "n_read": len(reads), "store_input_bytes": store_input_bytes(rec)}
    return metrics, detail


def per_op_layers(o):
    """The per-layer numbers of one traced op record."""
    out = {m: 0.0 for m in SPAN_LAYERS.values()}
    st = self_times(o["spans"])
    for s in o["spans"]:
        m = SPAN_LAYERS.get(s["name"])
        if m:
            out[m] += st[s["id"]]
    jobs = o["jobs"]
    out["spark.jobs"] = len(jobs)
    out["spark.job_wall_ms"] = o["wall_ms"] - driver_gap_ms(o["wall_ms"], jobs)
    out["spark.driver_gap_ms"] = driver_gap_ms(o["wall_ms"], jobs)
    for m, _ in OP_COUNTERS:
        key = {"env.steal_ticks": "steal_ticks", "env.stall_ms": "stall_ms"}.get(m, m)
        out[m] = float(o[key])
    out["spark.tasks_failed"] = o["spark.tasks_failed"]
    return out


def per_layer(rec):
    ops = rec["ops"]
    rows = [per_op_layers(o) for o in ops]
    n = len(rows)
    mean = {k: sum(r[k] for r in rows) / n for k in rows[0]}
    tasks = sum(r["spark.tasks"] for r in rows)
    job_wall = sum(r["spark.job_wall_ms"] for r in rows)
    metrics = {m: mean.get(m, 0.0) for m, _ in PER_LAYER}
    metrics["Session.start_ms"] = median(rec["session_start_ms"])
    metrics["spark.busy_cores"] = (sum(r["spark.task_ms"] for r in rows) / job_wall
                                   if job_wall else 0.0)
    metrics["spark.tasks_failed_ratio"] = (sum(r["spark.tasks_failed"] for r in rows) / tasks
                                           if tasks else 0.0)
    metrics["ops_stalled"] = float(sum(1 for o in ops if o["stall_ms"] > 0))
    metrics["trace.op_p50_s"] = median([o["wall_ms"] / 1000.0 for o in ops])
    detail = {"per_op": [dict(i=o["i"], name=o["name"], kind=o["kind"],
                              wall_ms=o["wall_ms"], **r) for o, r in zip(ops, rows)],
              "busy_cores_base": {"task_ms": sum(r["spark.task_ms"] for r in rows),
                                  "job_wall_ms": job_wall},
              "tasks_failed_base": tasks}
    return metrics, detail
