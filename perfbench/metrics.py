"""Metric arithmetic for the pipeline benchmark.

The JVM side (graft.perfbench.Main) writes one record of raw
observations per run: operation timings, set-up timings, spans, Spark
listener events, streaming progress and output checks. Everything here
turns that record into the metrics named in BENCHMARK.json. It has no
dependencies beyond the standard library, so it is unit-tested on its
own (test_metrics.py).
"""

import math
import statistics

CORES = 4
# Layers the batch chain calls, in chain order; `streams` is the stream chain.
BATCH_LAYERS = ["incremental", "quality", "merge", "facts", "gold", "meta"]
SPARK_LAYERS = BATCH_LAYERS + ["streams"]
SPARK_FIELDS = ["jobs", "stages", "executor_run_s", "executor_cpu_s",
                "planning_ms", "shuffle_bytes", "spill_bytes", "driver_only_s"]
STREAM_DURATIONS = [("add_batch_ms", "addBatch"), ("get_batch_ms", "getBatch"),
                    ("latest_offset_ms", "latestOffset"),
                    ("query_planning_ms", "queryPlanning"),
                    ("wal_commit_ms", "walCommit"),
                    ("commit_offsets_ms", "commitOffsets"),
                    ("trigger_ms", "triggerExecution")]
TAIL_LADDER = [99.9, 99.0, 95.0, 90.0, 75.0, 50.0]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(xs, beyond=10):
    """The highest percentile of TAIL_LADDER with at least `beyond`
    samples above it. Returns (value, percentile, sample count); with too
    few samples for any tail it falls back to the median, reported as
    percentile 50."""
    n = len(xs)
    if n == 0:
        return 0.0, 50.0, 0
    for p in TAIL_LADDER:
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= beyond:
            return v, p, n
    return median(xs), 50.0, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval covered by its child spans. Returns {span id: self}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
            for s in spans}


def lag_map(offers, progress, queries, warmup_rows):
    """Per offered batch, the lag from its due time to the end of the
    micro-batch that covers it in every sink. The covering micro-batch of
    a query is the first whose cumulative numInputRows reaches the
    cumulative rows offered up to and including that batch (the warm-up
    batch's rows come first). Returns a list of lags in ms, None where a
    query never covered the batch."""
    ends = {}
    for q in queries:
        batches = sorted((p for p in progress if p["query"] == q and p["rows"] > 0),
                         key=lambda p: p["batch"])
        cum, acc = [], 0
        for p in batches:
            acc += p["rows"]
            cum.append((acc, p["end"]))
        ends[q] = cum
    lags, offered = [], warmup_rows
    for o in offers:
        offered += o["rows"]
        worst = None
        for q in queries:
            end = next((e for c, e in ends[q] if c >= offered), None)
            if end is None:
                worst = None
                break
            worst = end if worst is None else max(worst, end)
        lags.append(None if worst is None else worst - o["due"])
    return lags


def overhead_pct(traced, untraced):
    """Tracing overhead: traced median over untraced median, in percent."""
    if not traced or not untraced or median(untraced) == 0:
        return 0.0
    return (median(traced) / median(untraced) - 1.0) * 100.0


def _failed_checks(raw):
    return sum(1 for c in raw["checks"] if not c["ok"])


def operations(raw):
    """(latency samples in s, rows done, bytes written, bytes landed,
    attempted, failed, traced samples, untraced samples) of a run."""
    if raw.get("stream"):
        st = raw["stream"]
        lags = lag_map(st["offers"], st["progress"], st["queries"], st["warmup_rows"])
        limit = st["lag_limit_ms"]
        ok = [(o, l) for o, l in zip(st["offers"], lags) if l is not None and l <= limit]
        samples = [l / 1000.0 for _, l in ok]
        traced = [l / 1000.0 for o, l in ok if o["traced"]]
        untraced = [l / 1000.0 for o, l in ok if not o["traced"]]
        attempted = len(st["offers"])
        failed = attempted - len(ok)
        rows = sum(o["rows"] for o, _ in ok)
        written = st["bytes_written"]
        landed = sum(o["bytes"] for o in st["offers"])
    else:
        ops = raw["ops"]
        good = [o for o in ops if o["ok"]]
        samples = [(o["end"] - o["start"]) / 1000.0 for o in good]
        traced = [(o["end"] - o["start"]) / 1000.0 for o in good if o["traced"]]
        untraced = [(o["end"] - o["start"]) / 1000.0 for o in good if not o["traced"]]
        attempted = len(ops)
        failed = attempted - len(good)
        rows = sum(o["rows"] for o in good)
        written = sum(o["bytes_written"] for o in good)
        landed = sum(o["bytes_landed"] for o in good)
    attempted += len(raw["checks"])
    failed += _failed_checks(raw)
    return samples, rows, written, landed, max(attempted, 1), failed, traced, untraced


def end_to_end(raw):
    """The end-to-end metrics of an untraced run, plus a note on the tail."""
    samples, rows, written, landed, attempted, failed, _, _ = operations(raw)
    wall = (raw["timed_end"] - raw["timed_start"]) / 1000.0
    t, pct, n = tail(samples)
    m = {
        "setup_s": (raw["session_s"] + median(raw["setup_reps_s"]) + raw["once_s"], "s"),
        "latency_p50_s": (median(samples), "s"),
        "latency_tail_s": (t, "s"),
        "rows_per_s": (rows / wall if wall > 0 else 0.0, "1/s"),
        "write_amp": (written / landed if landed else 0.0, "ratio"),
        "ok_share": (1.0 - failed / attempted, "ratio"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
    }
    note = (f"latency_tail_s is p{pct:g} of {n} samples; samples (s): "
            + " ".join(f"{x:.3f}" for x in samples))
    return m, note, attempted, failed


def per_layer(raw):
    """Per-layer metrics of a traced run, each normalized per traced
    operation (increment, backfill rep or offered batch)."""
    td = raw["trace_data"]
    samples, _, _, _, attempted, failed, traced, untraced = operations(raw)
    spans = td["spans"]
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    st = raw.get("stream")
    if st:
        traced_ops = [o for o in st["offers"] if o["traced"]]
        n_ops = max(len(traced_ops), 1)
        traced_wall = len(traced_ops) * st["period_ms"] / 1000.0
    else:
        traced_ops = [o for o in raw["ops"] if o["traced"]]
        n_ops = max(len(traced_ops), 1)
        traced_wall = sum(o["end"] - o["start"] for o in traced_ops) / 1000.0

    m = {}
    for layer in BATCH_LAYERS:
        ls = [s for s in spans if s["layer"] == layer]
        m[f"{layer}.wall_s"] = sum(s["end"] - s["start"] for s in ls) / 1000.0 / n_ops
        m[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in ls) / 1000.0 / n_ops
    for key, name in [("merge.upsert_s", "merge.upsert"), ("merge.scd2_s", "merge.scd2")]:
        m[key] = sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1000.0 / n_ops

    # increment wall time no layer span covers
    unattributed = 0.0
    if not st:
        for o in traced_ops:
            mine = [(s["start"], s["end"]) for s in spans if s["trace"] == o["id"]]
            unattributed += (o["end"] - o["start"]) - union_length(clip(mine, o["start"], o["end"]))
    m["trace.unattributed_s"] = unattributed / 1000.0 / n_ops
    m["trace.overhead_pct"] = overhead_pct(traced, untraced)

    # Spark accounting per layer span
    layer_of = {s["id"]: s["layer"] for s in spans}
    task_iv = [(t["launch"], t["finish"]) for t in td["tasks"]]
    acc = {l: dict.fromkeys(SPARK_FIELDS, 0.0) for l in SPARK_LAYERS}
    for j in td["jobs"]:
        if j["span"] in layer_of:
            acc[layer_of[j["span"]]]["jobs"] += 1
    for g in td["stages"]:
        if g["span"] not in layer_of:
            continue
        a = acc[layer_of[g["span"]]]
        a["stages"] += 1
        a["executor_run_s"] += g["run_ms"] / 1000.0
        a["executor_cpu_s"] += g["cpu_ns"] / 1e9
        a["shuffle_bytes"] += g["shuffle_bytes"]
        a["spill_bytes"] += g["spill_bytes"]
    for q in td["queries"]:
        inner = [s for s in spans if s["start"] <= q["start"] <= s["end"]]
        if inner:
            span = max(inner, key=lambda s: s["start"])
            acc[span["layer"]]["planning_ms"] += q["planning_ms"]
    for s in spans:
        if s["layer"] in acc and s["parent"] not in by_id:
            busy = union_length(clip(task_iv, s["start"], s["end"]))
            acc[s["layer"]]["driver_only_s"] += ((s["end"] - s["start"]) - busy) / 1000.0
    if st:  # the stream span spans the whole run; keep its traced share
        share = traced_wall / max((raw["timed_end"] - raw["timed_start"]) / 1000.0, 1e-9)
        acc["streams"]["driver_only_s"] *= share
    for layer in SPARK_LAYERS:
        for f in SPARK_FIELDS:
            m[f"{layer}.{f}"] = acc[layer][f] / n_ops
    run_s = sum(acc[l]["executor_run_s"] for l in SPARK_LAYERS)
    m["spark.utilization"] = run_s / (traced_wall * CORES) if traced_wall > 0 else 0.0

    # row counts from Meta.observed on each layer's own write
    obs = {}
    for o in td["observed"]:
        obs[o["name"]] = obs.get(o["name"], 0) + o["rows"]
    scanned = sum(q["scan_rows"] for q in td["queries"]
                  if any(s["layer"] == "incremental" and s["start"] <= q["start"] <= s["end"]
                         for s in spans))
    selected = obs.get("incremental.rows_selected", 0)
    m["incremental.rows_scanned"] = scanned / n_ops
    m["incremental.rows_selected"] = selected / n_ops
    m["incremental.selectivity"] = selected / scanned if scanned else 0.0
    target = obs.get("merge.target_rows_read", 0)
    changed = obs.get("merge.rows_changed", 0)
    m["merge.target_rows_read"] = target / n_ops
    m["merge.rows_changed"] = changed / n_ops
    m["merge.useful_ratio"] = changed / (target + changed) if target + changed else 0.0
    for key in ["quality.rows_checked", "quality.rows_quarantined", "facts.rows_out",
                "gold.rows_out"]:
        m[key] = obs.get(key, 0) / n_ops

    if st:
        prog = [p for p in st["progress"]
                if raw["timed_start"] <= p["start"] <= raw["timed_end"]]
        full = [p for p in prog if p["rows"] > 0]
        for key, d in STREAM_DURATIONS:
            m[f"streams.{key}"] = median([p["durations"][d] for p in full]) if full else 0.0
        m["streams.batches"] = float(len(full))
        m["streams.batches_empty"] = float(len(prog) - len(full))
        m["streams.backlog_end_rows"] = float(st["backlog_end_rows"])
        m["gen.late_max_s"] = max([(o["offered"] - o["due"]) / 1000.0 for o in st["offers"]],
                                  default=0.0)
        m["meta.bytes_written"] = st["bytes_written"] / len(st["offers"])
        m["meta.commits"] = len(full) / len(st["offers"])
        m["cdc.rows_valid"] = st["rows_valid"] / len(st["offers"])
        m["cdc.rows_dlq"] = st["rows_dlq"] / len(st["offers"])
    else:
        for key, _ in STREAM_DURATIONS:
            m[f"streams.{key}"] = 0.0
        for key in ["streams.batches", "streams.batches_empty", "streams.backlog_end_rows",
                    "gen.late_max_s", "cdc.rows_valid", "cdc.rows_dlq"]:
            m[key] = 0.0
        m["meta.bytes_written"] = sum(o["bytes_written"] for o in traced_ops) / n_ops
        m["meta.commits"] = 1.0
    m["meta.files_written"] = (st["files_written"] / len(st["offers"]) if st else
                               sum(o["files_written"] for o in traced_ops) / n_ops)
    return m, attempted, failed

