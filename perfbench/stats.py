"""Turns one run's raw samples (written by perfbench.Main) into the
benchmark's metrics, and checks the run's outputs."""
import bisect
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_BEYOND = 10


def valid_metric_name(name):
    return NAME_RE.fullmatch(name) is not None


def tail_percentile(values, q, min_beyond=MIN_BEYOND):
    """Nearest-rank percentile `q` of `values`, lowered to the highest
    percentile that still has at least `min_beyond` samples above it.
    Returns (value, percentile reported, sample count)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    idx = max(0, math.ceil(q * n) - 1)
    idx = max(0, min(idx, n - 1 - min_beyond))
    return xs[idx], (idx + 1) / n, n


def due_latencies_ms(due_ns, done_ns):
    """Per-item latency counted from when the item was due, so a late
    start is charged to the item, not hidden."""
    return [(d1 - d0) / 1e6 for d0, d1 in zip(due_ns, done_ns)]


def lateness_ms(due_ns, send_ns):
    """How far behind its schedule the generator sent each item."""
    return [max(0.0, (s - d) / 1e6) for d, s in zip(due_ns, send_ns)]


def landed_ns(end_seqs, progress):
    """For each queue end sequence, the arrival time of the first
    micro-batch progress whose source end offset reaches it.
    `progress` rows are (arrival ns, end offset, ...) in arrival order."""
    arrivals, ends, top = [], [], -1
    for row in progress:
        if row[1] > top:
            top = row[1]
            arrivals.append(row[0])
            ends.append(row[1])
    out = []
    for s in end_seqs:
        i = bisect.bisect_left(ends, s)
        if i == len(ends):
            raise ValueError(f"sequence {s} never landed")
        out.append(arrivals[i])
    return out


def _flat(phase, key):
    return [x for b in phase["batches"] for x in b[key]]


def _ok_rows(phase, batch_rows):
    return sum(1 for r in _flat(phase, "result") if r == 0) * batch_rows


def executions(passes):
    """Every query execution of the run's passes (each pass runs each
    query once)."""
    return [r for p in passes for r in p]


def pass_seconds(passes):
    return [sum(r["s"] for r in p) for p in passes]


def fingerprint_failures(passes, expected):
    """Names of query executions that failed or whose (rows, hash)
    differ from the recorded fingerprint."""
    bad = []
    for r in executions(passes):
        want = expected.get(r["name"])
        if r["error"] or want is None or (r["rows"], r["hash"]) != (
                want["rows"], want["hash"]):
            bad.append(r["name"])
    return bad


def capture_fingerprints(raw):
    """Fingerprints of a run whose passes all agree and did not fail."""
    fps = {}
    for r in executions(raw["passes"]):
        fp = {"rows": r["rows"], "hash": r["hash"]}
        if r["error"] or fps.setdefault(r["name"], fp) != fp:
            raise ValueError(f"{r['name']}: no stable fingerprint")
    return fps


def end_to_end(raw, batch_rows=256):
    setup = raw["setup"]
    setup_s = (setup["session_s"] + sum(setup["layout_s"].values())
               + statistics.median(setup["server_s"]))
    progress = raw["progress"]

    paced = raw["paced"]
    due = _flat(paced, "due_ns")
    fresh_ms = due_latencies_ms(due, landed_ns(_flat(paced, "end_seq"), progress))

    flood = raw["flood"]
    first_send = min(_flat(flood, "send_ns"))
    last_landed = landed_ns([max(_flat(flood, "end_seq"))], progress)[0]
    rows_per_s = _ok_rows(flood, batch_rows) / ((last_landed - first_send) / 1e9)

    suite_s = statistics.median(pass_seconds(raw["passes"]))
    heap = max([raw["ingest_heap_mb"]] + raw["pass_heap_mb"])
    pct = {}
    out = {"setup_s": (setup_s, "s"), "rows_per_s": (rows_per_s, "1/s")}
    for name, xs, q in (("fresh_ms_p50", fresh_ms, 0.50), ("fresh_ms_p99", fresh_ms, 0.99)):
        v, p, n = tail_percentile(xs, q)
        out[name] = (v, "ms")
        pct[name] = {"percentile": round(p, 4), "samples": n}
    out["suite_s"] = (suite_s, "s")
    out["live_heap_mb"] = (heap, "MB")
    return out, pct


def per_layer(raw, batch_rows=256):
    out = {}
    paced, flood = raw["paced"], raw["flood"]
    server = {k: paced["server"][k] + flood["server"][k] for k in paced["server"]}
    out["net.batches_ok"] = (server["ok"], "count")
    out["net.batches_retried"] = (server["not_ok"], "count")
    out["net.backoff_sent"] = (server["backoff"], "count")
    out["net.ok_ratio"] = (server["ok"] / max(1, server["ok"] + server["not_ok"]), "ratio")
    ack_ms = due_latencies_ms(_flat(paced, "due_ns"), _flat(paced, "ack_ns"))
    out["net.ack_ms_p50"] = (tail_percentile(ack_ms, 0.50)[0], "ms")
    out["net.ack_ms_p99"] = (tail_percentile(ack_ms, 0.99)[0], "ms")
    late = lateness_ms(_flat(paced, "due_ns"), _flat(paced, "send_ns"))
    out["net.gen_late_ms_p99"] = (tail_percentile(late, 0.99)[0], "ms")

    box = raw["box"]
    walls = [box[p]["wall_s"] for p in ("paced", "flood")]
    depths = [raw[p]["queue_depth"] for p in ("paced", "flood")]
    out["sources.queue_depth_mean"] = (
        sum(d["mean"] * w for d, w in zip(depths, walls)) / sum(walls), "rows")
    out["sources.queue_depth_max"] = (max(d["max"] for d in depths), "rows")

    # micro-batches that landed the measured phases' rows
    windows = []
    for p in (paced, flood):
        end = landed_ns([max(_flat(p, "end_seq"))], raw["progress"])[0]
        windows.append((p["t0_ns"], end))
    batches = [e for e in raw["progress"]
               if any(a <= e[0] <= b for a, b in windows) and e[2] > 0]
    trig = [e[3] for e in batches]
    out["streaming.microbatches"] = (len(batches), "count")
    out["streaming.rows_per_batch_mean"] = (statistics.fmean(e[2] for e in batches), "rows")
    out["streaming.batch_ms_p50"] = (tail_percentile(trig, 0.50)[0], "ms")
    out["streaming.batch_ms_p99"] = (tail_percentile(trig, 0.99)[0], "ms")
    out["streaming.add_batch_ms_mean"] = (statistics.fmean(e[4] for e in batches), "ms")
    out["streaming.plan_ms_mean"] = (statistics.fmean(e[5] for e in batches), "ms")
    out["streaming.commit_ms_mean"] = (statistics.fmean(e[6] for e in batches), "ms")
    window_ms = sum(b - a for a, b in windows) / 1e6
    out["streaming.busy_frac"] = (sum(trig) / window_ms, "ratio")

    rep = raw["replay"]
    out["proto.decode_s"] = (rep["decode_s"], "s")
    out["bind.transcode_s"] = (rep["transcode_s"], "s")
    out["streaming.sink_s"] = (rep["sink_s"], "s")
    out["proto.decode_check_ns_per_row"] = (rep["decode_check_ns_per_row"], "ns")

    spark = raw["spark"]
    tot = spark["total"]
    out["spark.task_s"] = (tot["task_s"], "s")
    out["spark.gc_s"] = (tot["gc_s"], "s")
    out["spark.shuffle_mb"] = (tot["shuffle_mb"], "MB")
    out["spark.spill_mb"] = (tot["spill_mb"], "MB")

    passes = raw["passes"]
    per_query = query_detail(raw)
    out["suite.cold_pass_s"] = (pass_seconds(passes)[0], "s")
    for key, unit in (("task_s", "s"), ("shuffle_mb", "MB"), ("stages", "count")):
        out[f"suite.{key}"] = (sum(q[key] for q in per_query.values()), unit)
    setup = raw["setup"]
    out["setup.session_s"] = (setup["session_s"], "s")
    out["setup.server_s"] = (statistics.median(setup["server_s"]), "s")
    out["spark.persisted_rdds_left"] = (
        statistics.median(sum(r["rdds_left"] for r in p) for p in passes), "count")
    for phase in ("paced", "flood", "queries"):
        out[f"box.ext_cores.{phase}"] = (box[phase]["ext_cores"], "cores")
        out[f"box.steal_cores.{phase}"] = (box[phase]["steal_cores"], "cores")
    out["trace.listener_s"] = (spark["listener_s"], "s")
    e2e, _ = end_to_end(raw, batch_rows)
    for name, (v, unit) in e2e.items():
        out[f"trace.e2e.{name}"] = (v, unit)
    return out


def query_detail(raw):
    """Per query of the workload: median seconds over the passes and,
    from a traced run's job groups, task seconds, shuffle MB and
    stages per execution."""
    passes = raw["passes"]
    groups = raw.get("spark", {}).get("groups", {})
    out = {}
    for i, name in enumerate(r["name"] for r in passes[0]):
        d = {"s": statistics.median(p[i]["s"] for p in passes)}
        g = groups.get(name)
        if g is not None:
            for key in ("task_s", "shuffle_mb", "stages"):
                d[key] = g[key] / len(passes)
        out[name] = d
    return out


def landed_ok(raw):
    lan = raw["landed"]
    return (lan["rows"] == lan["expected_rows"]
            and lan["hash"] == lan["expected_hash"])


def summarize(raw, fingerprints, trace):
    """The result object of a run: correctness counts and the metrics
    of the requested kind."""
    bad_queries = fingerprint_failures(raw["passes"], fingerprints)
    queries = len(executions(raw["passes"]))
    counts = raw["counts"]
    attempted = counts["batches"] + queries + 1
    failed = counts["batches_failed"] + len(bad_queries) + (0 if landed_ok(raw) else 1)
    metrics, pct = end_to_end(raw)
    if trace:
        metrics = per_layer(raw)
    for name in metrics:
        if not valid_metric_name(name):
            raise ValueError(f"invalid metric name {name}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    detail = {"percentiles": pct, "bad_queries": bad_queries, "landed": raw["landed"],
              "queries": query_detail(raw)}
    return result, detail
