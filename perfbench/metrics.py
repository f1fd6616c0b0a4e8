"""Turn one runner output (spans, trace records) into metrics.

End-to-end metrics come from the benchmark's own spans and hold for every
workload; per-layer metrics come from the traced run's job and SQL
execution records, each job assigned to the program module named by its
call site.
"""

import statistics

# Modules whose Spark jobs are attributed. A job belongs to the module of
# the innermost `graft.<module>.` frame of its call site. A job with no such
# frame was started by the benchmark itself, running an action on a frame a
# module returned (a detector's pairs) or its own SQL: it belongs to the
# module of the span it ran in, else to `other`.
MODULES = ("state", "orchestrate", "sink", "quality", "catalog", "sql", "streaming",
           "dedup", "other")
SPAN_MODULES = {"sql": "sql", "catalog_register": "catalog", "catalog_sync": "catalog",
                "dedup_d20": "dedup",
                "dedup_d22": "dedup", "dedup_d04": "dedup"}
STAGES = ("route", "archive", "stage_output", "quality_gate", "promote")
STREAM_DURATIONS = (("trigger", "triggerExecution"), ("addbatch", "addBatch"),
                    ("walcommit", "walCommit"), ("commitoffsets", "commitOffsets"),
                    ("planning", "queryPlanning"), ("getbatch", "getBatch"))
DETECTORS = ("d20", "d22", "d04")


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, samples). The value is the (n-10)-th
    smallest sample, which n-10 samples are at or below: percentile
    100*(n-10)/n. Below 21 samples that percentile is not above the
    median, so it is no tail, and below 11 it does not exist; then the
    maximum is returned, as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 21:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def module_of(frames, span_kind="", streaming=False, root=""):
    """Module of a job from its call-site frames (innermost first).

    `graft.dedup.Dedup$.d20PrefixJoin(Dedup.scala:253)` -> `dedup`; a
    top-level object such as `graft.Tables$.events(...)` -> `tables`.
    A streaming query replaces the call site with its own description, and
    threads it starts inherit that, so such jobs have no frames. They are
    split by their plan root: a file write into a journal staging
    directory (`StateLog` writes `<journal>.append-<uuid>`) is `state`,
    any other file write is `sink`, the rest is `streaming`."""
    for f in frames:
        parts = f.split("(")[0].split(".")
        if parts[0] != "graft" or len(parts) < 3:
            continue
        return parts[1] if len(parts) >= 4 else parts[1].rstrip("$").lower()
    if streaming:
        if not root.startswith("Execute InsertInto"):
            return "streaming"
        return "state" if ".append-" in root else "sink"
    return SPAN_MODULES.get(span_kind, "other")


def is_journal_write(job):
    return (any("StateLog.writeRow" in f or "StateLog.compact" in f for f in job["frames"])
            or ".append-" in job["root"])


def union_s(intervals):
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def dur_ms(span):
    return span["end"] - span["start"]


def spans_of(out, kind):
    return [s for s in out["spans"] if s["kind"] == kind]


# --- end to end --------------------------------------------------------------

def latency_samples(out, ctx):
    """Per workload, the user-facing latency (ms): pipeline runs, file
    lags, dedup passes."""
    w = out["workload"]
    if w == "etl_small":
        return [dur_ms(s) for s in spans_of(out, "run")]
    if w == "stream_ingest":
        return list(ctx["lag_ms"].values())
    return [dur_ms(s) for s in spans_of(out, "pass")]


def throughput(out, ctx):
    """Work per second: runs (etl_small), rows per second of a median
    backlog micro-batch (stream_ingest), documents per second of whole
    passes of all three detectors (corpus_dedup)."""
    w = out["workload"]
    if w == "etl_small":
        # closed loop: clients / mean run time (Little's law), independent
        # of where the last run ends against the deadline
        runs = spans_of(out, "run")
        return out["results"]["clients"] * len(runs) / (sum(dur_ms(s) for s in runs) / 1000.0)
    if w == "stream_ingest":
        return statistics.median(p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
                                 for p in out["results"]["drain_progress"] if p["numInputRows"])
    passes = spans_of(out, "pass")
    return ctx["docs"] * len(passes) / (sum(dur_ms(s) for s in passes) / 1000.0)


def end_to_end(out, ctx):
    lat = latency_samples(out, ctx)
    return {
        "setup_s": out["setup_s"],
        "throughput_per_s": throughput(out, ctx),
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": tail(lat)[0],
        "live_heap_mb": out["live_heap_bytes"] / 2.0 ** 20,
    }


# --- per layer ---------------------------------------------------------------

def stage_seconds(journal):
    """Mean seconds per run of each pipeline stage, from the journal's own
    RUNNING -> SUCCEEDED stamps (first RUNNING to last SUCCEEDED)."""
    from datetime import datetime
    marks = {}
    for pid, ts, stage, status, _ in journal:
        t = datetime.strptime(ts[:26], "%Y-%m-%dT%H:%M:%S.%f").timestamp()
        m = marks.setdefault((pid, stage), {})
        if status == "RUNNING":
            m.setdefault("start", t)
        elif status == "SUCCEEDED":
            m["end"] = t
    out = {}
    for st in STAGES:
        xs = [m["end"] - m["start"] for (_, s), m in marks.items()
              if s == st and "start" in m and "end" in m]
        out[st] = statistics.mean(xs) if xs else 0.0
    return out


def per_layer(out, ctx):
    tr = out["trace"]
    m0, m1 = out["measure_start"], out["measure_end"]
    execs = {x["id"]: x for x in tr["executions"]}
    jobs = []
    for j in tr["jobs"]:
        if not (m0 <= j["start"] <= m1):
            continue
        x = execs.get(j["exec"]) if j["exec"] is not None else None
        frames = x["frames"] if x else j["frames"]
        module = module_of(frames, j["span"], j["streaming"], x["root"] if x else "")
        j = dict(j, module=module, frames=frames, root=x["root"] if x else "",
                 end=j["end"] or j["start"])
        jobs.append(j)
    window = (m1 - m0) / 1000.0

    def stage_sum(js, key):
        return sum(st[key] for j in js for st in j["stages"])

    r = {}
    for mod in MODULES:
        js = [j for j in jobs if j["module"] == mod]
        r[mod + ".jobs"] = len(js)
        r[mod + ".busy_s"] = union_s([(j["start"], j["end"]) for j in js])
        r[mod + ".cpu_s"] = stage_sum(js, "cpu_ns") / 1e9
    state = [j for j in jobs if j["module"] == "state"]
    r["state.appends"] = sum(1 for j in state if is_journal_write(j))
    r["state.read_busy_s"] = union_s([(j["start"], j["end"]) for j in state
                                      if not is_journal_write(j)])
    r["state.journal_files"] = ctx.get("journal_files", 0)

    journal = ctx.get("journal", [])
    for st, v in stage_seconds(journal).items():
        r["orchestrate.stage_s." + st] = v
    r["orchestrate.retries"] = sum(1 for row in journal
                                   if row[3] == "FAILED" and str(row[4]).startswith("attempt="))
    runs = ctx.get("runs", [])  # (group id, start ms, end ms) per pipeline run
    driver = []
    for gid, s, e in runs:
        covered = union_s([(max(j["start"], s), min(j["end"], e)) for j in jobs
                           if j["group"] == gid and j["end"] > s and j["start"] < e])
        driver.append((e - s) / 1000.0 - covered)
    r["orchestrate.driver_s"] = statistics.mean(driver) if driver else 0.0

    sink = [j for j in jobs if j["module"] == "sink"]
    r["sink.task_s"] = stage_sum(sink, "run_ms") / 1000.0
    r["sink.files_written"] = ctx.get("files_written", 0)
    r["sink.bytes_written"] = ctx.get("bytes_written", 0)
    r["sink.rows_per_file"] = ctx.get("rows_per_file", 0.0)
    r["validate.rows_in"] = ctx.get("rows_in", 0)
    r["validate.rows_invalid"] = ctx.get("rows_invalid", 0)

    def span_mean(kind):
        xs = [dur_ms(s) / 1000.0 for s in spans_of(out, kind)]
        return statistics.mean(xs) if xs else 0.0
    r["catalog.register_s"] = span_mean("catalog_register")
    r["catalog.sync_s"] = span_mean("catalog_sync")
    r["catalog.partitions"] = ctx.get("partitions", 0)

    sql_execs = [x for x in execs.values() if m0 <= x["start"] <= m1 and
                 any(j["exec"] == x["id"] and j["module"] == "sql" for j in jobs)]
    for k in ("files_read", "bytes_read", "partitions_read"):
        r["sql." + k] = (statistics.mean(x.get(k, 0) for x in sql_execs)
                         if sql_execs else 0.0)

    control = spans_of(out, "control")
    for route in ("post", "status", "update", "list"):
        xs = [dur_ms(s) for s in control if s["name"] == route]
        r["service.%s_ms" % route] = statistics.median(xs) if xs else 0.0

    progress = ctx.get("progress", [])
    for name, key in STREAM_DURATIONS:
        xs = [p["durationMs"].get(key, 0) / 1000.0 for p in progress]
        r["streaming.%s_s" % name] = statistics.mean(xs) if xs else 0.0
    r["streaming.batches"] = len(progress)
    r["streaming.rows_per_batch"] = (statistics.mean(p["numInputRows"] for p in progress)
                                     if progress else 0.0)
    r["streaming.backlog_files_end"] = ctx.get("backlog_files_end", 0)
    r["streaming.gen_late_ms"] = ctx.get("gen_late_ms", 0.0)

    dedup = [j for j in jobs if j["module"] == "dedup"]
    n_pass = max(1, len(spans_of(out, "pass")))
    for d in DETECTORS:
        r["dedup.busy_s." + d] = span_mean("dedup_" + d)
    r["dedup.shuffle_bytes"] = stage_sum(dedup, "shuffle_write") / n_pass
    r["dedup.spill_bytes"] = stage_sum(dedup, "spill") / n_pass
    dedup_execs = {j["exec"] for j in dedup}
    r["dedup.max_join_rows"] = max([execs[e].get("max_join_rows", 0)
                                    for e in dedup_execs if e in execs] or [0])
    r["dedup.pairs_out"] = ctx.get("pairs_out", 0)
    r["dedup.planted_recall"] = ctx.get("planted_recall", 0.0)

    ops = max(1, ctx.get("ops", 1))
    r["spark.jobs_per_op"] = len(jobs) / ops
    r["spark.tasks"] = stage_sum(jobs, "tasks")
    r["spark.cpu_s"] = stage_sum(jobs, "cpu_ns") / 1e9
    r["spark.gc_s"] = stage_sum(jobs, "gc_ms") / 1000.0
    r["spark.sched_wait_s"] = stage_sum(jobs, "sched_wait_ms") / 1000.0
    r["spark.fetch_wait_s"] = stage_sum(jobs, "fetch_wait_ms") / 1000.0

    lat = latency_samples(out, ctx)
    _, pct, n = tail(lat)
    r["latency.samples"] = n
    r["latency.tail_pct"] = pct
    assigned = union_s([(j["start"], j["end"]) for j in jobs if j["module"] != "other"])
    r["trace.unassigned_share"] = max(0.0, 1.0 - assigned / window) if window > 0 else 0.0
    r["trace.listener_s"] = tr["listener_s"]
    # the traced run's own end-to-end figures: against the untraced run's,
    # the tracing overhead
    e2e = end_to_end(out, ctx)
    r["trace.throughput_per_s"] = e2e["throughput_per_s"]
    r["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    r["setup.warmup_s"] = out["warmup_s"]
    r["jvm.peak_rss_mb"] = out["peak_rss_kb"] / 1024.0
    return r

