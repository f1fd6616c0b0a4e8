"""Check the program's outputs against the generator's expectations.

Each workload's check returns (attempted, failed, ctx): the operations the
run attempted, how many of them failed or returned a wrong result, and the
counts the metrics need. Every expectation is computed here, from the
generated rows, independently of the program.
"""

import glob
import json
import os
import statistics

import gen
from metrics import DETECTORS, spans_of


def tree_files(root):
    """(files, bytes) of parquet data files under root."""
    n = b = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return n, b


def _valid(rows):
    return [e for e in rows if e["valid"]]


def _day_hour(e):
    return 1 + e["hour"] // 24, e["hour"] % 24


def sql_answers(rows):
    """Expected results of StreamIngest.queries over the landed valid rows,
    as lists of rows like the runner reports them."""
    by_type, hours, users, bands, point, first = {}, {}, {}, {}, {}, set()
    for e in rows:
        d, h = _day_hour(e)
        t = by_type.setdefault(e["event_type"], [0, 0])
        t[0] += 1
        t[1] += e["cents"]
        users[e["user_id"]] = users.get(e["user_id"], 0) + 1
        bands[e["cents"] // 5000] = bands.get(e["cents"] // 5000, 0) + 1
        if d == 1:
            x = hours.setdefault(h, [0, 0])
            x[0] += 1
            x[1] += e["cents"]
            first.add(e["user_id"])
            if h == 3:
                point[e["event_type"]] = point.get(e["event_type"], 0) + 1
    top = sorted(users.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return {
        "type_totals": [[k, v[0], v[1]] for k, v in sorted(by_type.items())],
        "first_day_hours": [[h, v[0], v[1]] for h, v in sorted(hours.items())],
        "top_users": [[u, n] for u, n in top],
        "point_hour": [[k, v] for k, v in sorted(point.items())],
        "value_bands": [[b, n] for b, n in sorted(bands.items())],
        "first_day_users": [[len(first)]],
    }


def _counts(rows):
    return {int(k): v for k, v in rows}


def check_small(out, exp, work):
    res = out["results"]
    meta = {m["name"]: m for m in exp["batches"]}
    processed = _counts(res["processed"])
    quarantined = dict(res["quarantined"])
    staged = dict(res["staged"])
    retries = {}
    for pid, _, stage, status, detail in res["journal"]:
        if stage == "transform" and status == "FAILED" and str(detail).startswith("attempt="):
            retries[pid] = retries.get(pid, 0) + 1
    failed = 0
    runs = spans_of(out, "run")
    rows_in = rows_invalid = rows_valid = 0
    for s in runs:
        m = meta[s["name"]]
        batch = int(m["name"][1:])
        pid = s["pipeline_id"]
        valid = len(_valid(m["rows"]))
        invalid = len(m["rows"]) - valid
        rows_in += len(m["rows"])
        rows_invalid += invalid
        rows_valid += valid
        landed = processed.get(batch, 0) if m["expect"] == "SUCCEEDED" else staged.get(pid, 0)
        ok = (s["ok"] and s["status"] == m["expect"]
              and landed == valid and quarantined.get(pid, 0) == invalid
              and (m["expect"] == "FAILED" or processed.get(batch, 0) == valid)
              and (m["expect"] == "SUCCEEDED" or processed.get(batch, 0) == 0)
              and retries.get(pid, 0) == (1 if m["flaky"] else 0)
              and s["listed"] != 0)
        failed += not ok
    side = [s for s in spans_of(out, "control") if s["name"] in ("update", "list")]
    failed += sum(not s["ok"] for s in side)
    p_files, p_bytes = tree_files(os.path.join(work, "small", "lake", "processed"))
    ctx = {
        "journal": res["journal"],
        "journal_files": len(glob.glob(os.path.join(work, "small", "state", "*.parquet"))),
        "runs": [(s["pipeline_id"], s["start"], s["end"]) for s in runs],
        "files_written": p_files, "bytes_written": p_bytes,
        "rows_per_file": rows_valid / p_files if p_files else 0.0,
        "rows_in": rows_in, "rows_invalid": rows_invalid, "ops": max(1, len(runs)),
    }
    return len(runs) + len(side), failed, ctx


def _file_batches(checkpoint):
    """file name -> micro-batch id, from the file source's metadata log."""
    out = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _stream_expect(files):
    rows = [e for f in files for e in f]
    valid = _valid(rows)
    return {"rows": len(valid), "distinct_ids": len(valid),
            "id_sum": sum(e["event_id"] for e in valid),
            "quarantined": len(rows) - len(valid),
            "malformed": sum(1 for e in rows if e.get("malformed"))}


def check_stream(out, exp, work):
    res = out["results"]
    lake = res["lake"]
    landed = res["landed"]
    by_name = {"f%04d.json" % i: rows for i, rows in enumerate(exp["steady"])}
    batch_of = _file_batches(os.path.join(lake, "checkpoints", "processed"))
    lag, late = {}, []
    failed = 0
    steady_end = max([s["end"] for s in spans_of(out, "steady")] or [0])
    backlog_end = 0
    for f in landed:
        late.append(f["landed"] - f["due"])
        b = batch_of.get(f["file"])
        marker = os.path.join(lake, "processed", "_batches", "batch-%s" % b)
        if b is None or not os.path.exists(marker):
            failed += 1
            continue
        done_ms = os.stat(marker).st_mtime_ns / 1e6
        lag[f["file"]] = done_ms - f["due"]
        backlog_end += done_ms > steady_end
    # the warm-up files went through the same query into the same table
    warm = exp["warmup"]
    steady_want = _stream_expect(warm + [by_name[f["file"]] for f in landed])
    failed += res["steady"] != steady_want
    drain_want = _stream_expect(exp["backlog"])
    drain_ok = res["drain"] == drain_want and all(s["ok"] for s in spans_of(out, "drain"))
    failed += not drain_ok
    rows = [e for f in warm + [by_name[f["file"]] for f in landed] for e in f]
    got = {a["query"]: a["rows"] for a in res["answers"]}
    want = sql_answers(_valid(rows))
    failed += sum(got.get(q) != w for q, w in want.items())
    failed += sum(not s["ok"] for s in spans_of(out, "catalog_register") +
                  spans_of(out, "catalog_sync"))
    # the sync must have found every hour partition the run landed
    failed += res["partitions"] != len({_day_hour(e) for e in _valid(rows)})
    p_files, p_bytes = tree_files(os.path.join(lake, "processed"))
    ctx = {
        "lag_ms": lag,
        "progress": res["progress"], "backlog_files_end": backlog_end,
        "gen_late_ms": statistics.median(late) if late else 0.0,
        "rows_in": len(rows), "rows_invalid": steady_want["quarantined"],
        "journal_files": len(glob.glob(os.path.join(work, "stream", "state", "*.parquet"))),
        "files_written": p_files, "bytes_written": p_bytes,
        "rows_per_file": steady_want["rows"] / p_files if p_files else 0.0,
        "partitions": res["partitions"], "ops": max(1, len(landed)),
    }
    # landed files, the drain, the catalog registration and sync, and the
    # queries
    return len(landed) + 3 + len(want), failed, ctx


def _pairs_ok(rows, texts, tau):
    """Every reported pair carries its exact Jaccard, at or above tau."""
    for a, b, j in rows:
        exact = gen.jaccard(texts(a), texts(b))
        if a >= b or exact < tau or abs(exact - j) > 1e-6:
            return False
    return True


def check_dedup(out, exp, work):
    res = out["results"]
    docs = exp["docs"]
    passes = res["passes"]
    failed = 0
    recall = 1.0
    pairs_out = 0
    if passes:
        first = passes[0]
        d20 = [tuple(r) for r in first["d20"]["rows"]]
        d22 = [tuple(r) for r in first["d22"]["rows"]]
        d04 = [tuple(r) for r in first["d04"]["rows"]]
        pairs_out = len(d20) + len(d22) + len(d04)
        want20 = {(p["a"], p["b"]) for p in exp["planted"] if p["j20"] >= gen.D20_TAU}
        want22 = {(p["a"], p["b"]) for p in exp["planted"] if p["j22"] >= gen.D22_TAU}
        want04 = {(p["a"], p["b"]) for p in exp["planted"] if p["identical"]}
        got20 = {(a, b) for a, b, _ in d20}
        got22 = {(a, b) for a, b, _ in d22}
        recall = min(len(want20 & got20) / len(want20), len(want22 & got22) / len(want22))
        failed += not _pairs_ok(d20, lambda i: docs[i], gen.D20_TAU)
        failed += not _pairs_ok(d22, lambda i: gen.d22_text(i, docs[i]), gen.D22_TAU)
        failed += not (want04 <= {(a, b) for a, b, _ in d04}
                       and all(a < b and h <= 3 for a, b, h in d04))
        failed += recall < 1.0
        for d in DETECTORS:
            failed += sum(p[d]["hash"] != first[d]["hash"] for p in passes[1:])
    failed += sum(not s["ok"] for s in out["spans"] if s["kind"].startswith("dedup_"))
    failed += res["docs"] != len(docs)
    ctx = {"docs": len(docs), "pairs_out": pairs_out, "planted_recall": recall,
           "ops": max(1, len(passes))}
    return max(1, 3 * len(passes)), failed, ctx


CHECKS = {"etl_small": check_small,
          "stream_ingest": check_stream, "corpus_dedup": check_dedup}


def check(out, exp, work):
    return CHECKS[out["workload"]](out, exp, work)
