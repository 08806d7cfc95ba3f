"""The benchmark's own math: percentiles, attribution of topic files to
micro-batches, span self time, the correctness check, and the end-to-end
and per-layer metrics built from them.  Pure functions over the files a
run leaves behind; ``tests/test_analyze.py`` covers them."""

import datetime
import glob
import json
import math
import os
import urllib.parse

MB = 1 << 20


def percentile(xs, q):
    """q-th percentile (0..100) with linear interpolation between ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n samples lie above the q-th percentile."""
    return n - math.ceil(n * q / 100.0)


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median has fewer."""
    for q in candidates:
        if samples_beyond(n, q) >= 10:
            return q
    return None


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


# ---- checkpoint logs -------------------------------------------------------

def _log_lines(path):
    with open(path) as f:
        return [line.strip() for line in f][1:]  # line 0 is the version


def source_file_batches(ckpt):
    """(topic dir, file name) -> micro-batch id.

    Each file source keeps its own log, ``sources/<i>/<logId>``, whose
    entries name the files it listed; ``logId`` counts that source's own
    listings, not micro-batches.  ``offsets/<batchId>`` records, per
    source in the same order ``i``, the last ``logId`` the micro-batch
    covers, so a batch consumes the log ids after the previous batch's
    offset up to its own.  ``.compact`` roll-ups keep their entries'
    log ids."""
    files = {}
    for log in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        if os.path.basename(log).startswith("."):
            continue
        src = int(os.path.basename(os.path.dirname(log)))
        for line in _log_lines(log):
            if line.startswith("{"):
                e = json.loads(line)
                path = urllib.parse.unquote(urllib.parse.urlparse(e["path"]).path)
                files.setdefault((src, e["batchId"]), []).append(
                    (os.path.basename(os.path.dirname(path)), os.path.basename(path)))
    log_batch, prev = {}, {}
    offsets = [p for p in glob.glob(os.path.join(ckpt, "offsets", "*"))
               if os.path.basename(p).isdigit()]
    for p in sorted(offsets, key=lambda p: int(os.path.basename(p))):
        batch = int(os.path.basename(p))
        for src, line in enumerate(_log_lines(p)[1:]):
            if not line.startswith("{"):
                continue
            cur = json.loads(line)["logOffset"]
            for log_id in range(prev.get(src, -1) + 1, cur + 1):
                log_batch[(src, log_id)] = batch
            prev[src] = cur
    return {f: log_batch[k] for k, fs in files.items() if k in log_batch for f in fs}


def commit_times(ckpt):
    """batch id -> commit time (epoch s): the mtime of ``commits/<id>``."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime_ns / 1e9
    return out


def attribute(gen_files, file_batch, commits):
    """Per generated event: (due, batch, latency s) for events whose file
    a committed batch consumed; plus the count of events that no
    committed batch consumed."""
    done, lost = [], 0
    for f in gen_files:
        b = file_batch.get((f["topic"], f["file"]))
        if b is None or b not in commits:
            lost += len(f["due"])
            continue
        done.extend((d, b, commits[b] - d) for d in f["due"])
    return done, lost


# ---- correctness -----------------------------------------------------------

def stream_failures(result, planted_listings):
    """Failed checks of a drained stream: rows the sink lacks or has in
    excess of ``Crmls.pipeline`` over the same topics, a fingerprint
    mismatch, and a row count other than the planted listing count."""
    fails = {}
    if result["missing_rows"] or result["extra_rows"]:
        fails["rows_differ"] = result["missing_rows"] + result["extra_rows"]
    if result["expected"] != result["actual"]:
        fails["fingerprint"] = 1
    if result["actual"]["rows"] != planted_listings:
        fails["row_count"] = abs(result["actual"]["rows"] - planted_listings)
    return fails


def generator_lateness_ms(gen_files):
    """Per file: how long after its last event fell due it was published."""
    return [max(0.0, f["published"] - f["tick_end"]) * 1e3 for f in gen_files]


def batch_commits(samples):
    """batch id -> commit time (epoch s) of the batches that consumed
    generated events."""
    return {b: due + lat for due, b, lat in samples}


# ---- metrics ---------------------------------------------------------------

def delivered_rows_s(samples, window):
    """Input rows committed per second inside the measured window: the
    rows of the micro-batches committed in ``window`` after the first one
    committed there, over the time from that first commit to the last.
    A batch consumes what arrived while the previous one ran, so this
    equals the offered rate while the stream keeps up and falls below it
    as batches lengthen, that is, as the backlog grows.  With fewer than
    two commits in the window, the drain's commits after it stand in."""
    rows, commit = {}, batch_commits(samples)
    for _, b, _ in samples:
        rows[b] = rows.get(b, 0) + 1
    after = sorted((t, b) for b, t in commit.items() if t >= window[0])
    inside = [x for x in after if x[0] <= window[1]]
    if len(inside) < 2:
        inside = after
    if len(inside) < 2:
        raise ValueError("need at least two micro-batch commits after the window starts")
    return sum(rows[b] for _, b in inside[1:]) / (inside[-1][0] - inside[0][0])


def end_to_end(ready, gen, result, samples):
    """Every end-to-end metric of a stream run, as {name: value}."""
    lat = [x[2] for x in samples if x[0] >= gen["start"]]
    return {
        "setup_s": ready["seed_gen_s"] + ready["boot_s"] + ready["setup_s"],
        "latency_p50_s": percentile(lat, 50),
        "latency_p95_s": percentile(lat, 95),
        "delivered_rows_s": delivered_rows_s(samples, (gen["start"], gen["end"])),
        "peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
        "stored_mb": (result["state_bytes"] + result["sink_bytes"]
                      + result["changelog_bytes"]) / MB,
    }


def _ts_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def spans_and_layers(trace, samples, gen, result):
    """Spans (op -> processBatch -> Spark jobs, sharing the op id) and the
    per-layer metrics of a traced stream run."""
    ev = trace["events"]
    jobs, stage_job = {}, {}
    for e in ev:
        if e["ev"] == "job_start":
            jobs[e["job"]] = dict(e, end=e["t"], tasks=0, stages_done=0, run_ms=0,
                                  shuffle_read=0, shuffle_write=0, output=0)
            for s in e["stages"]:
                stage_job.setdefault(s, e["job"])
        elif e["ev"] == "job_end" and e["job"] in jobs:
            jobs[e["job"]]["end"] = e["t"]
    for e in ev:
        if e["ev"] == "stage" and e["stage"] in stage_job:
            j = jobs[stage_job[e["stage"]]]
            j["stages_done"] += 1
            for k in ("tasks", "run_ms", "shuffle_read", "shuffle_write", "output"):
                j[k] += e[k]
    batches = {}
    for e in ev:
        if e["ev"] == "progress" and e["batch"] >= 1 and "addBatch" in e["ms"]:
            ms = e["ms"]
            start = _ts_ms(e["ts"])
            end = start + ms["triggerExecution"]
            add_end = end - ms.get("commitOffsets", 0)
            batches[e["batch"]] = dict(e, start=start, end=end,
                                       add_start=add_end - ms["addBatch"], add_end=add_end,
                                       jobs=[], qes=[])
    for j in jobs.values():
        if j["batch"] in batches:
            batches[j["batch"]]["jobs"].append(j)
    for e in ev:
        if e["ev"] == "qe":
            for b in batches.values():
                if b["add_start"] <= e["start"] <= b["add_end"]:
                    b["qes"].append(e)
    if not batches:
        raise ValueError("traced run recorded no live micro-batch")

    spans, busy, driver_only, engine_self = [], [], [], []
    for bid, b in sorted(batches.items()):
        ivs = [(j["t"], j["end"]) for j in b["jobs"]]
        op_self = self_time(b["start"], b["end"], [(b["add_start"], b["add_end"])])
        pb_self = self_time(b["add_start"], b["add_end"], ivs)
        spans.append({"op": bid, "name": "op", "parent": None,
                      "start": b["start"], "end": b["end"], "self_ms": op_self})
        spans.append({"op": bid, "name": "processBatch", "parent": "op",
                      "start": b["add_start"], "end": b["add_end"], "self_ms": pb_self})
        spans.extend({"op": bid, "name": "job", "parent": "processBatch",
                      "job": j["job"], "start": j["t"], "end": j["end"],
                      "self_ms": j["end"] - j["t"]} for j in b["jobs"])
        engine_self.append(op_self)
        driver_only.append(pb_self)
        busy.append(union_length(ivs, b["add_start"], b["add_end"]))

    bl = list(batches.values())
    n = len(bl)
    all_jobs = [j for b in bl for j in b["jobs"]]
    walks = [e for e in ev if e["ev"] == "walk" and e["batch"] >= 1]
    trig = {bid: b["ms"]["triggerExecution"] for bid, b in batches.items()}
    waits = [lat * 1e3 - trig[b] for due, b, lat in samples
             if b in trig and due >= gen["start"]]
    rebuild = [j for j in jobs.values() if j["group"] == "crmls_rebuild"]
    late = generator_lateness_ms(gen["files"])
    per = lambda key: sum(j[key] for j in all_jobs) / n

    def walk_sum(key):
        return sum(w[key] for w in walks)

    layers = {
        "engine.batches": n,
        "engine.rows_per_batch_p50": percentile([b["rows"] for b in bl], 50),
        "engine.trigger_ms_p50": percentile([b["ms"]["triggerExecution"] for b in bl], 50),
        "engine.trigger_ms_p95": percentile([b["ms"]["triggerExecution"] for b in bl], 95),
        "engine.latest_offset_ms_p50": percentile([b["ms"].get("latestOffset", 0) for b in bl], 50),
        "engine.commit_ms_p50": percentile([b["ms"].get("walCommit", 0)
                                            + b["ms"].get("commitOffsets", 0) for b in bl], 50),
        "engine.queue_wait_ms_p50": percentile(waits, 50),
        "engine.self_ms_p50": percentile(engine_self, 50),
        "engine.drain_s": result["drained_at_ms"] / 1e3 - gen["end"],
        "processBatch.ms_p50": percentile([b["ms"]["addBatch"] for b in bl], 50),
        "processBatch.ms_p95": percentile([b["ms"]["addBatch"] for b in bl], 95),
        "processBatch.driver_only_ms_p50": percentile(driver_only, 50),
        "processBatch.actions": percentile([len(b["qes"]) for b in bl], 50),
        "catalyst.plan_ms_per_op": sum(q["plan_ms"] for b in bl for q in b["qes"]) / n,
        "scheduler.jobs_per_op": len(all_jobs) / n,
        "scheduler.stages_per_op": per("stages_done"),
        "scheduler.tasks_per_op": per("tasks"),
        "scheduler.task_s_per_op": per("run_ms") / 1e3,
        "scheduler.busy_ms_p50": percentile(busy, 50),
        "scheduler.shuffle_read_mb_per_op": per("shuffle_read") / MB,
        "scheduler.shuffle_write_mb_per_op": per("shuffle_write") / MB,
        "scheduler.output_mb_per_op": per("output") / MB,
        "state.rewritten_mb_per_batch": walk_sum("state_rewritten") / MB / n,
        "state.total_mb": result["state_bytes"] / MB,
        "sink.rewritten_mb_per_batch": walk_sum("sink_rewritten") / MB / n,
        "sink.files_per_batch": walk_sum("sink_files") / n,
        "sink.total_mb": result["sink_bytes"] / MB,
        "changelog.mb_per_batch": walk_sum("changelog_rewritten") / MB / n,
        "crmls.rebuild_s": result["rebuild_s"],
        "crmls.rebuild_jobs": len(rebuild),
        "gen.late_ms_p99": percentile(late, 99),
        "gen.late_ms_max": max(late),
        "trace.hook_ms_per_batch": trace["hook_ms"] / n,
        "trace.latency_p50_s": percentile([x[2] for x in samples if x[0] >= gen["start"]], 50),
    }
    return spans, layers
