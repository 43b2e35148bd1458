"""Turns one run's raw measurements (written by the JVM side) into the
benchmark's named metrics.

Pure functions only, so the rules are unit-tested in test_stats.py:
  * percentile rule: the median, and the highest percentile that still
    has at least ten samples beyond it;
  * span self time: a span's duration minus the part of it that its
    child spans cover.
"""
import math
import statistics
from collections import Counter

TAIL_BEYOND = 10


def nearest_rank(sorted_vals, pct):
    """Nearest-rank percentile of an ascending list (pct in (0, 100])."""
    k = max(1, math.ceil(pct / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def percentile_rule(values):
    """(median, tail, tail_pct, n).

    The tail is the highest nearest-rank percentile with at least
    TAIL_BEYOND samples above it: rank n - TAIL_BEYOND, percentile
    100 * (n - TAIL_BEYOND) / n. With too few samples for any such
    percentile above the median, the tail is the median itself.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0.0, 0
    med = statistics.median(s)
    k = n - TAIL_BEYOND
    if k < 1:
        return med, med, 50.0, n
    pct = 100.0 * k / n
    if pct <= 50.0:
        return med, med, 50.0, n
    return med, s[k - 1], pct, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans):
    """span id -> self time: duration minus the union of its direct
    children's intervals, each clipped to the parent's interval."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        covered = union_length(
            (max(s, c["start_ms"]), min(e, c["end_ms"]))
            for c in kids.get(sp["id"], []))
        out[sp["id"]] = (e - s) - covered
    return out


def prefix_self_times(prefix_times):
    """Self time of each stage of a pipeline timed as growing prefixes:
    prefix i minus prefix i-1 (the first stage is its own prefix)."""
    return [t - (prefix_times[i - 1] if i else 0.0)
            for i, t in enumerate(prefix_times)]


def descendants(spans, root_ids):
    """Spans below any of `root_ids`, at any depth."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out, todo = [], list(root_ids)
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def span_ms(sp):
    return sp["end_ms"] - sp["start_ms"]


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0


def end_to_end(raw, phase="untraced"):
    """The end-to-end metrics of one phase of a run."""
    p50, tail, _, _ = percentile_rule(raw["latency_ms"][phase])
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "work_per_s": ratio(raw["work"][phase], raw["busy_s"][phase]),
        "latency_ms_p50": p50,
        "latency_ms_tail": tail,
    }


def per_layer(raw, names):
    """Every per-layer metric in `names`, from the traced phase. A layer
    the workload does not run reads 0."""
    m = dict.fromkeys(names, 0.0)
    c = raw["counters"]
    spans = raw["spans"]
    jobs = [s for s in spans if s["name"].startswith("job:")]
    w0, w1 = raw["traced_window_ms"]
    cores = raw["cores"]

    # Tracing overhead.
    un = end_to_end(raw, "untraced")
    tr = end_to_end(raw, "traced")
    m["trace.overhead"] = ratio(un["work_per_s"], tr["work_per_s"]) - 1.0

    # Spark process, over the traced window.
    win_jobs = [j for j in jobs if w0 <= j["start_ms"] <= w1]
    attr = lambda js, k: sum(j["attrs"].get(k, 0.0) for j in js)
    m["spark.cpu_busy"] = ratio(attr(win_jobs, "cpu_s"),
                                (w1 - w0) / 1e3 * cores)
    m["spark.gc_s"] = attr(win_jobs, "gc_s")
    m["spark.spill_mb"] = attr(win_jobs, "spill_bytes") / 1e6
    m["spark.shuffle_mb"] = attr(win_jobs, "shuffle_bytes") / 1e6
    m["spark.jobs"] = len(win_jobs)
    m["spark.peak_rss_mb"] = raw["peak_rss_mb"]

    # Streaming engine and sinks, per traced micro-batch.
    batches = [p for p in raw["progress"] if p["phase"] == "traced"]
    nb = len(batches)
    if nb:
        for k in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets"):
            m[f"streaming.{k}_ms"] = mean(
                p["duration_ms"].get(k, 0.0) for p in batches)
        trig = [p["duration_ms"].get("triggerExecution", 0.0) for p in batches]
        s = sorted(trig)
        m["streaming.batch_ms_p50"] = statistics.median(s)
        m["streaming.batch_ms_p95"] = nearest_rank(s, 95)
        m["streaming.batches"] = nb
        bjobs = [j for j in win_jobs if "batch_id" in j["attrs"]]
        m["streaming.jobs_per_batch"] = len(bjobs) / nb
        m["streaming.input_reads"] = ratio(attr(bjobs, "input_bytes"),
                                           c.get("spool.bytes", 0.0))
        drains = [sp for sp in spans if sp["name"] == "drain"]
        wall = sum(map(span_ms, drains)) if drains else w1 - w0
        m["streaming.accounted"] = ratio(sum(trig), wall)
        # Per batch, Streaming.start runs the UDP send (which also
        # computes decode and format) and then the dead-letter writes.
        m["sink.udp_ms"] = sum(span_ms(j) for j in bjobs
                               if j["name"] != "job:write") / nb
        m["sink.deadletter_ms"] = sum(span_ms(j) for j in bjobs
                                      if j["name"] == "job:write") / nb
        m["sink.deadletter_files"] = c.get("sink.deadletter_files", 0.0) / nb
    m["sink.udp_received"] = c.get("sink.udp_received", 0.0)
    m["sink.udp_expected"] = c.get("sink.udp_expected", 0.0)

    # Pipeline modules, from the prefix-forced probe after the window.
    prefixes = [c.get(f"pipeline.prefix.{k}", 0.0)
                for k in ("gate_s", "decode_s", "format_s")]
    for k, v in zip(("gate_s", "decode_s", "format_s"),
                    prefix_self_times(prefixes)):
        m[f"pipeline.{k}"] = v
    for k in ("records", "rejected"):
        m[f"pipeline.{k}"] = c.get(f"pipeline.{k}", 0.0)
    for r in ("base64", "json", "schema", "timestamp"):
        m[f"pipeline.quarantined.{r}"] = c.get(f"pipeline.quarantined.{r}", 0.0)
    fmt = [s["id"] for s in spans if s["name"] == "probe:format"]
    m["pipeline.records_per_cpu_s"] = ratio(
        c.get("pipeline.records", 0.0) * len(fmt),
        attr([j for j in descendants(spans, fmt)
              if j["name"].startswith("job:")], "cpu_s"))

    # Front door and the open-loop generator.
    ack = raw["samples"].get("ack_ms.traced", [])
    if ack:
        a50, atail, _, _ = percentile_rule(ack)
        m["frontdoor.ack_ms_p50"] = a50
        m["frontdoor.ack_ms_tail"] = atail
        m["generator.late_ms_max"] = max(raw["samples"]["late_ms.traced"])
    m["frontdoor.accepted"] = c.get("frontdoor.accepted.traced", 0.0)
    m["frontdoor.non200"] = c.get("frontdoor.non200.traced", 0.0)
    m["frontdoor.backlog_max"] = c.get("frontdoor.backlog_max.traced", 0.0)

    # Benchmark operations: the share of their time with no Spark job
    # running (driver-side planning, listing, commit).
    ops = [s for s in spans if s["parent"] == 0 and not s["name"].startswith(
        ("job:", "probe:"))]
    m["op.driver_share"] = ratio(sum(no_job_time(spans, s) for s in ops),
                                 sum(map(span_ms, ops)))

    # Analytics registry: queries, families, stores.
    secs = lambda s: span_ms(s) / 1e3
    qs = [s for s in ops if s["name"].startswith("q:")]
    if qs:
        child_s = lambda s, name: sum(secs(k) for k in spans
                                      if k["parent"] == s["id"] and k["name"] == name)
        m["registry.build_s"] = mean(child_s(s, "build") for s in qs)
        m["registry.run_s"] = mean(child_s(s, "run") for s in qs)
        qjobs = [(s, [j for j in descendants(spans, [s["id"]])
                      if j["name"].startswith("job:")]) for s in qs]
        m["registry.jobs"] = mean(len(js) for _, js in qjobs)
        m["registry.stages"] = mean(attr(js, "stages") for _, js in qjobs)
        passes = max(Counter(s["name"] for s in qs).values())
        for s, js in qjobs:
            q = s["name"][2:]
            if f"q.{q}_s" in m:
                m[f"q.{q}_s"] += secs(s) / passes
                m[f"q.{q}.shuffle_mb"] += attr(js, "shuffle_bytes") / 1e6 / passes
                m[f"q.{q}.jobs"] += len(js) / passes
            fam = f"family.{raw['family'].get(s['name'])}_s"
            if fam in m:
                m[fam] += secs(s) / passes
    for st in ("text", "sig", "vec", "vec_rr", "emb"):
        writes = [s for s in ops if s["name"] == f"store:{st}:write"]
        if writes:
            reads = [s for s in ops if s["name"] == f"store:{st}:read"]
            m[f"store.{st}.write_s"] = mean(secs(s) for s in writes)
            m[f"store.{st}.read_s"] = mean(secs(s) for s in reads)
            m[f"store.{st}.files_written"] = (
                c.get(f"store.{st}.files_written", 0.0) / len(writes))
            m[f"store.{st}.write_amp"] = ratio(
                c.get(f"store.{st}.bytes_written", 0.0),
                c.get(f"store.{st}.input_bytes", 0.0))
    return {k: m[k] for k in names}


def no_job_time(spans, s):
    """Part of span `s` covered by none of the Spark jobs below it."""
    js = [dict(j, parent=s["id"]) for j in descendants(spans, [s["id"]])
          if j["name"].startswith("job:")]
    return self_times([s] + js)[s["id"]]
