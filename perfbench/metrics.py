"""Pure metric arithmetic for the benchmark: percentiles, failure
accounting, span nesting and self time, and the end-to-end and
per-layer metrics of one run. No I/O; run.py and rollup.py call it and
tests/test_metrics.py checks it.
"""
import math
import statistics
from collections import defaultdict

# Percentiles tried for the tail, highest first.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10
MB = 1048576.0


def nearest_rank(values, p):
    """Value at percentile p by the nearest-rank rule, and how many
    samples lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    rank = min(n, max(1, math.ceil(p / 100.0 * n)))
    return xs[rank - 1], n - rank


def tail(values, min_beyond=MIN_BEYOND):
    """The highest percentile of LADDER with at least `min_beyond`
    samples beyond it. With too few samples for any, it is the median,
    and `beyond` says how short of ten it falls.

    Returns (percentile, value, beyond, n).
    """
    n = len(values)
    for p in LADDER:
        v, beyond = nearest_rank(values, p)
        if beyond >= min_beyond:
            return p, v, beyond, n
    v = median(values)
    return 50.0, v, sum(1 for x in values if x > v), n


def median(values, default=0.0):
    return statistics.median(values) if values else default


# ---------------------------------------------------------------- failures

def route_failure(expected, actual):
    """Why a route's outcome differs from what the generator expects,
    or None. Expected fail-soft outcomes (empty, http_404, ...) are
    successes when they happen as expected."""
    if actual["outcome"] != expected["outcome"]:
        return "outcome %s, expected %s" % (actual["outcome"], expected["outcome"])
    if expected["outcome"] != "ok":
        return None
    if actual["rows"] != expected["rows"]:
        return "rows %s, expected %s" % (actual["rows"], expected["rows"])
    if "hash" in actual:
        if list(actual["columns"]) != list(expected["columns"]):
            return "columns %s, expected %s" % (actual["columns"], expected["columns"])
        if actual["read_rows"] != expected["rows"] or actual["hash"] != expected["hash"]:
            return "content hash %s, expected %s" % (actual["hash"], expected["hash"])
    return None


def query_failure(item, expected):
    """Why a query or gate execution failed, or None. Executions that
    carry a result fingerprint are compared with the stored one."""
    if not item["ok"]:
        return "threw: %s" % item.get("error")
    if "hash" not in item:
        return None
    want = expected.get(item["name"])
    if want is None:
        return "no stored fingerprint"
    if item["rows"] != want["rows"] or item["hash"] != want["hash"]:
        return "fingerprint %s/%s, expected %s/%s" % (
            item["rows"], item["hash"], want["rows"], want["hash"])
    return None


def account(raw, expected):
    """(attempted, failures) of a run. An ETL attempt is one route in
    one pass; a query attempt is one execution of one item."""
    failures = []
    if "route_checks" in raw:
        checks = raw["route_checks"]
        for c in checks:
            why = route_failure(c["expected"], c["actual"])
            if why:
                failures.append("%s pass %d: %s" % (c["name"], c["pass"], why))
        return len(checks), failures
    attempted = 0
    for p in raw["passes"]:
        for it in p["items"]:
            attempted += 1
            why = query_failure(it, expected)
            if why:
                failures.append("%s pass %d: %s" % (it["name"], p["pass"], why))
    return attempted, failures


# ------------------------------------------------------------------- spans

def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, optionally clipped to
    [lo, hi]."""
    xs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            xs.append((s, e))
    xs.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in xs:
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
    """Map span id -> self time: its duration minus the part of its
    interval that its children cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_us"], s["end_us"]))
    return {
        s["id"]: (s["end_us"] - s["start_us"])
        - union_length(kids[s["id"]], s["start_us"], s["end_us"])
        for s in spans
    }


def layer_of(name):
    """The layer a span belongs to: the prefix of its name. The
    harness's own workload, pass and item spans hold the time no layer
    accounts for, which is driver-side time between calls."""
    head = name.split(".", 1)[0]
    return "driver" if head in ("workload", "pass", "item") else head


def layer_self_times(spans):
    """Self time per layer, in seconds."""
    st = self_times(spans)
    out = defaultdict(float)
    for s in spans:
        out[layer_of(s["name"])] += st[s["id"]] / 1e6
    return dict(out)


def innermost(span, candidates):
    """The shortest candidate of the same trace whose interval holds the
    span's start, or None."""
    best = None
    for c in candidates:
        if c is span or c["trace"] != span["trace"]:
            continue
        if not c["start_us"] <= span["start_us"] <= c["end_us"]:
            continue
        if best is None or c["end_us"] - c["start_us"] < best["end_us"] - best["start_us"]:
            best = c
    return best


ETL_PHASES = ("etl.read", "etl.nonempty", "etl.write", "etl.verify")


def etl_phase(call_site):
    """Which pipeline step ran a job, from Spark's short call site
    ("json at Normalize.scala:39"): the envelope read with its schema
    inference, the non-empty probe, the Parquet write, or the
    read-back count."""
    if not call_site:
        return None
    where = call_site.split(" at ", 1)
    if len(where) != 2:
        return None
    method, place = where[0], where[1]
    if place.startswith("Pipeline.scala"):
        return "etl.verify"
    if not place.startswith("Normalize.scala"):
        return None
    if method == "json":
        return "etl.read"
    if method == "head":
        return "etl.nonempty"
    return "etl.write"


def build_spans(raw):
    """The run's span tree: the harness's own spans plus spans made from
    the listener events (Catalyst phases, jobs, stages, micro-batches,
    ETL steps), each nested under the innermost span of its item."""
    spans = [dict(s) for s in raw.get("spans", [])]
    next_id = [max([s["id"] for s in spans], default=0) + 1]
    items = sorted((s for s in spans if s["name"] == "item"), key=lambda s: s["start_us"])
    traces = {s["trace"] for s in items}

    def item_at(t):
        for it in items:
            if it["start_us"] <= t <= it["end_us"]:
                return it
        return None

    def add(name, trace, start, end, parent=0, **attrs):
        s = dict(id=next_id[0], name=name, trace=trace, parent=parent,
                 start_us=start, end_us=max(start, end), **attrs)
        next_id[0] += 1
        spans.append(s)
        return s

    job_end = {j["job"]: j for j in raw.get("job_ends", [])}
    jobs = []
    for j in raw.get("jobs", []):
        if j["job"] not in job_end:
            continue
        trace = j["group"] if j["group"] in traces else None
        if trace is None:
            it = item_at(j["start_us"])
            trace = it["trace"] if it else None
        if trace is not None:
            jobs.append(dict(j, trace=trace, end_us=job_end[j["job"]]["end_us"],
                             ok=job_end[j["job"]]["ok"]))

    # ETL steps: consecutive spans from the end of the fetch to the end
    # of each step's last job.
    by_trace = defaultdict(list)
    for j in jobs:
        by_trace[j["trace"]].append(j)
    for f in [s for s in spans if s["name"] == "ingest.fetch"]:
        cur = f["end_us"]
        for phase in ETL_PHASES:
            ends = [j["end_us"] for j in by_trace[f["trace"]] if etl_phase(j.get("call_site")) == phase]
            if ends:
                add(phase, f["trace"], cur, max(ends), parent=f["parent"])
                cur = max(ends)

    harness = list(spans)
    for p in raw.get("progress", []):
        if "duration_ms" not in p:
            continue
        it = item_at(p["start_us"])
        if it is None:
            continue
        b = add("streaming.batch", it["trace"], p["start_us"],
                p["start_us"] + 1000 * p["duration_ms"].get("triggerExecution", 0))
        b["parent"] = (innermost(b, harness) or it)["id"]

    outer = list(spans)
    for q in raw.get("query_plans", []):
        for phase in ("analysis", "optimization", "planning"):
            ph = q["phases"].get(phase)
            it = item_at(ph["start_us"]) if ph else None
            if it is None:
                continue
            s = add("plans." + phase, it["trace"], ph["start_us"], ph["end_us"])
            s["parent"] = (innermost(s, outer) or it)["id"]
    job_span = {}
    for j in jobs:
        s = add("exec.job", j["trace"], j["start_us"], j["end_us"], job=j["job"],
                call_site=j.get("call_site"), stage_ids=list(j["stages"]))
        p = innermost(s, outer)
        s["parent"] = p["id"] if p else 0
        job_span[j["job"]] = s
    for st in raw.get("stages", []):
        owners = [job_span[j["job"]] for j in jobs
                  if st["stage"] in j["stages"] and j["start_us"] <= st["start_us"] + 1000]
        if not owners:
            continue
        owner = max(owners, key=lambda s: s["start_us"])
        add("exec.stage", owner["trace"], st["start_us"], st["end_us"], parent=owner["id"],
            **{k: v for k, v in st.items() if k not in ("start_us", "end_us")})
    return spans


# ----------------------------------------------------------------- metrics

def warm(raw):
    return [p for p in raw["passes"] if not p["cold"]]


def latencies(passes):
    return [(it["end_us"] - it["start_us"]) / 1e6 for p in passes for it in p["items"]]


def in_windows(t, windows):
    return any(s <= t <= e for s, e in windows)


def rows_per_pass(raw):
    """Rows one warm pass produces: Parquet rows written (etl_ingest),
    streaming input rows (stream_gates), or result rows (query
    workloads, from the cold pass's fingerprints)."""
    if "etl_bytes" in raw:
        return median([b["rows"] for b in raw["etl_bytes"] if b["pass"] != 0])
    if raw["progress"]:
        per = []
        for p in warm(raw):
            w = [(it["start_us"], it["end_us"]) for it in p["items"]]
            per.append(sum(e["input_rows"] for e in raw["progress"] if in_windows(e["start_us"], w)))
        return median(per)
    return sum(it.get("rows", 0) for it in raw["passes"][0]["items"])


def end_to_end(raw, expected):
    """The end-to-end metrics of an untraced run, plus details the
    summary prints beside them."""
    attempted, failures = account(raw, expected)
    w = warm(raw)
    pass_s = median([p["wall_s"] for p in w])
    lat = latencies(w)
    pct, tail_v, beyond, n = tail(lat)
    m = {
        "setup_s": median(raw["setup_s"]),
        "cold_s": raw["passes"][0]["wall_s"],
        "pass_s": pass_s,
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_v,
        "rows_per_s": rows_per_pass(raw) / pass_s if pass_s else 0.0,
    }
    ratio = None
    if "etl_bytes" in raw:
        b = [x for x in raw["etl_bytes"] if x["pass"] != 0]
        ratio = sum(x["parquet_bytes"] for x in b) / max(1, sum(x["json_bytes"] for x in b))
    details = {
        "tail_percentile": pct, "tail_beyond": beyond, "latency_samples": n,
        "warm_passes": len(w), "parquet_json_ratio": ratio, "peak_rss_mb": raw["peak_rss_mb"],
        "fail_share": len(failures) / attempted if attempted else 1.0,
    }
    return m, attempted, failures, details


def per_layer(raw, spans):
    """Per-layer metrics of a traced run: per warm pass sums, reported
    as the median over warm passes (counts and peaks as noted)."""
    cpus = raw["cpus"]
    passes = warm(raw)
    by_pass = defaultdict(list)
    for s in spans:
        t = s["trace"]
        if "#" in t:
            by_pass[int(t.rsplit("#", 1)[1])].append(s)
    stage_recs = {(st["stage"], st["attempt"]): st for st in raw.get("stages", [])}
    per = []
    for p in passes:
        ss = by_pass[p["pass"]]
        named = defaultdict(list)
        for s in ss:
            named[s["name"]].append(s)
        dur = lambda name: sum(s["end_us"] - s["start_us"] for s in named[name]) / 1e6
        items = named["item"]
        jobs = named["exec.job"]
        stages = [stage_recs[(s["stage"], s["attempt"])] for s in named["exec.stage"]]
        builds = named["ops.build"]
        d = {}
        d["ingest.fetch_s"] = dur("ingest.fetch")
        d["ingest.mb"] = sum(s.get("bytes", 0) for s in named["ingest.fetch"]) / MB
        for ph in ETL_PHASES:
            d[ph + "_s"] = dur(ph)
        fetched = len(named["ingest.fetch"])
        d["etl.jobs_per_route"] = len(jobs) / fetched if fetched else 0.0
        d["ops.build_s"] = dur("ops.build")
        d["ops.build_jobs"] = sum(1 for j in jobs if any(
            b["trace"] == j["trace"] and b["start_us"] <= j["start_us"] <= b["end_us"] for b in builds))
        for ph in ("analysis", "optimization", "planning"):
            d["plans.%s_s" % ph] = dur("plans." + ph)
        d["exec.jobs"] = len(jobs)
        d["exec.stages"] = len(stages)
        # a job's stage that did not run in that job reused shuffle
        # output an earlier job wrote
        ran = {(s["parent"], s["stage"]) for s in named["exec.stage"]}
        d["exec.stages_skipped"] = sum(
            1 for j in jobs for sid in j["stage_ids"] if (j["id"], sid) not in ran)
        busy = gap = 0.0
        for it in items:
            mine = [s for s in ss if s["trace"] == it["trace"]]
            job_iv = [(s["start_us"], s["end_us"]) for s in mine if s["name"] == "exec.job"]
            busy += union_length(job_iv, it["start_us"], it["end_us"])
            covered = job_iv + [(s["start_us"], s["end_us"]) for s in mine
                                if s["name"] in ("ops.build", "streaming.gate") or s["name"].startswith("plans.")]
            gap += (it["end_us"] - it["start_us"]) - union_length(covered, it["start_us"], it["end_us"])
        d["exec.job_busy_s"] = busy / 1e6
        d["exec.driver_gap_s"] = gap / 1e6
        tot = lambda k: sum(st[k] for st in stages)
        d["exec.tasks"] = tot("tasks")
        d["exec.task_run_s"] = tot("run_ms") / 1e3
        d["exec.task_cpu_s"] = tot("cpu_ns") / 1e9
        d["exec.offcpu_s"] = max(0.0, d["exec.task_run_s"] - d["exec.task_cpu_s"])
        d["exec.gc_s"] = tot("gc_ms") / 1e3
        d["exec.sched_delay_s"] = tot("sched_ms") / 1e3
        d["exec.deser_s"] = tot("deser_ms") / 1e3
        d["exec.cpu_util"] = d["exec.task_cpu_s"] / (p["wall_s"] * cpus) if p["wall_s"] else 0.0
        for k, name in (("shuffle_read", "shuffle_read_mb"), ("shuffle_write", "shuffle_write_mb"),
                        ("spill", "spill_mb"), ("input", "input_mb"), ("output", "output_mb")):
            d["exec." + name] = tot(k) / MB
        all_ms = [t for st in stages for t in st["task_ms"]]
        d["exec.max_task_s"] = max(all_ms, default=0) / 1e3
        d["exec.task_skew"] = max([max(st["task_ms"]) / max(1.0, statistics.median(st["task_ms"]))
                                   for st in stages if len(st["task_ms"]) >= 2], default=1.0)
        d["exec.failed_tasks"] = tot("failed_tasks")
        batches = [e for e in raw.get("progress", []) if "duration_ms" in e
                   and in_windows(e["start_us"], [(it["start_us"], it["end_us"]) for it in items])]
        dm = lambda k: sum(e["duration_ms"].get(k, 0) for e in batches) / 1e3
        d["streaming.batches"] = len(batches)
        d["streaming.trigger_s"] = dm("triggerExecution")
        d["streaming.add_batch_s"] = dm("addBatch")
        d["streaming.wal_s"] = dm("walCommit")
        ops = [o for e in batches for o in e["state"]]
        d["streaming.state_commit_s"] = sum(o["commit_ms"] for o in ops) / 1e3
        d["streaming.rocksdb_sync_s"] = sum(
            o["custom"].get("rocksdbCommitFileSyncLatencyMs", 0) for o in ops) / 1e3
        last = {}
        for e in sorted(batches, key=lambda e: e["start_us"]):
            it = next(i for i in items if i["start_us"] <= e["start_us"] <= i["end_us"])
            last[it["trace"]] = e
        d["streaming.state_rows"] = sum(o["rows"] for e in last.values() for o in e["state"])
        d["streaming.state_mb"] = sum(o["memory_bytes"] for e in last.values() for o in e["state"]) / MB
        d["streaming.input_rows"] = sum(e["input_rows"] for e in batches)
        gates = named["streaming.gate"]
        d["streaming.idle_s"] = max(0.0, dur("streaming.gate") - d["streaming.trigger_s"]) if gates else 0.0
        d["jvm.gc_s"] = p["gc_ms"] / 1e3
        d["trace.pass_s"] = p["wall_s"]
        lst = layer_self_times(ss)
        for layer in LAYERS:
            d["self.%s_s" % layer] = lst.get(layer, 0.0)
        per.append(d)
    out = {k: median([d[k] for d in per]) for k in per[0]} if per else {}
    out["ingest.mb_per_s"] = out["ingest.mb"] / out["ingest.fetch_s"] if out.get("ingest.fetch_s") else 0.0
    eb = [b for b in raw.get("etl_bytes", []) if b["pass"] != 0]
    out["etl.json_mb"] = median([b["json_bytes"] / MB for b in eb])
    out["etl.parquet_mb"] = median([b["parquet_bytes"] / MB for b in eb])
    out["etl.parquet_json_ratio"] = (
        sum(b["parquet_bytes"] for b in eb) / sum(b["json_bytes"] for b in eb) if eb else 0.0)
    cfg = raw.get("config", {})
    out["config.parse_s"] = cfg.get("parse_s", 0.0)
    out["config.routes"] = cfg.get("routes", 0)
    out["session.storage_residual_mb"] = max(
        [it.get("residual_bytes", 0) for p in passes for it in p["items"]]
        + [raw["storage_residual_bytes"]]) / MB
    out["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    out["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    return out


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("_ratio", "_util", "_skew", "_per_route")):
        return "ratio"
    return "count"


LAYERS = ("driver", "config", "ingest", "etl", "ops", "plans", "exec", "streaming")
