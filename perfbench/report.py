"""Turn one run's raw samples and spans into the benchmark's metrics."""
import bisect
import statistics

END_TO_END = [
    ("setup_s", "s"), ("run_s", "s"),
    ("query_p50_ms", "ms"), ("query_p95_ms", "ms"),
    ("http_p50_ms", "ms"), ("flight_p50_ms", "ms"),
    ("trivial_p50_ms", "ms"), ("live_heap_mb", "MB"),
]

PER_LAYER = [
    ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
    ("queries.build_read_jobs", "count"), ("queries.build_tasks", "count"),
    ("queries.build_task_ms", "ms"),
    ("spark.analysis_ms", "ms"), ("spark.optimization_ms", "ms"),
    ("spark.planning_ms", "ms"), ("spark.plans", "count"),
    ("spark.run_ms", "ms"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_ms", "ms"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.failed_tasks", "count"), ("spark.task_wait_ms", "ms"),
    ("jvm.jit_ms", "ms"), ("jvm.gc_ms", "ms"),
    ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
    ("sources.write_amp", "ratio"),
    ("exec.sql_ms", "ms"), ("exec.sql_calls", "count"),
    ("tables.record_ms", "ms"), ("tables.records", "count"),
    ("tables.metrics_scrape_ms", "ms"),
    ("server.http_self_ms", "ms"), ("server.flight_self_ms", "ms"),
    ("server.flight_info_ms", "ms"), ("server.flight_ttfb_ms", "ms"),
    ("server.flight_doget_ms", "ms"), ("server.non_ok", "count"),
    ("trace.run_s", "s"),
]


def percentile(values, q):
    """(q-th percentile by linear interpolation, sample count)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def union_length(intervals, lo=None, hi=None):
    """Length covered by the (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def attach_by_time(spans, parents):
    """Give each unparented span the innermost of `parents` whose interval
    holds its start. The serial workloads run one operation at a time, so
    a job or planning phase belongs to the operation running when it began.
    Returns {parent id: [child spans]}.
    """
    ps = sorted(parents, key=lambda p: p["start"])
    starts = [p["start"] for p in ps]
    out = {}
    for s in spans:
        if s["parent"]:
            out.setdefault(s["parent"], []).append(s)
            continue
        i = bisect.bisect_right(starts, s["start"]) - 1
        while i >= 0 and ps[i]["end"] < s["start"]:
            i -= 1
        if i >= 0:
            out.setdefault(ps[i]["id"], []).append(s)
    return out


def _ms(us):
    return us / 1000.0


def end_to_end(raw):
    """Metric name -> (value, sample count), tracing off."""
    measured = [o for o in raw["ops"] if o["pass"] > 0]
    probe = [o for o in raw["probe"] if o["pass"] > 0]
    requests = [o for o in measured + probe if o["kind"] in ("http", "flight")]
    trivial = [o["ms"] for o in requests if o["trivial"]]
    if raw["workload"] == "serve_sql":
        # SELECT 1 is trivial_p50_ms; the other percentiles cover the
        # analytic statements (q06, q01): mixed with SELECT 1, their medians
        # fell in the gap between the two kinds of latency
        timed = [o for o in requests if not o["trivial"]]
        queries = [o["ms"] for o in timed]
    else:  # the batch workloads' serving probe sends SELECT 1 only
        timed = requests
        queries = [o["ms"] for o in measured if o["kind"] == "query"]
    http = [o["ms"] for o in timed if o["kind"] == "http"]
    flight = [o["ms"] for o in timed if o["kind"] == "flight"]
    passes = raw["passes_s"]
    return {
        "setup_s": (raw["setup_s"], 1),
        "run_s": (statistics.median(passes), len(passes)),
        "query_p50_ms": percentile(queries, 50),
        "query_p95_ms": percentile(queries, 95),
        "http_p50_ms": percentile(http, 50),
        "flight_p50_ms": percentile(flight, 50),
        "trivial_p50_ms": percentile(trivial, 50),
        "live_heap_mb": (raw["heap_mb"], 1),
    }


def per_layer(raw):
    """Metric name -> value from the traced run's spans, each a mean per
    measured operation unless its name says otherwise.
    """
    spans = raw["spans"]
    serve = raw["workload"] == "serve_sql"
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    measured = [o for o in raw["ops"] if o["pass"] > 0]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["trace.run_s"] = statistics.median(raw["passes_s"])

    if serve:
        requests = by_name.get("http", []) + by_name.get("flight", [])
        n = max(len(requests), 1)
        layer = [s for s in spans if s["tag"] in ("http", "flight") and s["name"] not in ("http", "flight")]
        jobs = [s for s in layer if s["name"] == "spark.job"]
        run_ms = sum(_ms(j["end"] - j["start"]) for j in jobs)
    else:
        ops = by_name.get("op", [])
        n = max(len(ops), 1)
        builds = by_name.get("queries.build", [])
        sinks = by_name.get("queries.sink", [])
        listener = [s for s in spans if s["name"].startswith("spark.")]
        children = attach_by_time(listener, builds + sinks)
        layer = [s for p in builds + sinks for s in children.get(p["id"], [])]
        jobs = [s for s in layer if s["name"] == "spark.job"]
        for b in builds:
            kids = children.get(b["id"], [])
            m["queries.build_ms"] += _ms(self_time(b, kids))
            for j in (k for k in kids if k["name"] == "spark.job"):
                m["queries.build_jobs"] += 1
                m["queries.build_read_jobs"] += j["attrs"]["read"]
                m["queries.build_tasks"] += j["attrs"]["tasks"]
                m["queries.build_task_ms"] += j["attrs"]["task_ms"]
        owner = {}
        for p in builds + sinks:
            for k in children.get(p["id"], []):
                owner[k["id"]] = p["op"]
        run_ms = 0.0
        for op in ops:
            mine = [(j["start"], j["end"]) for j in jobs if owner.get(j["id"]) == op["id"]]
            run_ms += _ms(union_length(mine))
        written = sum(o["attrs"].get("bytes_written", 0) for o in ops)
        live = sum(o["attrs"].get("live_bytes", 0) for o in ops)
        m["sources.bytes_written"] = written
        m["sources.files_written"] = sum(o["attrs"].get("files_written", 0) for o in ops)
        m["sources.write_amp"] = written / live if live else 0.0

    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.{phase}_ms"] = sum(_ms(s["end"] - s["start"]) for s in layer if s["name"] == f"spark.{phase}")
    m["spark.plans"] = sum(1 for s in layer if s["name"] == "spark.plan")
    m["spark.run_ms"] = run_ms
    m["spark.jobs"] = len(jobs)
    for key in ("stages", "tasks", "task_ms", "input_bytes", "shuffle_bytes", "spill_bytes", "failed_tasks"):
        m[f"spark.{key}"] = sum(j["attrs"][key] for j in jobs)
    tasks = sum(j["attrs"]["tasks"] for j in jobs)
    wait = sum(j["attrs"]["task_wait_ms"] for j in jobs)
    m["jvm.jit_ms"] = raw["loop_jit_ms"]
    m["jvm.gc_ms"] = raw["loop_gc_ms"]

    execs = [s for s in layer if s["name"] == "exec.sql"]
    kids = {}
    for s in layer:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s)
    m["exec.sql_ms"] = sum(_ms(self_time(e, kids.get(e["id"], []))) for e in execs)
    m["exec.sql_calls"] = len(execs)
    records = [s for s in layer if s["name"] == "tables.record"]
    m["tables.record_ms"] = sum(_ms(s["end"] - s["start"]) for s in records)
    m["tables.records"] = len(records)

    # every layer total above is per operation
    for name, _ in PER_LAYER:
        if name.startswith(("queries.", "spark.", "jvm.", "exec.", "tables.")) or name in (
                "sources.bytes_written", "sources.files_written"):
            m[name] /= n
    m["spark.task_wait_ms"] = wait / tasks if tasks else 0.0

    scrapes = [o["ms"] for o in measured if o["kind"] == "scrape"]
    m["tables.metrics_scrape_ms"] = statistics.mean(scrapes) if scrapes else 0.0
    if serve:
        for proto in ("http", "flight"):
            reqs = by_name.get(proto, [])
            top = [s for s in layer if s["tag"] == proto and not s["parent"]]
            if reqs:
                m[f"server.{proto}_self_ms"] = (
                    sum(_ms(r["end"] - r["start"]) for r in reqs)
                    - sum(_ms(s["end"] - s["start"]) for s in top)) / len(reqs)
        flights = [o for o in measured if o["kind"] == "flight"]
        for key in ("info", "ttfb", "doget"):
            vals = [o[f"{key}_ms"] for o in flights if o[f"{key}_ms"] >= 0]
            m[f"server.flight_{key}_ms"] = statistics.mean(vals) if vals else 0.0
        m["server.non_ok"] = sum(1 for o in measured if o["kind"] in ("http", "flight") and not o["ok"])
    return m
