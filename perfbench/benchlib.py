"""Arithmetic over the recorder's JSON-lines records.

Pure functions, no I/O: percentiles and the tail rule, interval unions,
time-window job attribution, failure counting, the family split and the
metric sets `run.py` prints. `test_benchlib.py` pins them.
"""
import math
import statistics

MB = 1024.0 * 1024.0

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
                    "cpu_s": "s", "rss_peak_mb": "MB"}

# Family split: first matching rule wins. Graph queries are named after
# their operator, not a shared prefix, so they are listed by name and come
# before the `dedup_` prefix that `dedup_cc` also carries.
GRAPH_QUERIES = ("pagerank", "dedup_cc")
FAMILIES = (
    ("ops.graph_s", lambda n: n in GRAPH_QUERIES),
    ("ops.dedup_s", lambda n: n.startswith("dedup_")),
    ("ops.ann_s", lambda n: n.startswith("ann_")),
    ("ops.pipeline_s", lambda n: n.startswith("pipeline_")),
    ("ops.text_s", lambda n: n.startswith("text_")),
    ("lake.delta_s", lambda n: "delta" in n),
    ("lake.iceberg_s", lambda n: "iceberg" in n),
    ("lake.hudi_s", lambda n: "hudi" in n),
    ("meta.bloom_s", lambda n: "bloom" in n),
    ("meta.orc_s", lambda n: n.startswith("orc_") or "_orc_" in n),
)
META_PARQUET = "meta.parquet_s"  # every other query of the meta tier
FAMILY_METRICS = tuple(f for f, _ in FAMILIES) + (META_PARQUET,)

PER_LAYER_UNITS = {
    **dict.fromkeys(["graft.build_s", "graft.plan_s", "graft.exec_s"], "s"),
    **dict.fromkeys(["spark.jobs", "spark.stages", "spark.tasks",
                     "spark.jobs_in_build", "spark.jobs_in_exec"], "count"),
    **dict.fromkeys(["spark.job_busy_s", "spark.driver_only_s", "spark.task_cpu_s",
                     "spark.task_run_s", "spark.task_gc_s"], "s"),
    **dict.fromkeys(["spark.input_mb", "spark.shuffle_write_mb",
                     "spark.shuffle_read_mb", "spark.spill_mb"], "MB"),
    "jvm.driver_cpu_s": "s", "jvm.gc_s": "s",
    "io.write_mb": "MB", "io.write_calls": "count", "io.read_mb": "MB",
    "meta.remote_reads": "count", "meta.remote_seeks": "count",
    "stream.triggers": "count", "stream.input_rows": "count",
    **dict.fromkeys(["stream.trigger_p50_ms", "stream.trigger_tail_ms",
                     "stream.add_batch_ms", "stream.wal_commit_ms",
                     "stream.commit_offsets_ms", "stream.query_planning_ms",
                     "stream.latest_offset_ms", "stream.state_commit_ms"], "ms"),
    **dict.fromkeys(FAMILY_METRICS, "s"),
    "trace.overhead_s": "s",
}


def family(name, tier):
    for fam, match in FAMILIES:
        if match(name):
            return fam
    return META_PARQUET if tier == "meta" else None


def select(workload, seconds):
    """The head of a workload's ordered [name, reference seconds, tier]
    list whose reference times fit in `seconds`, at least one query. The
    cut depends on the run length only, never on the seed or the machine."""
    picked, total = [], 0.0
    for name, ref_s, _ in workload["queries"]:
        if picked and total + ref_s > seconds:
            break
        picked.append(name)
        total += ref_s
    return picked


def tail(values, min_beyond=10, min_pct=75):
    """The highest integer percentile (nearest rank) with at least
    `min_beyond` samples ranked above it, as (pct, value, beyond).

    None when even the `min_pct` percentile has fewer than `min_beyond`
    samples above it: the sample is too small to have a tail.
    """
    v = sorted(values)
    n = len(v)
    for pct in range(99, min_pct - 1, -1):
        idx = max(0, math.ceil(pct * n / 100) - 1)
        beyond = n - idx - 1
        if beyond >= min_beyond:
            return pct, v[idx], beyond
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, optionally clipped
    to [lo, hi]. Overlaps count once."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs, queries):
    """Assign each job to the query whose [start_ms, end_ms] window holds
    the job's start, and to the phase that was running then: `build`
    before `build_end_ms`, `plan` before `plan_end_ms`, else `exec`.

    Queries run one at a time, so windows do not overlap and jobs started
    from helper threads (concurrent builders, futures) still land in the
    query that was waiting for them. Returns {job id: (query, phase)};
    a job outside every window maps to (None, None).
    """
    windows = sorted((q["start_ms"], q["end_ms"], q) for q in queries
                     if "end_ms" in q)
    out = {}
    for j in jobs:
        t = j["start_ms"]
        hit = (None, None)
        for s, e, q in windows:
            if s <= t <= e:
                phase = ("build" if t < q["build_end_ms"] else
                         "plan" if t < q["plan_end_ms"] else "exec")
                hit = (q["name"], phase)
                break
        out[j["id"]] = hit
    return out


def failures(names, records, expected, check_digest):
    """Every query of `names` that failed, as {name: reason}.

    A query fails if it has no record (the JVM died or was killed), if it
    threw or timed out, if its row count differs from the expected one, or
    (traced runs) if its digest differs from an expected stable digest.
    """
    by_name = {r["name"]: r for r in records}
    bad = {}
    for n in names:
        r = by_name.get(n)
        exp = expected.get(n, {})
        if r is None:
            bad[n] = "no record"
        elif not r.get("ok"):
            bad[n] = r.get("error") or "failed"
        elif "rows" not in exp:
            bad[n] = "no expected row count"
        elif r["rows"] != exp["rows"]:
            bad[n] = f"rows {r['rows']} != expected {exp['rows']}"
        elif check_digest and exp.get("digest") and r.get("digest") != exp["digest"]:
            bad[n] = f"digest {r.get('digest')} != expected {exp['digest']}"
    return bad


def split(records):
    """Split one recorder output into (queries, region, jobs, progress)."""
    kinds = {"query": [], "region": [], "job": [], "progress": []}
    for r in records:
        kinds.get(r.get("type"), []).append(r)
    region = kinds["region"][0] if kinds["region"] else None
    return kinds["query"], region, kinds["job"], kinds["progress"]


def end_to_end(passes):
    """End-to-end metrics of untraced cold passes over the same queries,
    given as (ready_s, queries, region): each is the median over passes;
    `query_p50_s` and the tail pool every query run of every pass."""
    med = statistics.median
    times = [q["wall_s"] for _, queries, _ in passes for q in queries if q.get("ok")]
    return {
        "setup_s": med(ready for ready, _, _ in passes),
        "wall_s": med(r["wall_s"] for _, _, r in passes),
        "query_p50_s": med(times) if times else 0.0,
        "cpu_s": med(r["cpu_s"] for _, _, r in passes),
        "rss_peak_mb": med(r["vmhwm_kb"] for _, _, r in passes) / 1024.0,
    }, tail(times)


def per_layer(queries, region, jobs, progress, tiers, untraced_wall_s):
    """Per-layer metrics of one traced pass."""
    ok = [q for q in queries if q.get("ok")]
    m = {
        "graft.build_s": sum(q["build_s"] for q in ok),
        "graft.plan_s": sum(q["plan_s"] for q in ok),
        "graft.exec_s": sum(q["exec_s"] for q in ok),
    }
    owner = attribute(jobs, ok)
    phases = [p for _, p in owner.values()]
    busy_s = union_length([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3
    task_cpu_s = sum(j["cpu_ns"] for j in jobs) / 1e9
    m.update({
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.jobs_in_build": phases.count("build"),
        "spark.jobs_in_exec": phases.count("exec"),
        "spark.job_busy_s": busy_s,
        "spark.driver_only_s": region["wall_s"] - busy_s,
        "spark.task_cpu_s": task_cpu_s,
        "spark.task_run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "spark.task_gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "spark.input_mb": sum(j["input_b"] for j in jobs) / MB,
        "spark.shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / MB,
        "spark.shuffle_read_mb": sum(j["shuffle_read_b"] for j in jobs) / MB,
        "spark.spill_mb": sum(j["spill_b"] for j in jobs) / MB,
        "jvm.driver_cpu_s": region["cpu_s"] - task_cpu_s,
        "jvm.gc_s": region["gc_s"],
        "io.write_mb": region["wchar"] / MB,
        "io.write_calls": region["syscw"],
        "io.read_mb": region["rchar"] / MB,
        "meta.remote_reads": sum(q.get("remote_reads", 0) for q in ok),
        "meta.remote_seeks": sum(q.get("remote_seeks", 0) for q in ok),
    })
    trig = [p["ms_triggerExecution"] for p in progress if "ms_triggerExecution" in p]
    t = tail(trig)
    m.update({
        "stream.triggers": len(progress),
        "stream.input_rows": sum(p.get("input_rows", 0) for p in progress),
        "stream.trigger_p50_ms": statistics.median(trig) if trig else 0.0,
        # too few triggers for a tail: the slowest trigger stands in
        "stream.trigger_tail_ms": t[1] if t else (max(trig) if trig else 0.0),
        "stream.add_batch_ms": sum(p.get("ms_addBatch", 0) for p in progress),
        "stream.wal_commit_ms": sum(p.get("ms_walCommit", 0) for p in progress),
        "stream.commit_offsets_ms": sum(p.get("ms_commitOffsets", 0) for p in progress),
        "stream.query_planning_ms": sum(p.get("ms_queryPlanning", 0) for p in progress),
        "stream.latest_offset_ms": sum(p.get("ms_latestOffset", 0) for p in progress),
        "stream.state_commit_ms": sum(p.get("state_commit_ms", 0) for p in progress),
    })
    fam = dict.fromkeys(FAMILY_METRICS, 0.0)
    for q in ok:
        f = family(q["name"], tiers.get(q["name"]))
        if f:
            fam[f] += q["wall_s"]
    m.update(fam)
    m["trace.overhead_s"] = region["wall_s"] - untraced_wall_s
    return m


def driver_only_by_group(queries, jobs, group_of):
    """Per group: (wall_s, driver-only share), where a query's driver-only
    time is its window minus the union of the job intervals inside it."""
    owner = attribute(jobs, queries)
    by_query = {}
    for j in jobs:
        name, _ = owner[j["id"]]
        if name is not None:
            by_query.setdefault(name, []).append((j["start_ms"], j["end_ms"]))
    acc = {}
    for q in queries:
        g = group_of(q["name"])
        if g is None or "end_ms" not in q:
            continue
        window = q["end_ms"] - q["start_ms"]
        busy = union_length(by_query.get(q["name"], []), q["start_ms"], q["end_ms"])
        w, d = acc.get(g, (0, 0))
        acc[g] = (w + window, d + window - busy)
    return {g: (w / 1e3, d / w if w else 0.0) for g, (w, d) in acc.items()}
