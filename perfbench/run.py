#!/usr/bin/env python3
"""Benchmark of graft's query inventory, one workload per invocation.

    python3 perfbench/run.py --workload meta_scan --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first invocation builds graft
and the recorder (`perfbench/build.sbt`) and writes the input tables
(`gen_data.py`) under `.bench_build/`; later invocations reuse both while
the sources are unchanged.

Each workload is a fixed, ordered list of queries (`workloads.json`). A run
takes the head of that list whose reference times fit in `--seconds`, and
runs it in a seed-fixed order as one closed-loop client in a cold JVM
under Bench's protocol. `--trace 0` prints the end-to-end metrics of that
pass, with set-up timed over three cold JVMs. `--trace 1` runs one
untraced and one traced pass and prints the per-layer metrics of the
traced one. Every query's row count is checked against `expected.json`; a
traced run checks result digests too. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`.

    python3 perfbench/run.py --census [--out FILE]

runs the whole inventory traced in one JVM, sorted by name as Bench runs
it, and prints the job census and driver-only shares (see NOTES.md).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import benchlib  # noqa: E402

ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
SF_DIR = BUILD / "data" / "sf0.1"
CLASSPATH = BUILD / "classpath.txt"
INVENTORY = BUILD / "inventory.json"
RUNS = BUILD / "runs"

RUN_LIMIT_S = 165       # one invocation, after the build, ends within this
JVM_MARGIN_S = 30       # of a pass's share of that, kept for JVM start and stop
QUERY_TIMEOUT_S = 45    # one query, then its jobs are cancelled
PASSES = 3              # cold passes per untraced run; each metric is their median

# Module opens Spark needs on JDK 17 outside spark-submit; graft's own
# build.sbt passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# Build and inputs
# --------------------------------------------------------------------------

def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def ensure_build():
    """Compile graft and the recorder with sbt; cache the classpath."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               ROOT / "src" / "main", BENCH / "build.sbt",
               BENCH / "project" / "build.properties", BENCH / "src"]
    missing = [str(p.relative_to(ROOT)) for p in sources if not p.exists()]
    if missing:
        fail(f"not a graft checkout, missing: {', '.join(missing)}")
    stamp = tree_hash(sources)
    if CLASSPATH.exists() and INVENTORY.exists():
        lines = CLASSPATH.read_text().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building graft and the recorder with sbt")
    with open(BUILD / "build.log", "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, stdout=out, limit_s=850)
    text = (BUILD / "build.log").read_text()
    cps = [l for l in text.splitlines() if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write(text[-3000:])
        fail(f"build failed (sbt exit {rc}), log in {BUILD / 'build.log'}")
    cp = cps[-1].strip()
    if run_bounded(java_cmd(cp, ["--list", str(INVENTORY)]), cwd=BUILD, limit_s=120) != 0:
        fail("could not list the query inventory")
    CLASSPATH.write_text(f"{stamp}\n{cp}\n")
    return cp


def ensure_data():
    """Write the input tables once per checkout and generator version."""
    stamp_file = SF_DIR / ".stamp"
    stamp = tree_hash([BENCH / "gen_data.py"])
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    shutil.rmtree(SF_DIR, ignore_errors=True)
    log("writing input tables")
    rc = run_bounded([sys.executable, str(BENCH / "gen_data.py"), str(SF_DIR)],
                     cwd=BUILD, limit_s=300)
    if rc != 0:
        fail("input generation failed")
    stamp_file.write_text(stamp)


_CHILDREN = set()


def spawn(cmd, **kw):
    """Start a child in its own process group, tracked so that a
    terminating signal to this process stops it too."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _CHILDREN.add(p)
    return p


def kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()
    _CHILDREN.discard(p)


def on_signal(signum, _frame):
    for p in list(_CHILDREN):
        kill(p)
    sys.exit(128 + signum)


def run_bounded(cmd, cwd, limit_s, env=None, stdout=subprocess.DEVNULL):
    p = spawn(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        rc = -1
    kill(p)
    return rc


# --------------------------------------------------------------------------
# One cold JVM
# --------------------------------------------------------------------------

def driver_mem():
    """Half of RAM, clamped to 2..8 GiB: the test suite's driver heap."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(cp, args, tmp=None):
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xmx{driver_mem()}"]
    if tmp:
        opts.append(f"-Djava.io.tmpdir={tmp}")
    return [shutil.which("java") or "java", *opts, "-cp", cp, "perfbench.Runner", *args]


_ISOLATE = None


def can_isolate():
    """Whether a private mount namespace can put /tmp under the checkout
    (the inventory writes fixed /tmp paths). Not when the checkout itself
    lives under /tmp, which the bind mount would hide."""
    global _ISOLATE
    if _ISOLATE is None:
        under_tmp = ROOT == Path("/tmp") or Path("/tmp") in ROOT.parents
        _ISOLATE = (not under_tmp and shutil.which("unshare") is not None and
                    run_bounded(["unshare", "-m", "--propagation", "private", "--",
                                 "sh", "-c", 'mount --bind "$0" "$0"', str(BUILD)],
                                cwd=ROOT, limit_s=10) == 0)
        if not _ISOLATE:
            log("no private mount namespace: fixtures under /tmp are removed after each JVM")
    return _ISOLATE


def sweep_runs():
    """Remove run dirs left by an invocation that was killed."""
    for d in RUNS.glob("*-*"):
        pid = int(d.name.split("-")[0])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)


def cold_jvm(cp, args, limit_s):
    """Run the recorder in a fresh JVM with fresh scratch, fixture and
    warehouse dirs, all removed afterwards. Returns (ready_s, records, rc):
    ready_s is the time from launch to the end of warmup, None if the JVM
    never got there."""
    RUNS.mkdir(parents=True, exist_ok=True)
    run_dir = Path(os.path.realpath(RUNS)) / f"{os.getpid()}-{time.monotonic_ns()}"
    tmp = run_dir / "tmp"
    for d in ("tmp", "local", "warehouse"):
        (run_dir / d).mkdir(parents=True)
    out = run_dir / "records.jsonl"
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=str(run_dir / "local"),
               SPARK_GRAFT_WAREHOUSE=str(run_dir / "warehouse"))
    env.pop("SPARK_GRAFT_SCRATCH", None)
    cmd = java_cmd(cp, [*args, "--out", str(out)], tmp=tmp)
    isolate = can_isolate()
    if isolate:
        cmd = ["unshare", "-m", "--propagation", "private", "--", "sh", "-c",
               'mount --bind "$0" /tmp && exec "$@"', str(tmp), *cmd]
    else:
        tmp_before = set(os.listdir("/tmp"))
    ready = []
    t0 = time.monotonic()
    with open(run_dir / "jvm.log", "w") as err:
        p = spawn(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                  stderr=err, text=True)

        def watch():
            for line in p.stdout:
                if line.strip() == "PERFBENCH_READY" and not ready:
                    ready.append(time.monotonic() - t0)
        reader = threading.Thread(target=watch, daemon=True)
        reader.start()
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            log(f"JVM over its {limit_s:.0f} s limit, killed")
            rc = -9
        kill(p)  # also reaps anything the JVM left in its process group
        reader.join(timeout=5)
    records = []
    if out.exists():
        for line in out.read_text().splitlines():
            try:
                records.append(json.loads(line))
            except json.JSONDecodeError:
                pass  # a line cut short by a kill
    if rc != 0:
        log(f"JVM exit {rc}; log tail:\n" + (run_dir / "jvm.log").read_text()[-2000:])
    shutil.rmtree(run_dir, ignore_errors=True)
    if not isolate:
        for name in set(os.listdir("/tmp")) - tmp_before:
            path = Path("/tmp") / name
            if path.is_dir() and not path.is_symlink():
                shutil.rmtree(path, ignore_errors=True)
            else:
                path.unlink(missing_ok=True)
    return (ready[0] if ready else None), records, rc


def common_args(names, trace, deadline_s, query_timeout_s=QUERY_TIMEOUT_S):
    return ["--sf", str(SF_DIR), "--cpus", str(len(os.sched_getaffinity(0))),
            "--queries", ",".join(names), "--trace", "1" if trace else "0",
            "--query-timeout-s", str(query_timeout_s),
            "--deadline-s", f"{max(1.0, deadline_s):.1f}"]


def pass_(cp, names, trace, until):
    """One pass over `names`, ending by the monotonic time `until`."""
    left = until - time.monotonic()
    ready, records, _ = cold_jvm(cp, common_args(names, trace, left - JVM_MARGIN_S),
                                 max(10.0, left))
    return ready, records


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------

def load_json(name):
    with open(BENCH / name) as f:
        return json.load(f)


def ambient():
    cached = -1.0
    try:
        with open("/proc/meminfo") as f:
            cached = next(int(l.split()[1]) for l in f if l.startswith("Cached:")) / 1024.0
    except (OSError, StopIteration):
        pass
    return os.getloadavg()[0], cached


def tier_of():
    tiers = json.loads(INVENTORY.read_text())
    return {n: t for t, names in tiers.items() for n in names}


def run_workload(args):
    cp = ensure_build()
    ensure_data()
    sweep_runs()
    workloads = load_json("workloads.json")
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(workloads)}")
    expected = load_json("expected.json")
    tiers = tier_of()
    head = benchlib.select(workloads[args.workload], args.seconds / PASSES)
    rng = random.Random(args.seed)
    if args.trace:
        orders = [rng.sample(head, len(head))] * 2  # untraced, then traced
    else:
        orders = [rng.sample(head, len(head)) for _ in range(PASSES)]

    start = time.monotonic()
    load0, cached0 = ambient()
    passes, bad = [], {}
    for i, order in enumerate(orders):
        traced = bool(args.trace) and i == len(orders) - 1
        ready, records = pass_(cp, order, traced,
                               start + RUN_LIMIT_S * (i + 1) / len(orders))
        queries, region, jobs, progress = benchlib.split(records)
        bad.update({f"{n} (pass {i + 1})": r for n, r in
                    benchlib.failures(order, queries, expected, traced).items()})
        if ready is None or region is None:
            for reason in bad.values():
                log(reason)
            fail(f"pass {i + 1} did not finish")
        passes.append((ready, queries, region, jobs, progress))
    load1, cached1 = ambient()
    attempted = sum(len(o) for o in orders)

    if args.trace:
        _, queries, region, jobs, progress = passes[-1]
        metrics = benchlib.per_layer(queries, region, jobs, progress, tiers,
                                     passes[0][2]["wall_s"])
        units, qtail = benchlib.PER_LAYER_UNITS, None
    else:
        metrics, qtail = benchlib.end_to_end([p[:3] for p in passes])
        units = benchlib.END_TO_END_UNITS
    error_rate = len(bad) / attempted

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "ambient": {"nproc": len(os.sched_getaffinity(0)), "load_start": load0,
                    "load_end": load1, "cached_mb_start": cached0,
                    "cached_mb_end": cached1, "isolated_tmp": can_isolate()},
        "passes": [{"setup_s": ready, "wall_s": region["wall_s"],
                    "rss_mb": region["vmhwm_kb"] / 1024.0,
                    "per_query_s": {q["name"]: q.get("wall_s") for q in queries}}
                   for ready, queries, region, _, _ in passes],
        "failures": bad, "error_rate": error_rate, "query_tail": qtail,
        "metrics": metrics,
    }
    for name, value in metrics.items():
        print(f"{name:28s} {value:14.4f} {units[name]}")
    print(f"{'error_rate':28s} {error_rate:14.4f} ratio ({len(bad)} failed of {attempted})")
    if not args.trace:
        if qtail:
            pct, value, beyond = qtail
            print(f"{'query_tail_s':28s} {value:14.4f} s (p{pct}, {beyond} of "
                  f"{attempted} query runs beyond)")
        else:
            print(f"{'query_tail_s':28s} {'omitted':>14s} ({attempted} query runs: "
                  "too few for a tail)")
    for name, reason in sorted(bad.items()):
        print(f"FAILED {name}: {reason}")
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


# --------------------------------------------------------------------------
# Census: the whole inventory, traced, in one JVM
# --------------------------------------------------------------------------

def census_group(name, tier):
    if name.startswith("stream_"):
        return "stream"
    if tier == "lake":
        for fmt in ("delta", "iceberg", "hudi"):
            if fmt in name:
                return fmt
        return "lake_other"
    return tier


def run_census(args):
    cp = ensure_build()
    ensure_data()
    sweep_runs()
    tiers = tier_of()
    names = sorted(tiers)
    _, records, rc = cold_jvm(cp, common_args(names, True, 3600, 300), 4000)
    queries, region, jobs, _ = benchlib.split(records)
    owner = benchlib.attribute(jobs, [q for q in queries if q.get("ok")])
    per_query_jobs = {}
    for j in jobs:
        q, _ = owner[j["id"]]
        per_query_jobs[q] = per_query_jobs.get(q, 0) + 1
    shares = benchlib.driver_only_by_group(
        [q for q in queries if q.get("ok")], jobs,
        lambda n: census_group(n, tiers.get(n)))
    busy = benchlib.union_length([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3
    summary = {
        "queries": len(queries), "ok": sum(1 for q in queries if q.get("ok")),
        "wall_s": region and region["wall_s"],
        "jobs": len(jobs), "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "driver_only_share": region and 1 - busy / region["wall_s"],
        "by_group": {g: {"wall_s": w, "driver_only_share": s}
                     for g, (w, s) in sorted(shares.items())},
        "most_jobs": sorted(((n, c) for n, c in per_query_jobs.items() if n),
                            key=lambda x: -x[1])[:8],
    }
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "queries": {
                q["name"]: {k: q.get(k) for k in ("ok", "rows", "digest", "wall_s",
                                                    "build_s", "error")}
                for q in queries}, "jobs_per_query": per_query_jobs}, f, indent=1,
                sort_keys=True)
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--census", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if args.census:
        sys.exit(run_census(args))
    if not args.workload:
        fail("--workload is required")
    run_workload(args)


if __name__ == "__main__":
    main()
