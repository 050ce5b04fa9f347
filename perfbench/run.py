#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload fixpoint --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --trace 1

Run it from the repository root (any directory inside a checkout works). The
first run compiles the engine and the harness into `.bench_build/`; later
runs reuse that build while the sources are unchanged.

Each workload runs in fresh JVMs (`local[nproc]`, heap sized as the tier-1
tests size it, every SPARK_GRAFT_* knob at its default): one that only builds
a session, then one that builds a session, runs one cold pass over the
workload's queries and then warm passes for `--seconds`. One client runs
queries in a closed loop; the seed permutes the query order inside each pass.
Every result is collected and its digest compared with
`perfbench/digests.json`. See perfbench/README.md.

The human-readable report goes to stdout; the last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = HERE / "src" / "main" / "scala"
WORKLOADS = json.loads((HERE / "workloads.json").read_text())["workloads"]
DIGESTS_FILE = HERE / "digests.json"

# Hard stops: a measuring invocation must end within 180 s; the first run in
# a checkout also builds and gets a separate limit for that.
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 600

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(list(ENGINE_SRC.rglob("*.scala")) + list(HARNESS_SRC.rglob("*.scala"))
                   + [HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the stamp says it is current.
    Returns the runtime classpath."""
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "wb") as f:
        code = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT, start_new_session=True),
            time.monotonic() + BUILD_DEADLINE_S, "sbt build")
    out = log.read_text(errors="replace")
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise BenchError("sbt build failed")
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines:
        raise BenchError("sbt printed no classpath")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def heap():
    """Tier-1's heap rule: half of physical memory in GiB, clamped to [2, 8]."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


# ---------------------------------------------------------------- JVM runs

def wait_group(proc, deadline, what):
    """Waits for a child started in its own session. On timeout, or if this
    process is interrupted or terminated, kills the child's whole process
    group and waits for it, so no process outlives the run."""
    try:
        return proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise BenchError(f"{what} exceeded its deadline")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def jvm(cp, work, args, deadline):
    """Runs one harness JVM in `work` and returns its records."""
    out = work / f"records-{time.monotonic_ns()}.jsonl"
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_LOCAL_DIRS=str(work / "local"), GRAFT_REPO_DIR=str(ROOT))
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap()}", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
              "--out", str(out), "--launch-ms", str(time.time() * 1000)] + args)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "ab") as log:
        code = wait_group(subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.DEVNULL,
                                           stderr=log, start_new_session=True), deadline, "harness JVM")
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise BenchError(f"harness JVM exited with {code}:\n{tail}")
    return [json.loads(l) for l in out.read_text().splitlines() if l]


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples above it: (value, pct, n)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def wall_ms(e):
    return e["collect_end_ms"] - e["start_ms"]


def pass_s(p):
    return (p["end_ms"] - p["start_ms"]) / 1000


def of_kind(recs, kind):
    return [r for r in recs if r["kind"] == kind]


def end_to_end(recs):
    """End-to-end metrics from untraced passes. Returns (metrics, notes); the
    notes carry every sample behind a median, so drift between passes shows."""
    setups = [(s["ready_ms"] - s["launch_ms"]) / 1000 for s in of_kind(recs, "setup")]
    passes = of_kind(recs, "pass")
    cold = [pass_s(p) for p in passes if p["pass"] == 0]
    warm = [pass_s(p) for p in passes if p["pass"] > 0 and not p["traced"]]
    lat = [wall_ms(e) / 1000 for e in of_kind(recs, "exec")
           if e["pass"] > 0 and not e["traced"] and not e["error"]]
    rss = [e["vmhwm_kb"] / 1024 for e in of_kind(recs, "end")]
    t, pct, n = tail(lat)
    m = {"setup_s": median(setups), "cold_pass_s": median(cold), "warm_pass_s": median(warm),
         "query_p50_s": median(lat), "query_tail_s": t, "peak_rss_mb": median(rss)}
    r3 = lambda xs: [round(x, 3) for x in xs]
    notes = {"setup_s": r3(setups), "cold_pass_s": r3(cold), "warm_pass_s": r3(warm),
             "query_p50_s": f"n={len(lat)}", "query_tail_s": f"p{pct:.1f} of n={n}",
             "peak_rss_mb": r3(rss)}
    return m, notes


# A span's self time goes to one layer. Driver-side self time of the build,
# plan and execute phases is split further: the codegen compile time measured
# in that phase goes to `codegen`, the rest to the phase's own layer. What is
# left in `execute` (driver work inside collect() with no job running and no
# compile, e.g. adaptive re-planning) and the query span's own gaps are
# reported as `unattributed`.
LAYER_OF = {"query": "unattributed", "queries.build": "queries.build", "catalyst.plan": "catalyst.plan",
            "execute": "unattributed", "result": "result", "job": "scheduler", "stage.wait": "scheduler",
            "stage.run": "executor", "streaming.batch": "streaming"}
SELF_LAYERS = ["queries.build", "catalyst.plan", "codegen", "scheduler", "executor", "streaming",
               "result", "unattributed"]
CODEGEN_PHASE = {"queries.build": "codegen_build", "catalyst.plan": "codegen_plan", "execute": "codegen_collect"}


def index_jobs(recs):
    """{job id: merged start/end record} and {stage id: first job listing it}."""
    jobs = {}
    for r in of_kind(recs, "job"):
        jobs.setdefault(r["job"], {}).update(r)
    stage_job = {}
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        for s in j.get("stages", []):
            stage_job.setdefault(s, j["job"])
    return {k: j for k, j in jobs.items() if "start_ms" in j and "end_ms" in j}, stage_job


def build_spans(e, jobs_by_group, stages_by_job, batches):
    """Span tree of one traced query execution: query -> queries.build /
    catalyst.plan / execute / result -> jobs (micro-batches sit under
    queries.build, their jobs under them) -> stages. Children are clipped to
    their parent. Each span: dict(id, parent, name, start, end, depth)."""
    spans = []

    def add(name, parent, start, end, depth, **kw):
        spans.append(dict(id=len(spans), parent=parent, name=name, start=start, end=end, depth=depth, **kw))
        return len(spans) - 1

    def add_job(j, parent, depth, lo, hi):
        a, b = max(j["start_ms"], lo), min(j["end_ms"], hi)
        if b <= a:
            return
        jid = add("job", parent, a, b, depth, job=j["job"])
        for s in stages_by_job.get(j["job"], []):
            sa, sb = max(s["submitted_ms"], a), min(s["completed_ms"], b)
            sl = min(max(s["first_launch_ms"], sa), sb)
            if sl > sa:
                add("stage.wait", jid, sa, sl, depth + 1, stage=s["stage"])
            if sb > sl:
                add("stage.run", jid, sl, sb, depth + 1, stage=s["stage"])

    ex = e["exec"]
    q = add("query", None, e["start_ms"], e["collect_end_ms"], 0, query=e["query"])
    bld = add("queries.build", q, e["start_ms"], e["build_end_ms"], 1)
    for j in jobs_by_group.get(f"{ex}:build", []):
        add_job(j, bld, 2, e["start_ms"], e["build_end_ms"])
    for b in batches:
        bs = max(b["start_ms"], e["start_ms"])
        be = min(b["start_ms"] + b["trigger_ms"], e["build_end_ms"])
        if be > bs:
            bid = add("streaming.batch", bld, bs, be, 2, batch=b["batch"])
            for j in jobs_by_group.get(b["run"], []):
                if bs <= j["start_ms"] < be:
                    add_job(j, bid, 3, bs, be)
    add("catalyst.plan", q, e["build_end_ms"], e["plan_end_ms"], 1)
    xj = jobs_by_group.get(f"{ex}:execute", [])
    x_end = max([e["plan_end_ms"]] + [min(j["end_ms"], e["collect_end_ms"]) for j in xj])
    x = add("execute", q, e["plan_end_ms"], x_end, 1)
    for j in xj:
        add_job(j, x, 2, e["plan_end_ms"], x_end)
    add("result", q, x_end, e["collect_end_ms"], 1)
    return spans


def self_times(e, spans):
    """Partitions the query's wall time among the deepest active spans (an
    interval shared by overlapping siblings is split equally), then moves each
    phase's measured compile time out of its driver-side self time into
    `codegen`. Returns {layer: ms}; the values sum to the query's wall."""
    pts = sorted({p for s in spans for p in (s["start"], s["end"])})
    own = [0.0] * len(spans)
    for a, b in zip(pts, pts[1:]):
        active = [s for s in spans if s["start"] <= a and s["end"] >= b]
        deepest = max(s["depth"] for s in active)
        top = [s for s in active if s["depth"] == deepest]
        for s in top:
            own[s["id"]] += (b - a) / len(top)
    out = dict.fromkeys(SELF_LAYERS, 0.0)
    for s in spans:
        t = own[s["id"]]
        if s["name"] in CODEGEN_PHASE:
            cg = min(t, e[CODEGEN_PHASE[s["name"]]][1] / 1e6)
            out["codegen"] += cg
            t -= cg
        out[LAYER_OF[s["name"]]] += t
    return out


def per_layer(recs):
    """Per-layer metrics of each traced pass (summed over its executions).
    Returns ({(jvm, pass): {metric: value}}, {exec: spans})."""
    jobs, stage_job = index_jobs(recs)
    run_exec = {r["run"]: r["exec"] for r in of_kind(recs, "stream_run")}

    def owner(group):
        if group in run_exec:
            return run_exec[group]
        return group.rsplit(":", 1)[0] if group.startswith("pb-") else None

    jobs_of, jobs_by_group, stages_by_job, stages_of, batches_of = {}, {}, {}, {}, {}
    for j in jobs.values():
        jobs_by_group.setdefault(j.get("group", ""), []).append(j)
        jobs_of.setdefault(owner(j.get("group", "")), []).append(j)
    for s in of_kind(recs, "stage"):
        j = jobs.get(stage_job.get(s["stage"]))
        if j:
            stages_by_job.setdefault(j["job"], []).append(s)
            stages_of.setdefault(owner(j.get("group", "")), []).append(s)
    for b in of_kind(recs, "batch"):
        batches_of.setdefault(run_exec.get(b["run"]), []).append(b)

    trees, per_pass = {}, {}
    for e in of_kind(recs, "exec"):
        if not e["traced"] or e["error"]:
            continue
        ex = e["exec"]
        js, ss, bs = jobs_of.get(ex, []), stages_of.get(ex, []), batches_of.get(ex, [])
        ivs = [(j["start_ms"], j["end_ms"]) for j in js]
        busy = union_ms(ivs, e["start_ms"], e["collect_end_ms"])
        cg = [e["codegen_build"], e["codegen_plan"], e["codegen_collect"]]
        final_state = {}
        for b in sorted(bs, key=lambda b: b["batch"]):
            final_state[b["run"]] = b["state_rows"]
        m = {
            "queries.build_s": (e["build_end_ms"] - e["start_ms"]) / 1000,
            "queries.build_jobs": len(jobs_by_group.get(f"{ex}:build", [])),
            "catalyst.analysis_ms": e["catalyst_ms"].get("analysis", 0),
            "catalyst.optimization_ms": e["catalyst_ms"].get("optimization", 0),
            "catalyst.planning_ms": e["catalyst_ms"].get("planning", 0),
            "codegen.compiles": sum(c[0] for c in cg),
            "codegen.compile_ms": sum(c[1] for c in cg) / 1e6,
            "scheduler.jobs": len(js),
            "scheduler.stages": len(ss),
            "scheduler.tasks": sum(s["tasks"] for s in ss),
            "scheduler.launch_wait_ms": sum(max(0, s["first_launch_ms"] - s["submitted_ms"]) for s in ss),
            "scheduler.driver_gap_s": (wall_ms(e) - busy) / 1000,
            "executor.run_s": sum(s["run_ms"] for s in ss) / 1000,
            "executor.cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
            "executor.deser_s": sum(s["deser_ms"] for s in ss) / 1000,
            "executor.gc_s": sum(s["gc_ms"] for s in ss) / 1000,
            "executor.tasks_failed": sum(s["failed_tasks"] for s in ss),
            "shuffle.write_mb": sum(s["shuffle_write_b"] for s in ss) / 2**20,
            "shuffle.read_mb": sum(s["shuffle_read_b"] for s in ss) / 2**20,
            "shuffle.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in ss),
            "shuffle.spill_mb": sum(s["spill_b"] for s in ss) / 2**20,
            "sources.input_mb": sum(s["input_b"] for s in ss) / 2**20,
            "ops.staged_write_mb": sum(s["output_b"] for s in ss) / 2**20,
            "result.rows": e["rows"],
            "result.collect_s": (e["collect_end_ms"] - e["plan_end_ms"]
                                 - union_ms(ivs, e["plan_end_ms"], e["collect_end_ms"])) / 1000,
            "streaming.batches": len(bs),
            "streaming.trigger_ms": sum(b["trigger_ms"] for b in bs),
            "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in bs),
            "streaming.query_planning_ms": sum(b["planning_ms"] for b in bs),
            "streaming.wal_commit_ms": sum(b["wal_ms"] for b in bs),
            "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in bs),
            "streaming.state_rows": sum(final_state.values()),
            "job_busy_s": busy / 1000,
            "wall_s": wall_ms(e) / 1000,
        }
        trees[ex] = build_spans(e, jobs_by_group, stages_by_job, bs)
        for k, v in self_times(e, trees[ex]).items():
            m[f"self.{k}_s"] = v / 1000
        acc = per_pass.setdefault((e["jvm"], e["pass"]), {})
        for k, v in m.items():
            acc[k] = acc.get(k, 0) + v
    for acc in per_pass.values():
        acc["executor.parallelism"] = acc["executor.run_s"] / acc["job_busy_s"] if acc["job_busy_s"] else 0.0
        acc["layers.sum_error_ms"] = abs(sum(acc[f"self.{k}_s"] for k in SELF_LAYERS) - acc["wall_s"]) * 1000
        acc["layers.unattributed_frac"] = acc["self.unattributed_s"] / acc["wall_s"]
    return per_pass, trees


# ---------------------------------------------------------------- main

def workload_queries(name):
    if name not in WORKLOADS:
        raise BenchError(f"unknown workload {name!r}; known: {', '.join(WORKLOADS)}")
    return WORKLOADS[name]["queries"]


# Passes of a traced run that have the listeners attached, and the untraced
# warm passes they are compared with for the tracing overhead.
TRACED_PASSES = (0, 2, 5)
UNTRACED_CONTROL = (3, 4)


def run_workload(name, seed, seconds, trace, cp, deadline):
    """One setup-only JVM, then one JVM that runs the cold and warm passes.
    Both give a `setup_s` sample. A traced run attaches the listeners for the
    cold pass and warm passes 2 and 5; warm passes 3 and 4 run untraced, so
    the traced/untraced ratio cancels linear drift, and pass 1 is left out of
    that ratio because it still warms up."""
    queries = workload_queries(name)
    work = BUILD / f"work-{os.getpid()}-{name}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    common = ["--data", str(data_dir()), "--cores", str(cores())]
    last = str(max(TRACED_PASSES))
    passes = (["--min-warm", last, "--max-warm", last, "--traced", ",".join(map(str, TRACED_PASSES))] if trace
              else ["--min-warm", "2", "--max-warm", "8"])
    try:
        recs = jvm(cp, work, common + ["--setup-only", "--jvm", "0"], deadline)
        recs += jvm(cp, work, common + ["--queries", ",".join(queries), "--seed", str(seed), "--jvm", "1",
                                        "--seconds", str(seconds)] + passes, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return recs


def check_results(recs):
    digests = json.loads(DIGESTS_FILE.read_text())
    execs = of_kind(recs, "exec")
    failures = []
    for e in execs:
        want = digests.get(e["query"])
        if e["error"]:
            failures.append(f"{e['query']} (pass {e['pass']}): {e['error']}")
        elif want != e["digest"]:
            failures.append(f"{e['query']} (pass {e['pass']}): digest {e['digest']} != expected {want}")
    return len(execs), failures


def data_dir():
    return Path(os.environ.get("GRAFT_BENCH_DATA", Path.home() / "testdata" / "sf0.1"))


def preflight():
    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").exists():
        raise BenchError(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if not (data_dir() / "lineitem.parquet").exists():
        raise BenchError(f"sf0.1 test data not found at {data_dir()} (set GRAFT_BENCH_DATA)")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, help="workload name, comma list, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0, help="warm measuring time per run; at least 2 warm passes run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # Turn SIGTERM into an exception, so wait_group's cleanup kills the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    try:
        preflight()
        names = list(WORKLOADS) if a.workload == "all" else a.workload.split(",")
        for n in names:
            workload_queries(n)
        cp = build()
        results = []
        for n in names:
            deadline = time.monotonic() + RUN_DEADLINE_S
            recs = run_workload(n, a.seed, a.seconds, bool(a.trace), cp, deadline)
            results.append(report(n, recs, bool(a.trace), a.seed))
    except (BenchError, subprocess.SubprocessError, OSError) as err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 2
    for line in results:
        print(json.dumps(line))
    print(f"# total {time.monotonic() - start:.1f} s", file=sys.stderr)
    return 0


def unit_of(name):
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"), ("_frac", "fraction")):
        if name.endswith(suffix):
            return u
    return "ratio" if name == "executor.parallelism" else "count"


def report(name, recs, trace, seed):
    """Prints the human-readable report and returns the JSON result."""
    attempted, failures = check_results(recs)
    print(f"== workload {name}: {', '.join(workload_queries(name))}")
    for f in failures:
        print(f"   FAILED {f}")
    print(f"   failed_frac     {len(failures) / attempted:.4f} fraction ({len(failures)} of {attempted} executions)")
    correct = not failures
    cold_order = [e["query"] for e in of_kind(recs, "exec") if e["pass"] == 0]
    print(f"   cold pass order: {', '.join(cold_order)}")
    if not trace:
        metrics, notes = end_to_end(recs)
        for k, v in metrics.items():
            print(f"   {k:<15} {v:10.4f} {unit_of(k):<3} {notes[k]}")
    else:
        per_pass, trees = per_layer(recs)
        warm = [v for (_, p), v in sorted(per_pass.items()) if p > 0]
        cold = [v for (_, p), v in per_pass.items() if p == 0]
        metrics = {k: median([v[k] for v in warm]) for k in warm[0]} if warm else {}
        metrics["core.session_s"] = median([(s["ready_ms"] - s["session_start_ms"]) / 1000
                                            for s in of_kind(recs, "setup")])
        by_pass = {p["pass"]: pass_s(p) for p in of_kind(recs, "pass")}
        metrics["trace.overhead_ratio"] = (sum(by_pass[p] for p in TRACED_PASSES[1:])
                                           / sum(by_pass[p] for p in UNTRACED_CONTROL))
        sum_error = max(v["layers.sum_error_ms"] for v in per_pass.values())
        correct = correct and sum_error < 1.0
        print(f"   layer-sum check: self times + unattributed = wall within {sum_error:.2e} ms "
              f"in every traced pass ({'ok' if sum_error < 1.0 else 'FAILED'})")
        print("   pass times (s): " + ", ".join(
            f"{p}{'*' if p in TRACED_PASSES else ''}={t:.3f}" for p, t in sorted(by_pass.items()))
              + f"   (* traced; overhead = passes {TRACED_PASSES[1:]} / passes {UNTRACED_CONTROL})")
        print(f"   {'metric':<30} {'warm':>12} {'cold':>12}  unit      traced warm passes")
        for k in sorted(metrics):
            c = f"{cold[0][k]:12.4f}" if cold and k in cold[0] else f"{'-':>12}"
            print(f"   {k:<30} {metrics[k]:12.4f} {c}  {unit_of(k):<9} {[round(v[k], 4) for v in warm if k in v]}")
        spans_dir = BUILD / "spans"
        spans_dir.mkdir(parents=True, exist_ok=True)
        (spans_dir / f"{name}-seed{seed}.json").write_text(json.dumps(trees))
        print(f"   spans: {(spans_dir / f'{name}-seed{seed}.json').relative_to(ROOT)}")
    listed = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in metrics]
    if missing:
        raise BenchError(f"metrics listed in BENCHMARK.json but not measured: {', '.join(missing)}")
    return {"correct": correct, "attempted": attempted, "failed": len(failures),
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in listed}}


if __name__ == "__main__":
    sys.exit(main())
