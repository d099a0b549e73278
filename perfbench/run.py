#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <survey_serve|car_pipeline> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program and the harness from source (once per source state),
generates the workload's inputs from the seed (once per seed and size),
drives the program from outside through its public entry points, checks
every op's output, and prints one JSON object as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer metrics of a
traced run with `--trace 1`. perfbench/README.md defines the workloads
and every metric.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import carcheck  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
HEAP = "1g"  # fixed, so GC and peak RSS compare across commits
DEADLINE_S = 170  # a run must end within 180 s; children are killed past this

# Workload definitions. Both commits of a comparison measure these inputs.

# Short analytical questions from the SURVEY §2 op inventory: scans and
# filters, joins, window ranks, score metrics and TPC-H shapes. Every one
# has a DuckDB oracle.
SURVEY_QUERIES = [
    "s1_scan", "p2_drop", "p4_role_select", "p6_filter_eq", "p8_slice",
    "j1_join_label", "j2_join_sold", "j6_outer_join", "j7_semi_join", "u4_anti_join",
    "w1_rank", "w2_argmax", "w4_lag_delta",
    "a5_mape", "a6_score", "a9_macro_f1",
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q18"]
SURVEY_WARMUP_S = 10
SURVEY_SF = 0.01
# The pass reads 附件2 (n_valid); 附件1 and 附件4 are the inputs of
# `graft.Run second`, which the measured pass leaves out (README).
CAR_SIZE = dict(n_train=5_000, n_valid=1_000, n_txn=2_000)
CAR_STAGES = ["preprocess", "first"]


class Failure(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Budget:
    def __init__(self):
        self.t0 = time.monotonic()

    def left(self):
        return DEADLINE_S - (time.monotonic() - self.t0)


def spawn(cmd, budget, cwd, name):
    """Run `cmd` to completion: (exit code, wall s, peak RSS MB, stdout path).
    The child is killed, and the run fails, when the time budget runs out."""
    out_path = os.path.join(cwd, f"{name}.out")
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    with open(out_path, "wb") as out, open(os.path.join(cwd, f"{name}.err"), "wb") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL)
        try:
            while True:
                pid, status, usage = os.wait4(p.pid, os.WNOHANG)
                if pid == p.pid:
                    p.returncode = os.waitstatus_to_exitcode(status)
                    break
                if budget.left() <= 0:
                    raise Failure(f"{name} exceeded the run's time budget")
                time.sleep(0.02)
        finally:
            if p.returncode is None:
                p.kill()
                p.wait()
    return p.returncode, time.monotonic() - t0, usage.ru_maxrss / 1024.0, out_path


# ---------------------------------------------------------------------------
# Build: the harness project loads the program's own sbt build unchanged.

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]:
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Class path of the program plus the harness, rebuilt when a source changed."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(out, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = json.load(f)
        if cp["stamp"] == stamp:
            return cp["classpath"]
    log("building the program and the harness with sbt")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log_path = os.path.join(out, "sbt.log")
    with open(log_path, "wb") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
                             "export harness/Runtime/fullClasspath"],
                            cwd=os.path.join(HERE, "harness"), env=env, stdout=lf,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=850).returncode
    lines = open(log_path, encoding="utf-8", errors="replace").read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise Failure(f"sbt build failed (rc={rc}); log in {log_path}")
    classpath = [l for l in lines if "scala-2.13" in l and os.pathsep in l
                 and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


# The program's run settings (build.sbt javaOptions), plus a scratch dir
# of the invocation's own for temporary files and Spark's local storage.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java(cp, main, args, tmp, props=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"] +
            list(props) + ["-cp", cp, main] + list(args))


# ---------------------------------------------------------------------------
# Statistics

def quantile(xs, q):
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_metrics(latencies_s):
    """Median and p90 op latency. p90 is the highest percentile that keeps
    ten samples beyond it at the survey_serve sample counts."""
    lat = [1e3 * x for x in latencies_s]
    p90 = quantile(lat, 0.9)
    return {"latency_p50_ms": statistics.median(lat), "latency_p90_ms": p90,
            "samples": len(lat), "beyond_p90": sum(1 for x in lat if x > p90)}


def self_time(span, jobs):
    """Seconds of `span` not covered by any of its child job spans."""
    covered, cur = 0, None
    for s, e in sorted((max(j["start"], span["start"]), min(j["end"], span["end"])) for j in jobs):
        if e <= s:
            continue
        if cur and s <= cur[1]:
            cur[1] = max(cur[1], e)
        else:
            if cur:
                covered += cur[1] - cur[0]
            cur = [s, e]
    if cur:
        covered += cur[1] - cur[0]
    return (span["end"] - span["start"] - covered) / 1e6


# ---------------------------------------------------------------------------
# Per-layer metrics, from the collector's counters of a traced window or pass.

COUNTERS = {
    "sched.jobs": "jobs", "sched.stages": "stages", "sched.tasks": "tasks",
    "sched.task_run_s": "task_run_s", "sched.task_cpu_s": "task_cpu_s",
    "sched.task_deser_s": "task_deser_s", "sched.failed_tasks": "failed_tasks",
    "shuffle.write_bytes": "shuffle_write_bytes", "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.records_written": "shuffle_records_written",
    "shuffle.fetch_wait_s": "shuffle_fetch_wait_s", "shuffle.write_s": "shuffle_write_s",
    "spill.memory_bytes": "spill_memory_bytes", "spill.disk_bytes": "spill_disk_bytes",
    "sources.input_bytes": "input_bytes", "sources.input_rows": "input_rows",
    "output.bytes": "output_bytes", "output.rows": "output_rows",
    "storage.blocks_written": "blocks_written",
    "sql.analysis_s": "analysis_s", "sql.optimization_s": "optimization_s",
    "sql.planning_s": "planning_s",
    "codegen.compiles": "codegen_compiles", "codegen.compile_s": "codegen_compile_s",
    "codegen.source_kb": "codegen_source_kb",
    "jvm.gc_s": "gc_s", "jvm.gc_count": "gc_count", "jvm.jit_s": "jit_s",
}


def layers(counters, units, wall_s, result_rows, jobs):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    m = {k: counters.get(src, 0.0) / units for k, src in COUNTERS.items()}
    m["queries.jobs_per_op"] = jobs
    m["sched.slot_busy_ratio"] = counters.get("task_run_s", 0.0) / (CPUS * wall_s)
    m["sources.rows_per_result"] = counters.get("input_rows", 0.0) / max(result_rows, 1)
    m["storage.cached_bytes_peak"] = counters.get("cached_bytes_peak", 0.0)
    for k in ["queries.build_s", "queries.action_s", "op.self_s", "trace.overhead_pct",
              "jvm.peak_rss_mb"]:
        m[k] = 0.0
    for s in CAR_STAGES:
        m[f"car.{s}_s"] = m[f"op.{s}_s"] = m[f"op.{s}.self_s"] = 0.0
    return m


def merge(a, b):
    out = dict(a)
    for k, v in b.items():
        out[k] = max(out.get(k, 0.0), v) if k == "cached_bytes_peak" else out.get(k, 0.0) + v
    return out


# ---------------------------------------------------------------------------
# survey_serve: many clients asking short questions of one warm JVM.

def survey_serve(cp, args, tmp, budget):
    data = inputs.ensure(os.path.join(WORK, "inputs"), "tables", args.seed, sf=SURVEY_SF)
    out, spans_path = os.path.join(tmp, "serve.json"), os.path.join(tmp, "spans.jsonl")
    cmd = java(cp, "perfbench.Serve",
               ["--dir", data, "--queries", ",".join(SURVEY_QUERIES), "--clients", str(CPUS),
                "--seconds", str(args.seconds), "--warmup", str(SURVEY_WARMUP_S),
                "--seed", str(args.seed),
                "--trace", str(args.trace), "--cpus", str(CPUS),
                "--out", out, "--spans", spans_path], tmp)
    spawned = time.time()
    rc, _, rss, _ = spawn(cmd, budget, tmp, "serve")
    if rc != 0 or not os.path.exists(out):
        raise Failure(f"harness JVM exited with rc={rc}; see {tmp}/serve.err")
    with open(out) as f:
        res = json.load(f)
    for e in res["errors"][:10]:
        log(f"error: {e}")

    # untimed: each query's reference result against the DuckDB oracle
    want = oracle.oracle_digests(data, {n: s for n, s in res["oracle"].items() if n in res["refs"]})
    wrong = {n for n, d in want.items() if res["refs"][n] != d}
    wrong |= set(SURVEY_QUERIES) - set(want)  # failed at set-up, or no oracle
    for n in sorted(wrong):
        log(f"oracle check failed: {n}")
    failed = sum(1 for o in res["ops"] if not o["ok"] or o["name"] in wrong)

    untraced = [o for o in res["ops"] if o["window"] == "untraced"]
    window_s = sum(w["wall_s"] for w in res["windows"] if w["window"] == "untraced")
    qps = len(untraced) / window_s
    e2e = dict(setup_s=res["first_op_epoch_ms"] / 1e3 - spawned - res["digest_s"],
               qps=qps, pipeline_s=len(SURVEY_QUERIES) * CPUS / qps)
    e2e.update(latency_metrics([o["build_s"] + o["action_s"] for o in untraced]))

    per_layer = None
    if args.trace:
        traced = [o for o in res["ops"] if o["window"] == "traced"]
        counters = {}
        for w in res["layers"]:
            counters = merge(counters, w["counters"])
        t_wall = sum(w["wall_s"] for w in res["layers"])
        per_layer = layers(counters, len(traced), t_wall, sum(o["rows"] for o in traced),
                           counters.get("jobs", 0.0) / len(traced))
        per_layer["queries.build_s"] = statistics.mean(o["build_s"] for o in traced)
        per_layer["queries.action_s"] = statistics.mean(o["action_s"] for o in traced)
        spans = [json.loads(l) for l in open(spans_path)]
        children = {}
        for s in spans:
            if s["name"] == "job":
                children.setdefault(s["parent"], []).append(s)
        per_layer["op.self_s"] = statistics.mean(
            self_time(s, children.get(s["id"], [])) for s in spans if s["name"] in SURVEY_QUERIES)
        per_layer["trace.overhead_pct"] = 100.0 * (qps / (len(traced) / t_wall) - 1)
        per_layer["jvm.peak_rss_mb"] = rss
        keep_spans(spans_path, "survey_serve")
    return e2e, per_layer, len(res["ops"]), failed, {"oracle_checked": len(want)}


# ---------------------------------------------------------------------------
# car_pipeline: the paper's preprocess → first DAG, each stage a fresh
# `graft.Run` JVM.

def car_stage(stage, flags, out, traced, cp, budget):
    """One `graft.Run` stage in a fresh JVM. A probe listener marks when its
    SparkContext is up; a traced pass adds the collector."""
    ready = os.path.join(out, f"{stage}.ready")
    listeners = "perfbench.SessionProbe" + (",perfbench.Collector" if traced else "")
    props = [f"-Dperfbench.ready.out={ready}", f"-Dspark.extraListeners={listeners}"]
    if traced:
        props += [f"-Dperfbench.trace.out={out}/{stage}.trace.json",
                  f"-Dperfbench.trace.span={stage}",
                  "-Dspark.sql.queryExecutionListeners=perfbench.QeListener"]
    cmd = java(cp, "graft.Run", [stage] + flags + ["--result-dir", out, "--cpus", str(CPUS)],
               out, props)
    spawned = time.time()
    rc, wall, rss, stdout = spawn(cmd, budget, out, stage)
    setup = float(open(ready).read()) / 1e3 - spawned if os.path.exists(ready) else 0.0
    if rc != 0:
        log(f"{stage} exited with rc={rc}; see {out}/{stage}.err")
    return dict(stage=stage, rc=rc, wall_s=wall, rss_mb=rss, setup_s=setup, stdout=stdout)


def car_pass(data, out, traced, cp, budget):
    """preprocess, then first on its embeddings. Returns the stages run and
    the pass's wall time."""
    valid = os.path.join(data, inputs.CAR_VALID)
    flags = {"preprocess": ["--data", valid, "--n-epochs", "1"],
             "first": ["--data", valid, "--embeddings", out]}
    os.makedirs(out)
    t0 = time.monotonic()
    stages = []
    for st in CAR_STAGES:
        stages.append(car_stage(st, flags[st], out, traced, cp, budget))
        if stages[-1]["rc"] != 0:
            break
    return stages, time.monotonic() - t0


def car_pipeline(cp, args, tmp, budget):
    data = inputs.ensure(os.path.join(WORK, "inputs"), "cars", args.seed, **CAR_SIZE)
    passes = []
    start = time.monotonic()
    # a traced run makes one untraced pass, for the tracing overhead, and one traced
    plan = [False, True] if args.trace else []
    while True:
        traced = plan[len(passes)] if plan else False
        out = os.path.join(tmp, f"pass{len(passes)}")
        stages, wall = car_pass(data, out, traced, cp, budget)
        problems = carcheck.check(out, data, stages)  # untimed
        for p in problems:
            log(f"car check failed: {p}")
        passes.append(dict(traced=traced, dir=out, stages=stages, problems=problems, wall_s=wall))
        if len(passes) == len(plan) or (not plan and (
                time.monotonic() - start >= args.seconds or budget.left() < 1.5 * wall + 10)):
            break

    untraced = [p for p in passes if not p["traced"]]
    pipeline_s = statistics.median(p["wall_s"] for p in untraced)
    e2e = dict(setup_s=statistics.median(sum(s["setup_s"] for s in p["stages"]) for p in untraced),
               qps=sum(len(p["stages"]) for p in untraced) / sum(p["wall_s"] for p in untraced),
               pipeline_s=pipeline_s)
    e2e.update(latency_metrics([s["wall_s"] for p in untraced for s in p["stages"]]))
    attempted = len(CAR_STAGES) * len(passes)
    failed = sum(len(CAR_STAGES) for p in passes if p["problems"])

    per_layer = None
    if args.trace:
        tp = passes[-1]
        counters, spans, jobs, selfs = {}, [], 0, {}
        for s in tp["stages"]:
            t = json.load(open(os.path.join(tp["dir"], f"{s['stage']}.trace.json")))
            counters = merge(counters, t["counters"])
            counters = merge(counters, t["process"])
            counters = merge(counters, {"cached_bytes_peak": t["cached_bytes_peak"]})
            app = dict(id=s["stage"], parent="pass", name=s["stage"], **t["app_span"])
            stage_jobs = [j for j in t["spans"] if j["name"] == "job"]
            jobs += len(stage_jobs)
            selfs[s["stage"]] = ((app["end"] - app["start"]) / 1e6, self_time(app, stage_jobs))
            spans += [app] + t["spans"]
        per_layer = layers(counters, 1, tp["wall_s"], counters.get("output_rows", 0.0),
                           jobs / len(CAR_STAGES))
        for s in tp["stages"]:
            per_layer[f"car.{s['stage']}_s"] = s["wall_s"]
            per_layer[f"op.{s['stage']}_s"], per_layer[f"op.{s['stage']}.self_s"] = selfs[s["stage"]]
        per_layer["op.self_s"] = sum(x[1] for x in selfs.values())
        per_layer["jvm.peak_rss_mb"] = max(s["rss_mb"] for s in tp["stages"])
        per_layer["trace.overhead_pct"] = 100.0 * (tp["wall_s"] / pipeline_s - 1)
        path = os.path.join(tp["dir"], "spans.jsonl")
        with open(path, "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        keep_spans(path, "car_pipeline")
    return e2e, per_layer, attempted, failed, {"passes": len(passes)}


# ---------------------------------------------------------------------------

E2E_UNITS = {"setup_s": "s", "qps": "1/s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
             "pipeline_s": "s"}


def layer_unit(name):
    for suffix, unit in [("_s", "s"), ("bytes", "bytes"), ("bytes_peak", "bytes"), ("_kb", "KiB"), ("_mb", "MB"),
                         ("_pct", "%"), ("_ratio", "ratio"), ("_per_result", "ratio")]:
        if name.endswith(suffix):
            return unit
    return "count"


def keep_spans(path, workload):
    """Spans outlive the run's scratch dir: the last traced run's are kept."""
    dest = os.path.join(WORK, "spans", f"{workload}.jsonl")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.copy(path, dest)
    log(f"spans written to {dest}")


def fresh_tmp():
    """A scratch dir of this invocation's own (java.io.tmpdir, spark.local.dir,
    outputs). Dirs left by invocations whose process is gone are removed
    first, so fixtures from a killed run never reach a later one."""
    base = os.path.join(WORK, "tmp")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        try:
            os.kill(int(d.split("-")[0]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        except PermissionError:
            pass
    tmp = os.path.join(base, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    return tmp


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=["survey_serve", "car_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for f in ["build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")]:
        if not os.path.exists(os.path.join(ROOT, f)):
            log(f"the program's sources are missing ({f}); nothing to measure")
            return 2
    tmp = fresh_tmp()
    try:
        cp = build()
        workload = survey_serve if args.workload == "survey_serve" else car_pipeline
        e2e, per_layer, attempted, failed, notes = workload(cp, args, tmp, Budget())
    except Failure as e:
        log(f"failed: {e}")
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"[{args.workload}] " + " ".join(f"{k}={e2e[k]:.4g} {u}" for k, u in E2E_UNITS.items())
          + f" error_rate={failed / attempted:.4g} (failed {failed} of {attempted} ops)"
          + f" latency samples={e2e['samples']} beyond_p90={e2e['beyond_p90']} {json.dumps(notes)}")
    if per_layer is not None:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(per_layer.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
