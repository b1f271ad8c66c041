#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 perfbench/run.py --workload sql-serial --seed 1 --seconds 8 --trace 0

Run from the repository root. It compiles the engine (src/main/scala) and
the benchmark JVM (perfbench/src) with the Scala compiler shipped in the
Spark distribution, runs the workload over the committed sf0.01 fixtures in
one JVM and prints, as the last line of stdout, one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). Everything it writes goes
under the build directory ($CARGO_TARGET_DIR, default .bench_build); the
full record of a run is kept there under artifacts/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.json")
MAX_CORES = 4
HEAP = "2g"
PASS_S = 4  # nominal length of one measured pass; --seconds buys round(seconds / PASS_S)
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against
    (its `unmanagedBase`). It must hold the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase jars directory")
        jars = m.group(1)
    if not os.path.isdir(jars) or not any(j.startswith("scala-compiler") for j in os.listdir(jars)):
        raise BenchError(f"no Spark distribution with scala-compiler under {jars}")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files, log):
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BenchError(f"scalac failed ({r.returncode}); see {log.name}")


def cached_compile(jars, out, classpath, files):
    """Compile `files` into `out` unless an earlier build left it there."""
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(build_dir(), "logs"), exist_ok=True)
    with open(os.path.join(build_dir(), "logs", "build.log"), "a") as log:
        scalac(jars, classpath, tmp, files, log)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build(jars):
    """Compile the engine into build/engine-<hash> and the benchmark into
    build/bench-<hash>, reusing earlier builds of the same sources. The
    benchmark's key covers the engine too, since it compiles against it."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise BenchError(f"engine sources not found at {engine_src}")
    engine = sources(engine_src)
    bench = sources(os.path.join(HERE, "src"))
    if not engine or not bench:
        raise BenchError("no Scala sources to build")
    bd = build_dir()
    engine_out = cached_compile(jars, os.path.join(bd, "engine-" + tree_hash(engine)),
                                None, engine)
    bench_out = cached_compile(jars, os.path.join(bd, "bench-" + tree_hash(engine + bench)),
                               engine_out, bench)
    return engine_out, bench_out


def java_cmd(classes, jars, work):
    """The heap is fixed and touched up front, so peak RSS does not depend
    on how far the collector happened to grow it (a growable heap made peak
    RSS differ by 20% between seeds): what moves it is memory outside the
    heap (code cache, metaspace, threads, direct buffers). Heap use is the
    per-layer heap.peak_after_gc_mb."""
    engine, bench = classes
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([bench, engine, os.path.join(jars, "*")])
    return (["java"] + opens +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "perfbench.Main"])


def run_jvm(cmd, opts, log_path, timeout=JVM_TIMEOUT_S):
    """Run the JVM to completion; on timeout, error or a signal to this
    process the JVM is killed and reaped before returning."""
    args = cmd + [a for k, v in opts.items() for a in (f"--{k}", str(v))]
    with open(log_path, "w") as log:
        p = subprocess.Popen(args, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM timed out after {timeout}s; see {log_path}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise BenchError(f"JVM exited {rc}; see {log_path}")


def judge(raw, expected):
    """Compare every execution's digest with the expected one. Returns
    (attempted, failed, warmup_failed, details)."""
    def bad(e):
        if e["error"] is not None:
            return e["error"]
        want = expected.get(e["query"])
        if want is None:
            return "no expected digest"
        if e["rows"] != want["rows"] or e["hash"] != want["hash"]:
            return f"digest {e['rows']}/{e['hash']} != expected {want['rows']}/{want['hash']}"
        return None
    measured = [e for p in raw["passes"] for e in p["execs"]]
    failures = [(e["query"], e["pass"], bad(e)) for e in raw["warmup"] + measured if bad(e)]
    warm_failed = sum(1 for e in raw["warmup"] if bad(e))
    return len(measured), sum(1 for e in measured if bad(e)), warm_failed, failures


def end_to_end(raw):
    passes = raw["passes"]
    lat = [e["latency_s"] for p in passes for e in p["execs"] if e["error"] is None]
    n = sum(len(p["execs"]) for p in passes)
    wall = sum(p["wall_s"] for p in passes)
    if not lat:
        raise BenchError("no successful execution")
    p90 = stats.percentile(lat, 0.9)
    return {
        "queries_per_s": (n / wall, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "setup_s": (raw["setup"]["setup_s"], "s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
    }, {"samples": len(lat), "latency_p90_s": p90 if stats.tail_ok(lat, 0.9) else None,
        "beyond_p90": stats.beyond(lat, 0.9)}


def per_layer(raw, modules, cores):
    """Per-layer metrics from the traced passes, as seconds (or counts) per
    query execution, so that the time metrics of the query's own phases
    add up to its mean latency."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    execs = [e for p in traced for e in p["execs"] if e["error"] is None]
    ids = {e["id"] for e in execs}
    spans = [s for s in raw["spans"] if s[0] in ids]
    n = max(1, len(execs))
    selfs = stats.self_times(spans)
    module_of = {e["id"]: e["module"] for e in execs}
    m = {}
    for mod in modules:
        m[f"{mod}.construct_s"] = (sum(
            (s[4] - s[3]) / 1e9 for s in spans
            if s[1] == "construct" and module_of[s[0]] == mod) / n, "s")

    def total(phase, field):
        return sum(e["layers"].get(phase, {}).get(field, 0) for e in execs)

    def both(field):
        return total("construct", field) + total("exec", field)

    exec_wall = selfs.get("execute", 0) + selfs.get("action", 0)
    m.update({
        "session.build_s": (raw["setup"]["session_build_s"], "s"),
        "Tables.load_s": (raw["setup"]["tables_load_s"], "s"),
        "Tables.scan_mb": (both("input_b") / 2**20 / n, "MB"),
        "Tables.scan_rows": (both("input_rows") / n, "count"),
        "construct.jobs": (total("construct", "jobs") / n, "count"),
        "construct.write_mb": (total("construct", "output_b") / 2**20 / n, "MB"),
        "catalyst.optimize_s": (selfs.get("optimize", 0) / n, "s"),
        "catalyst.plan_s": (selfs.get("plan", 0) / n, "s"),
        "scheduler.jobs": (both("jobs") / n, "count"),
        "scheduler.stages": (both("stages") / n, "count"),
        "scheduler.tasks": (both("tasks") / n, "count"),
        "scheduler.job_wall_s": (both("job_wall_ms") / 1e3 / n, "s"),
        "exec.s": (exec_wall / n, "s"),
        "exec.task_run_s": (total("exec", "task_run_ms") / 1e3 / n, "s"),
        "exec.task_cpu_s": (total("exec", "task_cpu_ns") / 1e9 / n, "s"),
        "exec.gc_s": (both("gc_ms") / 1e3 / n, "s"),
        "exec.deserialize_s": (both("deser_ms") / 1e3 / n, "s"),
        "exec.parallelism": (stats.parallelism(total("exec", "task_run_ms") / 1e3,
                                               exec_wall, cores), "ratio"),
        "shuffle.write_mb": (both("shuffle_write_b") / 2**20 / n, "MB"),
        "shuffle.read_mb": (both("shuffle_read_b") / 2**20 / n, "MB"),
        "shuffle.fetch_wait_s": (both("fetch_wait_ms") / 1e3 / n, "s"),
        "shuffle.spill_mb": (both("spill_b") / 2**20 / n, "MB"),
        "stage.new_digest_dirs": (raw["stage"]["new_digest_dirs"], "count"),
        "heap.peak_after_gc_mb": (raw["heap_peak_after_gc_b"] / 2**20, "MB"),
    })
    tw = sum(p["wall_s"] for p in traced) / max(1, len(traced))
    uw = sum(p["wall_s"] for p in untraced) / max(1, len(untraced))
    m["trace.overhead"] = (tw / uw - 1 if untraced and traced else 0.0, "ratio")
    for k, v in raw["kernels"].items():
        m["kernels." + k] = (v, "ns/row" if k.endswith("ns_per_row") else "ratio")
    return m


def _terminate(signum, _frame):
    raise BenchError(f"stopped by signal {signum}")


def main(argv):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    workloads = load_workloads()
    if a.workload not in workloads["workloads"]:
        raise BenchError(f"unknown workload {a.workload}")
    queries = workloads["workloads"][a.workload]
    modules = workloads["modules"]
    jars = spark_jars()
    classes = build(jars)
    with open(EXPECTED) as f:
        expected = json.load(f)

    bd = build_dir()
    work = os.path.join(bd, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    os.makedirs(os.path.join(bd, "artifacts"), exist_ok=True)
    raw_path = os.path.join(bd, "artifacts", tag + ".raw.json")
    n = cores()
    run_jvm(java_cmd(classes, jars, work), {
        "mode": "run", "workload": a.workload, "seed": a.seed,
        "passes": max(1, round(a.seconds / PASS_S)),
        "trace": a.trace, "data": FIXTURES, "cores": n,
        "queries": ",".join(f"{q}:{modules[q]}" for q in queries),
        "work": work, "stage": os.path.join(bd, "stage"), "out": raw_path,
    }, os.path.join(bd, "logs", tag + ".log"))
    with open(raw_path) as f:
        raw = json.load(f)

    attempted, failed, warm_failed, failures = judge(raw, expected)
    e2e, tail = end_to_end(raw)
    layer_modules = sorted(set(modules.values()))
    metrics = e2e if a.trace == 0 else per_layer(raw, layer_modules, n)
    result = {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(bd, "artifacts", tag + ".json"), "w") as f:
        json.dump({"result": result, "error_rate": failed / attempted, "tail": tail,
                   "failures": failures[:50],
                   "setup": raw["setup"], "stage": raw["stage"],
                   "passes": [{"pass": p["pass"], "traced": p["traced"], "wall_s": p["wall_s"],
                               "n": len(p["execs"])} for p in raw["passes"]],
                   "raw": os.path.relpath(raw_path, ROOT)}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
