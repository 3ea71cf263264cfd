"""The benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
from source with sbt (once per source state, under .bench_build/),
generates the workload's inputs from the seed, runs one JVM on
local[n] (n = min(4, nproc)) with a fresh java.io.tmpdir and
spark.local.dir that are removed afterwards, checks the outputs, and
prints every metric by name with its unit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from the harness's listeners and spans.

It exits non-zero when any output is wrong or the run cannot happen.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_inputs  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"
JVM_TIMEOUT_S = 170
# query tables: fixed scale and generator seed, so the committed result
# digests hold; the run seed permutes the query order instead
TABLES_SF, TABLES_SEED = 0.01, 42
# etl_batch landing zone: 27 locations x 144 ten-minute slots x ETL_DAYS
ETL_DAYS, ETL_LOCATIONS = 6, 27
STREAM_VOLUME, STREAM_PAGES = 1250, 5

WORKLOADS = ("interactive_mix", "iterative_heavy", "etl_batch", "stream")

E2E = {  # name -> unit
    "setup_s": "s",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

# per-layer metric -> unit; every traced run reports all of them (0 where
# the layer does not run in that workload)
LAYERS = {
    "tables.jobs": "count", "tables.ms": "ms",
    "builder.ms": "ms", "builder.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.idle_ms": "ms", "exec.busy_share": "ratio",
    "exec.task_ms": "ms", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.peak_task_mem_mb": "MB", "exec.failed_tasks": "count",
    "pipelines.full_ingest_ms": "ms", "pipelines.full_flatten_ms": "ms", "pipelines.full_recap_ms": "ms",
    "pipelines.catchup_ingest_ms": "ms", "pipelines.catchup_flatten_ms": "ms",
    "pipelines.catchup_recap_ms": "ms",
    "pipelines.kept_ratio": "ratio", "pipelines.fresh_ratio": "ratio",
    "sinks.mb_written": "MB", "sinks.files_written": "count", "sinks.write_amp": "ratio",
    "streaming.ingest_batch_ms": "ms", "streaming.gold_batch_ms": "ms", "streaming.ingest_rows": "count",
    "streaming.dedup_drop_ratio": "ratio", "streaming.state_rows_max": "count",
    "streaming.state_mb_max": "MB",
    "jvm.gc_ms": "ms", "jvm.peak_rss_mb": "MB",
    "query.p90_ms": "ms", "etl.catchup_ms": "ms",
    "self.query_ms": "ms", "self.builder_ms": "ms", "self.exec_ms": "ms", "self.catalyst_ms": "ms",
    "self.job_ms": "ms", "self.stage_ms": "ms", "self.etl_ms": "ms", "self.pipelines_ms": "ms",
    "self.stream_ms": "ms", "self.streaming_ms": "ms",
    "trace.overhead_ms": "ms", "trace.spans": "count",
}
# layer metrics that are maxima or ratios over the run, not per-operation means
LAYER_MAX = {"streaming.state_rows_max", "streaming.state_mb_max", "exec.peak_task_mem_mb"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    """Files whose content defines the built program."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interrupt, and wait until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise
    return p.returncode, out, err


def build():
    """Compile engine + harness once per source state; return the classpath."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(f):
            fail(f"engine source not found ({os.path.relpath(f, ROOT)}); run from a checkout root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building engine and harness with sbt")
    t0 = time.time()
    # sbt's own global state stays inside the build directory
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy')}",
           "compile", "export Runtime/fullClasspath"]
    # every JVM the sbt launcher starts keeps its temp and perf-data files here
    env = dict(os.environ, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    code, out, _ = run_child(cmd, 840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, text=True)
    lines = [ln.strip() for ln in out.splitlines()]
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def tables_dir():
    """The query workloads' tables, generated once per generator version."""
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, f"tables-sf{TABLES_SF}-seed{TABLES_SEED}-{tag}")
    if not os.path.exists(os.path.join(d, "_done")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.write(tmp, TABLES_SF, TABLES_SEED)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


# ---------------------------------------------------------------- run

def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    try:
        code, _, _ = run_child(cmd, JVM_TIMEOUT_S, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                               stdout=sys.stderr, stderr=sys.stderr)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    if code != 0:
        fail(f"benchmark JVM exited with {code}")
    with open(args["out"]) as f:
        return json.load(f)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def e2e_metrics(workload, raw, inputs_meta):
    if workload == "etl_batch":
        rows = (inputs_meta["landed_lines"] + inputs_meta["catchup_lines"]) * raw["ops_done"]
        throughput = rows / (raw["work_ms"] / 1000.0)
    elif workload == "stream":
        throughput = raw["rows"] / (raw["work_ms"] / 1000.0)
    else:
        throughput = len(raw["op_ms"]) / (sum(raw["op_ms"]) / 1000.0)
    return {
        "setup_s": stats.median(raw["setup_s"]),
        "op_p50_ms": stats.median(raw["op_ms"]),
        "throughput_per_s": throughput,
    }


def layer_metrics(workload, raw, spans):
    layers = raw.get("layers", {})
    out = {}
    for name in LAYERS:
        vals = layers.get(name, [])
        out[name] = (max(vals) if name in LAYER_MAX else mean(vals)) if vals else 0.0
    if workload == "interactive_mix":
        out["query.p90_ms"] = stats.p90(raw["op_ms"]) or 0.0
    if workload == "etl_batch":
        out["etl.catchup_ms"] = stats.median(raw["catchup_ms"])
    traced_ops = max(1, len({s["trace"] for s in spans if s["parent"] == 0}))
    for layer, ms in stats.layer_self_times(spans).items():
        key = f"self.{layer}_ms"
        if key in out:
            out[key] = ms / traced_ops
    base = untraced_reference(workload, raw["meta"]["seed"])
    if base is not None:
        out["trace.overhead_ms"] = stats.median(raw["op_ms"]) - stats.median(base["op_ms"])
    out["trace.spans"] = len(spans)
    out["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    return out


def untraced_reference(workload, seed):
    """The untraced result to charge tracing overhead against: the same
    workload and seed if this checkout has run it, else its latest
    untraced run of that workload."""
    results = os.path.join(BUILD, "results")
    same = os.path.join(results, f"{workload}-seed{seed}-trace0.json")
    cands = [same] if os.path.exists(same) else sorted(
        (os.path.join(results, f) for f in os.listdir(results)
         if f.startswith(f"{workload}-seed") and f.endswith("-trace0.json")),
        key=os.path.getmtime)[-1:]
    for c in cands:
        with open(c) as f:
            return json.load(f)
    return None


def info_lines(workload, raw, inputs_meta):
    """The workload's own quantities by name, printed before the result line."""
    lines = []
    ops = raw["op_ms"]
    if workload in ("interactive_mix", "iterative_heavy"):
        lines.append(("query_p50_ms", stats.median(ops), "ms"))
        t = stats.tail_percentile(ops)
        if t:
            lines.append((f"query_p{t[0]:g}_ms", t[1], "ms"))
        lines.append(("queries_per_s", len(ops) / (sum(ops) / 1000.0), "1/s"))
        lines.append(("query_executions", len(ops), "count"))
    elif workload == "etl_batch":
        lines.append(("etl_s", stats.median(ops) / 1000.0, "s"))
        lines.append(("catchup_s", stats.median(raw["catchup_ms"]) / 1000.0, "s"))
        lines.append(("etl_cycles", raw["ops_done"], "count"))
        lines.append(("landed_mb", inputs_meta["landed_bytes"] / 1e6, "MB"))
    else:
        lines.append(("trigger_p50_ms", stats.median(ops), "ms"))
        lines.append(("stream_rows_per_s", raw["rows"] / (raw["work_ms"] / 1000.0), "1/s"))
        lines.append(("triggers", len(ops), "count"))
    lines.append(("peak_rss_mb", raw["peak_rss_mb"], "MB"))
    lines.append(("fail_ratio", raw["failed"] / max(1, raw["attempted"]), "ratio"))
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    load0 = loadavg()
    cp = build()
    data = tables_dir()
    queries = load_json("queries.json") if a.workload in ("interactive_mix", "iterative_heavy") else {}
    run_dir = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    inputs = os.path.join(run_dir, "inputs")
    inputs_meta = {}
    try:
        os.makedirs(inputs)
        if a.workload == "etl_batch":
            inputs_meta = gen_inputs.write(inputs, a.seed, ETL_DAYS, ETL_LOCATIONS)
        out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        raw = run_jvm(cp, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": CORES, "data": data, "inputs": inputs, "work": os.path.join(run_dir, "work"),
            "queries": ",".join(queries.get(a.workload, [])),
            "expected": os.path.join(HERE, "expected", "digests.json"),
            "stream_volume": STREAM_VOLUME, "stream_pages": STREAM_PAGES, "out": out,
        }, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    spans = []
    if a.trace:
        with open(out + ".spans.jsonl") as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
    meta = raw["meta"] = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": os.cpu_count(), "master": f"local[{CORES}]", "jvm": raw.get("jvm"),
            "spark": raw.get("spark"), "git_sha": git_sha(), "source_sha256": source_stamp(),
            "loadavg_before": load0, "loadavg_after": loadavg()}
    metrics = layer_metrics(a.workload, raw, spans) if a.trace else e2e_metrics(a.workload, raw, inputs_meta)
    units = LAYERS if a.trace else E2E
    raw["metrics"] = metrics
    with open(out, "w") as f:
        json.dump(raw, f)

    for reason in raw["failures"]:
        log(f"FAILED: {reason}")
    print("meta " + json.dumps(meta, sort_keys=True))
    for name, value, unit in info_lines(a.workload, raw, inputs_meta):
        print(f"{a.workload} {name} {value:.6g} {unit}")
    for name, value in metrics.items():
        print(f"{a.workload} {name} {value:.6g} {units[name]}")
    correct = raw["failed"] == 0 and raw["attempted"] >= 1
    print(json.dumps({
        "correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
