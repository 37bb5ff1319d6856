"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 24 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with the Scala compiler that ships in Spark's jars
(under .bench_build/) and generates the batch tables (under .bench_data/).
Each run writes its full record, including the environment it ran in, to
.bench_out/; the last line on stdout is the JSON summary. See
perfbench/README.md for the workloads and metrics.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_data  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("batch", "streaming")
JVM_TIMEOUT_S = 160
HEAP = "2g"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "wall_s": "s",
    "latency_geomean_ms": "ms",
    "success_rate": "fraction", "heap_live_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s", "sources.repartitions": "count",
    "ops.build_s": "s",
    "ops.RelationalOps_s": "s", "ops.EventOps_s": "s", "ops.PaymentOps_s": "s",
    "ops.TextOps_s": "s", "ops.FrequencyOps_s": "s",
    "ops.DedupOps_s": "s", "ops.StreamingOps_s": "s",
    "query.bm25_prf_s": "s", "query.bm25_prf_index_s": "s",
    "query.tfidf_top_s": "s", "query.ann_index_incremental_s": "s",
    "functions.minhash_sig_rows_per_s": "rows/s",
    "functions.simhash60_rows_per_s": "rows/s",
    "functions.winnow60_rows_per_s": "rows/s",
    "functions.misra_gries_rows_per_s": "rows/s",
    "plans.extract_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.sink_write_ms": "ms", "streaming.sink_bytes": "bytes",
    "streaming.metrics_publishes": "count", "streaming.metrics_publish_ms": "ms",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.update_ms": "ms",
    "planner.analysis_s": "s", "planner.optimization_s": "s",
    "planner.planning_s": "s", "planner.executions": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.idle_core_s": "s",
    "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "executor.spill_bytes": "bytes",
    "self.op_s": "s", "self.build_s": "s", "self.action_s": "s",
    "self.job_s": "s", "self.stage_s": "s", "self.planner_s": "s",
    "self.drain_s": "s", "self.microbatch_s": "s", "self.sink_s": "s",
    "self.publish_s": "s",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_pct": "%",
}

class BenchError(Exception):
    pass


def spark_jars(root):
    """Spark's jars, which include the Scala compiler: $SPARK_HOME/jars, or
    the `unmanagedBase` directory the project's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BenchError(f"no Spark jars with a Scala compiler in {candidates or 'SPARK_HOME'}; "
                     "set SPARK_HOME")


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, sources, log):
    os.makedirs(out)
    args = os.path.join(out, "..", os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx1g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + ["@" + args], stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BenchError(f"compilation into {out} failed; see {log.name}")


def build(root, jars):
    """Compile graft and the benchmark once per source digest."""
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                             recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not graft or not bench:
        raise BenchError("graft sources (src/main/scala) or benchmark sources "
                         "(perfbench/scala) not found; run from a graft checkout")
    key = digest(graft + bench)
    out = os.path.join(root, ".bench_build", key)
    if os.path.exists(os.path.join(out, "OK")):
        return out, key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "build.log"), "w") as log:
        scalac(jars, None, os.path.join(tmp, "graft"), graft, log)
        scalac(jars, os.path.join(tmp, "graft"), os.path.join(tmp, "bench"), bench, log)
    open(os.path.join(tmp, "OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, key


def clean_env():
    """The JVM's environment: no SPARK_GRAFT_* tuning variables, no JVM
    option injection, UTC. Returns (env, names removed)."""
    drop = [k for k in os.environ if k.startswith("SPARK_GRAFT_") or k in (
        "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS",
        "SPARK_CONF_DIR")]
    env = {k: v for k, v in os.environ.items() if k not in drop}
    env["TZ"] = "UTC"
    return env, sorted(drop)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_steal_s():
    """Time this VM's CPUs waited for the host (the `steal` field of
    /proc/stat), in seconds summed over CPUs; None when not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return (r.stdout.strip() or None) if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(build_dir, jars, args, env, log_path):
    cp = os.pathsep.join([os.path.join(build_dir, "bench"),
                          os.path.join(build_dir, "graft"), f"{jars}/*"])
    work = args[5]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS +
           ["-cp", cp, "perfbench.GraftBench"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; see {log_path}")
    if rc != 0:
        raise BenchError(f"benchmark JVM exited with {rc}; see {log_path}")


def check_batch(record, pinned):
    """Mark each query execution failed when it raised, when its output
    differs from the pinned row count and content hash, or when the same
    query gave different outputs within the run (a determinism defect)."""
    seen = {}
    for p in record["passes"]:
        for o in p["ops"]:
            if not o["error"]:
                seen.setdefault(o["name"], set()).add((o["rows"], o["hash"]))
    defects = []
    for p in record["passes"]:
        for o in p["ops"]:
            want = pinned.get(o["name"])
            if o["error"]:
                o["failure"] = o["error"]
            elif len(seen[o["name"]]) > 1:
                o["failure"] = f"output varies within the run: {sorted(seen[o['name']])}"
            elif want is None:
                o["failure"] = "no pinned output"
            elif [o["rows"], o["hash"]] != want:
                o["failure"] = f"got {o['rows']} rows / {o['hash']}, pinned {want[0]} / {want[1]}"
            else:
                o["failure"] = None
            if o["failure"]:
                defects.append(f"{o['name']} (pass {p['index']}): {o['failure']}")
    return seen, defects


def check_streaming(record):
    defects = []
    for p in record["passes"]:
        for o in p["ops"]:
            o["failure"] = o["error"]
            if o["error"]:
                defects.append(f"{o['name']} (pass {p['index']}): {o['error']}")
    return defects


def end_to_end(record):
    passes = record["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    ops = [o for p in warm for o in p["ops"] if not o["failure"]]
    # an operation's warm executions: a batch query's, or the n-th
    # micro-batch of a dataflow's drains
    floors = {}
    for p in warm:
        seen = {}
        for o in p["ops"]:
            n = seen[o["name"]] = seen.get(o["name"], -1) + 1
            if not o["failure"]:
                floors.setdefault((o["name"], n), []).append(o["ms"])
    floors = {key: min(v) for key, v in floors.items()}
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if o["failure"])
    lat = [o["ms"] for o in ops]
    m = {
        "setup_s": stats.median(record["setup_s"]),
        "first_pass_s": passes[0]["wall_s"],
        # floors, which host interference and JIT warm-up move least: the
        # fastest pass of both drains (streaming), or the sum of each
        # query's fastest execution (batch); the geometric mean of each
        # operation's fastest execution
        "wall_s": (min(p["wall_s"] for p in warm)
                   if record["workload"] == "streaming" else
                   sum(floors.values()) / 1e3),
        "latency_geomean_ms": stats.geomean(floors.values()) if floors else None,
        "success_rate": (attempted - failed) / attempted if attempted else 0.0,
        "heap_live_mb": stats.median(record["heap_mb"]),
    }
    level = stats.tail_level(len(lat))
    extra = {"latency_samples": len(lat),
             "p50_ms": stats.median(lat) if lat else None,
             "tail_level": level,
             "tail_ms": stats.percentile(lat, level) if level else None}
    return m, attempted, failed, extra


def per_layer(record, k):
    passes = record["passes"]
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    n = len(traced)
    out = {name: 0.0 for name in PER_LAYER}

    def mean_of(name):
        return sum(p["layers"].get(name, 0.0) for p in traced) / n

    for name in PER_LAYER:
        if name.startswith(("planner.", "scheduler.", "executor.", "shuffle.",
                            "streaming.", "state.", "plans.")) or name == "sources.repartitions":
            out[name] = mean_of(name)
    # codegen is a cold-pass effect: report the first pass
    out["codegen.compiles"] = passes[0]["layers"].get("codegen.compiles", 0.0)
    out["codegen.compile_ms"] = passes[0]["layers"].get("codegen.compile_ms", 0.0)
    out["sources.scan_s"] = record["setup_layers"].get("sources.scan_s", 0.0)
    ops = [o for p in traced for o in p["ops"]]
    out["ops.build_s"] = sum(o["build_ms"] for o in ops) / 1e3 / n
    for o in ops:
        key = f"ops.{o['family']}_s"
        if key in out:
            out[key] += o["ms"] / 1e3 / n
    xs = [o["ms"] for o in ops if o["name"] == "tfidf_top"]
    if xs:
        out["query.tfidf_top_s"] = stats.median(xs) / 1e3
    for name, v in record["probes"].items():
        out[name] = v
    # idle cores: k cores for the length of every operation, less task time
    busy = sum(p["layers"].get("scheduler.task_s", 0.0) for p in traced) / n
    op_s = sum(o["ms"] for o in ops) / 1e3 / n
    out["scheduler.idle_core_s"] = op_s * k - busy
    spans = record["spans"]
    selfs = stats.self_times(spans)
    warm_ids = {p["index"] for p in traced}
    for s in spans:
        key = f"self.{s['layer']}_s"
        if s["pass"] in warm_ids and key in out:
            out[key] += selfs[s["id"]] / 1e3 / n
    out["trace.wall_s"] = statistics.fmean(p["wall_s"] for p in traced)
    out["trace.untraced_wall_s"] = statistics.fmean(p["wall_s"] for p in untraced)
    out["trace.overhead_pct"] = 100.0 * (out["trace.wall_s"] / out["trace.untraced_wall_s"] - 1)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this run's batch outputs in pinned.json")
    a = ap.parse_args(argv)
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        jars = spark_jars(root)
        build_dir, source_key = build(root, jars)
        data = gen_data.ensure(os.path.join(root, ".bench_data"))
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        work = os.path.join(root, ".bench_work", tag)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        out_dir = os.path.join(root, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        raw = os.path.join(work, "record.json")
        env, removed = clean_env()
        load_before = loadavg()
        steal_before = cpu_steal_s()
        t0 = time.time()
        run_jvm(build_dir, jars,
                [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, work, raw],
                env, os.path.join(out_dir, tag + ".log"))
        elapsed = time.time() - t0
        steal_after = cpu_steal_s()
        with open(raw) as f:
            record = json.load(f)
        shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    pinned_path = os.path.join(here, "pinned.json")
    with open(pinned_path) as f:
        pinned = json.load(f)
    if a.workload == "streaming":
        defects = check_streaming(record)
    else:
        seen, defects = check_batch(record, pinned.get(a.workload, {}))
        if a.pin:
            varying = [q for q, v in seen.items() if len(v) > 1]
            if varying:
                print(f"perfbench: not pinning, outputs vary: {varying}", file=sys.stderr)
                return 2
            pinned[a.workload] = {q: list(next(iter(v))) for q, v in sorted(seen.items())}
            with open(pinned_path, "w") as f:
                json.dump(pinned, f, indent=1, sort_keys=True)
                f.write("\n")
            seen, defects = check_batch(record, pinned[a.workload])

    e2e, attempted, failed, extra = end_to_end(record)
    if a.trace:
        metrics = {n: {"value": v, "unit": PER_LAYER[n]}
                   for n, v in per_layer(record, record["k"]).items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    environment = {
        "nproc": os.cpu_count(), "k": record["k"],
        "load_before": load_before, "load_after": loadavg(),
        "cpu_steal_s": (steal_after - steal_before
                        if steal_before is not None and steal_after is not None else None),
        "git_commit": git_commit(root), "source_digest": source_key,
        "data_key": os.path.basename(data),
        "numpy": gen_data.np.__version__, "pyarrow": gen_data.pa.__version__,
        "seed": a.seed, "java": record["java_version"],
        "spark": record["spark_version"], "heap": HEAP,
        "removed_env": removed, "process_s": elapsed,
    }
    result = {"correct": not defects, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump({"environment": environment, "result": result,
                   "end_to_end": e2e, "latency": extra, "defects": defects,
                   "record": record}, f)

    for d in defects[:20]:
        print(f"defect: {d}")
    print("environment: " + json.dumps(environment, sort_keys=True))
    print(f"latency: {extra['latency_samples']} warm samples, median {extra['p50_ms']} ms; "
          f"highest percentile with 10 samples beyond it: "
          f"{extra['tail_level']} = {extra['tail_ms']} ms")
    for n, m in metrics.items():
        print(f"{n} {m['value']} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
