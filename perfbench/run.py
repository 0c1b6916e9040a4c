#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/harness); later runs reuse the build while the
sources are unchanged. Inputs are generated from the seed (gen.py) or
read from the sf0.1 extract in perfbench/fixture/, one JVM runs the workload's operations back to back (harness/), and DuckDB
checks every operation's output (oracle.py). The last line of standard
output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with `--trace 1` the per-layer
ones). Any wrong output or failed operation makes the exit code 1.

Workloads and metrics are listed in BENCHMARK.json; perfbench/LEDGER.md
says why each workload exists and what the first traced runs showed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Input sizes. The graph files follow the paper's smallest sweep point
# (100k edges). The corpus is 10 copies of a seeded subsample of the
# fixture documents: the full 10x replica (50k documents) does not fit
# the run budget. The driver-loop queries read the fixture tables as they
# are (gen.FIXTURE).
EDGES = 100_000
CORPUS_DOCS, CORPUS_COPIES = 2_000, 10
KEEP_INPUT_SETS = 24

# (kind, name, input set, table scanned). The warm-up runs a workload's
# operations in this order, the timed passes in a seed-shuffled one.
WORKLOADS = {
    "executor_work": [
        ("triangles", "powerlaw", "edges", "edges"),
        ("triangles", "uniform", "edges", "edges"),
        ("query", "d01_exact_dedup", "corpus", "documents"),
        ("query", "d02_minhash_lsh", "corpus", "documents"),
        ("query", "t17_gopher_repetition", "corpus", "documents")],
    "driver_loops": [
        ("query", "g20_skew_components", "tables", "lineitem"),
        ("query", "d32_band_versioned_lifecycle", "tables", "documents")],
}

JDK_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
             "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
             "sun.nio.cs sun.security.action sun.util.calendar").split()

RUN_DEADLINE_S = 170  # a run must end within 180 s once built


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


_children = []


def _kill_children(*_):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def _on_signal(signum, _frame):
    _kill_children()
    sys.exit(128 + signum)


def run_waited(cmd, timeout, what, **kw):
    """Run `cmd` in its own process group (sbt starts a JVM child). On
    timeout, or when this process is told to stop, kill the whole group
    and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_children()
        fail(f"{what} exceeded {timeout:.0f} s", 1)


# ---- build -----------------------------------------------------------------

def _source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the stamp shows they are current."""
    digest = _source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    if (os.path.exists(stamp) and open(stamp).read() == digest
            and os.path.exists(os.path.join(CLASSES, "perfbench", "Harness.class"))):
        return 0.0
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        code = run_waited(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "Compile / products"],
                          600, "the build (see .perfbench/build.log)",
                          cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT)
    if code != 0:
        fail("build failed; see .perfbench/build.log", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return time.time() - t0


# ---- inputs ------------------------------------------------------------------

def input_set(name, seed):
    """Generate (or reuse) one seeded input set; returns its directory."""
    if name == "tables":
        return gen.FIXTURE
    base = os.path.join(WORK, "inputs")
    d = os.path.join(base, f"{name}-{seed}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if name == "edges":
            for shape in ("powerlaw", "uniform"):
                gen.edge_file(os.path.join(d, f"{shape}.txt"), seed, EDGES, shape)
        else:
            gen.scaled_documents(d, seed, CORPUS_DOCS, CORPUS_COPIES)
        open(os.path.join(d, ".done"), "w").close()
        sets = sorted((os.path.getmtime(os.path.join(base, s)), s) for s in os.listdir(base))
        for _, s in sets[:-KEEP_INPUT_SETS]:
            shutil.rmtree(os.path.join(base, s), ignore_errors=True)
    return d


def spec_lines(workload, seed):
    """(kind, name, input path, table) per operation of the workload."""
    lines = []
    for kind, name, inp, table in WORKLOADS[workload]:
        d = input_set(inp, seed)
        lines.append((kind, name, os.path.join(d, f"{name}.txt") if kind == "triangles" else d,
                      table))
    return lines


def input_bytes(kind, path, table):
    p = path if kind == "triangles" else os.path.join(path, f"{table}.parquet")
    return os.path.getsize(p)


def stored_ratios(execs, spec):
    """Artifact bytes after each execution that left some / its input's bytes."""
    return [e["live_bytes"] / input_bytes(*(spec[e["op"]][i] for i in (0, 2, 3)))
            for e in execs if e["live_bytes"] > 0]


# ---- one JVM run -------------------------------------------------------------

def run_harness(spec, seconds, trace, cores, seed, run_dir, timeout):
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    spec_path = os.path.join(run_dir, "spec.tsv")
    with open(spec_path, "w") as f:
        f.writelines("\t".join(l) + "\n" for l in spec)
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           # the heap limit of the repository's own build (build.sbt). With it
           # alone, peak RSS followed G1's heap sizing, which depends on pause
           # timing (27% spread over ten runs); with the heap and the young
           # generation fixed, RSS grows as the old generation fills
           ["-Xms8g", "-Xmx8g", "-Xmn768m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{os.path.join(spark_home, 'jars', '*')}",
            "perfbench.Harness", spec_path, os.path.join(run_dir, "out"),
            str(seconds), str(trace), str(cores), str(seed)])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        code = run_waited(cmd, timeout, f"the harness JVM (see {run_dir}/jvm.log)",
                          cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
    result = os.path.join(run_dir, "out", "result.json")
    if code != 0 or not os.path.exists(result):
        fail(f"harness JVM exited {code}; see {run_dir}/jvm.log", 1)
    with open(result) as f:
        return json.load(f)


# ---- checks and metrics --------------------------------------------------------

def cpu_steal():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def check_ops(res, spec, run_dir):
    """Per operation: '' when its reference output matches DuckDB."""
    import oracle  # needs tools/check_oracle.py, checked for in main()
    orc = oracle.Oracle(os.path.join(WORK, "cache"))
    verdicts = []
    for op, (kind, name, path, _) in zip(res["ops"], spec):
        ref = op["reference"]
        if ref.startswith("error"):
            verdicts.append(ref)
        elif kind == "triangles":
            verdicts.append(oracle.check_triangles(orc, path, ref))
        elif not op["sql"]:
            verdicts.append(f"{name} has no oracle SQL")
        else:
            verdicts.append(oracle.check_query(
                orc, path, op["sql"], os.path.join(run_dir, "out", "ref", f"op{op['idx']}")))
    return verdicts


def per_pass(execs, field):
    sums = {}
    for e in execs:
        sums[e["pass"]] = sums.get(e["pass"], 0.0) + float(e.get(field, 0.0))
    return statistics.median(sums.values())


def layer_metrics(res, spec, cores):
    execs = res["execs"]
    walls = res["pass_wall_s"]
    util = statistics.median(
        sum(float(e["executor_run_s"]) for e in execs if e["pass"] == p) / (w * cores)
        for p, w in enumerate(walls))
    probes, pstats = res["probes"], res.get("probe_stats", {})
    first = {}
    for i, (kind, _, path, table) in enumerate(spec):
        first.setdefault((path, table), i)
    scan_keys = [f"sources.scan.op{first[(path, table)]}" for _, _, path, table in spec]
    last = {}
    for e in execs:
        last[e["op"]] = e
    ratios = stored_ratios(execs, spec)
    m = {
        "session.build_s": (res["session_build_s"], "s"),
        "sources.scan_s": (sum(probes.get(k, 0.0) for k in scan_keys), "s"),
        "sources.scan_tasks": (sum(pstats.get(k, {}).get("tasks", 0) for k in scan_keys) / 3, "count"),
        "sources.input_bytes": (per_pass(execs, "input_bytes"), "bytes"),
        "sources.output_bytes": (per_pass(execs, "output_bytes"), "bytes"),
        "sources.live_files": (sum(e["live_files"] for e in last.values()), "count"),
        "sources.live_bytes": (sum(e["live_bytes"] for e in last.values()), "bytes"),
        "sources.stored_bytes_per_input_byte": (statistics.median(ratios) if ratios else 0.0, "ratio"),
        "operators.construct_s": (per_pass(execs, "construct_s"), "s"),
        "operators.construct_jobs": (per_pass(execs, "construct_jobs"), "count"),
        "plans.plan_s": (per_pass(execs, "plan_s"), "s"),
        "plans.exchanges": (per_pass(execs, "exchanges"), "count"),
        "plans.joins": (per_pass(execs, "joins"), "count"),
        "plans.broadcasts": (per_pass(execs, "broadcasts"), "count"),
        "functions.tokens_s": (probes.get("functions.tokens", 0.0), "s"),
        "functions.minhash_s": (probes.get("functions.minhash", 0.0), "s"),
        "spark.jobs": (per_pass(execs, "jobs"), "count"),
        "spark.stages": (per_pass(execs, "stages"), "count"),
        "spark.tasks": (per_pass(execs, "tasks"), "count"),
        "spark.driver_gap_s": (per_pass(execs, "driver_gap_s"), "s"),
        "spark.exec_s": (per_pass(execs, "exec_s"), "s"),
        "spark.executor_run_s": (per_pass(execs, "executor_run_s"), "s"),
        "spark.executor_cpu_s": (per_pass(execs, "executor_cpu_s"), "s"),
        "spark.gc_s": (per_pass(execs, "gc_s"), "s"),
        "spark.utilisation": (util, "ratio"),
        "spark.shuffle_read_bytes": (per_pass(execs, "shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (per_pass(execs, "shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (per_pass(execs, "spill_bytes"), "bytes"),
        "spark.fetch_wait_s": (per_pass(execs, "fetch_wait_s"), "s"),
        "spark.result_bytes": (per_pass(execs, "result_bytes"), "bytes"),
        "spark.task_failures": (per_pass(execs, "task_failures"), "count"),
        "trace.wall_s": (statistics.median(walls), "s"),
    }
    return m


def main():
    ap = argparse.ArgumentParser(description="graft closed-loop benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        fail("engine sources (src/main/scala/graft) or tools/check_oracle.py not found "
             "next to perfbench/; run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    build_s = build()
    t0 = time.time()
    cores = len(os.sched_getaffinity(0))
    spec = spec_lines(a.workload, a.seed)
    run_dir = os.path.join(WORK, "run", a.workload)
    steal0, total0 = cpu_steal()
    t1 = time.time()
    res = run_harness(spec, a.seconds, a.trace, cores, a.seed, run_dir,
                      RUN_DEADLINE_S - (t1 - t0))
    t2 = time.time()
    steal1, total1 = cpu_steal()
    verdicts = check_ops(res, spec, run_dir)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    execs = res["execs"]
    bad = [e for e in execs if not (e["ok"] and not verdicts[e["op"]])]
    lat = [e["latency_s"] for e in execs]
    walls = res["pass_wall_s"]
    # Each operation's median latency, then their geometric mean: a median
    # over the pooled samples of a mixed workload jumps between operations.
    op_p50 = [statistics.median(e["latency_s"] for e in execs if e["op"] == i)
              for i in range(len(spec))]
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_geomean_s": (statistics.geometric_mean(op_p50), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    artifact_ratios = stored_ratios(execs, spec)

    # ---- human-readable report (everything above the last line) --------------
    ctx = dict(res["context"], seed=a.seed, workload=a.workload, build_s=round(build_s, 1),
               cpu_steal_share=round((steal1 - steal0) / max(1, total1 - total0), 4),
               phase_s={"inputs": round(t1 - t0, 2), "jvm": round(t2 - t1, 2),
                        "check": round(time.time() - t2, 2)},
               inputs={os.path.basename(p if k == "triangles" else os.path.join(p, t + ".parquet")):
                       input_bytes(k, p, t) for k, _, p, t in spec})
    print(f"context {json.dumps(ctx, sort_keys=True)}")
    for i, ((kind, name, _, _), v) in enumerate(zip(spec, verdicts)):
        mine = [e for e in execs if e["op"] == i]
        shape = (mine[0]["exchanges"], mine[0]["joins"], mine[0]["broadcasts"]) if mine else None
        lats = sorted(e["latency_s"] for e in mine)
        print(f"op {i} {name}: {'ok' if not v else 'WRONG ' + v}; "
              f"median {statistics.median(lats) if lats else float('nan'):.3f} s of {len(lats)}; "
              f"plan shape (exchanges, joins, broadcasts) {shape}; rows {res['ops'][i]['rows']}")
        for e in mine:
            if e["error"]:
                print(f"  pass {e['pass']} error: {e['error']}")
    n = {"setup_s": "1", "wall_s": f"{len(walls)} passes",
         "op_p50_geomean_s": f"{len(spec)} operations x {len(walls)} passes", "peak_rss_mb": "1"}
    for k, (v, u) in e2e.items():
        print(f"metric {k} = {v:.4f} {u} (n={n[k]})")
    print(f"metric op_p50_s = {statistics.median(lat):.4f} s (median of all {len(lat)} samples)")
    if len(lat) >= 11:
        v = sorted(lat)[len(lat) - 11]
        print(f"metric op_tail_s = {v:.4f} s (p{100 * (len(lat) - 10) // len(lat)} of {len(lat)})")
    else:
        print(f"metric op_tail_s: no percentile has ten samples beyond it in {len(lat)}; "
              f"max {max(lat):.4f} s")
    print(f"metric fail_ratio = {len(bad) / max(1, len(execs)):.4f} ({len(bad)} of {len(execs)})")
    if artifact_ratios:
        print(f"metric stored_bytes_per_input_byte = {statistics.median(artifact_ratios):.4f} "
              f"(median of {len(artifact_ratios)})")
    metrics = e2e
    if a.trace:
        metrics = layer_metrics(res, spec, cores)
        for k, (v, u) in metrics.items():
            print(f"layer {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": not bad and all(not v for v in verdicts),
        "attempted": len(execs),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if not bad and all(not v for v in verdicts) else 1)


if __name__ == "__main__":
    main()
