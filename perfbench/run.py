#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from source (sbt, ``perfbench/build.sbt``); later runs reuse the
build while no source changed. Inputs are generated from ``--seed`` into
``perfbench/.work`` (see ``gen.py``). The harness (``perfbench.Main``) sets
up, runs one untimed warm-up pass on the inputs of another seed, then whole
timed passes for ``--seconds``; set-up is also timed in a separate
short-lived process, and ``setup_s`` is the median. This script then checks
every op's output against DuckDB, outside any timed region, and
prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See ``perfbench/NOTES.md`` for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import check  # noqa: E402

WORKLOADS = ["stream_monitors", "etl_ingest"]
MODULES = ["sources", "clean", "transform", "etl", "query", "operators", "functions",
           "streaming", "multimodal"]
MAX_PASSES = 40
STREAM_TABLE_SETS = 2    # table sets a stream_monitors pass runs every monitor on
SETUP_PROBES = 1         # extra set-ups timed per run; setup_s is the median
WARMUP_SEED_OFFSET = 7_777_777
ETL_WARMUP_CUSTOMERS = 1000   # the pipeline's cost is per job, not per row
DEADLINE_S = 170         # the whole run, checks included, ends within this
CHECK_RESERVE_S = 15


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build --

def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles library + harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/; "
             "run from the root of a full checkout")
    stamp = os.path.join(WORK, "build", "classpath.json")
    digest = sources_digest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest:
            return s["classpath"]
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


# ----------------------------------------------------------------- inputs --

def seed_dir(seed):
    """Per-seed input cache; only the few most recent seeds are kept."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:   # a new generator invalidates the cache
        base = os.path.join(WORK, "data", hashlib.sha256(f.read()).hexdigest()[:12])
    if os.path.isdir(os.path.dirname(base)):
        for x in os.listdir(os.path.dirname(base)):
            if x != os.path.basename(base):
                shutil.rmtree(os.path.join(os.path.dirname(base), x), ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    d = os.path.join(base, f"seed-{seed}")
    old = sorted((os.path.getmtime(os.path.join(base, x)), x) for x in os.listdir(base)
                 if x != f"seed-{seed}")
    for _, x in old[:-6]:
        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    os.utime(d)
    return d


def cached(path, make):
    done = path + ".done.json"
    if not os.path.isfile(done):
        shutil.rmtree(path, ignore_errors=True)
        out = make(path)
        with open(done, "w") as f:
            json.dump(out, f)
    with open(done) as f:
        return json.load(f)


def plan_ops(workload, seed, trace, run_dir):
    """(timed passes, warm-up passes, expectations) for one workload. The
    warm-up runs every kind of op of a timed pass on the inputs of another
    seed, so the engine is warm when timing starts but no timed op finds
    its own inputs' results anywhere."""
    import numpy as np
    warm = seed + WARMUP_SEED_OFFSET
    if workload == "stream_monitors":
        with open(os.path.join(HERE, "workloads.json")) as f:
            names = json.load(f)[workload]["ops"]

        def contract(s, tag, n_passes, n_sets, n_fresh):
            """Passes of every monitor on n_sets table sets each; the first
            n_fresh passes get table sets of their own, later ones re-read
            those (a second run on the same inputs is faster)."""
            sets = [os.path.join(seed_dir(s), f"tables-{j}") for j in range(n_sets * n_fresh)]
            for j, data in enumerate(sets):
                cached(data, lambda p: gen.tables(s, p, j))
            ops = [(n, j) for j in range(n_sets) for n in names]
            rng = np.random.default_rng([s, 4])
            op = lambda n, j, i: {"kind": "contract", "name": n, "id": f"{tag}{i}.{n}.t{j}",
                                  "data": sets[(i % n_fresh) * n_sets + j]}
            return [[op(*ops[k], i) for k in rng.permutation(len(ops))] for i in range(n_passes)]
        # an untraced run at the declared run length makes one pass, a
        # traced run two (untraced, traced); the warm-up needs each monitor once
        passes = contract(seed, "p", MAX_PASSES, STREAM_TABLE_SETS, 1 + trace)
        return passes, contract(warm, "w", 1, 1, 1), {}
    # etl_ingest: load into an empty warehouse, replay the same input, then
    # the input plus one new day; every pass gets a fresh warehouse

    def triple(csv_root, wh, tag, calls=("load", "replay", "incremental")):
        return [{"kind": "etl", "call": m, "id": f"{tag}.{m}", "wh": wh,
                 "csv": os.path.join(csv_root, "incr" if m == "incremental" else "base")}
                for m in calls]
    etl = os.path.join(seed_dir(seed), "etl")
    counts = cached(etl, lambda p: gen.etl_csvs(seed, p))
    warm_etl = os.path.join(seed_dir(warm), "etl")
    cached(warm_etl, lambda p: gen.etl_csvs(warm, p, ETL_WARMUP_CUSTOMERS))
    passes = [triple(etl, os.path.join(run_dir, "wh", f"p{i}"), f"p{i}") for i in range(MAX_PASSES)]
    # the warm-up skips replay: incremental runs the same anti-join against
    # a loaded warehouse, and writes
    warmup = [triple(warm_etl, os.path.join(run_dir, "wh", "w0"), "w0", ("load", "incremental"))]
    return passes, warmup, {"counts": counts, "csv": etl}


# -------------------------------------------------------------------- run --

def run_jvm(classpath, args, run_dir, log_name, timeout):
    """Runs ``perfbench.Main <args>``; returns its standard output."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2 ** 30
    heap = max(2, min(6, int(mem_gb // 4)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # A fixed, pre-touched heap keeps the resident set from following G1's
    # resizing: peak RSS then moves with native memory, and heap growth shows
    # in driver.heap_peak_mb.
    cmd = ["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log_path = os.path.join(run_dir, log_name)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1, timeout))
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    return out


def cpu_jiffies():
    """The machine-wide CPU time counters of /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 100]; 0 for no samples (a run
    whose every op failed still prints its result, with correct = false)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def module_of_files():
    m = {}
    base = os.path.join(ROOT, "src", "main", "scala", "graft")
    for d, _, fs in os.walk(base):
        rel = os.path.relpath(d, base).split(os.sep)[0]
        for f in fs:
            m[f] = rel if rel in MODULES else ("entry" if f == "SparkEntry.scala" else "graft")
    for d, _, fs in os.walk(os.path.join(HERE, "src")):
        for f in fs:
            m[f] = "result"
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    deadline = time.monotonic() + DEADLINE_S
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "dumps"))
    passes, warmup, expect = plan_ops(a.workload, a.seed, a.trace, run_dir)
    plan = {"workload": a.workload, "work": run_dir,
            "dumps": os.path.join(run_dir, "dumps"), "out": os.path.join(run_dir, "result.json"),
            "cores": os.cpu_count(), "seconds": a.seconds, "trace": a.trace,
            "warmup": warmup, "passes": passes}
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    # set-up is timed several times: SETUP_PROBES short-lived processes
    # that stop once the session is ready, and the harness itself
    setups = []
    for k in range(SETUP_PROBES):
        out = run_jvm(classpath, ["--setup-only", plan_path], run_dir, f"setup{k}.log", 60)
        setups += [float(l.split()[1]) for l in out.splitlines() if l.startswith("setup_s ")]
    cpu0 = cpu_jiffies()
    run_jvm(classpath, [plan_path], run_dir, "jvm.log", deadline - CHECK_RESERVE_S - time.monotonic())
    cpu1 = cpu_jiffies()
    with open(plan["out"]) as f:
        res = json.load(f)
    res["setups_s"] = setups + [res["setup_s"]]
    for o in (o for p in res["warmup"] for o in p["ops"] if "error" in o):
        print(f"perfbench: WARM-UP OP FAILED {o['id']}: {o['error']}", file=sys.stderr)

    # ---- checks, outside every timed region
    ops = [op for p in res["passes"] for op in p["ops"]]
    by_id = {o["id"]: o for p in passes for o in p}
    errors = check.run(a.workload, ops, by_id, run_dir, expect)
    bad = {i for i, _ in errors}
    for i, msg in errors[:20]:
        print(f"perfbench: CHECK FAILED {i}: {msg}", file=sys.stderr)
    attempted, failed = len(ops), sum(1 for k, o in enumerate(ops) if k in bad)

    metrics = end_to_end(res) if a.trace == 0 else per_layer(a.workload, res, expect)
    summary = workload_summary(a.workload, res, ops)
    summary["failed_ratio"] = failed / attempted
    # share of the machine's CPU time the hypervisor gave to other guests
    # while the harness ran: the main source of run-to-run spread on a
    # shared host
    summary["cpu_steal_share"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    summary["ops_attempted"] = attempted
    print("perfbench: " + json.dumps({"workload": a.workload, "seed": a.seed, **summary}))
    units = declared_metrics(a.trace)
    if set(units) != set(metrics):
        fail(f"metrics out of step with BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))


def timed_passes(res):
    """The passes that give end-to-end figures: all of an untraced run; the
    untraced ones of a traced run."""
    return [p for p in res["passes"] if not p["traced"]]


def end_to_end(res):
    ps = timed_passes(res)
    lat = [o["ms"] for p in ps for o in p["ops"] if o.get("ms") is not None]
    return {
        "setup_s": pct(res["setups_s"], 50),
        "wall_s": pct([p["wall_ms"] for p in ps], 50) / 1000.0,
        "op_p50_ms": pct(lat, 50),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def workload_summary(workload, res, ops):
    """Workload-specific end-to-end numbers (untraced passes only)."""
    out = {}
    ps = timed_passes(res)
    trig = [t for p in ps for o in p["ops"] for t in o["batch_trigger_ms"]]
    if trig:
        out["batch_p50_ms"], out["batch_p90_ms"] = pct(trig, 50), pct(trig, 90)
    if workload == "etl_ingest":
        for m in ("load", "replay", "incremental"):
            out[f"etl_{m}_s"] = pct([o["ms"] for p in ps for o in p["ops"]
                                     if o["id"].endswith("." + m) and "ms" in o], 50) / 1000.0
        ops_t = [o for p in ps for o in p["ops"]]
        out["write_amp"] = sum(o["bytes_written"] for o in ops_t) / sum(o["csv_bytes"] for o in ops_t)
    lat = [o["ms"] for p in ps for o in p["ops"] if o.get("ms") is not None]
    if len(lat) >= 100:   # a p90 needs ten samples beyond it
        out["op_p90_ms"] = pct(lat, 90)
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], set()).add("stream" if o["streams_started"] else "batch")
    out["observed_kind"] = {k: "/".join(sorted(v)) for k, v in sorted(kinds.items())}
    out["ops_per_pass"] = len(ps[0]["ops"])
    out["passes"] = len(ps)
    out["pass_wall_s"] = [round(p["wall_ms"] / 1000.0, 3) for p in ps]
    out["setups_s"] = res["setups_s"]
    out["warmup_s"] = res["warmup_s"]
    return out


def per_layer(workload, res, expect):
    # the first traced pass (the second of the run) gives the figures
    traced = res["passes"][1]["ops"]
    n = len(traced)
    t = [o["trace"] for o in traced]
    S = lambda f: sum(f(x) for x in t)
    mean = lambda f: S(f) / n
    files = module_of_files()
    mod = {}
    for x in t:
        for f, (jobs, ms) in x["jobs_by_file"].items():
            m = files.get(f, "spark")
            j, s = mod.get(m, (0, 0))
            mod[m] = (j + jobs, s + ms)
    if any(not 0 <= x["job_busy_ms"] <= x["op_wall_ms"] for x in t):
        fail("job busy time outside its op's wall time")
    busy = S(lambda x: x["job_busy_ms"])
    st = lambda k: S(lambda x: x["streams"][k])
    m = {
        "entry.build_ms": sum(o.get("build_ms", 0) for o in traced) / n,
        "result.collect_ms": sum(o.get("collect_ms", 0) for o in traced) / n,
        "result.rows": sum(o.get("rows", 0) for o in traced) / n,
        "catalyst.analysis_ms": mean(lambda x: x.get("analysis_ms", 0)),
        "catalyst.optimization_ms": mean(lambda x: x.get("optimization_ms", 0)),
        "catalyst.planning_ms": mean(lambda x: x.get("planning_ms", 0)),
        "catalyst.executions": mean(lambda x: x.get("executions", 0)),
        "scheduler.jobs": mean(lambda x: x["jobs"]),
        "scheduler.stages": mean(lambda x: x.get("stages", 0)),
        "scheduler.tasks": mean(lambda x: x.get("tasks", 0)),
        "scheduler.job_busy_ms": busy / n,
        "scheduler.job_gap_ms": mean(lambda x: x["op_wall_ms"] - x["job_busy_ms"]),
        "scheduler.single_task_stages": mean(lambda x: x.get("single_task_stages", 0)),
        "scheduler.core_util": S(lambda x: x.get("task_run_ms", 0)) / max(1, os.cpu_count() * busy),
        "exec.task_run_ms": mean(lambda x: x.get("task_run_ms", 0)),
        "exec.task_cpu_ms": mean(lambda x: x.get("task_cpu_ns", 0)) / 1e6,
        "exec.gc_ms": mean(lambda x: x.get("task_gc_ms", 0)),
        "shuffle.write_bytes": mean(lambda x: x.get("shuffle_write_bytes", 0)),
        "shuffle.read_bytes": mean(lambda x: x.get("shuffle_read_bytes", 0)),
        "shuffle.fetch_wait_ms": mean(lambda x: x.get("shuffle_fetch_wait_ms", 0)),
        "shuffle.spill_bytes": mean(lambda x: x.get("spill_bytes", 0)),
        "sources.scan_bytes": mean(lambda x: x.get("scan_bytes", 0)),
        "sources.scan_rows": mean(lambda x: x.get("scan_rows", 0)),
        "operators.cached_bytes_peak": max(x["cached_bytes_peak"] for x in t),
        "operators.persisted_bytes_after": sum(o["persisted_bytes_after"] for o in traced) / n,
        "operators.leftover_ckpt_dirs": max(o["leftover_ckpt_dirs"] for o in traced),
    }
    for name in MODULES + ["entry", "result"]:
        j, s = mod.get(name, (0, 0))
        m[f"{name}.jobs"], m[f"{name}.job_ms"] = j / n, s / n
    for k in ("queries", "batches", "input_rows", "trigger_ms", "add_batch_ms", "query_planning_ms",
              "wal_commit_ms", "latest_offset_ms", "get_batch_ms", "state_commit_ms", "state_rows",
              "state_bytes", "start_ms", "stop_ms"):
        m[f"streaming.{k}"] = st(k) / n
    etl = [o for o in traced if "counts" in o]
    loaded = ("product_categories", "products", "customers", "orders", "order_items")
    offered = written = 0
    for o in etl:
        mode = o["id"].rsplit(".", 1)[1]
        src = expect["counts"]["incr" if mode == "incremental" else "base"]
        offered += sum(src[k] for k in loaded)
        prev = expect["counts"]["base"] if mode == "incremental" else (
            {k: 0 for k in loaded} if mode == "load" else expect["counts"]["base"])
        written += sum(o["counts"][k] - prev[k] for k in loaded)
    ne = max(1, len(etl))
    m.update({
        "etl.rows_offered": offered / ne,
        "etl.rows_written": written / ne,
        "etl.useful_write_ratio": written / offered if offered else 0.0,
        "etl.bytes_written": sum(o["bytes_written"] for o in etl) / ne,
        "etl.files_written": sum(o["files_written"] for o in etl) / ne,
        "etl.csv_read_bytes": sum(o["csv_bytes"] for o in etl) / ne,
        "etl.verify_count_ms": sum(o["trace"]["pipeline_count_ms"] for o in etl) / ne,
        "driver.gc_ms": mean(lambda x: x["driver_gc_ms"]),
        "driver.heap_peak_mb": res["heap_peak_mb"],
    })
    # workload-level end-to-end figures of this run, and the tracing overhead
    untraced = timed_passes(res)
    w = [p["wall_ms"] for p in res["passes"][:2]]   # untraced, traced
    summ = workload_summary(workload, res, [o for p in untraced for o in p["ops"]])
    m.update({
        "trace.overhead_s": (w[1] - w[0]) / 1000.0,
        "stream.batch_p50_ms": summ.get("batch_p50_ms", 0.0),
        "stream.batch_p90_ms": summ.get("batch_p90_ms", 0.0),
        "etl.load_s": summ.get("etl_load_s", 0.0),
        "etl.replay_s": summ.get("etl_replay_s", 0.0),
        "etl.incremental_s": summ.get("etl_incremental_s", 0.0),
        "etl.write_amp": summ.get("write_amp", 0.0),
    })
    return m


def declared_metrics(trace):
    """(name -> unit) of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    return {m["name"]: m["unit"] for m in spec}


if __name__ == "__main__":
    main()
