#!/usr/bin/env python3
"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload {curation,concurrent_sql}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged.  Inputs
are generated from the seed and cached under perfbench/.work/.  Each run
starts fresh JVMs with a fixed heap, a fresh Spark local dir and a fresh
warehouse dir each, all inside perfbench/.work/, and removes them
afterwards: SETUP_JVMS - 1 that only set up, then one that sets up, warms
up and runs the timed window.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics, or with --trace 1 the per-layer ones).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

HEAP = "2g"
# set-up is timed from JVM start, once per JVM; setup_s is the median
SETUP_JVMS = 2
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 700
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    pdir = os.path.join(ROOT, "project")
    if os.path.isdir(pdir):
        files += [os.path.join(pdir, f) for f in os.listdir(pdir)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + harness; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"engine sources not found: {need} is missing next to perfbench/")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BenchError(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f"build failed (sbt exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not lines:
        raise BenchError("build did not report a classpath")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cp


# ---- host readings ------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]  # total (user..steal), steal


CANARY_BYTES = 64 << 20


def canary(data_dir):
    """Seconds to read and hash the input files repeatedly until 64 MiB
    have been scanned (best of three): a fixed amount of host work, timed
    at the start and end of every run to show host speed drift."""
    files = [os.path.join(data_dir, n) for n in sorted(os.listdir(data_dir))]
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        done = 0
        while done < CANARY_BYTES:
            for path in files:
                with open(path, "rb") as f:
                    buf = f.read()
                hashlib.sha256(buf).digest()
                done += len(buf)
        best = min(best, time.perf_counter() - t0)
    return best


def git_provenance():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return "none", False
        dirty = subprocess.run(["git", "status", "--porcelain", "--", "src", "build.sbt"],
                               cwd=ROOT, capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return "none", False


# ---- one run ------------------------------------------------------------

def harness(cp, args, run_dir):
    """Run perfbench.Harness with `args` in a fresh JVM whose temp dir and
    working dir (Spark local and warehouse dirs) are new under `run_dir`;
    returns the JSON it writes."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "cwd"))
    args = dict(args, out=os.path.join(run_dir, "result.json"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", *ADD_OPENS,
           "-cp", cp, "perfbench.Harness", *[f"{k}={v}" for k, v in args.items()]]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "cwd"), stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness exceeded {JVM_TIMEOUT_S}s")
        finally:  # also on SIGTERM / Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise BenchError(f"harness failed (exit {rc})")
    with open(args["out"]) as f:
        return json.load(f)


def run_harness(cp, workload, cfg, data_dir, seed, seconds, trace, run_dir):
    """SETUP_JVMS - 1 set-up-only JVMs, then the measuring one."""
    ops = workloads.ops_for(workload, seed)
    os.makedirs(run_dir)
    ops_file = os.path.join(run_dir, "ops.tsv")
    with open(ops_file, "w") as f:
        f.writelines(f"{n}\t{s}\n" for n, s in ops)
    nproc = len(os.sched_getaffinity(0))
    args = {
        "mode": cfg["mode"], "data": data_dir, "ops": ops_file,
        "tables": ",".join(cfg["tables"]), "seconds": seconds, "seed": seed,
        "trace": trace, "setup_only": 1, "master": f"local[{nproc}]",
        "clients": cfg["clients"], "warmup_threads": max(nproc - 1, 1),
        "clk_tck": os.sysconf("SC_CLK_TCK"),
        "warmup_passes": cfg["warmup_passes"],
        "check": os.path.join(run_dir, "check"), "work": run_dir,
    }
    setups = [harness(cp, args, os.path.join(run_dir, f"setup{i}"))
              for i in range(SETUP_JVMS - 1)]
    res = harness(cp, dict(args, setup_only=0), os.path.join(run_dir, "main"))
    setups.append(res)
    res["setups_s"] = [r["setup_s"] for r in setups]
    res["create_tables_s"] = [r["create_table_s"] for r in setups]
    res["ops"] = ops
    res["nproc"] = nproc
    return res


def oracle_checks(res, cfg, data_dir, run_dir):
    """{op: digest that passed the oracle check, or None}, plus messages."""
    con = check.connect(data_dir, workloads.TPCH_TABLES + ["events", "documents", "embeddings"])
    first = {}
    for s in res["warm_samples"]:
        first.setdefault(s["op"], s)
    reference, problems = {}, []
    for name, sql in res["ops"]:
        s = first.get(name)
        if s is None or s["error"]:
            problems.append(f"{name}: failed in the check pass: {s and s['error']}")
            reference[name] = None
            continue
        if name.startswith("write:"):
            # read-back of the shards must equal the written stage's result
            stage = first.get(sql)
            ok = stage is not None and stage["digest"] == s["digest"]
            errs = [] if ok else ["read-back differs from the stage result"]
        else:
            oracle = sql if cfg["mode"] == "tokens" else res["oracle"].get(name)
            if oracle is None:
                errs = ["no oracle SQL for this operation"]
            else:
                errs = check.oracle_check(
                    con, os.path.join(run_dir, "check", name.replace(":", "_")), oracle)
        if errs:
            problems.append(f"{name}: " + "; ".join(errs[:3]))
        reference[name] = None if errs else s["digest"]
    # every warm-up pass must reproduce the checked digest too
    for s in res["warm_samples"]:
        if reference.get(s["op"]) is not None and s["digest"] != reference[s["op"]]:
            problems.append(f"{s['op']}: digest changed between warm-up passes")
            reference[s["op"]] = None
    return reference, problems


def latency(res):
    """Request latency over the window: (median, the highest percentile with
    ten samples beyond it, that percentile, sample count); the tail is 0
    when there are too few samples to have one."""
    lat = [s["lat_s"] for s in res["samples"] if not s["error"]]
    tail, pct = stats.tail(lat, min_beyond=10) if len(lat) > 10 else (0.0, 0.0)
    return stats.median(lat), tail, pct, len(lat)


def throughput(res):
    """Operations per second in the timed window.  Where the window runs
    whole passes over the operations (chain mode), operations per pass ÷
    the median pass time, so a slow first pass, still warming up, does not
    set the figure; with client loops, completions ÷ window seconds."""
    if res["pass_s"]:
        return len(res["ops"]) / stats.median(res["pass_s"])
    return sum(1 for s in res["samples"] if not s["error"]) / res["window_s"]


def end_to_end(res):
    """Every end-to-end metric; each is printed for every workload."""
    win = [s for s in res["samples"] if not s["error"]]
    if not win:
        raise BenchError("no operation completed in the timed window")
    return {
        "setup_s": (stats.median(res["setups_s"]), "s"),
        "queries_per_s": (throughput(res), "1/s"),
        "query_geomean_s": (stats.geomean(list(stats.per_op_medians(win).values())), "s"),
    }


def per_layer(workload, cfg, res, spans, host, failed_frac, data_dir):
    t = res["trace"]
    win = [s for s in res["samples"] if not s["error"]]
    n = max(len(win), 1)
    rows_out = sum(s["rows"] for s in win)
    layer = stats.self_times(spans)
    span_total = {}
    for s in spans:
        span_total[s["name"]] = span_total.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    g = lambda k: t.get(k, 0.0)  # noqa: E731
    plans_s = g("optimize_s") + g("physical_s")
    per_op = stats.job_time_per_op(res["jobs"])
    exec_s = sum(e for e, _, _ in per_op.values())
    construct_exec_s = sum(c for _, c, _ in per_op.values())
    n_jobs = len(res["jobs"])
    wall_exec_s = stats.union_s([(j[0], j[1]) for j in res["jobs"]]) / 1e3
    writes = [s for s in win if s["op"].startswith("write:")]
    docs_bytes = os.path.getsize(os.path.join(data_dir, "documents.parquet"))
    m = {
        "ctx.create_table_s": (stats.median(res["create_tables_s"]), "s"),
        "ctx.sql_s": ((span_total.get("ctx.collect", 0.0) + span_total.get("ctx.sqlToken", 0.0)) / n, "s/op"),
        "ctx.fetch_wait_s": (span_total.get("ctx.fetch", 0.0) / n, "s/op"),
        "ctx.write_s": (span_total.get("ctx.writeSharded", 0.0) / max(len(writes), 1), "s/write"),
        "ctx.write_files": (res.get("write_files", 0.0), "count"),
        "ctx.write_bytes_per_input_byte": (res.get("write_bytes", 0.0) / docs_bytes
                                           if writes else 0.0, "ratio"),
        "queries.construct_s": (sum(s["construct_s"] for s in win) / n, "s/op"),
        "queries.construct_jobs": (sum(1 for j in res["jobs"] if j[3]) / n, "count/op"),
        "plans.optimize_s": (g("optimize_s") / n, "s/op"),
        "plans.physical_s": (g("physical_s") / n, "s/op"),
    }
    for k in ("exchanges", "broadcast_joins", "sort_merge_joins", "shuffled_hash_joins",
              "skew_splits", "wscg_stages"):
        m[f"plans.{k}"] = (g(k) / n, "count/op")
    m.update({
        "exec.s": (exec_s / n, "s/op"),
        "exec.jobs": (n_jobs / n, "count/op"),
        "exec.stages": (g("stages") / n, "count/op"),
        "exec.tasks": (g("tasks") / n, "count/op"),
        "exec.task_cpu_s": (g("task_cpu_s") / n, "s/op"),
        "exec.task_run_s": (g("task_run_s") / n, "s/op"),
        "exec.core_util": (g("task_run_s") / (wall_exec_s * res["nproc"])
                           if wall_exec_s else 0.0, "ratio"),
        "exec.gc_s": (g("task_gc_s") / n, "s/op"),
        "exec.failed_tasks": (g("failed_tasks"), "count"),
        "shuffle.write_bytes": (g("shuffle_write_bytes") / n, "B/op"),
        "shuffle.read_bytes": (g("shuffle_read_bytes") / n, "B/op"),
        "shuffle.write_bytes_per_exchange": (g("shuffle_write_bytes") / g("exchanges")
                                             if g("exchanges") else 0.0, "B"),
        "shuffle.write_s": (g("shuffle_write_s") / n, "s/op"),
        "shuffle.fetch_wait_s": (g("shuffle_fetch_wait_s") / n, "s/op"),
        "shuffle.spill_memory_bytes": (g("spill_memory_bytes") / n, "B/op"),
        "shuffle.spill_disk_bytes": (g("spill_disk_bytes") / n, "B/op"),
        "scan.bytes_read": (g("scan_bytes_read") / n, "B/op"),
        "scan.records_read": (g("scan_records_read") / n, "count/op"),
        "scan.rows_examined_per_row_returned": (g("scan_records_read") / rows_out
                                                if rows_out else 0.0, "ratio"),
        "functions.kernel_stage_s": (g("kernel_stage_s") / n, "s/op"),
        "operators.cached_bytes_after_release": (res.get("cached_bytes_after_release", 0.0), "B"),
    })
    med = stats.per_op_medians(win)
    label = {s["id"]: s["label"] for s in spans if s["name"] == "op"}
    for stage in workloads.CURATION_STAGES + ["write:" + workloads.WRITE_STAGE]:
        key = stage.replace(":", "_")
        m[f"operators.stage_s.{key}"] = (med.get(stage, 0.0), "s")
        ids = [i for i, lab in label.items() if lab == stage]
        jobs = sum(per_op[i][2] for i in ids if i in per_op)
        m[f"operators.stage_jobs.{key}"] = (jobs / len(ids) if ids else 0.0, "count")
    jvm = res["jvm"]
    lat = latency(res)
    m.update({
        "jvm.cpu_s_per_query": (res["cpu_s"] / n, "s"),
        "jvm.warmup_s": (res["warmup_s"], "s"),
        "jvm.jit_s": (jvm["jit_s"], "s"),
        "jvm.gc_s": (jvm["gc_s"], "s"),
        "jvm.heap_after_gc_mb": (jvm["heap_after_gc_mb"], "MB"),
        "jvm.rss_peak_mb": (jvm["rss_peak_mb"], "MB"),
        "host.steal_frac": (host["steal_frac"], "ratio"),
        "host.canary_s": (host["canary_s"], "s"),
        "self_s.queries": (max(layer.get("queries", 0.0) - construct_exec_s, 0.0) / n, "s/op"),
        "self_s.plans": (plans_s / n, "s/op"),
        "self_s.exec": (exec_s / n, "s/op"),
        "self_s.ctx": (max(layer.get("ctx", 0.0) - (exec_s - construct_exec_s) - plans_s, 0.0)
                       / n, "s/op"),
        "self_s.bench": (layer.get("op", 0.0) / n, "s/op"),
        "latency.p50_s": (lat[0], "s"),
        "latency.tail_s": (lat[1], "s"),
        "latency.tail_pct": (lat[2], "ratio"),
        "trace.queries_per_s": (throughput(res), "1/s"),
        "operators.docs_per_s": (cfg["docs"] / stats.median(res["pass_s"])
                                 if workload == "curation" else 0.0, "1/s"),
        "check.failed_frac": (failed_frac, "ratio"),
    })
    return m


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cfg = workloads.WORKLOADS[a.workload]
    try:
        cp = build()
        data_dir, gen_s, digest = gen.cached(os.path.join(WORK, "data"), a.seed,
                                             cfg["sf"], cfg["docs"])
        run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            canary0 = canary(data_dir)
            tot0, steal0 = cpu_times()
            t_jvm = time.time()
            res = run_harness(cp, a.workload, cfg, data_dir, a.seed, a.seconds,
                              a.trace, run_dir)
            t_jvm = time.time() - t_jvm
            tot1, steal1 = cpu_times()
            canary1 = canary(data_dir)
            reference, problems = oracle_checks(res, cfg, data_dir, run_dir)
            spans = []
            if a.trace:
                with open(os.path.join(run_dir, "spans.jsonl")) as f:
                    spans = [json.loads(l) for l in f if l.strip()]
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        attempted, failed = stats.account(res["samples"], reference)
        for p in problems:
            log(f"CHECK FAILED {p}")
        for s in res["samples"]:
            if s["error"]:
                log(f"FAILED {s['op']}: {s['error'][:300]}")
        host = {"steal_frac": (steal1 - steal0) / max(tot1 - tot0, 1),
                "canary_s": max(canary0, canary1)}
        p50, tail, pct, n = latency(res)
        sha, dirty = git_provenance()
        prov = {"workload": a.workload, "seed": a.seed, "input_digest": digest,
                "gen_s": round(gen_s, 3), "git_sha": sha, "dirty": dirty,
                "nproc": res["nproc"], "heap": HEAP, "master": f"local[{res['nproc']}]",
                "clients": cfg["clients"], "loop": cfg["loop"],
                "steal_frac": round(host["steal_frac"], 5),
                "canary_start_s": round(canary0, 5), "canary_end_s": round(canary1, 5),
                "warmup_pass_s": [round(x, 3) for x in res["warmup_pass_s"]],
                "window_pass_s": [round(x, 3) for x in res["pass_s"]],
                "setup_jvms_s": [round(x, 3) for x in res["setups_s"]],
                "window_s": round(res["window_s"], 3), "samples": n,
                "query_p50_s": round(p50, 4), "query_tail_s": round(tail, 4),
                "tail_percentile": round(pct * 100, 1),
                "jvm_wall_s": round(t_jvm, 3), "jvm_main_s": round(res["jvm_s"], 3),
                "op_p50_s": {k: round(v, 4) for k, v in stats.per_op_medians(
                    [s for s in res["samples"] if not s["error"]]).items()}}
        print("provenance " + json.dumps(prov), flush=True)
        metrics = (per_layer(a.workload, cfg, res, spans, host,
                             stats.failed_frac(attempted, failed), data_dir)
                   if a.trace else end_to_end(res))
    except BenchError as e:
        log(f"error: {e}")
        return 1
    out = {"correct": failed == 0 and not problems, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
