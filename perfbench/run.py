#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the checkout root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under
`.bench_build/`; later runs start the JVM directly. Inputs come only
from `--seed`. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
metrics for `--trace 0` and the per-layer metrics for `--trace 1`.
The full record, stamped with its configuration, is kept under
`.bench_build/results/`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

import gen
import oracle
import stats

WORKLOADS = ("dashboard", "ingest")
SF = 0.1
HEAP = "3g"
# the quote stream, the same in both workloads: one file every LAND_MS,
# rows per file, the files a run lands at least (a 90th percentile of
# freshness needs 100), and the stream's trigger interval. A 2 s trigger
# doubles the commits in a window, and with them the growth of the
# ingest reads, so that their figure spread by 0.3 between runs.
LAND_MS = 150
ROWS_PER_FILE = 200
MIN_FILES = 100
TRIGGER_MS = 4000
# every JVM of one invocation must end within this many seconds of the
# end of the build
RUN_BUDGET_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of every file the build reads, and of where the checkout is."""
    h = hashlib.sha256(root.encode())  # the classpath holds absolute paths
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, cache):
    """Compile engine + harness once per source digest; return classpath."""
    digest = source_digest(root)
    cp_file = os.path.join(cache, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    log = os.path.join(cache, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ".jar" in ln and ":" in ln]
    if r.returncode != 0 or not lines:
        with open(log, "a") as out:
            out.write(r.stdout)
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file + ".tmp", "w") as f:
        f.write(lines[-1].strip())
    os.replace(cp_file + ".tmp", cp_file)
    return lines[-1].strip(), digest


def inputs(cache, seed):
    """The seed's base tables, generated once per seed."""
    d = os.path.join(cache, "data", f"sf{SF}-seed{seed}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        gen.tables(seed, tmp, SF)
        os.replace(tmp, d)
    return d


def land(work, seed, seconds, proc):
    """The open-loop quote generator, run beside the engine's JVM: once the
    engine is ready, land one file every LAND_MS milliseconds on a fixed
    schedule, each stamped with the time it was due; then write the
    manifest `landed.json`."""
    ready = os.path.join(work, "ready")
    while not os.path.exists(ready):
        if proc.poll() is not None:
            return
        time.sleep(0.01)
    time.sleep(0.05)
    start_ms = int(open(ready).read())
    landing = os.path.join(work, "landing")
    n = max(MIN_FILES, seconds * 1000 // LAND_MS)
    files, rows = [], 0
    for i in range(n):
        due_ms = start_ms + i * LAND_MS
        wait = due_ms / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        t = gen.quote_batch(seed, i, ROWS_PER_FILE, due_ms * 1000)
        gen.land(t, landing, i)
        path = os.path.join(landing, f"batch-{i:06d}.parquet")
        files.append({"i": i, "due_ms": due_ms, "landed_ms": time.time() * 1000.0,
                      "rows": ROWS_PER_FILE, "bytes": os.path.getsize(path),
                      "path": path})
        rows += ROWS_PER_FILE
    with open(os.path.join(work, "landed.json.tmp"), "w") as f:
        json.dump({"rows": rows, "files": files}, f)
    os.replace(os.path.join(work, "landed.json.tmp"), os.path.join(work, "landed.json"))


def run_jvm(root, cp, workload, seed, seconds, trace, data, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--data", data, "--work", work,
              "--out", out, "--cpus", str(cpus()), "--trigger-ms", str(TRIGGER_MS)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=log)
        lander = threading.Thread(target=land, args=(work, seed, seconds, proc))
        lander.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        lander.join()
    if proc.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"engine run failed (exit {proc.returncode}):\n{tail}")
    record = json.load(open(out))
    record["landed"] = json.load(open(os.path.join(work, "landed.json")))
    return record


def cpus():
    return len(os.sched_getaffinity(0))


def check(record, data, work):
    """Untimed answer checks. Returns {what: error} for every wrong answer."""
    con = oracle.connect(data)
    bad = dict(record["cold_errors"])
    results = os.path.join(work, "results")
    sql = {k: v for k, v in record["oracle_sql"].items() if k not in bad}
    bad.update(oracle.check_queries(con, sql, results))
    files = record["landed"]["files"]
    # keyed by the live read each check vouches for, so that its reads
    # count as failed
    err = oracle.check_view(con, os.path.join(results, "serve_final"),
                            [f["path"] for f in files])
    if err:
        bad["serve"] = err
    seed_rows = con.execute("SELECT count(*) FROM events").fetchone()[0]
    want = seed_rows + record["landed"]["rows"]
    if record["base_rows"] != want:
        bad["latest"] = f"base has {record['base_rows']} rows, expected {want}"
    if record["stream_error"]:
        bad["serve"] = bad["latest"] = "stream failed: " + record["stream_error"]
    return bad


def end_to_end(record, bad):
    """End-to-end metrics of a run, plus the sample counts printed beside
    them."""
    fresh = stats.freshness(record["landed"]["files"], record["progress"])
    if stats.tail(fresh)[0] != 0.90:
        fail(f"too few samples: {len(fresh)} landed files taken")
    return {
        "setup_s": (record["setup_s"], "s"),
        "read_cpu_ms": (read_cpu(record, bad), "ms"),
        "rss_peak_mb": (record["rss_peak_mb"], "MB"),
        "freshness_p50_ms": (statistics.median(fresh), "ms"),
        "freshness_p90_ms": (stats.percentile(fresh, 0.90), "ms"),
    }, {"freshness_samples": len(fresh)}


def ok_ops(record, bad):
    return [o for o in record["ops"] if o["error"] is None and o["name"] not in bad]


def by_read(record, bad):
    """The completed reads of a run, grouped by read name."""
    out = {}
    for o in ok_ops(record, bad):
        out.setdefault(o["name"], []).append(o)
    if not out:
        fail("no read completed")
    return out


def op_p50_gm(record, bad):
    """The geometric mean over the workload's reads of each read's median
    latency."""
    return stats.geomean(statistics.median(o["end_ms"] - o["start_ms"] for o in v)
                         for v in by_read(record, bad).values())


def read_cpu(record, bad):
    """The geometric mean over the workload's reads of each read's CPU
    time on its client thread at the middle of the window, from a
    Theil-Sen line through the read's samples over time."""
    mid = record["measured_s"] * 500.0
    return stats.geomean(
        stats.theil_sen_at([(o["start_ms"], o["thread_cpu_ms"]) for o in v], mid)
        for v in by_read(record, bad).values())


def reads(record, bad):
    """What the readers saw besides the gated `read_cpu_ms`: latency, rate
    and process CPU per read, plus the sample count, the highest
    percentile the reads support, and the failed share. Bound-free: the
    machine's speed moves them between runs by more than any bound the
    benchmark may set (see README)."""
    ops = record["ops"]
    ok = ok_ops(record, bad)
    lat = [o["end_ms"] - o["start_ms"] for o in ok]
    if not lat:
        fail("no read completed")
    # each closed-loop client's own rate, up to the end of its last read
    per_s = 0.0
    for c in {o["client"] for o in ops}:
        mine = [o for o in ok if o["client"] == c]
        last = max((o["end_ms"] for o in ops if o["client"] == c), default=0.0)
        per_s += 1000.0 * len(mine) / last if last else 0.0
    return {
        "reads.op_p50_gm_ms": (op_p50_gm(record, bad), "ms"),
        "reads.ops_per_s": (per_s, "1/s"),
        "reads.cpu_ms_per_op": (record["cpu_ms"] / (per_s * record["measured_s"]), "ms"),
    }, {"op_samples": len(lat), "op_tail": stats.tail(lat),
        "fail_frac": (len(ops) - len(ok)) / max(1, len(ops))}


def spans(record):
    """Spans of the measured window, ms since its start: each op with its
    children entry.build and entry.run, each landed file (gen.land, from
    due to landed) and each stream batch."""
    t0 = record["ready_ms"]
    out = []
    for o in record["ops"]:
        out.append({"id": o["id"], "parent": None, "name": "op", "op": o["name"],
                    "start_ms": o["start_ms"], "end_ms": o["end_ms"]})
        mid = o["start_ms"] + o["build_ms"]
        out.append({"id": o["id"] + "/b", "parent": o["id"], "name": "entry.build",
                    "start_ms": o["start_ms"], "end_ms": mid})
        out.append({"id": o["id"] + "/r", "parent": o["id"], "name": "entry.run",
                    "start_ms": mid, "end_ms": o["end_ms"]})
    for f in record["landed"]["files"]:
        out.append({"id": f"land-{f['i']}", "parent": None, "name": "gen.land",
                    "start_ms": f["due_ms"] - t0, "end_ms": f["landed_ms"] - t0})
    for p in record["progress"]:
        end = p["end_ms"] - t0
        out.append({"id": f"batch-{p['batch']}", "parent": None, "name": "stream.batch",
                    "start_ms": end - p["duration_ms"].get("triggerExecution", 0),
                    "end_ms": end})
    return out


def per_layer(record):
    tr = record["trace"]
    ops = record["ops"]
    n = max(1, len(ops))
    per_op = tr["ops"]
    t0 = tr["t0_ms"]

    def total(k):
        return sum(a[k] for a in per_op.values())

    driver_only = 0.0
    for o in ops:
        iv = per_op.get(o["id"], {}).get("task_intervals_ms", [])
        lo, hi = t0 + o["start_ms"], t0 + o["end_ms"]
        driver_only += (hi - lo) - stats.union_ms(iv, lo, hi)
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["end_ms"] - o["start_ms"])
    prog = record["progress"]
    nb = max(1, len(prog))

    def stream_ms(k):
        return sum(p["duration_ms"].get(k, 0) for p in prog) / nb

    landed = record["landed"]
    landed_bytes = sum(f["bytes"] for f in landed["files"])
    written = (record["base_bytes"] - record["base_bytes0"]
               + record["view_bytes"] - record["view_bytes0"])
    return {
        "plan.analysis_ms": ((total("analysis_ms") + sum(o["analysis_ms"] for o in ops)) / n,
                             "ms"),
        "plan.optimizer_ms": (total("optimizer_ms") / n, "ms"),
        "plan.physical_ms": (total("physical_ms") / n, "ms"),
        "entry.build_ms": (sum(o["build_ms"] for o in ops) / n, "ms"),
        "entry.run_ms": (sum(o["end_ms"] - o["start_ms"] - o["build_ms"] for o in ops) / n,
                         "ms"),
        "codegen.compiles": (tr["codegen_compiles"] / n, "count"),
        "codegen.compile_ms": (tr["codegen_compile_ms"] / n, "ms"),
        "sched.jobs": (total("jobs") / n, "count"),
        "sched.stages": (total("stages") / n, "count"),
        "sched.tasks": (total("tasks") / n, "count"),
        "driver_only_ms": (driver_only / n, "ms"),
        "exec.task_ms": (total("task_ms") / n, "ms"),
        "exec.cpu_ms": (total("cpu_ms") / n, "ms"),
        "shuffle.write_bytes": (total("shuffle_write_bytes") / n, "bytes"),
        "shuffle.read_bytes": (total("shuffle_read_bytes") / n, "bytes"),
        "spill_bytes": (total("spill_bytes") / n, "bytes"),
        "scan.bytes_read": (total("bytes_read") / n, "bytes"),
        "scan.files": (total("files") / n, "count"),
        "sources.read_ms": (statistics.mean(by_name.get("latest", [0])), "ms"),
        "sources.serve_ms": (statistics.mean(by_name.get("serve", [0])), "ms"),
        "sources.data_dirs": (record["base_dirs"] + record["view_dirs"], "count"),
        "sources.write_amp": (written / max(1, landed_bytes), "ratio"),
        "stream.batches": (len(prog), "count"),
        "stream.input_rows": (sum(p["rows"] for p in prog), "count"),
        "stream.trigger_ms": (stream_ms("triggerExecution"), "ms"),
        "stream.add_batch_ms": (stream_ms("addBatch"), "ms"),
        "stream.planning_ms": (stream_ms("queryPlanning"), "ms"),
        "stream.wal_commit_ms": (stream_ms("walCommit"), "ms"),
        "stream.latest_offset_ms": (stream_ms("latestOffset"), "ms"),
        "stream.backlog_max_files": (stats.backlog_max(landed["files"], prog), "count"),
        "caches.leaked": (record["caches_leaked"], "count"),
        "adaptive.tiny_plan_ops": (sum(1 for o in ops if o["tiny_plan"]), "count"),
        "jvm.gc_ms": (record["gc_ms"], "ms"),
        "jvm.heap_peak_mb": (record["heap_peak_mb"], "MB"),
    }


def stamp(root, cp, digest, args):
    """The configuration a result was measured under."""
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                                capture_output=True).stdout.strip() or None
    except OSError:
        pass
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    spark = re.search(r"spark-core_[0-9.]+-([0-9][^/:]*)\.jar", cp)
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "cpus": cpus(), "sf": SF, "heap": HEAP, "spark": spark.group(1) if spark else None,
            "jdk": java.split('"')[1] if '"' in java else java.strip(),
            "commit": commit, "source": digest}


def once(root, cache, cp, args, trace, deadline):
    data = inputs(cache, args.seed)
    work = os.path.join(cache, "runs", f"{args.workload}-{args.seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "landing"))
    try:
        t = time.time()
        record = run_jvm(root, cp, args.workload, args.seed, args.seconds, trace, data,
                         work, deadline)
        t1 = time.time()
        bad = check(record, data, work)
        print(f"jvm {t1 - t:.1f}s check {time.time() - t1:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return record, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of an engine checkout (build.sbt, src/main/scala/graft)")
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    cp, digest = build(root, cache)
    deadline = time.time() + RUN_BUDGET_S

    result = {"stamp": stamp(root, cp, digest, args)}
    if args.trace:
        # tracing overhead: an untraced and a traced run of the same seed
        # and build, back to back, compared on read latency
        record, bad_untraced = once(root, cache, cp, args, False, deadline)
        untraced = op_p50_gm(record, bad_untraced)
        record, bad = once(root, cache, cp, args, True, deadline)
        bad = {**bad_untraced, **bad}
        _, extra = end_to_end(record, bad)
        read, more = reads(record, bad)
        metrics = {**read, **per_layer(record)}
        metrics["trace.overhead"] = (read["reads.op_p50_gm_ms"][0] / untraced - 1, "ratio")
        result["per_layer"] = metrics
        result["spans"] = spans(record)
    else:
        record, bad = once(root, cache, cp, args, False, deadline)
        metrics, extra = end_to_end(record, bad)
        read, more = reads(record, bad)
        result["end_to_end"] = metrics
        result["reads"] = read
    result.update(extra, **more)
    result["wrong"] = bad

    for what, err in sorted(bad.items()):
        print(f"WRONG {what}: {err}")
    for k, (v, unit) in {**metrics, **read}.items():
        print(f"{k} {v} {unit}")
    q, v = more["op_tail"]
    tail = f"p{round(100 * q)} = {v} ms" if q else "none"
    print(f"op_samples {more['op_samples']} (highest supported percentile: {tail}),"
          f" freshness_samples {extra['freshness_samples']}, fail_frac {more['fail_frac']}")

    result["record"] = {k: v for k, v in record.items() if k != "oracle_sql"}
    os.makedirs(os.path.join(cache, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{digest}.json"
    with open(os.path.join(cache, "results", name), "w") as f:
        json.dump(result, f, indent=1, default=str)

    failed = sum(1 for o in record["ops"] if o["error"] is not None or o["name"] in bad)
    print(json.dumps({
        "correct": not bad,
        "attempted": len(record["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
