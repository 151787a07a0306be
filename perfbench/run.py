#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark with sbt
(``perfbench/build.sbt``) and caches the classpath under ``.bench_build/``;
later runs rebuild only when a source file changed. Each run starts one JVM
(``graftbench.Main``) that executes the workload and writes its raw
observations; this script turns them into metrics (``stats.py``), checks
the results, prints one ``metric`` line per figure, a ``record`` line with
the run's conditions, and, last, the JSON summary line.

See ``perfbench/README.md`` for the workloads and every metric.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_mixed", "stream_ingest", "batch_mixed")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# A fixed, pre-touched heap: peak RSS then measures the heap plus the
# engine's native memory (RocksDB, Netty, metaspace) instead of how far the
# garbage collector happened to grow the heap in this run. No perf-data
# file, which the JVM would otherwise write outside the checkout.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]

# Metrics both listed workloads report. A "write" is one ACKed POST on
# serve_mixed and one generator batch (addData until every query committed
# it) on stream_ingest; deposits count the deposits those writes carry.
# Wall-clock rates and latencies (deposits_per_s, write_mean_ms) are
# printed beside these but not gated: on a shared host they swing with the
# neighbours' load by more than any usable bound (see README.md).
END_TO_END = [
    ("setup_s", "s"),
    ("cpu_ms_per_deposit", "ms"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("spark.jobs_per_write", "count"),
    ("spark.tasks_per_write", "count"),
    ("spark.cpu_ms_per_write", "ms"),
    ("spark.gc_ms_per_write", "ms"),
    ("spark.task_wait_ms_per_write", "ms"),
    ("spark.shuffle_write_kb_per_write", "KiB"),
    ("microbatch.per_write", "count"),
    ("microbatch.batch_ms_p50", "ms"),
    ("microbatch.fixed_ms_p50", "ms"),
    ("microbatch.state_commit_ms_p50", "ms"),
    ("microbatch.state_rows", "count"),
    ("microbatch.state_mb", "MB"),
    ("write.self_ms_p50", "ms"),
    ("write.child_ms_p50", "ms"),
    ("setup.session_s", "s"),
    ("trace.overhead_pct", "%"),
]
# batch_mixed is run by hand (see README.md); its summary carries these.
BATCH_END_TO_END = [
    ("setup_s", "s"),
    ("batch_wall_s", "s"),
    ("batch_task_s", "s"),
    ("peak_rss_mb", "MB"),
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def source_files():
    """Every file whose change requires a rebuild."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(path)
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def build():
    """Builds engine and benchmark if needed; returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"no engine sources here: {need} is missing")
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt is not on PATH")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", f"writeClasspath {cp_file}"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(cp_file):
        raise BenchError(f"build failed (exit {code}); see {log_path}:\n" + tail(log_path))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read()


def wait(proc, timeout):
    """Waits for ``proc``; on timeout kills its whole process group."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def tail(path, n=30):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


# -------------------------------------------------------------------- run

def run_jvm(classpath, args):
    work = os.path.join(BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "index", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    out = os.path.join(work, "out.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        raise BenchError("java is not on PATH")
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(HERE, "data"), "--out", out]
    env = dict(os.environ)
    # A fresh artifact root per run: every run starts from the same cache
    # state, and no run can serve another run's (or commit's) artifacts.
    env["SPARK_GRAFT_INDEX_ROOT"] = os.path.join(work, "index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    log_path = os.path.join(BUILD_DIR, f"jvm-{args.workload}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            code = wait(proc, JVM_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            raise BenchError(f"workload JVM failed (exit {code}); see {log_path}:\n"
                             + tail(log_path))
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def spark_per_write(totals, writes):
    """The Spark scheduler layer, normalised per write."""
    return {
        "spark.jobs_per_write": totals["jobs"] / writes,
        "spark.tasks_per_write": totals["tasks"] / writes,
        "spark.cpu_ms_per_write": totals["cpu_s"] * 1e3 / writes,
        "spark.gc_ms_per_write": totals["gc_s"] * 1e3 / writes,
        "spark.task_wait_ms_per_write": totals["task_wait_s"] * 1e3 / writes,
        "spark.shuffle_write_kb_per_write": totals["shuffle_write_mb"] * 1024 / writes,
    }


def overhead_pct(samples):
    """Traced minus untraced median of (value, traced) samples, in %."""
    on = [v for v, t in samples if t]
    off = [v for v, t in samples if not t]
    if not on or not off:
        return None
    return (statistics.median(on) - statistics.median(off)) / statistics.median(off) * 100.0


def microbatch(batches, per_write):
    """The micro-batch layer, from the queries' progress reports."""
    last = {}
    for b in batches:
        last[b["query"]] = b
    return {
        "microbatch.per_write": per_write,
        "microbatch.batch_ms_p50": stats.percentile([b["trigger_ms"] for b in batches], 50),
        "microbatch.fixed_ms_p50": stats.percentile(
            [b["trigger_ms"] - b["add_batch_ms"] for b in batches], 50),
        "microbatch.state_commit_ms_p50": stats.percentile(
            [b["state_commit_ms"] for b in batches], 50),
        "microbatch.state_rows": sum(b["state_rows"] for b in last.values()),
        "microbatch.state_mb": sum(b["state_bytes"] for b in last.values()) / 1048576,
    }


def write_layers(writes, batches):
    """Self time of each write outside the micro-batches it overlaps."""
    mb = [(b["start_ms"], b["start_ms"] + b["trigger_ms"]) for b in batches]
    return {
        "write.self_ms_p50": stats.percentile(
            [stats.self_time(w["start_ms"], w["end_ms"], mb) for w in writes], 50),
        "write.child_ms_p50": stats.percentile(
            [stats.covered(w["start_ms"], w["end_ms"], mb) for w in writes], 50),
    }


def tails(what, values):
    """Sample count and the highest percentile the sample supports."""
    p, v = stats.tail(values)
    out = [(f"{what}_samples", len(values), "count")]
    return out + ([(f"{what}_p{p}_ms", v, "ms")] if p else [])


def fmt(v):
    return "n/a" if v is None else round(v, 6)


def serve_metrics(d):
    posts, gets, c = d["posts"], d["gets"], d["counts"]
    # The measured part: POSTs answered, micro-batches started and GETs due
    # after its start. Micro-batches per ACK come from the whole load phase,
    # whose edges cut no deposit in two.
    tm = d["measure_start_ms"]
    all_acked = [p for p in posts if p["kind"] == "ok" and p["ok"]]
    acked = [p for p in all_acked if p["end_ms"] >= tm]
    batches = [b for b in d["batches"] if b["start_ms"] >= tm]
    per_write = stats.batches_per_write(d["batches"], len(all_acked))
    post_ms = [p["end_ms"] - p["start_ms"] for p in acked]
    timed_gets = [g for g in gets if g["due_ms"] >= tm]
    get_ms, late_ms = stats.open_loop(timed_gets)
    n = len(acked)
    boot = statistics.median(d["setup_parts"]["boot_s"])
    e2e = {
        "setup_s": boot,
        "cpu_ms_per_deposit": stats.cpu_ms_per_deposit(batches, per_write, 1),
    }
    layer = spark_per_write(d["streaming"], n)
    layer.update(microbatch(batches, sum(per_write.values())))
    layer.update(write_layers(acked, batches))
    # Measured on the reads: thousands per run, where a POST run has dozens.
    layer["trace.overhead_pct"] = overhead_pct(list(zip(get_ms, (g["traced"] for g in timed_gets))))
    bms = [b["trigger_ms"] for b in batches]
    named = [
        ("deposits_per_s", n / d["window_s"], "1/s"),
        ("write_mean_ms", statistics.mean(post_ms), "ms"),
        ("task_ms_per_deposit", d["streaming"]["task_s"] * 1e3 / n, "ms"),
        ("post_p50_ms", stats.percentile(post_ms, 50), "ms"),
        ("post_p90_ms", stats.percentile(post_ms, 90), "ms"),
        ("get_p50_ms", stats.percentile(get_ms, 50), "ms"),
        ("get_p99_ms", stats.percentile(get_ms, 99), "ms"),
        ("service.posts_acked", c["posts_acked"], "count"),
        ("service.posts_dup", c["posts_dup"], "count"),
        ("service.posts_422", c["posts_422"], "count"),
        ("service.posts_503", c["posts_503"], "count"),
        ("service.post_self_ms_p50", layer["write.self_ms_p50"], "ms"),
        ("service.boot_s", boot, "s"),
        ("service.gen_late_ms_p99", stats.percentile(late_ms, 99), "ms"),
        ("streaming.serve_batches_per_ack", layer["microbatch.per_write"], "count"),
        ("streaming.serve_batch_ms_p50", layer["microbatch.batch_ms_p50"], "ms"),
        ("streaming.serve_batch_ms_p90", stats.percentile(bms, 90), "ms"),
        ("streaming.serve_fixed_ms_p50", layer["microbatch.fixed_ms_p50"], "ms"),
        ("streaming.serve_state_commit_ms_p50", layer["microbatch.state_commit_ms_p50"], "ms"),
        ("streaming.serve_state_rows", layer["microbatch.state_rows"], "count"),
        ("streaming.serve_state_mb", layer["microbatch.state_mb"], "MB"),
    ]
    named += tails("write", post_ms) + tails("get", get_ms)
    attempted = len(posts) + len(gets)
    failed = c["post_failed"] + c["get_failed"]
    return e2e, layer, named, attempted, failed, d["correct"]


def stream_metrics(d):
    ing = d["ingests"]
    events = sum(i["events"] for i in ing)
    lat = [i["end_ms"] - i["start_ms"] for i in ing]
    setup = statistics.median(d["setup_parts"]["topology_s"])
    e2e = {
        "setup_s": setup,
        "cpu_ms_per_deposit": stats.cpu_ms_per_deposit(
            d["batches"], stats.batches_per_write(d["batches"], len(ing)), events / len(ing)),
    }
    layer = spark_per_write(d["streaming"], len(ing))
    layer.update(microbatch(d["batches"], len(d["batches"]) / len(ing)))
    layer.update(write_layers(ing, d["batches"]))
    layer["trace.overhead_pct"] = overhead_pct(list(zip(lat, (i["traced"] for i in ing))))
    named = [("deposits_per_s", events / (sum(lat) / 1e3), "1/s"),
             ("write_mean_ms", statistics.mean(lat), "ms"),
             ("task_ms_per_deposit", d["streaming"]["task_s"] * 1e3 / events, "ms"),
             ("stream_lat_p50_ms", stats.percentile(lat, 50), "ms"),
             ("stream_lat_p90_ms", stats.percentile(lat, 90), "ms")] + tails("write", lat)
    for q in ("collector", "detector", "flagger"):
        bs = [b for b in d["batches"] if b["query"] == q]
        if not bs:
            raise BenchError(f"no {q} micro-batches were reported")
        m = microbatch(bs, len(bs) / len(ing))
        named += [(f"streaming.{q}_{k.split('.', 1)[1]}", m[k], unit) for k, unit in (
            ("microbatch.batch_ms_p50", "ms"), ("microbatch.fixed_ms_p50", "ms"),
            ("microbatch.state_commit_ms_p50", "ms"), ("microbatch.state_rows", "count"),
            ("microbatch.state_mb", "MB"))]
    s = d["streaming"]
    named += [
        ("streaming.shuffle_write_mb", s["shuffle_write_mb"], "MB"),
        ("streaming.task_s", s["task_s"], "s"),
        ("streaming.gc_s", s["gc_s"], "s"),
        ("streaming.flag_events", d["counts"]["flag_events"], "count"),
        ("streaming.flag_disagreements", d["counts"]["flag_disagreements"], "count"),
    ]
    return e2e, layer, named, len(ing), 0, d["correct"]


def batch_metrics(d):
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)[d["workload"]]

    def matches(r):
        pin = pins.get(r["name"])
        return r["error"] is None and pin is not None and \
            pin["rows"] == r["rows"] and pin["fp"] == r["fp"]

    runs = d["queries"]
    bad = [r for r in runs if not matches(r)]
    fill_bad = [r["name"] for r in d["fill"] if not matches(r)]
    for r in bad[:5]:
        print(f"perfbench: {r['name']} pass {r['pass']}: rows={r['rows']} fp={r['fp']} "
              f"error={r['error']}; pinned {pins.get(r['name'])}", file=sys.stderr)
    passes = d["passes"]
    e2e = {"setup_s": d["session_s"] + d["setup_parts"]["load_s"][0] + d["setup_parts"]["fill_s"][0]}
    jobs_by_id = {}
    for sp in d["spans"]:
        if sp["kind"] == "job":
            jobs_by_id.setdefault(sp["id"], []).append((sp["start_ms"], sp["end_ms"]))

    def self_ms(r):
        t0 = r["start_ms"]
        t1 = t0 + (r["build_s"] + r["plan_s"] + r["exec_s"]) * 1e3
        return stats.self_time(t0, t1, jobs_by_id.get(f"q:{r['name']}:{r['pass']}", []))

    def per_pass(key):
        return statistics.median([sum(r[key] for r in runs if r["pass"] == p["pass"]) for p in passes])

    hits = sum(p["cache_hits"] for p in passes)
    builds = sum(p["cache_builds"] for p in passes)
    e2e["batch_wall_s"] = statistics.median([p["wall_s"] for p in passes])
    e2e["batch_task_s"] = per_pass("task_s")
    named = []
    for key, unit in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                      ("stages", "count"), ("tasks", "count"), ("cpu_s", "s"), ("gc_s", "s"),
                      ("task_wait_s", "s"), ("shuffle_read_mb", "MB"),
                      ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
        named.append((f"queries.{key}", per_pass(key), unit))
    for pack in sorted({r["pack"] for r in runs}):
        mine = [r for r in runs if r["pack"] == pack]
        named.append((f"queries.{pack}.wall_s", sum(
            r["build_s"] + r["plan_s"] + r["exec_s"] for r in mine) / len(passes), "s"))
        named.append((f"queries.{pack}.task_s", sum(r["task_s"] for r in mine) / len(passes), "s"))
    named += [
        ("operators.cache_hit_ratio", hits / (hits + builds) if hits + builds else None, "ratio"),
        ("operators.cache_hits", hits, "count"),
        ("operators.cache_builds", builds, "count"),
        ("sources.load_s", d["setup_parts"]["load_s"][0], "s"),
        ("queries.self_ms_p50", stats.percentile([self_ms(r) for r in runs if r["traced"]], 50), "ms"),
        ("trace.overhead_pct", overhead_pct([(p["wall_s"], p["traced"]) for p in passes]), "%"),
    ]
    layer = {name: value for name, value, _ in named}
    correct = not bad and not fill_bad
    return e2e, layer, named, len(runs), len(bad), correct


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        classpath = build()
        d = run_jvm(classpath, args)
        compute = {"serve_mixed": serve_metrics, "stream_ingest": stream_metrics,
                   "batch_mixed": batch_metrics}[args.workload]
        e2e, layer, named, attempted, failed, correct = compute(d)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    e2e["peak_rss_mb"] = d["peak_rss_mb"]
    layer["setup.session_s"] = d["session_s"]
    if args.trace:
        named.append(("trace.spans", len(d["spans"]), "count"))
        layer["trace.spans"] = len(d["spans"])
    if args.workload == "batch_mixed":
        e2e_list = BATCH_END_TO_END
        layer_list = [(n, u) for n, v, u in named if v is not None]
    else:
        e2e_list, layer_list = END_TO_END, PER_LAYER
    metrics = {}
    for name, unit in (layer_list if args.trace else e2e_list):
        value = (layer if args.trace else e2e).get(name)
        if value is None:
            print(f"perfbench: metric {name} could not be computed", file=sys.stderr)
            return 2
        metrics[name] = {"value": value, "unit": unit}

    for name, unit in e2e_list:
        print(f"metric {name} {fmt(e2e.get(name))} {unit}")
    for name, value, unit in named:
        print(f"metric {name} {fmt(value)} {unit}")
    if args.trace:
        for name, unit in PER_LAYER if layer_list is PER_LAYER else []:
            print(f"metric {name} {fmt(layer.get(name))} {unit}")
    print(f"metric fail_ratio {failed / attempted} ratio")
    record = {k: d[k] for k in ("workload", "seed", "seconds", "trace", "nproc", "calib", "conf")}
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": bool(correct) and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
