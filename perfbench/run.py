#!/usr/bin/env python3
"""graft benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the benchmark and the
graft library from source (perfbench/build.py); later runs reuse the
build until a source file changes. Each run generates its
inputs from --seed under .perfbench-work/, starts one JVM at
local[<cores>], measures for --seconds seconds, checks every output, and
prints a JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer ones (from a run with span capture and Spark listeners on).
A human-readable report, including each workload's per-layer table, goes
to stderr.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Generator and pipeline settings of each workload; see BENCH.md. warmup
# counts micro-batches (CDC) or passes over the rows (analytics_mix).
WORKLOADS = {
    # min_batch_s: a floor on the batch time, which sizes the backlog
    "cdc_trickle": {
        "feed": dict(events_per_file=2000, keys=50_000,
                     redeliver_share=0.10, window_files=2),
        "warmup": 14, "setup_reps": 3, "min_batch_s": 0.5,
    },
    "cdc_bulk": {
        "feed": dict(events_per_file=30_000, keys=50_000,
                     redeliver_share=0.30, window_files=1, hot_share=0.2),
        "warmup": 1, "setup_reps": 3, "min_batch_s": 2.0,
    },
    "analytics_mix": {"sf": 0.01, "warmup": 2, "setup_reps": 3},
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
    "java.management/sun.management",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build():
    """Compile the benchmark with graft (build.py) and, once per build,
    record a class-data-sharing archive from a short priming run. Returns
    (classpath, archive or None)."""
    import build as b
    try:
        cp, out = b.build()
    except b.BuildError as e:
        fail(f"build failed: {e}")
    archive = os.path.join(out, "cds.jsa")
    primed = os.path.join(out, "primed")
    if not os.path.exists(primed):
        t0 = time.time()
        prime(cp, archive)
        open(primed, "w").close()
        log(f"primed the class archive in {time.time() - t0:.1f} s")
    return cp, archive if os.path.exists(archive) else None


def prime(cp, archive):
    """Run both kinds of workload briefly in one JVM and dump the classes
    it loaded into a class-data-sharing archive, which later runs map
    instead of loading and verifying those classes again."""
    import gen
    work = os.path.join(ROOT, ".perfbench-work", f"prime-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        feed = dict(WORKLOADS["cdc_trickle"]["feed"], files=4)
        m = write_feed(work, 0, feed)
        gen.tables(os.path.join(work, "tables"), 0, WORKLOADS["analytics_mix"]["sf"])
        cmd = java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={archive}"]) + [
            "--workload", "prime", "--work", work, "--seed", "0", "--seconds", "0",
            "--trace", "0", "--cores", str(len(os.sched_getaffinity(0))), "--setup_reps", "1",
            "--warmup", "1", "--keys", str(m["keys"]),
            "--watermark_delay_s", str(m["watermark_delay_s"])]
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       env=jvm_env(), timeout=300)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"priming run failed, continuing without a class archive: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def java_cmd(cp, work, extra=()):
    import build as b
    java = b.java()
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap and the throughput collector: on 4 vCPUs the
    # trickle workload ran ~15% faster than with G1 and a growing heap
    # no hsperfdata file: the JVM writes nothing outside the checkout
    return [java, "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off", *extra, *opens,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"]


def jvm_env():
    """Spark binds to the loopback interface: the host name need not resolve."""
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    return env


def write_feed(work, seed, feed):
    """Generate a change feed into work/feed plus the manifest the JVM reads."""
    import gen
    m = gen.change_feed(os.path.join(work, "feed"), seed, **feed)
    with open(os.path.join(work, "manifest.tsv"), "w") as f:
        for e in m["files"]:
            f.write(f"{e['file']}\t{e['events']}\t{e['redeliveries']}\n")
    return m


def generate(cfg, seed, seconds, work):
    """Write the workload's inputs; return (seconds taken, JVM args, checks)."""
    import gen
    t0 = time.time()
    if "feed" not in cfg:
        gen.tables(os.path.join(work, "tables"), seed, cfg["sf"])
        return time.time() - t0, {"mix": cfg["mix"]}, []
    # a backlog long enough for the warm-up and the timed region
    feed = dict(cfg["feed"], files=cfg["warmup"] + 2 +
                math.ceil(seconds / cfg["min_batch_s"]))
    m = write_feed(work, seed, feed)
    gen_s = time.time() - t0
    try:
        gen.check_feed(os.path.join(work, "feed"), m)
        check = ("feed_self_check", True, f"{m['redeliveries']} redeliveries")
    except AssertionError as e:
        check = ("feed_self_check", False, str(e))
    return gen_s, {"keys": m["keys"], "watermark_delay_s": m["watermark_delay_s"]}, [check]


def oracle_checks(work):
    """Each analytics row's dumped output must equal its DuckDB oracle
    (after sorting columns by name and rows), or be non-empty when the
    row has no oracle."""
    import duckdb
    import oracle
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(work, 'tables', t)}.parquet')")
    with open(os.path.join(work, "oracle.json")) as f:
        sqls = json.load(f)
    out = []
    for row in sorted(os.listdir(os.path.join(work, "out"))):
        ok, detail = oracle.compare(con, os.path.join(work, "out", row), sqls.get(row))
        out.append((f"oracle:{row}", ok, detail))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--mix", choices=["light", "full"], default="light",
                    help="analytics_mix rows: the light benchmark mix or all twenty")
    ap.add_argument("--report", help="also write every measured figure (and the "
                    "spans of a traced run) as JSON to this path")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft sources not found next to perfbench/ (need build.sbt and src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, archive = build()

    cfg = dict(WORKLOADS[a.workload], mix=a.mix)
    work = os.path.join(ROOT, ".perfbench-work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s, jvm_args, checks = generate(cfg, a.seed, a.seconds, work)
        extra = [f"-XX:SharedArchiveFile={archive}"] if archive else []
        cmd = java_cmd(cp, work, extra) + [
            "--workload", a.workload, "--work", work, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(a.cores), "--setup_reps", str(cfg["setup_reps"]),
            "--warmup", str(cfg["warmup"])]
        for k, v in jvm_args.items():
            cmd += [f"--{k}", str(v)]
        j0 = time.time()
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=jvm_env())
        try:
            code = proc.wait(timeout=170 - gen_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM timed out")
        log(f"JVM ran {time.time() - j0:.1f} s")
        res_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(res_path):
            fail(f"benchmark JVM failed with exit code {code}")
        with open(res_path) as f:
            res = json.load(f)
        if a.workload == "analytics_mix":
            checks += oracle_checks(work)
        report(a, spec, res, gen_s, checks, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, spec, res, gen_s, checks, work):
    for name, ok, detail in checks:
        log(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + sum(1 for _, ok, _ in checks if not ok)
    correct = failed == 0 and all(c["ok"] for c in res["checks"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    info = res["info"]
    # set-up: input generation, Spark start, the median of the repeated
    # pipeline set-ups, and the warm-up
    m["setup_s"] = (gen_s + info["setup.spark_start_s"] + info["setup.median_rep_s"]
                    + info["setup.warmup_s"])
    layers = res["layers"]
    log(f"{a.workload} seed={a.seed} trace={a.trace}: attempted={attempted} failed={failed}")
    for k, v in sorted(info.items()):
        log(f"  info {k} = {v:.4f}")
    for k, v in m.items():
        log(f"  {k} = {v:.4f} {res['metrics'].get(k, {}).get('unit', 's')}")
    log(f"  setup.generate_s = {gen_s:.4f}")
    if a.trace:
        log(f"  per-layer table ({a.workload}):")
        for k, v in layers.items():
            log(f"    {k:34s} {v['value']:14.3f} {v['unit']}")
    if a.report:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, a.report + ".spans.jsonl")
        with open(a.report, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                       "attempted": attempted, "failed": failed, "correct": correct,
                       "metrics": m, "layers": {k: v["value"] for k, v in layers.items()},
                       "info": dict(info, **{"setup.generate_s": gen_s}),
                       "checks": res["checks"] + [{"name": n, "ok": ok, "detail": d}
                                                  for n, ok, d in checks]}, f, indent=1)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    # the traced run also reports its wall-clock figures, as per-layer ones
    source = dict(m, **{k: v["value"] for k, v in layers.items()}) if a.trace else m
    metrics = {}
    for e in wanted:
        v = source.get(e["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            correct = False
            log(f"metric {e['name']} was not measured")
            continue
        metrics[e["name"]] = {"value": v, "unit": e["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
