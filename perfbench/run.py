#!/usr/bin/env python3
"""graft benchmark: one seeded workload, its end-to-end metrics (or, with
--trace 1, its per-layer metrics), and a check of every output.

    python3 perfbench/run.py --workload batch_cold --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source into .bench_build/; later runs reuse the build while
the sources are unchanged. Inputs, Spark dirs and results go under
.bench_build/work/ and are removed at the end. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
See perfbench/README.md for the workloads, metrics and layers.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory

import checks  # noqa: E402
import gen_tables  # noqa: E402
import gen_tweets  # noqa: E402
from stats import median, nest, percentile, self_times, union_ms  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"
WORKLOADS = ("batch_warm", "batch_cold", "stream_hashtag", "batch_x10")


def read_json(path):
    with open(path) as f:
        return json.load(f)


def read_text(path):
    with open(path) as f:
        return f.read()


CONF = read_json(os.path.join(HERE, "workloads.json"))
# the module openings Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def sources():
    out = []
    for base, ext in ((os.path.join(ROOT, "src", "main", "scala"), ".scala"),
                      (os.path.join(HERE, "harness"), ".scala")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(ext)]
    return sorted(out)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read_text(os.path.join(ROOT, "build.sbt")))
    if not m:
        fail("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build():
    """Compile graft's main sources and the harness with scalac, once per
    source state. Returns the classpath."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        fail("no graft sources under ./src/main/scala; run from a graft checkout")
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    if os.path.exists(stamp) and read_text(stamp) == h.hexdigest():
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs,
                       capture_output=True, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


def jvm(cp, work, args, timeout=160):
    """Run the harness; its raw observations land in <work>/out/raw.json."""
    d = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse", "out")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write hsperfdata files
    # to the system temp directory
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{CONF['heap']}", f"-Xmx{CONF['heap']}", "-XX:+UseG1GC", *ADD_OPENS,
           f"-Djava.io.tmpdir={d['tmp']}", f"-Dspark.local.dir={d['spark-local']}",
           f"-Dspark.sql.warehouse.dir={d['warehouse']}", f"-Dderby.system.home={d['tmp']}",
           "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "graftbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    t0 = time.monotonic()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
    print(f"perfbench: harness ran {time.monotonic() - t0:.1f} s", file=sys.stderr)
    if r.returncode != 0:
        tail = read_text(os.path.join(work, "jvm.log"))[-3000:]
        fail(f"harness exited with {r.returncode}:\n{tail}")
    return read_json(os.path.join(args["out"], "raw.json"))


# ---- workloads -----------------------------------------------------------

def mix_of(a):
    return CONF["batch"]["x10" if a.workload == "batch_x10" else "mix"]


def run_batch(a, cp, work):
    b = CONF["batch"]
    t0 = time.monotonic()
    data = os.path.join(work, "data")
    gen_tables.generate(data, a.seed, b["sf"])
    if a.workload == "batch_x10":
        gen_tables.replicate_x10(data, data + "_x10")
        data += "_x10"
    gen_s = time.monotonic() - t0
    mix = mix_of(a)
    out = os.path.join(work, "out")
    raw = jvm(cp, work, {
        "workload": a.workload, "data": data, "out": out,
        "seconds": a.seconds, "seed": a.seed, "trace": a.trace, "cpus": CONF["cpus"],
        "queries": ",".join(mix),
        "setups": b["setups"], "min_rounds": b["min_rounds"], "warmup_passes": b["warmup_passes"],
    })
    oracle = read_json(os.path.join(out, "oracle_sql.json"))
    bad = checks.batch(data, os.path.join(out, "results"), oracle)
    for q in raw["check_failed"]:
        bad.setdefault(q, "check run failed")
    for q, why in sorted(bad.items()):
        print(f"MISMATCH {q}: {why}", file=sys.stderr)
    samples = raw["samples"]
    failed = sum(not s["ok"] for s in samples) + len(bad)
    attempted = len(samples) + len(mix)
    if a.trace:
        return attempted, failed, batch_layers(a, raw, gen_s)
    ok = [s for s in samples if s["ok"]]
    per_query = {}
    for s in ok:
        per_query.setdefault(s["q"], []).append(s["total_s"])
    # each query's median, then their geometric mean: every query of the
    # mix weighs the same, whatever its latency
    lat = math.exp(sum(math.log(median(v)) for v in per_query.values()) / len(per_query))
    return attempted, failed, {
        "setup_s": (median(raw["setup_s"][1:]), "s"),  # the warm restarts
        "latency_p50_s": (lat, "s"),
        "throughput_per_s": (len(ok) / raw["timed_s"], "1/s"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }


def run_stream(a, cp, work):
    s = CONF["stream"]
    t0 = time.monotonic()
    staging = os.path.join(work, "staging")
    # the paced phase lasts the run's seconds
    paced_files = round(s["paced_rate"] * a.seconds)
    n_files = s["prime_files"] + 2 * s["drain_files"] + paced_files
    tally, max_event, _ = gen_tweets.render(staging, a.seed, n_files, s["docs_per_file"],
                                            window_s=s["window_s"])
    gen_s = time.monotonic() - t0
    out, src = os.path.join(work, "out"), os.path.join(work, "src")
    raw = jvm(cp, work, {
        "workload": a.workload, "staging": staging, "src": src, "out": out,
        "seconds": a.seconds, "seed": a.seed, "trace": a.trace, "cpus": CONF["cpus"],
        **{k: s[k] for k in (
            "setups", "lang", "window", "watermark", "trigger_ms", "max_files_per_trigger",
            "prime_files", "drain_files", "paced_rate")}, "paced_files": paced_files,
    })
    lex = read_json(os.path.join(out, "lexicon.json"))
    checked, wrong, reasons = checks.stream(
        src, os.path.join(out, "stream_out"), lex["pos"], lex["neg"], s["lang"],
        s["window_s"], max_event - s["watermark_s"] - s["window_s"], tally)
    for r in reasons:
        print(f"MISMATCH stream: {r}", file=sys.stderr)
    failed = wrong + (1 if reasons and not wrong else 0)
    prog = [json.loads(p) for p in raw["progress"]]
    for p in prog:
        p["commit"] = (datetime.datetime.fromisoformat(p["timestamp"]).timestamp() * 1000
                       + p["durationMs"].get("triggerExecution", 0))
        src0 = p["sources"][0]
        p["from"] = int(src0["startOffset"] or 0)
        p["to"] = int(src0["endOffset"] or 0)
    drains = []
    for d in raw["drains"]:
        done = min(p["commit"] for p in prog if p["to"] >= d["to"])
        drains.append((d, (done - d["release"]) / 1000, (d["to"] - d["from"]) * s["docs_per_file"]))
    paced = [r for r in raw["releases"] if r["file"] >= raw["paced_first"]]
    lat = [(next(p["commit"] for p in prog if p["from"] <= r["file"] < p["to"]) - r["due"]) / 1000
           for r in paced]
    if a.trace:
        return checked, failed, stream_layers(a, raw, prog, drains, paced, gen_s)
    return checked, failed, {
        "setup_s": (median(raw["setup_s"][1:]), "s"),  # the warm restarts
        "latency_p50_s": (percentile(lat, 0.5), "s"),
        "throughput_per_s": (sum(n for _, _, n in drains) / sum(t for _, t, _ in drains), "1/s"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }


# ---- per-layer report ----------------------------------------------------

LAYERS = ("unattributed", "operators", "write", "catalyst", "scheduler", "executor",
          "stream_offsets", "stream_planning", "stream_add_batch")
PHASES = (("latestOffset", "stream_offsets"), ("walCommit", "stream_offsets"),
          ("getBatch", "stream_offsets"), ("queryPlanning", "stream_planning"),
          ("addBatch", "stream_add_batch"), ("commitOffsets", "stream_offsets"))


def spark_children(spans):
    """Listener spans as (layer, depth, start, end, name)."""
    out = []
    for sp in spans:
        if sp["name"].startswith("catalyst."):
            out.append(("catalyst", 2, sp["start"], sp["end"], sp["name"]))
        elif sp["name"] == "job":
            out.append(("scheduler", 2, sp["start"], sp["end"], "job"))
        elif sp["name"] == "stage":
            out.append(("executor", 3, sp["start"], sp["end"], "stage"))
    return out


def write_trace(a, roots, children):
    """Every traced operation's spans, nested, to .bench_build/trace/."""
    d = os.path.join(BUILD, "trace")
    os.makedirs(d, exist_ok=True)
    spans = [s for r, kids in zip(roots, children) for s in nest(r, kids)]
    with open(os.path.join(d, f"{a.workload}-{a.seed}.json"), "w") as f:
        json.dump(spans, f)


def common_layers(raw, n_ops, roots, children, gen_s):
    """Metrics shared by every workload: listener counters per operation,
    self time per layer per operation, setup and generator time. `roots`
    are the traced operations as (name, op, start, end)."""
    wall_ms = sum(r[3] - r[2] for r in roots) or 1.0
    c = raw["counters"]
    per = lambda k: c.get(k, 0.0) / n_ops  # noqa: E731
    m = {k: (per(k), u) for k, u in (
        ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
        ("scheduler.delay_ms", "ms"), ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"),
        ("executor.gc_ms", "ms"), ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
        ("shuffle.fetch_wait_ms", "ms"), ("shuffle.spill_bytes", "bytes"),
        ("scan.input_bytes", "bytes"))}
    m["executor.peak_mem_bytes"] = (c.get("executor.peak_mem_bytes", 0.0), "bytes")
    m["executor.core_util"] = (c.get("executor.run_ms", 0.0) / (wall_ms * raw["cpus"]), "ratio")
    total = {layer: 0.0 for layer in LAYERS}
    for root, kids in zip(roots, children):
        for layer, ms in self_times(root[2:], kids).items():
            total[layer or "unattributed"] += ms
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = (total[layer] / n_ops, "ms")
    m["setup.first_s"] = (raw["setup_s"][0], "s")
    m["gen.input_s"] = (gen_s, "s")
    return m


def batch_layers(a, raw, gen_s):
    spans = raw["spans"]
    traced = [s for s in raw["samples"] if s["traced"]]
    untraced = [s for s in raw["samples"] if not s["traced"]]
    queries = [s for s in spans if s["name"] == "query"]
    by_op = {}
    for s in spans:
        if s["name"] in ("build", "write"):
            by_op.setdefault(s["op"], []).append(s)
    listener = spark_children(spans)
    roots, children, non_job = [], [], []
    for q in queries:
        r = (q["start"], q["end"])
        kids = [("operators" if s["name"] == "build" else "write", 1, s["start"], s["end"], s["name"])
                for s in by_op.get(q["op"], [])]
        kids += [k for k in listener if r[0] <= k[2] < r[1]]
        roots.append(("query", q["op"], *r))
        children.append(kids)
        build = next((s["end"] - s["start"] for s in by_op.get(q["op"], []) if s["name"] == "build"), 0)
        jobs = [(max(k[2], r[0] + build), min(k[3], r[1])) for k in kids
                if k[0] == "scheduler" and k[3] > r[0] + build]
        non_job.append(r[1] - r[0] - build - union_ms(jobs))
    n = len(queries)
    write_trace(a, roots, children)
    m = common_layers(raw, n, roots, children, gen_s)
    builds = [s["build_ms"] for s in traced]
    phase = lambda p: sum(s["end"] - s["start"] for s in spans if s["name"] == f"catalyst.{p}") / n  # noqa: E731
    invocations = len(raw["samples"])
    seams = sum(s["seams"] for s in raw["samples"]) / invocations
    traced_seams = sum(s["seams"] for s in traced)
    scans = raw["counters"].get("plancache.cached_scans", 0.0)
    m.update({
        "tables.resolve_ms": (median(raw["resolve_ms"]), "ms"),
        # per round of the mix; the last round may be cut short
        "operators.build_ms_sum": (sum(builds) / len(builds) * len(mix_of(a)), "ms"),
        "operators.build_ms_p50": (median(builds), "ms"),
        "operators.build_ms_max": (max(builds), "ms"),
        "catalyst.analysis_ms": (phase("analysis"), "ms"),
        "catalyst.optimization_ms": (phase("optimization"), "ms"),
        "catalyst.planning_ms": (phase("planning"), "ms"),
        "plancache.seam_builds": (seams, "count"),
        "plancache.cached_scans": (scans / len(traced), "count"),
        "plancache.checkpoint_builds": (sum(s["checkpoints"] for s in raw["samples"]) / invocations, "count"),
        "plancache.reuse_ratio": (scans / (scans + traced_seams) if scans + traced_seams else 0.0, "ratio"),
        "plancache.cache_bytes": (raw["cache_bytes"], "bytes"),
        "driver.non_job_ms": (sum(non_job) / n, "ms"),
        "trace.overhead_s": (median([s["total_s"] for s in traced]) -
                             median([s["total_s"] for s in untraced]), "s"),
    })
    for k, u in STREAM_ONLY.items():
        m[k] = (0.0, u)
    return m


STREAM_ONLY = {
    "stream.latest_offset_ms": "ms", "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.add_batch_ms": "ms", "stream.rows_per_batch": "count",
    "state.rows_total": "count", "state.mem_bytes": "bytes", "state.commit_ms": "ms",
    "state.rows_dropped_by_watermark": "count", "stream.backlog_files_max": "count",
    "gen.late_ms_max": "ms",
}
BATCH_ONLY = {
    "tables.resolve_ms": "ms", "operators.build_ms_sum": "ms", "operators.build_ms_p50": "ms",
    "operators.build_ms_max": "ms", "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "plancache.seam_builds": "count", "plancache.cached_scans": "count",
    "plancache.checkpoint_builds": "count",
    "plancache.reuse_ratio": "ratio", "plancache.cache_bytes": "bytes", "driver.non_job_ms": "ms",
}


def stream_layers(a, raw, prog, drains, paced, gen_s):
    spans = raw["spans"]
    by_batch = {p["batchId"]: p for p in prog}
    triggers = [s for s in spans if s["name"] == "trigger" and s["op"] in by_batch]
    listener = spark_children(spans)
    roots, children = [], []
    for t in triggers:
        r = (t["start"], t["end"])
        # progress reports phase durations only; they are laid out in the
        # order the micro-batch loop runs them
        kids, at = [], t["start"]
        for phase, layer in PHASES:
            d = by_batch[t["op"]]["durationMs"].get(phase, 0)
            kids.append((layer, 1, at, at + d, f"stream.{phase}"))
            at += d
        kids += [k for k in listener if r[0] <= k[2] < r[1]]
        roots.append(("trigger", t["op"], *r))
        children.append(kids)
    data = [p for p in prog if p["numInputRows"] > 0]
    traced_drain = next(d for d in drains if d[0]["traced"])
    drain_batches = [p for p in data if traced_drain[0]["from"] < p["to"] <= traced_drain[0]["to"]]
    paced_from = min(r["file"] for r in paced)
    paced_batches = [p for p in prog if p["to"] > paced_from]
    mean = lambda ps, k: sum(p["durationMs"].get(k, 0) for p in ps) / max(1, len(ps))  # noqa: E731
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    n = max(1, len(triggers))
    write_trace(a, roots, children)
    m = common_layers(raw, n, roots, children, gen_s)
    m.update({
        "stream.latest_offset_ms": (mean(paced_batches, "latestOffset"), "ms"),
        "stream.query_planning_ms": (mean(paced_batches, "queryPlanning"), "ms"),
        "stream.wal_commit_ms": (mean(paced_batches, "walCommit"), "ms"),
        "stream.commit_offsets_ms": (mean(paced_batches, "commitOffsets"), "ms"),
        "stream.add_batch_ms": (mean(drain_batches, "addBatch"), "ms"),
        "stream.rows_per_batch": (sum(p["numInputRows"] for p in drain_batches)
                                  / max(1, len(drain_batches)), "count"),
        "state.rows_total": (state[-1]["numRowsTotal"] if state else 0, "count"),
        "state.mem_bytes": (state[-1]["memoryUsedBytes"] if state else 0, "bytes"),
        "state.commit_ms": (sum(s["commitTimeMs"] for s in state) / max(1, len(state)), "ms"),
        "state.rows_dropped_by_watermark": (sum(s["numRowsDroppedByWatermark"] for s in state), "count"),
        "stream.backlog_files_max": (max(int(p["sources"][0]["latestOffset"] or 0) - p["from"]
                                         for p in paced_batches), "count"),
        "gen.late_ms_max": (max(r["actual"] - r["due"] for r in paced), "ms"),
        "trace.overhead_s": (traced_drain[1] - next(t for d, t, _ in drains if not d["traced"]), "s"),
    })
    for k, u in BATCH_ONLY.items():
        m[k] = (0.0, u)
    return m


# ---- main ----------------------------------------------------------------


def main():
    # a terminated run still stops and waits for its JVM: subprocess.run
    # kills the child when the exception raised here unwinds through it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "stream_hashtag":
            attempted, failed, metrics = run_stream(a, cp, work)
        else:
            attempted, failed, metrics = run_batch(a, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))


if __name__ == "__main__":
    main()
