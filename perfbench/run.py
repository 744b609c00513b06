#!/usr/bin/env python3
"""graft benchmark: one run of one workload, whole results, checked outputs.

    python3 perfbench/run.py --workload <relational|curation>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from
`src/main/scala` together with the harness (`perfbench/build.sbt`); later
runs reuse the build while the sources are unchanged. The run starts one
JVM (Spark local[nproc], shuffle partitions = nproc), which sets up three
times, runs one cold pass and then the workload's fixed number of warm
passes (one more, traced, with `--trace 1`), and fills any rest of
`--seconds` with passes that feed no metric; every output of every pass
is checked. The last stdout line is the result JSON: end-to-end metrics
with `--trace 0`, per-layer metrics (from the span file) with `--trace 1`.
A full report, the raw run record and the span file land in
`perfbench/out/`.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.tsv")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
OUT = os.path.join(HERE, "out")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run (after any build) must end well inside 180 s
BUILD_LIMIT_S = 800
MODULES = ["queries", "text", "dedup", "similarity", "graph", "pipeline"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


CHILD = None  # the running sbt or JVM process; its own process group


def stop_child(signum=None, frame=None):
    """Kill the running child's process group and wait for it; on a
    signal, exit."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns the exit code, or None on timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return CHILD.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        return None


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation whose jars the engine compiles and runs on."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("set SPARK_HOME to a Spark 4 installation")
    return home


def target_dir():
    t = os.environ.get("CARGO_TARGET_DIR")
    if t:
        return os.path.join(ROOT, t, "perfbench")
    return os.path.join(HERE, "target")


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt, offline; skipped when unchanged."""
    target = target_dir()
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp_file = os.path.join(target, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS,
               PERFBENCH_TARGET=target, SPARK_HOME=spark_home())
    print("perfbench: building engine and harness", file=sys.stderr)
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr,
                   stderr=sys.stderr)
    if rc != 0 or not os.path.isdir(classes):
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def make_delta(seed, out):
    """The standing-index append batch for `seed`: n/20 embeddings drawn
    without replacement, re-keyed past the largest `vec_id`."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(DATA, "embeddings.parquet")).sort_by("vec_id")
    picked = sorted(random.Random(seed).sample(range(t.num_rows),
                                               t.num_rows // 20))
    first = t.column("vec_id")[t.num_rows - 1].as_py() + 1
    sub = t.take(picked)
    sub = sub.set_column(sub.schema.get_field_index("vec_id"), "vec_id",
                         pa.array(range(first, first + len(picked)), pa.int64()))
    os.makedirs(out, exist_ok=True)
    pq.write_table(sub, os.path.join(out, "embeddings.parquet"))
    with open(os.path.join(out, "vectors.txt"), "w") as f:
        f.write(f"{len(picked)}\n")


def run_jvm(args, classes, work, record, spans, log, budget_s):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(work, 'local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              "-cp", f"{os.path.join(spark_home(), 'jars')}/*:{classes}",
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--digests", DIGESTS, "--work", work,
              "--out", record, "--spans", spans, "--cores", str(cores)])
    with open(log, "w") as lf:
        rc = run_child(cmd, budget_s, cwd=work, stdout=lf, stderr=lf)
    if rc is None:
        die(f"run exceeded {budget_s:.0f} s; log: {log}")
    if rc != 0 or not os.path.exists(record):
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.writelines(tail)
        die(f"JVM exited with {rc}; log: {log}")


def line_best(samples):
    """Each line's fastest warm sample. The host is shared: a neighbour's
    burst only ever adds time to a sample, so a line's fastest sample is
    the one a burst least disturbed, and it moves less from run to run
    than a median (under a bursty load on all four cores a relational
    run's line medians rose 26%, its fastest samples 15%). Every run
    takes the same number of samples of every line, so a faster program
    is estimated the same way as a slower one."""
    per = {}
    for s in samples:
        per.setdefault(s["op"], []).append(s["wall_s"])
    return {op: min(v) for op, v in per.items()}


def warm_passes(rec, traced):
    """Warm passes without a failure, traced or untraced."""
    return [p for p in rec["passes"] if p["kind"] == "warm" and p["ok"]
            and p["traced"] == traced]


def end_to_end(rec):
    """The end-to-end figures of a run record, and the report-only ones.
    Warm figures come from the samples of the warm passes without a
    failure: `warm_pass_s` adds up every op's fastest sample, the latency
    figures take the read lines' (query and serving lines). The tail is
    the mean of the slower half of the read lines: the slowest line alone
    spread twice as far from run to run."""
    warm = warm_passes(rec, traced=False)
    warm_idx = {p["index"] for p in warm}
    cold = [p for p in rec["passes"] if p["kind"] == "cold" and p["ok"]]
    samples = [s for s in rec["samples"] if s["pass"] in warm_idx]
    best = line_best(samples)
    reads = line_best(s for s in samples if s["phase"] in ("query", "serve"))
    m = {"setup_s": statistics.median(rec["setup_s"])}
    if cold:
        m["cold_pass_s"] = cold[0]["wall_s"]
    if best:
        m["warm_pass_s"] = sum(best.values())
    if reads:
        m["query_geomean_s"] = math.exp(statistics.mean(
            math.log(v) for v in reads.values()))
        slow = sorted(reads.values())[len(reads) // 2:]
        m["query_tail_s"] = statistics.mean(slow)
    m["peak_heap_mb"] = max(p["heap_after_gc_mb"] for p in rec["passes"]
                            if p["kind"] in ("cold", "warm"))
    extra = {"failed_ops": rec["failed"] / rec["attempted"],
             "warm_samples": len(samples), "warm_passes": len(warm)}
    for ph in ("ingest", "serve", "append"):
        ops = {s["op"] for s in samples if s["phase"] == ph}
        if ops:
            extra[f"{ph}_s"] = sum(best[op] for op in ops)
    return m, extra


def per_layer(rec, spans_path):
    """Per-layer table from the span file. Times are self times (a span's
    duration less what its children cover), summed per module over the
    traced warm passes and divided by their number; `codegen_compiles`
    comes from the cold pass, where compiling happens."""
    spans = [json.loads(l) for l in open(spans_path)]
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    for s in spans:
        s["self"] = s["end"] - s["start"] - child.get(s["id"], 0.0)
    passes = {p["index"]: p for p in rec["passes"]}
    ok_warm = {p["index"] for p in warm_passes(rec, traced=True)}
    cold = {i for i, p in passes.items() if p["kind"] == "cold" and p["ok"]}
    n = max(len(ok_warm), 1)
    cores = rec["cores"]
    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + (v or 0.0)

    for s in spans:
        if s["name"] not in ("build", "plan", "exec"):
            continue
        line = by_id[s["parent"]]
        mod, phase, pi = line["module"], line["phase"], line["pass"]
        if pi in cold:
            add(f"{mod}.codegen_compiles", s["codegen_compiles"])
        if pi not in ok_warm:
            continue
        add(f"{mod}.{s['name']}_s", s["self"] / n)
        for k in ("task_cpu_s", "gc_s", "jobs", "task_failures",
                  "shuffle_mb", "spill_mb", "input_rows"):
            add(f"{mod}.{k}", s.get(k, 0.0) / n)
        add(f"_{mod}.out_rows", (s.get("out_rows", 0) + s.get("written_rows", 0)) / n)
        add("sources.input_mb", s.get("input_mb", 0.0) / n)
        add("trace.span_self_s", s["self"] / n)
        if s["name"] == "exec":
            add(f"_{mod}.exec_core_s", (s["end"] - s["start"]) * cores / n)
            add(f"_{mod}.busy_s", s.get("task_busy_s", 0.0) / n)
        if phase in ("ingest", "append"):
            add(f"ops.{phase}_write_mb", s.get("write_mb", 0.0) / n)
            add("_ops.index_read_mb", s.get("input_mb", 0.0) / n)
        if phase == "serve":
            add("ops.serve_read_mb", s.get("input_mb", 0.0) / n)
    out = {}
    for mod in MODULES:
        for k in ("build_s", "plan_s", "exec_s", "task_cpu_s", "gc_s",
                  "jobs", "task_failures", "shuffle_mb", "spill_mb",
                  "input_rows", "codegen_compiles"):
            out[f"{mod}.{k}"] = acc.get(f"{mod}.{k}", 0.0)
        core_s = acc.get(f"_{mod}.exec_core_s", 0.0)
        out[f"{mod}.core_idle_frac"] = (
            max(0.0, 1.0 - acc.get(f"_{mod}.busy_s", 0.0) / core_s)
            if core_s else 0.0)
        rows_out = acc.get(f"_{mod}.out_rows", 0.0)
        out[f"{mod}.rows_in_per_out"] = (
            out[f"{mod}.input_rows"] / rows_out if rows_out else 0.0)
    out["sources.input_mb"] = acc.get("sources.input_mb", 0.0)
    for k in ("ops.ingest_write_mb", "ops.append_write_mb",
              "ops.serve_read_mb"):
        out[k] = acc.get(k, 0.0)
    read = acc.get("_ops.index_read_mb", 0.0)
    out["ops.write_amp"] = ((out["ops.ingest_write_mb"] +
                             out["ops.append_write_mb"]) / read
                            if read else 0.0)
    traced = [passes[i]["wall_s"] for i in ok_warm]
    # the first warm pass (untraced) still carries JIT warm-up
    first = min(p["index"] for p in rec["passes"] if p["kind"] == "warm")
    untraced = [p["wall_s"] for p in warm_passes(rec, traced=False)
                if p["index"] != first]
    if traced and untraced:
        out["trace.overhead_frac"] = (statistics.median(traced) /
                                      statistics.median(untraced) - 1.0)
    if traced:
        out["trace.span_cover_frac"] = (acc.get("trace.span_self_s", 0.0) /
                                        statistics.mean(traced))
    return out


UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
         "query_geomean_s": "s", "query_tail_s": "s", "peak_heap_mb": "MB",
         "failed_ops": "ratio", "warm_samples": "count",
         "warm_passes": "count", "ingest_s": "s", "append_s": "s",
         "serve_s": "s"}


def layer_unit(name):
    k = name.split(".", 1)[1]
    if k.endswith("_s"):
        return "s"
    if k.endswith("_mb"):
        return "MB"
    if k.endswith("_frac") or k in ("rows_in_per_out", "write_amp"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("relational", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_child)
    for need in (ENGINE_SRC, DATA, DIGESTS):
        if not os.path.exists(need):
            die(f"missing {os.path.relpath(need, ROOT)}: run from the root "
                "of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")
    classes = build()
    started = time.time()

    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    record = os.path.join(OUT, f"{tag}.record.json")
    spans = os.path.join(OUT, f"{tag}.spans.jsonl")
    log = os.path.join(OUT, f"{tag}.log")
    for f in (record, spans):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(work, exist_ok=True)
    try:
        if args.workload == "curation":
            make_delta(args.seed, os.path.join(work, "delta"))
        run_jvm(args, classes, work, record, spans, log,
                RUN_LIMIT_S - (time.time() - started))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(record) as f:
        rec = json.load(f)

    e2e, extra = end_to_end(rec)
    report = {"workload": args.workload, "seed": args.seed,
              "cores": rec["cores"], "heap_max_mb": rec["heap_max_mb"],
              "end_to_end": e2e, "report_only": extra,
              "failures": rec["failures"]}
    if args.trace:
        layers = per_layer(rec, spans)
        report["per_layer"] = layers
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(OUT, f"{tag}.report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for k, v in list(e2e.items()) + list(extra.items()):
        print(f"perfbench {args.workload} {k} = {v} {UNITS[k]}")
    print(json.dumps({"correct": rec["failed"] == 0,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
