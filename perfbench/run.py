#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the harness with sbt (`perfbench/build.sbt`) and caches the classpath
with a fingerprint of the sources; a run whose sources differ from the
fingerprint builds again. Inputs are generated per seed by
`perfbench/gen.py` and cached while gen.py is unchanged. A run then
starts fresh JVMs directly (no sbt): a probe that only sets up a
session (in a traced run it also makes an untraced reference pass),
and one that sets up and makes one pass over the workload; set-up time
is the median of the two. The pass is timed from outside the library; its
outputs are checked against `perfbench/goldens.json` and the
generator's expectations after the timed region.

The last stdout line is the result object; the line before it carries
the details (tail percentile and sample count, failure fraction, host
load, pipeline part times). Everything a run writes stays under
`perfbench/.work/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("catalog_floor", "pipelines")
RUN_BUDGET_S = 170  # every JVM of a run must end within this, build excluded
# what the build reads, relative to the checkout root
BUILD_SOURCES = ("build.sbt", "project", "src/main",
                 "perfbench/build.sbt", "perfbench/project", "perfbench/src")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)
CALLSITE_FILES = ("TrainingPipeline", "Dedup", "TrainingPrep", "TextOps", "Cleaning",
                  "EventOps", "CsvToParquet", "CuratedQuery", "Serving", "Digest", "Main")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def inputs():
    """The generated inputs of a seed, reused while gen.py is unchanged;
    returns the seed's directory."""
    d = os.path.join(WORK, "inputs")
    stamp = os.path.join(d, "generator.sha256")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    if not (os.path.isfile(stamp) and open(stamp).read() == digest):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        with open(stamp, "w") as f:
            f.write(digest)
    return d


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_fingerprint():
    """Hash of the names and contents of every file the build reads;
    sbt's own output directories (`target`) are left out."""
    h = hashlib.sha256()
    for rel in BUILD_SOURCES:
        top = os.path.join(ROOT, rel)
        files = [top] if os.path.isfile(top) else []
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp"))
            files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build when the sources differ from those of the cached classpath
    (always on the first run in a checkout); otherwise reuse it."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources at the checkout root; run from a full checkout")
    cp_file = os.path.join(WORK, "classpath.txt")
    fp_file = os.path.join(WORK, "classpath.sources")
    fingerprint = source_fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(fp_file) \
            and open(fp_file).read().strip() == fingerprint:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(WORK, exist_ok=True)
    if os.path.exists(fp_file):
        os.remove(fp_file)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fingerprint)
    return cp


# ------------------------------------------------------------------ jvm

def jvm(cp, args, tag, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", "-Xmn192m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}/derby"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(WORK, f"{tag}.log"), "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch files inside the checkout either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def load_snapshot():
    """(load1, iowait jiffies, steal jiffies, total jiffies) from /proc."""
    try:
        load1 = float(open("/proc/loadavg").read().split()[0])
        cpu = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return load1, cpu[4], cpu[7], sum(cpu)
    except (OSError, ValueError, IndexError):
        return 0.0, 0, 0, 0


# -------------------------------------------------------------- metrics

def tail(samples):
    """Highest percentile (nearest rank) with at least ten samples above
    it: (percentile, value), or (None, max) with fewer than 20 samples."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        v = xs[max(0, math.ceil(p / 100 * n) - 1)]
        if sum(1 for x in xs if x > v) >= 10:
            return p, v
    return None, xs[-1]


def check(workload, res, expect, goldens, record):
    """Marks each op ok or failed; returns the number failed."""
    ops = res["ops"]
    failed = 0

    def bad(op, why):
        nonlocal failed
        if op.get("why") is None:
            failed += 1
        op["why"] = why

    for op in ops:
        op["why"] = None
        if op["error"] is not None:
            bad(op, op["error"])
    if workload == "catalog_floor":
        g = goldens.setdefault(workload, {})
        for op in ops:
            if op["error"] is not None:
                continue
            got = {"rows": op["rows"], "digest": op["digest"]}
            if record:
                g[op["name"]] = got
            elif g.get(op["name"]) != got:
                bad(op, f"output {got} != golden {g.get(op['name'])}")
    else:
        by = {op["name"]: op for op in ops}

        def need(name, ok, why):
            op = by.get(name)
            if op is None:
                nonlocal failed
                failed += 1
            elif not ok:
                bad(op, why)
        rows = expect["curated_rows"]
        need("engine.quality", res.get("curated_rows") == rows,
             f"curated rows {res.get('curated_rows')} != {rows}")
        need("engine.quality", res.get("curated_null_price_rows") == expect["null_price_rows"],
             "NULL ProductPrice rows differ: lenient casts changed")
        need("engine.catalog_sink", res.get("catalog_rows") == rows, "catalog table rows differ")
        need("engine.jdbc_sink", res.get("jdbc_rows") == rows, "JDBC table rows differ")
        if record:
            goldens.setdefault("pipelines", {})["corpus_report"] = res.get("corpus_report")
        need("corpus.run", res.get("corpus_report") == goldens.get("pipelines", {}).get("corpus_report"),
             f"TrainingPipeline report {res.get('corpus_report')} != golden")
        got = res.get("stream_survivors") or []
        arrived = res.get("stream_arrived_docs") or []
        for i, want in enumerate(expect["stream_survivors"]):
            name = f"stream.batch_{i + 1:03d}"
            ok = i < len(got) and got[i] == want and arrived[i] == expect["stream_batch_docs"][i]
            need(name, ok, f"batch {i + 1} survivors {got[i] if i < len(got) else None} != {want}")
    return failed


def latencies(workload, ops):
    """The samples of query_p50_s and query_tail_s: per catalog key, or
    per CsvToParquet.run call on pipelines, the one repeated operation
    there."""
    ops = [o for o in ops if not (o["error"] or "").startswith("skipped")]
    if workload == "pipelines":
        ops = [o for o in ops if o["name"].startswith("engine.csv_to_parquet.")]
    return [o["s"] for o in ops] or [0.0]


def end_to_end(workload, res, setups, failed):
    """The user-facing metrics as (value, unit); None where a metric does
    not apply to the workload."""
    times = latencies(workload, res["ops"])
    pct, tail_v = tail(times)
    parts = pipeline_parts(res) if workload == "pipelines" else {}
    m = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (res["wall_s"], "s"),
        "query_p50_s": (statistics.median(times), "s"),
        "query_tail_s": (tail_v, "s"),
        "etl_s": (parts.get("pipelines.etl_s"), "s"),
        "corpus_s": (parts.get("pipelines.corpus_s"), "s"),
        "batch_p50_s": (parts.get("pipelines.batch_p50_s"), "s"),
        "ingest_docs_per_s": (parts.get("pipelines.ingest_docs_per_s"), "docs/s"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
        "failed_frac": (failed / max(1, len(res["ops"])), "fraction"),
    }
    return m, {"query_tail_pct": pct if pct is not None else "max", "query_samples": len(times)}


def pipeline_parts(res):
    ops = res["ops"]
    etl = sum(o["s"] for o in ops if o["family"] == "etl")
    corpus = sum(o["s"] for o in ops if o["family"] == "corpus")
    batches = [o["s"] for o in ops if o["name"].startswith("stream.batch_")]
    docs = sum(res.get("stream_arrived_docs") or [])
    return {
        "pipelines.etl_s": etl,
        "pipelines.corpus_s": corpus,
        "pipelines.batch_p50_s": statistics.median(batches) if batches else 0.0,
        "pipelines.ingest_docs_per_s": docs / sum(batches) if batches else 0.0,
    }


def per_layer(res, untraced_wall, memo_groups, families):
    ops = res["ops"]
    t = res.get("trace", {})
    m = {
        "plan.build_s": sum(o["build_s"] for o in ops),
        "plan.optimize_s": sum(o["plan_s"] for o in ops),
        "exec_s": sum(o["exec_s"] for o in ops if o["family"] not in ("etl", "corpus", "stream")),
        "codegen.compiles": res["codegen_compiles"],
        "codegen.compile_s": res["codegen_compile_s"],
    }
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.driver_only_s",
              "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
              "spark.task_wait_s", "spark.core_util", "spark.input_mb",
              "spark.output_mb", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
              "spark.spill_mb", "sql.actions", "sql.action_s"):
        m[k] = t.get(k, 0.0)
    # memo groups: the first member run in a pass builds, later ones hit
    build = hit = 0.0
    for members in memo_groups.values():
        run = [o for o in ops if o["name"] in members]
        if run:
            build += run[0]["s"]
            hit += sum(o["s"] for o in run[1:])
    m["memo.build_s"], m["memo.hit_s"] = build, hit
    for f in families:
        m[f"family.{f}.s"] = sum(o["s"] for o in ops if o["family"] == f)
    engine = {"unzip": "engine.unzip", "csv_to_parquet": "engine.csv_to_parquet.",
              "curated_plan": "engine.curated_plan", "curated_write": "engine.curated_write",
              "conform": "engine.conform", "catalog_sink": "engine.catalog_sink",
              "jdbc_sink": "engine.jdbc_sink", "quality": "engine.quality"}
    for k, prefix in engine.items():
        m[f"engine.{k}_s"] = sum(o["s"] for o in ops if o["name"].startswith(prefix))
    other = sum(v for k, v in t.items() if k.startswith("callsite.")
                and k[len("callsite."):] not in CALLSITE_FILES)
    for f in CALLSITE_FILES:
        m[f"callsite.{f}.task_s"] = t.get(f"callsite.{f}", 0.0)
    m["callsite.other.task_s"] = other
    batches = [o["s"] for o in ops if o["name"].startswith("stream.batch_")]
    m["streaming.first_batch_s"] = batches[0] if batches else 0.0
    for k, phase in (("get_batch", "getBatch"), ("planning", "queryPlanning"),
                     ("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                     ("latest_offset", "latestOffset"), ("commit_offsets", "commitOffsets")):
        m[f"streaming.{k}_s"] = t.get(f"streaming.phase.{phase}", 0.0)
    m["streaming.progress_events"] = t.get("streaming.progress_events", 0.0)
    m["streaming.state_mb"] = res.get("stream_state_mb", 0.0)
    m.update(pipeline_parts(res))
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    m["jvm.gc_s"] = res["gc_s"]
    m["jvm.gc_count"] = res["gc_count"]
    # a single-sample estimate: the traced run makes one untraced pass
    m["trace.overhead_frac"] = res["wall_s"] / untraced_wall - 1.0 if untraced_wall else 0.0
    return m


# ----------------------------------------------------------------- main

def key_units(spec):
    """Catalog workload -> its keys as order units: each memo group whole
    and in member order, every other key alone."""
    w = spec["catalog_floor"]
    return {"catalog_floor": [spec["memo_groups"][g] for g in w["groups"]]
            + [[k] for k in w["keys"]]}


def jvm_args(spec, workload, seed_dir, out):
    """Arguments every JVM of a run shares, set-up probe included."""
    return ["--workload", workload, "--inputs", os.path.join(WORK, "inputs"),
            "--seed-dir", seed_dir, "--work", os.path.join(WORK, "run"), "--out", out,
            "--warmup-keys", ",".join(spec.get(workload, {}).get("warmup", []))]


def one_pass(cp, spec, workload, seed_dir, keys, seconds, traced, tag, deadline):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(WORK, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    rc = jvm(cp, jvm_args(spec, workload, seed_dir, out) + [
        "--deadline-s", str(3 * seconds), "--trace", "1" if traced else "0",
        "--keys", ",".join(keys)], tag, deadline)
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload} run exited with {rc} (see {WORK}/{tag}.log)")
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="store this run's catalog digests and corpus report as goldens")
    a = ap.parse_args()

    spec = load_json("workloads.json")
    goldens = load_json("goldens.json")
    cp = classpath()
    seed_dir = gen.generate(inputs(), a.seed)
    expect = json.load(open(os.path.join(seed_dir, "expect.json")))
    units = key_units(spec).get(a.workload)
    keys = gen.key_order(units, a.seed, a.workload) if units else []
    deadline = time.monotonic() + RUN_BUDGET_S

    # set-up samples: a probe JVM and the measuring JVM. In a traced run
    # the probe also makes the untraced reference pass that
    # trace.overhead_frac compares against.
    setups = []
    untraced_wall = None
    if a.trace:
        ref = one_pass(cp, spec, a.workload, seed_dir, keys, a.seconds, False, "ref", deadline)
        setups.append(ref["setup_s"])
        untraced_wall = ref["wall_s"]
    else:
        out = os.path.join(WORK, "setup.json")
        rc = jvm(cp, jvm_args(spec, a.workload, seed_dir, out) + ["--setup-only"], "setup",
                 deadline)
        if rc != 0:
            fail(f"set-up probe exited with {rc} (see {WORK}/setup.log)")
        setups.append(json.load(open(out))["setup_s"])

    load0 = load_snapshot()
    res = one_pass(cp, spec, a.workload, seed_dir, keys, a.seconds, bool(a.trace), "pass",
                   deadline)
    load1 = load_snapshot()
    setups.append(res["setup_s"])

    failed = check(a.workload, res, expect, goldens, a.record_goldens)
    if a.record_goldens:
        with open(os.path.join(HERE, "goldens.json"), "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
            f.write("\n")
    attempted = len(res["ops"])
    e2e, tail_info = end_to_end(a.workload, res, setups, failed)

    jiffies = max(1, load1[3] - load0[3])
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "failures": {o["name"]: o["why"] for o in res["ops"] if o.get("why")},
        "setup_samples_s": setups, **tail_info,
        "load": {"load1_start": load0[0], "load1_end": load1[0],
                 "iowait_pct": 100.0 * (load1[1] - load0[1]) / jiffies,
                 "steal_pct": 100.0 * (load1[2] - load0[2]) / jiffies},
    }
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        values = per_layer(res, untraced_wall, spec["memo_groups"], spec["families"])
        values["host.load1"] = load0[0]
        values["host.iowait_pct"] = detail["load"]["iowait_pct"]
        values["host.steal_pct"] = detail["load"]["steal_pct"]
        declared = bench["per_layer"]
    else:
        values = {k: v for k, (v, _) in e2e.items()}
        declared = bench["end_to_end"]
    units = {d["name"]: d["unit"] for d in declared}
    missing = sorted(k for k in units if values.get(k) is None)
    if missing:
        fail(f"metrics declared in BENCHMARK.json but not measured: {missing}")
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
