#!/usr/bin/env python3
"""The benchmark's own checks; needs no build and no Spark.

  python3 perfbench/selftest.py

1. Generator determinism: two generations of the same seed give the same
   bytes, and another seed gives other per-seed inputs.
2. The tail rule: `query_tail_s` is the highest listed percentile with
   at least ten samples above it.
3. Metric names: every name run.py can print is declared in
   BENCHMARK.json and uses only [A-Za-z0-9_.-].
"""
import hashlib
import json
import os
import re
import shutil
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def digest_tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_generator(units):
    base = os.path.join(run.WORK, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    a = digest_tree(os.path.dirname(gen.generate(os.path.join(base, "a"), 7)))
    b = digest_tree(os.path.dirname(gen.generate(os.path.join(base, "b"), 7)))
    assert a == b, "same seed, different bytes: " + str(
        sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k)))
    c = digest_tree(gen.generate(os.path.join(base, "a"), 8))
    a7 = {k[len("seed_7/"):]: v for k, v in a.items() if k.startswith("seed_7/")}
    assert a7["adventureworks.zip"] != c["adventureworks.zip"], "seed does not reach the CSVs"
    assert a7["stream/batch_001.parquet"] != c["stream/batch_001.parquet"], \
        "seed does not reach the stream"
    shutil.rmtree(base, ignore_errors=True)
    for w, u in units.items():
        order = gen.key_order(u, 7, w)
        assert order == gen.key_order(u, 7, w), "key order is not a function of the seed"
        assert order != gen.key_order(u, 8, w), "seed does not reach the key order"
        assert sorted(order) == sorted(k for unit in u for k in unit), "order loses keys"
        for unit in u:  # a memo group stays whole and in member order
            i = order.index(unit[0])
            assert order[i:i + len(unit)] == unit, f"memo group {unit} split"


def check_tail():
    # 19 samples: no listed percentile has ten samples above it -> max
    assert run.tail(list(range(1, 20))) == (None, 19)
    # 20 samples: the nearest-rank median (10) has exactly ten above it
    assert run.tail(list(range(1, 21))) == (50, 10)
    # 40 samples: p75 = 30 has ten above it, p90 = 36 has four
    assert run.tail(list(range(1, 41))) == (75, 30)
    # 1000 samples: p99 = 990 has ten above it
    assert run.tail(list(range(1, 1001))) == (99, 990)
    # ties do not count as "above"
    assert run.tail([1.0] * 30 + [2.0] * 9) == (None, 2.0)


def fake_result(families):
    op = {"s": 1.0, "build_s": 0.1, "plan_s": 0.1, "exec_s": 0.8, "error": None,
          "rows": 1, "digest": "0"}
    ops = [dict(op, name=f"q_{f}", family=f) for f in families]
    ops += [dict(op, name=n, family=f) for n, f in (
        ("engine.unzip", "etl"), ("engine.csv_to_parquet.1.Sales_2015", "etl"),
        ("corpus.run", "corpus"), ("stream.batch_001", "stream"))]
    return {"setup_s": 1.0, "wall_s": 10.0, "heap_peak_mb": 100.0, "heap_retained_mb": 50.0, "gc_s": 0.1, "gc_count": 3,
            "codegen_compiles": 5, "codegen_compile_s": 0.5, "stream_arrived_docs": [10],
            "ops": ops, "trace": {"spark.jobs": 1.0, "callsite.Unlisted": 1.0}}


def check_names(spec):
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    declared = {}
    for kind in ("end_to_end", "per_layer"):
        for m in bench[kind]:
            assert NAME.match(m["name"]), f"bad metric name {m['name']!r}"
            assert m["name"] not in declared, f"metric {m['name']} declared twice"
            declared[m["name"]] = kind
    for w in bench["workloads"]:
        assert NAME.match(w["name"]) and w["name"] in run.WORKLOADS, w["name"]
    for workload in run.WORKLOADS:
        res = fake_result(spec["families"])
        e2e, _ = run.end_to_end(workload, res, [1.0, 1.2], 0)
        layer = run.per_layer(res, 9.0, spec["memo_groups"], spec["families"])
        layer.update({"host.load1": 0.0, "host.iowait_pct": 0.0, "host.steal_pct": 0.0})
        for name in list(e2e) + list(layer):
            assert NAME.match(name), f"printed name {name!r} has characters outside [A-Za-z0-9_.-]"
        want = {n for n, k in declared.items() if k == "per_layer"}
        assert set(layer) == want, (
            f"traced run prints {sorted(set(layer) - want)} undeclared, "
            f"misses {sorted(want - set(layer))}")
        e2e_declared = {n for n, k in declared.items() if k == "end_to_end"}
        assert e2e_declared <= set(e2e), f"undeclared end-to-end {sorted(e2e_declared - set(e2e))}"
        if workload != "pipelines":
            continue
        assert all(v is not None for v, _ in e2e.values()), "pipelines leaves a metric unset"
        assert run.latencies(workload, res["ops"]) == [1.0], \
            "pipelines latencies are not the CsvToParquet steps"


def main():
    spec = run.load_json("workloads.json")
    check_tail()
    check_names(spec)
    check_generator(run.key_units(spec))
    print("selftest: ok")


if __name__ == "__main__":
    main()
