#!/usr/bin/env python3
"""Layer-ledger benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 1 \
      --trace 0

Builds the engine with the harness (perfbench/build.py), prepares the
workload's seeded inputs, runs one harness JVM (local[N], N = min(4,
nproc), shuffle partitions N), checks every output against the DuckDB
oracle, and prints the metrics as the last stdout line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes the per-operation ledger and the
spans under .perfbench/runs/. Everything the benchmark writes stays under
.perfbench/ in the working directory.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import FAMILY, WORKLOADS  # noqa: E402

TESTDATA = "/root/testdata"  # the fixture root TESTDATA.md documents
DEADLINE_S = 175.0
HEAP = "4g"
# Spark on JDK 17 outside spark-submit needs these (the same list the
# repository's build passes to forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def java(cp, plan_path, result_path, log_path, tmp, timeout):
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-cp", ":".join(cp),
            "perfbench.Harness", plan_path, result_path])
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=os.path.dirname(plan_path))
        try:
            p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness JVM exceeded {timeout:.0f} s")
    if p.returncode != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise SystemExit(f"harness JVM exited with {p.returncode}")
    with open(result_path) as f:
        return json.load(f)


def prepare(workload, seed, base, run_dir):
    """(data dir, ops, expectations) for one run. Derived inputs are cached
    under .perfbench/inputs: the gold copy per fixture, the rest per
    workload and seed."""
    spec = WORKLOADS[workload]
    data_dir = os.path.join(TESTDATA, spec["data"])
    with open(inputs.__file__, "rb") as f:  # a changed generator re-derives
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    seeded = os.path.join(base, workload, f"{seed}-{version}")
    os.makedirs(seeded, exist_ok=True)
    ops, expect = [], {"zones": [], "upsert": None}
    if spec["ingest"]:
        raw = os.path.join(seeded, "raw")
        batch_file = os.path.join(seeded, "raw.json")
        if not os.path.exists(batch_file):
            shutil.rmtree(raw, ignore_errors=True)
            batch = inputs.raw_batch(seed, raw)
            with open(batch_file, "w") as f:
                json.dump([[a, i, fs] for (a, i), fs in batch.items()], f)
        with open(batch_file) as f:
            batch = {(a, i): fs for a, i, fs in json.load(f)}
        for (api, iso), files in sorted(batch.items()):
            country = dict(inputs.COUNTRIES)[iso]
            zone = {"name": f"etl.zone_{api}_{iso}", "kind": "zone",
                    "family": "Etl", "api": api, "country": country,
                    "raw": os.path.join(raw, api, iso),
                    "processed": os.path.join(run_dir, "processed", api, iso),
                    "error": os.path.join(run_dir, "error", api, iso),
                    "schema": inputs.COVID_SCHEMA if api == "covid"
                    else inputs.WEATHER_SCHEMA}
            ops.append(zone)
            expect["zones"].append(
                (zone, inputs.expected_zones(api, country, files)))
        pristine = os.path.join(base, f"gold_events_{spec['data']}-{version}")
        inputs.gold_events(data_dir, pristine)
        bf = os.path.join(seeded, "backfill.parquet")
        touched_file = os.path.join(seeded, "touched.json")
        if not os.path.exists(touched_file):
            touched = inputs.backfill(seed, pristine, bf)
            with open(touched_file, "w") as f:
                json.dump(touched, f)
        with open(touched_file) as f:
            touched = json.load(f)
        gold = os.path.join(run_dir, "gold_events")
        shutil.copytree(pristine, gold,
                        ignore=shutil.ignore_patterns("_done"))
        ops.append({"name": "etl.upsert_partitioned", "kind": "upsert",
                    "family": "Etl", "gold": gold, "backfill": bf})
        ops.append({"name": "etl.compact", "kind": "compact",
                    "family": "Etl", "gold": gold, "partitions": touched})
        expect["upsert"] = {"gold": gold, "pristine": pristine,
                            "backfill": bf}
    ops += [{"name": g, "kind": "gate", "family": FAMILY[g]}
            for g in spec["gates"]]
    return data_dir, ops, expect


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    root = os.getcwd()
    if not os.path.isdir(TESTDATA):
        raise SystemExit(f"input fixture {TESTDATA} is missing")

    bench = os.path.join(root, ".perfbench")
    cp = build.ensure(root, os.path.join(bench, "build"))
    cores = min(4, os.cpu_count() or 1)
    base = os.path.join(bench, "inputs")

    run_dir = os.path.join(bench, "runs", f"{a.workload}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "gates"))
    data_dir, ops, expect = prepare(a.workload, a.seed, base, run_dir)

    plan = {"cores": cores, "seed": a.seed,
            "seconds": a.seconds, "trace": bool(a.trace),
            "kernel_probe": bool(a.trace)
            and WORKLOADS[a.workload]["kernel_probe"],
            "data_dir": data_dir,
            "out_dir": run_dir, "scratch": os.path.join(run_dir, "scratch"),
            "ops": ops}
    if expect["upsert"]:
        plan["verify_upsert"] = expect["upsert"]
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f, indent=1)
    log(f"{a.workload} seed {a.seed}: {len(ops)} operations per pass, "
        f"local[{cores}], input {data_dir}")
    result = java(cp, plan_path, os.path.join(run_dir, "result.json"),
                  os.path.join(run_dir, "jvm.log"),
                  os.path.join(run_dir, "scratch", "tmp"),
                  deadline - time.time())

    # output checks, outside every timed region
    gates = [o["name"] for o in ops if o["kind"] == "gate"]
    verdicts = {}
    oracles = oracle.oracle_frames(data_dir, result["oracle_sql"],
                                   os.path.join(bench, "oracle"))
    for g, (prob, rows) in oracle.check_gates(run_dir, oracles,
                                              gates).items():
        if prob:
            verdicts[g] = prob
        if rows is not None:
            verdicts[("rows", g)] = rows
    for zone, (processed, error) in expect["zones"]:
        prob = oracle.check_zone(zone["processed"], zone["error"],
                                 processed, error)
        if prob:
            verdicts[zone["name"]] = prob
    attempted, failed = metrics.failures(result, verdicts)
    for name, why in sorted(set(failed)):
        log(f"FAILED {name}: {why}")

    if a.trace:
        values, ledger = metrics.layers(result)
        spec = metrics.per_layer_spec()
        with open(os.path.join(run_dir, "ledger.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "metrics": values, "ops": ledger}, f, indent=1)
        log(f"ledger: {os.path.join(run_dir, 'ledger.json')}")
    else:
        values, note = metrics.end_to_end(result, attempted, failed)
        spec = [(n, u, b) for n, u, b, _ in metrics.END_TO_END]
        print(note)
    out = {"correct": not failed, "attempted": attempted,
           "failed": len(failed),
           "metrics": {n: {"value": values[n], "unit": u}
                       for n, u, _ in spec}}
    for n, u, _ in spec:
        print(f"{n} = {values[n]:.6g} {u}")
    print(f"seed = {a.seed}; wall = {time.time() - t_start:.1f} s")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
