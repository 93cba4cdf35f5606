"""Metric derivation from a harness result file.

End-to-end metrics come from untraced runs, per-layer metrics from traced
runs. Per-layer values are per pass: summed over a traced pass's
operations, then the median over the traced passes.
"""
import math
import statistics

from workloads import FAMILIES, PUBLISH_CONSUMERS, CONTROL

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

KERNELS = ["cosine_sim", "dot_prod", "l2_sq", "nearest_cos", "nearest_l2",
           "md5_h60", "rolling_fp", "lang_scores", "subword_tokens",
           "bloom_might_contain"]

END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_tail_s", "s", "lower", 0.25),
    ("ok_frac", "ratio", "higher", 0.01),
    ("retained_heap_mb", "MB", "lower", 0.15),
]

LAYER_FIXED = [
    ("graft.session_s", "s", "lower"),
    ("entry.construct_s", "s", "lower"),
    ("entry.construct_jobs", "count", "lower"),
    ("entry.construct_share", "ratio", "lower"),
    ("publish.warm_extra_s", "s", "lower"),
    ("iter.rounds", "count", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimize_s", "s", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    ("catalyst.plan_nodes", "count", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.tasks_per_stage", "ratio", "higher"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.cores_busy", "cores", "higher"),
    ("exec.task_wait_s", "s", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.peak_exec_mem_mb", "MB", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("tables.scan_mb", "MB", "lower"),
    ("tables.scan_rows", "count", "lower"),
    ("tables.scan_tasks", "count", "higher"),
    ("etl.ingest_s", "s", "lower"),
    ("etl.zone_transform_s", "s", "lower"),
    ("etl.upsert_partitioned_s", "s", "lower"),
    ("etl.compact_s", "s", "lower"),
    ("tables.write_mb", "MB", "lower"),
    ("tables.write_files", "count", "lower"),
    ("control.q_zorder_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("jvm.peak_heap_mb", "MB", "lower"),
    ("jvm.alloc_mb", "MB", "lower"),
]


def per_layer_spec():
    spec = list(LAYER_FIXED)
    for f in FAMILIES:
        spec += [(f"ops.{f}.construct_s", "s", "lower"),
                 (f"ops.{f}.exec_s", "s", "lower"),
                 (f"ops.{f}.jobs", "count", "lower")]
    for k in KERNELS:
        spec += [(f"kernel.{k}.ns_per_row", "ns", "lower"),
                 (f"kernel.{k}.catalyst_ns_per_row", "ns", "lower")]
    return spec


def tail(samples):
    """(percentile, value, beyond): the highest ladder percentile with at
    least ten samples beyond it (nearest rank). With fewer than twenty
    samples no percentile qualifies and the median is given, with its
    `beyond` count showing the shortfall."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            best = (p, xs[rank - 1], n - rank)
    if best is None:
        med = statistics.median(xs)
        best = (50.0, med, sum(1 for x in xs if x > med))
    return best


def failures(result, verdicts):
    """(attempted, [(op name, reason)]): every warm-up and timed operation
    is attempted; one fails if it threw, or if its output check failed.
    `verdicts` maps an operation to the problem its output check found."""
    ops = result["warm"] + result["samples"]
    failed = []
    for o in ops:
        why = o.get("err") or verdicts.get(o["name"])
        if why is None and o["kind"] == "gate" and o.get("rows", -1) >= 0:
            want = verdicts.get(("rows", o["name"]))
            if want is not None and o["rows"] != want:
                why = f"toRdd rows {o['rows']} != oracle rows {want}"
        if why:
            failed.append((o["name"], why))
    for c in result["checks"]:
        if c.get("err"):
            failed.append((c["name"], c["err"]))
    return len(ops) + len(result["checks"]), failed


def _ok(samples):
    return [s for s in samples if "err" not in s]


def end_to_end(result, attempted, failed):
    samples = _ok(result["samples"])
    passes = [p["s"] for p in result["passes"] if not p["traced"]]
    lat = [s["s"] for s in samples]
    pct, tail_v, beyond = tail(lat)
    m = {
        "setup_s": (result["setup_end_ms"] - result["jvm_start_ms"]) / 1e3,
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "ok_frac": 1.0 - len(failed) / attempted,
        "retained_heap_mb": max(p["live_heap_mb"] for p in result["passes"]),
    }
    note = (f"op_tail_s is p{pct:g} of {len(lat)} timed operations "
            f"({beyond} beyond it)")
    return m, note


def _median_by_pass(samples, value):
    by = {}
    for s in samples:
        v = value(s)
        if v is not None:
            by[s["pass"]] = by.get(s["pass"], 0.0) + v
    return statistics.median(by.values()) if by else 0.0


def layers(result):
    """(metrics, per-op ledger rows) from a traced run."""
    traced = [s for s in _ok(result["samples"]) if s["traced"]]
    untraced = [p["s"] for p in result["passes"] if not p["traced"]]
    traced_p = [p["s"] for p in result["passes"] if p["traced"]]
    gates = [s for s in traced if s["kind"] == "gate"]
    lay = result["layers"]

    def L(s, phase=None):
        """Listener counts of one sample (one phase, or all)."""
        out = {}
        for ph in ([phase] if phase else
                   ["construct", "plan", "execute", "write", "-"]):
            for k, v in lay.get(f"{s['pass']}:{s['name']}|{ph}", {}).items():
                out[k] = max(out.get(k, 0), v) if k == "peak_mem" \
                    else out.get(k, 0) + v
        return out

    med = lambda f, xs=traced: _median_by_pass(xs, f)  # noqa: E731
    cons = med(lambda s: s.get("construct_s"), gates)
    plan = med(lambda s: s.get("plan_s"), gates)
    exe = med(lambda s: s.get("exec_s"), gates)
    run_ms = med(lambda s: L(s, "execute").get("run_ms", 0), gates)
    stages = med(lambda s: L(s).get("stages", 0))
    tasks = med(lambda s: L(s).get("tasks", 0))
    timed = {}
    for s in _ok(result["samples"]):
        timed.setdefault(s["name"], []).append(s["s"])
    warm = {w["name"]: w["s"] for w in result["warm"] if "s" in w}
    mb = 1048576.0
    m = {
        "graft.session_s": result["session_s"],
        "entry.construct_s": cons,
        "entry.construct_jobs": med(lambda s: L(s, "construct").get("jobs", 0),
                                    gates),
        "entry.construct_share": cons / (cons + plan + exe)
        if cons + plan + exe > 0 else 0.0,
        "publish.warm_extra_s": sum(
            warm[g] - statistics.median(timed[g]) for g in PUBLISH_CONSUMERS
            if g in warm and g in timed),
        "iter.rounds": med(lambda s: s.get("rounds", 0)),
        "catalyst.analysis_s": med(
            lambda s: s.get("catalyst", {}).get("analysis"), gates),
        "catalyst.optimize_s": med(
            lambda s: s.get("catalyst", {}).get("optimization"), gates),
        "catalyst.plan_s": med(
            lambda s: s.get("catalyst", {}).get("planning"), gates),
        "catalyst.plan_nodes": med(lambda s: s.get("plan_nodes"), gates),
        "exec.s": exe,
        "exec.jobs": med(lambda s: L(s).get("jobs", 0)),
        "exec.stages": stages,
        "exec.tasks": tasks,
        "exec.tasks_per_stage": tasks / stages if stages else 0.0,
        "exec.task_run_s": med(lambda s: L(s).get("run_ms", 0)) / 1e3,
        "exec.task_cpu_s": med(lambda s: L(s).get("cpu_ns", 0)) / 1e9,
        "exec.cores_busy": run_ms / 1e3 / exe if exe else 0.0,
        "exec.task_wait_s": med(lambda s: L(s).get("wait_ms", 0)) / 1e3,
        "exec.shuffle_read_mb": med(
            lambda s: L(s).get("shuffle_read", 0)) / mb,
        "exec.shuffle_write_mb": med(
            lambda s: L(s).get("shuffle_write", 0)) / mb,
        "exec.spill_mb": med(lambda s: L(s).get("spill", 0)) / mb,
        "exec.peak_exec_mem_mb": max(
            [L(s).get("peak_mem", 0) for s in traced] or [0]) / mb,
        "exec.gc_s": med(lambda s: L(s).get("gc_ms", 0)) / 1e3,
        "tables.scan_mb": med(lambda s: L(s).get("in_bytes", 0)) / mb,
        "tables.scan_rows": med(lambda s: L(s).get("in_records", 0)),
        "tables.scan_tasks": med(lambda s: L(s).get("scan_tasks", 0)),
        "etl.ingest_s": med(lambda s: s["s"] if s["kind"] != "gate"
                            else None),
        "etl.zone_transform_s": med(
            lambda s: s["s"] if s["kind"] == "zone" else None),
        "etl.upsert_partitioned_s": med(
            lambda s: s["s"] if s["kind"] == "upsert" else None),
        "etl.compact_s": med(
            lambda s: s["s"] if s["kind"] == "compact" else None),
        "tables.write_mb": med(lambda s: L(s, "write").get("out_bytes", 0)
                               if s["kind"] != "gate" else None) / mb,
        "tables.write_files": med(lambda s: s.get("write_files")),
        "control.q_zorder_s": statistics.median(timed[CONTROL])
        if CONTROL in timed else 0.0,
        "trace.overhead_frac": statistics.median(traced_p) /
        statistics.median(untraced) - 1.0 if untraced and traced_p else 0.0,
        "jvm.peak_heap_mb": statistics.median(
            p["peak_heap_mb"] for p in result["passes"] if p["traced"]),
        "jvm.alloc_mb": statistics.median(
            p["alloc_mb"] for p in result["passes"] if p["traced"]),
    }
    for f in FAMILIES:
        fam = [s for s in gates if s["family"] == f]
        m[f"ops.{f}.construct_s"] = med(lambda s: s["construct_s"], fam)
        m[f"ops.{f}.exec_s"] = med(lambda s: s["exec_s"], fam)
        m[f"ops.{f}.jobs"] = med(lambda s: L(s).get("jobs", 0), fam)
    for k in KERNELS:
        kr = result["kernels"].get(k, {})
        m[f"kernel.{k}.ns_per_row"] = kr.get("ns_per_row", 0.0)
        m[f"kernel.{k}.catalyst_ns_per_row"] = kr.get("catalyst_ns_per_row",
                                                      0.0)
    ledger = []
    for name in sorted({s["name"] for s in traced}):
        xs = [s for s in traced if s["name"] == name]
        row = {"op": name, "kind": xs[0]["kind"], "family": xs[0]["family"],
               "samples": len(xs),
               "wall_s": statistics.median(s["s"] for s in xs)}
        if xs[0]["kind"] == "gate":
            for k in ("construct_s", "plan_s", "exec_s"):
                row[k] = statistics.median(s[k] for s in xs)
            row["construct_jobs"] = statistics.median(
                L(s, "construct").get("jobs", 0) for s in xs)
        for k in ("jobs", "stages", "tasks", "run_ms", "in_bytes",
                  "shuffle_read", "shuffle_write"):
            row[k] = statistics.median(L(s).get(k, 0) for s in xs)
        row["rounds"] = statistics.median(s.get("rounds", 0) for s in xs)
        ledger.append(row)
    return m, ledger
