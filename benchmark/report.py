"""Turns what the benchmark JVM recorded into the printed metrics."""

from collections import defaultdict

import metrics
import stats

MB = 1048576.0


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def problems(res, verdicts):
    """Every failed operation or check, as (name, reason)."""
    out = [(f"{o['name']} (pass {o['pass']})", o["error"]) for o in res["ops"] if o["error"]]
    out += [(c["name"], c["error"]) for c in res["checks"] if c["error"]]
    rows = defaultdict(set)  # per query; a phased query's rows are its probe's
    for o in res["ops"]:
        if not o["error"] and not o["name"].endswith(".build"):
            rows[o["name"].removesuffix(".probe")].add(o["rows"])
    for q, (n, err) in verdicts.items():
        if err:
            out.append((f"oracle.{q}", err))
        elif rows[q] and rows[q] != {n}:
            out.append((f"oracle.{q}", f"passes returned {sorted(rows[q])} rows, oracle {n}"))
    return out


def throughput(ops):
    """Operations per second of a pass, from each operation's median
    latency over the passes given.
    """
    by_name = defaultdict(list)
    for o in ops:
        by_name[o["name"]].append(o["latency_s"])
    per_pass = sum(stats.median(v) for v in by_name.values())
    return len(by_name) / per_pass if per_pass else 0.0


def end_to_end(res, attempted, failed):
    warm_ops = [o for o in res["ops"] if o["phase"] == "warm"]
    warm = [o["latency_s"] for o in warm_ops]
    return {
        "setup_s": stats.median(res["setup_s"]),
        "cold_pass_s": res["cold_pass_s"],
        "ops_per_s": throughput(warm_ops),
        "latency_p50_s": stats.percentile(warm, 0.5),
        "latency_p90_s": stats.percentile(warm, 0.9),
        "ok_frac": 1.0 - failed / attempted,
        "heap_live_mb": res["heap_live_mb"],
    }


def per_layer(res, tmp_left):
    ops = [o for o in res["ops"] if o["phase"] == "traced"]
    ids = {o["id"] for o in ops}
    spans = [s for s in res["spans"] if s["op"] in ids]
    layers = {x["op"]: x for x in res["layers"]}
    zero = defaultdict(int)

    # inclusive and self time per (op, span name)
    incl = defaultdict(float)
    self_by_layer = defaultdict(float)
    selfs = stats.self_times(spans)
    for s in spans:
        incl[(s["op"], s["name"])] += (s["end_ns"] - s["start_ns"]) / 1e9
        layer = "store" if s["name"].startswith("store.") else s["name"]
        self_by_layer[layer] += selfs[s["id"]]

    def per_op(f):
        return _mean(f(o) for o in ops)

    def lay(o, k):
        return layers.get(o["id"], zero)[k]

    m = {
        "queries.build_s": per_op(lambda o: incl[(o["id"], "queries.build")]),
        "queries.eager_jobs": per_op(lambda o: lay(o, "eager_jobs")),
        "catalyst.plan_s": per_op(lambda o: incl[(o["id"], "catalyst.plan")]),
        "exec.jobs": per_op(lambda o: lay(o, "jobs")),
        "exec.sched_wait_s": per_op(lambda o: lay(o, "sched_wait_ms") / 1e3),
        "exec.run_s": per_op(lambda o: incl[(o["id"], "exec.run")]),
        "exec.stages": per_op(lambda o: lay(o, "stages")),
        "exec.tasks": per_op(lambda o: lay(o, "tasks")),
        "exec.task_run_s": per_op(lambda o: lay(o, "task_run_ms") / 1e3),
        "exec.task_cpu_s": per_op(lambda o: lay(o, "task_cpu_ns") / 1e9),
        "exec.core_util": sum(lay(o, "task_run_ms") for o in ops) / 1e3
        / (res["traced_s"] * res["cores"]) if ops else 0.0,
        "exec.peak_task_mem_mb": per_op(lambda o: lay(o, "peak_mem") / MB),
        "scan.input_bytes": per_op(lambda o: lay(o, "input_bytes")),
        "shuffle.write_bytes": per_op(lambda o: lay(o, "shuffle_write")),
        "shuffle.read_bytes": per_op(lambda o: lay(o, "shuffle_read")),
        "shuffle.fetch_wait_s": per_op(lambda o: lay(o, "fetch_wait_ms") / 1e3),
        "shuffle.spill_bytes": per_op(lambda o: lay(o, "spill_bytes")),
        "gc.time_s": per_op(lambda o: o["gc_ms"] / 1e3),
        "gc.count": per_op(lambda o: o["gc_count"]),
        "storage.pinned_mb_end": res["storage_end"]["pinned_mb"],
        "storage.cached_plans_end": res["storage_end"]["cached_plans"],
        "storage.persistent_rdds_end": res["storage_end"]["persistent_rdds"],
        "storage.leaking_ops": len({o["name"] for o in res["ops"] if o["leaked"]}),
    }

    for call in metrics.STORE_CALLS:
        m[f"store.{call}_s"] = _mean(o["latency_s"] for o in ops if o["name"] == call)
    written = [o for o in ops if "files_written" in o]
    m["store.files_written"] = _mean(o["files_written"] for o in written)
    m["store.meta_files_written"] = _mean(o["meta_files_written"] for o in written)
    m["store.bytes_written"] = _mean(o["bytes_written"] for o in written)
    ex = res["extras"]
    m["store.versions_live"] = ex.get("versions_live", 0)
    points = [o for o in ops if "point_files_read" in o]
    m["store.point_files_read"] = _mean(o["point_files_read"] for o in points)
    m["store.point_skip_ratio"] = _mean(
        1 - o["point_files_read"] / o["point_files_total"] for o in points if o["point_files_total"])

    # store figures a user sees, from the untraced warm passes
    warm = [o for o in res["ops"] if o["phase"] == "warm"]
    writes = [o["latency_s"] for o in warm if o["kind"] == "write"]
    reads = [o["latency_s"] for o in warm if o["kind"] == "read"]
    upserts = [o for o in warm if o["name"] == "commitUpsert"]
    m["store.write_p50_s"] = stats.median(writes) if writes else 0.0
    m["store.read_p50_s"] = stats.median(reads) if reads else 0.0
    m["store.upsert_rows_per_s"] = (sum(o["rows"] for o in upserts)
                                    / sum(o["latency_s"] for o in upserts)) if upserts else 0.0
    m["store.space_amp"] = ex["table_bytes"] / ex["fresh_bytes"] if ex.get("fresh_bytes") else 0.0
    m["tmp.bytes_left"] = tmp_left

    for f in metrics.FAMILIES:
        fam = [o for o in ops if o["family"] == f]
        for part, span in (("build", "queries.build"), ("plan", "catalyst.plan"), ("exec", "exec.run")):
            m[f"fam.{f}.{part}_s"] = _mean(incl[(o["id"], span)] for o in fam)

    for layer in metrics.SELF_LAYERS:
        m[f"self.{layer}_s"] = self_by_layer[layer] / len(ops) if ops else 0.0

    traced = throughput(ops)
    untraced = throughput(warm)
    m["trace.ops_per_s"] = traced
    m["trace.untraced_ops_per_s"] = untraced
    m["trace.ops_ratio"] = traced / untraced
    return m


def summarize(res, verdicts, tmp_left, trace, doc):
    """The printed result, plus the list of problems behind `correct`.
    `doc` is the BENCHMARK.json document, which names the metrics.
    """
    bad = problems(res, verdicts)
    attempted = len(res["ops"]) + len(res["checks"]) + len(verdicts)
    failed = min(len(bad), attempted)
    values = per_layer(res, tmp_left) if trace else end_to_end(res, attempted, failed)
    wanted = metrics.catalogue(doc, trace)
    missing = [n for n, _ in wanted if n not in values]
    if missing:
        raise KeyError(f"metrics not computed: {missing}")
    return {
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in wanted},
        "problems": bad,
    }
