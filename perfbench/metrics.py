"""Metrics of one run, from the harness result JSON.

End-to-end metrics come from untraced runs; per-layer metrics from the
listener and spans of a traced run. Per-layer figures are medians over
the counted warm passes, except cold_extra_jobs, store_mb and jit_s (the
cold pass), heap_growth_mb (collected heap after the last warm pass less
after the first) and ext_cpu_cores / steal_cores (the most of any pass).

The counted warm passes are the planned ones (at least two, more while
--seconds allow) less one noisy pass per re-measure the harness ran:
of all warm passes, the planned number with the least external load
(other processes and hypervisor steal, from /proc/stat).
"""

from statistics import median

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cold_pass_s", "s", "lower"),
    ("warm_pass_s", "s", "lower"),
    ("retained_mb", "MB", "lower"),
]

# The queries of the llm_small workload, in the order a pass runs them.
QUERIES = ["corpus_decontaminate_semantic", "dedup_neardup_probe",
           "dedup_embedding_lsh", "text_redact"]
SPECS = ["lineitem_rollup", "orders_rank", "events_daily", "docs_prep",
         "orders_upsert"]
MODULES = ["sources", "operators", "functions", "queries", "sinks", "pipeline"]

# name, unit, better; each is a key of a pass's listener summary
SPARK = [
    ("stages", "count", "lower"), ("tasks", "count", "lower"),
    ("task_idle_s", "s", "lower"), ("task_run_s", "s", "lower"),
    ("task_cpu_s", "s", "lower"), ("task_gc_s", "s", "lower"),
    ("busy_cores", "cores", "higher"), ("shuffle_write_mb", "MB", "lower"),
    ("shuffle_read_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
    ("scan_rows", "count", "lower"), ("output_mb", "MB", "lower"),
    ("output_rows", "count", "lower"),
]


def per_layer_spec():
    """(name, unit, better) of every per-layer metric, in print order."""
    out = [("build_s", "s", "lower"), ("build_jobs", "count", "lower"),
           ("action_s", "s", "lower"), ("action_jobs", "count", "lower")]
    for q in QUERIES:
        out += [(f"q.{q}.build_s", "s", "lower"), (f"q.{q}.action_s", "s", "lower"),
                (f"q.{q}.jobs", "count", "lower")]
    out += SPARK
    out += [("storage_peak_mb", "MB", "lower"), ("storage_end_mb", "MB", "lower")]
    for m in MODULES:
        out += [(f"mod.{m}.jobs", "count", "lower"), (f"mod.{m}.s", "s", "lower")]
    out += [("store_mb", "MB", "lower"), ("cold_extra_jobs", "count", "lower"),
            ("jit_s", "s", "lower"), ("gc_s", "s", "lower"),
            ("heap_growth_mb", "MB", "lower")]
    for s in SPECS:
        out += [(f"spec.{s}.s", "s", "lower"), (f"spec.{s}.jobs", "count", "lower")]
    out += [("upsert_rewrite_ratio", "ratio", "lower"), ("replay_s", "s", "lower"),
            ("traced_warm_pass_s", "s", "lower"),
            ("ext_cpu_cores", "cores", "lower"), ("steal_cores", "cores", "lower")]
    return out


def warm(res):
    ws = res["passes"][1:] or res["passes"]
    n = len(ws) - sum(p["remeasure"] for p in ws)
    return sorted(sorted(ws, key=lambda p: p["ext_cores"])[:n], key=lambda p: p["pass"])


def noisy(res):
    """Whether the cold pass or a counted warm pass ran under more
    external load than the harness's limit."""
    return any(p["ext_cores"] > res["ext_limit"] for p in [res["passes"][0], *warm(res)])


def _med(xs):
    xs = list(xs)
    return float(median(xs)) if xs else 0.0


def _ops(p, name):
    return [o for o in p["ops"] if o["name"] == name]


def end_to_end(res):
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (res["passes"][0]["wall_s"], "s"),
        "warm_pass_s": (_med(p["wall_s"] for p in warm(res)), "s"),
        "retained_mb": (res["retained_mb"], "MB"),
    }


def per_layer(res):
    ws = warm(res)
    cold = res["passes"][0]

    def lay(p, key):
        return p.get("layers", {}).get(key, 0.0)

    def wl(key):
        return _med(lay(p, key) for p in ws)

    def op_sum(p, field, name=None):
        return sum(o[field] for o in p["ops"] if name is None or o["name"] == name)

    v = {
        "build_s": _med(op_sum(p, "build_s") for p in ws),
        "build_jobs": wl("phase.build.jobs"),
        "action_s": _med(op_sum(p, "action_s") for p in ws),
        "action_jobs": wl("phase.action.jobs"),
    }
    for q in QUERIES:
        v[f"q.{q}.build_s"] = _med(op_sum(p, "build_s", q) for p in ws)
        v[f"q.{q}.action_s"] = _med(op_sum(p, "action_s", q) for p in ws)
        v[f"q.{q}.jobs"] = wl(f"op.{q}.jobs")
    for name, _, _ in SPARK:
        v[name] = wl(name)
    v["storage_peak_mb"] = _med(p.get("storage_peak_mb", 0.0) for p in ws)
    v["storage_end_mb"] = _med(p.get("storage_end_mb", 0.0) for p in ws)
    for m in MODULES:
        v[f"mod.{m}.jobs"] = wl(f"mod.{m}.jobs")
        v[f"mod.{m}.s"] = wl(f"mod.{m}.s")
    heaps = [p["heap_mb"] for p in res["passes"][1:] or res["passes"]]
    v.update({
        "store_mb": res["store_mb"],
        "cold_extra_jobs": lay(cold, "jobs") - wl("jobs"),
        "jit_s": cold["jit_s"],
        "gc_s": _med(p["gc_s"] for p in ws),
        "heap_growth_mb": heaps[-1] - heaps[0],
    })
    for s in SPECS:
        v[f"spec.{s}.s"] = _med(op_sum(p, "build_s", s) for p in ws)
        v[f"spec.{s}.jobs"] = wl(f"op.{s}.jobs")
    ratios = [o["rewrite_ratio"] for p in ws for o in _ops(p, "orders_upsert")
              if "rewrite_ratio" in o]
    v["upsert_rewrite_ratio"] = _med(ratios)
    v["replay_s"] = _med(op_sum(p, "build_s", "replay") for p in ws)
    v["traced_warm_pass_s"] = end_to_end(res)["warm_pass_s"][0]
    v["ext_cpu_cores"] = max(p["ext_cores"] for p in res["passes"])
    v["steal_cores"] = max(p["steal_cores"] for p in res["passes"])
    return {name: (float(v[name]), unit) for name, unit, _ in per_layer_spec()}


def attempted(res):
    return sum(len(p["ops"]) for p in res["passes"]) + len(res["verify"])


def failed_ops(res, failures):
    """Operations that raised in a timed pass or in the verification, plus
    those whose output failed a check (each operation counted once)."""
    bad = {(p["pass"], o["name"]) for p in res["passes"] for o in p["ops"] if o["error"]}
    bad |= {("verify", o["name"]) for o in res["verify"] if o["error"]}
    names = {f.split(":")[0] for f in failures}
    return len(bad) + len(names - {n for _, n in bad})


def detail(res, failures, notes):
    """What explains a run: per-pass walls and the machine's other load."""
    return {
        "workload": res["workload"], "cores": res["cores"],
        "pass_wall_s": [p["wall_s"] for p in res["passes"]],
        "counted_warm": [p["pass"] for p in warm(res)], "noisy": noisy(res),
        "ext_cores": [round(p["ext_cores"], 3) for p in res["passes"]],
        "steal_cores": [round(p["steal_cores"], 3) for p in res["passes"]],
        "setup_rounds_s": res["setup_rounds_s"], "session_s": res["session_s"],
        "inputs_s": res.get("inputs_s"), "heap_mb": [p["heap_mb"] for p in res["passes"]],
        "verify_s": round(sum(o["build_s"] + o["action_s"] for o in res["verify"]), 3),
        "errors": sorted({f"{o['name']}: {o['error']}" for p in res["passes"] + [
            {"ops": res["verify"]}] for o in p["ops"] if o["error"]}),
        "failures": failures, "check_notes": notes,
    }
