"""Turn one harness result (result.json) into the benchmark's metrics.

End-to-end metrics come from the untraced timings; per-layer metrics come
from the span record of a traced run. Warm values are medians over the
warm passes (passes 2..N; in a traced run only the traced ones), cold
values are pass 1.
"""
import statistics

MB = 1 << 20


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))]


def supported_pct(n):
    """Highest whole percentile with at least ten samples beyond it."""
    return max(0, 100 - (1000 + n - 1) // n) if n >= 10 else 0


def dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def summarize(raw, wrong, trace):
    passes = raw["passes"]
    n_passes = len(passes)
    attempted = raw["attempted"]
    failed = min(attempted, n_passes * len(wrong))
    warm = [p for p in passes[1:] if not trace or not p["traced"]]
    warm_times = [t for p in warm for t in p["times"].values()]
    notes = {
        "passes": n_passes,
        "warm_samples": len(warm_times),
        "tail_percentile_supported": supported_pct(len(warm_times)),
        "failed_frac": failed / attempted,
        "pass_walls_s": [round(p["wall_s"], 3) for p in passes],
    }
    if trace:
        metrics = layers(raw, passes)
    else:
        m = {
            "setup_s": (raw["setup_s"], "s"),
            "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
            "query_p50_s": (pct(warm_times, 50), "s"),
            "query_p90_s": (pct(warm_times, 90), "s"),
            "heap_live_mb": (raw["heap_live_bytes"] / MB, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "notes": notes}


def layers(raw, passes):
    tr = raw["trace"]
    spans = tr["spans"]
    by_id = {s["id"]: s for s in spans}
    cores = raw["cpus"]
    group_of = {}
    for j in tr["jobs"]:
        for st in j["stages"]:
            group_of[st] = j["group"]

    queries = [s for s in spans if s["name"] == "query"]

    def owner(t_us):
        for q in queries:
            if q["start_us"] <= t_us <= q["end_us"]:
                return q
        return None

    per_pass = {p["pass"]: {} for p in passes if p["traced"]}

    def add(pass_no, key, v):
        d = per_pass[pass_no]
        d[key] = d.get(key, 0.0) + v

    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None and parent["name"] == "query":
            key = {"entry.build": "entry.build_s", "exec": "exec.wall_s"}[s["name"]]
            add(parent["pass"], key, dur(s))
    for p in passes:
        if p["traced"]:
            c = p["counters"]
            add(p["pass"], "codegen.compiles", c["codegen_compiles"])
            add(p["pass"], "codegen.compile_s", c["codegen_s"])
            add(p["pass"], "jvm.gc_s", c["gc_s"])
            add(p["pass"], "jvm.jit_s", c["jit_s"])
    # Planning phases, attributed to the query span (and its entry.build or
    # exec child) that was running when they started.
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    inner = {}
    for ph in tr["plans"]:
        q = owner(ph["start_us"])
        if q is None:
            continue
        d = (ph["end_us"] - ph["start_us"]) / 1e6
        add(q["pass"], f"plan.{ph['phase']}_s", d)
        for c in children.get(q["id"], []):
            if c["start_us"] <= ph["start_us"] <= c["end_us"]:
                inner[c["id"]] = inner.get(c["id"], 0.0) + d
    for q in queries:
        for c in children.get(q["id"], []):
            key = "entry.self_s" if c["name"] == "entry.build" else "exec.self_s"
            add(q["pass"], key, max(0.0, dur(c) - inner.get(c["id"], 0.0)))
    for j in tr["jobs"]:
        q = owner(j["start_us"])
        if q is not None:
            add(q["pass"], "exec.jobs", 1)
    for st in tr["stages"]:
        q = owner(st["submit_us"])
        if q is None:
            continue
        n = q["pass"]
        add(n, "exec.stages", 1)
        add(n, "exec.tasks", st["tasks"])
        add(n, "exec.task_s", st["task_ms"] / 1e3)
        add(n, "exec.single_task_stages", 1 if st["tasks"] == 1 else 0)
        add(n, "exec.shuffle_write_mb", st["shuffle_write"] / MB)
        add(n, "exec.shuffle_read_mb", st["shuffle_read"] / MB)
        add(n, "exec.spill_mb", st["spill"] / MB)
        add(n, "exec.input_mb", st["input"] / MB)
        # The stage's job carries no job group, or another query's.
        own = f"{q['query']}#{n}"
        add(n, "exec.unattributed_stages",
            0 if group_of.get(st["stage"]) == own else 1)
    for d in per_pass.values():
        wall = d.get("exec.wall_s", 0.0)
        d["exec.busy_frac"] = d.get("exec.task_s", 0.0) / (wall * cores) if wall else 0.0

    names = [
        ("entry.build_s", "s"), ("entry.self_s", "s"),
        ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
        ("plan.planning_s", "s"),
        ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
        ("exec.wall_s", "s"), ("exec.self_s", "s"), ("exec.jobs", "count"),
        ("exec.stages", "count"), ("exec.tasks", "count"),
        ("exec.task_s", "s"), ("exec.busy_frac", "ratio"),
        ("exec.single_task_stages", "count"),
        ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
        ("exec.spill_mb", "MB"), ("exec.input_mb", "MB"),
        ("exec.unattributed_stages", "count"),
        ("jvm.gc_s", "s"), ("jvm.jit_s", "s"),
    ]
    warm_ids = [p["pass"] for p in passes[1:] if p["traced"]]
    out = {}
    for name, unit in names:
        out[name] = {"value": statistics.median(
            per_pass[i].get(name, 0.0) for i in warm_ids), "unit": unit}
    for name, unit in names:
        out["cold." + name] = {"value": per_pass[1].get(name, 0.0), "unit": unit}

    phase = {}
    for s in spans:
        if s["name"] in ("session", "cache.build", "cache.warm",
                         "sources.write", "etl.load"):
            phase[s["name"]] = phase.get(s["name"], 0.0) + dur(s)
    # Each traced warm pass against the mean of the untraced passes on
    # either side of it, which cancels the warm-up trend across passes.
    walls = [p["wall_s"] for p in passes]
    ratios = [walls[i] / ((walls[i - 1] + walls[i + 1]) / 2)
              for i in range(2, len(passes) - 1) if passes[i]["traced"]]
    extra = {
        "cold.pass_s": (passes[0]["wall_s"], "s"),
        "setup.session_s": (phase["session"], "s"),
        "cache.build_s": (phase.get("cache.build", 0.0), "s"),
        "cache.warm_s": (phase.get("cache.warm", 0.0), "s"),
        "jvm.peak_rss_mb": (raw["vmhwm_kb"] / 1024, "MB"),
        "cache.storage_mb": (raw["storage_after_setup"] / MB, "MB"),
        "cache.growth_mb": ((raw["storage_after_pass"][-1]
                             - raw["storage_after_setup"]) / MB, "MB"),
        "sources.write_s": (phase.get("sources.write", 0.0), "s"),
        "etl.load_s": (phase.get("etl.load", 0.0), "s"),
        "sources.bytes_written": (raw["lake_bytes"], "bytes"),
        "sources.files_written": (raw["lake_files"], "count"),
        "sources.write_amp": (raw["lake_bytes"] / raw["lake_input_bytes"],
                              "ratio"),
        "etl.bytes_written": (raw["etl_bytes"], "bytes"),
        "trace.overhead_frac": (statistics.median(ratios) - 1, "ratio"),
    }
    out.update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})
    return out
