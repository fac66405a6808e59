"""Turn one harness run (the raw JSON the JVM writes) into the benchmark's
metrics, the output-check verdict and the trace artifact."""
import math
import statistics

# name -> unit, for the metrics printed with --trace 0 (BENCHMARK.json
# `end_to_end` lists the same names)
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "write_s": "s", "shuffle_read_mb": "MB", "ok_frac": "ratio",
    "tmp_left_mb": "MB",
}

# name -> unit, for the metrics printed with --trace 1
PER_LAYER = {
    "session.start_s": "s",
    "entry.build_s": "s", "entry.build_jobs": "count",
    "materialize.builds": "count", "materialize.build_s": "s",
    "materialize.mb": "MB", "materialize.builds_in_pass": "count",
    "catalyst.actions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimize_s": "s", "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "codegen.classes_setup": "count", "codegen.compile_s": "s",
    "codegen.classes_pass": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.outside_jobs_s": "s", "spark.job_overlap": "ratio",
    "spark.busy_cores": "cores",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s",
    "task.fetch_wait_s": "s", "task.shuffle_write_mb": "MB",
    "task.spill_mb": "MB", "task.output_mb": "MB", "task.failed": "count",
    "exhaust.s": "s", "exhaust.jobs": "count",
    "sweep.rdds": "count",
    "trace.unlabelled_jobs": "count", "trace.labelled_job_frac": "ratio",
}

MB = 1e6


def _beta_cf(a, b, x):
    """Continued fraction of the regularized incomplete beta function
    (modified Lentz's method)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def beta_cdf(a, b, x):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def hd_quantile(xs, q):
    """Harrell-Davis estimate of quantile q: a Beta-weighted mean of all
    order statistics. Unlike one or two order statistics it moves smoothly
    when values near the quantile trade places, so it spreads less from run
    to run on a handful of values."""
    s = sorted(xs)
    n = len(s)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    return sum(x * (beta_cdf(a, b, (i + 1) / n) - beta_cdf(a, b, i / n))
               for i, x in enumerate(s))


def summary(values, unit):
    values = list(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "n": len(values), "unit": unit}


def agg_sum(keyrun, field, phases=None):
    return sum(v.get(field, 0) for ph, v in keyrun["aggs"].items()
               if phases is None or ph in phases)


def check_outputs(checks, expected, keys):
    """Compare each key's first-set-up checksum with the committed one.
    Returns {key: verdict} where a verdict is "match", "mismatch",
    "error" or "no-expected"."""
    verdict = {}
    for k in keys:
        c = checks.get(k, {})
        if "error" in c or "checksum" not in c:
            verdict[k] = "error"
        elif expected.get(k) is None:
            verdict[k] = "no-expected"
        else:
            verdict[k] = "match" if c["checksum"] == expected[k] else "mismatch"
    return verdict


def count_failures(raw, verdict):
    """Attempted key executions and failed ones. A failed execution is an
    exception in any pass, or an output that does not match in the pass
    that checks outputs."""
    attempted = len(raw["keys"])
    failed = sum(1 for r in raw["keys"] if not r["ok"])
    # an execution that ran but whose output did not match also failed
    ran_ok = {r["key"] for r in raw["keys"] if r["pass"] == raw["check"]["pass"] and r["ok"]}
    failed += sum(1 for k, v in verdict.items() if v != "match" and k in ran_ok)
    return attempted, failed


def unlabelled_by_pass(raw):
    """The aggregates of jobs and SQL executions that carried no key tag,
    each charged to the pass (set-up, check or measured) it started in;
    work outside every pass is under None."""
    windows = [(p["pass"], p["start_ms"], p["end_ms"])
               for p in [*raw["setups"], raw["check"], *raw["warm"], *raw["passes"]]]
    out = {}
    for u in raw["unlabelled"]:
        name = next((n for n, s, e in windows if s <= u["time_ms"] <= e), None)
        out.setdefault(name, []).append(u["aggs"])
    return out


def per_pass(raw, pass_names):
    """Per-pass sums over the key executions of each named pass. A sum over
    all phases also counts the pass's untagged work; a sum over named
    phases cannot."""
    out = []
    by_pass = {p: [] for p in pass_names}
    for r in raw["keys"]:
        if r["pass"] in by_pass:
            by_pass[r["pass"]].append(r)
    extra = unlabelled_by_pass(raw)
    for p in pass_names:
        rs, us = by_pass[p], extra.get(p, [])

        def total(f, phases=None, rs=rs, us=us):
            own = sum(agg_sum(r, f, phases) for r in rs)
            return own if phases is not None else own + sum(u.get(f, 0) for u in us)
        out.append({"keys": rs, "sum": total,
                    "unlabelled_jobs": sum(u.get("jobs", 0) for u in us)})
    return out


def end_to_end(raw, wl, attempted, failed):
    measured = [p["pass"] for p in raw["passes"]]
    passes = per_pass(raw, measured)
    # each key's median latency over the measured passes, so that one
    # disturbed pass moves no percentile; the percentiles over the keys are
    # Harrell-Davis estimates, which move smoothly with the keys' latencies
    # instead of jumping across the gaps between keys
    by_key = {}
    for r in raw["keys"]:
        if r["pass"] in measured and r["ok"]:
            by_key.setdefault(r["key"], []).append(r["wall_s"])
    lat = [statistics.median(v) for v in by_key.values()]
    writes = set(wl["write_keys"])
    m = {
        "setup_s": [s["setup_s"] for s in raw["setups"]],
        "pass_s": [p["wall_s"] for p in raw["passes"]],
        "write_s": [sum(r["wall_s"] for r in p["keys"] if r["key"] in writes)
                    for p in passes],
        "shuffle_read_mb": [p["sum"]("shuffle_read_b") / MB for p in passes],
        "ok_frac": [(attempted - failed) / attempted],
        "tmp_left_mb": [raw["tmp_left_b"] / MB],
    }
    out = {k: summary(v, END_TO_END[k]) for k, v in m.items()}
    out["query_p50_s"] = dict(summary(lat, "s"), median=hd_quantile(lat, 0.5))
    out["query_p90_s"] = dict(summary(lat, "s"), median=hd_quantile(lat, 0.9))
    return {k: out[k] for k in END_TO_END}


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for x, y in sorted(intervals):
        if y <= x:
            continue
        if cur_e is None or x > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = x, y
        else:
            cur_e = max(cur_e, y)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals (clipped to it)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_ms(
        (max(s["start_ms"], c["start_ms"]), min(s["end_ms"], c["end_ms"]))
        for c in kids.get(s["id"], [])) for s in spans}


def job_time_per_pass(spans, pass_names):
    """Per pass: (summed key wall ms, summed union of each key's job
    intervals, summed job durations)."""
    by_id = {s["id"]: s for s in spans}
    out = {p: [0.0, 0.0, 0.0] for p in pass_names}
    jobs_of_key = {}
    for s in spans:
        if s["kind"] == "job" and s["parent"] in by_id:
            key = by_id[s["parent"]]["parent"]
            jobs_of_key.setdefault(key, []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        if s["kind"] != "key" or by_id[s["parent"]]["name"] not in out:
            continue
        acc = out[by_id[s["parent"]]["name"]]
        ivs = jobs_of_key.get(s["id"], [])
        acc[0] += s["end_ms"] - s["start_ms"]
        acc[1] += union_ms(ivs)
        acc[2] += sum(e - b for b, e in ivs)
    return [out[p] for p in pass_names]


def key_coverage(spans):
    """Per key span: the share of its wall time its descendants' self times
    cover (1 minus the key span's own self time share). The phase spans
    tile the key, so this only shows the harness's own gaps between
    phases; `labelled_job_frac` is the check that jobs are attributed."""
    self_ms = span_self_times(spans)
    cov = []
    for s in spans:
        if s["kind"] == "key":
            dur = s["end_ms"] - s["start_ms"]
            cov.append(1.0 - self_ms[s["id"]] / dur if dur > 0 else 1.0)
    return cov


def labelled_job_frac(spans, pass_names):
    """Share of the job time in the named passes that ran under a key
    phase's tag (untagged jobs hang directly under their pass span). Each
    job weighs its duration, at least 1 ms."""
    by_id = {s["id"]: s for s in spans}

    def pass_of(s):
        while s is not None and s["kind"] != "pass":
            s = by_id.get(s["parent"])
        return s["name"] if s is not None else None
    total = labelled = 0.0
    for s in spans:
        if s["kind"] == "job" and pass_of(s) in pass_names:
            d = max(1.0, s["end_ms"] - s["start_ms"])
            total += d
            if by_id[s["parent"]]["kind"] == "phase":
                labelled += d
    return labelled / total if total else 1.0


def per_layer(raw):
    measured = [p["pass"] for p in raw["passes"]]
    passes = per_pass(raw, measured)
    setups = raw["setups"]

    def phase_s(p, ph):
        return sum(r["phases"].get(ph, 0.0) for r in p["keys"])

    busy = [p["sum"]("run_ms") / 1000.0 / rec["wall_s"]
            for p, rec in zip(passes, raw["passes"])]
    jobs = job_time_per_pass(raw["spans"], measured)
    m = {
        "session.start_s": [s["session_s"] for s in setups],
        "entry.build_s": [phase_s(p, "build") for p in passes],
        "entry.build_jobs": [p["sum"]("jobs", {"build"}) for p in passes],
        "materialize.builds": [s["mat_builds"] for s in setups],
        "materialize.build_s": [s["mat_build_s"] for s in setups],
        "materialize.mb": [s["mat_b"] / MB for s in setups],
        "materialize.builds_in_pass": [sum(p["mat_builds"] for p in raw["passes"])],
        "catalyst.actions": [p["sum"]("actions") for p in passes],
        "catalyst.analysis_s": [p["sum"]("analysis_ms") / 1000.0 for p in passes],
        "catalyst.optimize_s": [p["sum"]("optimize_ms") / 1000.0 for p in passes],
        "catalyst.plan_s": [p["sum"]("plan_ms") / 1000.0 for p in passes],
        "catalyst.exchanges": [p["sum"]("exchanges") for p in passes],
        # every timed set-up starts with an empty codegen cache
        "codegen.classes_setup": [s["classes"] for s in setups],
        "codegen.compile_s": [s["compile_s"] for s in setups],
        "codegen.classes_pass": [sum(p["classes"] for p in raw["passes"])],
        "spark.jobs": [p["sum"]("jobs") for p in passes],
        "spark.stages": [p["sum"]("stages") for p in passes],
        "spark.tasks": [p["sum"]("tasks") for p in passes],
        "spark.outside_jobs_s": [(wall - union) / 1000.0 for wall, union, _ in jobs],
        "spark.job_overlap": [total / union if union else 1.0 for _, union, total in jobs],
        "spark.busy_cores": busy,
        "task.run_s": [p["sum"]("run_ms") / 1000.0 for p in passes],
        "task.cpu_s": [p["sum"]("cpu_ns") / 1e9 for p in passes],
        "task.gc_s": [p["sum"]("gc_ms") / 1000.0 for p in passes],
        "task.fetch_wait_s": [p["sum"]("fetch_wait_ms") / 1000.0 for p in passes],
        "task.shuffle_write_mb": [p["sum"]("shuffle_write_b") / MB for p in passes],
        "task.spill_mb": [p["sum"]("spill_b") / MB for p in passes],
        "task.output_mb": [p["sum"]("output_b") / MB for p in passes],
        "task.failed": [p["sum"]("failed_tasks") for p in passes],
        "exhaust.s": [phase_s(p, "exhaust") for p in passes],
        "exhaust.jobs": [p["sum"]("jobs", {"exhaust"}) for p in passes],
        "sweep.rdds": [sum(r["rdds"] for r in p["keys"]) for p in passes],
        "trace.unlabelled_jobs": [sum(p["unlabelled_jobs"] for p in passes)],
        "trace.labelled_job_frac": [labelled_job_frac(raw["spans"], measured)],
    }
    return {k: summary(m[k], PER_LAYER[k]) for k in PER_LAYER}


def report(raw, wl, cfg, expected):
    verdict = check_outputs(raw["checks"], expected, wl["keys"])
    attempted, failed = count_failures(raw, verdict)
    rep = {
        "workload": wl["name"], "seed": raw["seed"], "nproc": raw["nproc"],
        "master": raw["master"], "trace": raw["trace"],
        "correct": failed == 0 and all(v == "match" for v in verdict.values()),
        "attempted": attempted, "failed": failed,
        "checks": verdict,
        "row_count_only": [k for k in wl["keys"] if k in cfg["row_count_only"]],
        "errors": {r["pass"] + " " + r["key"]: r["error"]
                   for r in raw["keys"] if not r["ok"]},
        "setups": [{k: s[k] for k in ("setup_s", "session_s", "load_avg", "classes",
                                      "compile_s", "mat_builds")} for s in raw["setups"]],
        "passes": [{"pass": p["pass"], "wall_s": p["wall_s"], "load_avg": p["load_avg"],
                    "classes": p["classes"], "mat_builds": p["mat_builds"],
                    "unlabelled_jobs": pp["unlabelled_jobs"],
                    "compiled_by": {r["key"]: r["classes"] for r in pp["keys"] if r["classes"]},
                    "steady": p["classes"] == 0 and p["mat_builds"] == 0
                    and pp["unlabelled_jobs"] == 0}
                   for p, pp in zip(raw["passes"],
                                    per_pass(raw, [p["pass"] for p in raw["passes"]]))],
        "unlabelled_jobs": {str(k): sum(u.get("jobs", 0) for u in us)
                            for k, us in unlabelled_by_pass(raw).items()},
        "end_to_end": end_to_end(raw, wl, attempted, failed),
        "untimed": [{k: p[k] for k in ("pass", "wall_s", "classes", "mat_builds")}
                    for p in [raw["check"], *raw["warm"]]],
    }
    if raw["trace"]:
        rep["per_layer"] = per_layer(raw)
    return rep


def trace_artifact(raw, workload):
    """Spans nested workload > pass > key > phase > job > stage, with each
    span's self time, plus the counts per key execution and per pass."""
    self_ms = span_self_times(raw["spans"])
    spans = [dict(s, self_ms=self_ms[s["id"]]) for s in raw["spans"]]
    return {"workload": workload, "seed": raw["seed"], "spans": spans,
            "keys": raw["keys"], "passes": raw["passes"], "setups": raw["setups"],
            "check": raw["check"], "unlabelled": raw["unlabelled"],
            "key_phase_coverage_min": min(key_coverage(raw["spans"]) or [1.0]),
            "labelled_job_frac": labelled_job_frac(
                raw["spans"], [p["pass"] for p in raw["passes"]])}


def describe(rep):
    """Human-readable lines: every metric, the output checks, the passes."""
    lines = [f"workload {rep['workload']} seed {rep['seed']} on {rep['master']} "
             f"(nproc {rep['nproc']})"]
    sections = [("end_to_end", rep["end_to_end"])]
    if "per_layer" in rep:
        sections.append(("per_layer", rep["per_layer"]))
    for title, sec in sections:
        for name, s in sec.items():
            lines.append(f"{title} {name} = {s['median']:.6g} {s['unit']} "
                         f"(q1 {s['q1']:.6g}, q3 {s['q3']:.6g}, n {s['n']})")
    bad = {k: v for k, v in rep["checks"].items() if v != "match"}
    lines.append(f"output check: {len(rep['checks']) - len(bad)}/{len(rep['checks'])} "
                 f"keys match ({len(rep['row_count_only'])} by row count only)"
                 + (f"; failing: {bad}" if bad else ""))
    for k, e in rep["errors"].items():
        lines.append(f"error {k}: {e}")
    for i, s in enumerate(rep["setups"]):
        lines.append(f"set-up s{i}: {s['setup_s']:.3f} s (session {s['session_s']:.3f} s), "
                     f"codegen classes {s['classes']} in {s['compile_s']:.3f} s, "
                     f"materialize builds {s['mat_builds']}")
    for p in rep["passes"]:
        lines.append(f"pass {p['pass']}: {p['wall_s']:.3f} s, load {p['load_avg']:.2f}, "
                     f"codegen classes {p['classes']}, materialize builds "
                     f"{p['mat_builds']}, untagged jobs {p['unlabelled_jobs']}, "
                     f"{'steady' if p['steady'] else 'NOT steady'}")
    if "tracing_overhead" in rep:
        o = rep["tracing_overhead"]
        lines.append(f"tracing overhead: pass_s {o['traced_pass_s']:.4g} s traced vs "
                     f"{o['untraced_pass_s']:.4g} s untraced ({o['untraced_run']}): "
                     f"{o['overhead_frac']:+.1%}")
    lines.append(f"verdict: {'correct' if rep['correct'] else 'INCORRECT'}, "
                 f"{rep['failed']} of {rep['attempted']} key executions failed")
    return lines
