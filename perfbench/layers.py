"""Turn the harness's per-operation records into checked, scored metrics.

`score()` is the only entry point: it checks every operation's output,
computes the end-to-end metrics from the untraced passes and, for a traced
run, the per-layer metrics, the tracing overhead and the reconciliation of
each traced operation's phases against its untraced time.
"""

import stats

# A traced operation's phases (build + plan + exec) reconcile with its
# untraced time when they differ by at most this share of it.
RECONCILE_TOLERANCE = 0.25


def check(workload, op, expect):
    """None if the operation's output is right, else why it is not."""
    if op.get("error"):
        return op["error"]
    name = op["name"]
    if name.startswith("load:"):
        return None if op.get("columns", 0) > 0 else "no columns"
    if workload != "excel-roundtrip":
        want = expect.get(name)
        if want is None:
            return "no expected value recorded"
        got = (op.get("rows"), op.get("digest"))
        if got != (want["rows"], want["digest"]):
            return "got rows=%s digest=%s, want rows=%s digest=%s" % (
                got + (want["rows"], want["digest"]))
        return None
    status = expect["status"]
    if name.startswith("download:"):
        want = {"rows": expect["download"][name.split(":", 1)[1]]}
    elif name == "upload:ALL":
        want = {"rows": expect["upload"]}
    elif name == "compare":
        want = {"marks": expect["marks"]}
    elif name == "probe:read":
        want = {"cells_read": expect["cells_read"]}
    elif name == "probe:write-positional":
        want = {"rows": expect["download"][op.get("segment")]}
    elif name == "probe:write-header":
        want = {"rows": expect["customers"]}
    elif name == "probe:diff":
        want = {"rows": sum(status.values())}
    elif name == "probe:highlight":
        want = {"marks": status["CHANGED"] + status["CLEARED"] + status["NEW"]}
    else:
        return "unknown operation"
    bad = {k: op.get(k) for k, v in want.items() if op.get(k) != v}
    if "cells" in op and op["cells"] <= 0:
        bad["cells"] = op["cells"]
    return None if not bad else "got %s, want %s" % (
        bad, {k: want.get(k) for k in bad})


def _is_probe(name):
    return name.startswith(("probe:", "load:"))


def _pass_time(ops):
    return stats.pass_seconds((o["ok"], o["seconds"]) for o in ops
                              if not _is_probe(o["name"]))


def _layers(traced_ops, cores):
    """Per-layer sums over one traced pass."""
    work = [o for o in traced_ops if not _is_probe(o["name"])]
    catalog = [o for o in work if "build" in o["spans"]]

    def span(ops, phase):
        return sum(o["spans"].get(phase, 0.0) for o in ops)

    def tot(ops, key):
        return sum(o.get(key, 0) or 0 for o in ops)

    probes = {o["name"]: o for o in traced_ops if _is_probe(o["name"])}
    writes = [o for n, o in probes.items() if n.startswith("probe:write-")]
    op_s = sum(o["seconds"] for o in catalog)
    build = span(catalog, "build")
    exec_s = span(work, "exec") + span(work, "pipeline")
    busy = tot(work, "task_busy_s")
    cells = tot(writes, "cells")
    write_s = span(writes, "excel-write")

    def pipeline(prefix):
        return span([o for o in work if o["name"].startswith(prefix)],
                    "pipeline")

    return {
        "tables.load_s": span(probes.values(), "tables"),
        "tables.load_jobs": tot(probes.values(), "tables_jobs"),
        "tables.infer_jobs": tot(work, "infer_jobs"),
        "tables.infer_s": tot(work, "infer_s"),
        "catalog.build_s": build - tot(catalog, "analyze_s"),
        "catalog.build_jobs": tot(catalog, "build_jobs"),
        "catalog.build_share": build / op_s if op_s else 0.0,
        "materialize.jobs": tot(work, "materialize_jobs"),
        "materialize.s": tot(work, "materialize_s"),
        "plans.analyze_s": tot(catalog, "analyze_s"),
        "plans.optimize_s": span(catalog, "optimize"),
        "plans.physical_s": span(catalog, "physical"),
        "plans.exchanges": tot(catalog, "exchanges"),
        "exec.s": exec_s,
        "exec.jobs": tot(work, "exec_jobs"),
        "exec.stages": tot(work, "stages"),
        "exec.tasks": tot(work, "tasks"),
        "exec.task_busy_s": busy,
        "exec.task_wait_s": tot(work, "task_wait_s"),
        "exec.core_util": busy / (exec_s * cores) if exec_s else 0.0,
        "exec.shuffle_write_mb": tot(work, "shuffle_write_mb"),
        "exec.shuffle_read_mb": tot(work, "shuffle_read_mb"),
        "exec.spill_mb": tot(work, "spill_mb"),
        "exec.skew": max([o.get("skew", 1.0) for o in work] or [1.0]),
        "exec.failed_tasks": tot(work, "failed_tasks"),
        "jvm.gc_s": tot(work, "gc_s"),
        "blocks.leaked": tot(work, "blocks_leaked"),
        "excel.write_s": write_s,
        "excel.encode_s": write_s - tot(writes, "write_jobs_s"),
        "excel.cells_written": cells,
        "excel.bytes_written": tot(writes, "bytes"),
        "xlsx_bytes_per_cell": tot(writes, "bytes") / cells if cells else 0.0,
        "excel.read_s": span(probes.values(), "excel-read"),
        "excel.cells_read": tot(probes.values(), "cells_read"),
        "excel.highlight_s": span(probes.values(), "highlight"),
        "excel.marks": tot(probes.values(), "marks"),
        "diff.s": span(probes.values(), "diff"),
        "diff.rows": probes.get("probe:diff", {}).get("rows", 0),
        "pipelines.download_s": pipeline("download:"),
        "pipelines.upload_s": pipeline("upload:"),
        "pipelines.compare_s": pipeline("compare"),
    }


def score(workload, result, expect, declared, trace):
    """Check and score one run. `declared` is BENCHMARK.json, which names
    the metrics and their units. Returns the report lines, the metrics
    (end-to-end without tracing, per-layer with), the attempted and failed
    operation counts, and the per-operation sidecar rows."""
    cores = result["meta"]["cores"]
    every = list(result["warmup"])
    for p in result["passes"]:
        every += p["ops"]
    for op in every:
        why = check(workload, op, expect)
        op["ok"] = why is None
        op["why"] = why
    failures = [o for o in every if not o["ok"]]

    plain = [p["ops"] for p in result["passes"] if not p["traced"]]
    traced = [p["ops"] for p in result["passes"] if p["traced"]]
    samples = [stats.op_latency(o["ok"], o["seconds"])
               for ops in plain for o in ops if not _is_probe(o["name"])]
    by_op = {}
    for ops in plain:
        for o in ops:
            if not _is_probe(o["name"]):
                by_op.setdefault(o["name"], []).append(
                    stats.op_latency(o["ok"], o["seconds"]))
    pass_s = stats.median([_pass_time(ops) for ops in plain])
    lines = ["passes=%d traced=%d op_samples=%d fail_ratio=%.4f (%d/%d)"
             % (len(plain), len(traced), len(samples),
                stats.fail_ratio(o["ok"] for o in every), len(failures),
                len(every)),
             "op_p50_s=%.4f op_p90_s=%.4f (%d samples above p90; too few "
             "for a steady tail, so neither is gated)"
             % (stats.finite(stats.percentile(samples, 50)),
                stats.finite(stats.percentile(samples, 90)),
                stats.tail_samples(samples, 90))]
    lines += ["FAILED %s: %s" % (o["name"], o["why"]) for o in failures[:20]]

    sidecar = []
    if not trace:
        values = {"setup_s": result["setup_s"], "pass_s": pass_s,
                  "pass_cpu_s": stats.median(
                      [sum(o.get("cpu_s", 0.0) for o in ops
                           if not _is_probe(o["name"])) for ops in plain]),
                  "op_gmean_s": stats.geomean(
                      stats.median(v) for v in by_op.values()),
                  "heap_peak_mb": result["heap_peak_mb"]}
    else:
        per_pass = [_layers(ops, cores) for ops in traced]
        values = {k: stats.median([lp[k] for lp in per_pass])
                  for k in per_pass[0]}
        errs = []
        for i, ops in enumerate(traced):
            for o in ops:
                row = {"pass": i, "op": o["name"], "seconds": o["seconds"],
                       "phases": o["spans"]}
                row.update({k: v for k, v in o.items() if k not in (
                    "name", "seconds", "spans", "ok", "why", "error",
                    "digest")})
                base = stats.median(by_op.get(o["name"], [stats.INF]))
                if o["ok"] and base < stats.INF:
                    err = abs(o["seconds"] - base) / base
                    row["untraced_s"] = base
                    row["reconcile_err"] = err
                    row["reconciled"] = err <= RECONCILE_TOLERANCE
                    errs.append(err)
                sidecar.append(row)
        values["trace.overhead"] = stats.median(
            [_pass_time(ops) for ops in traced]) / pass_s
        values["trace.reconcile_err"] = stats.median(errs) if errs else 0.0
        values["trace.reconciled_share"] = (
            sum(1 for e in errs if e <= RECONCILE_TOLERANCE) / len(errs)
            if errs else 1.0)
    metrics = {m["name"]: {"value": stats.finite(values[m["name"]]),
                           "unit": m["unit"]}
               for m in declared["per_layer" if trace else "end_to_end"]}
    for name, m in metrics.items():
        lines.append("%-24s %14.6g %s" % (name, m["value"], m["unit"]))
    return {"lines": lines, "metrics": metrics, "attempted": len(every),
            "failed": len(failures), "sidecar": sidecar}
