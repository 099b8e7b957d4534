"""Metrics of one benchmark run, computed from the harness's raw record.

Every workload reports the same end-to-end metrics; what an operation
is differs per workload (see ``perfbench/README.md``). Per-layer
metrics come from the traced sections of a ``--trace 1`` run; a layer
the workload does not exercise reports 0.
"""
import statistics

TAIL_SHARE = 0.25
FAMILIES = ("tpch", "events", "doc", "emb", "ann")
# the traced pass's phase times must account for its wall time within this
CATALOG_GAP = 0.05


def pct(values, p):
    """Linear-interpolated percentile (numpy's default definition)."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail(values):
    """Mean of the slowest quarter of the samples (at least one). A run
    has 20 to 30 operations; a single high percentile of so few samples
    swung by a quarter from run to run, the mean of the top quarter
    much less."""
    v = sorted(values, reverse=True)
    k = max(1, round(len(v) * TAIL_SHARE))
    return sum(v[:k]) / k if v else 0.0


def median(values):
    return statistics.median(values) if values else 0.0


def family(name):
    if name[1].isdigit():
        return "tpch"
    f = name.split("_")[1]
    return f if f in FAMILIES else None


def sections(traces):
    """Sum the (span, layer) task totals of several traced sections."""
    rows = [r for t in traces if t for r in t["stages"]]
    jobs = sum(t["jobs"] for t in traces if t)
    cat = {}
    for t in traces:
        for k, v in ((t or {}).get("catalyst") or {}).items():
            cat[k] = cat.get(k, 0.0) + v
    return rows, jobs, cat


def total(rows, field, pred=lambda r: True):
    return sum(r[field] for r in rows if pred(r))


def spark_layer(rows, jobs, catalyst, wall, cpus):
    return {
        "spark.jobs": jobs,
        "spark.tasks": total(rows, "tasks"),
        "spark.task_run_s": total(rows, "run_s"),
        "spark.task_cpu_s": total(rows, "cpu_s"),
        "spark.gc_s": total(rows, "gc_s"),
        "spark.slot_util": total(rows, "run_s") / (wall * cpus) if wall else 0.0,
        "spark.shuffle_write_mb": total(rows, "shuffle_write_mb"),
        "spark.shuffle_read_mb": total(rows, "shuffle_read_mb"),
        "spark.spill_mb": total(rows, "spill_mb"),
        "spark.input_records": total(rows, "input_records"),
        "catalyst.analysis_s": catalyst.get("analysis", 0.0),
        "catalyst.optimization_s": catalyst.get("optimization", 0.0),
        "catalyst.planning_s": catalyst.get("planning", 0.0),
    }


def sink_layers(rows):
    def layer(name):
        return total(rows, "run_s", lambda r: r["layer"] == name)
    return {"validate.spark_s": layer("validate"), "upsert.spark_s": layer("upsert"),
            "metadata.spark_s": layer("metadata"), "export.spark_s": layer("export")}


def zero_layers():
    names = ["catalog.prepare_s", "catalog.construct_s", "catalog.plan_s", "catalog.exec_s",
             "memo.builds", "memo.build_s", "memo.prepare_build_s", "memo.bytes",
             "memo.rebuild_ratio", "validate.spark_s", "ingest.raw_read_ratio",
             "upsert.spark_s", "upsert.rewrite_ratio", "metadata.spark_s", "export.spark_s",
             "serve.ttfb_p50_ms", "serve.wire_kb", "serve.steady_spark_jobs",
             "serve.inflight_peak", "gen.late_p99_ms", "trace_overhead_frac"]
    names += [f"family.{f}_s" for f in FAMILIES]
    return {n: 0 for n in names}


def end_to_end(setup, wall, latencies_ms, heap):
    return {"setup_s": median(setup), "wall_s": wall, "p50_ms": median(latencies_ms),
            "tail_ms": tail(latencies_ms), "heap_mb": heap}


def catalog(res, cpus):
    plain = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    lat = [q["query_s"] * 1e3 for p in plain for q in p["queries"]]
    walls = [p["wall_s"] for p in plain]
    e2e = end_to_end(res["setup_s"], median(walls), lat, res["heap_mb"])
    out = {"end_to_end": e2e, "per_layer": zero_layers(),
           "detail": {"passes": len(res["passes"]), "pass_wall_s": walls,
                      "queries_per_pass": len(res["passes"][0]["queries"]), "operations": len(lat),
                      "queries_per_s": len(lat) / sum(walls),
                      "hashes": {q["name"]: q["hash"] for q in res["passes"][0]["queries"]}},
           "consistency_errors": []}
    if traced:
        pl = out["per_layer"]
        n = len(traced)
        qs = [q for p in traced for q in p["queries"]]
        prepare = sum(q["prepare_s"] for q in qs)
        construct = sum(q["construct_s"] for q in qs)
        plan = sum(q["plan_s"] or 0.0 for q in qs)
        execute = sum(q["query_s"] for q in qs) - construct - plan
        wall = sum(p["wall_s"] for p in traced)
        pl.update({"catalog.prepare_s": prepare / n, "catalog.construct_s": construct / n,
                   "catalog.plan_s": plan / n, "catalog.exec_s": execute / n})
        for f in FAMILIES:
            pl[f"family.{f}_s"] = sum(q["prepare_s"] + q["query_s"] for q in qs
                                      if family(q["name"]) == f) / n
        memo = [p["memo"] for p in traced]
        pl.update({"memo.builds": sum(m["builds"] for m in memo) / n,
                   "memo.build_s": sum(m["build_s"] for m in memo) / n,
                   "memo.prepare_build_s": sum(m["prepare_build_s"] for m in memo) / n,
                   "memo.bytes": sum(m["bytes"] for m in memo) / n,
                   "memo.rebuild_ratio": sum(m["builds"] for m in memo) /
                   max(1, sum(m["distinct_keys"] for m in memo))})
        rows, jobs, cat = sections([p["trace"] for p in traced])
        layer = spark_layer(rows, jobs, cat, wall, cpus)
        pl.update({k: (v / n if k != "spark.slot_util" else v) for k, v in layer.items()})
        # the traced pass against the untraced warm pass just before it
        pl["trace_overhead_frac"] = wall / n / walls[-1] - 1
        gap = (wall - (prepare + construct + plan + execute)) / wall
        out["detail"]["trace_gap_frac"] = gap
        if not 0 <= gap <= CATALOG_GAP:
            out["consistency_errors"].append(
                f"catalog phases leave {gap:.1%} of the traced wall unaccounted "
                f"(limit {CATALOG_GAP:.0%})")
    return out


def ingest(res, raw_rows, cpus):
    cycles = [c for c in res["cycles"] if c["cycle"] > 0]
    plain = [c for c in cycles if not c["traced"]]
    traced = [c for c in cycles if c["traced"]]
    # operations: the entry-point calls (ingests and exports) of the
    # untraced refresh cycles
    lat = [o["s"] * 1e3 for c in plain for o in c["ops"]]
    span = res["load_s"] + sum(c["s"] for c in cycles)
    rows_in = raw_rows["initial"] + raw_rows["cycle"] * len(cycles)
    e2e = end_to_end(res["setup_s"], res["load_s"], lat, res["heap_mb"])
    out = {"end_to_end": e2e, "per_layer": zero_layers(),
           "detail": {"load_s": res["load_s"], "refresh_s": [c["s"] for c in cycles],
                      "refresh_ops": [{o["op"]: o["s"] for o in c["ops"]} for c in cycles],
                      "operations": len(lat),
                      "refresh_p50_s": median([c["s"] for c in plain]),
                      "raw_rows_per_s": rows_in / span,
                      "load_ops": res["load_ops"]},
           "consistency_errors": []}
    if "load_trace" in res:
        pl = out["per_layer"]
        load_rows, _, _ = sections([res["load_trace"]])
        rows, jobs, cat = sections([res["load_trace"]] + [c["trace"] for c in traced])
        wall = res["load_s"] + sum(c["s"] for c in traced)
        pl.update(spark_layer(rows, jobs, cat, wall, cpus))
        pl.update(sink_layers(rows))
        pl["ingest.raw_read_ratio"] = total(
            load_rows, "input_records",
            lambda r: r["layer"] in ("validate", "upsert") and r["span"].startswith("load:")
        ) / raw_rows["initial"]
        cyc_rows, _, _ = sections([c["trace"] for c in traced])
        incoming = sum(o.get("records", 0) for c in traced for o in c["ops"])
        pl["upsert.rewrite_ratio"] = total(
            cyc_rows, "output_records", lambda r: r["layer"] == "upsert") / max(1, incoming)
        if traced and plain:
            pl["trace_overhead_frac"] = median([c["s"] for c in traced]) / median(
                [c["s"] for c in plain]) - 1
        loose = total(rows, "run_s", lambda r: r["layer"] in ("unattributed", "other"))
        out["detail"]["unassigned_task_s"] = loose
        if loose > 0:
            out["consistency_errors"].append(
                f"{loose:.3f}s of ingest task time has no layer")
    return out


def serve(res, load, cpus):
    lat = load["load_latency_ms"]
    e2e = end_to_end(res["setup_s"], median(load["burst_s"]), lat, res["heap_mb"])
    out = {"end_to_end": e2e, "per_layer": zero_layers(),
           "detail": {"first_ms": [s["first_ms"] for s in res["setups"]],
                      "fixed_loads_per_s": load["fixed_loads_per_s"],
                      "loads": len(lat),
                      "burst_s": load["burst_s"],
                      "burst_requests_per_s": load["burst_requests"] / median(load["burst_s"])},
           "consistency_errors": []}
    if "setup_traces" in res:
        pl = out["per_layer"]
        traced = [s["setup_s"] for s in res["setups"] if s["traced"]]
        plain = [s["setup_s"] for s in res["setups"][1:] if not s["traced"]]
        rows, jobs, cat = sections(res["setup_traces"])
        pl.update(spark_layer(rows, jobs, cat, sum(traced), cpus))
        pl.update(sink_layers(rows))
        pl.update({
            "serve.ttfb_p50_ms": median(load["ttfb_ms"]),
            "serve.wire_kb": statistics.mean(load["wire_bytes"]) / 1024 if load["wire_bytes"] else 0,
            "serve.steady_spark_jobs": res["steady_spark_jobs"],
            "serve.inflight_peak": load["inflight_peak"],
            "gen.late_p99_ms": pct(load["late_ms"], 99),
            "trace_overhead_frac": statistics.mean(traced) / statistics.mean(plain) - 1,
        })
    return out
