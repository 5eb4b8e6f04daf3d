"""Per-layer metrics of a traced run (`--trace 1`).

A traced run measures phase A untraced and phase B with spans and Spark
counters on. Every metric below is printed for every workload; a layer a
workload never enters reports 0 there (README.md has the layer map).
Per-op figures are means over phase B's operations.
"""
import statistics

SPARK = ["jobs", "stages", "tasks", "sql_executions", "sched_delay_ms", "task_run_ms",
         "task_cpu_ms", "shuffle_write_mb", "spill_mb"]
JVM = ["jit_ms", "gc_ms", "cpu_ms", "native_cpu_ms", "heap_peak_mb"]
WIRE = ["point", "agg", "join", "copyout", "write", "fresh"]
ENGINE = ["point", "agg", "join", "copyout"]
LAYERS = ["cli", "core", "serve", "pgwire", "pgfed", "federate"]
E2E = ["op_median_ms", "ops_per_s"]

UNITS = {}
for _k in ["cli.jvm_to_main_ms", "core.session_ms", "core.add_csv_table_ms", "core.execute_ms",
           "core.pretty_ms", "serve.register_ms", "pgwire.connect_ms", "pgwire.read_after_write_ms",
           "pgwire.p95_ms", "pgfed.probe_ms", "pgfed.union_ms", "pgfed.leg_direct_ms",
           "pgfed.write_ms", "pgfed.p90_ms"]:
    UNITS[_k] = "ms"
UNITS.update({"core.csv_infer_jobs": "count", "core.csv_mb": "MB", "pgwire.copyout_rows_s": "rows/s",
              "pgwire.copyin_rows_s": "rows/s", "pgwire.statements": "count",
              "pgfed.rows_fetched": "rows", "pgfed.rows_written": "rows",
              "pgfed.publish_rows_s": "rows/s"})
for _k in SPARK:
    UNITS[f"spark.{_k}"] = "ms" if _k.endswith("_ms") else "MB" if _k.endswith("_mb") else "count"
for _k in JVM:
    UNITS[f"jvm.{_k}"] = "MB" if _k.endswith("_mb") else "ms"
for _k in WIRE:
    UNITS[f"pgwire.{_k}_ms"] = "ms"
for _k in ENGINE:
    UNITS[f"pgwire.engine_ms.{_k}"] = "ms"
    UNITS[f"pgwire.overhead_ms.{_k}"] = "ms"
for _k in LAYERS:
    UNITS[f"self_ms.{_k}"] = "ms"
UNITS["trace_overhead.op_median_ms"] = "ms"
UNITS["trace_overhead.ops_per_s"] = "1/s"


def _med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else 0.0


def _pct(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def self_times(spans):
    """Self time per layer in ms: each span's duration minus the spans
    directly under it, summed by the span name's first part."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, (s["end"] - s["start"]) - child.get(s["id"], 0.0))
    return out


def _span_ms(spans, name):
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def per_layer(workload, res, end_to_end):
    """Return ({metric: (value, unit)}, trace report). `end_to_end` is the
    runner's end-to-end metric function, applied to each phase."""
    m = {k: 0.0 for k in UNITS}
    ops = res["ops"]
    a = [o for o in ops if o["phase"] == "A"]
    b = [o for o in ops if o["phase"] == "B"]
    layer = res["layer"]
    spans = layer["spans"] if workload == "exec_csv" else res["spans"]
    n_b = max(1, len(b))

    # end-to-end figures of each phase, for the tracing overhead
    half = {ph: end_to_end(workload, {"ops": [dict(o, phase="A") for o in sub], "setup_s": res["setup_s"]})
            for ph, sub in (("A", a), ("B", b))}
    for k in E2E:
        m[f"trace_overhead.{k}"] = half["B"][k][0] - half["A"][k][0]

    setup = res["setup"]
    spark_ops = layer.get("spark", {})
    jvm = layer.get("jvm", {})

    if workload == "exec_csv":
        child = layer["child"]
        m["cli.jvm_to_main_ms"] = _mean([c["jvm_to_main_ms"] for c in child])
        m["core.csv_infer_jobs"] = _mean([c["csv_infer_jobs"] for c in child])
        m["core.csv_mb"] = _mean([c["csv_mb"] for c in child])
        for k in SPARK:
            m[f"spark.{k}"] = _mean([c["spark"][k] for c in child])
        for k in JVM:
            m[f"jvm.{k}"] = _mean([c["jvm"][k] for c in child])
    else:
        for k in SPARK:
            m[f"spark.{k}"] = sum(v[k] for v in spark_ops.values()) / n_b
        for k in JVM:
            if jvm.get(k) is not None:
                m[f"jvm.{k}"] = jvm[k] if k == "heap_peak_mb" else jvm[k] / n_b
    sessions = _span_ms(spans, "core.session")
    m["core.session_ms"] = _mean(sessions) if sessions else setup.get("session_ms", 0.0)
    for name in ("add_csv_table", "execute", "pretty"):
        xs = _span_ms(spans, f"core.{name}")
        m[f"core.{name}_ms"] = _mean(xs)

    if workload == "pg_serve":
        m["serve.register_ms"] = setup.get("register_ms", 0.0)
        m["pgwire.connect_ms"] = _med(layer.get("connect_ms", []))
        wire = {c: [o["ms"] for o in b if o["cls"] == c and o["ok"]] for c in WIRE + ["readback"]}
        for c in WIRE:
            m[f"pgwire.{c}_ms"] = _med(wire[c])
        m["pgwire.read_after_write_ms"] = _med(wire["readback"])
        eng = layer.get("engine_ms", {})
        for c in ENGINE:
            m[f"pgwire.engine_ms.{c}"] = _med(eng.get(c, []))
            if wire[c] and eng.get(c):
                m[f"pgwire.overhead_ms.{c}"] = _med(wire[c]) - _med(eng[c])
        co = [o for o in b if o["cls"] == "copyout" and o["ok"]]
        ci = [o for o in b if o["cls"] == "write" and o["ok"] and o["rows"] > 100]
        m["pgwire.copyout_rows_s"] = sum(o["rows"] for o in co) / max(1e-9, sum(o["ms"] for o in co) / 1000)
        m["pgwire.copyin_rows_s"] = sum(o["rows"] for o in ci) / max(1e-9, sum(o["ms"] for o in ci) / 1000)
        m["pgwire.statements"] = len(b)
        m["pgwire.p95_ms"] = _pct([o["ms"] for o in b if o["ok"]], 0.95)

    if workload == "federate":
        m["pgfed.probe_ms"] = _mean(_span_ms(spans, "pgfed.probe"))
        m["pgfed.union_ms"] = _mean(_span_ms(spans, "pgfed.union"))
        legs = layer.get("leg_direct", [])
        m["pgfed.leg_direct_ms"] = _mean([x["ms"] for x in legs])
        m["pgfed.rows_fetched"] = _mean([x["rows"] for x in legs])
        w = [o for o in b if o["cls"] == "write" and o["ok"]]
        m["pgfed.write_ms"] = _med([o["ms"] for o in w])
        m["pgfed.rows_written"] = _mean([o["rows"] for o in w])
        m["pgfed.publish_rows_s"] = sum(o["rows"] for o in w) / max(1e-9, sum(o["ms"] for o in w) / 1000)
        m["pgfed.p90_ms"] = _pct([o["ms"] for o in b if o["cls"] == "read" and o["ok"]], 0.90)

    for k, v in self_times(spans).items():
        if f"self_ms.{k}" in m:
            m[f"self_ms.{k}"] = v / n_b

    report = {"workload": workload, "setup": setup, "spans": spans,
              "ops": ops, "spark_by_op": spark_ops, "jvm_phase_b": jvm,
              "end_to_end_untraced": half["A"], "end_to_end_traced": half["B"],
              "layer": {k: v for k, v in layer.items() if k not in ("spans",)}}
    return {k: (float(v), UNITS[k]) for k, v in m.items()}, report
