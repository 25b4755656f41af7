"""The traced pass: one pass of a workload with a span around every layer
call, and the per-layer metrics read back from the spans, the status
store and the output directory. Layer calls are wrapped from here, by
replacing the module attribute the program looks up at call time."""

from __future__ import annotations

import importlib
import os
import time

from .probes import Peak, stage_totals
from .workloads import drop_cached

#: span name -> the public calls it wraps ("module:function")
LAYER_CALLS = {
    "sources.read": [
        "recon_spark.sources.load:load_relius",
        "recon_spark.sources.load:load_matrix",
        "recon_spark.sources.load:load_relius_demo",
        "recon_spark.sources.load:load_roth_basis",
    ],
    "cleaning.build": [
        "recon_spark.operators.cleaning:clean_relius",
        "recon_spark.operators.cleaning:clean_matrix",
        "recon_spark.operators.cleaning:clean_relius_demo",
        "recon_spark.operators.cleaning:clean_roth_basis",
    ],
    "engines.build": [
        "recon_spark.engines.match_planid:reconcile_relius_matrix",
        "recon_spark.engines.age_taxcode:run_age_taxcode_analysis",
        "recon_spark.engines.roth_taxable:run_roth_taxable_analysis",
        "recon_spark.engines.ira_rollover:run_ira_rollover_analysis",
    ],
    "corrections.build": ["recon_spark.plans.corrections:build_correction_df"],
    "sinks.write": ["recon_spark.sources.sinks:write_correction_file"],
}

SPARK_COUNTERS = [
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.catalyst_ms", "ms"),
    ("spark.slot_busy_ratio", "ratio"),
]


def _wrap_layers(tracer) -> list:
    undo = []
    for span_name, calls in LAYER_CALLS.items():
        for call in calls:
            mod_name, attr = call.split(":")
            mod = importlib.import_module(mod_name)
            if hasattr(mod, attr):  # a renamed call drops out of its layer
                undo.append(tracer.wrap(mod, attr, span_name))
    return undo


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def traced(wl, tracer, cpus: int) -> dict[str, tuple[float, str]]:
    probe = tracer.probe
    undo = _wrap_layers(tracer)
    try:
        with Peak(probe.cached_bytes, interval_s=0.2) as cache:
            t0 = time.perf_counter()
            with tracer.span("pass") as root:
                wl.run_pass(tracer)
            pass_s = time.perf_counter() - t0
    finally:
        for u in reversed(undo):
            u()
    frames_left = drop_cached(probe)

    by_span = tracer.attribute()
    stages = tracer.stage_data
    tot = stage_totals(by_span[root["id"]]["stages"], stages)
    m: dict[str, tuple[float, str]] = {}
    for name, unit in SPARK_COUNTERS:
        key = name.split(".", 1)[1]
        if key in tot:
            m[name] = (tot[key], unit)
    m["spark.jobs"] = (len(by_span[root["id"]]["jobs"]), "count")
    m["spark.catalyst_ms"] = (tracer.catalyst_ms(root), "ms")
    m["spark.slot_busy_ratio"] = (tot["executor_run_s"] / (cpus * pass_s), "ratio")

    def spans(name):
        return [s for s in tracer.spans if s["name"] == name]

    def wall(name):
        return sum(s["end"] - s["start"] for s in spans(name))

    def jobs_of(name):
        return set().union(*[by_span[s["id"]]["jobs"] for s in spans(name)])

    def stages_of(name):
        ids = set().union(*[by_span[s["id"]]["stages"] for s in spans(name)])
        return [i for i in ids if stages[i]["status"] != "SKIPPED"]

    for e in "abcd":
        m[f"cli.engine_{e}_s"] = (wall(f"cli.engine_{e}"), "s")
    for layer in ("sources.read", "cleaning.build", "engines.build", "corrections.build"):
        m[f"{layer}_ms"] = (wall(layer) * 1e3, "ms")
    m["sinks.write_s"] = (wall("sinks.write"), "s")
    files, size = _dir_stats(wl.out) if hasattr(wl, "out") else (0, 0)
    m["sinks.bytes_written"] = (size, "bytes")
    m["sinks.files_written"] = (files, "count")
    m["corpus.build_s"] = (wall("corpus.build"), "s")
    m["corpus.eager_jobs"] = (len(jobs_of("corpus.build")), "count")
    m["corpus.eager_stages"] = (len(stages_of("corpus.build")), "count")
    m["corpus.action_s"] = (wall("corpus.action"), "s")
    m["staging.cached_bytes_peak"] = (cache.peak, "bytes")
    m["staging.frames_left"] = (frames_left, "count")
    m["trace.pass_s"] = (pass_s, "s")
    m["trace.self_s"] = (tracer.self_s, "s")
    m["trace.spans"] = (len(tracer.spans), "count")
    return m
