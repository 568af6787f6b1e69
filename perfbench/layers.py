"""Per-layer metrics of a traced run.

Layer metrics are totals per measured operation that calls the layer:
per ETL job in etl_fleet; in query_mix per execution of the member that
calls it (``registry.*`` per registry query, ``registry.<q>.*`` per
execution of that query, ``flagship.*`` per view, ``pipeline.*`` and
``sinks.*`` per curation run). ``spark.*`` are per operation of any kind.
``driver_s`` is span time with no Spark job of the span running,
``jobs_s`` the union of its jobs' wall intervals. A layer the workload
never calls reads 0.

Which end-to-end metric each layer should move (NOTES.md has the table):
ingest and consolidate move etl_fleet latency_s and throughput_per_s;
sinks moves etl_fleet throughput_per_s and query_mix throughput_per_s
(the curation member is the mix's slowest); flagship moves etl_fleet and
query_mix latency_s; registry moves query_mix latency_s; pipeline moves
query_mix throughput_per_s and peak_rss_mb; session moves setup_s.
"""

from __future__ import annotations

import json
import os
import statistics

from workloads import QUERY_MIX

_BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
with open(_BENCHMARK, encoding="utf-8") as _f:
    #: Every per-layer metric, in BENCHMARK.json order: (name, unit).
    PER_LAYER: list[tuple[str, str]] = [(m["name"], m["unit"]) for m in json.load(_f)["per_layer"]]


def per_layer_metrics(tr, log, n_ops, busy, cpus, counts, lat, *, session_start) -> dict:
    ops = max(n_ops, 1)
    spans = [sp for sp in tr.spans if sp.op >= 0]

    def pick(layer, pred=lambda name: True):
        return [sp for sp in spans if sp.layer == layer and pred(sp.name)]

    def execs(sel):
        """Measured operations that called the selected spans."""
        return max(len({sp.op for sp in sel}), 1)

    def busy_s(sel):
        return sum(sp.dur for sp in sel) / execs(sel)

    def jobs_s(sel):
        return sum(log.group(sp.group).jobs_wall_s for sp in sel) / execs(sel)

    def total(sel, attr):
        return sum(getattr(log.group(sp.group), attr) for sp in sel)

    def per_exec(sel, attr):
        return total(sel, attr) / execs(sel)

    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = session_start

    ingest = pick("ingest", lambda n: n == "ingest_wide_file")
    if ingest:
        m["ingest.busy_s"] = busy_s(ingest)
        m["ingest.jobs_s"] = jobs_s(ingest)
        m["ingest.driver_s"] = m["ingest.busy_s"] - m["ingest.jobs_s"]
        m["ingest.jobs_per_file"] = total(ingest, "jobs") / len(ingest)
        m["ingest.rows_in"] = counts["rows_in"]
        m["ingest.reload_s"] = busy_s(pick("ingest", lambda n: n == "read_typed_csv"))

    cons = pick("consolidate")
    if cons:
        m["consolidate.busy_s"] = busy_s(cons)
        m["consolidate.jobs_s"] = jobs_s(cons)
        m["consolidate.driver_s"] = m["consolidate.busy_s"] - m["consolidate.jobs_s"]
        m["consolidate.jobs"] = per_exec(cons, "jobs")
        m["consolidate.dedup_ratio"] = counts["rows_out"] / counts["long_rows"]

    sinks = pick("sinks")
    if sinks:
        m["sinks.busy_s"] = busy_s(sinks)
        m["sinks.jobs_s"] = jobs_s(sinks)
        m["sinks.driver_s"] = m["sinks.busy_s"] - m["sinks.jobs_s"]
        m["sinks.bytes_written"] = per_exec(sinks, "bytes_written")
        m["sinks.files_written"] = counts["files_written"]

    flag = pick("flagship")
    if flag:
        m["flagship.busy_s"] = busy_s(flag)
        m["flagship.jobs_s"] = jobs_s(flag)
        m["flagship.driver_s"] = m["flagship.busy_s"] - m["flagship.jobs_s"]
        m["flagship.shuffle_bytes"] = per_exec(flag, "shuffle_write_bytes")
        m["flagship.view.build_s"] = busy_s(pick("flagship", lambda n: n == "view.build"))
        m["flagship.view.execute_s"] = busy_s(pick("flagship", lambda n: n == "view.execute"))

    reg = pick("registry")
    if reg:
        build = pick("registry", lambda n: n.endswith(".build"))
        execute = pick("registry", lambda n: n.endswith(".execute"))
        m["registry.build_s"] = busy_s(build)
        m["registry.execute_s"] = busy_s(execute)
        m["registry.build_jobs"] = per_exec(build, "jobs")
        m["registry.jobs_s"] = jobs_s(reg)
        m["registry.driver_s"] = busy_s(reg) - m["registry.jobs_s"]
        for q in QUERY_MIX:
            for part in ("build", "execute"):
                m[f"registry.{q}.{part}_s"] = busy_s(pick("registry", lambda n: n == f"{q}.{part}"))

    pipe = pick("pipeline")
    if pipe:
        m["pipeline.build_s"] = busy_s(pipe)
        m["pipeline.build_jobs"] = per_exec(pipe, "jobs")
        # the pipeline's plan is lazy: its executed work is the write
        m["pipeline.execute_s"] = busy_s(pick("sinks", lambda n: n == "write_jsonl"))
        m["pipeline.jobs_s"] = jobs_s(pipe)
        m["pipeline.driver_s"] = m["pipeline.build_s"] - m["pipeline.jobs_s"]
        m["pipeline.survivor_ratio"] = counts["survivors"] / counts["docs"]

    m["spark.jobs"] = total(spans, "jobs") / ops
    m["spark.stages"] = total(spans, "stages") / ops
    m["spark.tasks"] = total(spans, "tasks") / ops
    m["spark.tasks_failed"] = total(spans, "tasks_failed")
    m["spark.task_busy_s"] = total(spans, "task_busy_s") / ops
    m["spark.sched_delay_s"] = total(spans, "sched_delay_s") / ops
    m["spark.gc_s"] = total(spans, "gc_s") / ops
    m["spark.shuffle_write_bytes"] = total(spans, "shuffle_write_bytes") / ops
    m["spark.spill_bytes"] = total(spans, "spill_bytes") / ops
    m["spark.core_util"] = total(spans, "task_busy_s") / (busy * cpus) if busy else 0.0

    medians = [statistics.median(v) for v in lat.values()]
    m["trace.latency_s"] = statistics.geometric_mean(medians) if medians else 0.0
    m["trace.overhead_s"] = tr.overhead_s / ops
    units = dict(PER_LAYER)
    undeclared = sorted(set(m) - set(units))
    if undeclared:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
    return {name: (value, units[name]) for name, value in m.items()}
