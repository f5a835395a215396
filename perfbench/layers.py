"""Per-layer metrics of one traced pass, from the spans the benchmark
recorded and the status-store and stream-listener reads taken per item.

Every name here is listed under ``per_layer`` in BENCHMARK.json; a layer
that does no work on a workload reports 0.
"""

from __future__ import annotations

import os

import arith
from probes import sum_stages

# (name, unit) in the order the traced run prints them
PER_LAYER = (
    ("session.start_s", "s"), ("session.ship_s", "s"),
    ("registry.import_s", "s"), ("registry.queries", "count"),
    ("session.tune_calls", "count"), ("session.tune_s", "s"),
    ("sources.table_calls", "count"), ("sources.table_s", "s"),
    ("sources.input_records", "count"), ("sources.input_bytes", "bytes"),
    ("sources.scan_amplification", "1"), ("sources.write_s", "s"),
    ("sources.output_bytes", "bytes"), ("sources.output_files", "count"),
    ("operators.build_s", "s"), ("operators.build_self_s", "s"),
    ("operators.exec_s", "s"), ("operators.jobs", "count"),
    ("operators.build_jobs", "count"), ("operators.stages", "count"),
    ("operators.tasks", "count"), ("operators.failed_tasks", "count"),
    ("operators.task_run_s", "s"), ("operators.task_cpu_s", "s"),
    ("operators.task_wait_s", "s"), ("operators.gc_s", "s"),
    ("operators.shuffle_write_bytes", "bytes"),
    ("operators.shuffle_read_bytes", "bytes"),
    ("operators.spill_bytes", "bytes"),
    ("operators.peak_exec_mem_bytes", "bytes"),
    ("operators.slot_util", "1"),
    ("plans.checkpoint_calls", "count"), ("plans.checkpoint_s", "s"),
    ("streaming.drain_s", "s"), ("streaming.batches", "count"),
    ("streaming.input_rows", "count"), ("streaming.rows_per_s", "rows/s"),
    ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mem_bytes", "bytes"),
    ("streaming.state_commit_s", "s"), ("streaming.overhead_s", "s"),
    ("pipeline.curate_s", "s"), ("pipeline.jobs", "count"),
    ("pipeline.scan_amplification", "1"),
    ("peak_rss_mib", "MiB"), ("trace.overhead_s", "s"),
)

# children subtracted from a build span to get the operators' own time
BUILD_CHILDREN = {"sources.table", "session.tune", "plans.checkpoint"}


def _sum_spans(spans, name: str) -> tuple[int, float]:
    ds = [s.duration for _, s in spans if s.name == name]
    return len(ds), sum(ds)


def _count_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files
               if f.startswith("part-"))


def pass_metrics(records, tracer, cores: int, table_rows: dict,
                 scan_via_sources: bool) -> dict[str, float]:
    """Sum one traced pass. ``table_rows`` maps table name to row count
    (the base of both scan amplifications); ``scan_via_sources`` is False
    when the workload's scans bypass ``sources.table`` (file-source
    streams), where a scan amplification would have no base."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    read_rows = 0
    task_run = 0.0
    wall = 0.0
    for rec in records:
        spans = tracer.item_spans(rec.item)
        st = rec.layer["status"]
        tot = sum_stages(st["stages"])
        wall += rec.wall
        for key, name in (("session.tune_calls", "session.tune"),
                          ("sources.table_calls", "sources.table"),
                          ("plans.checkpoint_calls", "plans.checkpoint")):
            n, d = _sum_spans(spans, name)
            m[key] += n
            m[key.replace("_calls", "_s")] += d
        read_rows += sum(table_rows[s.attrs["table"]] for _, s in spans
                         if s.name == "sources.table")
        m["sources.write_s"] += _sum_spans(spans, "sources.write_parquet")[1]
        m["sources.input_records"] += tot["inputRecords"]
        m["sources.input_bytes"] += tot["inputBytes"]
        m["sources.output_bytes"] += tot["outputBytes"]
        if "path" in rec.layer:
            m["sources.output_files"] += _count_files(rec.layer["path"])

        for i, s in spans:
            if s.name == "operators.build":
                m["operators.build_s"] += s.duration
                m["operators.build_self_s"] += arith.self_time_excluding(
                    tracer.spans, i, BUILD_CHILDREN)
                (j0, _), (j1, _) = s.attrs["ids"]
                m["operators.build_jobs"] += j1 - j0
            elif s.name == "operators.exec":
                m["operators.exec_s"] += s.duration
            elif s.name == "pipeline.curate":
                m["pipeline.curate_s"] += s.duration
                (j0, s0), (j1, s1) = s.attrs["ids"]
                m["pipeline.jobs"] += j1 - j0
                m["pipeline.scan_amplification"] += arith.scan_amplification(
                    sum_stages(st["stages"], s0, s1)["inputRecords"],
                    table_rows["documents"])
        m["operators.jobs"] += len(st["jobs"])
        m["operators.stages"] += tot["stages"]
        m["operators.tasks"] += (tot["numCompleteTasks"]
                                 + tot["numFailedTasks"]
                                 + tot["numKilledTasks"])
        m["operators.failed_tasks"] += tot["numFailedTasks"]
        run_s = tot["executorRunTime"] / 1e3
        cpu_s = tot["executorCpuTime"] / 1e9
        task_run += run_s
        m["operators.task_run_s"] += run_s
        m["operators.task_cpu_s"] += cpu_s
        m["operators.task_wait_s"] += run_s - cpu_s
        m["operators.gc_s"] += tot["jvmGcTime"] / 1e3
        m["operators.shuffle_write_bytes"] += tot["shuffleWriteBytes"]
        m["operators.shuffle_read_bytes"] += tot["shuffleReadBytes"]
        m["operators.spill_bytes"] += (tot["memoryBytesSpilled"]
                                       + tot["diskBytesSpilled"])
        m["operators.peak_exec_mem_bytes"] = max(
            m["operators.peak_exec_mem_bytes"], tot["peakExecutionMemory"])

        stream = rec.layer["stream"]
        if stream["queries"]:
            m["streaming.drain_s"] += rec.wall
        final_state: dict[str, tuple] = {}
        for p in stream["progress"]:
            d = p["durations"]
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += p["rows"]
            m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            m["streaming.wal_commit_s"] += (d.get("walCommit", 0)
                                            + d.get("commitOffsets", 0)) / 1e3
            m["streaming.state_commit_s"] += sum(
                c for _, _, c in p["state"]) / 1e3
            if p["batch"] >= final_state.get(p["id"], (-1,))[0]:
                final_state[p["id"]] = (p["batch"], p["state"])
        for _, state in final_state.values():
            m["streaming.state_rows"] += sum(r for r, _, _ in state)
            m["streaming.state_mem_bytes"] += sum(b for _, b, _ in state)

    if wall > 0:
        m["operators.slot_util"] = arith.slot_util(task_run, wall, cores)
    if scan_via_sources and read_rows:
        m["sources.scan_amplification"] = arith.scan_amplification(
            int(m["sources.input_records"]), read_rows)
    if m["streaming.drain_s"] > 0:
        m["streaming.rows_per_s"] = (m["streaming.input_rows"]
                                     / m["streaming.drain_s"])
        m["streaming.overhead_s"] = (m["streaming.drain_s"]
                                     - m["streaming.trigger_s"])
    return m
