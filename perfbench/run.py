#!/usr/bin/env python3
"""Benchmark of record for spark-graft.

    python3 perfbench/run.py --workload {ingest,curate,tpch,llm_ops} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One driver process, one client thread, a
closed loop: the next item starts when the previous one has finished. The
session is ``session.get_spark()`` with the program's own defaults on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use); the
benchmark sets no Spark conf. Inputs are the tables in ``perfbench/data``;
the seed shuffles the item order of every pass.

A run is: set-up (JVM start, registry import, package shipping, one
warm-up item), one cold pass, then warm passes until ``--seconds`` have
elapsed (at least one), then the output check, which is not timed. The
last stdout line is one JSON object; the lines before it are the
human-readable row. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import arith  # noqa: E402
import layers  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
PROGRAM = os.path.join(ROOT, "pyspark_ml_features_spark")

# (name, unit) of the end-to-end metrics the JSON line carries; must match
# BENCHMARK.json (perfbench/test_arith.py checks it)
END_TO_END = (("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
              ("item_p50_s", "s"))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def isolate(scratch: str) -> None:
    """Point every temp/spill/warehouse path of Python, the JVM and Spark
    into ``scratch`` (inside the checkout), before anything starts."""
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(scratch, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    jvm = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), jvm)))
    tempfile.tempdir = None


def install_wrappers(tracer) -> None:
    """Wrap the layer entry points before ``registry.all_queries()``
    imports the operator modules, which bind some of them at import."""
    import importlib

    from pyspark_ml_features_spark import session, sources
    from pyspark_ml_features_spark.sources import io, sinks

    # plans/__init__ re-exports a function named ``audit`` over the module
    audit = importlib.import_module("pyspark_ml_features_spark.plans.audit")

    def table_name(*args, **kwargs):
        return {"table": kwargs.get("name", args[2] if len(args) > 2
                                    else None)}

    tracer.wrap([session], "tune_session", "session.tune")
    tracer.wrap([sources, io], "table", "sources.table",
                describe=table_name)
    tracer.wrap([audit], "probe_checkpoint", "plans.checkpoint", mark=True)
    tracer.wrap([sinks], "write_parquet", "sources.write_parquet",
                mark=True)


def table_rows() -> dict[str, int]:
    import pyarrow.parquet as pq

    return {t: pq.ParquetFile(os.path.join(DATA, f"{t}.parquet"))
            .metadata.num_rows for t in workloads.ORACLE_TABLES}


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in and every process left under
    this one, waiting for each to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # py4j's callback server (foreachBatch, listeners) blocks in close()
    # while the JVM still holds its connections, so it goes after the JVM
    gw.shutdown_callback_server()
    deadline = time.monotonic() + 30
    while (left := probes.descendants(os.getpid())):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def fmt(v) -> str:
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def run(args, scratch: str) -> int:
    sampler = probes.RssSampler().start()
    tracer = probes.Tracer()
    if args.trace:
        install_wrappers(tracer)
    from pyspark_ml_features_spark import registry, session

    t0 = time.perf_counter()
    spark = session.get_spark()
    t1 = time.perf_counter()
    queries = registry.all_queries()
    t2 = time.perf_counter()
    session.tune_session(spark)
    t3 = time.perf_counter()
    setup = {"session.start_s": t1 - t0, "registry.import_s": t2 - t1,
             "registry.queries": len(queries), "session.ship_s": t3 - t2}
    try:
        return measure(args, scratch, spark, queries, tracer, sampler,
                       setup)
    finally:
        stop_spark(spark)


def measure(args, scratch, spark, queries, tracer, sampler,
            setup) -> int:
    wl = workloads.make(args.workload, queries)
    ctx = workloads.Ctx(spark, DATA, scratch, queries, tracer)
    if args.trace:
        from pyspark_ml_features_spark import pipeline

        tracer.wrap([pipeline], "curate", "pipeline.curate", mark=True)
        status = probes.StatusReader(spark)
        tracer.marker = status.ids
        ctx.status = status
        ctx.stream = probes.make_stream_listener()
        spark.streams.addListener(ctx.stream)
    workloads.warmup(ctx, args.workload)
    setup_s = time.perf_counter() - T_PROCESS

    def one_pass(pass_no: int, traced: bool):
        if traced:
            # deliver events of earlier untraced items before the first
            # traced item takes its listener position
            ctx.status.settle()
        tracer.enabled = ctx.trace_pass = traced
        t = time.perf_counter()
        recs = wl.run_pass(ctx, pass_no, rng)
        wall = time.perf_counter() - t
        tracer.enabled = ctx.trace_pass = False
        return wall, recs

    rng = random.Random(args.seed)
    cold_s, records = one_pass(0, bool(args.trace))
    warm = []   # (wall, traced, records)
    t_warm = time.perf_counter()
    while True:
        # traced runs alternate untraced and traced warm passes; the gap
        # between the two is the tracing overhead. Warm passes still get
        # faster, so the seed's parity picks which comes first and the
        # warming bias cancels over runs with even and odd seeds.
        traced = bool(args.trace) and (len(warm) + args.seed) % 2 == 1
        wall, recs = one_pass(len(warm) + 1, traced)
        warm.append((wall, traced, recs))
        records += recs
        done = time.perf_counter() - t_warm >= args.seconds
        if done and (not args.trace or len(warm) % 2 == 0):
            break
    peak_mib = sampler.stop() / 2**20

    wl.check(ctx, records)
    for r in records:
        print(f"perfbench: pass {r.pass_no} {r.label} {r.wall:.3f} s",
              file=sys.stderr)
    failed = [r for r in records if r.failed]
    for r in failed:
        print(f"FAILED pass {r.pass_no} {r.label}: {r.error or r.reason}",
              file=sys.stderr)
    result = {"correct": not failed, "attempted": len(records),
              "failed": len(failed)}
    untraced = [(w, recs) for w, tr, recs in warm if not tr]
    pass_walls = [w for w, _ in untraced]
    items = [r.wall for _, recs in untraced for r in recs if not r.failed]
    head = (f"workload={args.workload} seed={args.seed} "
            f"trace={args.trace} warm_passes={len(pass_walls)}")

    if not args.trace:
        e2e = {"setup_s": setup_s, "cold_pass_s": cold_s,
               "pass_s": arith.median(pass_walls),
               "item_p50_s": arith.median(items)}
        tail = arith.tail(items)
        ratio = arith.fail_ratio(len(failed), len(records))
        row = [f"{n}={fmt(e2e[n])} {u}" for n, u in END_TO_END]
        row.append(f"item_tail_s={fmt(tail.value)} s "
                   f"(p{tail.percentile:.1f} of {tail.samples})" if tail
                   else f"item_tail_s=n/a ({len(items)} samples, "
                        f"needs >= {arith.TAIL_BEYOND + 1})")
        row.append(f"fail_ratio={ratio:.4f} 1 "
                   f"({len(failed)}/{len(records)})")
        row.append(f"peak_rss_mib={fmt(peak_mib)} MiB")
        print(head + " | " + " | ".join(row))
        result["metrics"] = {n: {"value": e2e[n], "unit": u}
                             for n, u in END_TO_END}
    else:
        rows = table_rows()
        traced = [layers.pass_metrics(recs, tracer, int(
            os.environ["SPARK_GRAFT_CPUS"]), rows, wl.scan_via_sources)
            for _, tr, recs in warm if tr]
        per = {n: arith.median([m[n] for m in traced])
               for n, _ in layers.PER_LAYER}
        per.update(setup)
        per["peak_rss_mib"] = peak_mib
        per["trace.overhead_s"] = (
            arith.median([w for w, tr, _ in warm if tr])
            - arith.median(pass_walls))
        print(head + " | " + " | ".join(
            f"{n}={fmt(per[n])} {u}" for n, u in layers.PER_LAYER))
        result["metrics"] = {n: {"value": per[n], "unit": u}
                             for n, u in layers.PER_LAYER}
        dump_spans(tracer, args)
    print(json.dumps(result), flush=True)
    return 0


def dump_spans(tracer, args) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    selfs = arith.self_times(tracer.spans)
    path = os.path.join(out, f"spans_{args.workload}_seed{args.seed}.jsonl")
    with open(path, "w") as fh:
        for i, (s, self_s) in enumerate(zip(tracer.spans, selfs)):
            fh.write(json.dumps({
                "id": i, "name": s.name, "item": s.item, "parent": s.parent,
                "start": s.start, "end": s.end, "self_s": self_s,
                **{k: v for k, v in s.attrs.items() if k != "ids"}}) + "\n")


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(PROGRAM, "__init__.py")):
        print(f"perfbench: program package not found at {PROGRAM}",
              file=sys.stderr)
        return 2
    scratch_root = os.path.join(ROOT, ".perfbench_tmp")
    scratch = os.path.join(scratch_root, str(os.getpid()))
    isolate(scratch)
    sys.path.insert(0, ROOT)
    try:
        return run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
