"""Workload definitions: the items of one pass, how each runs, and how its
output is checked.

Every item goes through the program's public entry points only:
registry queries through ``registry.Query.fn`` (build) and a noop sink
(execute); the composed pipeline through ``pipeline.curate`` and
``sources.sinks.write_parquet``. Checks run after the timed passes.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from dataclasses import dataclass, field

from probes import Tracer

# Registry items of one pass, by name prefix (``d4`` = ``d4_pricing_summary``).
REGISTRY_WORKLOADS = {
    "tpch": "d4 d1 d2 d25 d36 d43 d45 d47 d48 d37 d61 d62 d63 d64 d86",
    "llm_ops": "e1 e36 e31 e33 e2d t5 e69 e80 t18 e4_knn_cosine e4e e71 "
               "e103 d59 d21 d20",
    "ingest": "s14 s18 s19",
}
WORKLOADS = (*REGISTRY_WORKLOADS, "curate")
# Set-up ends with one warm-up item: a registry query in no pass that runs
# through the same subsystem as the workload, so the JVM's first-job costs
# for that subsystem land in set-up (whose spread is not gated) instead of
# the cold pass, without warming any item the cold pass measures.
WARMUP = {"tpch": "d5", "llm_ops": "e5_embedding_normalize",
          "ingest": "s17", "curate": "e1"}

ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings")


@dataclass
class Record:
    """One attempted item."""
    pass_no: int
    label: str
    wall: float
    item: int
    error: str | None = None
    output: object = None
    reason: str | None = None   # set when the output check fails
    layer: dict = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.error is not None or self.reason is not None


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    scratch: str
    queries: dict
    tracer: Tracer
    status: object = None        # probes.StatusReader when tracing
    stream: object = None        # probes StreamEvents when tracing
    trace_pass: bool = False


def resolve(queries: dict, prefix: str) -> str:
    hits = [n for n in queries if n == prefix or n.startswith(prefix + "_")]
    if len(hits) != 1:
        raise KeyError(f"registry prefix {prefix!r} matches {hits}")
    return hits[0]


def canon_hash(pdf) -> str:
    """Order-insensitive value hash, as scripts/drive_contract.py computes it:
    columns sorted by name, rows sorted by every column, repr per cell."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns),
                          kind="mergesort").reset_index(drop=True)
    rows = [tuple(repr(v) for v in row)
            for row in pdf.itertuples(index=False)]
    return hashlib.md5(repr(rows).encode()).hexdigest()


def duckdb_con(sf_dir: str, scratch: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(scratch, 'duckdb')}'")
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def run_item(ctx: Ctx, pass_no: int, label: str, body) -> Record:
    """Run one item in the closed loop; an exception fails the item and
    the loop goes on. In a traced pass the status store and the stream
    listener are read right after the item, before anything can evict
    its entries."""
    tr = ctx.tracer
    tr.item += 1
    rec = Record(pass_no, label, 0.0, tr.item)
    marks = ctx.stream.marks() if ctx.trace_pass else None
    t0 = time.perf_counter()
    try:
        with tr.span("item", mark=True, label=label) as root:
            rec.output = body()
    except Exception as ex:  # a failed item is counted, never fatal
        rec.error = f"{type(ex).__name__}: {str(ex)[:300]}"
    rec.wall = time.perf_counter() - t0
    if ctx.trace_pass:
        ctx.status.settle()
        rec.layer["status"] = ctx.status.read(*root.attrs["ids"])
        rec.layer["stream"] = ctx.stream.since(marks)
    return rec


class RegistryWorkload:
    """A pass runs every listed registry query once, in a seed-shuffled
    order: build through ``Query.fn``, then execute to the noop sink."""

    def __init__(self, name: str, queries: dict):
        self.names = [resolve(queries, p)
                      for p in REGISTRY_WORKLOADS[name].split()]
        # ingest's streams open events through the file source, not
        # sources.table, so its scans have no table-rows base
        self.scan_via_sources = name != "ingest"
        no_oracle = [n for n in self.names if queries[n].oracle is None]
        if no_oracle:
            raise ValueError(f"items without a DuckDB oracle: {no_oracle}")

    def _one(self, ctx: Ctx, name: str):
        q = ctx.queries[name]
        with ctx.tracer.span("operators.build", mark=True):
            df = q.fn(ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("operators.exec", mark=True):
            df.write.format("noop").mode("overwrite").save()
        return df

    def run_pass(self, ctx: Ctx, pass_no: int,
                 rng: random.Random) -> list[Record]:
        order = list(self.names)
        rng.shuffle(order)
        return [run_item(ctx, pass_no, name, lambda n=name: self._one(ctx, n))
                for name in order]

    def check(self, ctx: Ctx, records: list[Record]) -> None:
        """Hash every executed item's output against its DuckDB oracle."""
        con = duckdb_con(ctx.sf_dir, ctx.scratch)
        try:
            want = {n: canon_hash(con.execute(ctx.queries[n].oracle)
                                  .fetchdf())
                    for n in {r.label for r in records}}
        finally:
            con.close()
        for r in records:
            if r.error is not None:
                continue
            try:
                got = canon_hash(r.output.toPandas())
            except Exception as ex:  # an unreadable output fails the item
                r.reason = f"output unreadable: {type(ex).__name__}: {ex}"
                continue
            if got != want[r.label]:
                r.reason = "hash differs from the DuckDB oracle"


class CurateWorkload:
    """A pass runs ``pipeline.curate`` once, then writes ``packed``
    (partitioned by ``lang``) and ``split`` with
    ``sources.sinks.write_parquet`` to a fresh directory, in seed-shuffled
    order, each write reading its row count back."""

    scan_via_sources = True

    def __init__(self):
        self._last = None   # the latest pass's curate() result

    def run_pass(self, ctx: Ctx, pass_no: int,
                 rng: random.Random) -> list[Record]:
        from pyspark_ml_features_spark import pipeline
        from pyspark_ml_features_spark.sources import sinks

        out = []
        result = {}

        def curate():
            result.update(pipeline.curate(ctx.spark, ctx.sf_dir))
            return result["funnel"]

        out.append(run_item(ctx, pass_no, "curate", curate))
        if out[0].error is not None:
            return out
        self._last = result
        writes = [("packed", ["lang"]), ("split", None)]
        rng.shuffle(writes)
        for key, part in writes:
            path = os.path.join(ctx.scratch, f"out_p{pass_no}_{key}")

            def write(key=key, part=part, path=path):
                sinks.write_parquet(result[key], path, partition_by=part)
                return ctx.spark.read.parquet(path).count()

            rec = run_item(ctx, pass_no, f"write_{key}", write)
            rec.layer["path"] = path
            out.append(rec)
        return out

    def check(self, ctx: Ctx, records: list[Record]) -> None:
        """Funnel monotone and starting at every document; exact-dedup
        stage equal to DuckDB's distinct ``lower(trim(text))`` count;
        every re-read row count equal to the in-memory count."""
        con = duckdb_con(ctx.sf_dir, ctx.scratch)
        try:
            n_docs, n_distinct = con.execute(
                "SELECT count(*), count(DISTINCT lower(trim(text))) "
                "FROM documents").fetchone()
        finally:
            con.close()
        counts = {}
        if self._last is not None:
            counts = {k: self._last[k].count() for k in ("packed", "split")}
        for r in records:
            if r.error is not None:
                continue
            if r.label == "curate":
                r.reason = _funnel_problem(r.output, n_docs, n_distinct)
            elif r.output != counts[r.label.removeprefix("write_")]:
                r.reason = (f"re-read {r.output} rows, in-memory count "
                            f"{counts[r.label.removeprefix('write_')]}")


def _funnel_problem(funnel, n_docs: int, n_distinct: int) -> str | None:
    if not funnel:
        return "empty funnel"
    if funnel[0][1] != n_docs:
        return f"funnel starts at {funnel[0][1]} docs, table has {n_docs}"
    prev_out = funnel[0][1]
    for stage, n_in, n_out in funnel:
        if n_in != prev_out or n_out > n_in:
            return f"funnel not monotone at {stage}: {n_in} -> {n_out}"
        prev_out = n_out
    stage, _, n_exact = funnel[0]
    if stage != "exact_dedup" or n_exact != n_distinct:
        return (f"{stage} kept {n_exact} docs, DuckDB distinct "
                f"lower(trim(text)) is {n_distinct}")
    return None


def warmup(ctx: Ctx, workload: str) -> None:
    df = ctx.queries[resolve(ctx.queries, WARMUP[workload])].fn(
        ctx.spark, ctx.sf_dir)
    df.write.format("noop").mode("overwrite").save()


def make(name: str, queries: dict):
    if name == "curate":
        return CurateWorkload()
    return RegistryWorkload(name, queries)
