"""The two workloads, built from the engine's public entry points.

``publish`` is the cron tick the paper ships: folders of analyst ``.sql``
files go through ``SqlFolderPipeline(dialect="mysql")`` into
``CsvDirSink`` (what ``python -m sheetsetl_spark run`` does by default),
then the export folder goes through the same runner into
``GoogleSheetsSink(HttpDriveClient(...))`` against a loopback fake Drive.
It stresses translation, planning, the cell guard and the sinks, and
bypasses the curation operators and streaming.

``curate`` is the LLM-curation tick: five curation registry queries,
each written to a noop sink, then the documents drop files ingested one
file per trigger through ``SignatureDedupIngestForeachBatch``. It is
bound by executor work in ``operators.*`` and ``streaming/pipeline.py``,
and bypasses translation, the guard and the sinks.

Each workload runs a tick (the first pass after set-up, what a cron
tick pays in a fresh process), then more passes while the measuring
window lasts. An operation is a file, a query or a micro-batch.
"""

from __future__ import annotations

import contextlib
import os
import time

from sheetsetl_spark.catalog import register_views
from sheetsetl_spark.pipeline.runner import SqlFolderPipeline
from sheetsetl_spark.queries import QUERIES
from sheetsetl_spark.sinks.base import dir_bytes

#: The curation queries, by operator family: the ones that carry the
#: open operator items (c72's broadcast, c2b's persist, c69's rounds,
#: the Arrow cap on the media operators, c55's PQ scoring), at least one
#: per family. c82 (edit-distance join) is left out: the run must fit
#: the time the whole set of runs is allowed on a 4-vCPU host.
CURATION = {
    "dedup": ["c2b_minhash_lsh", "c72_prefix_filter_jaccard"],
    "similarity": ["c55_topk_cosine_pq"],
    "text": ["c69_bpe_train_apply"],
    "multimodal": ["c50_image_neardup"],
}
FAMILY = {q: fam for fam, qs in CURATION.items() for q in qs}
INGEST_SCHEMA = "doc_id long, text string"


class TimedSink:
    """Wraps an injected sink: records when each write ends (the file's
    publish time) and, when tracing, spans the write."""

    def __init__(self, sink, span_name: str, tracer):
        self.sink, self.span_name, self.tracer = sink, span_name, tracer
        self.ends: list[tuple[str, float]] = []

    def write(self, df, name: str) -> None:
        with self.tracer.span(self.span_name, file=name):
            self.sink.write(df, name)
        self.ends.append((name, time.perf_counter()))

    def __getattr__(self, attr):
        return getattr(self.sink, attr)


class CountingDriveClient:
    """Wraps the injected Drive client: counts chunks sent and attempted
    and uploaded bytes, and spans each call when tracing."""

    def __init__(self, client, tracer):
        self.client, self.tracer = client, tracer
        self.chunks = self.attempts = self.bytes = 0

    def list_files(self, folder_id, page_token=None):
        with self.tracer.span("drive_http.list"):
            return self.client.list_files(folder_id, page_token)

    def start_upload(self, metadata, file_id=None):
        with self.tracer.span("drive_http.upload"):
            return self.client.start_upload(metadata, file_id=file_id)

    def upload_chunk(self, session, chunk, offset, total):
        self.attempts += 1
        with self.tracer.span("drive_http.upload"):
            done = self.client.upload_chunk(session, chunk, offset, total)
        self.chunks += 1
        if offset == 0:
            self.bytes += total
        return done


class _TracedSql:
    """The session handed to the runner in the traced run: ``sql`` runs
    inside a ``runner.analyze`` span, everything else passes through."""

    def __init__(self, spark, tracer):
        self._spark, self._tracer = spark, tracer

    def sql(self, *args, **kwargs):
        with self._tracer.span("runner.analyze"):
            return self._spark.sql(*args, **kwargs)

    def __getattr__(self, attr):
        return getattr(self._spark, attr)


@contextlib.contextmanager
def traced_runner(tracer):
    """Traced run only: span the public functions the runner calls."""
    from sheetsetl_spark.functions import mysql_compat
    from sheetsetl_spark.pipeline import runner

    translate, guard = mysql_compat.mysql_file_to_spark_sql, runner.cell_count_guard
    counter = iter(range(1 << 30))

    def traced_translate(sql):
        tracer.op = f"file{next(counter)}"  # each file is translated once, first
        with tracer.span("mysql_compat.translate"):
            return translate(sql)

    def traced_guard(df, name, limit):
        with tracer.span("guard", file=name) as rec:
            rows = guard(df, name, limit)
            rec["rows"] = rows
            return rows

    mysql_compat.mysql_file_to_spark_sql, runner.cell_count_guard = traced_translate, traced_guard
    try:
        yield
    finally:
        mysql_compat.mysql_file_to_spark_sql, runner.cell_count_guard = translate, guard


def _file_ops(results, ends: dict[str, float], t0: float, t1: float) -> list[dict]:
    """Per-file time from the previous file's publish (or the pass start:
    discovery) to this file's publish. A file that publishes nothing
    closes at the next publish, or at the end of the pass when last."""
    ops, prev = [], t0
    for i, r in enumerate(results):
        end = ends.get(r.name, t1 if i == len(results) - 1 else None)
        ops.append({"name": r.name, "status": r.status, "error": r.error,
                    "s": None if end is None else end - prev})
        prev = end if end is not None else prev
    return ops


def run_folder(ctx, folder: str, sink: TimedSink, layer: str) -> dict:
    """One ``SqlFolderPipeline.run()`` over ``folder``."""
    tracer = ctx.tracer
    spark = _TracedSql(ctx.spark, tracer) if tracer.enabled else ctx.spark
    mark = len(sink.ends)
    t0 = time.perf_counter()
    with tracer.span("runner", layer=layer, folder=os.path.basename(folder)):
        report = SqlFolderPipeline(
            spark, folder, sink,
            cell_limit=ctx.cell_limit,
            setup=lambda s: register_views(s, ctx.tables_dir),
            dialect="mysql",
        ).run()
    t1 = time.perf_counter()
    tracer.after_op()
    return {"layer": layer, "s": t1 - t0,
            "ops": _file_ops(report.results, dict(sink.ends[mark:]), t0, t1)}


def publish(ctx, seconds: float) -> dict:
    """Each analyst folder to CSV, one pipeline run per folder, then the
    export folder to Sheets. A pass covers the whole analyst corpus, so
    every pass runs the same files whatever the seed; with one folder per
    pass the tick also varied with which ten files the seed drew."""
    passes, start = [], time.perf_counter()
    with traced_runner(ctx.tracer) if ctx.tracer.enabled else contextlib.nullcontext():
        while not passes or time.perf_counter() - start < seconds:
            t0 = time.perf_counter()
            with ctx.tracer.span("pass", index=len(passes)):
                parts = [run_folder(ctx, f, ctx.csv_sink, "analyst") for f in ctx.analyst_folders]
                parts.append(run_folder(ctx, ctx.export_dir, ctx.sheets_sink, "export"))
            for part in parts[:-1]:
                part["bytes"] = sum(dir_bytes(ctx.csv_sink.path_for(o["name"]))
                                    for o in part["ops"] if o["status"] == "ok")
            passes.append({"s": time.perf_counter() - t0, "parts": parts})
    return {"passes": passes}


def curation_pass(ctx) -> dict:
    """The curation queries in registry-family order. The order is fixed
    so that the same query pays the session's cold start on every seed."""
    tracer, ops = ctx.tracer, []
    for q in FAMILY:
        tracer.op = q
        t0 = time.perf_counter()
        try:
            with tracer.span(f"queries.{q}.build", family=FAMILY[q]):
                df = QUERIES[q](ctx.spark, ctx.tables_dir)
            t1 = time.perf_counter()
            with tracer.span(f"operators.{q}.exec", family=FAMILY[q]):
                df.write.format("noop").mode("overwrite").save()
            status, error = "ok", None
        except Exception as exc:  # a failing query is counted, the pass goes on
            t1, status, error = time.perf_counter(), "error", repr(exc)[:300]
        t2 = time.perf_counter()
        tracer.after_op()
        ops.append({"name": q, "status": status, "error": error, "s": t2 - t0,
                    "build_s": t1 - t0, "exec_s": t2 - t1})
    return {"layer": "curation", "s": sum(o["s"] for o in ops), "ops": ops}


def ingest_stream(ctx, drop_dir: str, state_dir: str) -> dict:
    """One ``availableNow`` stream over ``drop_dir``, one file per
    trigger, into a fresh history and index."""
    from sheetsetl_spark.streaming import SignatureDedupIngestForeachBatch

    tracer = ctx.tracer
    ingest = SignatureDedupIngestForeachBatch(
        os.path.join(state_dir, "history"), os.path.join(state_dir, "index"), threshold=0.5)
    calls: dict[int, float] = {}

    def batch(df, batch_id):
        tracer.op = f"batch{batch_id}"
        t0 = time.perf_counter()
        with tracer.span("streaming.batch", batch=batch_id):
            ingest(df, batch_id)
        calls[batch_id] = time.perf_counter() - t0
        tracer.after_op()

    t0 = time.perf_counter()
    error = None
    with tracer.span("streaming.stream"):
        query = (
            ctx.spark.readStream.schema(INGEST_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop_dir)
            .writeStream.foreachBatch(batch)
            .option("checkpointLocation", os.path.join(state_dir, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        except Exception as exc:  # the stream died: counted as a failed operation
            error = repr(exc)[:300]
    wall = time.perf_counter() - t0
    ops = []
    for p in query.recentProgress:
        if p.numInputRows and p.batchId in calls:
            total = p.durationMs["triggerExecution"] / 1000.0
            ops.append({"name": f"batch{p.batchId}", "status": "ok", "error": None,
                        "s": total, "callable_s": calls[p.batchId],
                        "rows": p.numInputRows})
    if error:
        ops.append({"name": "stream", "status": "error", "error": error, "s": None})
    return {"layer": "ingest", "s": wall, "ops": ops, "ingest": ingest, "error": error}


def curate(ctx, seconds: float) -> dict:
    """The curation queries, then the ingest stream. One tick outlasts
    the measuring window, so ``seconds`` adds no pass."""
    t0 = time.perf_counter()
    with ctx.tracer.span("pass", index=0):
        queries = curation_pass(ctx)
        ingest = ingest_stream(ctx, ctx.drop_dir, os.path.join(ctx.work, "ingest"))
    return {"passes": [{"s": time.perf_counter() - t0, "parts": [queries, ingest]}]}


WORKLOADS = {"publish": publish, "curate": curate}
