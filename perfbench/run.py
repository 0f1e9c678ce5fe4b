"""Product-path benchmark for sheetsetl_spark.

Run from the repository root:

    python3 perfbench/run.py --workload publish --seed 1 --seconds 10 --trace 0

``--workload`` is ``publish`` or ``curate`` (see ``workloads.py``). The
inputs are generated from ``--seed``. With ``--trace 0`` the last line of
standard output is one JSON object carrying the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run, and the
spans go to ``.perfbench_out/``. Every output is checked; a failed check
prints ``"correct": false`` and exits 1. Without the engine's sources next
to ``perfbench/`` the command exits 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: JVM heap: the inputs are small, and the host is shared.
HEAP = "3g"
#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: Curation queries whose results a timed run checks against DuckDB: a
#: seeded choice among those whose DuckDB twin takes about a second at
#: the bench size. The twin of c69 takes 10-40 s there; the smoke test
#: checks it, with every other query, on smaller documents.
CHECKED_QUERIES = 2
SLOW_TWINS = ("c69_bpe_train_apply",)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("publish", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "smoke"), default="bench")
    return p.parse_args(argv)


def _configure_env() -> int:
    """Environment the engine and its Python workers start from."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # UDF workers import the engine; started from outside the repository
    # root they fail with ModuleNotFoundError without this.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    return cpus


def _host(args, cpus: int) -> dict:
    import platform

    import pyspark

    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "jvm_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_1m": os.getloadavg()[0],
        "seed": args.seed,
        "workload": args.workload,
        "size": args.size,
    }


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Context:
    """What a workload needs: the session, the inputs, the injected sinks."""

    def __init__(self, args, work: str, tracer_on: bool):
        self.seed, self.size, self.work = args.seed, args.size, work
        self.tracer_on = tracer_on
        self.spark = self.tracer = self.drive = None
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.register_s: list[float] = []


def make_inputs(ctx, repo_root: str) -> None:
    import inputs
    from sheetsetl_spark.sinks.base import DEFAULT_CELL_LIMIT

    ctx.tables_dir = os.path.join(ctx.work, "tables")
    inputs.make_tables(ctx.seed, ctx.size, ctx.tables_dir)
    # the smoke tables are 10x smaller, so the over-cap file needs a
    # 10x smaller cap to stay over it
    ctx.cell_limit = DEFAULT_CELL_LIMIT if ctx.size == "bench" else DEFAULT_CELL_LIMIT // 10
    ctx.analyst_folders = inputs.make_analyst_folders(
        ctx.seed, os.path.join(ctx.work, "analyst"), repo_root)
    ctx.export_dir = inputs.make_export_folder(ctx.seed, os.path.join(ctx.work, "export"))
    ctx.drop_dir = os.path.join(ctx.work, "drops")
    ctx.drop_files = inputs.make_ingest_files(ctx.seed, ctx.size, ctx.drop_dir)


def setup(ctx) -> None:
    """``build_session`` + ``register_views`` + sink and client
    construction, the set-up a cron tick pays before its first file."""
    from sheetsetl_spark.catalog import register_views
    from sheetsetl_spark.session import build_session
    from sheetsetl_spark.sinks.drive_http import HttpDriveClient
    from sheetsetl_spark.sinks.local import CsvDirSink
    from sheetsetl_spark.sinks.sheets import GoogleSheetsSink

    from spans import Tracer
    from workloads import CountingDriveClient, TimedSink

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    register_views(spark, ctx.tables_dir)
    t2 = time.perf_counter()
    csv = CsvDirSink(os.path.join(ctx.work, "csv_out"))
    client = HttpDriveClient(ctx.drive.base_url, token="perfbench")
    sheets = GoogleSheetsSink("perfbench-folder", client=client)
    t3 = time.perf_counter()
    ctx.build_s.append(t1 - t0)
    ctx.register_s.append(t2 - t1)
    ctx.setup_s.append(t3 - t0)
    ctx.spark = spark
    ctx.tracer = Tracer(ctx.tracer_on, spark)
    ctx.csv_sink = TimedSink(csv, "sinks_local.write", ctx.tracer)
    ctx.client = CountingDriveClient(client, ctx.tracer)
    sheets.client = ctx.client
    ctx.sheets_sink = TimedSink(sheets, "sinks_sheets.write", ctx.tracer)


def run_checks(ctx, args, result) -> dict:
    """Every output check; raises CheckFailed on the first mismatch."""
    import numpy as np

    import checks
    import inputs
    from sheetsetl_spark.queries import ORACLES, QUERIES

    con = checks.duck(ctx.tables_dir)
    done = {"analyst_files": 0, "export_files": 0, "queries": 0}
    if args.workload == "publish":
        latest = {}
        for p in result["passes"]:
            for part in p["parts"]:
                for op in part["ops"]:
                    if part["layer"] == "analyst":
                        latest[op["name"]] = op
                        continue
                    sql_path = os.path.join(ctx.export_dir, op["name"] + ".sql")
                    with open(sql_path, encoding="utf-8") as fh:
                        sql = fh.read()
                    checks.check_export(con, sql, op["name"], op["status"],
                                        ctx.drive.state.payload_by_name(op["name"]),
                                        ctx.cell_limit)
                    done["export_files"] += 1
        over = [op for op in result["passes"][0]["parts"][-1]["ops"]
                if op["name"].startswith("99_over_cap")]
        if not over or over[0]["status"] != "cell_limit":
            raise checks.CheckFailed("the over-cap export file did not come back cell_limit")
        for name, op in latest.items():
            if op["status"] != "ok":
                raise checks.CheckFailed(f"{name}: {op['status']} {op['error']}")
            checks.check_analyst_csv(con, inputs.original_name(name),
                                     ctx.csv_sink.path_for(name))
            done["analyst_files"] += 1
    else:
        queries, ingest = result["passes"][0]["parts"]
        names = [op["name"] for op in queries["ops"]]
        if args.size == "bench":
            pool = [q for q in names if q not in SLOW_TWINS]
            rng = np.random.default_rng(args.seed + 6)
            names = list(rng.choice(pool, CHECKED_QUERIES, replace=False))
        for q in names:
            actual = QUERIES[q](ctx.spark, ctx.tables_dir).toPandas()
            checks.check_query(con, q, ORACLES[q], actual)
            done["queries"] += 1
        batches = [op for op in ingest["ops"] if op["status"] == "ok"]
        if len(batches) != len(ctx.drop_files):
            raise checks.CheckFailed(
                f"ingest ran {len(batches)} of {len(ctx.drop_files)} batches: {ingest['error']}")
        last = len(ctx.drop_files) - 1
        sig = ingest["ingest"]
        done.update(checks.check_ingest(
            ctx.spark, sig.history_dir, sig.index_dir, ctx.drop_files, sig.bands,
            replay=lambda: sig(ctx.spark.read.parquet(ctx.drop_files[last]["path"]), last)))
    con.close()
    return done


def _ops(result) -> list[dict]:
    return [op for p in result["passes"] for part in p["parts"] for op in part["ops"]]


def _pct(values: list[float], q: int) -> float:
    """q-th percentile (statistics.quantiles, exclusive method)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


def end_to_end(ctx, result) -> dict:
    """The gated metrics. Peak RSS is printed but not gated: the JVM's
    share moved by up to a fifth of its median between seeds."""
    return {
        "setup_s": {"value": statistics.median(ctx.setup_s), "unit": "s"},
        "tick_s": {"value": result["passes"][0]["s"], "unit": "s"},
    }


def named_metrics(args, ctx, result, failed: int, attempted: int, rss_mb: float) -> dict:
    """The per-path metrics under their own names (printed, not gated)."""
    times = [op["s"] for op in _ops(result) if op["s"] is not None]
    out = {"setup_s": statistics.median(ctx.setup_s), "setup_first_s": ctx.setup_s[0],
           "peak_rss_mb": rss_mb, "failed_frac": failed / attempted,
           "op_p50_s": statistics.median(times), "op_p90_s": _pct(times, 90),
           "op_samples": len(times)}
    passes = result["passes"]
    if args.workload == "publish":
        analyst = [part for p in passes for part in p["parts"] if part["layer"] == "analyst"]
        export = [p["parts"][-1] for p in passes]
        files = [o["s"] for a in analyst for o in a["ops"] if o["s"] is not None]
        out.update({
            "folder_s": statistics.median(a["s"] for a in analyst[1:]),
            "folder_cold_s": analyst[0]["s"],
            "file_p50_s": statistics.median(files),
            "file_p90_s": _pct(files, 90),
            "file_samples": len(files),
            "export_s": statistics.median(e["s"] for e in export),
            "export_file_p50_s": statistics.median(
                o["s"] for e in export for o in e["ops"] if o["status"] == "ok"),
        })
    else:
        queries, ingest = passes[0]["parts"]
        batches = [o["s"] for o in ingest["ops"] if o["status"] == "ok"]
        docs = sum(o["rows"] for o in ingest["ops"] if o["status"] == "ok")
        out.update({
            "curation_s": queries["s"],
            "ingest_s": ingest["s"],
            "ingest_docs_per_s": docs / sum(batches) if batches else 0.0,
            "ingest_batch_p50_s": statistics.median(batches) if batches else 0.0,
            "ingest_batches": len(batches),
        })
    return out


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sheetsetl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    cpus = _configure_env()

    import checks
    import layers
    import procs
    from fakedrive import FakeDrive
    from workloads import WORKLOADS

    host = _host(args, cpus)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # Spark's scratch space and Python's temp files stay in the checkout;
    # one path for every run, as the JVM keeps the environment it started with
    scratch = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = scratch
    ctx = Context(args, work, tracer_on=bool(args.trace))
    procs.become_subreaper()
    try:
        with FakeDrive(args.seed) as drive:
            ctx.drive = drive
            make_inputs(ctx, ROOT)
            for i in range(SETUPS):
                if i:
                    ctx.spark.stop()
                setup(ctx)
            host["java"] = ctx.spark._jvm.System.getProperty("java.version")
            t0 = time.perf_counter()
            result = WORKLOADS[args.workload](ctx, args.seconds)
            measured_s = time.perf_counter() - t0
            jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
            rss_parts = {"python": _hwm_kb(os.getpid()) / 1024.0,
                         "jvm": _hwm_kb(jvm_pid) / 1024.0}
            rss_mb = sum(rss_parts.values())
            ops = _ops(result)
            attempted = len(ops)
            failed = sum(op["status"] not in ("ok", "cell_limit") for op in ops)
            try:
                checked = run_checks(ctx, args, result)
                correct, problem = failed == 0, None
            except checks.CheckFailed as exc:
                correct, problem, checked = False, str(exc), {}
            except Exception as exc:  # a check that crashes is a failed check
                traceback.print_exc()
                correct, problem, checked = False, f"check crashed: {exc!r}", {}
            named = named_metrics(args, ctx, result, failed, attempted, rss_mb)
            if args.trace:
                metrics = layers.per_layer(ctx, result, checked)
                layers.write_artifact(ROOT, args, host, ctx, result, metrics)
            else:
                metrics = end_to_end(ctx, result)
    finally:
        # the JVM and its Python workers end before the result is printed
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)

    print("host " + json.dumps(host))
    print("checked " + json.dumps(checked))
    print(f"measured {measured_s:.3f} s over {len(result['passes'])} pass(es)")
    print("peak rss MB " + json.dumps(rss_parts))
    for op in ops:
        if op.get("s") is not None:
            print(f"op {op['name']} {op['status']} {op['s']:.4f} s")
    for k, v in named.items():
        print(f"{args.workload} {k} = {v:.6g}")
    if problem:
        print(f"CHECK FAILED: {problem}")
    for op in ops:
        if op["status"] not in ("ok", "cell_limit"):
            print(f"FAILED {op.get('name')}: {op['status']} {op.get('error')}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
