"""End-to-end example: the SheetsETL workflow, Spark-native.

Discovers the .sql files in examples/analyst_sql/, executes each against
the fixture catalog, guards output size, and upserts each result as CSV —
the exact control flow of the reference (loader.py:223-255) with Spark as
the engine instead of a MySQL server.

    python examples/run_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sheetsetl_spark.catalog import register_views
from sheetsetl_spark.pipeline import SqlFolderPipeline
from sheetsetl_spark.session import build_session
from sheetsetl_spark.sinks import CsvDirSink


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "examples/out"
    sql_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "analyst_sql")

    spark = build_session(app_name="sheetsetl-example")
    spark.sparkContext.setLogLevel("ERROR")
    pipe = SqlFolderPipeline(
        spark,
        sql_dir,
        CsvDirSink(out_dir, coalesce=1),
        setup=lambda s: register_views(s, sf_dir),
        dialect="mysql",  # accepts both dialects; MySQL constructs translate
    )
    report = pipe.run()
    for r in report.results:
        print(f"{r.name:24s} {r.status:10s} rows={r.rows}")
    spark.stop()


if __name__ == "__main__":
    main()
