#!/usr/bin/env python
"""Capture .explain('formatted') for named queries into OUT_DIR.

Usage: python scripts/capture_plan.py OUT_DIR TAG q1 [q2 ...]

Writes ``OUT_DIR/<name>_<TAG>.txt``: the final plan exactly as the
driver/bench execute it, localCheckpoint boundaries and all
(checkpointed loop state appears as "Scan ExistingRDD"). A TAG
containing "noBroadcast" captures with broadcast joins disabled — the
cluster shape where no side fits the broadcast cap.

Per-round plans of iterative queries are not captured here: every
round's eager checkpoint is its own SQL execution, so a run with
``spark.eventLog.enabled=true`` already records each round's plan as
``SparkListenerSQLExecutionStart.physicalPlanDescription``.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from bigdata_group4_app_spark.registry import QUERY_REGISTRY  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def formatted(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out, tag, names = Path(sys.argv[1]), sys.argv[2], sys.argv[3:]
    out.mkdir(parents=True, exist_ok=True)
    builder = (
        SparkSession.builder.master("local[8]")
        .appName("capture-plan")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    )
    if "noBroadcast" in tag:
        builder = builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERY_REGISTRY[name](spark, SF_DIR)
        (out / f"{name}_{tag}.txt").write_text(formatted(df))
        print(f"wrote {name}_{tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
