"""spark-submit entry point for the full KG pipeline.

Launch (the north rule's contract):

    make dist
    spark-submit --py-files dist/transner_spark.zip \\
        [--num-executors N --executor-cores C ...] \\
        scripts/run_job.py --input <transcripts parquet dir> \\
        --workdir <output catalog dir> [--run-id RID]

On a rerun with the same --workdir, stages whose output is already
committed are skipped (resume-from-checkpoint; see plans/pipeline.py).
Without a cluster manager the same script runs under plain ``python``
(scripts/submit.sh falls back to that); with no --master it runs on
``get_spark``'s default, local[<host cores>].
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# plain-`python` runs: make the repo importable; under spark-submit the
# --py-files zip provides the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="transner_spark KG pipeline job")
    ap.add_argument("--input", required=True, help="transcripts table path (parquet dir)")
    ap.add_argument("--workdir", required=True, help="output catalog directory")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--master", default=None, help="only for local runs; omit under spark-submit")
    args = ap.parse_args()

    from transner_spark.functions.session import get_spark
    from transner_spark.plans.pipeline import PipelineRun

    spark = get_spark(master=args.master, app_name="transner_spark_job")
    t0 = time.monotonic()
    run = PipelineRun(spark, args.workdir, run_id=args.run_id)
    tables = run.run(spark.read.parquet(args.input))
    summary = {
        "run_id": run.run_id,
        "stages_run": run.stages_run,
        "stages_skipped": run.stages_skipped,
        "edges": tables["edges"].count(),
        "wall_s": round(time.monotonic() - t0, 2),
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
