#!/usr/bin/env bash
# Launch the KG pipeline via spark-submit --py-files (the north rule's
# cluster launch contract). Usage:
#   scripts/submit.sh --input /path/transcripts --workdir /path/out \
#       [spark-submit args after '--', e.g. -- --num-executors 200]
set -euo pipefail
cd "$(dirname "$0")/.."

make -s dist

JOB_ARGS=()
SUBMIT_ARGS=()
seen_sep=0
for a in "$@"; do
  if [[ "$a" == "--" ]]; then seen_sep=1; continue; fi
  if [[ $seen_sep == 0 ]]; then JOB_ARGS+=("$a"); else SUBMIT_ARGS+=("$a"); fi
done

if command -v spark-submit >/dev/null 2>&1; then
  exec spark-submit \
    --py-files dist/transner_spark.zip \
    "${SUBMIT_ARGS[@]}" \
    scripts/run_job.py "${JOB_ARGS[@]}"
else
  # no cluster manager: same job under plain python, on get_spark's
  # default master (local[<host cores>], SPARK_GRAFT_CPUS overrides)
  echo "spark-submit not found; running on get_spark's local default" >&2
  exec python scripts/run_job.py "${JOB_ARGS[@]}"
fi
