#!/usr/bin/env bash
# north_rule deployment shape: spark-submit --py-files at two cluster
# sizes (local[N] / local[4N] as the sandbox proxy for N / 4N executors),
# grouped and ungrouped. Each layout must print the same chunk-id digest
# (chunk_ids_sha256) at both sizes.
set -euo pipefail
cd "$(dirname "$0")/.."
N="${1:-2}"
ROWS="${2:-20000}"
OUT="$(mktemp -d)/ds"
ZIP="$(mktemp -d)/colcrush.zip"
trap 'rm -rf "$(dirname "$OUT")" "$(dirname "$ZIP")"' EXIT
zip -qr "$ZIP" colcrush
# driver heap fitted to this host, as get_spark() sizes it
MEM="$(python3 -c 'from colcrush.session import default_driver_memory as m; print(m())')"
for GROUP_COLS in "repo,lang" ""; do
  for CORES in "$N" "$((4 * N))"; do
    rm -rf "$OUT"
    echo "== spark-submit local[$CORES] --group-cols \"$GROUP_COLS\" =="
    spark-submit --master "local[$CORES]" \
      --conf spark.sql.shuffle.partitions="$CORES" \
      --conf spark.sql.execution.arrow.pyspark.enabled=true \
      --conf spark.driver.memory="$MEM" \
      --py-files "$ZIP" \
      scripts/encode_job.py --input "SYNTH:$ROWS" --output "$OUT" \
      --group-cols "$GROUP_COLS" 2>/dev/null | tail -1
  done
done
