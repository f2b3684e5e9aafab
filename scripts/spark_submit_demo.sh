#!/usr/bin/env bash
# north_rule deployment shape: spark-submit --py-files at two cluster
# sizes (local[N] / local[4N] as the sandbox proxy for N / 4N executors),
# grouped and ungrouped. Per layout: an encode at local[N], then an
# append of the same input at local[4N], which must double the dataset's
# rows and chunks (an append commits under chunk ids of its own); a
# fresh encode at local[4N]; and a resume at local[4N] of that encode
# with its chunks/ and _commit.json deleted (the crash window). The encode,
# the 4N encode and the resume must print the same chunk-id digest
# (chunk_ids_sha256), and every run must report its dataset verified
# (verify_dataset). The script exits 1 if a check fails.
set -euo pipefail
cd "$(dirname "$0")/.."
N="${1:-2}"
ROWS="${2:-20000}"
OUT="$(mktemp -d)/ds"
ZIP="$(mktemp -d)/colcrush.zip"
# Python workers over Unix sockets, as get_spark() sets them. PySpark
# skips the worker secret on them, so they go in a 0700 dir; under /tmp
# whatever $TMPDIR is, as a socket path must fit AF_UNIX's 107 bytes
SOCK_DIR="$(mktemp -d -p /tmp)"
trap 'rm -rf "$(dirname "$OUT")" "$(dirname "$ZIP")" "$SOCK_DIR"' EXIT
zip -qr "$ZIP" colcrush
# driver heap fitted to this host, as get_spark() sizes it
MEM="$(python3 -c 'from colcrush.session import default_driver_memory as m; print(m())')"
STATUS=0
run() {  # run CORES GROUP_COLS [encode_job.py flags...]; sets DIGEST, ROWS_OUT,
  # CHUNKS, and STATUS=1 unless the dataset verified
  local cores="$1" group_cols="$2" line
  shift 2
  echo "== spark-submit local[$cores] --group-cols \"$group_cols\" $* =="
  line="$(spark-submit --master "local[$cores]" \
    --conf spark.sql.shuffle.partitions="$cores" \
    --conf spark.sql.execution.arrow.pyspark.enabled=true \
    --conf spark.driver.memory="$MEM" \
    --conf spark.python.unix.domain.socket.enabled=true \
    --conf spark.python.unix.domain.socket.dir="$SOCK_DIR" \
    --py-files "$ZIP" \
    scripts/encode_job.py --input "SYNTH:$ROWS" --output "$OUT" \
    --group-cols "$group_cols" "$@" 2>/dev/null | tail -1)"
  echo "$line"
  read -r DIGEST ROWS_OUT CHUNKS VERIFIED < <(python3 -c 'import json, sys; r = json.loads(sys.argv[1]); print(r["chunk_ids_sha256"], r["rows"], r["chunks"], r["verified"])' "$line")
  if [ "$VERIFIED" != "True" ]; then
    echo "local[$cores] --group-cols \"$group_cols\" $*: verify_dataset not ok"
    STATUS=1
  fi
}
for GROUP_COLS in "repo,lang" ""; do
  rm -rf "$OUT"
  run "$N" "$GROUP_COLS"
  WANT="$DIGEST"
  ONE_CHUNKS="$CHUNKS"
  run "$((4 * N))" "$GROUP_COLS" --mode append
  if [ "$ROWS_OUT" = "$((2 * ROWS))" ] && [ "$CHUNKS" = "$((2 * ONE_CHUNKS))" ]; then
    echo "group-cols \"$GROUP_COLS\": the append doubled rows ($ROWS_OUT) and chunks ($CHUNKS)"
  else
    echo "group-cols \"$GROUP_COLS\": after the append rows $ROWS_OUT (want" \
      "$((2 * ROWS))), chunks $CHUNKS (want $((2 * ONE_CHUNKS)))"
    STATUS=1
  fi
  rm -rf "$OUT"
  run "$((4 * N))" "$GROUP_COLS"
  FRESH="$DIGEST"
  rm -rf "$OUT/chunks" "$OUT/_commit.json"
  run "$((4 * N))" "$GROUP_COLS" --resume
  if [ "$DIGEST" = "$WANT" ] && [ "$FRESH" = "$WANT" ]; then
    echo "group-cols \"$GROUP_COLS\": one chunk_ids_sha256 at both widths and resumed"
  else
    echo "group-cols \"$GROUP_COLS\": digests differ (local[$N] $WANT," \
      "local[$((4 * N))] $FRESH, resumed $DIGEST)"
    STATUS=1
  fi
done
exit "$STATUS"
