#!/bin/bash
# Serving-layer smoke (round-10 verdict #6) — part of the end-of-session
# pin cycle, after the correctness gates.
#
# ApiServerSpec already drives gzip/CORS/parity over a real socket, but
# only against an ApiServer constructed in-process. This script runs the
# ACTUAL operator path: `Test/runMain graft.ServeSmokeGen` builds the
# ingest-chain warehouse + ExportJob batch export, then the real
# `graft.jobs.Main serve` CLI boots on an ephemeral port and every
# endpoint body (identity AND gzip) is byte-compared to the batch files,
# and two gzip responses per endpoint must be byte-identical and carry
# `Vary: Accept-Encoding`.
# Catches CLI-wiring or body-memo drift the unit spec cannot.
#
# Expect: six "ok:" lines, exit 0.
set -e
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/graft_serve_smoke}
rm -rf "$OUT"; mkdir -p "$OUT"

sbt -batch "Test/runMain graft.ServeSmokeGen $OUT" >"$OUT/gen.log" 2>&1 ||
  { echo "ServeSmokeGen failed:"; tail -20 "$OUT/gen.log"; exit 1; }
WH=$(cat "$OUT/warehouse_dir")

# own process group: the sbt JVM runs as `java @argsfile`, so neither
# killing the launcher nor matching its command line would stop it
setsid sbt -batch "runMain graft.jobs.Main serve $WH 0" >"$OUT/serve.log" 2>&1 &
SBT_PID=$!
cleanup() {
  kill -- -"$SBT_PID" 2>/dev/null || true
}
trap cleanup EXIT

PORT=
for _ in $(seq 1 90); do
  PORT=$(grep -oE 'listening on http://127\.0\.0\.1:[0-9]+' "$OUT/serve.log" \
    | grep -oE '[0-9]+$' || true)
  [ -n "$PORT" ] && break
  sleep 2
done
[ -n "$PORT" ] || { echo "server never came up:"; tail -20 "$OUT/serve.log"; exit 1; }

fail=0
check() { # endpoint exportfile
  ep=$1; f="$OUT/export/$2"
  curl -sf "http://127.0.0.1:$PORT/api/$ep" -o "$OUT/$ep.plain"
  # two gzip GETs: the memoized encoding must come back byte-identical,
  # marked Vary: Accept-Encoding
  for n in 1 2; do
    curl -sf -H 'Accept-Encoding: gzip' -D "$OUT/$ep.gz$n.headers" \
      "http://127.0.0.1:$PORT/api/$ep" -o "$OUT/$ep.gz$n"
  done
  gunzip <"$OUT/$ep.gz1" >"$OUT/$ep.gunzipped"
  ok=1
  cmp -s "$OUT/$ep.plain" "$f" || { echo "MISMATCH /api/$ep (identity) vs $2"; ok=0; }
  cmp -s "$OUT/$ep.gunzipped" "$f" || { echo "MISMATCH /api/$ep (gzip) vs $2"; ok=0; }
  cmp -s "$OUT/$ep.gz1" "$OUT/$ep.gz2" ||
    { echo "MISMATCH /api/$ep: two gzip responses differ"; ok=0; }
  for n in 1 2; do
    grep -qi '^Vary: Accept-Encoding' "$OUT/$ep.gz$n.headers" ||
      { echo "MISSING Vary: Accept-Encoding on /api/$ep gzip response $n"; ok=0; }
  done
  [ $ok = 1 ] && echo "ok: /api/$ep == $2 ($(wc -c <"$f") bytes, identity+gzip x2, Vary)" || fail=1
}
check food-gaps food_gaps.json
check poverty-by-zip poverty_by_zip.json
check rent-by-zip rent_by_zip.json

# Concurrency: 32 parallel GETs per endpoint, half gzip — every body
# must be byte-identical to the batch export (pins the cached feature
# frames' thread safety under the real server; round-11 verdict #7).
conc() { # endpoint exportfile
  ep=$1; f="$OUT/export/$2"; mkdir -p "$OUT/conc_$ep"
  pids=""
  for i in $(seq 1 32); do
    if [ $((i % 2)) = 0 ]; then
      curl -sf -H 'Accept-Encoding: gzip' "http://127.0.0.1:$PORT/api/$ep" \
        | gunzip >"$OUT/conc_$ep/$i" &
    else
      curl -sf "http://127.0.0.1:$PORT/api/$ep" -o "$OUT/conc_$ep/$i" &
    fi
    pids="$pids $!"
  done
  # wait ONLY on the curls (a bare `wait` would block on the sbt server)
  for p in $pids; do wait "$p" || true; done
  ok=1
  for i in $(seq 1 32); do
    cmp -s "$OUT/conc_$ep/$i" "$f" ||
      { echo "MISMATCH /api/$ep concurrent request $i"; ok=0; }
  done
  [ $ok = 1 ] && echo "ok: /api/$ep 32-way concurrent (16 identity + 16 gzip)" || fail=1
}
conc food-gaps food_gaps.json
conc poverty-by-zip poverty_by_zip.json
conc rent-by-zip rent_by_zip.json
exit $fail
