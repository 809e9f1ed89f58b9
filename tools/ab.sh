#!/bin/bash
# Interleaved A/B: alternate fresh-JVM probe invocations between two
# trees (noop sink), REPS reps of --runs RUNS each, per query.
# Usage: ab.sh <treeA> <treeB> <reps> <runs> <query> [query ...]
A="$1"; B="$2"; REPS="$3"; RUNS="$4"; shift 4
for q in "$@"; do
  for i in $(seq 1 "$REPS"); do
    for t in "$A" "$B"; do
      echo "== tree=$t rep=$i q=$q"
      (cd "$t" && python tools/probe.py --runs "$RUNS" --warm 1 "$q" 2>/dev/null)
    done
  done
done
