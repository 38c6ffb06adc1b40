#!/usr/bin/env bash
# Code lines of the Scala sources: non-blank lines that do not start a
# line comment or a scaladoc/block-comment line.
#
#   tools/loc.sh            totals for src/main and src/test
#   tools/loc.sh DIR...     one line per .scala file under each DIR, then its total
#
# Run from the repository root.
set -euo pipefail

count() {
  cat "$@" | grep -v '^\s*$' | grep -v '^\s*\(//\|/\*\|\*\)' | wc -l
}

if [ $# -eq 0 ]; then
  for d in src/main src/test; do
    printf '%-10s %6d\n' "$d" "$(count $(find "$d" -name '*.scala'))"
  done
else
  for d in "$@"; do
    for f in $(find "$d" -name '*.scala' | sort); do
      printf '%-60s %6d\n' "$f" "$(count "$f")"
    done
    printf '%-60s %6d\n' "$d" "$(count $(find "$d" -name '*.scala'))"
  done
fi
