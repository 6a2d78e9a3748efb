#!/usr/bin/env bash
# Code-line counter: per-file and total counts of the lines that are not
# blank and, after leading whitespace, do not start with `//`, `*` or `/*`.
# That is the rule CHANGES.md reports code lines by.
#
# Usage: tools/codelines.sh [path...]   (default src/main/scala)
#   Each path is a .scala file or a directory searched for .scala files.
set -euo pipefail

[ "$#" -gt 0 ] || set -- src/main/scala

find "$@" -type f -name '*.scala' | LC_ALL=C sort | while IFS= read -r f; do
  n=$(grep -cvE '^[[:space:]]*($|//|\*|/\*)' "$f" || true)
  printf '%7d %s\n' "$n" "$f"
done | awk '{ print; total += $1 } END { printf "%7d total\n", total }'
