#!/usr/bin/env bash
# Code-line counter: per-file and total counts of the lines that are not
# blank, do not start with `//` after leading whitespace, and are not part
# of a `/* … */` block comment. A block opens on a line that starts with
# `/*` and closes on the line holding `*/`; a line starting with `*`
# outside a block is code (an expression continued with the `*`
# operator). That is the rule CHANGES.md reports code lines by.
#
# Usage: tools/codelines.sh [path...]   (default src/main/scala)
#   Each path is a .scala file or a directory searched for .scala files.
set -euo pipefail

[ "$#" -gt 0 ] || set -- src/main/scala

find "$@" -type f -name '*.scala' | LC_ALL=C sort | while IFS= read -r f; do
  n=$(awk '
    { t = $0; sub(/^[[:space:]]+/, "", t) }
    t == "" { next }
    inblock { if (index(t, "*/")) inblock = 0; next }
    t ~ /^\/\// { next }
    t ~ /^\/\*/ { if (!index(substr(t, 3), "*/")) inblock = 1; next }
    { n++ }
    END { print n + 0 }' "$f")
  printf '%7d %s\n' "$n" "$f"
done | awk '{ print; total += $1 } END { printf "%7d total\n", total }'
