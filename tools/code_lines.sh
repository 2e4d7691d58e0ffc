#!/usr/bin/env bash
# Code lines per file under src/main and their total: every line that is not
# blank and does not start (after indentation) with `//`, `/*`, `*` or `*/`.
# This is the rule the ROADMAP and CHANGES line counts use.
#
#   tools/code_lines.sh [dir]     # dir defaults to src/main
set -euo pipefail
cd "$(dirname "$0")/.."
dir="${1:-src/main}"
find "$dir" -type f \( -name '*.scala' -o -name '*.java' \) | sort | while read -r f; do
  printf '%6d %s\n' "$(grep -cvE '^\s*(//|/?\*|$)' "$f" || true)" "$f"
done | awk '{ print; total += $1 } END { printf "%6d total\n", total }'
