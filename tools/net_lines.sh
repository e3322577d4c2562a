#!/usr/bin/env bash
# Lines added and removed under src/main and src/test since <base>,
# split into code lines and comment/blank lines.
#
#   tools/net_lines.sh <base>
#
# A line is a comment when, after leading blanks, it starts with `//`,
# `/*` or `*` (Scala line comments and scaladoc bodies); an empty line
# counts with comments. Everything else is code. The diff is <base>
# against the working tree, so new files count once they are staged.
set -euo pipefail

base="${1:?usage: tools/net_lines.sh <base>}"
cd "$(git rev-parse --show-toplevel)"

printf '%-10s %-8s %7s %7s %7s\n' tree kind added removed net
for tree in src/main src/test; do
  git diff --no-color --no-renames -U0 "$base" -- "$tree" | awk -v tree="$tree" '
    /^(\+\+\+|---) / { next }
    /^[+-]/ {
      sign = substr($0, 1, 1)
      body = substr($0, 2)
      sub(/^[ \t]+/, "", body)
      kind = (body == "" || body ~ /^(\/\/|\/\*|\*)/) ? "comment" : "code"
      if (sign == "+") add[kind]++; else del[kind]++
    }
    END {
      split("code comment", kinds, " ")
      for (i = 1; i <= 2; i++) {
        k = kinds[i]
        printf "%-10s %-8s %7d %7d %+7d\n", tree, k, add[k], del[k], add[k] - del[k]
      }
    }'
done
