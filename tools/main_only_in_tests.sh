#!/usr/bin/env bash
# Census of src/main defs that nothing outside the tests calls.
#
#   tools/main_only_in_tests.sh
#
# For every non-`override` `def` name in src/main, count the word
# matches of that name in src/main and perfbench/src, leaving out the
# name's own `def` lines and comment lines (after leading blanks, a line
# starting with `//`, `/*` or `*`). Each name with no match is printed
# with the number of src/test files that name it: a test seam or
# operator hook when that number is positive, dead code when it is 0.
# Trait overrides are invisible here by construction. The census reads
# the working tree and gates nothing.
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"

code_lines() {
  find src/main perfbench/src -name '*.scala' -print0 | xargs -0 cat |
    grep -Ev '^[[:space:]]*(//|/\*|\*)' || true
}

names=$(code_lines |
  grep -E '(^|[^[:alnum:]_])def[[:space:]]+[[:alpha:]_][[:alnum:]_]*' |
  grep -Ev 'override[^=]*(^|[^[:alnum:]_])def[[:space:]]' |
  grep -oE '(^|[^[:alnum:]_])def[[:space:]]+[[:alpha:]_][[:alnum:]_]*' |
  sed -E 's/.*def[[:space:]]+//' | sort -u)

# one pass: per word, the code lines that name it outside its own def
counts=$(code_lines | awk '
  {
    line = $0
    n = split(line, w, /[^[:alnum:]_]+/)
    delete seen
    for (i = 1; i <= n; i++) {
      t = w[i]
      if (t == "" || (t in seen)) continue
      seen[t] = 1
      if (line ~ ("(^|[^[:alnum:]_])def[[:space:]]+" t "([^[:alnum:]_]|$)")) continue
      c[t]++
    }
  }
  END { for (t in c) print t, c[t] }')

printf '%-28s %s\n' name test_files
for name in $names; do
  if ! grep -qx "$name [0-9]*" <<<"$counts"; then
    nt=$({ grep -rlw --include='*.scala' -- "$name" src/test || true; } | wc -l)
    printf '%-28s %d\n' "$name" "$nt"
  fi
done
