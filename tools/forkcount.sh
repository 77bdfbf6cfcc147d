#!/usr/bin/env bash
# Count the shell commands a program forks. Runs <cmd…> with a PATH
# shim in front of chmod, readlink, ls, stat and bash: each shim logs
# its command, arguments and parent process, then execs the real
# binary. When the command exits, prints the counts per command and
# parent process, then per path pattern (a `file:` scheme dropped, the
# working directory shown as ".", UUIDs as <uuid>, digit runs as N).
# Only commands started by name through PATH are seen (Hadoop's Shell
# starts its commands that way), not ones started by absolute path.
#
# Usage: tools/forkcount.sh <cmd…>
#   e.g. tools/forkcount.sh python3 perfbench/run.py --workload dedup_stream \
#          --seed 41 --seconds 20 --trace 0
# Exits with the command's exit code.
set -euo pipefail
[ $# -gt 0 ] || { echo "usage: tools/forkcount.sh <cmd…>" >&2; exit 2; }

shim="$(mktemp -d "${TMPDIR:-/tmp}/forkcount.XXXXXX")"
trap 'rm -rf "$shim"' EXIT
log="$shim/forks.log"
: > "$log"
for c in chmod readlink ls stat bash; do
  real="$(command -v "$c")" || continue
  cat > "$shim/$c" <<EOF
#!/bin/sh
read -r parent < /proc/\$PPID/comm || parent=?
printf '%s\t%s\t%s\n' "$c" "\$parent" "\$*" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$shim/$c"
done

code=0
PATH="$shim:$PATH" "$@" || code=$?

awk -F '\t' -v cwd="$PWD" '
  {
    n = split($3, arg, " "); path = (n > 0 ? arg[n] : ""); sub(/^file:/, "", path)
    if (index(path, cwd) == 1) path = "." substr(path, length(cwd) + 1)
    gsub(/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/, "<uuid>", path)
    gsub(/[0-9]+/, "N", path)
    byCmd[$1 " (" $2 ")"]++; byPath[$1 " (" $2 ") " path]++; total++
  }
  END {
    printf "forkcount: %d forks\n", total
    print "per command (parent process):"
    for (k in byCmd) printf "%8d  %s\n", byCmd[k], k | "sort -rn"
    close("sort -rn")
    print "per path pattern:"
    for (k in byPath) printf "%8d  %s\n", byPath[k], k | "sort -rn"
    close("sort -rn")
  }' "$log" >&2
exit "$code"
