#!/bin/sh
# Count the processes a command starts for the helper programs Hadoop's
# local file system shells out to without its native library.
#
#   tools/count_forks.sh <command> [args...]
#
# Puts logging wrappers for chmod, readlink, ls, stat, id and groups first
# on PATH, runs the command (its exit status is kept), then prints one
# "<program> <count>" line per program and a "total <count>" line.
# Only processes found through PATH are counted: a JVM's
# ProcessBuilder resolves a bare program name that way, as Hadoop's Shell
# does; a program started by absolute path is not seen.
set -u
[ $# -ge 1 ] || { echo "usage: $0 <command> [args...]" >&2; exit 2; }

PROGS="chmod readlink ls stat id groups"
dir=$(mktemp -d "${TMPDIR:-/tmp}/count_forks.XXXXXX") || exit 2
log="$dir/calls.log"
: > "$log"
for p in $PROGS; do
  real=$(command -v "$p") || { echo "$0: $p not on PATH" >&2; exit 2; }
  # echo is a shell builtin, so a wrapper starts no counted process itself;
  # one short O_APPEND write per call keeps concurrent callers' lines whole
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$p" "$log" "$real" \
    > "$dir/$p"
  chmod +x "$dir/$p"
done

PATH="$dir:$PATH" "$@"
rc=$?

total=0
for p in $PROGS; do
  n=$(grep -cx "$p" "$log")
  total=$((total + n))
  echo "$p $n"
done
echo "total $total"
rm -rf "$dir"
exit $rc
