#!/bin/bash
# Counts the processes one perfbench workload run forks, by command,
# by thread and by pass.
#
#   tools/fork_census.sh <etl_ingest|flat_tail|stream_gates> <seed>
#
# Runs `python3 perfbench/run.py --workload <w> --seed <n> --seconds 8
# --trace 0` from the repo root with a JFR recording of
# jdk.ProcessStart events in the benchmark JVM. perfbench.Main ends with
# Runtime.halt, so no dump-on-exit happens; the recording is collected
# with `jcmd JFR.dump` every second instead, and passes that end after
# the last complete dump are marked as cut. Output files go to
# .bench_build/forks/.
set -euo pipefail
[ $# -eq 2 ] || { echo "usage: $0 <workload> <seed>" >&2; exit 2; }
wl=$1 seed=$2
cd "$(dirname "$0")/.."
out=.bench_build/forks
mkdir -p "$out"
out=$(cd "$out" && pwd)
jfc=$out/process-start.jfc
jfr=$out/$wl-s$seed.jfr
stamp=$out/$wl-s$seed.dumped_us
rm -f "$jfr" "$stamp"
cat > "$jfc" <<'EOF'
<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="process starts">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
EOF

# Every JVM run.py starts (sbt when a build is due, keytool, the
# benchmark) records; only the benchmark JVM is dumped.
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=name=forks,settings=$jfc" \
  python3 perfbench/run.py --workload "$wl" --seed "$seed" --seconds 8 --trace 0 \
  > "$out/$wl-s$seed.run.log" 2>&1 &
runner=$!
trap 'kill $runner 2>/dev/null || true' EXIT

pid=
while kill -0 $runner 2>/dev/null; do
  [ -n "$pid" ] || pid=$(pgrep -f "perfbench\.Main $wl $seed " | head -1 || true)
  if [ -n "$pid" ]; then
    t=$(($(date +%s%N) / 1000))
    if jcmd "$pid" JFR.dump name=forks filename="$jfr.part" >/dev/null 2>&1 && [ -s "$jfr.part" ]; then
      mv "$jfr.part" "$jfr"
      echo "$t" > "$stamp"
    fi
  fi
  sleep 1
done
trap - EXIT
wait $runner || { tail -5 "$out/$wl-s$seed.run.log" >&2; exit 1; }
grep '^end-to-end ' "$out/$wl-s$seed.run.log" || true
[ -s "$jfr" ] || { echo "no recording was dumped" >&2; exit 1; }

jfr print --json --events jdk.ProcessStart "$jfr" > "$out/$wl-s$seed.json"
python3 - "$out/$wl-s$seed.json" ".bench_build/work/$wl/raw.json" "$(cat "$stamp")" <<'EOF'
import collections, datetime, json, os, re, statistics, sys

events = json.load(open(sys.argv[1]))["recording"]["events"]
raw = json.load(open(sys.argv[2]))
dumped_us = int(sys.argv[3])

def us(ts):
    return int(datetime.datetime.fromisoformat(ts).timestamp() * 1e6)

forks = []
for e in events:
    v = e["values"]
    argv0 = v["command"].split()[0] if v["command"] else "?"
    thread = (v.get("eventThread") or {}).get("javaName") or "?"
    thread = re.sub(r"[0-9a-f]{32}|\d+", "#", re.sub(r"\s*\[id = [^]]*\]$", "", thread))
    forks.append((us(v["startTime"]), os.path.basename(argv0), thread))

passes = []
for p in raw["passes"]:
    items = p["items"]
    lo, hi = min(i["start_us"] for i in items), max(i["end_us"] for i in items)
    n = collections.Counter(c for t, c, _ in forks if lo <= t <= hi)
    passes.append((p["pass"], p["cold"], hi <= dumped_us, n))

print("forks recorded: %d (%s)" % (len(forks), "run %s, seed %s" % (raw["workload"], raw["seed"])))
print("by command:")
for c, n in collections.Counter(c for _, c, _ in forks).most_common():
    print("  %6d  %s" % (n, c))
print("by thread (numbers and query ids as #):")
for (c, th), n in collections.Counter((c, th) for _, c, th in forks).most_common(20):
    print("  %6d  %-10s %s" % (n, c, th))
print("by pass (the pass's item windows):")
for i, cold, whole, n in passes:
    print("  pass %d %s%s: %d  %s" % (i, "cold" if cold else "warm", "" if whole else " (cut)",
                                      sum(n.values()), dict(n.most_common())))
warm = [sum(n.values()) for _, cold, whole, n in passes if not cold and whole]
if warm:
    print("warm pass median: %g forks over %d whole passes" % (statistics.median(warm), len(warm)))
EOF
