#!/bin/bash
# Job census: for each query, prints one line with its row count, the
# SHA-1 of its sorted row strings, the Spark jobs, stages and tasks it
# ran (counted by a SparkListener on the running session, building the
# frame included) and the SHA-1 of its final optimized logical plan
# string with the #<n> expression ids, lambda variable suffixes and
# closure identities stripped.
#
#   tools/job_census.sh <sf-dir> [q1,q2,...]     (no list: every query)
#
# Output lines look like (sf0.001, local[4])
#   d6_dup_clusters rows=45 sha1=5da9d74b… jobs=30 stages=30 tasks=46 plan=…
# By default it compiles and runs target/scala-2.13/classes;
# CLASSES=<dir> runs another build's classes as they are (e.g. a parent
# commit's, to diff two builds' outputs line by line). CPUS=<n> sets
# local[n] and the shuffle partitions (default 4), DRIVER_MEM the
# driver heap (default 3g). Streaming gates run too, each through
# Streams.queries.
set -e
cd "$(dirname "$0")/.."
SF="${1:?usage: tools/job_census.sh <sf-dir> [q1,q2,...]}"
CPUS="${CPUS:-4}"
if [ -z "$CLASSES" ]; then
  sbt -batch compile >/dev/null
  CLASSES=target/scala-2.13/classes
fi
# the posture GraftSession.builder applies, as spark-shell confs
CENSUS_SF="$SF" CENSUS_QUERIES="${2:-}" /opt/spark/bin/spark-shell --master "local[$CPUS]" \
  --driver-memory "${DRIVER_MEM:-3g}" \
  --conf spark.ui.enabled=false \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.extensions=graft.plans.GraftExtensions \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.legacy.parquet.nanosAsLong=true \
  --conf spark.sql.parquet.inferTimestampNTZ.enabled=false \
  --conf spark.hadoop.fs.file.impl=graft.fs.NioLocalFileSystem \
  --conf spark.hadoop.fs.AbstractFileSystem.file.impl=graft.fs.NioLocalFs \
  --driver-class-path "$CLASSES" \
  -I tools/job_census.scala <<< "" | grep '^CENSUS ' | sed 's/^CENSUS //'
