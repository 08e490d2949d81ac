#!/bin/bash
# Regenerates PLANS.md from the executed physical plans of headline
# queries (see the scala heredoc inside). Run from /root/repo after
# `sbt compile`.
set -e
cd "$(dirname "$0")/.."
sbt -batch compile >/dev/null
# the posture GraftSession.builder applies, as spark-shell confs
/opt/spark/bin/spark-shell --master 'local[8]' \
  --conf spark.ui.enabled=false \
  --conf spark.sql.shuffle.partitions=8 \
  --conf spark.sql.extensions=graft.plans.GraftExtensions \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.legacy.parquet.nanosAsLong=true \
  --conf spark.sql.parquet.inferTimestampNTZ.enabled=false \
  --conf spark.hadoop.fs.file.impl=graft.fs.NioLocalFileSystem \
  --conf spark.hadoop.fs.AbstractFileSystem.file.impl=graft.fs.NioLocalFs \
  --driver-class-path target/scala-2.13/classes \
  -I tools/dump_plans.scala <<< ""
