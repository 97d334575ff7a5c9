#!/bin/bash
# Plain-java bench runner: prints graft.Bench's two JSON metric lines (the
# full per-query record, then the short canonical "total") as the ONLY
# stdout lines (Spark logging goes to stderr), so a driver can json.loads
# the last stdout line directly.
# Usage: tools/run_bench.sh [sfdir] [cpus]
set -e
export SPARK_GRAFT_SF_DIR=${1:-${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}}
# cpus: the argument, else SPARK_GRAFT_CPUS, else every available processor
if [ -n "${2:-}" ]; then export SPARK_GRAFT_CPUS="$2"; fi
cd /root/repo
source tools/_spark_env.sh
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-32g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench
