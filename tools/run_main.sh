#!/bin/bash
# Run any graft main on bare java (no sbt lock, JDK17 --add-opens included).
#   tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/out [name,name,...]
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run_main.sh graft.Bench
# Env: SPARK_GRAFT_CPUS (default 4, read by graft.Session), JXMX (default 48g).
set -euo pipefail
cd "$(dirname "$0")/.."
ADDOPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
exec java $ADDOPENS -Xmx"${JXMX:-48g}" -Dspark.ui.enabled=false \
  -cp "$CP" "$@"
