#!/bin/bash
# Plain-JVM runner for the graft mains (no sbt startup, no sbt log
# decoration): tools/run_jvm.sh <MainClass> [args...]
# Mains: graft.Verify, graft.Bench, graft.tools.TimeOne, graft.tools.PlanDump,
# graft.tools.VerifyOne, graft.tools.GenScale, graft.tools.GenText,
# graft.tools.BpeTrainTool, graft.tools.BpeRealismProbe
# (tools/bpe_oracle_ceiling.py reads the merge table the last two dump).
# Env: JVM_XMX (default 24g) sizes this JVM. Each main reads its own env
# vars: graft.Bench's lanes and knobs are listed in its scaladoc
# (src/main/scala/graft/Bench.scala); TimeOne, PlanDump and VerifyOne read
# SPARK_GRAFT_CPUS/SPARK_GRAFT_SHUFFLE (default 8), TimeOne also
# SPARK_GRAFT_SF_DIR and SPARK_GRAFT_REPS.
set -euo pipefail
cd "$(dirname "$0")/.."
XMX="${JVM_XMX:-24g}"
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$XMX" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
