#!/bin/bash
# Run a graft tool class directly against the compiled classes + Spark jars,
# skipping sbt startup. Usage: tools/runclass.sh graft.tools.ScaleUp args...
# Heap defaults to 64g (the r17 uniform-sweep heap — SweepScale stamps the
# actual -Xmx into every gate entry); override with GRAFT_XMX=8g etc.
# Runs the classes of the checkout this script sits in, with the JVM flags
# of that checkout's .jvmopts (e.g. the Vector API module of the SIMD kernel).
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
JVMOPTS=()
[ -f "$ROOT/.jvmopts" ] && read -r -a JVMOPTS <<< "$(grep -v '^\s*#' "$ROOT/.jvmopts" | tr '\n' ' ')"
# GRAFT_JVM_OPTS: extra JVM flags (r17 heap-curve probes, e.g. -Xmn2g)
exec java -Xmx"${GRAFT_XMX:-64g}" -XX:+UseG1GC "${JVMOPTS[@]}" ${GRAFT_JVM_OPTS:-} \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" "$@"
