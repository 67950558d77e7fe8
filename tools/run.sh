#!/bin/bash
# Direct-JVM launcher for the graft mains (Bench/Verify/Smoke/...).
# Equivalent to `sbt "runMain $1 ..."` (run/fork:=true + javaOptions in
# build.sbt) but without sbt startup/lock overhead — useful when
# iterating on measurements. Compile first: `sbt -batch compile`.
set -euo pipefail
# classes of the checkout this script lives in, so a second checkout
# (e.g. an A/B copy) runs its own build
CLS="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
JARS=/opt/spark/jars/'*'
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Duser.timezone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLS:$JARS" "$@"
