# Spark 4's required module opens (JavaModuleOptions) for a plain `java`
# run of graft's mains — sbt adds them itself (build.sbt); without them
# date/time codegen fails reflective access (sun.util.calendar.ZoneInfo).
# Source it, then pass $OPENS to java:  . scripts/jvm_opens.sh
OPENS=""
for p in java.io java.lang.invoke java.lang.reflect java.lang java.net java.nio \
    java.util.concurrent.atomic java.util.concurrent java.util jdk.internal.ref \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
OPENS="${OPENS# }"
