# Sourced by tools/scaling.sh and tools/ab.sh: the one JVM command line
# their captures run under.
#
#   graft_java <classes_dir> <main class> [args...]
#
# The heap is fixed at -Xmx32g, the heap of every committed SCALING_* and
# BENCH_* capture since round 8: heap size alone moved the sf0.1 total by
# 19 % and sub-second rows by up to 5x (a large young generation trades GC
# frequency for pause length), so a capture at another heap is not
# comparable with that record. Bench writes the heap it ran under into its
# JSON (`heap_max_mb`).
GRAFT_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
         java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  GRAFT_OPENS="$GRAFT_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

graft_java() {
  local classes="$1"; shift
  java -Xmx32g $GRAFT_OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "/opt/spark/jars/*:$classes" "$@"
}
