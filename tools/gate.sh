#!/bin/bash
# Gate ritual: verify the given keys at the three testdata SFs AND the
# 10x replica (distinct outDir per scale — see gate-ritual notes).
#   tools/gate.sh q_key1,q_key2 [replica_mem]
# Requires compiled classes at target/scala-2.13/classes and the 10x
# replica, checked before the first scale runs.
set -u
KEYS="$1"
RMEM="${2:-32g}"
AO="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
REPLICA=/tmp/testdata_sf1
if [ ! -d "$REPLICA" ]; then
  echo "GATE RED: the 10x replica $REPLICA is missing; build it first with"
  echo "  python3 tools/make_scaled_warehouse.py /root/testdata/sf0.1 $REPLICA 10"
  exit 2
fi
fail=0
run_one() {
  local sfdir="$1" outdir="$2" mem="$3"
  rm -rf "$outdir"
  SPARK_GRAFT_KEYS="$KEYS" java -Xmx"$mem" $AO \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP" graft.Verify "$sfdir" "$outdir" \
    > "$outdir.log" 2>&1 || { echo "VERIFY FAILED at $sfdir (see $outdir.log)"; fail=1; return; }
  python3 tools/check_oracle.py "$sfdir" "$outdir" "$KEYS" || { echo "ORACLE MISMATCH at $sfdir"; fail=1; }
}
run_one /root/testdata/sf0.001 /tmp/gate_sf0001 8g
run_one /root/testdata/sf0.01  /tmp/gate_sf001  8g
run_one /root/testdata/sf0.1   /tmp/gate_sf01   8g
run_one "$REPLICA"            /tmp/gate_sf1    "$RMEM"
if [ "$fail" = 0 ]; then echo "GATE GREEN: $KEYS at 4 scales"; else echo "GATE RED"; fi
exit $fail
