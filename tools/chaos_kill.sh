#!/bin/bash
# Executor/worker-loss chaos lane (round 10; widened round 11): prove
# the recovery story at every layer a real cluster loses processes in.
#
# Legs (each a graft.ChaosKill run that kill -9s mid-run, placed by
# stage count, and checks the output hash against an unkilled baseline):
#
#   pr/cc × reliable  — pinned iterative kernels MUST survive
#     bit-identical: lost tasks recompute from the shared-filesystem
#     checkpoint files (spark.graft.checkpoint.dir).
#   pr/cc × local     — negative control: localCheckpoint pins live only
#     in executor block stores, so the SAME kill MUST fail the job —
#     proving the kill bites.
#   shuffle × local   — round 11: a wide non-iterative join+agg+sort
#     with ZERO pinned frames must survive in PLAIN local mode — lost
#     shuffle output is recovered by ordinary FetchFailed stage
#     re-execution, no checkpoint involved. This is the loss shape a
#     real cluster sees most often.
#   civic × reliable  — round 11: the q219 multi-stage civic composite
#     (multi-source ingest → ER → spatial join → warehouse merge)
#     survives an executor kill mid-pipeline, bit-identical.
#   worker-kill       — round 11: stand up a REAL standalone master +
#      2 worker PROCESSES (local-cluster can't exercise this: its
#     workers live inside the driver JVM), kill -9 one WORKER
#     mid-PageRank. Its executor self-terminates via WorkerWatcher, the
#     master cannot re-provision on the dead worker, and the job must
#     finish bit-identical on the survivor's half capacity.
#   streaming         — graft.StreamChaos: executor kill mid-stream
#     under the RocksDB state store; sink must be byte-identical
#     (exactly-once under executor LOSS).
#
# Usage: tools/chaos_kill.sh          # sf0.1, all legs
#        SF=/root/testdata/sf0.01 ITERS=30 KERNELS=pr LEGS=modes tools/chaos_kill.sh
#        LEGS=worker tools/chaos_kill.sh   # just the worker-kill leg
set -euo pipefail
cd "$(dirname "$0")/.."

SF=${SF:-/root/testdata/sf0.1}
ITERS=${ITERS:-20}
MASTER=${MASTER:-local-cluster[2,4,3072]}
CKPT=${CKPT:-/tmp/graft_ckpt_chaos}
LEGS=${LEGS:-modes shuffle civic knn worker stream}

sbt -batch -error compile >/dev/null
rm -rf "$CKPT" && mkdir -p "$CKPT"

JAVA_OPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io \
  java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic \
  sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  echo --add-opens=java.base/$p=ALL-UNNAMED; done)
CLASSES="$PWD/target/scala-2.13/classes:$PWD/src/main/resources"

run_kill() { # $1 = reliable|local, $2 = kernel, $3 = target, [$4 = master]
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_MASTER="${4:-$MASTER}" SPARK_GRAFT_CKPT="$CKPT" \
  SPARK_GRAFT_WORKER_MARK="${WORKER_MARK:-}" \
  java $JAVA_OPENS \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Dspark.executor.memory=${EXEC_MEM:-2g} \
    -Dspark.executor.extraClassPath="$CLASSES" \
    -Dspark.executor.extraJavaOptions="$(echo $JAVA_OPENS)" \
    -Xmx${DRIVER_MEM:-6g} -cp "$CLASSES:/opt/spark/jars/*" \
    graft.ChaosKill "$SF" "$1" "$ITERS" "$2" "$3" 2>/dev/null
}

for LEG in $LEGS; do case "$LEG" in
modes)
  for K in ${KERNELS:-pr cc}; do
    echo "== kernel=$K mode=reliable (must survive the kill, bit-identical) =="
    run_kill reliable "$K" executor
    echo "== kernel=$K mode=local (negative control: must fail under the kill) =="
    run_kill local "$K" executor
  done ;;

shuffle)
  echo "== kernel=shuffle mode=local (no pins: plain task re-execution must survive) =="
  run_kill local shuffle executor ;;

civic)
  echo "== kernel=civic mode=reliable (q219 composite must survive, bit-identical) =="
  run_kill reliable civic executor ;;

knn)
  # q221's IVF self-kNN pipeline (round 12) — RELIABLE-ONLY leg, like
  # civic. No localCheckpoint negative control here: the kernel's
  # half-way-by-stage-count kill lands in the EAGER Lloyd/seed stages
  # that run before the one pinned frame materializes, and those
  # recover by ordinary task retry in ANY mode (measured at sf1:
  # local-mode run killed at stage 14/28 survives hash-identical), so
  # "must fail" would encode the kill placement, not the durability
  # contract. The pr/cc modes leg already proves the negative control
  # for pin-backed kernels.
  echo "== kernel=knn mode=reliable (q221 pipeline must survive, bit-identical) =="
  run_kill reliable knn executor ;;

worker)
  # real standalone cluster: master + 2 worker PROCESSES, then kill a
  # worker (not an executor) mid-PageRank. Unique work-dir prefix keys
  # both the victim filter (SPARK_GRAFT_WORKER_MARK) and cleanup.
  SA_DIR=$(mktemp -d /tmp/graft_chaos_sa.XXXXXX)
  cleanup_sa() { kill -9 "${SA_PIDS[@]}" 2>/dev/null || true; }
  trap cleanup_sa EXIT
  SA_PIDS=()
  # Readiness by EVIDENCE, not fixed sleeps (round-11 ADVICE): on a
  # loaded host the app could start before both workers register —
  # skewing the baseline stage count, or leaving ONE worker so the kill
  # removes all capacity and a true-positive recovery flakes. Retry the
  # master bind on port collision; poll the master log until it serves,
  # then until BOTH workers are registered.
  for attempt in 1 2 3; do
    SA_PORT=$((17077 + RANDOM % 1000))
    echo "== worker-kill: standalone master on port $SA_PORT, workers under $SA_DIR =="
    java $JAVA_OPENS -Xmx512m -cp "/opt/spark/jars/*" \
      -Dspark.ui.enabled=false \
      org.apache.spark.deploy.master.Master \
      --host 127.0.0.1 --port "$SA_PORT" --webui-port 0 \
      >"$SA_DIR/master.log" 2>&1 &
    SA_PIDS=($!)
    up=""
    for _ in $(seq 1 30); do
      if grep -q "Starting Spark master at" "$SA_DIR/master.log" 2>/dev/null; then up=1; break; fi
      if grep -qiE "Address already in use|Failed to bind" "$SA_DIR/master.log" 2>/dev/null; then break; fi
      sleep 1
    done
    [ -n "$up" ] && break
    echo "master failed to bind on $SA_PORT (attempt $attempt), retrying"
    kill -9 "${SA_PIDS[@]}" 2>/dev/null || true
    SA_PIDS=()
    [ "$attempt" = 3 ] && { echo "standalone master never bound"; exit 1; }
  done
  for i in 1 2; do
    SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    java $JAVA_OPENS -Xmx512m -cp "/opt/spark/jars/*" \
      -Dspark.ui.enabled=false \
      org.apache.spark.deploy.worker.Worker \
      --cores 4 --memory 3g --work-dir "$SA_DIR/worker$i" --webui-port 0 \
      "spark://127.0.0.1:$SA_PORT" \
      >"$SA_DIR/worker$i.log" 2>&1 &
    SA_PIDS+=($!)
  done
  registered=0
  for _ in $(seq 1 60); do
    registered=$(grep -c "Registering worker" "$SA_DIR/master.log" 2>/dev/null || true)
    [ "${registered:-0}" -ge 2 ] && break
    sleep 1
  done
  if [ "${registered:-0}" -lt 2 ]; then
    echo "only ${registered:-0}/2 workers registered with the master — aborting (a 1-worker kill would remove all capacity)"
    exit 1
  fi
  echo "== both workers registered (master log confirms) =="
  echo "== kernel=pr mode=reliable target=worker (kill a WORKER process; survivor must finish, bit-identical) =="
  WORKER_MARK="$SA_DIR/worker" \
    run_kill reliable pr worker "spark://127.0.0.1:$SA_PORT"
  cleanup_sa; trap - EXIT
  rm -rf "$SA_DIR" ;;

stream)
  # STREAMING leg (graft.StreamChaos): kill an executor mid-stream under
  # the RocksDB state store — failed tasks re-run on the survivor, keyed
  # state reloads from the checkpoint files, and the batch-id-keyed merge
  # sink must come out byte-identical to an unkilled run (exactly-once
  # under executor loss, not just across restarts). Kill placed by
  # micro-batch count, on a batch's progress event. Keyed state rides
  # the RocksDB checkpoint, not graft.ops.Pin, so there is no
  # localCheckpoint negative control. The sink (Warehouse.upsert) does
  # pin each micro-batch between its two jobs: a kill landing between a
  # batch's pin job and its write would lose those blocks and fail the
  # run (reliable mode, as in the civic leg, would not). Three
  # local-cluster[2,2,1024] runs survived bit-identical.
  echo "== streaming funnel (must survive the kill, sink exactly-once) =="
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_MASTER="$MASTER" \
  java $JAVA_OPENS \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Dspark.executor.memory=${EXEC_MEM:-2g} \
    -Dspark.executor.extraClassPath="$CLASSES" \
    -Dspark.executor.extraJavaOptions="$(echo $JAVA_OPENS)" \
    -Xmx${DRIVER_MEM:-6g} -cp "$CLASSES:/opt/spark/jars/*" \
    graft.StreamChaos 2>/dev/null ;;

*) echo "unknown leg '$LEG'"; exit 2 ;;
esac; done
echo "CHAOS LANE: all verdicts as expected"
