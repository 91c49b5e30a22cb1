#!/bin/bash
# Re-runnable PLANS §28 sink calibration: embedded-Derby floor vs a real
# PostgreSQL 15, plus dialect validation of the sink's EXACT generated
# SQL on the live server. One command reproduces what r15 did by hand:
#
#   tools/pg_calibrate.sh [rows]          # default 100000
#
# Stages (each skips cleanly when its prerequisite is absent):
#   1. Derby floor        — graft.sink.SinkCalibrate derby (always runs)
#   2. Live PG 15         — initdb into a temp dir, pg_ctl on a unix
#                           socket + port 54329 (no system service touched)
#   3. Dialect validation — the generated CREATE / INSERT..ON CONFLICT /
#                           TRUNCATE statements (printed by SinkCalibrate
#                           print-sql, NOT hand-copied) run via psql
#                           PREPARE/EXECUTE: insert arm, conflict-update
#                           arm, last-write-wins read-back, truncate
#   4. PG multi-row floor — the same §28 workload as 500-row multi-VALUES
#                           ON CONFLICT statements through psql (the
#                           reWriteBatchedInserts analogue)
#   5. Live JDBC suite    — iff SPARK_GRAFT_PG_JDBC_JAR points at a
#                           postgresql driver jar: JdbcSinkSpec's gated
#                           case + SinkCalibrate over real JDBC. The
#                           offline image ships no driver, so this stage
#                           auto-skips there (the JdbcSinkSpec case keeps
#                           auto-canceling, as designed).
set -euo pipefail
cd "$(dirname "$0")/.."
ROWS=${1:-100000}
PORT=54329
WORK=$(mktemp -d /tmp/graft_pgcal.XXXXXX)
PGDATA="$WORK/pgdata"; PGSOCK="$WORK/sock"; mkdir -p "$PGSOCK"
# postgres refuses to run as root: when invoked as root, hand the server
# side to the unprivileged 'postgres' user (present in this image) and
# connect as that role over the trust-auth socket
if [ "$(id -u)" = "0" ] && id postgres >/dev/null 2>&1; then
  PGUSER=postgres
  chmod 755 "$WORK"; chown -R postgres:postgres "$WORK"
  as_pg() { su postgres -s /bin/bash -c "cd /; $*"; }
else
  PGUSER=$(whoami)
  as_pg() { bash -c "$*"; }
fi
PSQL="psql -h $PGSOCK -p $PORT -U $PGUSER -d postgres -v ON_ERROR_STOP=1 -qAt"

cleanup() {
  if [ -f "$PGDATA/postmaster.pid" ]; then
    as_pg "pg_ctl -D '$PGDATA' stop -m fast" >/dev/null 2>&1 || true
  fi
  rm -rf "$WORK"
}
trap cleanup EXIT

JAR=target/scala-2.13/datapumpspark_2.13-0.1.0.jar
[ -f "$JAR" ] || sbt -batch package >/dev/null
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
run_calib() { # run_calib <mode-args...>
  SPARK_GRAFT_CPUS=8 java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
    -cp "/opt/spark/jars/*:$JAR${SPARK_GRAFT_PG_JDBC_JAR:+:$SPARK_GRAFT_PG_JDBC_JAR}" \
    graft.sink.SinkCalibrate "$@"
}

echo "== 1. Derby floor (JdbcSink.upsert, batch 500, local[8], $ROWS rows) =="
run_calib derby "$ROWS" 2>/dev/null | tail -1 | tee "$WORK/derby.json"

if ! command -v initdb >/dev/null || ! command -v pg_ctl >/dev/null; then
  echo "== PostgreSQL binaries not found; stopping after the Derby floor =="
  exit 0
fi

echo "== 2. Starting PostgreSQL 15 (tempdir $PGDATA, port $PORT) =="
as_pg "initdb -D '$PGDATA' -A trust" >/dev/null
as_pg "pg_ctl -D '$PGDATA' -o \"-p $PORT -k $PGSOCK -c listen_addresses=''\" -l '$WORK/pg.log' start" >/dev/null
$PSQL -c "SELECT version()" | head -1

echo "== 3. Dialect validation: the sink's exact generated SQL =="
run_calib print-sql 2>/dev/null | grep -E '^(CREATE|UPSERT|TRUNCATE)' \
  > "$WORK/sql.tsv"
CREATE_SQL=$(grep '^CREATE' "$WORK/sql.tsv" | cut -f2-)
UPSERT_SQL=$(grep '^UPSERT' "$WORK/sql.tsv" | cut -f2-)
TRUNCATE_SQL=$(grep '^TRUNCATE' "$WORK/sql.tsv" | cut -f2-)
# JDBC '?' placeholders -> $1..$n for PREPARE
UPSERT_PREP=$(printf '%s' "$UPSERT_SQL" | awk '{
  n=0; out=""; for (i=1;i<=length($0);i++) { c=substr($0,i,1);
    if (c=="?") { n++; out=out "$" n } else out=out c } print out }')
$PSQL <<SQL
$CREATE_SQL;
PREPARE ups(bigint, text, double precision) AS $UPSERT_PREP;
EXECUTE ups(1, 'old', 1.5);   -- insert arm
EXECUTE ups(2, 'keep', 2.5);
EXECUTE ups(1, 'new', 9.0);   -- conflict-update arm (last write wins)
SQL
BACK=$($PSQL -c 'SELECT k, s, v FROM "graft_calib" ORDER BY k')
EXPECT=$'1|new|9\n2|keep|2.5'
if [ "$BACK" != "$EXPECT" ]; then
  echo "DIALECT MISMATCH: read-back was:"; echo "$BACK"; exit 1
fi
$PSQL -c "$TRUNCATE_SQL"
[ "$($PSQL -c 'SELECT count(*) FROM "graft_calib"')" = "0" ]
echo "generated CREATE / ON CONFLICT upsert / TRUNCATE all validated on PG"

echo "== 4. PG multi-row floor ($ROWS rows, 500-row VALUES batches) =="
python3 - "$ROWS" "$WORK" <<'PYEOF'
import sys
rows, work = int(sys.argv[1]), sys.argv[2]
head = ('INSERT INTO "graft_calib" ("k", "s", "v") VALUES ')
tail = (' ON CONFLICT ("k") DO UPDATE SET "s" = EXCLUDED."s", '
        '"v" = EXCLUDED."v";\n')
def emit(path, ids, tag):
    with open(path, "w") as f:
        f.write("BEGIN;\n")
        for i in range(0, len(ids), 500):
            vals = ",".join(f"({k},'{tag}{k}',{k * 1.5})"
                            for k in ids[i:i + 500])
            f.write(head + vals + tail)
        f.write("COMMIT;\n")
emit(f"{work}/p1.sql", list(range(rows)), "a")
emit(f"{work}/p2.sql", list(range(rows // 2))
     + list(range(rows, rows + rows // 2)), "b")
PYEOF
T1=$( { time -p $PSQL -f "$WORK/p1.sql" >/dev/null; } 2>&1 | awk '/^real/{print $2}')
T2=$( { time -p $PSQL -f "$WORK/p2.sql" >/dev/null; } 2>&1 | awk '/^real/{print $2}')
N=$($PSQL -c 'SELECT count(*) FROM "graft_calib"')
[ "$N" = "$((ROWS + ROWS / 2))" ] || { echo "row-count mismatch: $N"; exit 1; }
echo "{\"engine\":\"pg-multirow\",\"rows\":$ROWS,\"p1_sec\":$T1,\"p2_sec\":$T2}" \
  | tee "$WORK/pg.json"

echo "== 5. Live JDBC (needs SPARK_GRAFT_PG_JDBC_JAR) =="
if [ -n "${SPARK_GRAFT_PG_JDBC_JAR:-}" ] && [ -f "$SPARK_GRAFT_PG_JDBC_JAR" ]; then
  # plain TCP needs listen_addresses; restart with localhost enabled
  as_pg "pg_ctl -D '$PGDATA' stop -m fast" >/dev/null
  as_pg "pg_ctl -D '$PGDATA' -o '-p $PORT -k $PGSOCK -c listen_addresses=localhost' -l '$WORK/pg.log' start" >/dev/null
  URL="jdbc:postgresql://localhost:$PORT/postgres?user=$PGUSER"
  SPARK_GRAFT_PG_URL="$URL" sbt -batch 'testOnly graft.JdbcSinkSpec' \
    | grep -E "Tests:|live Postgres"
  run_calib jdbc "$URL" "$ROWS" 2>/dev/null | tail -1
else
  echo "no driver jar (offline image ships none): JdbcSinkSpec's gated"
  echo "case stays canceled, JDBC-side calibration skipped. In a"
  echo "connected env: SPARK_GRAFT_PG_JDBC_JAR=/path/postgresql.jar $0"
fi

echo "== Summary =="
echo "Derby floor:      $(cat "$WORK/derby.json")"
[ -f "$WORK/pg.json" ] && echo "PG multi-row:     $(cat "$WORK/pg.json")"
echo "Interpretation (PLANS §28): committed sink numbers include the"
echo "Derby floor; a production PG sink with multi-row batching ran"
echo "~4.7x faster on this identical workload in r15's measurement."
