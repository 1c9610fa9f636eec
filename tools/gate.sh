#!/usr/bin/env bash
# End-of-round snapshot ritual (VERDICT r5 item 2): never let an
# in-progress refactor be the round snapshot.  Run from the repo root
# BEFORE the final commit of a round:
#
#   bash tools/gate.sh            # full: whole suite (-m "") + sf0.01 gate
#   bash tools/gate.sh --quick    # smoke: fast tier + sf0.001 gate
#
# Exits non-zero if anything is red — in that case commit the last green
# state instead.
set -euo pipefail
cd "$(dirname "$0")/.."
export PYTHONPATH="$PWD"

SF_DIR=/root/testdata/sf0.01
TIER=(-m "")  # pytest.ini deselects the slow tier by default
if [[ "${1:-}" == "--quick" ]]; then
  SF_DIR=/root/testdata/sf0.001
  TIER=()
fi

echo "== gate: pytest =="
python -m pytest tests/ "${TIER[@]}" -q

echo "== gate: benchmark self-checks =="
python -m pytest perfbench/tests -q

echo "== gate: differential oracle check ($SF_DIR) =="
python tools/diffcheck.py "$SF_DIR"

echo "== gate: entry smoke =="
python - <<'EOF'
import __spark_entry__ as m
from pg_mooncake_spark.session import get_spark

spark = get_spark()
rows = m.entry(spark).collect()
assert rows, "entry() returned no rows"
qs, os_ = m.queries(), m.oracle_sql()
extra = set(os_) - set(qs)
assert not extra, f"oracle_sql keys without queries(): {extra}"
print(f"entry ok: {len(rows)} rows; {len(qs)} queries, {len(os_)} oracles")
EOF

echo "== gate: CDC merge with the package on the driver's sys.path only =="
# Spark's Python workers cannot import pg_mooncake_spark from here (no
# PYTHONPATH, cwd outside the repo): the commit path must not need them.
repo_dir="$PWD"
smoke_dir="$(mktemp -d)"
(cd "$smoke_dir" && env -u PYTHONPATH python - "$repo_dir" "$smoke_dir" <<'EOF'
import sys

sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F

from pg_mooncake_spark.session import get_spark
from pg_mooncake_spark.storage import MoonTable
from pg_mooncake_spark.views import MaterializedView

spark = get_spark()
df = spark.range(0, 400).selectExpr("id", "cast(id % 7 as string) AS v")
mt = MoonTable(spark, sys.argv[2] + "/t")
mt.create(df.schema, primary_key=["id"], change_feed=True)
mt.append(df.repartition(8))
mv = MaterializedView.create(
    spark, sys.argv[2] + "/mv", mt, ["v"], {"n": ("count", "*"), "s": ("sum", "id")}
)
# a driver-path merge (pyarrow writes its files): Spark must read the
# change file back with no package on the workers
v = mt.merge(spark.createDataFrame(
    [(3, "u", "U"), (399, None, "D"), (1000, "n", "I")],
    "id long, v string, __op string",
))
kinds = {}
for r in mt.changes(v, v).collect():
    kinds[r["_change_type"]] = kinds.get(r["_change_type"], 0) + 1
assert kinds == {"delete": 1, "insert": 1, "update_preimage": 1,
                 "update_postimage": 1}, kinds
# the view folds that merge's change set on the driver, with no job


def spark_fold(*_a, **_k):
    raise AssertionError("the view fold took the Spark plan")


MaterializedView._fold_with_spark = spark_fold
assert mv.refresh() == v
got = {(r["v"], r["n"], r["s"]) for r in mv.read().collect()}
want = {tuple(r) for r in mt.read().groupBy("v").agg(
    F.count(F.lit(1)), F.sum("id")).collect()}
assert got == want, (got, want)
mt.optimize()
got = {r["id"]: r["v"] for r in mt.read().collect()}
assert len(got) == 400 and got[3] == "u" and got[1000] == "n" and 399 not in got
print("driver-only commit path and view fold ok")
EOF
)
rm -rf "$smoke_dir"

echo "== gate: ALL GREEN =="
