#!/usr/bin/env bash
# North-rule launch path: package the library, launch the batch job via
# spark-submit --py-files, verify outputs + manifest + metrics land and
# that the url-hash layout writes one file per bucket, then launch it
# again and verify the re-run redoes nothing.
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
WORK="$(mktemp -d)"
trap 'rm -rf "$WORK"' EXIT

cd "$REPO"
zip -qr "$WORK/mcdes_spark.zip" medical_and_charity_document_extraction_system_spark

# stage a small pages input from the driver testdata
python - "$WORK" <<'EOF'
import sys
from medical_and_charity_document_extraction_system_spark.session import get_spark
from medical_and_charity_document_extraction_system_spark.sources import synthesize_pages
work = sys.argv[1]
spark = get_spark(app_name="stage", master="local[4]")
spark.sparkContext.setLogLevel("ERROR")
synthesize_pages(spark, "/root/testdata/sf0.001").write.parquet(f"{work}/pages")
spark.stop()
EOF

submit() {
  spark-submit \
    --master 'local[8]' \
    --conf spark.ui.enabled=false \
    --py-files "$WORK/mcdes_spark.zip" \
    medical_and_charity_document_extraction_system_spark/job.py \
    --input "$WORK/pages" \
    --output "$WORK/out" \
    --metrics "$WORK/metrics" \
    --manifest "$WORK/manifest" \
    --run-id smoke1 \
    --buckets 16 \
    --partitions 8 \
    --snapshot-table "$WORK/snaptbl" 2>&1 | tail -2
}

# the second launch finds every bucket in the manifest and must redo
# nothing: no manifest rows, metrics or snapshot are added
submit
submit

python - "$WORK" <<'EOF'
import glob
import sys
import duckdb
work = sys.argv[1]
# --partitions 8 divides --buckets 16: each bucket is one task, one file
dirs = glob.glob(f"{work}/out/part_id=*")
files = [len(glob.glob(f"{d}/*.parquet")) for d in dirs]
assert len(dirs) == 16 and files == [1] * 16, (len(dirs), files)
n = duckdb.sql(f"select count(*) from read_parquet('{work}/out/*/*.parquet', hive_partitioning=1)").fetchone()[0]
m = duckdb.sql(f"select count(*) from read_parquet('{work}/manifest/*.parquet')").fetchone()[0]
x = duckdb.sql(f"select sum(docs_in) from read_parquet('{work}/metrics/*.parquet')").fetchone()[0]
assert n == 500, n
assert m == 16, m
assert x == 500, x
import json
log = json.load(open(f"{work}/snaptbl/metadata/snapshot-log.json"))
assert log[-1]["snapshot_id"] == 1 and log[-1]["operation"] == "append", log
s = duckdb.sql(f"select count(*) from read_parquet('{work}/snaptbl/data/*.parquet')").fetchone()[0]
assert s == 500, s
print(f"spark-submit smoke OK: {n} docs extracted, {m} manifest buckets, "
      f"{sum(files)} output files, "
      f"metrics docs_in={x}, snapshot 1 committed with {s} rows; "
      f"the no-op second launch added nothing")
EOF
