#!/usr/bin/env python3
"""PySpark smoke test of the zarr DSv2 source (SURVEY 2A row 17, the
"Python surface"): write a store from Python, read it back, and query it
through SQL DDL. The Scala classes must be compiled first (sbt compile).

Run: python3 tools/pyzarr_smoke.py
Expected output ends with: PYTHON SURFACE OK
"""
import os

from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4]")
         .appName("pyzarr-smoke")
         .config("spark.driver.extraClassPath",
                 os.path.abspath("target/scala-2.13/classes"))
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

df = spark.range(0, 100).selectExpr("id", "CAST(id AS DOUBLE) * 0.5 AS x").coalesce(1)
df.write.format("zarr").mode("overwrite").option("chunk_size", "16").save("/tmp/pyzarr-store")

back = spark.read.format("zarr").load("/tmp/pyzarr-store")
assert back.count() == 100, "row count"
assert back.groupBy().sum("x").collect()[0][0] == 2475.0, "sum"

spark.sql("CREATE OR REPLACE TEMPORARY VIEW pz USING zarr OPTIONS (path '/tmp/pyzarr-store')")
assert spark.sql("SELECT count(*) FROM pz WHERE id >= 90").collect()[0][0] == 10, "DDL filter"

# Zarr v2 (independent .zarray fixture) through the same Python surface,
# including xarray _ARRAY_DIMENSIONS coordinate broadcast
v2 = spark.read.format("zarr").load(os.path.abspath("src/test/resources/zarr_v2_latlon"))
assert v2.count() == 24, "v2 row count"
assert v2.where("lat >= 39.0 AND lon < -116.5").count() == 4, "v2 coord filter"

# v2 string dtypes + numcodecs filter stacks through Python too
vt = spark.read.format("zarr").load(os.path.abspath("src/test/resources/zarr_v2_typed"))
assert vt.count() == 11, "v2 typed row count"
assert vt.where("uname = 'übèr'").count() == 1, "v2 UCS-4 string predicate"
assert vt.where("pb").count() == 4, "v2 packbits bools"  # i%3==1 for i<11
got = [r[0] for r in vt.select("dv").orderBy("ds").collect()]
assert got[:3] == [1000, 1007, 995], "v2 delta ints"
lz = [r[0] for r in vt.select("lzv").orderBy("ds").collect()]
assert lz == [500] * 4 + [511] * 4 + [522] * 3, "v2 numcodecs lz4 blocks"

# the canonical xarray climate cube: 3-D time x lat x lon with a
# datetime64[ns] time coordinate (raw epoch-ns BIGINT + field metadata)
cc = spark.read.format("zarr").load(os.path.abspath("src/test/resources/zarr_v2_climate"))
assert cc.count() == 4 * 5 * 7, "climate cube rows"
assert cc.schema["time"].metadata["zarr_time_unit"] == "ns", "time unit metadata"
t0, day = 1700000000000000000, 86400 * 10 ** 9
# the coordinate model's documented cardinality caveat (shared with the
# reference): the PROJECTED column set determines the grid, and count()
# prunes every column but the predicate's — so a coordinate-only count
# counts coordinate values (2 surviving time steps), while any
# aggregate that keeps a data column in the projection sees the cube
from pyspark.sql import functions as F
filt = cc.where(cc.time >= t0 + 2 * day)
assert filt.count() == 2, "count() prunes to the time coordinate (documented caveat)"
assert filt.agg(F.count("temp")).collect()[0][0] == 2 * 5 * 7, \
    "data-column aggregate sees the full cube slab"

# N-D CUBE WRITE from plain PySpark (round 12/13): dense rows + the
# `dims` option -> coordinate + data arrays; read back through the scan
cube_path = "/tmp/pyzarr-cube"
rows = [(t, x * 0.5, float(t * 10 + x)) for t in range(4) for x in range(6)]
cdf = spark.createDataFrame(rows, "t LONG, x DOUBLE, v DOUBLE")
cdf.write.format("zarr").mode("overwrite") \
    .option("dims", "t,x").option("chunk_shape", "3,4").save(cube_path)
back = spark.read.format("zarr").load(cube_path)
assert back.count() == 24, "cube roundtrip rows"
assert back.agg(F.sum("v")).collect()[0][0] == sum(r[2] for r in rows), "cube values"

# N-D CUBE APPEND from plain PySpark (round 13): grow the store along
# its first dim via `append_dim` -- the xarray daily-ingest shape.
# Base dim-0 extent (4) must be chunk-aligned (chunk 2).
ap_path = "/tmp/pyzarr-cube-append"
cdf.write.format("zarr").mode("overwrite") \
    .option("dims", "t,x").option("chunk_shape", "2,4").save(ap_path)
slab_rows = [(t, x * 0.5, float(t * 10 + x)) for t in range(4, 6) for x in range(6)]
spark.createDataFrame(slab_rows, "t LONG, x DOUBLE, v DOUBLE") \
    .write.format("zarr").mode("append").option("append_dim", "t").save(ap_path)
grown = spark.read.format("zarr").load(ap_path)
assert grown.count() == 36, "appended cube rows"
assert grown.agg(F.sum("v")).collect()[0][0] == \
    sum(r[2] for r in rows) + sum(r[2] for r in slab_rows), "appended cube values"

# N-D CUBE REGION overwrite from plain PySpark (round 13): reprocess a
# chunk-aligned dim-0 slab in place via `region_dim`
region_rows = [(t, x * 0.5, float(t * 100 + x)) for t in range(2, 4) for x in range(6)]
spark.createDataFrame(region_rows, "t LONG, x DOUBLE, v DOUBLE") \
    .write.format("zarr").mode("overwrite").option("region_dim", "t").save(ap_path)
swapped = spark.read.format("zarr").load(ap_path)
assert swapped.count() == 36, "region overwrite keeps the shape"
assert swapped.agg(F.sum("v")).collect()[0][0] == \
    sum(r[2] for r in rows if r[0] < 2) + sum(r[2] for r in region_rows) + \
    sum(r[2] for r in slab_rows), "region overwrite swaps exactly the slab"

# SHARDED cube write from plain PySpark (round 13): shard_shape packs
# whole inner chunks into one stored object (ZEP 2)
sh_path = "/tmp/pyzarr-cube-sharded"
spark.createDataFrame(rows + slab_rows, "t LONG, x DOUBLE, v DOUBLE") \
    .write.format("zarr").mode("overwrite").option("dims", "t,x") \
    .option("chunk_shape", "1,3").option("shard_shape", "2,6").save(sh_path)
sharded = spark.read.format("zarr").load(sh_path)
assert sharded.count() == 36, "sharded cube rows"
assert sharded.agg(F.sum("v")).collect()[0][0] == \
    sum(r[2] for r in rows) + sum(r[2] for r in slab_rows), "sharded cube values"

# Store observability + maintenance from Python (rounds 14/15): describe
# with the TRUE stored-object count — driver and Spark-job counting
# agree — and vacuum, all through the JVM gateway the way a PySpark
# operator would call them (the store's size picks driver or Spark job;
# there is no flag to pass)
from pyspark.sql import DataFrame as _PyDF
_ZI = spark._jvm.graft.zarr.ZarrInfo
# the seam `describeImpl` is package-private, so it has no static
# forwarder: call it on the object's module instance
_ZI_obj = getattr(getattr(spark._jvm.graft.zarr, "ZarrInfo$"), "MODULE$")
def _stored_counts(inline_max):
    # describeImpl's threshold forces one side: everything inline on the
    # driver, or the Spark-job walk
    d = _PyDF(_ZI_obj.describeImpl(spark._jsparkSession, sh_path, True, inline_max), spark)
    return {r["array"]: r["n_stored_objects"] for r in d.collect()}
_drv, _job = _stored_counts(2**63 - 1), _stored_counts(0)
assert _drv == _job and all(v > 0 for v in _drv.values()), \
    f"describe stored counts from Python: driver={_drv} job={_job}"

import os as _os
_os.makedirs(f"{sh_path}/v/c/9", exist_ok=True)
with open(f"{sh_path}/v/c/9/0", "wb") as _f:
    _f.write(b"orphan")
_ZM = spark._jvm.graft.zarr.ZarrMaintenance
_vac = _PyDF(_ZM.vacuum(spark._jsparkSession, sh_path), spark)
_vrows = {r["target"]: r for r in _vac.collect()}
assert _vrows["v"]["orphan_chunks"] == 1, f"vacuum from Python: {_vrows}"
assert spark.read.format("zarr").load(sh_path).count() == 36, \
    "vacuum from Python must not change readable contents"

# analyzeRefresh (round 18): forced window re-analysis through the same
# gateway — a PySpark pipeline that just rewrote a window in place with
# a foreign tool calls this to refresh the sidecar's bounds
assert _ZM.analyzeRefresh(spark._jsparkSession, sh_path, 0, 1) >= 1, \
    "analyzeRefresh from Python must re-analyze the window"
assert spark.read.format("zarr").load(sh_path).count() == 36, \
    "analyzeRefresh must not change readable contents"

# compactStats (round 18): sidecar compaction through the gateway —
# the maintenance call a long-lived PySpark micro-batch ingest schedules
_cmp = _ZM.compactStats(spark._jsparkSession, sh_path)
assert _cmp._2() <= _cmp._1(), f"compactStats from Python: {_cmp}"
assert spark.read.format("zarr").load(sh_path).count() == 36, \
    "compactStats must not change readable contents"

# describeStats (round 19): the store-level sidecar summary a PySpark
# operator polls to decide WHEN to compact / re-analyze
_dst = _PyDF(_ZI.describeStats(spark._jsparkSession, sh_path), spark).collect()
assert len(_dst) == 1 and _dst[0]["n_stats_segments"] >= \
    _dst[0]["n_live_segments"] >= _dst[0]["min_segments"] >= 1 and \
    0.0 <= _dst[0]["covered_fraction"] <= 1.0, \
    f"describeStats from Python: {_dst}"

# SHARDED BINARY blobs from Python (round 20): BinaryType lands as
# vlen-bytes inner chunks behind a ZEP 2 shard index, and the per-scan
# ranged_reads option rides the reader options, not shared session conf
bl_path = "/tmp/pyzarr-blobs"
bdf = spark.range(0, 64).selectExpr(
    "id",
    "encode(repeat(char(65 + id % 26), CAST(id % 7 AS INT)), 'UTF-8') AS blob"
).coalesce(1)
bdf.write.format("zarr").mode("overwrite").option("chunk_size", "16") \
    .option("inner_chunk_size", "4").save(bl_path)
bb = spark.read.format("zarr").option("ranged_reads", "always").load(bl_path)
assert bb.count() == 64, "sharded blob rows"
assert bb.agg(F.sum(F.length("blob"))).collect()[0][0] == \
    sum(i % 7 for i in range(64)), "sharded blob byte lengths"

# EDGE SHARD from Python: 100 rows in 16-row shards of 4-row inner
# chunks leave a 4-row last shard whose 3 all-padding inner chunks are
# not stored (indexed absent); whole and ranged reads see exactly the rows
ed_path = "/tmp/pyzarr-edge-shard"
spark.range(0, 100).selectExpr("id", "id * 3 AS w").coalesce(1) \
    .write.format("zarr").mode("overwrite").option("chunk_size", "16") \
    .option("inner_chunk_size", "4").save(ed_path)
for rr in ("never", "always"):
    ed = spark.read.format("zarr").option("ranged_reads", rr).load(ed_path)
    assert sorted(r[0] for r in ed.select("w").collect()) == \
        [3 * i for i in range(100)], f"edge shard rows, ranged_reads={rr}"
    assert ed.filter("w >= 291").count() == 3, f"edge shard filter, ranged_reads={rr}"

# zarr_timestamp: the datetime64 -> TIMESTAMP ergonomics helper is a
# registered SQL function (native expression), callable from Python SQL
spark._jvm.graft.functions.VectorFunctions.register(spark._jsparkSession)
cc.createOrReplaceTempView("climate")
ts = spark.sql(
    "SELECT zarr_timestamp(time, 'ns') AS ts FROM climate ORDER BY time LIMIT 1"
).collect()[0][0]
assert str(ts) == "2023-11-14 22:13:20", f"zarr_timestamp from Python SQL: {ts}"

spark.stop()
print("PYTHON SURFACE OK")
