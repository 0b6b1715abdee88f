"""r15 probe: phase split of stream_cdc_upsert — source-file build vs
streaming fold vs final state read (r14 verdict item 5).

Usage: python tools/r15_probe_cdc.py [sf_dir]
"""
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from etl_addresses_spark.plans import streaming_queries as sq  # noqa: E402
from etl_addresses_spark.streaming import event_stream  # noqa: E402
from etl_addresses_spark.session import get_spark, scoped_shuffle_partitions  # noqa: E402
from etl_addresses_spark.sources.tables import load_table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

spark = get_spark("r15-probe-cdc")
spark.sparkContext.setLogLevel("ERROR")
# warm the table cache like the bench does
load_table(spark, SF, "orders").count()

for rep in range(3):
    base = f"/tmp/r15_probe_cdc_{os.getpid()}_{rep}"
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "in")
    T0 = time.perf_counter()
    o = load_table(spark, SF, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    ins = o.select(
        "o_orderkey", "price", F.lit(0).alias("seq"), F.lit("I").alias("op")
    )
    upd = o.filter(F.col("o_orderkey") % 31 == 0).select(
        "o_orderkey",
        (F.col("price") + F.lit("1.00").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("price"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = o.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.lit(None).cast("decimal(18,2)").alias("price"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    t0 = time.perf_counter()
    for part in (ins, upd, dele):
        part.coalesce(1).write.mode("append").parquet(src)
    t_build = time.perf_counter() - t0

    state_paths = [os.path.join(base, "state_a"), os.path.join(base, "state_b")]
    turn = {"i": 0}
    batch_times = []

    def merge_batch(batch, batch_id):
        bt0 = time.perf_counter()
        s = batch.sparkSession
        cur_path = state_paths[turn["i"] % 2]
        nxt_path = state_paths[(turn["i"] + 1) % 2]
        turn["i"] += 1
        if os.path.isdir(cur_path):
            cur = s.read.parquet(cur_path)
        else:
            cur = s.createDataFrame([], batch.schema)
        merged = (
            cur.unionByName(batch)
            .groupBy("o_orderkey")
            .agg(F.max(F.struct("seq", "op", "price")).alias("m"))
            .select(
                "o_orderkey",
                F.col("m.price").alias("price"),
                F.col("m.seq").alias("seq"),
                F.col("m.op").alias("op"),
            )
        )
        merged.write.mode("overwrite").parquet(nxt_path)
        batch_times.append(round(time.perf_counter() - bt0, 3))

    stream = (
        spark.readStream.schema(ins.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    t0 = time.perf_counter()
    with scoped_shuffle_partitions(
        spark, event_stream.state_partitions_for(src)
    ):
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    t_stream = time.perf_counter() - t0
    t0 = time.perf_counter()
    final = spark.read.parquet(state_paths[turn["i"] % 2])
    res = (
        final.filter(F.col("op") != "D")
        .select("o_orderkey", F.col("price").cast("double").alias("price"))
        .localCheckpoint(eager=True)
    )
    t_final = time.perf_counter() - t0
    total = time.perf_counter() - T0
    print(
        f"rep{rep}: total={total:.3f} build={t_build:.3f} "
        f"stream={t_stream:.3f} (batches={batch_times}, "
        f"overhead={t_stream - sum(batch_times):.3f}) final={t_final:.3f}"
    )
    shutil.rmtree(base, ignore_errors=True)
