"""Hot-key skew soak (T1 evidence).

``N_CLIPS``-clip stream (default 96,000) with a manufactured hot key (~50%
of rows forced onto one speaker), 10-minute tumbling aggregate over dur_ms,
local[``SPARK_GRAFT_CPUS``] (default 16), three paths:

1. built-in window() groupBy                 (engine.windows.tumbling_agg)
2. salted two-phase chained aggregation      (engine.skew.salted_window_agg_stream)
3. custom applyInPandasWithState, bucketed   (engine.state.stateful_window_agg)

All three write through the exactly-once ledger sink; row counts must agree.
Prints one JSON line. Run with nothing else active on the box, e.g.
``N_CLIPS=48000 SPARK_GRAFT_CPUS=4 python scripts/bench_hotkey.py``.
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

N_CLIPS = int(os.environ.get("N_CLIPS", "96000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))


def hotify(df):
    # deterministic 50% hot key: half of all clip_ids map to speaker 1
    return df.withColumn(
        "speaker_id",
        F.when(F.pmod(F.xxhash64("clip_id"), F.lit(2)) == 0, F.lit(1)).otherwise(
            F.col("speaker_id")
        ),
    )


def run_path(spark, topic, work, name, build):
    from engine.sink import ParquetLedgerSink
    from engine.streams import read_clip_stream_tail

    out_dir = os.path.join(work, f"sink_{name}")
    ckpt = os.path.join(work, f"ckpt_{name}")
    sink = ParquetLedgerSink(out_dir, event_ts_col="window_start")
    src = hotify(read_clip_stream_tail(
        spark, topic, max_files_per_trigger=2,
        progress_dir=os.path.join(ckpt, "_tail_progress"),
        exclude_columns=["bytes", "transcript"]))
    agg, fe = build(src, sink)
    t0 = time.perf_counter()
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(fe)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    elapsed = time.perf_counter() - t0
    rows = sink.audit()["ledger_rows"]
    ok = sink.audit()["consistent"]
    return {"elapsed_sec": round(elapsed, 1),
            "clips_per_sec": round(N_CLIPS / elapsed, 0),
            "out_rows": rows, "audit": ok}


def main():
    from engine.session import get_spark
    from engine.skew import salted_window_agg_stream
    from engine.state import stateful_window_agg
    from engine.streams import write_clips_iceberg
    from engine.windows import tumbling_agg

    spark = get_spark("bench-hotkey", cores=CPUS, shuffle_partitions=CPUS)
    work = tempfile.mkdtemp(prefix="hotkey_")
    topic = write_clips_iceberg(os.path.join(work, "clips"), N_CLIPS,
                                n_files=12, seed=11)
    # warmup: tiny throwaway streams (built-in and custom-store window)
    # compile the plans/JVM paths so the first measured path is not biased
    # by session warmup
    from engine.streams import run_window_pipeline

    warm = write_clips_iceberg(os.path.join(work, "warm_clips"), 2000,
                               n_files=2, seed=1)
    for wname, stateful in (("w1", False), ("w2", True)):
        run_window_pipeline(
            spark, warm, os.path.join(work, f"ws_{wname}"),
            os.path.join(work, f"wc_{wname}"), max_files_per_trigger=2,
            stateful=stateful, n_buckets=4)

    results = {}
    results["builtin"] = run_path(
        spark, topic, work, "builtin",
        lambda src, sink: (
            tumbling_agg(src, "event_ts", "speaker_id", "dur_ms", "10 minutes"),
            sink.foreach_batch(),
        ),
    )
    results["salted_builtin"] = run_path(
        spark, topic, work, "salted_builtin",
        lambda src, sink: (
            salted_window_agg_stream(
                src, "event_ts", "speaker_id", "dur_ms", "10 minutes", n_salts=16
            ),
            sink.foreach_batch(),
        ),
    )
    results["custom"] = run_path(
        spark, topic, work, "custom",
        lambda src, sink: (
            stateful_window_agg(
                src, "event_ts", "speaker_id", "dur_ms", "10 minutes",
                n_buckets=CPUS,
            ),
            sink.foreach_batch(),
        ),
    )

    counts = {k: v["out_rows"] for k, v in results.items()}
    print(json.dumps({
        "metric": "hotkey_soak", "n_clips": N_CLIPS, "cpus": CPUS,
        "paths": results, "rows_agree": len(set(counts.values())) == 1,
    }))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
