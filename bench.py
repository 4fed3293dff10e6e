"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], plus the streaming flagship's sustained clips/sec.

Writes the full result to BENCH/last_run.json and prints ONE JSON line,
under 2 KB, with the headline fields:
  {"metric": "clips_per_sec_sustained", "value": N, "unit": "clips/sec",
   "sf": ..., "cpus": ..., "batch_total_sec": ..., "exactly_once_audit": ...,
   "hw_adjacent_iters_per_sec": ..., ...}

The streaming flagship is the BASELINE.json metric: rate-controlled clip
stream → vectorized PCM decode (mapInPandas) → per-speaker tumbling window
aggregate → exactly-once ledger sink. Scaling evidence across two parallelism
levels is produced by scripts/bench_scaling.py (writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
LAST_RUN = os.path.join(ROOT, "BENCH", "last_run.json")
#: the fields of the printed line besides the audit: it must stay short
#: enough for a tail capture, so per-query times go only to LAST_RUN
HEADLINE = ("metric", "value", "unit", "sf", "cpus", "batch_total_sec",
            "hw_adjacent_iters_per_sec", "hw_queries_iters_per_sec",
            "hw_ref_quiet_iters_per_sec")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
N_CLIPS = int(os.environ.get("BENCH_N_CLIPS", "48000"))
BENCH_QUERIES = [
    "tumbling_10m",
    "sliding_10m_5m",
    "session_6h",
    "lineitem_pricing",
    "join_prefix",
    "pit_join",
    "salted_agg",
    "minhash_dedup",
    "knn_bruteforce",
    "doc_quality",
    # round-2 additions: the LSH near-dup scale path, the single-pass IVF
    # ANN, upsert-resolved store reads, and transformed serving
    "embedding_near_dup_lsh",
    "ivf_knn",
    "store_upsert",
    "serving_transformed",
    # round-3 additions: deterministic corpus sampling, TF-IDF term ranking,
    # and concat-then-chunk sequence packing (two-phase prefix sum)
    "det_sample",
    "tfidf_topk",
    "pack_sequences",
    "percentile_stats",
    "corpus_pipeline",
    "collocations",
    "tokenized",
]


def _force(df) -> None:
    """Materialize every column (noop sink — no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


# Quiet-window 32-thread capacity of this VM (scripts/hw_ceiling_probe.py,
# BENCH/BASELINE.md: 8325-8504 iters/s across idle windows). Normalized
# per-query times are t * hw_adjacent / HW_REF_QUIET — a busy co-tenant
# window (probe low → queries slow) corrects toward quiet-window time, so
# round-over-round comparisons see plan changes, not neighbors.
HW_REF_QUIET = 8400.0


def bench_queries(spark) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Best-of-2 per query: this VM's co-tenant capacity swings ~2x between
    windows, and best-of-2 keeps one noisy window from masquerading as a
    plan regression (the r3 lesson — every r3 batch time read 10-50% slower
    than r2 with byte-identical plans). Returns (best, all_runs)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    best: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    # warmup: JVM + parquet footer caches
    _force(qs["tumbling_10m"](spark, SF_DIR).limit(1))
    for name in BENCH_QUERIES:
        ts = []
        for _ in range(2):
            t0 = time.time()
            _force(qs[name](spark, SF_DIR))
            ts.append(round(time.time() - t0, 3))
        best[name] = min(ts)
        runs[name] = ts
    return best, runs


def _stream_once(spark, table, rundir: str,
                 partition_filter: dict | None = None) -> dict:
    """One pass of the flagship over ``table``'s snapshot tail (fresh
    checkpoint and sink under ``rundir``): payload-direct decode → 60 s
    watermark → per-speaker 10-minute tumbling window → exactly-once ledger
    sink. ``partition_filter`` prunes the tail at the manifest level."""
    from engine.streams import run_window_pipeline

    n_clips = sum(f.record_count
                  for f in table.plan_files(partition_filter=partition_filter))
    t0 = time.time()
    _, sink = run_window_pipeline(
        spark, table, os.path.join(rundir, "out"), os.path.join(rundir, "ckpt"),
        max_files_per_trigger=4, features="basic",
        partition_filter=partition_filter)
    elapsed = time.time() - t0
    audit = sink.audit()
    return {
        "clips": n_clips,
        "stream_elapsed_sec": round(elapsed, 3),
        "clips_per_sec": round(n_clips / elapsed, 1),
        "exactly_once_audit": audit["consistent"] and audit["unique_batch_ids"],
        "n_batches": audit["n_batches"],
    }


def bench_streaming(spark, workdir: str) -> dict:
    """Flagship pipeline throughput: decode + window agg + exactly-once sink.
    Uses the payload-direct reader (bytes go disk→Python, never through the
    JVM scan) and warms workers/codegen before the clock starts. Best of two
    passes (fresh checkpoint/out per pass): this VM's co-tenant capacity
    swings ~2× between windows (BENCH/BASELINE.md), and best-of-2 keeps one
    noisy window from defining the recorded headline."""
    from engine.audio import extract_audio_features_direct
    from engine.streams import write_clips_iceberg

    # the clip topic is produced AS an Iceberg v2 table (BASELINE.json
    # metric: "the audio+transcript Iceberg stream") and streamed through
    # its snapshot tail
    table = write_clips_iceberg(os.path.join(workdir, "clips_iceberg"),
                                N_CLIPS, n_files=24, seed=42,
                                files_per_snapshot=6,
                                jitter_ms=30_000, max_dur_ms=600)

    # warmup: python worker spawn + codegen outside the measured window
    extract_audio_features_direct(
        table.read(spark).limit(256)
    ).write.format("noop").mode("overwrite").save()

    runs = [
        _stream_once(spark, table, os.path.join(workdir, f"run{i}"))
        for i in range(2)
    ]
    best = max(runs, key=lambda r: r["clips_per_sec"])
    best["exactly_once_audit"] = all(r["exactly_once_audit"] for r in runs)
    best["all_runs_clips_per_sec"] = [r["clips_per_sec"] for r in runs]
    best["source"] = "iceberg"
    return best


def bench_backfill(spark, workdir: str) -> dict:
    """Day-pruned streamed backfill — the partitioned 10^12-clip deployment
    shape (round-5 flagship): a 2-day days(event_ts)-partitioned Iceberg
    topic, ONE day streamed through the same decode + window + exactly-once
    pipeline via the partition-filtered tail. Reports pruned-day
    throughput plus the file-pruning ratio (files_read / files_total — at
    a 3-year topic this ratio is ~1/1000)."""
    from engine.streams import write_clips_iceberg

    n = max(N_CLIPS // 2, 2000)
    table = write_clips_iceberg(
        os.path.join(workdir, "clips_part"), n, n_files=24, seed=43,
        files_per_snapshot=6, jitter_ms=30_000, max_dur_ms=600,
        mean_gap_ms=max(1, (2 * 86_400_000) // n),
        partition_by=["days(event_ts)"],
    )
    live = table.plan_files()
    day = sorted({f.partition["event_ts_day"] for f in live})[1]
    flt = {"event_ts_day": day}
    run = _stream_once(spark, table, os.path.join(workdir, "bf"),
                       partition_filter=flt)
    return {
        "day": int(day),
        "files_read": len(table.plan_files(partition_filter=flt)),
        "files_total": len(live),
        **run,
    }


def main() -> None:
    from engine.session import get_spark

    # adjacent hardware-capacity sample (see BENCH/BASELINE.md: this VM's
    # co-tenant capacity swings ~2× between windows; recording the capacity
    # next to each bench run lets round-over-round numbers be compared
    # honestly — divide clips/sec by hw_adjacent to normalize)
    try:
        from scripts.hw_ceiling_probe import measure

        hw_adjacent = round(max(measure(CPUS, 2.0) for _ in range(2)), 1)
    except Exception:
        hw_adjacent = None

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    workdir = tempfile.mkdtemp(prefix="bench_")
    try:
        queries, query_runs = bench_queries(spark)
        # capacity sample adjacent to the QUERY loop specifically (capacity
        # can shift between the loop and the streaming pass)
        try:
            from scripts.hw_ceiling_probe import measure

            hw_queries = round(measure(CPUS, 2.0), 1)
        except Exception:
            hw_queries = None
        streaming = bench_streaming(spark, workdir)
        backfill = bench_backfill(spark, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()
    normalized = (
        {
            n: round(t * hw_queries / HW_REF_QUIET, 3)
            for n, t in queries.items()
        }
        if hw_queries
        else None
    )
    result = {
        "metric": "clips_per_sec_sustained",
        "value": streaming["clips_per_sec"],
        "unit": "clips/sec",
        "queries": queries,
        "queries_all_runs": query_runs,
        "queries_normalized_to_quiet_hw": normalized,
        "sf": float(SF_DIR.rstrip("/").split("sf")[-1]),
        "cpus": CPUS,
        "streaming": streaming,
        "backfill_day_pruned": backfill,
        "batch_total_sec": round(sum(queries.values()), 3),
        "hw_adjacent_iters_per_sec": hw_adjacent,
        "hw_queries_iters_per_sec": hw_queries,
        "hw_ref_quiet_iters_per_sec": HW_REF_QUIET,
    }
    with open(LAST_RUN, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({
        **{k: result[k] for k in HEADLINE},
        "exactly_once_audit": (streaming["exactly_once_audit"]
                               and backfill["exactly_once_audit"]),
        "detail": os.path.relpath(LAST_RUN, ROOT),
    }))


if __name__ == "__main__":
    main()
