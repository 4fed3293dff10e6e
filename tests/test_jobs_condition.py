"""Characterization of ``python -m engine.jobs condition``: which document
of a duplicate group its exact-fingerprint dedup keeps. A subprocess,
because the job stops its Spark session."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_condition_keeps_lowest_doc_id_per_fingerprint(spark, tmp_path):
    from engine.sink import ParquetLedgerSink

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(5, "the cat sat on the mat"), (2, "The  CAT sat on the mat"),
         (7, "the cat sat on the MAT"), (9, "a dog ran in the park")],
        "doc_id long, text string",
    ).write.parquet(docs)
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "-m", "engine.jobs", "condition", "--docs", docs,
         "--out", out, "--min-quality", "0", "--cores", "2"],
        cwd=ROOT, env=dict(os.environ, PYTHONPATH=ROOT),
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    assert (res["input_docs"], res["output_chunks"]) == (4, 2)
    rows = ParquetLedgerSink(out, create=False).read_committed(spark)
    got = sorted((r.doc_id, r.chunk_idx, r.chunk_text) for r in rows.collect())
    assert got == [(2, 0, "The  CAT sat on the mat"),
                   (9, 0, "a dog ran in the park")]
