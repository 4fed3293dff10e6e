"""Characterization of ``python -m engine.jobs pipeline``: one successful
run per shape of the flagship job (metadata vs decoded value, tumbling vs
sliding, built-in vs stateful window, ledger vs Iceberg sink, day-pruned
backfill, speech features). The ``file_*`` cases keep the names and rows
they had on a parquet-dir copy of the same 6 shards. Each run is a
subprocess because the job stops its Spark session; the committed rows are
read back through the sink in this process and pinned by a hash of the
sorted, float-rounded frame."""

import hashlib
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# clips start 2024-01-01; 600 clips x 400 s mean gap span ~2.8 days
CASES = {
    "file_sliding": (
        "iceberg", ["--window", "sliding"], False,
        {"input_clips": 600, "output_rows": 340,
         "n_batches": 3, "exactly_once": True},
        "d4637424dcb2851c1bed118e442cf0c590cdc9c1ce8b7ea6b310cf4fc030a093"),
    "tail_decode": (
        "iceberg", ["--decode"], False,
        {"input_clips": 600, "output_rows": 157,
         "n_batches": 3, "exactly_once": True},
        "29f27765dd994eb99b548a0a565e269409c4a70435fb3204cae4bf62a4a83130"),
    "tail_spectral_stateful_iceberg_sink": (
        "iceberg", ["--decode", "--features", "spectral", "--stateful",
                    "--n-buckets", "4", "--iceberg-sink"], True,
        {"input_clips": 600, "output_rows": 157,
         "n_batches": 3, "exactly_once": True},
        "29f27765dd994eb99b548a0a565e269409c4a70435fb3204cae4bf62a4a83130"),
    "tail_day_decode": (
        "days", ["--day", "2024-01-02", "--decode"],
        False,
        {"input_clips": 215, "output_rows": 207,
         "n_batches": 2, "exactly_once": True},
        "317007b5e71e7b6ef389cd6c63f9e989d51ed15735b7a0271db83999efb9ada4"),
    "file_speech": (
        "iceberg", ["--decode", "--features", "speech"], False,
        {"input_clips": 600, "output_rows": 157,
         "n_batches": 3, "exactly_once": True},
        "2a67ab90e888f19e30ed8093b382c34c4f8d772a3109874387392d2a531731e0"),
}


@pytest.fixture(scope="module")
def topics(tmp_path_factory):
    from engine.streams import write_clips_iceberg

    root = tmp_path_factory.mktemp("jobs_topics")
    kw = dict(n_files=6, seed=7, jitter_ms=30_000, max_dur_ms=600)
    ice = str(root / "iceberg")
    write_clips_iceberg(ice, 600, files_per_snapshot=3, mean_gap_ms=5_000,
                        **kw)
    days = str(root / "days")
    write_clips_iceberg(days, 600, files_per_snapshot=3,
                        mean_gap_ms=400_000, partition_by=["days(event_ts)"],
                        **kw)
    return {"iceberg": ice, "days": days}


def _rows_sha256(pdf) -> str:
    """sha256 of the frame's rows: columns by name, floats rounded to 6
    decimals, rows sorted — independent of batch and partition order."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
    rows = sorted(repr(r) for r in pdf.astype(str).itertuples(
        index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_pipeline_cli_characterization(spark, topics, tmp_path, case):
    from engine.iceberg import IcebergSink
    from engine.sink import ParquetLedgerSink

    topic, argv, iceberg_sink, want, want_sha = CASES[case]
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "-m", "engine.jobs", "pipeline",
         "--clips", topics[topic], "--out", out, "--cores", "2", *argv],
        cwd=ROOT, env=dict(os.environ, PYTHONPATH=ROOT),
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    got = {k: res[k] for k in want}
    sink = (IcebergSink(out) if iceberg_sink
            else ParquetLedgerSink(out, create=False))
    sha = _rows_sha256(sink.read_committed(spark).toPandas())
    assert (got, sha) == (want, want_sha)
