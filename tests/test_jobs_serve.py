"""Characterization of ``python -m engine.jobs serve``: the literal JSON it
prints for a ``ParquetLedgerSink`` table with two commits, and its usage
errors. All cases run in one subprocess, one ``jobs.main`` call each,
because every call stops its Spark session."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs each case through jobs.main and prints one JSON record per case:
# the line the job printed, the message it exited with, or the exception
# it raised.
RUNNER = """
import contextlib, io, json, sys
from engine import jobs

for name, argv in json.loads(sys.argv[1]):
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            jobs.main(argv)
        rec = {"case": name, "printed": out.getvalue().strip()}
    except SystemExit as e:
        rec = {"case": name, "exit": str(e.code)}
    except Exception as e:
        rec = {"case": name, "error": f"{type(e).__name__}: {e}"}
    print("CASE " + json.dumps(rec), flush=True)
"""

W0, W1 = "2024-01-01T00:00:00", "2024-01-01T00:10:00"
W2 = "2024-01-01T00:20:00"


def _vec(k, ws, we, n, mean, seq):
    return {"speaker_id": k, "window_start": ws, "window_end": we,
            "n_clips": n, "mean_dur_ms": mean, "seq": seq}


CASES = {
    # speaker 1: two windows in commit 0, the later one wins; speaker 2:
    # commit 1 supersedes the same window; speaker 3: commit 1 carries an
    # OLDER window, so commit 0's newer window still wins; 99 misses and
    # the second 2 is a duplicate
    "default_order": (
        ["--keys", "1,2,3,99,2"],
        {"job": "serve", "n_keys": 4,
         "vectors": [_vec(1, W1, W2, 2, 250.0, 1),
                     _vec(2, W0, W1, 5, 700.0, 1),
                     _vec(3, W1, W2, 4, 400.0, 3)],
         "missing_keys": [99]}),
    # --ts-col orders on seq instead: speaker 1's first window has the
    # larger seq; speaker 3's commit-1 row ties on seq and wins on commit
    "ts_col_seq": (
        ["--keys", "1,3", "--ts-col", "seq"],
        {"job": "serve", "n_keys": 2,
         "vectors": [_vec(1, W0, W1, 3, 150.0, 7),
                     _vec(3, W0, W1, 8, 800.0, 3)],
         "missing_keys": []}),
}


def _write_table(spark, out):
    from engine.sink import ParquetLedgerSink

    ddl = ("speaker_id int, window_start timestamp, window_end timestamp, "
           "n_clips long, mean_dur_ms double, seq int")
    commits = [
        [(1, W0, W1, 3, 150.0, 7), (1, W1, W2, 2, 250.0, 1),
         (2, W0, W1, 1, 900.0, 2), (3, W1, W2, 4, 400.0, 3)],
        [(2, W0, W1, 5, 700.0, 1), (3, W0, W1, 8, 800.0, 3)],
    ]
    sink = ParquetLedgerSink(out)
    for batch_id, rows in enumerate(commits):
        df = spark.createDataFrame(rows, ddl.replace("timestamp", "string"))
        for c in ("window_start", "window_end"):
            df = df.withColumn(c, df[c].cast("timestamp"))
        assert sink.write_batch(df.coalesce(1), batch_id)


def test_serve_cli_characterization(spark, tmp_path):
    table = str(tmp_path / "agg")
    _write_table(spark, table)
    base = ["serve", "--table", table, "--cores", "2"]
    cases = [(name, base + argv) for name, (argv, _) in CASES.items()]
    cases += [
        ("missing_ts_col", base + ["--keys", "1", "--ts-col", "nope"]),
        ("bad_int_key", base + ["--keys", "1,x"]),
    ]
    proc = subprocess.run(
        [sys.executable, "-c", RUNNER, json.dumps(cases)],
        cwd=ROOT, env=dict(os.environ, PYTHONPATH=ROOT, TZ="UTC"),
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = {}
    for ln in proc.stdout.splitlines():
        if ln.startswith("CASE "):
            rec = json.loads(ln[5:])
            got[rec.pop("case")] = rec
    for name, (_, want) in CASES.items():
        assert got[name] == {"printed": json.dumps(want)}, name
    assert got["missing_ts_col"]["exit"].startswith(
        "--ts-col 'nope' not in table columns")
    assert got["bad_int_key"] == {
        "exit": "--keys: speaker_id column has type int, 'x' is not a number"}
