import contextlib
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from engine.session import get_spark

    s = get_spark("engine-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from engine.session import load_tables

    return load_tables(spark, SF_SMOKE)


@pytest.fixture(scope="session")
def clips_path(tmp_path_factory):
    from engine.synth import write_clips_parquet

    path = str(tmp_path_factory.mktemp("clips") / "clips.parquet")
    write_clips_parquet(path, n_clips=600, seed=42)
    return path


@pytest.fixture(scope="session")
def clips_df(spark, clips_path):
    return spark.read.parquet(clips_path)


@pytest.fixture
def clip_stream(spark, tmp_path):
    """Opens snapshot-tail streams over a clip topic, each with its own
    restart sidecar under ``tmp_path`` unless ``progress_dir`` is given
    (a query that restarts needs the same one). ``bytes`` stays on disk
    unless ``exclude_columns`` says otherwise."""
    from engine.streams import read_clip_stream_tail

    n = itertools.count()

    def open_stream(topic, progress_dir=None, exclude_columns=("bytes",),
                    **kw):
        return read_clip_stream_tail(
            spark, topic, exclude_columns=list(exclude_columns) or None,
            progress_dir=progress_dir or str(tmp_path / f"tail_{next(n)}"),
            **kw)

    return open_stream


@pytest.fixture
def as_stream_query(spark):
    """``with as_stream_query("q1"):`` makes sink writes on this thread look
    like ``foreachBatch`` calls of streaming query ``q1``: Spark marks a
    stream's thread with its id as the ``sql.streaming.queryId`` local
    property. ``None`` is a write outside any stream."""
    @contextlib.contextmanager
    def scope(query_id):
        sc = spark.sparkContext
        sc.setLocalProperty("sql.streaming.queryId", query_id)
        try:
            yield
        finally:
            sc.setLocalProperty("sql.streaming.queryId", None)

    return scope
