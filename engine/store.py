"""FeatureStore facade: metadata registry + insert / insert_stream (S5).

The reference splits this between REST metadata calls
(``MetaDataUtils.getOrCreateStreamFeatureGroup``,
``flink/metadata/MetaDataUtils.java:54-87``; ``FeatureGroupApi.getInternal``,
``base/metadata/FeatureGroupApi.java:53-72``) and the streaming insert engine
(``FeatureGroupEngine.insertStream``, ``flink/engine/FeatureGroupEngine.java:
46-64`` → ``FlinkEngine.writeDataStream:80-95``).  Here the "backend" is a
directory: one JSON metadata file + one ledgered parquet table per feature
group (``<root>/<name>_<version>/``), and the insert path is the exactly-once
ledger sink — an upgrade over the reference's AT_LEAST_ONCE Kafka producer.

Batch ``insert`` reuses the same commit protocol (each insert = one ledger
batch), which is what makes ``Query.as_of`` / ``pull_changes`` time travel
work over plain parquet.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from engine.schema import Feature, FeatureGroup, SchemaError, sanitize_feature_names, spark_type
from engine.sink import ParquetLedgerSink


class SaveMode:
    """``base/SaveMode.java:20-24`` (APPEND/UPSERT/OVERWRITE); UPSERT maps to
    the Hudi upsert op (``base/HudiOperationType.java:20-23``) in the
    reference. Here all three share the exactly-once ledger commit protocol —
    the mode is recorded in the ledger and resolved snapshot-style at read
    time, so time travel across upserts/overwrites keeps working (an earlier
    ``as_of_batch_id`` sees the pre-overwrite rows)."""

    APPEND = "append"
    UPSERT = "upsert"
    OVERWRITE = "overwrite"


def _read_external(spark: SparkSession, source: dict) -> DataFrame:
    """Reader for an external feature group's source descriptor."""
    reader = spark.read.format(source["format"]).options(**source.get("options", {}))
    path = source.get("path")
    return reader.load(path) if path else reader.load()


class FeatureStore:
    """Directory-backed feature-group registry."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def _meta_path(self, name: str, version: int) -> str:
        return os.path.join(self.root, f"{name.lower()}_{version}", "_meta.json")

    def _save_meta(self, fg: FeatureGroup) -> None:
        p = self._meta_path(fg.name, fg.version)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        meta = {
            "name": fg.name,
            "version": fg.version,
            "tags": getattr(fg, "tags", {}) or {},
            "external": getattr(fg, "external_source", None),
            "features": [
                {"name": f.name, "type": f.dtype.simpleString(), "primary": f.primary,
                 "partition": f.partition, "appended": f.appended}
                for f in fg.features
            ],
            "primary_key": fg.primary_key,
            "partition_key": fg.partition_key,
            "event_time": fg.event_time,
            "description": fg.description,
            "online_enabled": fg.online_enabled,
        }
        with open(p, "w") as fh:
            json.dump(meta, fh, sort_keys=True, indent=1)

    def get_feature_group(self, name: str, version: int = 1) -> FeatureGroup | None:
        p = self._meta_path(name, version)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            m = json.load(fh)
        fg = FeatureGroup(
            name=m["name"], version=m["version"],
            features=[
                Feature(f["name"], spark_type(f["type"]), primary=f["primary"],
                        partition=f["partition"], appended=f.get("appended", False))
                for f in m["features"]
            ],
            primary_key=m["primary_key"], partition_key=m["partition_key"],
            event_time=m["event_time"], description=m["description"],
            online_enabled=m["online_enabled"],
        )
        fg.path = None  # reads route through the store's ledgered table
        fg._store = self
        fg.tags = m.get("tags", {})
        fg.external_source = m.get("external")
        return fg

    def get_or_create_stream_feature_group(
        self,
        name: str,
        version: int = 1,
        df: DataFrame | None = None,
        primary_key: list[str] | None = None,
        partition_key: list[str] | None = None,
        event_time: str | None = None,
        **kw,
    ) -> FeatureGroup:
        """GET, else create from the DataFrame schema (the reference's
        get-or-404-then-build flow, ``FeatureGroupApi.java:53-72``)."""
        fg = self.get_feature_group(name, version)
        if fg is not None:
            return fg
        if df is None:
            raise SchemaError(f"feature group {name}_{version} not found and no "
                              "DataFrame given to create it from")
        fg = FeatureGroup.from_dataframe(
            name, df, version=version, primary_key=primary_key,
            partition_key=partition_key, event_time=event_time, **kw
        )
        fg.path = None  # reads route through the store's ledgered table
        fg._store = self
        self._save_meta(fg)
        return fg

    #: ``base/ExternalDataFormat.java:20-27`` (+ json/jdbc for practicality;
    #: hudi/delta/avro need runtime jars and fail with a clear reader error).
    #: ``image`` maps straight onto Spark's built-in binary image source
    #: (DataFormat.IMAGE analogue) — columns (path, modificationTime, length,
    #: content:binary) feed engine.multimodal's decode path.
    EXTERNAL_FORMATS = ("orc", "parquet", "avro", "csv", "hudi", "delta",
                        "json", "jdbc", "image", "binaryfile")

    def create_external_feature_group(
        self,
        name: str,
        spark: SparkSession,
        data_format: str,
        path: str | None = None,
        options: dict | None = None,
        version: int = 1,
        primary_key: list[str] | None = None,
        event_time: str | None = None,
        description: str | None = None,
    ) -> FeatureGroup:
        """Register an external (on-demand) table as a queryable feature group
        (``base/constructor/ExternalFeatureGroupAlias.java``; formats
        ``base/ExternalDataFormat.java:20-27``). The data stays where it is —
        reads go straight through ``spark.read.format(...)`` so Catalyst
        pushdown/pruning applies to the external source; inserts are refused
        (the group is read-only by construction). Schema is inferred once at
        registration and persisted."""
        fmt = data_format.strip().lower()
        if fmt not in self.EXTERNAL_FORMATS:
            raise ValueError(
                f"unsupported external format {fmt!r}; one of {self.EXTERNAL_FORMATS}"
            )
        existing = self.get_feature_group(name, version)
        if existing is not None:
            if not existing.external_source:
                raise SchemaError(
                    f"{name}_{version} already exists as a managed group"
                )
            return existing
        source = {"format": fmt, "path": path, "options": options or {}}
        df = sanitize_feature_names(_read_external(spark, source))
        fg = FeatureGroup.from_dataframe(
            name, df, version=version, primary_key=primary_key,
            event_time=event_time, description=description,
        )
        fg.path = None
        fg._store = self
        fg.external_source = source
        self._save_meta(fg)
        return fg

    # -- tags (FeatureGroupBase.java:167-180) -------------------------------
    def add_tag(self, fg: FeatureGroup, name: str, value) -> None:
        fg.tags = {**(getattr(fg, "tags", {}) or {}), name: value}
        self._save_meta(fg)

    def get_tags(self, fg: FeatureGroup) -> dict:
        return dict(getattr(fg, "tags", {}) or {})

    def delete_tag(self, fg: FeatureGroup, name: str) -> None:
        tags = dict(getattr(fg, "tags", {}) or {})
        if name not in tags:
            raise KeyError(f"tag {name!r} not set on {fg.table_name}")
        del tags[name]
        fg.tags = tags
        self._save_meta(fg)

    def append_features(self, fg: FeatureGroup, feats: list[Feature]) -> None:
        """Append-only schema evolution, persisted
        (``FeatureGroupBase.appendFeatures``, ``base/metadata/
        FeatureGroupBase.java:265-277``): old committed batches read with the
        new columns as null; old-shaped inserts keep working (null backfill);
        dropping or retyping still raises."""
        fg.append_features(feats)
        self._save_meta(fg)

    # -- writes (S4/S5) ----------------------------------------------------
    def _sink(self, fg: FeatureGroup) -> ParquetLedgerSink:
        out_dir = os.path.join(self.root, fg.table_name)
        return ParquetLedgerSink(
            os.path.join(out_dir, "table"), event_ts_col=fg.event_time
        )

    def insert(self, fg: FeatureGroup, df: DataFrame,
               mode: str = SaveMode.APPEND) -> int:
        """Batch insert = one exactly-once ledger commit; returns batch id,
        from the sink's batch namespace (``ParquetLedgerSink.next_batch_id``),
        so inserts and ``insert_stream`` on one group never share an id.

        ``mode=SaveMode.UPSERT``: rows supersede earlier rows with the same
        primary key (resolved at read time, newest commit wins).
        ``mode=SaveMode.OVERWRITE``: this commit hides all earlier batches
        (``base/SaveMode.java:20-24``); earlier snapshots stay readable via
        ``read(as_of_batch_id=...)``.
        """
        if getattr(fg, "external_source", None):
            raise SchemaError(
                f"{fg.table_name} is an external feature group — read-only"
            )
        if mode == SaveMode.UPSERT and not fg.primary_key:
            raise SchemaError(
                f"UPSERT on {fg.table_name} requires a primary key"
            )
        df = sanitize_feature_names(df)
        fg.verify_schema(df)
        df = fg.conform(df)
        sink = self._sink(fg)
        batch_id = sink.next_batch_id()
        sink.write_batch(df, batch_id, mode=mode)
        return batch_id

    def insert_stream(self, fg: FeatureGroup, df: DataFrame, checkpoint_dir: str,
                      await_termination: bool = False,
                      mode: str = SaveMode.APPEND):
        """S5: streaming insert → exactly-once ledger sink. Returns the
        StreamingQuery (caller manages lifecycle, as ``insertStream`` does).
        ``mode=SaveMode.UPSERT`` marks every micro-batch commit as an upsert
        (idempotent under checkpoint replay: a replayed batch id is a ledger
        no-op, so the same rows never supersede themselves twice)."""
        if getattr(fg, "external_source", None):
            raise SchemaError(
                f"{fg.table_name} is an external feature group — read-only"
            )
        if mode == SaveMode.OVERWRITE:
            raise ValueError("OVERWRITE is batch-only; streams append or upsert")
        if mode == SaveMode.UPSERT and not fg.primary_key:
            raise SchemaError(f"UPSERT on {fg.table_name} requires a primary key")
        df = sanitize_feature_names(df)
        fg.verify_schema(df)
        df = fg.conform(df)
        sink = self._sink(fg)
        q = (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink.foreach_batch(mode=mode))
            .start()
        )
        if await_termination:
            q.processAllAvailable()
            q.stop()
        return q

    def read(self, spark: SparkSession, fg: FeatureGroup,
             with_commit_ts: bool = True,
             as_of_batch_id: int | None = None,
             as_of_ts=None, exclude_until=None) -> DataFrame:
        """Committed rows with save-mode resolution; by default each row
        carries ``_commit_ts`` (from its batch's ledger record) so
        ``Query.as_of`` / ``pull_changes`` time travel actually bounds
        store-managed tables.

        Resolution: only batches since the latest OVERWRITE
        commit are visible; for each primary key that appears in at least one
        visible UPSERT commit, the newest visible row for that key wins
        (tie-break inside a batch: event time descending when the group
        declares one). Keys only ever touched by APPEND commits keep all
        their rows — duplicate-key append rows coexist, matching the
        reference's Hudi insert-op mapping. Time travel —
        ``as_of_batch_id`` (snapshot at a commit) or ``as_of_ts`` /
        ``exclude_until`` (wallclock commit-time bounds) — prunes the LEDGER
        first, so resolution runs against the commits as they stood at that
        time (an as-of before an overwrite sees the pre-overwrite rows; an
        upserted-away row is still served for an as-of before its
        supersession). One scan + (only when upserts exist) one shuffle on
        the primary key; the window is keyed, never per-row.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from engine.query import COMMIT_TS_COL

        if getattr(fg, "external_source", None):
            # on-demand group: no ledger, no commit metadata — the external
            # source is the table (predicate/column pushdown applies there)
            return sanitize_feature_names(_read_external(spark, fg.external_source))
        sink = self._sink(fg)
        recs = sink.committed_batches()
        if as_of_batch_id is not None:
            recs = [r for r in recs if r.batch_id <= as_of_batch_id]
            if not recs:
                raise ValueError(
                    f"{fg.table_name}: no commits at or before batch "
                    f"{as_of_batch_id}"
                )
        def _ms(wallclock) -> float:
            from datetime import timezone

            from engine.timeutil import parse_wallclock

            # parse_wallclock returns a UTC-naive datetime (session tz is
            # pinned UTC); make the epoch conversion explicit-UTC so ledger
            # bounds never shift with the host timezone
            return parse_wallclock(wallclock).replace(
                tzinfo=timezone.utc
            ).timestamp() * 1000

        if as_of_ts is not None:
            bound = _ms(as_of_ts)
            recs = [r for r in recs if r.commit_ts_ms <= bound]
        if exclude_until is not None:
            lo = _ms(exclude_until)
            recs = [r for r in recs if r.commit_ts_ms > lo]
        visible = recs
        # latest overwrite by COMMIT TIME (batch-id tie-break) — raw batch
        # ids are not comparable across the stream (from 0) and batch-insert
        # (from 2^40) namespaces
        overwrites = [r for r in recs if r.mode == SaveMode.OVERWRITE]
        if overwrites:
            cut = max(overwrites, key=lambda r: (r.commit_ts_ms, r.batch_id))
            visible = [
                r for r in recs
                if (r.commit_ts_ms, r.batch_id)
                >= (cut.commit_ts_ms, cut.batch_id)
            ]
        if not visible:
            # a fresh group with no commits is an empty table, not an error
            schema = fg.spark_schema()
            if with_commit_ts:
                from pyspark.sql import types as T

                from engine.query import COMMIT_TS_COL as _CTS

                schema = T.StructType(
                    list(schema) + [T.StructField(_CTS, T.TimestampType())]
                )
            return spark.createDataFrame([], schema)
        has_upsert = any(r.mode == SaveMode.UPSERT for r in visible)
        need_batch_id = with_commit_ts or has_upsert
        df = sink.read_committed(
            spark,
            with_batch_id=need_batch_id,
            batch_ids=[r.batch_id for r in visible],
            schema=fg.spark_schema() if fg.appended_features else None,
        )
        out_cols = [c for c in df.columns if c != "batch_id"]
        if need_batch_id:
            # Commit metadata rides in as a tiny broadcast-joined ledger
            # frame, NOT a literal create_map: a long-running stream commits
            # one record per micro-batch (10^5-10^6 commits at scale) and a
            # plan with millions of literal expressions dies in driver
            # analysis long before data volume matters. One broadcast of
            # O(#commits) ROWS keeps the plan size constant.
            ledger = spark.createDataFrame(
                [(int(r.batch_id), int(r.commit_ts_ms),
                  1 if r.mode == SaveMode.UPSERT else 0)
                 for r in visible],
                "batch_id long, _commit_ms long, _is_upsert int",
            )
            df = df.join(F.broadcast(ledger), "batch_id")
        if has_upsert:
            # "newest commit wins" must hold across the two batch-id
            # namespaces (stream micro-batches from 0, batch inserts from
            # 2^40), so order by actual commit time first; batch_id only
            # breaks same-millisecond ties within one namespace.
            order = [F.desc("_commit_ms"), F.desc("batch_id")]
            if fg.event_time and fg.event_time in df.columns:
                order.append(F.desc_nulls_last(fg.event_time))
            # Per-KEY resolution (Hudi mapping, base/HudiOperationType
            # .java:20-23): only keys that appear in at least one UPSERT
            # commit collapse to their newest visible row; duplicate-key rows
            # that arrived purely via APPEND (insert-op) commits coexist,
            # as in the reference's Hudi tables. Residual divergence,
            # documented: an APPEND for an already-upserted key is also
            # collapsed into the latest-wins ranking for that key.
            pk = Window.partitionBy(*fg.primary_key)
            w = pk.orderBy(*order)
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .withColumn("_key_upserted", F.max("_is_upsert").over(pk))
                .filter((F.col("_key_upserted") == 0) | (F.col("_rn") == 1))
            )
        if not with_commit_ts:
            return df.select(*out_cols)
        return df.select(
            *out_cols,
            F.timestamp_millis(F.col("_commit_ms")).alias(COMMIT_TS_COL),
        )

    # -- registry scan + SQL entry point ------------------------------------
    def list_feature_groups(self) -> list[tuple[str, int]]:
        """(name, version) of every registered group."""
        out = []
        for d in sorted(os.listdir(self.root)):
            if os.path.exists(os.path.join(self.root, d, "_meta.json")):
                name, _, ver = d.rpartition("_")
                if name and ver.isdigit():
                    out.append((name, int(ver)))
        return out

    def sql(self, spark: SparkSession, query: str) -> DataFrame:
        """``FeatureStore.sql`` (``flink/FeatureStore.java:191``): free-form
        SQL over the store's groups. Every registered group is exposed as a
        temp view under both ``name`` (latest version) and ``name_version``,
        with save-mode resolution applied — Catalyst plans the query itself.
        """
        groups = self.list_feature_groups()
        latest: dict[str, int] = {}
        for name, ver in groups:
            latest[name] = max(ver, latest.get(name, 0))
        # register lazily-resolved frames only for tables the query mentions
        # (substring check on the lowercased text — a false positive just
        # registers one extra lazy view, never scans data)
        qlow = query.lower()
        for name, ver in groups:
            if name not in qlow:
                continue
            fg = self.get_feature_group(name, ver)
            df = self.read(spark, fg, with_commit_ts=False)
            df.createOrReplaceTempView(f"{name}_{ver}")
            if latest[name] == ver:
                df.createOrReplaceTempView(name)
        return spark.sql(query)

    # -- feature views (flink/FeatureView.java:44-155; saved queryDTO) ------
    def _view_path(self, name: str, version: int) -> str:
        return os.path.join(
            self.root, "_feature_views", f"{name.lower()}_{version}.json"
        )

    def create_feature_view(self, fv) -> None:
        """Persist a FeatureView (name, version, labels + the query DTO the
        reference ships to its query constructor — ``flink/constructor/
        Query.java:79-94``). Transformation functions are Python callables
        and are re-attached at runtime (the reference likewise stores only a
        reference to them, ``base/TransformationFunction.java:32``)."""
        p = self._view_path(fv.name, fv.version)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        doc = {
            "name": fv.name,
            "version": fv.version,
            "labels": fv.labels,
            "query": fv.query.to_dict(),
            "transformation_features": sorted(fv.transformation_functions),
        }
        with open(p, "w") as fh:
            json.dump(doc, fh, sort_keys=True, indent=1)

    def get_feature_view(self, name: str, version: int = 1):
        from engine.query import Query
        from engine.views import FeatureView

        p = self._view_path(name, version)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            doc = json.load(fh)
        return FeatureView(
            doc["name"], doc["version"],
            Query.from_dict(doc["query"], self),
            labels=doc.get("labels", []),
        )

    def delete_feature_view(self, name: str, version: int = 1) -> None:
        """``FeatureView.delete`` (``flink/FeatureView.java:157-166``)."""
        p = self._view_path(name, version)
        if not os.path.exists(p):
            raise ValueError(f"feature view {name}_{version} not found")
        os.remove(p)

    def update_feature_view(self, fv) -> None:
        """``FeatureView.update`` (:168): overwrite the saved DTO."""
        if not os.path.exists(self._view_path(fv.name, fv.version)):
            raise ValueError(f"feature view {fv.name}_{fv.version} not found")
        self.create_feature_view(fv)

    def get_or_create_feature_view(self, name: str, version: int = 1,
                                   query=None, labels=None):
        """GET else create-and-persist (``FeatureViewEngineBase`` get-or-save
        flow) — the entry point a reference user calls as
        ``fs.getOrCreateFeatureView(name, version, query, labels)``."""
        from engine.views import FeatureView

        fv = self.get_feature_view(name, version)
        if fv is not None:
            return fv
        if query is None:
            raise ValueError(
                f"feature view {name}_{version} not found and no query given"
            )
        fv = FeatureView(name, version, query, labels=labels or [])
        self.create_feature_view(fv)
        return fv

    # -- statistics (StatisticsConfigBase.java; FeatureGroupBase.java:97,300)
    def compute_statistics(self, fg: FeatureGroup, spark: SparkSession,
                           config=None) -> dict:
        """Compute + persist a statistics snapshot over the group's resolved
        table (one aggregate pass; see :mod:`engine.stats`)."""
        from engine.stats import StatisticsConfig, compute_statistics, save_statistics

        cfg = config or getattr(fg, "statistics_config", None) or StatisticsConfig()
        df = self.read(spark, fg, with_commit_ts=False)
        stats = compute_statistics(df, cfg)
        recs = None
        if not getattr(fg, "external_source", None):
            batches = self._sink(fg).committed_batches()
            recs = batches[-1].batch_id if batches else None
        stats["config"] = cfg.to_dict()
        save_statistics(os.path.join(self.root, fg.table_name), stats, recs)
        return stats

    def get_statistics(self, fg: FeatureGroup) -> dict | None:
        from engine.stats import load_latest_statistics

        return load_latest_statistics(os.path.join(self.root, fg.table_name))

    # -- incremental / CDC read (pullChanges as a continuous stream) --------
    def stream_changes(self, spark: SparkSession, fg: FeatureGroup,
                       checkpoint_dir: str, process_fn,
                       await_termination: bool = False):
        """Continuous ``pullChanges``: invoke ``process_fn(batch_df,
        ledger_record)`` per committed batch of the group — including
        commits made before the stream started (first run) and only unseen
        ones after a checkpoint resume. Each commit record is *observed* by
        exactly one successful trigger (the ledger's atomic-rename
        publication, see ``ParquetLedgerSink.stream_committed``), but a
        mid-trigger failure re-runs the trigger, so ``process_fn`` side
        effects must be idempotent keyed by ``rec.batch_id`` (see
        ``ParquetLedgerSink.process_commits``)."""
        if getattr(fg, "external_source", None):
            raise SchemaError(
                f"{fg.table_name} is external — no commit ledger to stream"
            )
        return self._sink(fg).process_commits(
            spark, checkpoint_dir, process_fn,
            await_termination=await_termination,
        )

    def ledger_token(self, fg: FeatureGroup):
        """Cheap staleness token for a group's online snapshot: the sorted
        ledger file listing. Changes exactly when a commit lands (one
        ``listdir``, no Spark job) — used by ``VectorServer`` to know when
        to rebuild its driver-side point-lookup snapshot."""
        if getattr(fg, "external_source", None):
            return None  # external tables have no ledger; snapshot once
        ledger = self._sink(fg).ledger_dir
        if not os.path.isdir(ledger):
            return ()
        return tuple(sorted(os.listdir(ledger)))

    def commit_details(self, fg: FeatureGroup) -> list[dict]:
        """V3: the commit log (batch id, commit ts, row counts, lineage)."""
        return [
            {"batch_id": r.batch_id, "commit_ts_ms": r.commit_ts_ms,
             "row_count": r.row_count, "partitions": r.partitions,
             "lineage": r.lineage}
            for r in self._sink(fg).committed_batches()
        ]
