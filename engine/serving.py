"""Online point / batch feature-vector lookup.

Reference: ``base/engine/VectorServer.java`` — JDBC prepared statements
``WHERE pk = ?`` per feature group (:112-157), a batch variant that rewrites
the statement with an ``IN ((k1),(k2),...)`` tuple list (:201-268, tuple hack
:234-236), Avro-decode of complex/bytes columns (:403-420), and stitching of
multi-feature-group vectors in prepared-statement (TreeMap) order (:339-366).
Missing primary-key entries raise (:137-139, :422-427).

Spark expression: the "online store" is just the latest committed feature
table, reduced to its newest row per key by one resolution step
(``VectorServer._online``) that the driver-side snapshot, the Spark point
lookup and the broadcast-join batch lookup all read. On a real deployment the
online table would live in an external KV/JDBC store — the class keeps that
boundary behind ``source_df`` so a JDBC reader can be swapped in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class LookupError_(KeyError):
    """Mirrors VectorServer's FeatureStoreException on unknown serving keys."""


def _norm_key(v):
    """Normalize a primary-key value for dict lookup (numpy scalar → python)."""
    return v.item() if hasattr(v, "item") else v


def _resolve_df(df_or_factory) -> DataFrame:
    """A feature group's online table may be a DataFrame or a zero-arg
    factory (re-resolved per call so new store commits become visible)."""
    return df_or_factory() if callable(df_or_factory) else df_or_factory


def _ambiguous(entry: dict, name: str) -> LookupError_:
    return LookupError_(
        f"key {entry} has multiple rows in group '{name}' and no "
        "batch_id/ts_col to order by — reduce the online table to "
        "one row per key (latest window/commit) before serving"
    )


class VectorServer:
    def __init__(
        self,
        feature_groups: list[tuple[str, DataFrame, list[str]]],
        transformations: dict | None = None,
        ts_col: str | None = None,
        complex_features: dict | None = None,
        snapshot_token_fn=None,
    ):
        """``feature_groups``: ordered [(name, online_df, primary_key_cols)].
        Order is preserved when stitching vectors, mirroring the TreeMap
        iteration order of ``VectorServer.java:339-366``. The ``online_df``
        slot also accepts a ZERO-ARG CALLABLE returning the DataFrame — a
        store-backed server must pass a factory, because a resolved
        ``FeatureStore.read`` plan bakes in the commit list visible at build
        time; the factory is re-invoked on every lookup/snapshot-rebuild so
        new commits actually become visible.

        ``transformations``: feature name → ``TransformationFunction``
        (``base/TransformationFunctionAttached.java``) applied to served
        columns — this is the Python serving path the reference's Java client
        refuses to handle itself (``VectorServer.java:293-315``).

        ``ts_col``: event/window timestamp used to order rows *within* the
        newest commit when a backfill batch carries several rows per key
        (latest timestamp wins before the ``batch_id`` tie-break).

        ``complex_features``: feature name → per-feature Avro union schema
        (JSON string or dict, as ``FeatureGroup.feature_avro_schema``
        returns). Columns listed here are stored as Avro-binary bytes in the
        online table and are lazily decoded back to their typed value at
        lookup time — the ``VectorServer.java:403-420`` deserializer. Decode
        runs BEFORE transformations, so a transformation attached to a
        complex feature sees the typed value.

        ``snapshot_token_fn``: zero-arg callable returning a hashable
        staleness token for the online tables (e.g. the store ledger's
        latest commit id / mtime). Point lookups answer from a driver-side
        snapshot dict (the sandbox analogue of the reference's online KV
        store — ``VectorServer.java:112-157`` hits RonDB via JDBC in
        milliseconds, and a Spark job per point lookup is the wrong tool);
        the snapshot rebuilds whenever the token changes. Without a token
        fn the snapshot is built once and kept until
        :meth:`invalidate_snapshots`.
        """
        self.feature_groups = feature_groups
        self.transformations = {
            k.lower(): v for k, v in (transformations or {}).items()
        }
        self.ts_col = ts_col
        self.complex_features = {
            k.lower(): v for k, v in (complex_features or {}).items()
        }
        self.snapshot_token_fn = snapshot_token_fn
        self._snapshots: dict = {}  # name -> (token, {pk_tuple: row_dict})
        pk_sets = {tuple(pks) for _, _, pks in feature_groups}
        if len(pk_sets) > 1:
            raise ValueError(
                "all feature groups must share the same primary keys for "
                f"vector stitching; got {sorted(pk_sets)}"
            )

    def _online(self, df: DataFrame, pks: list[str]) -> DataFrame:
        """The one resolution step every lookup path reads: one row per key
        when the table has an order column — the newest event/window
        ``ts_col`` first, then the newest commit (``batch_id``), nulls last
        — with complex features decoded and transformations applied. A
        table with neither column keeps every row; a key with several rows
        is then ambiguous (:func:`_ambiguous`)."""
        order = self._order_cols(df)
        if order:
            df = (df.withColumn("_rn", F.row_number().over(
                      Window.partitionBy(*pks).orderBy(
                          *[F.col(c).desc_nulls_last() for c in order])))
                  .filter("_rn = 1").drop("_rn"))
        return self._apply_transforms_df(self._decode_complex_df(df))

    def _order_cols(self, df: DataFrame) -> list[str]:
        return [c for c in (self.ts_col, "batch_id")
                if c is not None and c in df.columns]

    def _check_keys(self, entry: dict, pks: list[str]) -> None:
        missing = [k for k in pks if k not in entry]
        if missing:
            raise LookupError_(
                f"Provided primary key map doesn't contain required keys: {missing}"
            )

    def get_feature_vector(self, entry: dict, use_snapshot: bool = True) -> dict:
        """Single lookup: primary-key map → stitched feature dict.

        Raises if any feature group has no row for the key
        (``VectorServer.java:137-139``).

        Default path is the driver-side snapshot (millisecond dict lookup,
        mirroring the reference's online-store JDBC boundary); pass
        ``use_snapshot=False`` to run the lookup as a Spark job — the two
        are row-identical (pytest-asserted parity) because the snapshot is
        built by collecting the SAME resolution step (:meth:`_online`).
        """
        if not use_snapshot:
            return self._get_feature_vector_spark(entry)
        out: dict = {}
        for name, df, pks in self.feature_groups:
            self._check_keys(entry, pks)
            snap, ambiguous = self._snapshot(name, df, pks)
            key = tuple(_norm_key(entry[k]) for k in pks)
            if key in ambiguous:
                raise _ambiguous(entry, name)
            row = snap.get(key)
            if row is None:
                raise LookupError_(f"No feature vector for {entry} in group '{name}'")
            for k, v in row.items():
                out.setdefault(k, v)
        return out

    def _get_feature_vector_spark(self, entry: dict) -> dict:
        """The Spark-job point lookup (semantics twin of the snapshot path).
        The key filter runs first: the resolution step works per key, so
        resolving only the requested key gives the same row."""
        out: dict = {}
        for name, df, pks in self.feature_groups:
            self._check_keys(entry, pks)
            cond = None
            for k in pks:
                c = F.col(k) == F.lit(entry[k])
                cond = c if cond is None else (cond & c)
            matched = self._online(_resolve_df(df).filter(cond), pks)
            rows = matched.limit(2).collect()
            if not rows:
                raise LookupError_(f"No feature vector for {entry} in group '{name}'")
            if len(rows) > 1:
                raise _ambiguous(entry, name)
            for k, v in rows[0].asDict().items():
                out.setdefault(k, v)
        return out

    # -- driver-side snapshot (the in-sandbox "online store") ---------------
    def invalidate_snapshots(self) -> None:
        self._snapshots.clear()

    def _snapshot(self, name: str, df: DataFrame, pks: list[str]):
        """(mapping, ambiguous_keys) for one group; rebuilt when the
        staleness token changes. Built by COLLECTING the resolution step the
        Spark paths run, so values are identical by construction."""
        token = self.snapshot_token_fn() if self.snapshot_token_fn else None
        cached = self._snapshots.get(name)
        if cached is not None and cached[0] == token:
            return cached[1], cached[2]
        # resolve the factory only on an actual rebuild — a fresh read here
        # is what makes commits landed after construction visible
        mapping: dict = {}
        ambiguous: set = set()
        for r in self._online(_resolve_df(df), pks).collect():
            key = tuple(_norm_key(r[k]) for k in pks)
            if key in mapping:  # only a table without order columns
                ambiguous.add(key)
            mapping[key] = r.asDict()
        self._snapshots[name] = (token, mapping, ambiguous)
        return mapping, ambiguous

    def get_feature_vectors(self, spark: SparkSession, entries: list[dict]) -> DataFrame:
        """Batch lookup: the ``IN``-tuple path (:201-268) as a broadcast join.

        Returns one row per requested key that any group holds (its newest
        row); callers can assert completeness with :meth:`check_complete`.
        The key join runs before the resolution step, which works per key.
        In a table without order columns, a requested key with several rows
        raises the point lookups' ambiguity error (one extra Spark job over
        the requested keys' rows).
        """
        if not entries:
            raise LookupError_("empty key batch")
        out: DataFrame | None = None
        for name, df, pks in self.feature_groups:
            df = _resolve_df(df)
            for e in entries:
                self._check_keys(e, pks)
            keys_df = spark.createDataFrame(
                [tuple(e[k] for k in pks) for e in entries], pks
            ).dropDuplicates(pks)
            matched = df.join(F.broadcast(keys_df), on=pks, how="inner")
            if not self._order_cols(matched):
                dup = (matched.groupBy(*pks).count().filter("count > 1")
                       .limit(1).collect())
                if dup:
                    raise _ambiguous({k: dup[0][k] for k in pks}, name)
            part = self._online(matched, pks)
            if out is not None:
                # disambiguate non-key columns colliding across groups
                # (per-group prefix, as the reference's join prefixing does)
                clash = (set(out.columns) & set(part.columns)) - set(pks)
                for c in clash:
                    part = part.withColumnRenamed(c, f"{name}_{c}")
            out = part if out is None else out.join(part, on=pks, how="outer")
        return out

    def _apply_transforms_df(self, df: DataFrame) -> DataFrame:
        for c, tf in self.transformations.items():
            if c in df.columns:
                df = df.withColumn(c, tf(F.col(c)))
        return df

    def _decode_complex_df(self, df: DataFrame) -> DataFrame:
        """Lazily decode Avro-binary complex feature columns to their typed
        values (``VectorServer.java:403-420``); runs before transforms so a
        transformation attached to a complex feature sees the typed value."""
        if not self.complex_features:
            return df
        from engine.complexio import decode_feature_avro_udf

        for c, schema in self.complex_features.items():
            if c in df.columns:
                df = df.withColumn(c, decode_feature_avro_udf(schema)(F.col(c)))
        return df

    def check_complete(self, spark: SparkSession, entries: list[dict]) -> None:
        """Raise when any requested key is missing from any group (batch
        analogue of the single-lookup miss error)."""
        for name, df, pks in self.feature_groups:
            df = _resolve_df(df)
            keys_df = spark.createDataFrame(
                [tuple(e[k] for k in pks) for e in entries], pks
            ).dropDuplicates(pks)
            n_miss = keys_df.join(df, on=pks, how="left_anti").count()
            if n_miss:
                raise LookupError_(
                    f"{n_miss} requested key(s) have no feature vector in group '{name}'"
                )
