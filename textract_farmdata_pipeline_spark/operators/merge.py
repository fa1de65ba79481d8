"""MERGE INTO + change-data-capture over plain parquet files.

Two layers:

* :func:`merge_changes` — the relational core: target ⟗ source on the
  key, every row classified as ``unchanged | insert | update | delete``.
  Returns the post-merge snapshot and a Delta-CDF-style changelog
  (``insert`` / ``update_preimage`` / ``update_postimage`` /
  ``delete``).  Pure DataFrame logic — one full-outer join, no UDFs —
  so it is oracle-checkable and scales like any equi-join.

* :class:`ParquetMergeTable` — copy-on-write table layout with
  manifest-based snapshots: ``files/`` holds immutable parquet files,
  ``_manifests/v{N}.json`` lists the files of snapshot N, and
  ``_changes/v{N}/`` holds that commit's changelog.  A merge rewrites
  ONLY the files that contain matched keys (file pruning via a semi
  join on ``_metadata.file_path``); untouched files are carried into
  the new manifest by reference.  At 100 TB, a merge touching 0.1% of
  keys rewrites ~0.1% of the data — the same economics as Delta/
  Iceberg copy-on-write, built from parquet + JSON.

The reference has no notion of mutation (it only ever writes fresh
CSVs, lambda_function.py:769-774); this operator covers the north-star
"keep a 100 TB corpus current" path: upsert new document versions,
delete takedowns, and feed incremental consumers from the changelog.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHANGE_COL = "_change_type"


def _nullsafe_ne(a: str, b: str, cols: list[str]) -> F.Column:
    out = F.lit(False)
    for c in cols:
        out = out | ~F.col(f"{a}.{c}").eqNullSafe(F.col(f"{b}.{c}"))
    return out


def _annotate_merge(
    target: DataFrame,
    source: DataFrame,
    key: str,
    delete_condition: F.Column | None = None,
    only_if_changed: bool = True,
) -> DataFrame:
    """The ONE full-outer join behind a MERGE: every row classified as
    ``__action`` (insert/update/delete/unchanged) with both sides'
    columns carried as ``__t_*`` / ``__s_*``.  Factored out of
    :func:`merge_changes` so :meth:`ParquetMergeTable.merge` can persist
    this frame ONCE and derive snapshot + changelog from the cache
    instead of re-executing the join for every output (the changelog's
    four branches alone re-ran it 4×)."""
    cols = target.columns
    if cols != source.columns:
        raise ValueError(
            f"target/source schemas must align: {cols} != {source.columns}"
        )
    data_cols = [c for c in cols if c != key]

    t = target.alias("t")
    s = source.alias("s")
    joined = t.join(s, F.col(f"t.{key}").eqNullSafe(F.col(f"s.{key}")), "full_outer")

    in_t = F.col(f"t.{key}").isNotNull()
    in_s = F.col(f"s.{key}").isNotNull()
    differs = _nullsafe_ne("t", "s", data_cols) if only_if_changed else F.lit(True)
    is_delete = (
        (in_t & in_s & delete_condition) if delete_condition is not None else F.lit(False)
    )
    action = (
        F.when(is_delete, F.lit("delete"))
        .when(in_t & in_s & differs, F.lit("update"))
        .when(in_t & in_s, F.lit("unchanged"))
        .when(in_s, F.lit("insert"))
        .otherwise(F.lit("unchanged"))
    )

    t_row = [F.col(f"t.{c}").alias(f"__t_{c}") for c in cols]
    s_row = [F.col(f"s.{c}").alias(f"__s_{c}") for c in cols]
    return joined.select(action.alias("__action"), *t_row, *s_row)


def _snapshot_from(annotated: DataFrame, cols: list[str]) -> DataFrame:
    return annotated.filter(F.col("__action") != "delete").select(
        *[
            F.when(F.col("__action").isin("insert", "update"), F.col(f"__s_{c}"))
            .otherwise(F.col(f"__t_{c}"))
            .alias(c)
            for c in cols
        ]
    )


def _changelog_from(annotated: DataFrame, cols: list[str]) -> DataFrame:
    def pick(side: str) -> list[F.Column]:
        return [F.col(f"__{side}_{c}").alias(c) for c in cols]

    inserts = annotated.filter(F.col("__action") == "insert").select(
        *pick("s"), F.lit("insert").alias(CHANGE_COL)
    )
    deletes = annotated.filter(F.col("__action") == "delete").select(
        *pick("t"), F.lit("delete").alias(CHANGE_COL)
    )
    pre = annotated.filter(F.col("__action") == "update").select(
        *pick("t"), F.lit("update_preimage").alias(CHANGE_COL)
    )
    post = annotated.filter(F.col("__action") == "update").select(
        *pick("s"), F.lit("update_postimage").alias(CHANGE_COL)
    )
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)


def merge_changes(
    target: DataFrame,
    source: DataFrame,
    key: str,
    delete_condition: F.Column | None = None,
    only_if_changed: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Classify a MERGE and return ``(snapshot, changelog)``.

    Semantics (Delta's ``MERGE INTO`` defaults):

    * key in both & ``delete_condition`` (evaluated on the source row)
      → row deleted;
    * key in both otherwise → source row wins (an update); with
      ``only_if_changed`` the update is suppressed when every non-key
      column is null-safe-equal, keeping the changelog minimal;
    * key only in source → insert;
    * key only in target → unchanged.

    Both outputs derive from ONE full-outer join; columns are the
    target's schema.  The changelog carries ``_change_type`` with
    Delta-CDF naming so downstream incremental consumers are portable.
    """
    cols = target.columns
    annotated = _annotate_merge(
        target, source, key, delete_condition=delete_condition,
        only_if_changed=only_if_changed,
    )
    return _snapshot_from(annotated, cols), _changelog_from(annotated, cols)


class ParquetMergeTable:
    """Copy-on-write parquet table with manifest snapshots and CDF.

    Layout::

        <path>/files/<uuid>.parquet      immutable data files
        <path>/_manifests/v{N}.json      {"version": N, "files": [...]}
        <path>/_changes/v{N}/            changelog of commit N (parquet)

    Readers pin a manifest, so concurrent reads never see a partial
    commit; the manifest write is the atomic commit point (a rename on
    real object stores).

    The table exists once that rename has happened for version 1
    (``latest_version() > 0``).  :meth:`merge` and :meth:`upsert_or`
    create it on their first commit, so a caller never probes the
    layout: a crash inside the first commit leaves at most a temporary
    manifest, which does not count, and the next commit simply creates
    the table again.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- manifest bookkeeping -------------------------------------------------
    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifests")

    def latest_version(self) -> int:
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return 0
        versions = [
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions, default=0)

    def _read_manifest(self, version: int) -> dict:
        with open(os.path.join(self._manifest_dir(), f"v{version}.json")) as fh:
            return json.load(fh)

    def _write_manifest(self, version: int, files: list[str]) -> None:
        os.makedirs(self._manifest_dir(), exist_ok=True)
        tmp = os.path.join(self._manifest_dir(), f".v{version}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"version": version, "files": files, "ts": time.time()}, fh)
        os.replace(tmp, os.path.join(self._manifest_dir(), f"v{version}.json"))

    def _new_data_files(self, df: DataFrame) -> list[str]:
        """Write df into files/ under a fresh subdirectory; return the
        parquet part files it produced."""
        sub = os.path.join(self.path, "files", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(sub)
        return [
            os.path.join(sub, f)
            for f in os.listdir(sub)
            if f.endswith(".parquet")
        ]

    def _committed_version(self) -> int:
        version = self.latest_version()
        if version == 0:
            raise FileNotFoundError(f"no committed table at {self.path}")
        return version

    # -- public surface -------------------------------------------------------
    def create(self, df: DataFrame) -> int:
        if self.latest_version() > 0:
            raise FileExistsError(f"table already exists at {self.path}")
        files = self._new_data_files(df)
        # Fail fast if the writer produced zero part files (r13 ADVICE):
        # an empty manifest would make the next merge's read.parquet()
        # throw with no paths.  Spark writes a schema-only part file for
        # an empty DataFrame with ≥1 partition — the empty-first-batch
        # case every ingest handler relies on — so this only trips on a
        # 0-partition frame, which is a caller bug to surface, not state
        # to corrupt.
        if not files:
            raise RuntimeError("create() wrote no parquet part files")
        self._write_manifest(1, files)
        return 1

    def read(self, version: int | None = None) -> DataFrame:
        v = version or self.latest_version()
        files = self._read_manifest(v)["files"]
        return self.spark.read.parquet(*files)

    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        to_v = to_version or self.latest_version()
        out: DataFrame | None = None
        for v in range(from_version, to_v + 1):
            d = os.path.join(self.path, "_changes", f"v{v}")
            if not os.path.isdir(d):
                continue
            part = self.spark.read.parquet(d).withColumn("_commit_version", F.lit(v))
            out = part if out is None else out.unionByName(part)
        if out is None:
            raise RuntimeError("no changes in range")
        return out

    def merge(
        self,
        source: DataFrame,
        key: str,
        delete_condition: F.Column | None = None,
    ) -> int:
        """MERGE ``source`` in; rewrite only files containing matched
        keys.  Returns the new version number.

        On an empty table the first merge is :meth:`create`: no
        persist, no key probe, and an empty ``source`` still writes a
        schema-only file, so the table exists from the first batch on.

        Merge keys must be NON-NULL on both sides (every caller keys on
        a generated id).  File pruning matches keys null-unsafely while
        the annotated join is null-safe, so a NULL-key row's
        classification would depend on which path it lands in (r13
        ADVICE) — not a supported input.

        The source plan is evaluated as few times as possible — it is
        often expensive (a per-micro-batch match against accumulated
        state) and a naive implementation re-runs it for the key probe,
        the snapshot write and each of the changelog's four branches:

        * the source is persisted for the duration of the merge unless
          the caller already cached it;
        * when NO stored key matches (the common pure-insert case of
          every streaming-ingest batch), the full-outer join is skipped
          outright — every source row is an insert, so the snapshot
          files are written straight from the source and the changelog
          is those freshly-written files read back with an ``insert``
          label (byte-identical rows, zero recompute);
        * otherwise the annotated join is persisted once and snapshot +
          changelog both derive from the cache.
        """
        version = self.latest_version()
        if version == 0:
            return self.create(source)
        old_files = self._read_manifest(version)["files"]

        from pyspark import StorageLevel

        own_cache = source.storageLevel == StorageLevel.NONE
        if own_cache:
            source = source.persist()
        try:
            target = self.spark.read.parquet(*old_files).withColumn(
                "_file", F.col("_metadata.file_path")
            )
            # Names AND types (r13 ADVICE): the pure-insert fast path
            # writes source rows cast to the stored types, and a type
            # mismatch there would silently narrow (long→int overflow)
            # where the join path used to widen.  simpleString ignores
            # nullability metadata, which parquet round-trips loosely.
            t_fields = [
                (f.name, f.dataType.simpleString())
                for f in target.schema.fields[:-1]
            ]
            s_fields = [
                (f.name, f.dataType.simpleString())
                for f in source.schema.fields
            ]
            if t_fields != s_fields:
                raise ValueError(
                    f"target/source schemas must align: {t_fields} != {s_fields}"
                )
            keys = source.select(key).distinct()
            # File pruning: a file is "touched" iff it holds a matched key.
            # _metadata.file_path is a URI (file:///...); compare on the
            # normalized local path.
            touched_uris = [
                r["_file"]
                for r in target.join(keys, key, "left_semi")
                .select("_file")
                .distinct()
                .collect()
            ]
            from urllib.parse import urlparse

            # Hadoop renders the scheme as file:/p, file://p or file:///p
            # depending on path depth; urlparse().path normalizes them all.
            touched_paths = {urlparse(u).path for u in touched_uris}
            kept_files = [
                f for f in old_files if os.path.abspath(f) not in touched_paths
            ]
            cols = source.columns
            changes_dir = os.path.join(self.path, "_changes", f"v{version + 1}")

            if not touched_uris:
                # Pure insert: no stored key matches any source key, so
                # merge_changes would classify every source row 'insert'
                # and the snapshot partition IS the source (cast to the
                # table's column types, as the join's type coercion
                # would have done).
                tgt_types = {
                    f.name: f.dataType
                    for f in target.drop("_file").schema.fields
                }
                aligned = source.select(
                    *[F.col(c).cast(tgt_types[c]).alias(c) for c in cols]
                )
                new_files = self._new_data_files(aligned)
                if new_files:
                    changelog = self.spark.read.parquet(*new_files).withColumn(
                        CHANGE_COL, F.lit("insert")
                    )
                else:  # empty source still commits an (empty) changelog
                    changelog = aligned.withColumn(CHANGE_COL, F.lit("insert"))
                changelog.write.mode("overwrite").parquet(changes_dir)
            else:
                touched_target = target.filter(
                    F.col("_file").isin(touched_uris)
                ).drop("_file")
                annotated = _annotate_merge(
                    touched_target, source, key, delete_condition=delete_condition
                ).persist()
                try:
                    new_files = self._new_data_files(
                        _snapshot_from(annotated, cols)
                    )
                    _changelog_from(annotated, cols).write.mode(
                        "overwrite"
                    ).parquet(changes_dir)
                finally:
                    annotated.unpersist()
            self._write_manifest(version + 1, kept_files + new_files)
        finally:
            if own_cache:
                source.unpersist()
        return version + 1

    def upsert_or(self, delta: DataFrame, key: str, bits_col: str = "bits") -> int:
        """OR-aggregate upsert specialized for bitmask tables (the Bloom
        filter's words table): the post-merge row for a key is
        ``target.bits | delta.bits``, so the generic MERGE machinery is
        unnecessary — and expensive, because a Bloom delta touches keys
        spread across EVERY stored file, which forces :meth:`merge`
        through its worst path per commit: a driver collect of touched
        files, a full-outer annotated join of the whole table, a
        persist, and a changelog derived from the annotation (guide
        §2.4 — remove shuffles/passes the semantics don't need).

        Byte-equivalent to ``merge(read() ∪ delta groupBy bit_or,
        key)`` — identical snapshot rows and identical changelog
        classification (``insert`` for new keys, ``update_preimage`` /
        ``update_postimage`` when the OR actually flips bits,
        unchanged rows suppressed; deletes impossible) — in exactly two
        jobs: one groupBy snapshot write and one delta-vs-stored join
        for the changelog.  No driver collect, no full-outer join over
        ``__t_*/__s_*`` doubled columns, no persist bookkeeping.
        Idempotent like the OR itself: re-applying a delta yields an
        empty changelog and an identical snapshot.  On an empty table
        the first upsert is :meth:`create`, as in :meth:`merge`.
        """
        version = self.latest_version()
        if version == 0:
            return self.create(delta)
        old_files = self._read_manifest(version)["files"]
        target = self.spark.read.parquet(*old_files)
        cols = target.columns
        if cols != delta.columns or set(cols) != {key, bits_col}:
            raise ValueError(
                "upsert_or expects exactly (key, bits) columns on both sides"
            )

        delta = delta.persist()  # filter-sized: ≤ m_bits/32 rows
        try:
            snapshot = (
                target.unionByName(delta)
                .groupBy(key)
                .agg(F.bit_or(bits_col).alias(bits_col))
                .select(*cols)
            )
            new_files = self._new_data_files(snapshot)

            old_bits = F.col(f"t.{bits_col}")
            new_bits = F.col(f"d.{bits_col}")
            merged_bits = old_bits.bitwiseOR(new_bits)
            joined = delta.alias("d").join(
                target.alias("t"), F.col(f"d.{key}") == F.col(f"t.{key}"), "left"
            )
            inserts = joined.filter(F.col(f"t.{key}").isNull()).select(
                F.col(f"d.{key}").alias(key),
                new_bits.alias(bits_col),
                F.lit("insert").alias(CHANGE_COL),
            )
            updated = joined.filter(
                F.col(f"t.{key}").isNotNull() & (merged_bits != old_bits)
            )
            pre = updated.select(
                F.col(f"d.{key}").alias(key),
                old_bits.alias(bits_col),
                F.lit("update_preimage").alias(CHANGE_COL),
            )
            post = updated.select(
                F.col(f"d.{key}").alias(key),
                merged_bits.alias(bits_col),
                F.lit("update_postimage").alias(CHANGE_COL),
            )
            changes_dir = os.path.join(self.path, "_changes", f"v{version + 1}")
            inserts.unionByName(pre).unionByName(post).write.mode(
                "overwrite"
            ).parquet(changes_dir)
            self._write_manifest(version + 1, new_files)
        finally:
            delta.unpersist()
        return version + 1

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Bin-pack small files into ~``target_file_bytes`` files.

        Every copy-on-write merge that touches few keys emits small
        files; left alone, a 100 TB table degrades into millions of
        them and scan planning (plus S3 LIST/GET overhead) dominates
        query time.  Compaction is a metadata-plus-rewrite operation:
        files at or above half the target are carried by reference,
        smaller ones are greedily binned first-fit-decreasing to the
        byte budget and each bin is rewritten as one file.  Data is
        byte-identical, so the commit writes NO changelog — CDC
        consumers see nothing, exactly like Delta's OPTIMIZE.

        Returns the new version (or the current one if there was
        nothing to compact).
        """
        version = self._committed_version()
        files = self._read_manifest(version)["files"]
        sized = [(f, os.path.getsize(f)) for f in files]
        keep = [f for f, sz in sized if sz >= target_file_bytes // 2]
        small = sorted(
            ((f, sz) for f, sz in sized if sz < target_file_bytes // 2),
            key=lambda x: -x[1],
        )
        if len(small) <= 1:
            return version

        bins: list[tuple[list[str], int]] = []
        for f, sz in small:  # first-fit decreasing
            for b in bins:
                if b[1] + sz <= target_file_bytes:
                    b[0].append(f)
                    bins[bins.index(b)] = (b[0], b[1] + sz)
                    break
            else:
                bins.append(([f], sz))

        new_files: list[str] = []
        for members, _ in bins:
            if len(members) == 1:  # nothing gained by rewriting a lone file
                keep.extend(members)
                continue
            df = self.spark.read.parquet(*members).coalesce(1)
            new_files.extend(self._new_data_files(df))
        if not new_files:
            return version
        self._write_manifest(version + 1, keep + new_files)
        return version + 1

    def vacuum(self, retain_last: int = 1) -> int:
        """Delete data files referenced only by expired snapshots.

        Keeps the newest ``retain_last`` manifests readable (time
        travel inside the retention window still works); every parquet
        file under ``files/`` that none of them references is deleted,
        and the expired manifests are removed so ``read(version=old)``
        fails fast instead of resolving to missing files.  Changelogs
        are NOT touched — CDC history stays replayable.

        Returns the number of data files deleted.
        """
        latest = self._committed_version()
        retained = range(max(1, latest - retain_last + 1), latest + 1)
        referenced = set()
        for v in retained:
            referenced.update(os.path.abspath(f) for f in self._read_manifest(v)["files"])

        deleted = 0
        files_root = os.path.join(self.path, "files")
        for sub in os.listdir(files_root):
            d = os.path.join(files_root, sub)
            for f in os.listdir(d):
                p = os.path.join(d, f)
                if f.endswith(".parquet") and os.path.abspath(p) not in referenced:
                    os.remove(p)
                    deleted += 1
            if not any(f.endswith(".parquet") for f in os.listdir(d)):
                for f in os.listdir(d):  # _SUCCESS, .crc leftovers
                    os.remove(os.path.join(d, f))
                os.rmdir(d)
        for v in range(1, retained.start):
            m = os.path.join(self._manifest_dir(), f"v{v}.json")
            if os.path.exists(m):
                os.remove(m)
        return deleted

    def stream_upsert(
        self,
        stream: DataFrame,
        key: str,
        order_by: str | None = None,
        delete_condition: F.Column | None = None,
    ):
        """CDC-apply a stream: each micro-batch is MERGEd into the
        table, so replayed keys UPDATE in place instead of appending —
        the standard "apply Debezium/CDC feed to the lake" pattern,
        with the micro-batch boundary as the transaction.

        A batch may carry several versions of one key; ``order_by``
        names the column whose per-key maximum wins (arrival order is
        meaningless after a shuffle).  Without it the batch must be
        unique per key.  Stream columns beyond the table's schema
        (sequence numbers, CDC metadata) are dropped after the winner
        is picked.  Returns the ``DataStreamWriter`` — caller adds
        trigger/checkpoint and starts it.
        """
        table_cols = self.read().columns

        def process(batch_df: DataFrame, batch_id: int) -> None:
            src = batch_df
            if order_by is not None:
                from pyspark.sql.window import Window

                w = Window.partitionBy(key).orderBy(F.col(order_by).desc())
                src = (
                    batch_df.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            src = src.select(*table_cols)
            if src.isEmpty():
                return
            self.merge(src, key, delete_condition=delete_condition)

        return stream.writeStream.foreachBatch(process)
