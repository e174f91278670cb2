"""Stage-table catalog: Iceberg when available, Parquet + JSON manifest
otherwise — one seam so cluster deployments flip a config.

Plays the role the reference delegates to materialized JSON intermediates
(reference src/transform_zeshel.py:18-22 written, src/zeshel_dataset.py:50
re-read) and PyTorch-Lightning checkpoints (src/train_zeshel.py:44-51):
every pipeline stage lands in a table with a snapshot id, so a failed run
resumes from the last complete stage instead of recomputing.

Iceberg path: requires the runtime jar + a configured catalog
(spark.sql.catalog.* with iceberg); then tables are real Iceberg tables
with native snapshots.  Fallback path (this sandbox): Parquet directories
under ``root`` plus ``_manifest.json`` carrying {stage → snapshot_id,
rows, schema, complete} — same API either way.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        for key in ("spark.sql.catalog.spark_catalog", "spark.sql.catalog.local"):
            val = spark.conf.get(key, "") or ""
            if "iceberg" in val.lower():
                return True
    except Exception:
        pass
    return False


def _hidden(name: str) -> bool:
    """Spark's file-index filter: ``_``/``.``-prefixed names (``_SUCCESS``,
    ``.crc`` sidecars, ``_metadata``) are not data, except ``_col=v``
    partition directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _footer_counts(path: str) -> list[tuple[str, int]]:
    """[(file, rows)] for every data file Spark's parquet reader would read
    under ``path`` — recursive, so ``partitionBy`` sub-directories count —
    with each row count read from the file's parquet footer.  The catalog's
    one way of counting what it wrote on the parquet branch: no Spark job,
    one footer read per file."""
    import pyarrow.parquet as pq

    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if not _hidden(d))
        for fn in sorted(filenames):
            if not _hidden(fn):
                f = os.path.join(dirpath, fn)
                out.append((f, pq.read_metadata(f).num_rows))
    return out


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.use_iceberg = iceberg_available(spark)
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_manifest.json")

    # -- manifest -----------------------------------------------------------
    def _manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {}

    def _save_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def _manifest_lock(self):
        """Exclusive advisory lock for the manifest READ-MODIFY-WRITE
        cycle (VERDICT r04 #4): ``os.replace`` makes each save atomic,
        but two concurrent writers (two streams appending to different
        stages, a stream plus a batch append) interleaving
        read→mutate→save were last-writer-wins — one stage's update
        silently vanished.  ``flock`` binds to the open file description,
        so it serializes both threads of one driver and separate driver
        processes on POSIX filesystems (same constraint family as the
        parquet append path; on object stores deploy Iceberg, whose
        snapshot commit is the atomic primitive)."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def lock():
            with open(self._manifest_path + ".lock", "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lf, fcntl.LOCK_UN)

        return lock()

    def _update_manifest(self, name: str, mutate) -> dict:
        """Atomically apply ``mutate(entry_or_None) -> entry`` to one
        stage's manifest record under the manifest lock."""
        with self._manifest_lock():
            m = self._manifest()
            entry = mutate(m.get(name))
            m[name] = entry
            self._save_manifest(m)
            return entry

    @staticmethod
    def _seed_base_rows(entry: dict) -> None:
        """Unified growth accounting (ADVICE r04): every entry carries
        ``base_rows`` (rows written by the last full ``write()``), and
        ``rows`` is always base_rows + Σ appends + Σ batches, whichever
        growth modes touched the stage.  Migration for pre-r5 records:
        sink-only stages carried any pre-existing rows as
        ``batches["legacy"]`` (so base_rows seeds to 0 — the batches sum
        already counts them); write()-only stages carried them as
        ``rows``."""
        if "base_rows" not in entry:
            grew = entry.get("batches") or entry.get("appends")
            entry["base_rows"] = 0 if grew else int(entry.get("rows") or 0)

    @staticmethod
    def _recount(entry: dict) -> None:
        entry["rows"] = (
            int(entry.get("base_rows") or 0)
            + sum(entry.get("appends", {}).values())
            + sum(entry.get("batches", {}).values())
        )

    def _iceberg_columns(self, name: str) -> list | None:
        """Column names of the live Iceberg table, or None when the
        catalog lookup is unavailable (mocked writers in tests)."""
        try:
            return self.spark.table(f"local.db.{name}").columns
        except Exception:
            return None

    def _iceberg_table_exists(self, name: str) -> bool:
        """Create-vs-grow decision for the Iceberg branch keys on TABLE
        existence, not on the manifest alone (ADVICE r04: a lost manifest
        entry while the table exists must not let createOrReplace wipe
        it).  A DEFINITIVE catalog answer wins either way — in particular
        a definitive False (table dropped / warehouse recreated while the
        manifest root survived) must route to the create branch, not to
        grow-by-overwrite on a nonexistent table.  The manifest is the
        fallback signal only when the lookup itself RAISES (mocked tests
        / misconfigured catalog — in this sandbox `local.db.*` parsing
        raises, which is what keeps the mocked replay tests on the
        manifest path)."""
        try:
            return bool(self.spark.catalog.tableExists(f"local.db.{name}"))
        except Exception:
            return bool(self._manifest().get(name))

    # -- table IO -----------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> str:
        """Write a stage table; returns its snapshot id and records
        per-data-file lineage metrics (north rule).

        Parquet branch: post-write accounting runs NO Spark job.  The
        row count of every data file the reader will see is taken from
        its parquet footer (``_footer_counts``); the manifest row count
        is their sum and the per-file counts are the lineage table,
        written on the driver.  Iceberg branch: one scan of the written
        table counts rows per read partition."""
        if self.use_iceberg:
            # helper columns stamped on EVERY Iceberg write path (write /
            # append / streaming sink — ADVICE r04): tagged appends
            # overwrite by __append_tag and the sink by __batch_id, so
            # the columns must exist no matter which mode created the
            # table; read() drops them.
            stamped = df.withColumn(
                "__append_tag", F.lit(None).cast("string")
            ).withColumn("__batch_id", F.lit(None).cast("long"))
            writer = stamped.writeTo(f"local.db.{name}").using("iceberg")
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.createOrReplace()
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(name))
        try:
            # drop any persisted plans over the old table contents — the
            # CacheManager would otherwise substitute them into later
            # readers, the Iceberg count below included (see append)
            if self.use_iceberg:
                self.spark.catalog.refreshTable(f"local.db.{name}")
            else:
                self.spark.catalog.refreshByPath(self._path(name))
        except Exception:
            pass  # mocked writers in tests have no real table to refresh

        snapshot_id = f"{name}-{int(time.time() * 1000)}"
        if self.use_iceberg:
            per_part = [
                (r["partition_id"], r["rows"], None)
                for r in self.read(name)
                .withColumn("partition_id", F.spark_partition_id())
                .groupBy("partition_id")
                .agg(F.count("*").alias("rows"))
                .collect()
            ]
            rows = sum(n for _, n, _ in per_part)
            self._write_lineage_metrics(name, snapshot_id, per_part)
        else:
            rows = self._parquet_lineage(name, snapshot_id)
        self._update_manifest(
            name,
            lambda _old: {
                "snapshot_id": snapshot_id,
                "rows": rows,
                "base_rows": rows,
                "schema": df.schema.simpleString(),
                "complete": True,
            },
        )
        return snapshot_id

    def _parquet_lineage(self, name: str, snapshot_id: str) -> int:
        """Footer-count every data file of parquet stage ``name``, record
        the counts as its lineage, and return their sum.  Driver-only: one
        footer read per file, no Spark job."""
        path = self._path(name)
        files = _footer_counts(path)
        self._write_lineage_metrics(
            name,
            snapshot_id,
            [(i, n, os.path.relpath(f, path)) for i, (f, n) in enumerate(files)],
        )
        return sum(n for _, n in files)

    def _write_lineage_metrics(self, name: str, snapshot_id: str, per_part) -> None:
        """Lineage row counts for the stage table — the metric the north
        rule requires per stage.  ``per_part`` is the driver-side
        [(partition_id, rows, file)] list; the table is a few rows, so it
        is written with pyarrow on the driver, never as a Spark job.  The
        file lands via a hidden temp name + ``os.replace``, so a reader
        never sees a half-written table."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        ids, counts, files = zip(*per_part) if per_part else ((), (), ())
        table = pa.table(
            {
                "partition_id": pa.array(ids, pa.int32()),
                "rows": pa.array(counts, pa.int64()),
                "stage": pa.array([name] * len(ids), pa.string()),
                "snapshot_id": pa.array([snapshot_id] * len(ids), pa.string()),
                "file": pa.array(files, pa.string()),
            }
        )
        out = os.path.join(self.root, "_metrics", name)
        os.makedirs(out, exist_ok=True)
        tmp = os.path.join(out, f".{uuid.uuid4().hex}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, "lineage.parquet"))
        for fn in os.listdir(out):
            # part files of a lineage table Spark wrote before
            if fn != "lineage.parquet" and not _hidden(fn):
                os.remove(os.path.join(out, fn))

    def _land_parquet(
        self, name: str, df: DataFrame, prefix: str, snapshot_id: str
    ) -> int:
        """Growth primitive of the parquet branch (``append`` and the
        streaming sink): land ``df`` as stage ``name``'s
        ``{prefix}-NNNNN.parquet`` files, replacing any earlier files under
        that prefix, and re-record the stage's lineage.  Returns the rows
        landed, summed from the part files' footers before the move — no
        persist, no count job.  The files go through a scratch dir and
        POSIX ``os.replace`` (local/NFS/HDFS-mounted paths only; see
        ``foreach_batch_sink``)."""
        import glob
        import shutil

        path = self._path(name)
        os.makedirs(path, exist_ok=True)
        scratch = path + f".__{prefix}.inprogress"
        try:
            df.write.mode("overwrite").parquet(scratch)
            parts = _footer_counts(scratch)
            for old in glob.glob(os.path.join(path, f"{prefix}-*.parquet")):
                os.remove(old)
            for i, (p, _) in enumerate(parts):
                os.replace(p, os.path.join(path, f"{prefix}-{i:05d}.parquet"))
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        self._parquet_lineage(name, snapshot_id)
        return sum(n for _, n in parts)

    def append(self, name: str, df: DataFrame, tag: str | None = None) -> str:
        """Append rows to a stage table (creating it if absent); returns
        the new snapshot id.  The batch-side growth primitive behind
        incremental pipelines (dedup.absorb_novel_into_stage): extend a
        checkpointed table by an increment without rewriting the corpus.

        ``tag`` makes the append IDEMPOTENT per tag (streaming replay
        protection, streaming/dedup_stream.py): a tagged append REPLACES
        any previous append with the same tag — parquet: deterministic
        ``t{tag}-NNNNN.parquet`` names, stale files removed first;
        Iceberg: overwrite-by-filter on a ``__append_tag`` column — and
        its row count replaces the tag's manifest entry instead of
        accumulating.

        Iceberg branch: ``writeTo(...).append()`` — one atomic snapshot
        commit, object-store safe.  Parquet fallback: the increment lands
        at uniquely-prefixed file names via a scratch dir + POSIX
        ``os.replace`` (same local-path constraint as
        ``foreach_batch_sink``; deploy Iceberg on object stores).

        Accounting: manifest rows += increment count.  Parquet branch: the
        count is summed from the footers of the increment's part files
        (``_footer_counts`` on the scratch dir, before the move) — zero
        scans, no persist — and the stage's per-file lineage (_metrics)
        is re-recorded from the footers after the move (driver-side, one
        footer read per file).  Iceberg branch: one count over the
        persisted increment; its lineage is refreshed by ``write()`` only.

        Cache coherence: the append ends with ``refreshByPath`` — without
        it, any PERSISTED plan over this stage (e.g. the previous
        increment's tracked band-key stream) is silently substituted by
        Spark's CacheManager into later reads of the same path, serving
        the pre-append file listing (measured: increment C missed every
        doc absorbed from increment B)."""
        import uuid

        seq = int(time.time() * 1000)
        # untagged prefix carries a uuid suffix: two untagged appends in
        # the same millisecond (or from concurrent drivers) must never
        # share a prefix — the glob cleanup would delete the earlier
        # increment's files (ADVICE r04)
        prefix = f"t{tag}" if tag is not None else f"a{seq}-{uuid.uuid4().hex[:8]}"
        snapshot = f"{name}-{prefix}-{seq}"
        if self.use_iceberg:
            df.persist()
            try:
                n = df.count()
                table = f"local.db.{name}"
                # __append_tag/__batch_id stamped on every write path so
                # any growth-mode mix keeps one table schema (ADVICE r04)
                tagged = df.withColumn(
                    "__append_tag", F.lit(tag).cast("string")
                ).withColumn("__batch_id", F.lit(None).cast("long"))
                if not self._iceberg_table_exists(name):
                    tagged.writeTo(table).using("iceberg").createOrReplace()
                else:
                    # a table created BEFORE helper-column stamping has
                    # no __append_tag/__batch_id; v2 by-name writes
                    # reject extra data columns, so align to the live
                    # table schema (tagged appends REQUIRE the column —
                    # evolve the schema via a full write() first)
                    existing = set(self._iceberg_columns(name) or [])
                    out = tagged
                    if existing:
                        missing = [
                            c for c in ("__append_tag", "__batch_id")
                            if c not in existing
                        ]
                        # only the TAG column is load-bearing for a
                        # tagged append (the overwrite filter needs it);
                        # a table with __append_tag but no __batch_id —
                        # what the pre-r5 tagged-append path created —
                        # appends fine after dropping the batch column
                        if "__append_tag" in missing and tag is not None:
                            raise ValueError(
                                f"stage '{name}' predates append-tag "
                                "stamping (no __append_tag column); run a "
                                "full write() to migrate before tagged "
                                "appends"
                            )
                        out = tagged.drop(*missing)
                    if tag is not None:
                        out.writeTo(table).overwrite(
                            F.col("__append_tag") == F.lit(tag)
                        )
                    else:
                        out.writeTo(table).append()
            finally:
                df.unpersist()
        else:
            n = self._land_parquet(name, df, prefix, snapshot)
        try:
            if self.use_iceberg:
                self.spark.catalog.refreshTable(f"local.db.{name}")
            else:
                self.spark.catalog.refreshByPath(self._path(name))
        except Exception:
            pass  # mocked writers in tests have no real table to refresh

        def mutate(entry):
            entry = entry or {"schema": df.schema.simpleString(), "rows": 0}
            self._seed_base_rows(entry)
            entry.setdefault("appends", {})[
                str(tag) if tag is not None else prefix
            ] = n
            self._recount(entry)
            entry["snapshot_id"] = snapshot
            entry["complete"] = True
            return entry

        self._update_manifest(name, mutate)
        return snapshot

    def foreach_batch_sink(self, name: str):
        """Structured-Streaming bridge: a ``foreachBatch`` function that
        appends each micro-batch into stage ``name`` and keeps the
        manifest's row count/snapshot current, so streaming ingest lands
        in the same resumable stage tables the batch pipeline reads
        (engine addition — the reference is pure batch, SURVEY §2.8).

        IDEMPOTENT under foreachBatch's at-least-once replay (ADVICE r02).
        Iceberg branch (the real seam): each batch is tagged with a
        ``__batch_id`` column and lands via ``writeTo(...).overwrite(
        __batch_id == batch_id)`` — Iceberg's atomic overwrite-by-filter
        replaces any previous attempt of the SAME batch in one snapshot
        commit, which is the object-store-safe idempotence primitive
        (first batch creates the table).  Parquet fallback: the batch
        lands at batch-id-DETERMINISTIC file names — written to a scratch
        dir, then part files moved to ``b{batch_id}-NNNNN.parquet`` after
        removing any files from a previous attempt of the same batch id.
        A stream that dies at any point (mid-move, after the data landed
        but before the checkpoint committed, …) re-delivers the batch on
        restart, and the replay converges to exactly one copy — a plain
        ``mode("append")`` would duplicate the rows.

        CONSTRAINT (VERDICT r03 #3): the Parquet fallback's idempotence
        rests on POSIX atomic rename (``os.replace``) and local ``glob``,
        which object stores do not provide — it is correct for
        local/NFS/HDFS-mounted paths only.  On S3/GCS deploy the Iceberg
        branch, whose snapshot commit IS the atomic primitive.

        Per-batch row counts live in the manifest (``batches``), so the
        stage row count is replay-proof (sum over batch ids, not a
        running add).  Streaming into a stage previously written by the
        batch ``write()`` path seeds ``batches["legacy"]`` with the
        recorded row count — the pre-existing rows stay readable and
        counted (ADVICE r03 migration gap).

        Each batch costs one write.  Parquet branch: the batch's row
        count is summed from its part files' footers before the move (no
        persist, no count job) and the per-file lineage is re-recorded,
        as in ``append``; Iceberg branch: one count over the PERSISTED
        batch.  The snapshot id records the micro-batch id, and
        `complete` stays true after every batch so a killed stream
        resumes from both the stream checkpoint AND a readable stage."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if self.use_iceberg:
                batch_df.persist()
                try:
                    tagged = batch_df.withColumn(
                        "__batch_id", F.lit(batch_id)
                    ).withColumn("__append_tag", F.lit(None).cast("string"))
                    table = f"local.db.{name}"
                    if not self._iceberg_table_exists(name):
                        tagged.writeTo(table).using("iceberg").createOrReplace()
                    else:
                        # same pre-stamping migration guard as append():
                        # a table created before helper-column stamping
                        # rejects the extra data columns mid-stream with
                        # a cryptic analysis error; the sink's idempotence
                        # REQUIRES __batch_id, so fail with the migration
                        # instruction instead
                        existing = set(self._iceberg_columns(name) or [])
                        out = tagged
                        if existing:
                            missing = [
                                c for c in ("__append_tag", "__batch_id")
                                if c not in existing
                            ]
                            if "__batch_id" in missing:
                                raise ValueError(
                                    f"stage '{name}' predates batch-id "
                                    "stamping (no __batch_id column); run a "
                                    "full write() to migrate before "
                                    "streaming into it"
                                )
                            out = tagged.drop(*missing)
                        out.writeTo(table).overwrite(
                            F.col("__batch_id") == F.lit(batch_id)
                        )
                    n = batch_df.count()
                finally:
                    batch_df.unpersist()
            else:
                n = self._land_parquet(
                    name, batch_df, f"b{batch_id}", f"{name}-b{batch_id}"
                )

            def mutate(entry):
                entry = entry or {
                    "schema": batch_df.schema.simpleString(),
                    "complete": True,
                }
                # unified accounting (ADVICE r04): base_rows carries any
                # pre-existing write() rows, and the count is always
                # base_rows + Σ appends + Σ batches — so mixing append()
                # and the streaming sink on one stage stays consistent
                self._seed_base_rows(entry)
                entry.setdefault("batches", {})[str(batch_id)] = n
                self._recount(entry)
                entry["snapshot_id"] = f"{name}-b{batch_id}"
                entry["complete"] = True
                return entry

            self._update_manifest(name, mutate)

        return sink

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            # drop the growth-mode helper columns stamped by write /
            # append / the streaming sink (no-op when absent)
            return self.spark.read.table(f"local.db.{name}").drop(
                "__append_tag", "__batch_id"
            )
        return self.spark.read.parquet(self._path(name))

    @property
    def _bucket_db(self) -> str:
        """Per-root database name: CREATE DATABASE IF NOT EXISTS is a
        no-op on an existing name, so a shared name would pin EVERY
        catalog's bucketed tables to whichever root ran first in the
        session (and collide stage names across catalogs).  Deriving
        the name from the root keeps each workdir's warehouse under its
        own root, as the docstring promises."""
        import hashlib

        return "el_stages_" + hashlib.md5(
            os.path.abspath(self.root).encode()
        ).hexdigest()[:10]

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: list[str],
        num_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Bucketed stage table — the executable form of SCALE.md's
        co-located-join layout: two stages bucketed on the same key with
        the same bucket count join WITHOUT an exchange on either side
        (Spark reads each bucket pair co-located; the sortBy makes the
        sort-merge join's sort a no-op too).  At 100 TB this removes the
        biggest repeated cost of iterating on a pair table: re-shuffling
        both inputs on every run of every downstream join on that key.

        Implemented via the session catalog (``bucketBy`` requires
        ``saveAsTable``); the backing database lives under the catalog
        root, so no state escapes the workdir.  Returns the snapshot id
        and records the same manifest accounting as ``write``."""
        db = self._bucket_db
        wh = os.path.join(os.path.abspath(self.root), "_warehouse")
        self.spark.sql(
            f"CREATE DATABASE IF NOT EXISTS `{db}` LOCATION '{wh}'"
        )
        # backtick-quoted: stage names valid for the path-based APIs
        # (e.g. 'pairs-v2') must work here too
        (
            df.write.format("parquet").mode("overwrite")
            .bucketBy(num_buckets, *bucket_cols)
            .sortBy(*(sort_cols or bucket_cols))
            .saveAsTable(f"`{db}`.`{name}`")
        )
        self.spark.catalog.refreshTable(f"`{db}`.`{name}`")
        rows = self.spark.table(f"`{db}`.`{name}`").count()
        snapshot_id = f"{name}-{int(time.time() * 1000)}"

        def mutate(_entry):
            return {
                "snapshot_id": snapshot_id,
                "rows": rows,
                "base_rows": rows,
                "complete": True,
                "kind": "bucketed_table",
                "bucket_cols": list(bucket_cols),
                "num_buckets": num_buckets,
            }

        self._update_manifest(name, mutate)
        return snapshot_id

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed stage table with its bucket metadata intact
        (``spark.table``, not a raw parquet path — a path read would
        discard the bucket spec and reintroduce the exchange)."""
        return self.spark.table(f"`{self._bucket_db}`.`{name}`")

    def read_metrics(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_metrics", name))

    def manifest_entry(self, name: str) -> dict:
        """The stage's manifest record (snapshot id, rows, appends,
        batches, complete) — {} when the stage doesn't exist."""
        return self._manifest().get(name) or {}

    def is_complete(self, name: str) -> bool:
        entry = self._manifest().get(name)
        return bool(entry and entry.get("complete"))

    def snapshot_id(self, name: str) -> str | None:
        entry = self._manifest().get(name)
        return entry.get("snapshot_id") if entry else None

    def invalidate(self, name: str) -> None:
        with self._manifest_lock():
            m = self._manifest()
            if name in m:
                m[name]["complete"] = False
                self._save_manifest(m)

    def get_or_compute(self, name: str, compute, resume: bool = True) -> DataFrame:
        """Resume seam: reuse the stage table when complete, else compute,
        persist, and return the persisted copy (so downstream stages read
        the checkpoint, cutting lineage)."""
        if resume and self.is_complete(name):
            return self.read(name)
        self.write(name, compute())
        return self.read(name)
