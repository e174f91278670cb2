"""Catalog stage-table accounting: footer-derived manifest rows and
lineage, and the Iceberg writer branch (mocked — no jar in the sandbox)."""

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.sources.catalog import Catalog


def test_write_never_rereads_stage_table(spark, tmp_path, monkeypatch):
    """write() on the parquet branch takes the manifest row count AND the
    lineage metrics from the footers of the files it just wrote: no
    re-read of the stage table, and no ``createDataFrame`` job for the
    lineage table."""
    cat = Catalog(spark, str(tmp_path))
    reads = []
    orig_read = cat.read

    def counting_read(name):
        reads.append(name)
        return orig_read(name)

    def no_create(*args, **kwargs):
        raise AssertionError("lineage must not go through createDataFrame")

    cat.read = counting_read
    df = spark.range(100).withColumn("k", (F.col("id") % 3).cast("int"))
    monkeypatch.setattr(spark, "createDataFrame", no_create)
    cat.write("stage1", df)
    monkeypatch.undo()

    assert reads == []
    assert cat._manifest()["stage1"]["rows"] == 100
    metrics = cat.read_metrics("stage1")
    assert metrics.agg(F.sum("rows")).first()[0] == 100
    cols = set(metrics.columns)
    assert {"partition_id", "rows", "stage", "snapshot_id"} <= cols


def test_write_partitioned_parquet_and_resume(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(50).withColumn("k", (F.col("id") % 2).cast("int"))
    snap = cat.write("staged", df, partition_by=["k"])
    assert cat.is_complete("staged")
    assert cat.snapshot_id("staged") == snap
    got = cat.read("staged")
    assert got.count() == 50
    # resume: get_or_compute must NOT recompute a complete stage
    called = []

    def compute():
        called.append(1)
        return df

    out = cat.get_or_compute("staged", compute, resume=True)
    assert out.count() == 50 and not called


@pytest.mark.parametrize("case", ["plain", "partition_by", "empty", "append"])
def test_footer_accounting_matches_table(spark, tmp_path, case):
    """Manifest rows == lineage row sum == a real count of the table, for
    every shape the parquet branch writes: flat, ``partitionBy``
    sub-directories (nested data files), an empty frame, and an append
    on top of a write."""
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(57).withColumn("k", (F.col("id") % 3).cast("int"))
    if case == "plain":
        cat.write("s", df.repartition(3))
    elif case == "partition_by":
        cat.write("s", df, partition_by=["k"])
    elif case == "empty":
        cat.write("s", df.where("id < 0"))
    else:
        cat.write("s", df)
        cat.append("s", df.limit(5), tag="inc")
    expected = {"plain": 57, "partition_by": 57, "empty": 0, "append": 62}[case]

    metrics = cat.read_metrics("s")
    lineage = metrics.collect()
    assert cat.manifest_entry("s")["rows"] == expected
    assert sum(r["rows"] for r in lineage) == expected
    assert cat.read("s").count() == expected
    assert {"partition_id", "rows", "stage", "snapshot_id", "file"} <= set(
        metrics.columns
    )
    assert {r["snapshot_id"] for r in lineage} <= {cat.snapshot_id("s")}
    if case == "partition_by":
        assert lineage and all(r["file"].startswith("k=") for r in lineage)


class _FakeWriter:
    def __init__(self, rec):
        self.rec = rec

    def using(self, fmt):
        self.rec["using"] = fmt
        return self

    def partitionedBy(self, *cols):
        self.rec["partitioned_by"] = len(cols)
        return self

    def createOrReplace(self):
        self.rec["created"] = True


class _FakeIcebergDF:
    def __init__(self, rec, schema):
        self.rec = rec
        self.schema = schema

    def withColumn(self, name, col):
        self.rec.setdefault("stamped", []).append(name)
        return self

    def writeTo(self, table):
        self.rec["table"] = table
        return _FakeWriter(self.rec)


def test_iceberg_branch_forwards_partition_by_and_counts_rows(spark, tmp_path):
    """The Iceberg writer must receive partitionedBy() and the manifest
    must record real row counts (r01 left rows=None and dropped
    partition_by on this branch)."""
    cat = Catalog(spark, str(tmp_path))
    cat.use_iceberg = True
    backing = spark.range(10).withColumn("k", (F.col("id") % 2).cast("int"))
    cat.read = lambda name: backing  # stand-in for spark.read.table
    rec = {}
    fake = _FakeIcebergDF(rec, backing.schema)
    cat.write("ice_stage", fake, partition_by=["k"])

    assert rec["table"] == "local.db.ice_stage"
    assert rec["using"] == "iceberg"
    assert rec["partitioned_by"] == 1
    assert rec["created"] is True
    # growth-mode helper columns stamped on the batch-write path too, so
    # any later tagged append / streaming batch shares the table schema
    assert rec["stamped"] == ["__append_tag", "__batch_id"]
    assert cat._manifest()["ice_stage"]["rows"] == 10


def test_foreach_batch_sink_idempotent_replay(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed (batch_df, batch_id)
    must not duplicate rows or inflate the manifest count (ADVICE r02 —
    the old mode("append") sink did both).  Batch files land at
    batch-id-deterministic names, so the replay overwrites itself."""
    cat = Catalog(spark, str(tmp_path / "stages"))
    sink = cat.foreach_batch_sink("s")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    sink(df, 0)
    sink(df, 0)  # restart replays the uncommitted batch
    assert cat.read("s").count() == 2
    assert cat._manifest()["s"]["rows"] == 2

    sink(spark.createDataFrame([(3, "c")], "id long, v string"), 1)
    assert sorted(r["id"] for r in cat.read("s").collect()) == [1, 2, 3]
    assert cat._manifest()["s"]["rows"] == 3
    assert cat._manifest()["s"]["snapshot_id"] == "s-b1"

    sink(spark.createDataFrame([(3, "c")], "id long, v string"), 1)  # replay again
    assert cat.read("s").count() == 3
    assert cat._manifest()["s"]["rows"] == 3


class _FakeBatchWriter:
    """Stands in for DataFrameWriterV2 on the Iceberg branch: records the
    idempotence primitive used (createOrReplace vs overwrite-by-filter)
    and mutates a shared per-batch row store the way Iceberg's atomic
    snapshot commit would."""

    def __init__(self, store, n, calls):
        self.store, self.n, self.calls = store, n, calls

    def using(self, fmt):
        self.calls.append(("using", fmt))
        return self

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))
        self.store.clear()
        self.store["create"] = self.n

    def overwrite(self, cond):
        # overwrite-by-filter replaces exactly the rows matching the
        # batch-id predicate — keyed here by the predicate's rendering
        self.calls.append(("overwrite", str(cond)))
        self.store[str(cond)] = self.n


class _FakeStreamBatch:
    def __init__(self, df, store, calls):
        self._df, self.store, self.calls = df, store, calls
        self.schema = df.schema

    def persist(self):
        return self

    def unpersist(self):
        return self

    def count(self):
        return self._df.count()

    def withColumn(self, name, col):
        self.calls.append(("withColumn", name))
        return self

    def drop(self, *cols):
        self.calls.append(("drop", cols))
        return self

    def writeTo(self, table):
        self.calls.append(("writeTo", table))
        return _FakeBatchWriter(self.store, self._df.count(), self.calls)


def test_foreach_batch_sink_iceberg_branch_idempotent_replay(spark, tmp_path):
    """The Iceberg branch must use snapshot-commit idempotence (VERDICT
    r03 #3): first batch creates the table, later batches land via
    overwrite(__batch_id == id), and an at-least-once REPLAY of a batch
    converges to one copy of its rows (same overwrite key) — never a
    blind append."""
    from entity_linking_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "ice"))
    cat.use_iceberg = True
    sink = cat.foreach_batch_sink("s")
    store, calls = {}, []

    b0 = _FakeStreamBatch(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), store, calls)
    sink(b0, 0)
    assert ("using", "iceberg") in calls and ("createOrReplace",) in calls
    assert cat._manifest()["s"]["rows"] == 2

    b1 = _FakeStreamBatch(spark.createDataFrame([(3, "c")], "id long, v string"), store, calls)
    sink(b1, 1)
    assert sum(store.values()) == 3
    assert cat._manifest()["s"]["rows"] == 3
    assert cat._manifest()["s"]["snapshot_id"] == "s-b1"

    sink(b1, 1)  # replay of batch 1: same overwrite key → converges
    assert sum(store.values()) == 3, "replay duplicated rows in the table"
    assert cat._manifest()["s"]["rows"] == 3
    # every non-create batch used overwrite-by-filter on __batch_id
    overwrites = [c for c in calls if c[0] == "overwrite"]
    assert len(overwrites) == 2 and all("__batch_id" in c[1] for c in overwrites)


def test_foreach_batch_sink_aligns_to_pre_stamping_iceberg_table(spark, tmp_path):
    """Streaming into an Iceberg table created BEFORE helper-column
    stamping (append()'s twin guard): the sink's replay idempotence
    REQUIRES __batch_id, so a table lacking it must get the migration
    ValueError up front, not Spark's cryptic extra-data-columns error
    mid-stream; a table missing only __append_tag streams fine with the
    column dropped to match the live schema."""
    import pytest

    from entity_linking_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "ice"))
    cat.use_iceberg = True
    cat._iceberg_table_exists = lambda name: True
    sink = cat.foreach_batch_sink("legacy")

    cat._iceberg_columns = lambda name: ["id", "v"]  # pre-stamping schema
    with pytest.raises(ValueError, match="predates batch-id stamping"):
        sink(_FakeStreamBatch(
            spark.createDataFrame([(1, "a")], "id long, v string"), {}, []), 0)

    # only __append_tag missing → drop it and land via overwrite as usual
    cat._iceberg_columns = lambda name: ["id", "v", "__batch_id"]
    store, calls = {}, []
    sink(_FakeStreamBatch(
        spark.createDataFrame([(2, "b")], "id long, v string"), store, calls), 0)
    assert ("drop", ("__append_tag",)) in calls
    assert any(c[0] == "overwrite" and "__batch_id" in c[1] for c in calls)
    assert cat._manifest()["legacy"]["rows"] == 1


def test_foreach_batch_sink_migrates_legacy_batch_stage(spark, tmp_path):
    """Streaming into a stage first written by the batch write() path
    must keep counting the pre-existing rows (ADVICE r03: the old sink
    set rows = sum(batches) and silently dropped the legacy count while
    its part files were still read)."""
    from entity_linking_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "stages"))
    cat.write("s", spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    assert cat._manifest()["s"]["rows"] == 2

    sink = cat.foreach_batch_sink("s")
    sink(spark.createDataFrame([(3, "c")], "id long, v string"), 0)
    assert cat._manifest()["s"]["rows"] == 3
    # unified accounting (ADVICE r04): pre-existing write() rows live in
    # base_rows, rows = base_rows + Σ appends + Σ batches everywhere
    assert cat._manifest()["s"]["base_rows"] == 2
    assert cat._manifest()["s"]["batches"]["0"] == 1
    assert sorted(r["id"] for r in cat.read("s").collect()) == [1, 2, 3]

    sink(spark.createDataFrame([(3, "c")], "id long, v string"), 0)  # replay
    assert cat._manifest()["s"]["rows"] == 3
    assert cat.read("s").count() == 3


def test_cli_inspect_reads_manifest_and_lineage(spark, tmp_path, capsys):
    """cli.py inspect (reference inspect_checkpoint.py analogue) prints
    the manifest and a stage's per-data-file lineage without needing a
    SparkSession of its own."""
    import json

    from entity_linking_spark.cli import main as cli_main

    cat = Catalog(spark, str(tmp_path / "wd"))
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    cat.write("stage_a", df)

    rc = cli_main(["inspect", "--workdir", str(tmp_path / "wd"), "--stage", "stage_a"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["stages"]["stage_a"]["rows"] == 100
    assert out["stages"]["stage_a"]["complete"] is True
    lineage = out["lineage"]
    assert lineage and sum(r["rows"] for r in lineage) == 100
    assert all(r["stage"] == "stage_a" for r in lineage)


def test_concurrent_sinks_to_different_stages_keep_both_manifests(spark, tmp_path):
    """Two interleaved writers to DIFFERENT stages must not drop each
    other's manifest updates (VERDICT r04 #4: the read-modify-write cycle
    was last-writer-wins; the lock serializes it).  Interleaving is forced
    deterministically: each thread performs many small appends, so the
    read→mutate→save windows overlap constantly."""
    import threading

    cat = Catalog(spark, str(tmp_path / "stages"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    df.persist().count()
    errs = []

    def worker(stage, n_batches):
        try:
            sink = cat.foreach_batch_sink(stage)
            for b in range(n_batches):
                sink(df, b)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=(f"s{i}", 6)) for i in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    df.unpersist()
    assert not errs
    m = cat._manifest()
    for i in range(3):
        assert m[f"s{i}"]["rows"] == 6, m.get(f"s{i}")
        assert len(m[f"s{i}"]["batches"]) == 6


class _FakeAppendDF:
    """Wraps a real DataFrame for the Iceberg append branch: records
    withColumn/drop/writeTo calls, delegates count/schema."""

    def __init__(self, df, calls):
        self._df, self.calls = df, calls
        self.schema = df.schema

    def persist(self):
        return self

    def unpersist(self):
        return self

    def count(self):
        return self._df.count()

    def withColumn(self, name, col):
        self.calls.append(("withColumn", name))
        return self

    def drop(self, *cols):
        self.calls.append(("drop", tuple(cols)))
        return self

    def writeTo(self, table):
        calls = self.calls
        calls.append(("writeTo", table))

        class _W:
            def using(self, fmt):
                return self

            def createOrReplace(self):
                calls.append(("createOrReplace",))

            def append(self):
                calls.append(("append",))

            def overwrite(self, cond):
                calls.append(("overwrite", str(cond)))

        return _W()


def test_iceberg_append_aligns_to_pre_stamping_table_schema(spark, tmp_path):
    """Appending to an Iceberg table created BEFORE helper-column
    stamping (no __append_tag/__batch_id in its schema): v2 by-name
    appends reject extra data columns, so an untagged append must drop
    the helper columns to match the live table, and a tagged append —
    which NEEDS __append_tag for its overwrite-by-filter idempotence —
    must refuse with a migration message rather than fail inside Spark
    or silently lose replay protection."""
    import pytest

    cat = Catalog(spark, str(tmp_path / "ice"))
    cat.use_iceberg = True
    cat._iceberg_table_exists = lambda name: True
    cat._iceberg_columns = lambda name: ["id", "v"]  # pre-stamping schema

    calls = []
    fake = _FakeAppendDF(spark.createDataFrame([(1, "a")], "id long, v string"), calls)
    cat.append("legacy", fake)
    assert ("drop", ("__append_tag", "__batch_id")) in calls
    assert ("append",) in calls and ("overwrite" not in [c[0] for c in calls])

    with pytest.raises(ValueError, match="predates append-tag stamping"):
        cat.append("legacy", _FakeAppendDF(
            spark.createDataFrame([(2, "b")], "id long, v string"), []), tag="x")

    # a table with __append_tag but NO __batch_id — exactly what the
    # pre-r5 tagged-append path created — must accept a tagged append
    # (only the tag column is load-bearing for the overwrite filter),
    # dropping just the batch column
    cat._iceberg_columns = lambda name: ["id", "v", "__append_tag"]
    calls_mid = []
    cat.append("half", _FakeAppendDF(
        spark.createDataFrame([(9, "h")], "id long, v string"), calls_mid),
        tag="z")
    assert ("drop", ("__batch_id",)) in calls_mid
    assert any(c[0] == "overwrite" and "__append_tag" in c[1]
               for c in calls_mid)

    # a post-stamping table (helper columns present) appends unmodified
    cat._iceberg_columns = lambda name: ["id", "v", "__append_tag", "__batch_id"]
    calls2 = []
    cat.append("modern", _FakeAppendDF(
        spark.createDataFrame([(3, "c")], "id long, v string"), calls2), tag="y")
    assert ("drop", ()) in calls2  # nothing missing → no-op drop
    assert any(c[0] == "overwrite" and "__append_tag" in c[1] for c in calls2)


def test_untagged_appends_same_millisecond_never_collide(spark, tmp_path):
    """Untagged append prefixes are collision-proof (ADVICE r04): rapid
    successive untagged appends — many within one millisecond timestamp —
    must each keep their files and their manifest accounting."""
    cat = Catalog(spark, str(tmp_path / "stages"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    cat.write("s", df)
    for _ in range(5):
        cat.append("s", df)
    assert cat.read("s").count() == 6
    entry = cat._manifest()["s"]
    assert entry["rows"] == 6 and len(entry["appends"]) == 5


def test_mixed_append_and_sink_growth_accounting(spark, tmp_path):
    """Mixing append() and the streaming sink on ONE stage keeps rows =
    base_rows + Σ appends + Σ batches (ADVICE r04: the old sink recomputed
    rows = Σ batches, dropping appends; its legacy seeding then
    double-counted on the next append)."""
    cat = Catalog(spark, str(tmp_path / "stages"))
    two = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    one = spark.createDataFrame([(3, "c")], "id long, v string")

    cat.write("s", two)                      # base_rows = 2
    cat.append("s", one, tag="inc1")         # +1 append
    sink = cat.foreach_batch_sink("s")
    sink(one, 0)                             # +1 batch
    cat.append("s", one, tag="inc2")         # +1 append
    sink(one, 0)                             # replay of batch 0: no change

    entry = cat._manifest()["s"]
    assert entry["base_rows"] == 2
    assert entry["appends"] == {"inc1": 1, "inc2": 1}
    assert entry["batches"] == {"0": 1}
    assert entry["rows"] == 5
    assert cat.read("s").count() == 5


def test_iceberg_table_exists_honors_definitive_catalog_answer(spark, tmp_path):
    """A DEFINITIVE tableExists answer wins over the manifest: a dropped
    table (or recreated warehouse) with a surviving manifest entry must
    route append()/the sink to the CREATE branch, not to
    grow-by-overwrite on a nonexistent table; the manifest fallback
    fires only when the catalog lookup itself raises (the mocked-test /
    misconfigured-catalog path)."""
    from types import SimpleNamespace

    from entity_linking_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "ice"))
    cat.use_iceberg = True
    cat._update_manifest("s", lambda _e: {"rows": 5, "complete": True})

    real_spark = cat.spark

    def fake(answer):
        return SimpleNamespace(
            catalog=SimpleNamespace(tableExists=lambda _n: answer)
        )

    def raising():
        def boom(_n):
            raise RuntimeError("no such catalog")

        return SimpleNamespace(catalog=SimpleNamespace(tableExists=boom))

    try:
        cat.spark = fake(False)
        assert cat._iceberg_table_exists("s") is False, (
            "definitive False must beat the stale manifest entry"
        )
        cat.spark = fake(True)
        assert cat._iceberg_table_exists("s") is True
        cat.spark = raising()
        assert cat._iceberg_table_exists("s") is True  # manifest fallback
        assert cat._iceberg_table_exists("missing") is False
    finally:
        cat.spark = real_spark


def test_bucketed_stage_join_has_no_exchange(spark, tmp_path):
    """Two stages bucketed on the same key join with ZERO exchanges and
    no extra sort (SCALE.md's co-located layout, executable); the same
    join on plain parquet stages shuffles both sides."""
    cat = Catalog(spark, str(tmp_path / "wd"))
    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    cat.write_bucketed("bk_a", a, ["k"], 4)
    cat.write_bucketed("bk_b", b, ["k"], 4)
    assert cat.manifest_entry("bk_a")["kind"] == "bucketed_table"
    assert cat.manifest_entry("bk_a")["rows"] == 1000

    old = {
        "spark.sql.adaptive.enabled":
            spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = cat.read_bucketed("bk_a").join(cat.read_bucketed("bk_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
        row = joined.where("k = 7").collect()[0]
        assert (row["va"], row["vb"]) == (14, 21)

        # control: plain parquet stages shuffle both sides
        cat.write("pq_a", a)
        cat.write("pq_b", b)
        control = cat.read("pq_a").join(cat.read("pq_b"), "k")
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in cplan
    finally:
        for key, v in old.items():
            spark.conf.set(key, v)
