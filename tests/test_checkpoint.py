"""CheckpointStore and the engine state it backs: driver-held rows written
without a Spark job, declared-schema reads, and the frontier log read back
as the exact URL-seen set (no separate seen table)."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from siteone_crawler_spark.config import CrawlConfig
from siteone_crawler_spark.engine import (
    BLOOMS_SCHEMA,
    BN_STATE_SCHEMA,
    FRONTIER_SCHEMA,
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    CrawlEngine,
)
from siteone_crawler_spark.operators.seen import SeenSet
from siteone_crawler_spark.plans import explain_str
from siteone_crawler_spark.sources.checkpoint import TABLES, CheckpointStore

# table -> (DDL, rows the driver holds); the metrics row exceeds int32 to pin
# `long` as int64
DRIVER_TABLES = {
    "metrics": (
        METRICS_SCHEMA,
        [(0, "frontier", 12), (0, "subtime_us:commit", 3_000_000_000)],
    ),
    "lineage": (
        LINEAGE_SCHEMA,
        [(1, "visited", "part-00000.parquet", 7, 2048),
         (1, "frontier", "part-00001.parquet", 0, 512)],
    ),
}


def _key(i: int) -> str:
    return hashlib.md5(f"https://h.test/p{i}".encode()).hexdigest()


def _frontier(spark, ids, wave: int = 0, seq0: int = 0):
    rows = [
        (f"https://h.test/p{i}", _key(i), f"u{i}", "h.test", f"/p{i}", "", 1, wave,
         seq0 + n, "u0", 1)
        for n, i in enumerate(ids)
    ]
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


def _plain(rows):
    return sorted(map(tuple, rows))


def _fields(df):
    return [(f.name, f.dataType) for f in df.schema]


def _engine(spark, root, **kw):
    return CrawlEngine(spark, CrawlConfig(**kw), str(root), n_buckets=4)


@pytest.mark.parametrize("table", sorted(DRIVER_TABLES))
def test_driver_rows_read_back_with_spark_types(spark, tmp_path, table):
    """Driver rows are written by pyarrow; Spark infers from the file
    exactly the types of the DDL the engine declares when it reads them."""
    ddl, rows = DRIVER_TABLES[table]
    store = CheckpointStore(spark, str(tmp_path))
    store.write_table(table, 0, rows, schema=ddl)
    inferred = spark.read.parquet(store._wave_dir(table, 0))
    assert _fields(inferred) == _fields(spark.createDataFrame([], ddl))
    assert _plain(store.read_wave(table, 0, ddl).collect()) == _plain(rows)
    assert store.count_rows(table, 0) == len(rows)


@pytest.mark.parametrize("table", sorted(DRIVER_TABLES))
def test_driver_rows_empty_wave(spark, tmp_path, table):
    """Zero driver rows still leave a typed wave: one zero-row file that
    Spark reads (and infers) with the full schema."""
    ddl, _ = DRIVER_TABLES[table]
    store = CheckpointStore(spark, str(tmp_path))
    store.write_table(table, 2, [], schema=ddl)
    assert store.has_wave(table, 2)
    assert store.count_rows(table, 2) == 0
    inferred = spark.read.parquet(store._wave_dir(table, 2))
    assert _fields(inferred) == _fields(spark.createDataFrame([], ddl))
    assert inferred.count() == 0
    assert store.read_all(table, 2, ddl).count() == 0


def test_driver_rows_overwrite_whole_wave(spark, tmp_path):
    """A replayed wave (crash before the manifest bump) replaces the dir
    whole, whichever writer wrote it first: one part file, no temp file,
    only the new rows."""
    ddl, rows = DRIVER_TABLES["metrics"]
    store = CheckpointStore(spark, str(tmp_path))
    store.write_table(
        "metrics", 0, spark.createDataFrame(rows * 4, ddl).repartition(2), max_files=2
    )
    assert store.count_rows("metrics", 0) == 8
    store.write_table("metrics", 0, rows[:1], schema=ddl)
    assert os.listdir(store._wave_dir("metrics", 0)) == ["part-00000.parquet"]
    assert _plain(store.read_wave("metrics", 0, ddl).collect()) == _plain(rows[:1])


def test_lineage_counts_driver_written_file(spark, tmp_path):
    ddl, rows = DRIVER_TABLES["lineage"]
    store = CheckpointStore(spark, str(tmp_path))
    store.write_table("lineage", 4, rows, schema=ddl)
    [(wave, table, name, n_rows, n_bytes)] = store.collect_lineage(4, ("lineage",))
    assert (wave, table, name, n_rows) == (4, "lineage", "part-00000.parquet", 2)
    assert n_bytes == os.path.getsize(os.path.join(store._wave_dir("lineage", 4), name))


def test_frontier_key_scan_projects_committed_waves(spark, tmp_path):
    """read_all_partitioned: waves 0..upto only, missing waves skipped, and
    the parquet scan reads the url_key column alone."""
    store = CheckpointStore(spark, str(tmp_path))
    for w, ids in ((0, [0, 1, 2]), (2, [20, 21]), (3, [30])):
        store.write_table("frontier", w, _frontier(spark, ids, wave=w))
    keys = store.read_all_partitioned("frontier", 2, FRONTIER_SCHEMA, ["url_key"])
    assert keys.columns == ["url_key"]
    assert sorted(r[0] for r in keys.collect()) == sorted(map(_key, [0, 1, 2, 20, 21]))
    assert "ReadSchema: struct<url_key:string>" in explain_str(keys)


def test_reads_without_committed_waves(spark, tmp_path):
    """A declared schema turns a missing table into an empty typed frame;
    without one, a missing table is an error."""
    store = CheckpointStore(spark, str(tmp_path))
    empty = store.read_all("frontier", 3, FRONTIER_SCHEMA)
    assert _fields(empty) == _fields(spark.createDataFrame([], FRONTIER_SCHEMA))
    assert empty.count() == 0
    assert store.read_wave("blooms", 0, BLOOMS_SCHEMA).count() == 0
    with pytest.raises(FileNotFoundError):
        store.read_all("frontier", 3)
    with pytest.raises(FileNotFoundError):
        store.read_wave("frontier", 0)


def test_seed_frontier_casts_and_installs_seen_keys(spark, tmp_path):
    """An external wave-0 frontier with wider column types is cast to
    FRONTIER_SCHEMA on write; the seen set is its url_key scan, and the
    store holds no table beyond the frontier log."""
    wide = (
        _frontier(spark, range(5))
        .withColumn("depth", F.col("depth").cast("long"))
        .withColumn("source_attr", F.col("source_attr").cast("long"))
    )
    eng = _engine(spark, tmp_path)
    eng.seed_frontier(wide)
    assert eng.n_enqueued == 5
    assert sorted(r[0] for r in eng.seen.keys.collect()) == sorted(map(_key, range(5)))
    inferred = spark.read.parquet(eng.store._wave_dir("frontier", 0))
    assert _fields(inferred) == _fields(spark.createDataFrame([], FRONTIER_SCHEMA))
    assert {d for d in os.listdir(tmp_path) if d in TABLES} == {"frontier"}
    assert not (tmp_path / "seen").exists()


def test_seed_frontier_above_threshold_builds_prefilter(spark, tmp_path):
    """At or above bloom_min_keys the seeded keys fold into the Bloom
    prefilter, checkpointed as blooms wave 0; filter_new then drops exactly
    the seeded keys."""
    eng = _engine(spark, tmp_path)
    eng.seen.bloom_min_keys = 1
    eng.seed_frontier(_frontier(spark, range(6)))
    assert eng.store.count_rows("blooms", 0) > 0
    cand = spark.createDataFrame([(_key(i),) for i in (0, 5, 98, 99)], "url_key string")
    got = {r[0] for r in eng.seen.filter_new(cand, n_seen=eng.n_enqueued).collect()}
    assert got == {_key(98), _key(99)}


def _two_wave_checkpoint(spark, root):
    """Wave 0 seeded with 5 keys; wave 0's processing enqueued 3 more at
    frontier index 1."""
    eng = _engine(spark, root)
    eng.seed_frontier(_frontier(spark, range(5)))
    eng.store.write_table("frontier", 1, _frontier(spark, range(5, 8), wave=1, seq0=5))
    return eng


def test_restore_counts_enqueued_from_frontier_footers(spark, tmp_path):
    """Resume: the enqueue count and the next wave's seq start are footer
    sums over the frontier log; the seen keys are its url_key scan."""
    _two_wave_checkpoint(spark, tmp_path)
    fresh = _engine(spark, tmp_path)
    fresh._restore_state(0)
    assert fresh.n_enqueued == 8
    assert fresh._wave_seq_start[1] == 5
    assert sorted(r[0] for r in fresh.seen.keys.collect()) == sorted(map(_key, range(8)))
    assert fresh.seen.prefilter is None


def test_restore_rebuilds_prefilter_without_blooms_table(spark, tmp_path):
    """No checkpointed blooms but the seen set is above the threshold: the
    prefilter is rebuilt from the frontier keys."""
    _two_wave_checkpoint(spark, tmp_path)
    fresh = _engine(spark, tmp_path)
    fresh.seen.bloom_min_keys = 1
    fresh._restore_state(0)
    assert fresh.seen.prefilter is not None
    assert not fresh.store.has_wave("blooms", 1)  # restore writes nothing
    cand = spark.createDataFrame([(_key(i),) for i in (0, 7, 99)], "url_key string")
    got = {r[0] for r in fresh.seen.filter_new(cand, n_seen=fresh.n_enqueued).collect()}
    assert got == {_key(99)}


def test_restore_reads_checkpointed_blooms(spark, tmp_path):
    """Resume points the prefilter at the checkpointed blooms rows as
    written, not at a rebuild from the frontier keys (the checkpointed
    filter here holds a different key set)."""
    eng = _two_wave_checkpoint(spark, tmp_path)
    ref = SeenSet(spark, n_buckets=4)
    ref.absorb(_frontier(spark, [0, 1, 50]))
    eng.store.write_table("blooms", 1, ref.prefilter)
    written = _plain(eng.store.read_wave("blooms", 1, BLOOMS_SCHEMA).collect())
    rebuilt = SeenSet(spark, n_buckets=4)
    rebuilt.absorb(_frontier(spark, range(8)))
    assert _plain(rebuilt.prefilter.collect()) != written
    fresh = _engine(spark, tmp_path)
    fresh._restore_state(0)
    assert _plain(fresh.seen.prefilter.collect()) == written
    plan = explain_str(fresh.seen.prefilter)
    assert "blooms" in plan and "frontier" not in plan, plan


def test_bn_max_reads_footer_column(spark, tmp_path):
    """Max n_events of a basename_events wave, read driver-side across all
    of its files; 0 for a wave never written."""
    eng = _engine(spark, tmp_path)
    assert eng._bn_max(0) == 0
    rows = [("a", [1, 2], 2), ("b", [3], 5), ("c", [4], 1)]
    eng.store.write_table(
        "basename_events", 0,
        spark.createDataFrame(rows, BN_STATE_SCHEMA).repartition(2), max_files=2,
    )
    assert eng._bn_max(0) == 5
