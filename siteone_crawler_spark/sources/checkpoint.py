"""Checkpointed crawl-state store — the Iceberg table contract on local disk.

The north rule calls for Iceberg; the Iceberg runtime jars are not in this
image, so this module implements the same contract (atomic per-wave commits,
partitioned tables, resume from last committed snapshot) as Parquet
directories plus a JSON manifest whose replacement is atomic (os.replace).
Swapping in real Iceberg is a one-class change: `write_table` ->
`df.writeTo(...).append()` and the manifest becomes Iceberg's own snapshot
log. The reference has NO resumability (a killed run loses the frontier,
/root/reference/src/engine/crawler.rs:237-257) — this store is the
capability the north rule adds.

Layout:
    root/manifest.json                  {"last_wave": K, "done": bool, ...}
    root/<table>/wave=K/part-*.parquet  per-wave appends, one flat dir per
                                        (table, wave) — see TABLES

The frontier log doubles as the exact URL-seen set: the engine reads it back
as a url_key-only projection (read_all_partitioned).

A wave K is visible iff manifest.last_wave >= K, so a crash between table
writes and the manifest bump simply replays wave K on resume — writes are
idempotent per (table, wave) because each wave dir is overwritten whole.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "frontier", "deferred", "visited", "skipped", "basename_events", "metrics",
    "lineage", "blooms",
)

# Spark DDL type -> Arrow type, for the driver-side rows write_table accepts
_ARROW_TYPES = {
    "int": "int32", "long": "int64", "bigint": "int64", "double": "float64",
    "string": "string", "boolean": "bool",
}


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"last_wave": -1, "done": False, "config": None}
        with open(p) as f:
            return json.load(f)

    def commit_wave(self, wave: int, done: bool, extra: dict | None = None) -> None:
        m = self.read_manifest()
        m["last_wave"] = wave
        m["done"] = done
        if extra:
            m.update(extra)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    # -- tables ----------------------------------------------------------------
    def _wave_dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave}")

    def _parquet_files(self, table: str, wave: int) -> list[str]:
        """Sorted parquet file paths of one wave dir ([] when missing). An
        empty-DataFrame write can leave the dir with zero files — readers
        must skip such dirs, which alone fail schema inference."""
        d = self._wave_dir(table, wave)
        if not os.path.isdir(d):
            return []
        return [
            os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")
        ]

    def write_table(
        self,
        table: str,
        wave: int,
        df: DataFrame | list[tuple],
        max_files: int = 1,
        schema: str | None = None,
    ) -> None:
        """Per-wave state tables are small relative to the docs corpus; cap
        output files so later multi-wave scans don't fragment into hundreds
        of tiny-file partitions. At cluster scale `max_files` would instead be
        sized to keep ~128MB per file.

        `df` may instead be rows the driver already holds (metrics,
        lineage), typed by the DDL `schema`: those are written by pyarrow as
        one file, with no Spark job, and read back by Spark as the same
        column types."""
        d = self._wave_dir(table, wave)
        if isinstance(df, DataFrame):
            df.coalesce(max_files).write.mode("overwrite").parquet(d)
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        fields = [f.split() for f in schema.split(",")]
        cols = list(zip(*df)) or [()] * len(fields)
        arrow = pa.table(
            {name: pa.array(col, type=_ARROW_TYPES[t]) for (name, t), col in zip(fields, cols)}
        )
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        tmp = os.path.join(d, ".part-00000.parquet.tmp")
        pq.write_table(arrow, tmp)
        os.replace(tmp, os.path.join(d, "part-00000.parquet"))

    def _reader(self, schema: str | None):
        """A declared schema skips Spark's schema inference (a footer read
        that costs about as much driver time as a small job); callers pass
        the DDL the table was written with."""
        r = self.spark.read
        return r if schema is None else r.schema(schema)

    def read_wave(self, table: str, wave: int, schema: str | None = None) -> DataFrame:
        d = self._wave_dir(table, wave)
        if not self._parquet_files(table, wave):
            if schema is None:
                raise FileNotFoundError(d)
            return self.spark.createDataFrame([], schema)
        return self._reader(schema).parquet(d)

    def count_rows(self, table: str, wave: int) -> int:
        """Row count from parquet footers (driver-side metadata read — no
        Spark job)."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(p).metadata.num_rows for p in self._parquet_files(table, wave)
        )

    def has_wave(self, table: str, wave: int) -> bool:
        """Whether a wave of `table` was ever written (even empty). Iceberg
        swap: a snapshot/partition existence check instead of a dir probe."""
        return os.path.isdir(self._wave_dir(table, wave))

    def iter_column_chunks(self, table: str, wave: int, columns: list[str]):
        """Driver-side Arrow scan of a wave dir, one file at a time (no Spark
        job) — for tiny state decisions like 'did this wave see any non-200?'.
        This is the ONE place engine logic reads table DATA outside Spark;
        an Iceberg swap reimplements it over the table scan API (or answers
        the caller's predicate from column stats) instead of POSIX listings."""
        import pyarrow.parquet as pq

        for p in self._parquet_files(table, wave):
            yield pq.read_table(p, columns=columns)

    def min_stat(self, table: str, wave: int, column: str):
        """Minimum value of `column` over a wave dir, from parquet row-group
        footer statistics (driver-side metadata read — no Spark job).
        Returns None when the dir is missing, empty, or stats are absent."""
        import pyarrow.parquet as pq

        mn = None
        for p in self._parquet_files(table, wave):
            md = pq.ParquetFile(p).metadata
            try:
                idx = md.schema.names.index(column)
            except ValueError:
                continue
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    mn = st.min if mn is None else min(mn, st.min)
        return mn

    def collect_lineage(self, wave: int, tables: tuple[str, ...]) -> list[tuple]:
        """Per-partition lineage for a committed wave: one row per output file
        (file == partition at write time) with its row count and byte size,
        read from parquet footers (driver-side, no job).
        Rows: (wave, table, file, n_rows, n_bytes)."""
        import pyarrow.parquet as pq

        rows: list[tuple] = []
        for t in tables:
            for p in self._parquet_files(t, wave):
                rows.append(
                    (wave, t, os.path.basename(p), pq.ParquetFile(p).metadata.num_rows,
                     os.path.getsize(p))
                )
        return rows

    def read_all_partitioned(
        self, table: str, upto_wave: int, schema: str, columns: list[str]
    ) -> DataFrame:
        """read_all projected to `columns`: the parquet scan reads only those
        column chunks across the committed wave=K dirs. The engine's exact
        URL-seen set is this scan over the frontier log with ["url_key"]."""
        return self.read_all(table, upto_wave, schema).select(*columns)

    def read_all(self, table: str, upto_wave: int, schema: str | None = None) -> DataFrame:
        """Union of committed waves 0..upto_wave (single multi-path parquet
        scan — one job, partition-prunable)."""
        dirs = [
            self._wave_dir(table, w)
            for w in range(upto_wave + 1)
            if self._parquet_files(table, w)
        ]
        if not dirs:
            if schema is None:
                raise FileNotFoundError(f"{table} has no committed waves")
            return self.spark.createDataFrame([], schema)
        return self._reader(schema).parquet(*dirs)
