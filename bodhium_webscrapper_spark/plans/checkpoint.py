"""Checkpointed frontier snapshots with deterministic resume.

The reference has NO checkpointing: a killed AWS Batch job restarts from
zero; only job *status* survives in Postgres
(``/root/reference/RDS/app.py:417-444``). The engine commits every wave as a
snapshot so a killed run resumes with identical crawl ordering and URL-seen
membership (the north rule).

On a real cluster this is an Iceberg transaction group: one snapshot per
wave across the frontier/seen/extracted/metrics tables. In this sandbox we
use the structurally identical parquet shim: per-wave directories plus an
atomically-replaced JSON manifest (write-tmp-then-rename) recording the last
fully committed wave. A wave is visible iff the manifest says so — partial
wave directories from a crash are ignored and rewritten, which also makes
wave commits idempotent under retries.

``seen`` is stored as per-wave *deltas* (append-only — the scalable layout:
at 10^10 URLs a full rewrite per wave is impossible); readers union deltas
0..k. Reading state back from storage per wave also truncates the iterative
plan's lineage, keeping wave plans O(1) instead of O(waves).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# Manifest layout version, stamped at every wave commit and checked at
# resume. Version 2 = the pending-artifact layout (round 3+): the frontier
# is derived from page_results.outlinks ∪ the per-wave ``pending`` artifact,
# and wave stats carry ``next_candidates``. Version 1 checkpoints (a
# materialized ``frontier_next`` artifact, no pending) cannot be resumed by
# this engine — the resume path fails LOUDLY on the marker instead of with
# an opaque path-not-found deep inside the first frontier read.
CHECKPOINT_FORMAT = 2


class SnapshotStore:
    """LOCAL-FILESYSTEM contract: ``root`` must be a plain local path.

    The loop's zero-job counting discipline (``row_count``,
    ``footer_metrics``, ``write_rows``) reads parquet footers with
    os.listdir + pyarrow, which silently reads nothing on an hdfs:// or
    s3:// URI that spark.read/write would happily accept — so a non-local
    root is rejected loudly here. The Iceberg equivalent of this store
    (snapshot summaries carry the row counts as table metadata) is the
    production path for object stores; see IcebergSnapshotStore.
    """

    def __init__(self, root: str):
        if "://" in root and not root.startswith("file://"):
            raise ValueError(
                f"SnapshotStore requires a local filesystem root, got {root!r}: "
                "footer-derived counts/metrics are read with local pyarrow. "
                "Use IcebergSnapshotStore (snapshot-summary stats) for object stores."
            )
        self.root = root[len("file://"):] if root.startswith("file://") else root
        os.makedirs(self.root, exist_ok=True)
        # schema of each artifact name, captured at write time: readers skip
        # parquet schema inference (a per-read driver round trip that adds
        # up to seconds of fixed latency per wave in the hot loop)
        self._schemas: dict[str, Any] = {}
        self._arrow_schemas: dict[str, Any] = {}

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def manifest(self) -> dict[str, Any]:
        if not os.path.exists(self._manifest_path):
            return {"committed_wave": -1, "waves": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def committed_wave(self) -> int:
        return self.manifest()["committed_wave"]

    def wave_dir(self, wave: int, name: str) -> str:
        return os.path.join(self.root, f"wave={wave:04d}", name)

    def has_artifact(self, wave: int, name: str) -> bool:
        """Store-agnostic artifact existence check (CrawlJob uses this, not
        paths, so an Iceberg-backed store can answer from metadata)."""
        return os.path.exists(self.wave_dir(wave, name))

    def write(self, wave: int, name: str, df: DataFrame) -> str:
        path = self.wave_dir(wave, name)
        if os.path.exists(path):
            shutil.rmtree(path)  # idempotent re-commit after a crash
        df.write.mode("overwrite").parquet(path)
        self._schemas[name] = df.schema
        return path

    def write_bucketed(
        self, wave: int, name: str, df: DataFrame, table: str, n_buckets: int,
        key: str = "url_hash",
    ) -> str:
        """Write a wave artifact as a bucketed, bucket-sorted TABLE whose
        files live in the artifact's wave directory — so every plain-parquet
        consumer of the artifact (``read``/``row_count``/``read_columns``/
        ``read_deltas``: bucket files ARE plain parquet) is unchanged, while
        ``spark.table(table)`` sees the bucket spec and the fetch join plans
        exchange-free (plans/bucketed_fetch.py). Stores whose ``wave_dir``
        is not a filesystem path implement this as their native clustered
        write (Iceberg: ``partitionedBy(bucket(N, key))``); CrawlJob feature-
        detects the method and broadcasts every wave's fetch without it."""
        from bodhium_webscrapper_spark.plans.bucketed_fetch import write_bucketed

        path = self.wave_dir(wave, name)
        if os.path.exists(path):
            shutil.rmtree(path)  # idempotent re-commit after a crash
        write_bucketed(df, table, n_buckets, path=path, key=key)
        self._schemas[name] = df.schema
        return path

    def _reader(self, spark: SparkSession, name: str):
        schema = self._schemas.get(name)
        if schema is None and name in self._arrow_schemas:
            from pyspark.sql.pandas.types import from_arrow_schema

            schema = from_arrow_schema(self._arrow_schemas[name])
            self._schemas[name] = schema
        return spark.read.schema(schema) if schema is not None else spark.read

    def read(self, spark: SparkSession, wave: int, name: str) -> DataFrame:
        return self._reader(spark, name).parquet(self.wave_dir(wave, name))

    def row_count(self, wave: int, name: str) -> int:
        """Exact row count of a written artifact from parquet footer
        metadata — a driver-side file-metadata read, NOT a Spark job. This
        is what keeps the wave loop's fixed cost flat: counts that used to
        be .count() actions (one job each) are free once the data is
        written anyway. The Iceberg equivalent reads the snapshot summary.
        """
        import pyarrow.parquet as pq

        path = self.wave_dir(wave, name)
        total = 0
        for fn in os.listdir(path):
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows
        return total

    def _artifact_files(self, wave: int, name: str) -> list[str]:
        path = self.wave_dir(wave, name)
        return [
            os.path.join(path, fn)
            for fn in os.listdir(path)
            if fn.endswith(".parquet")
        ]

    def column_sum(self, wave: int, name: str, col: str) -> int:
        """Driver-side sum of one small numeric column of a written artifact
        (concurrent pyarrow single-column read — no Spark job). Reading one
        int64 column of even a 10M-row wave is tens of MB; the Iceberg
        equivalent would be a column aggregate pushed to manifest stats."""
        import pyarrow.compute as pc

        t = self.read_columns(wave, name, [col])
        return int(pc.sum(t[col]).as_py() or 0)

    def read_columns(self, wave: int, name: str, cols: list[str]):
        """Driver-side pyarrow read of a few narrow columns of a written
        artifact (no Spark job). Returns one concatenated pyarrow Table.
        Callers gate this on row counts they already have from footers —
        it is the small-data fast path (e.g. building the pending-retry
        artifact); stores without local files simply don't offer it and
        callers fall back to a Spark plan. Files are read concurrently
        (pyarrow releases the GIL), so this scales with available cores
        instead of serializing the loop on one thread."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.parquet as pq

        files = self._artifact_files(wave, name)
        if not files:
            return pa.table({c: [] for c in cols})
        if len(files) == 1:
            return pq.read_table(files[0], columns=cols)
        with ThreadPoolExecutor(max_workers=min(16, len(files))) as pool:
            tables = list(pool.map(lambda f: pq.read_table(f, columns=cols), files))
        return pa.concat_tables(tables)

    def artifact_bytes(self, wave: int, name: str) -> int:
        """Total ON-DISK (compressed) size of an artifact's parquet files —
        an os.stat walk, no file reads. Callers that plan a driver-side read
        of the artifact gate on this, not just the row count: a 20M-row wave
        of short URLs fits driver memory, the same rows with kilobyte URLs
        do not. The Iceberg equivalent sums file_size_in_bytes from the
        ``.files`` metadata table."""
        return sum(os.path.getsize(f) for f in self._artifact_files(wave, name))

    def partition_metrics(
        self, wave: int, name: str, bytes_col: str | None = None
    ) -> list[tuple[int, int, int]]:
        """Per-file (≙ per-partition) ``(partition_id, rows, bytes)`` stats
        of a written artifact, from parquet footer metadata — no Spark job.

        This is the STORE-SEAM form of plans.metrics.footer_metrics: the
        wave loop calls it on whatever store it was given, so a backend
        whose ``wave_dir`` is a table identifier rather than a directory
        (IcebergSnapshotStore) can answer from its own metadata instead of
        the loop os.listdir()-ing a non-path."""
        from bodhium_webscrapper_spark.plans.metrics import footer_metrics

        return [
            (pid, rows, nbytes)
            for (_w, _s, pid, rows, nbytes) in footer_metrics(
                self.wave_dir(wave, name), wave, name, bytes_col=bytes_col
            )
        ]

    def compact_dir(self, name: str, base_wave: int) -> str:
        return os.path.join(self.root, "compact", name, f"base={base_wave:04d}")

    def compact_deltas(self, spark: SparkSession, name: str, upto_wave: int) -> None:
        """LSM-style delta compaction: rewrite deltas 0..upto as one base.

        read_deltas unions one directory per wave; over hundreds of waves
        the listing cost, plan width, and small-file count of every seen
        anti-join grow linearly. Compacting every K waves bounds the union
        at (1 base + K tails) for an amortized O(seen)/K rewrite per wave —
        the classic LSM trade. Crash-safe: the base is written to a temp dir
        and atomically renamed into place, and the manifest points at it
        only after the rename — the lazy read_deltas source can therefore
        never be a directory this method deletes (re-running with the same
        upto_wave is a no-op; a crash mid-write leaves only an inert .tmp).
        Original wave dirs are kept (idempotent re-commits still overwrite
        per wave); on Iceberg this whole method is a metadata-only manifest
        rewrite.
        """
        m = self.manifest()
        if m.get("compacted", {}).get(name) == upto_wave:
            return  # already compacted at this wave: rewriting would read
            # the very base dir it deletes (self-sourcing write)
        df = self.read_deltas(spark, name, upto_wave)
        if df is None:
            return
        path = self.compact_dir(name, upto_wave)
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        m = self.manifest()
        m.setdefault("compacted", {})[name] = upto_wave
        self._save_manifest(m)

    def read_deltas(self, spark: SparkSession, name: str, upto_wave: int) -> DataFrame | None:
        m = self.manifest()
        base = m.get("compacted", {}).get(name)
        paths = []
        start = 0
        if base is not None and base <= upto_wave:
            paths.append(self.compact_dir(name, base))
            start = base + 1
        paths += [
            self.wave_dir(w, name)
            for w in range(start, upto_wave + 1)
            if os.path.exists(self.wave_dir(w, name))
        ]
        if not paths:
            return None
        return self._reader(spark, name).parquet(*paths)

    def write_rows(self, wave: int, name: str, table) -> str:
        """Write a small driver-side pyarrow table as a wave artifact
        (no Spark job; used for footer-derived metrics/lineage rows)."""
        import pyarrow.parquet as pq

        path = self.wave_dir(wave, name)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        self._arrow_schemas[name] = table.schema
        return path

    def commit_wave(self, wave: int, stats: dict[str, Any]) -> None:
        m = self.manifest()
        if wave != m["committed_wave"] + 1:
            raise ValueError(
                f"non-sequential commit: wave={wave}, committed={m['committed_wave']}"
            )
        m["committed_wave"] = wave
        m["waves"][str(wave)] = stats
        m["format"] = CHECKPOINT_FORMAT
        self._save_manifest(m)

    def _save_manifest(self, m: dict[str, Any]) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX
