"""Per-partition lineage + metrics emission.

Reference analogues: ``CrawlMetrics`` pydantic rows accumulated in a Python
list (``/root/reference/app.py:74-82,226``) and DynamoDB orchestration events
(``app.py:817-860``, pk=job_id / sk=timestamp#uuid8). The engine emits both
as table rows, computed per *physical partition* (``spark_partition_id()``)
so a 1000-executor run reports balance/skew per task, not one blob per job.

Determinism note: partition ids depend on the physical plan, so metrics are
observability output, NOT part of the deterministic-resume contract (crawl
order and seen membership are; metrics are advisory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed(obs: Observation) -> dict | None:
    """The metrics an Observation recorded during its first action, or None
    when that action finished without them: AQE drops an executed stage, and
    the metrics observed in it, when a later stage of the same query comes
    up empty."""
    if obs._jo.getRow().schema() is None:  # blocks until the action ended
        return None
    return obs.get


def partition_metrics(
    df: DataFrame,
    wave: int,
    stage: str,
    bytes_col: str | None = None,
) -> DataFrame:
    """(wave, stage, partition_id, rows, bytes) per physical partition.

    Ad-hoc / in-flight variant: computes metrics with a Spark job over any
    DataFrame (including ones never written). The wave loop itself uses
    ``footer_metrics`` instead — same rows-per-partition information read
    free from the parquet footers of artifacts it writes anyway; the two are
    cross-checked in tests/test_frontier_e2e.py."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    if bytes_col is not None:
        aggs.append(F.coalesce(F.sum(F.length(F.col(bytes_col))), F.lit(0)).alias("bytes"))
    else:
        aggs.append(F.lit(0).cast("long").alias("bytes"))
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*aggs)
        .select(
            F.lit(wave).alias("wave"),
            F.lit(stage).alias("stage"),
            "partition_id",
            "rows",
            "bytes",
        )
    )


def footer_metrics(
    artifact_dir: str,
    wave: int,
    stage: str,
    bytes_col: str | None = None,
) -> list[tuple]:
    """Per-file (≙ per-partition) rows/bytes from parquet footer metadata —
    a driver-side file-metadata read, NOT a Spark job.

    This replaces the per-wave ``partition_metrics`` aggregation jobs: the
    artifact was just written, its footers already carry exact row counts
    and per-column chunk sizes, so re-scanning it with Spark purely for
    observability was two extra jobs of fixed latency per wave. ``bytes``
    is the uncompressed size of ``bytes_col``'s column chunks (an encoding-
    level proxy for payload volume; metrics are advisory, see module doc).
    On Iceberg this is exactly the manifest-file stats read.
    """
    import os

    import pyarrow.parquet as pq

    rows = []
    files = sorted(f for f in os.listdir(artifact_dir) if f.endswith(".parquet"))
    for i, fn in enumerate(files):
        md = pq.ParquetFile(os.path.join(artifact_dir, fn)).metadata
        nbytes = 0
        if bytes_col is not None:
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for c in range(rgm.num_columns):
                    col = rgm.column(c)
                    if col.path_in_schema == bytes_col:
                        nbytes += col.total_uncompressed_size
        rows.append((wave, stage, i, md.num_rows, nbytes))
    return rows


def output_counts(spark, path: str, sum_col: str | None = None) -> dict:
    """Row count (and optional column sum) of a written parquet output,
    SAFE FOR ANY HADOOP FILESYSTEM.

    Local paths (no scheme, or ``file:``) use the zero-job fast path —
    driver-side pyarrow footer/column reads, the wave loop's counting
    discipline. Any other scheme (``hdfs://``, ``s3a://``, ...) falls back
    to Spark jobs over the just-written files: the parquet count compiles
    to a footer-metadata scan (LocalTableScan over file statistics, no row
    decode) and the column sum reads exactly one column — cheap, and
    correct wherever ``df.write`` could reach, which an ``os.listdir``
    walk silently is not (it would read an empty local dir and report 0).
    Returns ``{"rows": n, "sum": s?}``.
    """
    import os

    scheme, sep, rest = path.partition("://")
    local = not sep or scheme == "file"
    if local:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        d = rest if sep else path
        files = [
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        ]
        out = {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files)}
        if sum_col is not None:
            out["sum"] = int(
                sum(
                    pc.sum(pq.read_table(f, columns=[sum_col])[sum_col]).as_py()
                    or 0
                    for f in files
                )
            )
        return out
    return _spark_output_counts(spark, path, sum_col)


def _spark_output_counts(spark, path: str, sum_col: str | None) -> dict:
    """The non-local branch of ``output_counts`` (Spark jobs; works on any
    filesystem ``spark.read`` can reach). Factored out so tests can drive
    it on a local path without a cluster."""
    df = spark.read.parquet(path)
    if sum_col is None:
        return {"rows": df.count()}
    row = df.agg(
        F.count(F.lit(1)).alias("_n"), F.sum(sum_col).alias("_s")
    ).first()
    return {"rows": int(row["_n"]), "sum": int(row["_s"] or 0)}


def lineage_rows_table(job_id: str, wave: int, events: list[tuple[str, dict]]):
    """Driver-side pyarrow table of orchestration events for one wave:
    ``(job_id string, wave int, event_seq long, event string, partition_id
    int, details map<string,string>)``. The analogue of the reference's
    DynamoDB event trail (app.py:817-860, pk=job_id / sk ordering ≙ event_seq) —
    written with the wave commit, zero Spark jobs. Idempotent under
    re-commit: a crashed wave rewrites its whole lineage artifact, so
    resume replays no duplicate events.
    """
    import pyarrow as pa

    details_type = pa.map_(pa.string(), pa.string())
    return pa.table(
        {
            "job_id": pa.array([job_id] * len(events), pa.string()),
            "wave": pa.array([wave] * len(events), pa.int32()),
            "event_seq": pa.array(list(range(len(events))), pa.int64()),
            "event": pa.array([e for e, _ in events], pa.string()),
            "partition_id": pa.array([-1] * len(events), pa.int32()),
            "details": pa.array(
                [[(k, str(v)) for k, v in d.items()] for _, d in events],
                type=details_type,
            ),
        }
    )
