"""Session lifecycle, timing helpers and the expected-output check shared
by the workloads."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.session import build_session

# expected crawl outputs per workload, scale and input variant
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
# the seed picks one of this many input variants (seed mod VARIANTS), each
# with committed expected outputs
VARIANTS = 16


class Harness:
    """One benchmark run: its work directory inside the checkout, the
    active SparkSession, and the run's figures.

    Sessions use ``build_session`` defaults except ``master``,
    ``spark.ui.showConsoleProgress=false`` (the progress bar's carriage
    returns corrupt the last output line) and the scratch locations, which
    are pointed inside the checkout so the run writes nowhere else."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool, scale: float,
                 write_expected: bool = False):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.variant = seed % VARIANTS
        self.write_expected = write_expected
        self.trace = trace
        self.scale = scale
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(root, ".perfbench_work")
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.run_dir = os.path.join(self.work, "runs", self.run_id)
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = None
        self.tracer = None  # set while a traced pass runs
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def span(self, name: str):
        """A span of the active tracer, or nothing when untraced."""
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def session(self, master: str | None = None, eventlog_dir: str | None = None):
        """Stop the active session (untimed) and build a new one; returns
        (spark, seconds spent building it)."""
        self.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # java.io.tmpdir and no hsperfdata file: the JVM writes nothing
            # outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if eventlog_dir is not None:
            os.makedirs(eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + eventlog_dir,
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        with self.span("build_session"):
            self.spark = build_session(master or f"local[{self.nproc}]", extra_conf=conf)
        return self.spark, time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM gateway, and wait for it to exit
        (its Python worker daemon exits with it)."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def check_expected(self, outputs: dict) -> bool:
        """Compare ``outputs`` with the committed expected outputs of this
        workload, scale and input variant (perfbench/expected.json). A
        missing entry fails. With ``write_expected`` set, store ``outputs``
        as the expected entry instead."""
        entries = _load_expected()
        key = [self.workload, f"x{self.scale:g}", str(self.variant)]
        if self.write_expected:
            entries.setdefault(key[0], {}).setdefault(key[1], {})[key[2]] = outputs
            with open(EXPECTED, "w") as f:
                json.dump(entries, f, indent=1, sort_keys=True)
                f.write("\n")
            return True
        return entries.get(key[0], {}).get(key[1], {}).get(key[2]) == outputs


def _load_expected() -> dict:
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def checksums(frames: dict[str, DataFrame]) -> dict[str, str]:
    """Per frame: row count and exact sum of per-row xxhash64 over every
    column, all collected by one action."""
    aggs = [
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(20,0)")).alias("s"),
        ).select(F.lit(name).alias("name"), "n", "s")
        for name, df in frames.items()
    ]
    rows = functools.reduce(DataFrame.unionAll, aggs).collect()
    return {r["name"]: f"{r['n']}:{r['s']}" for r in rows}


def median(xs) -> float:
    return float(statistics.median(xs))
