from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running perf smokes (reference-shape index builds)"
    )


@pytest.fixture(scope="session")
def spark():
    from vector_db_example_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="vector_db_example_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    # CREATE VIEW (main schema) on purpose, not con.register() (temp
    # schema): the crawl-production oracles shadow `documents` with a
    # `main.documents`-qualified CTE, which only resolves when the base
    # tables live in main — the qualifier dodges DuckDB's circular
    # same-name CTE reference (queries/streaming_q.py, advisor note
    # round 14). The external driver registers tables the same way.
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_CORRECTNESS}/{name}.parquet'"
        )
    yield con
    con.close()


def job_names(spark, action) -> list[str]:
    """Run ``action()`` under a job group of its own and return the name
    of every Spark job it ran (the call site of the job's first stage,
    e.g. ``parquet at …`` for a listing or schema-inference job)."""
    import uuid

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    names = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        stage = tracker.getStageInfo(min(tracker.getJobInfo(job_id).stageIds))
        names.append(stage.name if stage else "")
    return names


def checkpointed_plans(spark, action) -> list[str]:
    """Run ``action()`` and return the executed physical plan of every
    frame it materialized with ``localCheckpoint``, in call order (the
    final plan only; the top-level AQE "Initial Plan" section is cut
    off, subqueries keep theirs)."""
    cls = type(spark.range(1))  # the concrete classic DataFrame class
    orig = cls.localCheckpoint
    plans: list[str] = []

    def spy(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        plan = self._jdf.queryExecution().executedPlan().toString()
        plans.append(plan.split("\n+- == Initial Plan ==")[0])
        return out

    cls.localCheckpoint = spy
    try:
        action()
    finally:
        cls.localCheckpoint = orig
    return plans


def parquet_codecs(root) -> dict[str, set[str]]:
    """The codec of every column chunk of every ``*.parquet`` file under
    ``root`` (recursively), as pyarrow reads it from the file footers:
    ``{relative path: {"ZSTD", ...}}``."""
    import pyarrow.parquet as pq

    out = {}
    for path in sorted(Path(root).rglob("*.parquet")):
        meta = pq.ParquetFile(path).metadata
        out[str(path.relative_to(root))] = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
    return out
