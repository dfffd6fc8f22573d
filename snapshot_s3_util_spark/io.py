"""Table loading — the engine's scan layer.

Mirrors the reference's data substrate (HBase snapshots exported as
immutable files; SURVEY.md §1.1) onto columnar Parquet: one immutable
parquet file per table per scale factor (TESTDATA.md). All reads go
through :func:`load_table` so the single mandatory custom piece — the
`events` nanosecond-timestamp normalization — lives in exactly one place.

Scale notes (100 TB): `spark.read.parquet` on a directory tree gets
file-listing parallelism, partition pruning and row-group skipping for
free; the loaders below add nothing driver-side (no collect, no schema
inference loops), so they scale with the FileSourceScanExec machinery.

Checkpoint policy — the eagerness of each `localCheckpoint` role is
decided here; call sites write the literal:

- Multi-consumer inputs (edge lists, candidate pairs, rollups read by
  several branches) and rank spines (plans/rank.py) are LAZY
  (`eager=False`): the first consuming action materializes them, so an
  eager checkpoint's separate driver-blocking job is pure overhead.
  Racing stages may compute a partition twice; every such frame is
  deterministic, so the duplicate is consistent. The dedup component
  loop's per-round frames are lazy for the same reason: the round's
  changed-count materializes them in the round's one job.
- Staged frames — read back from files an op wrote to a scratch
  directory — are EAGER, enforced by :func:`staged`: the frame must be
  materialized before the directory is deleted.
- Per-round frontiers of the graph traversals (BFS, SCC) are EAGER: a
  round's frame is the build side of the next round's join (a
  broadcast outside the keyed regime), and folding round compute into
  a broadcast-build job risks the broadcast timeout.
- The IVF partitioned layout's centroid frame (llm/similarity.py) is
  EAGER on measured grounds: lazy folds the Lloyd chain into the
  partitionBy(cid) write job and lost the A/B.
- Audit ops outside the lazy A/Bs keep their eager checkpoints.

The interleaved A/B numbers behind the lazy and IVF decisions are in
OPTIMIZATION_r15.md §7 ("Lazy input checkpoints across the engine").
"""

from __future__ import annotations

import functools
import tempfile
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snapshot_s3_util_spark.session import ensure_conf

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _utc_ns(ts_literal: str) -> int:
    """'YYYY-MM-DD HH:MM:SS' (UTC) -> epoch nanoseconds."""
    dt = datetime.strptime(ts_literal, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=timezone.utc
    )
    return int(dt.timestamp()) * 1_000_000_000


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    ts_min: str | None = None,
    ts_max: str | None = None,
) -> DataFrame:
    """Load one test table; canonicalizes the `events` timestamp.

    `events.parquet` has shipped in two physical encodings across driver
    testdata generations; both normalize to the SAME logical column — a
    session-UTC `timestamp` (LTZ) at microsecond precision, value-equal
    to DuckDB's `CAST(ts AS TIMESTAMP)`:

    - INT64 TIMESTAMP(NANOS): Spark 4 refuses it natively; with
      `nanosAsLong=true` it arrives as bigint nanos and
      `timestamp_micros(ts DIV 1000)` truncates ns->us with integer
      division — float division would round half-microseconds and
      diverge from DuckDB's truncation (SURVEY.md §1.2, verified).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
      `timestamp_ntz`; cast to `timestamp` under the UTC session tz is
      a value-preserving retag, restoring the type every downstream
      `unix_micros`/interval-arithmetic op was written against.

    ``ts_min`` / ``ts_max`` (events only, whole-second UTC literals,
    [min, max) semantics) apply the time-range predicate on the RAW
    stored column BELOW the conversion: a filter above a conversion
    expression cannot reach the parquet scan (only IsNotNull pushes),
    so without this a 100 TB TTL sweep reads every row group. On the
    ns path `ns >= c*1000` is exactly `ns DIV 1000 >= c` for integer
    microsecond cutoffs; on the µs path the literal is compared as
    `timestamp_ntz` directly, so pre- and post-conversion filters
    agree; callers keep their post-conversion filters as the semantic
    source of truth and pass these purely as pushdown accelerators.
    """
    ensure_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # ns-encoded generation
            if ts_min is not None:
                df = df.filter(F.col("ts") >= F.lit(_utc_ns(ts_min)))
            if ts_max is not None:
                df = df.filter(F.col("ts") < F.lit(_utc_ns(ts_max)))
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # µs-encoded generation
            if ts_min is not None:
                df = df.filter(
                    F.col("ts") >= F.lit(ts_min).cast("timestamp_ntz")
                )
            if ts_max is not None:
                df = df.filter(
                    F.col("ts") < F.lit(ts_max).cast("timestamp_ntz")
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the embeddings table under the engine's vector-ingest
    contract: rows whose `embedding` is NULL (the encoder row never
    arrived) are dropped at the scan. Vector math cannot give them a
    defined score — Spark's zip_with would thread NULL through while
    DuckDB's list kernels reject NULL lists outright — so exclusion at
    ingest is the one semantics both engines can state; every oracle
    mirrors it with `WHERE embedding IS NOT NULL`. (Zero-norm vectors,
    by contrast, ARE loaded and score NULL via try_divide.) The filter
    is a pushed-down IsNotNull — free inside the scan."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )


def staged(
    build: Callable[[SparkSession, str, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Run an op that stages files in a scratch directory.

    ``build(spark, sf_dir, tmp)`` writes under ``tmp`` and returns a
    frame that may read those files back; the wrapper takes the
    registry's ``(spark, sf_dir)``, checkpoints that frame eagerly while
    ``tmp`` still exists, then deletes ``tmp`` — also when ``build``
    raises. Stack it under ``@register``.
    """

    @functools.wraps(build)
    def op(spark: SparkSession, sf_dir: str) -> DataFrame:
        with tempfile.TemporaryDirectory(
            prefix=f"s3u_{build.__name__}_", ignore_cleanup_errors=True
        ) as tmp:
            return build(spark, sf_dir, tmp).localCheckpoint(eager=True)

    return op


def spread_compute(df: DataFrame, *keys: str) -> DataFrame:
    """Row-respread gate for compute-heavy stages over tiny scans
    (r15, guide §2.5 input skew).

    The test tables are single parquet row groups, so byte-range
    splitting (`spark.sql.files.minPartitionNum`) cannot split them —
    an op whose heavy per-row work (interpreted higher-order folds,
    brute-force scoring behind a broadcast) sits directly on the scan
    runs as ONE task no matter how many cores the session has. Gated
    on the OBSERVED partition count (the stream-export REBALANCE gate
    pattern): below the session core count the frame is
    hash-respread once on `keys` (~MBs of shuffle locally); at
    deployment scale the scan already arrives in >= cores partitions
    and the gate is a no-op, so no shuffle is added where the data is
    already spread. Results are partitioning-independent by
    construction.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores, *keys)
    return df
