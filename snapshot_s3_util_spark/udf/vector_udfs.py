"""UDF / UDAF / UDTF surface (SURVEY.md §2B "UDF surface").

The escape hatches, in preference order (pyspark_guide / SURVEY §4):
built-ins first; Arrow-batched `pandas_udf` when Python is unavoidable;
`applyInPandas` / `mapInPandas` for group- and partition-shaped logic;
row-at-a-time `@udf` exists only as the deliberately-slow comparison
point (`udf_python_scalar`) — bench shows why it's the last resort.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from snapshot_s3_util_spark.io import load_embeddings, load_table
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import EVENTS_REL

_PROBE_ID = 0

# Salted-rowkey layout (HBase salting pattern: 2-digit salt | 10-digit
# zero-padded id). Built in SQL on both sides; DECODED by the UDF.
_ROWKEY_SPARK = "concat(lpad(cast(c_custkey % 16 AS string), 2, '0'), '|', lpad(cast(c_custkey AS string), 10, '0'))"
_ROWKEY_DUCK = "LPAD(CAST(c_custkey % 16 AS VARCHAR), 2, '0') || '|' || LPAD(CAST(c_custkey AS VARCHAR), 10, '0')"


@register(
    "udf_python_scalar",
    oracle=f"""
    SELECT c_custkey,
           {_ROWKEY_DUCK} AS row_key,
           CAST(SUBSTR({_ROWKEY_DUCK}, 4) AS BIGINT) AS decoded_key
    FROM customer
    """,
    category="udf",
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF: strip the salt, parse the padded id.

    Kept as the anti-pattern exhibit: per-row serde, no codegen. The
    same logic is one `substr+cast` in SQL — which is exactly what the
    oracle does.
    """

    @F.udf(LongType())
    def decode_rowkey(key: str) -> int | None:
        if key is None or "|" not in key:
            return None
        _salt, padded = key.split("|", 1)
        return int(padded.lstrip("0") or "0")

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr(_ROWKEY_SPARK).alias("row_key"),
        decode_rowkey(F.expr(_ROWKEY_SPARK)).alias("decoded_key"),
    )


@register(
    "udf_pandas_scalar",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE embedding IS NOT NULL),
    probe AS (SELECT e AS pe FROM v WHERE vec_id = {_PROBE_ID})
    SELECT vec_id,
           ROUND(LIST_DOT_PRODUCT(e, pe) /
                 (SQRT(LIST_DOT_PRODUCT(e, e)) * SQRT(LIST_DOT_PRODUCT(pe, pe))), 6)
             AS cos_sim
    FROM v CROSS JOIN probe
    """,
    category="udf",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF: numpy cosine against a probe vector.

    The whole Arrow batch crosses the JVM->Python boundary once; numpy
    does the inner loop. ~10-100x the row-at-a-time UDF above, the
    pattern for any vector kernel built-ins can't express.
    """
    e = load_embeddings(spark, sf_dir)
    probe = np.array(
        e.filter(F.col("vec_id") == _PROBE_ID).select("embedding").first()[0],
        dtype=np.float64,
    )
    pn = np.sqrt(probe @ probe)

    @F.pandas_udf(DoubleType())
    def cos_vs_probe(col: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in col])
        return pd.Series((m @ probe) / (np.sqrt((m * m).sum(axis=1)) * pn))

    return e.select(
        "vec_id", F.round(cos_vs_probe(F.col("embedding")), 6).alias("cos_sim")
    )


@register(
    "udaf_pandas_grouped",
    oracle="""
    WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE embedding IS NOT NULL)
    SELECT label,
           ROUND(AVG(SQRT(LIST_DOT_PRODUCT(e, e))), 6) AS avg_norm,
           COUNT(*) AS n
    FROM v GROUP BY label
    """,
    category="udf",
)
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF: mean embedding L2-norm per label.

    Partial aggregation does NOT apply to pandas UDAFs — every row
    shuffles to its group. Fine for bounded groups; for 100 TB prefer
    the built-in formulation (the oracle's SQL runs entirely JVM-side).
    """

    @F.pandas_udf(DoubleType())
    def mean_norm(col: pd.Series) -> float:
        m = np.array([np.asarray(v, dtype=np.float64) for v in col])
        return float(np.sqrt((m * m).sum(axis=1)).mean())

    # group-agg pandas UDFs can't mix with JVM aggregates in one agg()
    @F.pandas_udf(LongType())
    def n_rows(col: pd.Series) -> int:
        return len(col)

    e = load_embeddings(spark, sf_dir)
    return e.groupBy("label").agg(
        F.round(mean_norm(F.col("embedding")), 6).alias("avg_norm"),
        n_rows(F.col("vec_id")).alias("n"),
    )


@register(
    "udtf_apply_in_pandas",
    oracle=f"""
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 6) AS value_norm
    FROM {EVENTS_REL} e
    """,
    category="udf",
)
def udtf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map normalize: (v - mean)/std per event_type group.

    `applyInPandas` hands each group to Python as one DataFrame — the
    UDTF shape for per-group model scoring. pandas `.std()` (ddof=1)
    == STDDEV_SAMP, which the oracle mirrors with window functions.
    Rounding happens in Spark SQL AFTER the UDF (half-away-from-zero,
    like DuckDB ROUND) — pandas `.round` is banker's rounding and
    would diverge on exact halves at the 6th decimal.
    """

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "value_norm": (v - v.mean()) / v.std(),
            }
        )

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .applyInPandas(
            normalize, schema="event_id long, event_type string, value_norm double"
        )
        .withColumn("value_norm", F.round("value_norm", 6))
    )


@register(
    "udtf_map_in_pandas",
    oracle=f"""
    SELECT event_id,
           CASE WHEN JSON_VALID(props)
                THEN CAST(props->>'$.k' AS BIGINT) END AS k,
           CAST(LENGTH(props) AS BIGINT) AS props_len
    FROM {EVENTS_REL} e
    """,
    category="udf",
)
def udtf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise mapInPandas: JSON-flatten `props` batch by batch.

    The per-partition iterator shape — each Arrow batch parsed with
    Python's json, no per-row py4j. This is the template the multimodal
    decoders (llm/multimodal.py) build on.
    """

    def parse_k(s):
        # Defensive parse: malformed/empty/NULL props (or a non-object
        # JSON document) yield NULL, matching the oracle's JSON_VALID
        # guard — one bad record must not kill the batch.
        if not s:
            return None
        try:
            obj = json.loads(s)
        except ValueError:
            return None
        return obj.get("k") if isinstance(obj, dict) else None

    def flatten(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = pdf["props"].map(parse_k)
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "k": parsed.astype("Int64"),
                    "props_len": pdf["props"].str.len().astype("Int64"),
                }
            )

    ev = load_table(spark, sf_dir, "events")
    return ev.mapInPandas(flatten, schema="event_id long, k long, props_len long")


_UDTF_DOC_CAP = 100


@register(
    "udtf_python_table",
    oracle=f"""
    SELECT doc_id,
           CAST(UNNEST(range(1, len(toks) + 1)) AS INTEGER) AS pos,
           UNNEST(toks) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE doc_id < {_UDTF_DOC_CAP})
    """,
    category="udf",
)
def udtf_python_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Python UDTF (Spark 4 `@udtf` + LATERAL join): one input row
    -> many output rows, the table-function shape `mapInPandas` can't
    express relationally (no lateral correlation there).

    Tokenizes each document into (pos, token) rows via a registered
    UDTF invoked with `LATERAL` — the API for custom generators/
    parsers feeding joins. The logic is deliberately explode-equivalent
    so the oracle is plain UNNEST WITH ORDINALITY; production UDTFs do
    work Spark lacks a builtin for (custom record formats, tokenizers).
    Bounded to doc_id < {_UDTF_DOC_CAP} — at scale a UDTF streams
    per-partition like any generator, no driver involvement.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class Tokenize:
        def eval(self, text: str):  # noqa: ANN001
            # `is not None`, not truthiness: an empty string must emit
            # one (1, '') row like the oracle's string_split('', ' ').
            if text is not None:
                for i, tok in enumerate(text.split(" ")):
                    yield i + 1, tok

    spark.udtf.register("s3u_tokenize", Tokenize)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _UDTF_DOC_CAP
    ).createOrReplaceTempView("s3u_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM s3u_udtf_docs d, LATERAL s3u_tokenize(d.text) t"
    )


_ITER_SCALE_BINS = 10


@register(
    "udf_pandas_iter",
    oracle=f"""
    SELECT event_id,
           ROUND(value * 2.0 + CAST(user_id % {_ITER_SCALE_BINS} AS DOUBLE)
                 / 10.0, 6) AS scored
    FROM {{EVENTS_REL}} e
    """.format(EVENTS_REL=EVENTS_REL),
    category="udf",
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-batches pandas UDF (SCALAR_ITER): the third Python
    UDF surface next to the per-row UDF and the per-batch pandas UDF.
    The iterator form exists for exactly one production reason —
    expensive one-time state (a model, a codec table, a compiled
    automaton) initialized ONCE per partition-task, then reused across
    every Arrow batch instead of per batch or per row.

    Here the "model" is a tiny lookup table built before the loop; the
    scoring itself is vectorized numpy per batch. The oracle computes
    the same affine transform in SQL, so batch iteration order,
    Arrow framing, and the init-once path all have to produce
    position-independent results.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        # one-time per-task init (the whole point of SCALAR_ITER)
        lookup = np.arange(_ITER_SCALE_BINS) / 10.0
        for value, user_id in batches:
            yield value * 2.0 + lookup[
                (user_id % _ITER_SCALE_BINS).to_numpy()
            ]

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(score(F.col("value"), F.col("user_id")), 6).alias("scored"),
    )


@register(
    "udtf_table_argument",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(LENGTH(text), 0)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
    category="udf",
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF with a TABLE argument (Spark 4,
    SPARK-44503 TABLE arguments + SPARK-44398 `analyze`): the fourth
    UDTF capability tier after scalar-arg UDTFs (`udtf_python_table`).
    The static `analyze()` hook receives the INPUT TABLE'S SCHEMA at
    plan time and computes the output schema from it (here: the
    `source` output column inherits whatever type the input's source
    column has) — the mechanism for schema-polymorphic table functions
    (pivots, parsers, per-group summarizers over arbitrary tables).

    `PARTITION BY source` routes whole groups through one UDTF
    instance (eval per row, terminate emits the group row) — the
    relational contract applyInPandas offers, but reachable from pure
    SQL and with plan-time schema negotiation. Scale shape: groups
    hash-partition across executors exactly like a groupBy; state per
    instance is one accumulator row.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class SourceProfile:
        @staticmethod
        def analyze(tbl: AnalyzeArgument) -> AnalyzeResult:
            (src_field,) = [
                f for f in tbl.dataType.fields if f.name == "source"
            ]
            return AnalyzeResult(
                StructType(
                    [
                        StructField("source", src_field.dataType),
                        StructField("n_docs", LongType()),
                        StructField("total_chars", LongType()),
                    ]
                )
            )

        def __init__(self):
            self.src = None
            self.n = 0
            self.chars = 0

        def eval(self, row):  # noqa: ANN001
            self.src = row["source"]
            self.n += 1
            if row["text"] is not None:
                self.chars += len(row["text"])

        def terminate(self):
            if self.n:
                yield self.src, self.n, self.chars

    spark.udtf.register("s3u_source_profile", udtf(SourceProfile))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "s3u_udtf_tablearg_docs"
    )
    return spark.sql(
        "SELECT * FROM s3u_source_profile("
        "TABLE(s3u_udtf_tablearg_docs) PARTITION BY source)"
    )
