"""Deterministic synthetic data: interleaved docs spans, span geometry, grids, DEMs.

Everything here exists twice — as a Spark DataFrame builder and as a SQL
fragment DuckDB can run — and both sides are generated from the SAME formula
strings so the driver's oracle comparison is meaningful. All derivations are
pure functions of (doc_id, offset) or (row, col): deterministic across
partitionings and cluster sizes (the SURVEY §7 risk item — never derive from
partition id or row order).

Interleaved-docs rule (input_hint shape):
  words   = split(text, ' ')
  n_spans = ceil(n_words / 8)
  span i  = struct(kind  = 'media' if i % 5 == 4 else 'text',
                   text  = '' for media else join(words[8i:8i+8], ' '),
                   media_ref = 'media://{doc_id}/{i}' for media else '',
                   offset = i)

Span geometry rule (integer mixing, ANSI-safe at ANY doc_id scale: doc_id
is first reduced by a per-hash prime < 2^31, so every product stays below
2^31 * 2654435761 < 2^63 — a raw doc_id*K would overflow int64 from
doc_id ~ 3.5e9, far below the 10^12-doc design scale; distinct primes keep
the three hashes decorrelated for doc_ids that collide in one reduction.
For doc_id < 2^31 the reduction is the identity, so small-scale values are
unchanged):
  d1 = doc_id % 2147483647;  d2 = doc_id % 2147483629;  d3 = doc_id % 2147483587
  h1 = (d1*2654435761 + span_offset*97  + 1013904223) % 2^32
  h2 = (d2*1597334677 + span_offset*31  + 12345)      % 2^32
  h3 = (d3*2246822519 + span_offset*193 + 374761393)  % 2^32
  hot  = h1 % 10 < 3          (30% of spans land in 4 hot "cities" -> skew)
  lat  = hot ? city_lat[h1%4] + (h2%20000)/10000 - 1 : (h2 % 1800000)/10000 - 90
  lon  = hot ? city_lon[h1%4] + (h3%20000)/10000 - 1 : (h3 % 3600000)/10000 - 180

Synthetic DEM rule (smooth, ETOPO-like in range, friendly to the predictor
codecs — mirrors the reference's analytic sample surfaces, SampleFiles/README.txt):
  z(row,col) = floor(4000*sin(row*0.021)*cos(col*0.017)
             + 2000*sin(row*0.005 + col*0.003) + 100*sin(col*0.11))
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gridfour_spark.spec import GridSpec

# ---------------------------------------------------------------------------
# shared formula fragments (valid in BOTH Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

H1 = "(((doc_id % 2147483647)*2654435761 + span_offset*97 + 1013904223) % 4294967296)"
H2 = "(((doc_id % 2147483629)*1597334677 + span_offset*31 + 12345) % 4294967296)"
H3 = "(((doc_id % 2147483587)*2246822519 + span_offset*193 + 374761393) % 4294967296)"

_CITY_LAT = f"CASE ({H1} % 4) WHEN 0 THEN 40.7 WHEN 1 THEN 51.5 WHEN 2 THEN 35.7 ELSE -33.9 END"
_CITY_LON = f"CASE ({H1} % 4) WHEN 0 THEN -74.0 WHEN 1 THEN -0.1 WHEN 2 THEN 139.7 ELSE 18.4 END"

# CAST ... AS DOUBLE before any division: Spark parses `10000.0` literals as
# DECIMAL; forcing the numerator to DOUBLE makes every op IEEE binary64 in the
# same order in both dialects -> bitwise-identical results for oracle hashing.
LAT_SQL = (
    f"CAST(CASE WHEN ({H1} % 10) < 3 THEN {_CITY_LAT} + CAST({H2} % 20000 AS DOUBLE)/10000.0 - 1.0 "
    f"ELSE CAST({H2} % 1800000 AS DOUBLE)/10000.0 - 90.0 END AS DOUBLE)"
)
LON_SQL = (
    f"CAST(CASE WHEN ({H1} % 10) < 3 THEN {_CITY_LON} + CAST({H3} % 20000 AS DOUBLE)/10000.0 - 1.0 "
    f"ELSE CAST({H3} % 3600000 AS DOUBLE)/10000.0 - 180.0 END AS DOUBLE)"
)

KIND_SQL = "CASE WHEN span_offset % 5 = 4 THEN 'media' ELSE 'text' END"


def dem_sql(row_expr: str = "row", col_expr: str = "col") -> str:
    """Synthetic DEM elevation as a dialect-portable SQL expression -> INTEGER."""
    r, c = row_expr, col_expr
    return (
        f"CAST(floor(4000*sin(({r})*0.021)*cos(({c})*0.017) "
        f"+ 2000*sin(({r})*0.005 + ({c})*0.003) + 100*sin(({c})*0.11)) AS INTEGER)"
    )


def value_rule_sql(n_cols: int, row_expr: str = "row", col_expr: str = "col") -> str:
    """SampleFiles deterministic cell rule: v = row*nCols + col - 1
    (core/src/test/resources/org/gridfour/gvrs/SampleFiles/README.txt)."""
    return f"CAST(({row_expr})*{n_cols} + ({col_expr}) - 1 AS INTEGER)"


# ---------------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------------

def grid_df(spark: SparkSession, spec: GridSpec, value: str | None = "dem") -> DataFrame:
    """Dense (row, col[, value]) grid via spark.range — no data movement, the
    generator is a pure narrow map over a range scan."""
    n = spec.n_rows * spec.n_cols
    df = (
        spark.range(n)
        .withColumn("row", F.expr(f"id div {spec.n_cols}").cast("long"))
        .withColumn("col", (F.col("id") % spec.n_cols).cast("long"))
        .drop("id")
    )
    if value == "dem":
        df = df.withColumn("z", F.expr(dem_sql()))
    elif value == "rule":
        df = df.withColumn("z", F.expr(value_rule_sql(spec.n_cols)))
    return df


def grid_duckdb_sql(spec: GridSpec, value: str | None = "dem") -> str:
    """DuckDB CTE text producing the identical grid."""
    n = spec.n_rows * spec.n_cols
    zexpr = ""
    if value == "dem":
        zexpr = f", {dem_sql()} AS z"
    elif value == "rule":
        zexpr = f", {value_rule_sql(spec.n_cols)} AS z"
    return (
        f"SELECT row, col{zexpr} FROM ("
        f"SELECT CAST(range // {spec.n_cols} AS BIGINT) AS row, "
        f"CAST(range % {spec.n_cols} AS BIGINT) AS col FROM range({n}))"
    )


# --- interleaved docs ---------------------------------------------------------

def scan_parallel(df: DataFrame, key: str) -> DataFrame:
    """Deterministic keyed repartition of a SMALL-FILE scan to cluster
    width (round 8). The test tables are single-row-group parquet files, so
    Spark's split machinery cannot parallelize them: every pre-shuffle
    stage of every consumer — span explode, geometry math, minhashing,
    event bucketing — ran on ONE task however many cores the session has.
    One cheap shuffle of the raw scan (the files are a few MB) buys
    cluster-wide parallelism for everything downstream. Hash-partitioned
    on a real key, never round-robin, so the row->partition mapping is
    deterministic under retries (SPARK-38388 class of bugs); the partition
    count tracks spark.sparkContext.defaultParallelism — cluster-derived,
    not a local constant. Results are partitioning-invariant (every
    consumer aggregates or maps row-wise), which the oracle gate pins."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key)


def load_documents(
    spark: SparkSession, sf_dir: str, parallel: bool = False
) -> DataFrame:
    """parallel=True routes through scan_parallel — measured per consumer
    (round 8): a win wherever heavy per-doc work sits UPSTREAM of the
    first shuffle (span explode + geometry 2.5x, NB trigram lang_id 3.6x),
    a loss where the consumer shuffles immediately or re-scans the file
    many times (near_dup's LSH pipeline measured 2.6x WORSE with a
    blanket repartition), so the default stays plain."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return scan_parallel(df, "doc_id") if parallel else df


def docs_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded interleaved spans: (doc_id, offset, kind, text, media_ref).

    One narrow generator stage over a cluster-width scan: split ->
    explode(sequence) -> slice. No UDF; at 10^12 docs the input is many
    files and the repartition inside load_documents(parallel=True) is a
    no-op cost next to the explode it parallelizes (here it undoes the
    single-row-group test files' one-task ceiling).
    """
    docs = load_documents(spark, sf_dir, parallel=True)
    # coalesce makes n_spans non-nullable, so no isnotnull(n_spans) filter
    # is pushed below the words projection (the pushed filter re-evaluated
    # split(text) once more per doc — round-8 plan audit); a NULL text row
    # would still emit nothing (n_spans=0 -> span_offset 0 < 0 fails), the
    # same as the DuckDB twin's generate_series(NULL) emitting no rows.
    df = (
        docs.select(
            "doc_id",
            F.split(F.col("text"), " ").alias("words"),
            # `words` is a lateral alias: one analysis for both columns
            F.coalesce(F.expr("CAST((size(words) + 7) div 8 AS INT)"), F.lit(0)).alias("n_spans"),
        )
        .withColumn("span_offset", F.explode(F.expr("sequence(0, greatest(n_spans - 1, 0))")))
        .filter(F.col("span_offset") < F.col("n_spans"))
    )
    df = df.select(
        "doc_id",
        F.col("span_offset").cast("int").alias("span_offset"),
        F.expr(KIND_SQL).alias("kind"),
        F.expr(
            "CASE WHEN span_offset % 5 = 4 THEN '' "
            "ELSE array_join(slice(words, span_offset*8 + 1, 8), ' ') END"
        ).alias("text"),
        F.expr(
            "CASE WHEN span_offset % 5 = 4 THEN concat('media://', CAST(doc_id AS STRING), '/', CAST(span_offset AS STRING)) "
            "ELSE '' END"
        ).alias("media_ref"),
    )
    return df


def docs_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint-shaped table: (doc_id, spans:array<struct<kind,text,media_ref,offset>>).

    Built with transform() over a per-doc index sequence — order inside the
    array is by construction the offset order (span-sequence invariant).

    Round 8: `words` is a separate projection referenced by the lambda, not
    split(text) inlined into it — higher-order functions evaluate their
    lambda body PER ELEMENT (interpreted, no codegen CSE), so the inlined
    form re-split the whole document once per span: O(n_words^2 / 8) per
    doc (round-start span_invariant plan shows split() inside the
    lambdafunction). CollapseProject keeps the two projections apart
    because `words` is non-cheap and multiply-referenced (SPARK-36718)."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.split(F.col("text"), " ").alias("words"),
    ).select(
        "doc_id",
        F.expr(
            """
            transform(
              sequence(0, CAST((size(words) + 7) div 8 AS INT) - 1),
              i -> named_struct(
                'kind',      CASE WHEN i % 5 = 4 THEN 'media' ELSE 'text' END,
                'text',      CASE WHEN i % 5 = 4 THEN ''
                             ELSE array_join(slice(words, i*8 + 1, 8), ' ') END,
                'media_ref', CASE WHEN i % 5 = 4
                             THEN concat('media://', doc_id, '/', CAST(i AS STRING))
                             ELSE '' END,
                'offset',    CAST(i AS INT)))
            """
        ).alias("spans"),
    )


DOCS_SPANS_DUCKDB = """
SELECT
  doc_id,
  CAST(i AS INTEGER) AS span_offset,
  CASE WHEN i % 5 = 4 THEN 'media' ELSE 'text' END AS kind,
  CASE WHEN i % 5 = 4 THEN ''
       ELSE array_to_string(list_slice(words, i*8 + 1, i*8 + 8), ' ') END AS text,
  CASE WHEN i % 5 = 4 THEN 'media://' || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
       ELSE '' END AS media_ref
FROM (
  SELECT doc_id, words,
         unnest(generate_series(0, CAST((len(words) + 7) // 8 AS INTEGER) - 1)) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
)
"""


def with_span_geometry(df: DataFrame) -> DataFrame:
    """Append deterministic (lat, lon) derived ONLY from (doc_id, offset)."""
    return df.withColumns({"lat": F.expr(LAT_SQL), "lon": F.expr(LON_SQL)})


def span_geometry_duckdb(inner: str = DOCS_SPANS_DUCKDB) -> str:
    return f"SELECT *, {LAT_SQL} AS lat, {LON_SQL} AS lon FROM ({inner})"
