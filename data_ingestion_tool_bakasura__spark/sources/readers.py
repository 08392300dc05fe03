"""Batch + streaming sources.

Reference parity: the reference's only source is an uploader capped at
10 PDFs held in memory (``main.py:226-228,271-273``, A1/A2 in SURVEY
§2). Spark-first replacement: ``binaryFile`` scans for raw documents and
columnar formats (parquet/csv/json/text) for tabular data, both batch
and streaming, with no file-count cap — the source is a distributed
scan, not a driver-side loop.

Scale notes (100 TB): all readers here return lazy DataFrames, so
column pruning and predicate pushdown reach the parquet footers
(`PushedFilters`/`ReadSchema` in `.explain`). `binaryFile` rows carry
whole file bodies — cap per-task bytes with
``spark.sql.files.maxPartitionBytes`` and prefer many medium files over
few giant ones; for 100 TB of raw docs, land them as parquet with a
binary column (see `multimodal/`) so scans split within files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Driver fixture tables (TESTDATA.md): one parquet file per table.
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to ``TimestampType`` regardless of
    how the parquet logical type surfaced in this Spark session.

    Fixture generators have shipped ``ts`` under three encodings, and a
    watermark (`withWatermark`) accepts only ``TIMESTAMP``:

    - ``INT64 (TIMESTAMP(NANOS))`` read as ``LongType`` under
      ``spark.sql.legacy.parquet.nanosAsLong`` — integer-divide to
      microseconds (a double division would lose precision at 1e18 ns
      magnitudes) and rebuild with ``timestamp_micros``.
    - ``timestamp[us]`` without a timezone read as ``TIMESTAMP_NTZ`` —
      cast to ``TIMESTAMP``; under a UTC session timezone the wall-clock
      values are preserved, matching the DuckDB oracle's naive-timestamp
      semantics. The cast resolves the session timezone at EXECUTION
      time (the plan is lazy), so this function cannot fix a non-UTC
      session by temporarily setting the conf here — it validates
      instead and raises, rather than silently mutating the caller's
      global session timezone (ADVICE r6) or silently shifting wall
      clocks. :func:`load_table` pins UTC before calling; a direct
      caller on a deliberately non-UTC session must opt in the same way.
    - ``TIMESTAMP`` (LTZ) — passthrough.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        raise ValueError(
            "normalize_event_ts: event-time semantics are defined under a UTC "
            f"session timezone, but spark.sql.session.timeZone={tz!r}. Set it "
            "to 'UTC' (load_table does this) before normalizing — the NTZ cast "
            "resolves the timezone at execution time, so a non-UTC session "
            "would silently shift wall clocks."
        )
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` is normalized to ``TimestampType`` for every encoding
    the fixture has shipped under (see :func:`normalize_event_ts`).

    The confs are set here (runtime-settable) rather than relying on the
    session builder, so the reader works under ANY caller-provided
    SparkSession — without ``nanosAsLong`` a nanos-encoded events scan
    dies with ``PARQUET_TYPE_ILLEGAL: INT64 (TIMESTAMP(NANOS))``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp semantics (window starts, date_format) are defined in
    # UTC — also runtime-settable, so pin it for caller sessions too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def register_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (SQL-layer entry)."""
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None, streaming: bool = False
) -> DataFrame:
    """Raw-document source: DataFrame(path, modificationTime, length, content).

    Batch (`spark.read.format("binaryFile")`) or incremental
    (`readStream`) over the same directory; the streaming variant is the
    Spark-first replacement for the reference's re-upload loop.
    """
    reader = spark.readStream if streaming else spark.read
    r = reader.format("binaryFile")
    if streaming:
        # streaming sources require an explicit schema; binaryFile's is fixed
        r = r.schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    opts = {"header": "true", "inferSchema": "false", **options}
    r = spark.read.options(**opts)
    if schema is not None:
        r = r.schema(schema)
    return r.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    r = spark.read.options(**options)
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


CORRUPT_COL = "_corrupt_record"


def read_json_with_errors(
    spark: SparkSession, path: str, schema, **options
) -> tuple[DataFrame, DataFrame]:
    """JSON source with a per-record error channel: returns
    ``(good, bad)`` where ``bad`` carries the raw text of every
    malformed line. The reference's per-file try/except isolation
    (SURVEY A3, ``embedding_utils.py``) done Spark-first: PERMISSIVE
    parse keeps the job alive at 100 TB — one corrupt line among
    billions must cost one quarantined row, not a failed stage — and
    the quarantine is a DataFrame you can count, sample, and land next
    to the table for replay.

    The caller's ``schema`` must NOT declare ``_corrupt_record``; it is
    added here. Formulation: ``text`` scan + ``from_json`` rather than
    the raw-JSON reader's corrupt-record column — Spark disallows
    querying that column without caching the whole parse
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and caching
    the input is exactly what you can't do at 100 TB. ``from_json``
    keeps the parse lazy, per-row, and the quarantine carries the raw
    line verbatim.

    Blank/whitespace-only lines are SKIPPED, not parsed (r16 review,
    reproduced): ``from_json`` maps them to a NULL struct whose
    corrupt field is also null, so they classified as GOOD and emitted
    phantom all-null rows — the built-in JSON reader skips them, and
    so do we. The filter keeps lines containing ANY non-whitespace
    (``rlike '\\S'`` — ``F.trim`` strips only ASCII spaces, so a
    tab-only line slipped the first version of this fix). A literal
    ``null`` line or a bare scalar still lands in the quarantine.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    full = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL, **options}
    lines = spark.read.text(path).filter(F.col("value").rlike(r"\S"))
    parsed = lines.select(
        "value", F.from_json("value", full, opts).alias("_r")
    )
    good = parsed.filter(F.col(f"_r.{CORRUPT_COL}").isNull()).select("_r.*").drop(
        CORRUPT_COL
    )
    bad = parsed.filter(F.col(f"_r.{CORRUPT_COL}").isNotNull()).select(
        F.col("value").alias("raw")
    )
    return good, bad


def read_csv_with_errors(
    spark: SparkSession, path: str, schema, header: bool = False, **options
) -> tuple[DataFrame, DataFrame]:
    """CSV twin of :func:`read_json_with_errors`: ``(good, bad)`` via a
    text scan + ``from_csv`` in PERMISSIVE mode — same lazy quarantine
    contract, same reason for avoiding the raw reader's corrupt column.
    With ``header=True`` the header line is dropped by value match (a
    text scan has no header notion; the match is exact, so a data row
    identical to the header — necessarily all-string — would also drop).

    Empty lines are SKIPPED, not parsed (r16 review, reproduced —
    same phantom-all-null-row hole as the JSON twin; the built-in CSV
    reader skips them too). A whitespace-only line is NOT skipped: it
    is a candidate single-column value and parses or quarantines on
    its own merits. Quoted multi-line records are out of contract —
    the text scan is line-oriented; use ``read_csv`` with
    ``multiLine=true`` for those.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    full = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL, **options}
    lines = spark.read.text(path).filter(F.col("value") != "")
    if header:
        hdr = ",".join(f.name for f in schema.fields)
        lines = lines.filter(F.col("value") != hdr)
    parsed = lines.select(
        "value", F.from_csv("value", full.simpleString(), opts).alias("_r")
    )
    good = parsed.filter(F.col(f"_r.{CORRUPT_COL}").isNull()).select("_r.*").drop(
        CORRUPT_COL
    )
    bad = parsed.filter(F.col(f"_r.{CORRUPT_COL}").isNotNull()).select(
        F.col("value").alias("raw")
    )
    return good, bad


def read_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    return spark.read.text(path, wholetext=whole)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC source (built-in, columnar): same pushdown/pruning contract
    as parquet — predicates and column selection reach the scan."""
    return spark.read.options(**options).orc(path)
