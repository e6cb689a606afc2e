"""Parquet table catalog for the test datasets (TESTDATA.md).

The reference loads its corpus with ``pd.read_csv`` (README.md:30); the
engine reads columnar Parquet — filters and column projections push down
into the scan (check ``PushedFilters`` / ``ReadSchema`` in ``.explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return spark.read.parquet(path)


#: split keys for the hash repartition in load_table_parallel — an id
#: column gives an even, sort-free split (round-robin repartition pays
#: sortBeforeRepartition over the full rows); tables without an entry
#: fall back to round-robin
_SPLIT_KEYS = {"documents": "doc_id", "embeddings": "vec_id",
               "orders": "o_orderkey", "customer": "c_custkey",
               "part": "p_partkey", "supplier": "s_suppkey",
               "lineitem": "l_orderkey"}

#: (row_groups, num_rows) by path — ONE driver-side footer probe feeds
#: both the split floor and corpus sizing, cached so query-builder
#: loops don't re-open footers (review catch: two line-for-line probe
#: copies parsed the same footers twice per process). A failed probe is
#: cached as None, so storage pyarrow cannot read is listed once per
#: process, not once per sizing call.
_FOOTER_CACHE: dict[str, "tuple[int, int] | None"] = {}


def _parquet_footer_totals(path: str) -> "tuple[int, int] | None":
    """(total row groups, total rows) across a parquet file/directory
    via pyarrow footers (no Spark job). None when the probe cannot
    read the footprint (remote scheme pyarrow lacks, etc.)."""
    if path in _FOOTER_CACHE:
        return _FOOTER_CACHE[path]
    try:
        import pyarrow.dataset as ds

        groups = rows = 0
        for frag in ds.dataset(path, format="parquet").get_fragments():
            groups += frag.metadata.num_row_groups
            rows += frag.metadata.num_rows
        totals = (groups, rows)
    except Exception:
        totals = None
    _FOOTER_CACHE[path] = totals
    return totals


def _parquet_row_groups(path: str) -> "int | None":
    totals = _parquet_footer_totals(path)
    return None if totals is None else totals[0]


#: exact Spark-count fallbacks by path (review catch: on storage the
#: pyarrow probe can't read, an unmemoized fallback would repay a
#: distributed count job on EVERY sizing call)
_COUNT_FALLBACK_CACHE: dict[str, int] = {}


def parquet_num_rows(path: str) -> "int | None":
    """EXACT row count from parquet footers via pyarrow (no Spark job) —
    for corpus-sizing decisions (LSH bits, cell counts) that otherwise
    pay a distributed ``count()`` job for a number the footers already
    hold. None when the probe cannot read the files (remote scheme
    pyarrow lacks, etc.) — callers fall back to ``df.count()``."""
    totals = _parquet_footer_totals(path)
    return None if totals is None else totals[1]


def table_num_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a catalog table: footer probe first, Spark count
    fallback (memoized per path — exact either way)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    n = parquet_num_rows(path)
    if n is None:
        n = _COUNT_FALLBACK_CACHE.get(path)
        if n is None:
            n = load_table(spark, sf_dir, name).count()
            _COUNT_FALLBACK_CACHE[path] = n
    return n


def load_table_parallel(spark: SparkSession, sf_dir: str,
                        name: str) -> DataFrame:
    """:func:`load_table` with a scale-adaptive SPLIT FLOOR for
    map-heavy consumers (tokenize HOFs, codec encodes — interpreted
    CodegenFallback work that runs BEFORE the first shuffle).

    Parquet splits at row-group granularity, so when a table's files
    carry fewer row groups than the session has cores, no split config
    can raise the scan's parallelism and everything up to the first
    exchange runs on a handful of tasks (guide §2.6 idle capacity /
    §6 input splits — measured at sf0.1: the whole tokenize+gram build
    of repetition_signals in ONE task, 3.2 s vs 2.3 s repartitioned).
    In that case repartition to the default parallelism, hashed by the
    table's id column when one is known (sort-free, evenly spread). On
    data with real file/row-group counts — any production-sized table —
    the condition never fires and the plan is exactly load_table's.

    Scan-only consumers (codegen'd relational queries, plans with
    pinned scan shapes) should keep :func:`load_table`: for them the
    added exchange buys nothing."""
    df = load_table(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    rg = _parquet_row_groups(os.path.join(sf_dir, f"{name}.parquet"))
    if rg is None or rg >= par:
        return df
    key = _SPLIT_KEYS.get(name)
    return df.repartition(par, F.col(key)) if key else df.repartition(par)


def _events_ts_kind(path: str) -> str:
    """Driver-side parquet-footer probe for the ``ts`` column's storage:

    - ``"nanos"`` — annotated TIMESTAMP(NANOS), which Spark's reader
      rejects unless surfaced as bigint via ``nanosAsLong``;
    - ``"instant"`` — physical INT96 (legacy Spark/Hive writer default)
      or tz-adjusted micros/millis: Spark reads these as TIMESTAMP
      natively. INT96 must be detected from the PHYSICAL type — pyarrow
      reports it as ``timestamp[ns]``, indistinguishable from annotated
      NANOS at the arrow-schema level, and declaring bigint over it
      fails the read (hit when a stream re-lands events with Spark's
      default writer);
    - ``"naive"`` — plain un-adjusted MICROS/MILLIS (TIMESTAMP_NTZ).

    Uses pyarrow (no Spark job, no session conf touched); on any probe
    failure (remote FS scheme pyarrow can't open, etc.) assume nanos —
    the conservative branch still reads MICROS files correctly — but WARN,
    because the fallback sets the session-wide ``nanosAsLong`` conf in
    exactly the remote-storage case the probe could not inspect (r3
    ADVICE: a later NANOS read in the same session then silently
    surfaces as bigint instead of erroring)."""
    try:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        dset = ds.dataset(path, format="parquet")
        frag = next(iter(dset.get_fragments()), None)
        if frag is not None:
            # frag.metadata goes through the dataset's own filesystem —
            # pq.read_metadata(frag.path) would treat an s3://… key as a
            # local path and throw, collapsing remote MICROS files into
            # the nanos fallback
            pqs = frag.metadata.schema
            for i in range(len(pqs)):
                col = pqs.column(i)
                if col.name == "ts" and col.physical_type == "INT96":
                    return "instant"
        field = dset.schema.field("ts")
        if getattr(field.type, "unit", None) == "ns":
            return "nanos"
        return "instant" if getattr(field.type, "tz", None) else "naive"
    except Exception as exc:
        import warnings
        warnings.warn(
            f"events ts-unit probe failed for {path!r} ({exc!r}); assuming "
            "TIMESTAMP(NANOS) and setting spark.sql.legacy.parquet."
            "nanosAsLong for the session — later NANOS reads will surface "
            "as bigint. If the file is MICROS this is harmless.",
            RuntimeWarning, stacklevel=2)
        return "nanos"


def _events_ts_is_nanos(path: str) -> bool:
    return _events_ts_kind(path) == "nanos"


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts may be written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects at execution time. Only when the footer probe
    confirms NANOS do we set ``nanosAsLong`` (surfacing the column as
    ``bigint``) and rebuild a timestamp from it — an ordinary MICROS/MILLIS
    file never touches the session conf (r2 ADVICE: the conf was set
    unconditionally and leaked into every later read). When set, the conf
    must STAY set for this frame's lifetime — executors re-resolve the
    footer at action time — which is also why it cannot be restored in a
    ``finally``; the trade-off is documented: with the conf on, a later
    NANOS read surfaces as bigint instead of erroring. The nanos→micros
    conversion is lossless here: the driver data carries no
    sub-microsecond components (verified against DuckDB's native
    TIMESTAMP_NS read)."""
    if _events_ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # plain MICROS/MILLIS files surface as TIMESTAMP_NTZ; normalize to
        # TIMESTAMP so every downstream consumer sees one type regardless
        # of how the file was written. The session timezone is pinned to
        # UTC (session.py), so the instant is unchanged — and it matches
        # what the NANOS branch produces via timestamp_micros.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_jsonl(spark: SparkSession, path: str, *, schema=None,
               multiline: bool = False) -> DataFrame:
    """JSON-lines corpus reader — the interchange format LLM training
    corpora actually ship in (one document object per line).

    Prefer an explicit ``schema``: inference scans the data once extra and
    unions object shapes permissively. JSON scans support column pruning
    but no predicate pushdown, and each line is parsed in full even for a
    two-column projection — land long-lived corpora as Parquet
    (``df.write.parquet``) before repeated analytics. ``multiline=True``
    parses one object spanning multiple lines (whole-file records) —
    that mode cannot split files across tasks, so keep it for small
    side inputs only.
    """
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def load_csv(spark: SparkSession, path: str, *, schema=None,
             header: bool = True, sep: str = ",") -> DataFrame:
    """CSV corpus reader — S1 parity (the reference documents
    ``pd.read_csv(item_path)`` as the corpus loader, README.md:30).

    Prefer an explicit ``schema``: schema inference scans the data twice
    and infers permissive types; with a schema the read is one pass and
    malformed rows surface as nulls (PERMISSIVE mode default). CSV scans
    support column pruning but no predicate pushdown — convert long-lived
    corpora to Parquet (``df.write.parquet``) for pushdown + column
    statistics.
    """
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_orc(spark: SparkSession, path: str, *, schema=None) -> DataFrame:
    """ORC corpus reader — the other columnar format warehouse exports
    arrive in (Hive/Trino default). Spark's native ORC reader gives the
    same scan-side machinery as parquet: column pruning, predicate
    pushdown to stripe/row-group statistics (`PushedFilters` in the
    plan), and vectorized decoding — so ORC corpora can be queried
    in place rather than converted first. An explicit ``schema`` skips
    the footer-inference pass."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite",
              compression: str = "zstd") -> None:
    """ORC writer for interchange with Hive/Trino consumers. zstd
    compression by default (the modern size/speed tradeoff); use
    ``df.write.parquet`` for corpora this engine will re-read — the
    catalog and every oracle run on parquet."""
    df.write.mode(mode).option("compression", compression).orc(path)
