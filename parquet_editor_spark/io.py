"""Sources and sinks — the reference's four formats, Spark-first.

Reference surface (SURVEY.md §2.1): extension-dispatched eager
``pd.read_csv/read_excel/read_json/read_parquet`` on load
(main.py:67-76; main.pyc:313-320) and ``df.to_*`` on save
(main.py:79-86; main.pyc:350-357).

Here load is a **lazy** Spark scan (the Catalyst logical plan is the
IR; nothing executes until an action), and save is a distributed
writer. Parquet is the first-class path — columnar, self-describing
schema, predicate/column pushdown for free. CSV/JSON are supported
both as scalable directory datasets and, for editor parity, as
single files. Excel has no Spark datasource; it takes the guarded
small-result pandas path over Arrow.
"""

from __future__ import annotations

import glob
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

#: extension → canonical format name (dispatch mirrors main.pyc:313-320)
_EXT_FMT = {
    ".csv": "csv",
    ".tsv": "csv",
    ".xlsx": "excel",
    ".xls": "excel",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".parquet": "parquet",
    ".pq": "parquet",
    ".orc": "orc",
    ".avro": "avro",
}

#: soft cap for driver-side collect paths (Excel sink, single-file sinks)
SMALL_RESULT_ROWS = 1_000_000

#: byte cap for driver-side LOAD fallbacks (xlsx / jar-less avro): these
#: readers materialize the whole file on the driver, so refuse anything
#: that plainly is not editor-scale spreadsheet/container data
SMALL_SOURCE_BYTES = 256 * 1024 * 1024


def _guard_small_source(path: str, what: str) -> None:
    try:
        size = os.path.getsize(path)
    except OSError:
        return  # let the reader surface the real error
    if size > SMALL_SOURCE_BYTES:
        raise ValueError(
            f"{what} fallback reads driver-side; {path!r} is "
            f"{size} bytes (> {SMALL_SOURCE_BYTES}). Convert to "
            "parquet (or install the native reader) for data this size"
        )


def detect_format(path: str) -> str:
    root, ext = os.path.splitext(path.rstrip("/"))
    fmt = _EXT_FMT.get(ext.lower())
    if fmt is None:
        # directory dataset: sniff the first data file
        for f in sorted(glob.glob(os.path.join(path, "*"))):
            inner = _EXT_FMT.get(os.path.splitext(f)[1].lower())
            if inner:
                return inner
        raise ValueError(f"cannot infer format for {path!r}")
    return fmt


def load(
    spark: SparkSession,
    path: str,
    fmt: Optional[str] = None,
    schema=None,
) -> DataFrame:
    """Extension-dispatched scan (reference: main.pyc:307-324).

    Lazy for parquet/orc/csv/json; Excel (no Spark source) reads
    driver-side via pandas and enters Spark over Arrow.
    """
    fmt = fmt or detect_format(path)
    if fmt == "parquet":
        r = spark.read
        return (r.schema(schema) if schema else r).parquet(path)
    if fmt == "orc":
        r = spark.read
        return (r.schema(schema) if schema else r).orc(path)
    if fmt == "csv":
        # .tsv dispatches to the csv source WITH its delimiter — a bare
        # csv read of a tab file silently yields one mangled column
        sep = "\t" if path.lower().endswith(".tsv") else ","
        r = spark.read.option("header", True).option("sep", sep)
        return r.schema(schema).csv(path) if schema else r.option("inferSchema", True).csv(path)
    if fmt == "json":
        return _load_json(spark, path, schema)
    if fmt == "excel":
        return _load_excel(spark, path)
    if fmt == "avro":
        return _load_avro(spark, path, schema)
    raise ValueError(f"unsupported format {fmt!r}")


def _load_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON dialect bridge (SURVEY.md §7 hard part b).

    Spark reads JSON-lines; the reference's ``pd.read_json``
    (main.py:72-73) defaults to a single columns-oriented object.
    Try the scalable JSON-lines scan first; if every record lands in
    ``_corrupt_record``, fall back to pandas for the legacy dialect.
    """
    from pyspark.sql import types as T

    r = spark.read
    df = (r.schema(schema) if schema else r).json(path)
    bad_only = set(df.columns) <= {"_corrupt_record"}
    # pandas columns-orient = one top-level object of {col: {label: val}};
    # Spark sees exactly one row whose every field is a struct.
    looks_pandas_orient = (
        not bad_only
        and df.schema.fields
        and all(isinstance(f.dataType, T.StructType) for f in df.schema.fields)
        and df.limit(2).count() == 1
    )
    if not (bad_only or looks_pandas_orient):
        return df
    import pandas as pd

    return spark.createDataFrame(pd.read_json(path))


def _load_avro(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Avro scan. Spark's avro source is an external module
    (spark-avro) since 2.4 — with the jar on the classpath this is a
    plain lazy distributed scan.  Without the jar (r6): a MULTI-file
    dataset decodes DISTRIBUTED — ``binaryFile`` rows map through the
    dependency-free container codec executor-side, one task per file,
    bytes never on the driver; only the schema probe reads one file
    driver-side.  A single file keeps the guarded driver small path
    (per-file parallelism has nothing to parallelize there)."""
    import glob as _glob
    import os

    from pyspark.errors import AnalysisException

    r = spark.read.format("avro")
    if schema:
        r = r.schema(schema)
    try:
        return r.load(path)
    except AnalysisException as e:
        if "Failed to find data source" not in str(e):
            raise
        from .sources.avro import read_avro

        if os.path.isdir(path):
            members = sorted(
                p for p in _glob.glob(os.path.join(path, "*.avro"))
            ) or sorted(
                p for p in _glob.glob(os.path.join(path, "*"))
                if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
            )
        else:
            members = sorted(_glob.glob(path))
        if len(members) > 1:
            return _load_avro_distributed(spark, members, schema)
        _guard_small_source(path, "jar-less avro")
        target = members[0] if members else path
        pdf = read_avro(target)
        if schema is None:
            # the container header's embedded avro.schema is
            # authoritative — data inference breaks on all-null
            # columns (r7 ADVICE)
            from .sources.avro import spark_schema_for

            schema = spark_schema_for(target)
        return spark.createDataFrame(pdf, schema=schema)


def _load_avro_distributed(spark: SparkSession, members, schema) -> DataFrame:
    """Jar-less distributed Avro: schema from ONE member's container
    HEADER (every member must share it — standard Avro dataset
    contract), then ``binaryFile`` → ``mapInPandas`` decode, one task
    per file.  The probe parses only the header's embedded
    avro.schema JSON with incremental reads (r7 ADVICE): no row is
    ever decoded driver-side, the member body never lands in driver
    memory, and an all-null leading column cannot break inference
    the way a data probe could."""
    from .sources.avro import decode_avro, spark_schema_for

    if schema is None:
        schema = spark_schema_for(members[0])
    names = [f.name for f in schema.fields]

    def run(batches):
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                out = decode_avro(bytes(content), origin=str(path_))
                missing = [c for c in names if c not in out.columns]
                if missing:
                    raise ValueError(
                        f"{path_}: avro member missing columns {missing}"
                    )
                yield out[names]

    files = (
        spark.read.format("binaryFile")
        .load([str(m) for m in members])
        .select("path", "content")
    )
    return files.mapInPandas(run, schema=schema)


def _load_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel scan (main.py:70-71) — first sheet.

    openpyxl gives full fidelity when installed; without it the
    dependency-free SpreadsheetML reader (sources/xlsx.py) covers the
    editor's single-sheet contract.  A DIRECTORY of .xlsx files (r6)
    decodes DISTRIBUTED like the jar-less avro path: schema from one
    driver-side probe file, then binaryFile rows decode executor-side,
    one task per file — a real corpus of spreadsheet exports stops
    being driver-bound.  Single files keep the guarded small path."""
    import glob as _glob
    import os

    import pandas as pd

    if os.path.isdir(path):
        members = sorted(_glob.glob(os.path.join(path, "*.xlsx")))
        if len(members) > 1:
            return _load_excel_distributed(spark, members)
        if members:
            path = members[0]
    _guard_small_source(path, "Excel")
    try:
        pdf = pd.read_excel(path)
    except ImportError:  # openpyxl/xlrd not in the image
        from .sources.xlsx import read_xlsx

        pdf = read_xlsx(path)
    return spark.createDataFrame(pdf)


def _load_excel_distributed(spark: SparkSession, members) -> DataFrame:
    """Multi-file Excel: one probe file infers the schema driver-side,
    then ``binaryFile`` → ``mapInPandas`` decodes each member on the
    executors (openpyxl when importable there, else the dependency-free
    SpreadsheetML codec — both accept in-memory bytes).

    Probe bounds (r7/r8 ADVICE): ``nrows`` limits only the DataFrame
    conversion — openpyxl (and the fallback codec) still parse the
    whole workbook XML — so the REAL driver-memory bound is the size
    guard, applied before the probe bytes are read on either path.
    Because of that, the old (100, 1000, None) escalation loop was
    re-parsing the whole workbook up to 3×; the probe now does ONE
    full decode (the guard has already capped that cost).  A column
    that is all-null across the ENTIRE member has no value anywhere
    to infer from, so it is pinned to a nullable StringType instead
    of letting createDataFrame die with CANNOT_DETERMINE_TYPE."""
    import io as _io

    import pandas as pd

    def decode(data: bytes, nrows: int | None = None) -> pd.DataFrame:
        try:
            return pd.read_excel(_io.BytesIO(data), nrows=nrows)
        except ImportError:
            from parquet_editor_spark.sources.xlsx import read_xlsx

            out = read_xlsx(_io.BytesIO(data))
            return out.head(nrows) if nrows is not None else out

    _guard_small_source(members[0], "Excel schema probe")
    with open(members[0], "rb") as f:
        probe_bytes = f.read()
    probe = decode(probe_bytes)  # one parse only
    if probe.empty and len(probe.columns):
        raise ValueError(
            f"{members[0]}: schema probe member has headers but no "
            "rows — cannot infer column types; write at least one "
            "data row into the first member"
        )
    null_cols = {c for c in probe.columns if probe[c].isna().all()}
    if null_cols:
        probe = probe.copy()
        for c in null_cols:
            probe[c] = ""  # infer as StringType; re-marked nullable below
    schema = spark.createDataFrame(probe).schema
    if null_cols:
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField(
                    f.name, f.dataType, f.nullable or f.name in null_cols
                )
                for f in schema.fields
            ]
        )
    names = [f.name for f in schema.fields]

    def run(batches):
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                out = decode(bytes(content))
                missing = [c for c in names if c not in out.columns]
                if missing:
                    raise ValueError(
                        f"{path_}: xlsx member missing columns {missing}"
                    )
                out = out[names]
                if null_cols:
                    # probe-all-null columns were pinned to StringType;
                    # other members may carry NaN floats (or values) in
                    # them — stringify so Arrow can build the batch.
                    out = out.copy()
                    for c in null_cols:
                        out[c] = out[c].map(
                            lambda v: None if pd.isna(v) else str(v)
                        )
                yield out

    files = (
        spark.read.format("binaryFile")
        .load([str(m) for m in members])
        .select("path", "content")
    )
    return files.mapInPandas(run, schema=schema)


def save(
    df: DataFrame,
    path: str,
    fmt: Optional[str] = None,
    mode: str = "overwrite",
    partition_by: Optional[list[str]] = None,
    single_file: bool = False,
) -> None:
    """Extension-dispatched sink (reference: main.pyc:344-360).

    Default is the distributed directory writer (the 100 TB path —
    one file per task, optional hive-style ``partition_by`` so later
    scans get partition pruning). ``single_file=True`` gives the
    reference's one-file-on-disk behavior via a guarded driver-side
    pandas write. We deliberately do NOT write the pandas index
    artifact the reference's ``to_csv`` emits (main.py:79-80) —
    documented divergence, SURVEY.md §2.1.
    """
    fmt = fmt or detect_format(path)
    if single_file or fmt == "excel":
        return _save_single(df, path, fmt)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "orc":
        w.orc(path)
    elif fmt == "csv":
        sep = "\t" if path.lower().endswith(".tsv") else ","
        w.option("header", True).option("sep", sep).csv(path)
    elif fmt == "json":
        w.json(path)
    elif fmt == "avro":
        from pyspark.errors import AnalysisException

        try:
            w.format("avro").save(path)
        except AnalysisException as e:
            if "Failed to find data source" not in str(e):
                raise
            # no spark-avro jar: guarded single-file fallback writer.
            # It can only honor overwrite-into-one-file semantics —
            # refuse loudly rather than silently dropping the caller's
            # mode/partitioning contract
            if mode != "overwrite" or partition_by:
                raise NotImplementedError(
                    "jar-less avro fallback supports only "
                    "mode='overwrite' without partition_by; install "
                    "spark-avro for full writer semantics"
                ) from e
            _save_single(df, path, "avro")
    else:
        raise ValueError(f"unsupported format {fmt!r}")


def _save_single(df: DataFrame, path: str, fmt: str) -> None:
    """Editor-parity single-file sink via Arrow ``toPandas``.

    Guarded: refuses to collect more than SMALL_RESULT_ROWS so a
    mis-aimed call can't OOM the driver at scale.
    """
    n = df.limit(SMALL_RESULT_ROWS + 1).count()
    if n > SMALL_RESULT_ROWS:
        raise ValueError(
            f"single-file save of {n}+ rows exceeds the driver-side cap "
            f"({SMALL_RESULT_ROWS}); use the distributed writer instead"
        )
    pdf = df.toPandas()
    if fmt == "parquet":
        pdf.to_parquet(path, index=False)
    elif fmt == "csv":
        pdf.to_csv(
            path,
            index=False,
            sep="\t" if path.lower().endswith(".tsv") else ",",
        )
    elif fmt == "json":
        pdf.to_json(path, orient="records", lines=True)
    elif fmt == "excel":
        try:
            pdf.to_excel(path, index=False)
        except (ImportError, ModuleNotFoundError):
            # no openpyxl: dependency-free single-sheet writer
            from .sources.xlsx import write_xlsx

            write_xlsx(pdf, path)
    elif fmt == "avro":
        from .sources.avro import write_avro

        write_avro(pdf, path)
    else:
        raise ValueError(f"unsupported format {fmt!r}")


def _type_has_nanos(t) -> bool:
    """Recursive pyarrow-type walk: TIMESTAMP(NANOS) anywhere —
    top-level, struct field, list/map element."""
    import pyarrow.types as pa_t

    if pa_t.is_timestamp(t) and t.unit == "ns":
        return True
    if pa_t.is_struct(t):
        return any(_type_has_nanos(f.type) for f in t)
    if pa_t.is_list(t) or pa_t.is_large_list(t) or pa_t.is_fixed_size_list(t):
        return _type_has_nanos(t.value_type)
    if pa_t.is_map(t):
        return _type_has_nanos(t.key_type) or _type_has_nanos(t.item_type)
    return False


#: max per-directory footers the nanos probe reads before giving up
#: and taking the always-correct tolerant path
_NANOS_PROBE_MAX_FILES = 32


def _footer_nanos_cols(path: str):
    """Driver-side footer probe: the set of TOP-LEVEL column names
    whose type carries TIMESTAMP(NANOS) anywhere (nested included),
    or ``None`` when the probe can't tell (failure, unreadable
    footer, directory over the probe budget).  Reads one footer per
    file (~ms each) so the tolerant-scan wrapper can skip its conf
    fiddling on the (common) all-µs datasets — and so the nano→µs
    rebuild targets only columns the footer actually marked NANOS
    (a plain int64 column that merely SHARES a name with the usual
    timestamp column must pass through untouched)."""
    try:
        import pyarrow.parquet as pa_pq

        files = [path]
        if os.path.isdir(path):
            files = [
                os.path.join(path, p)
                for p in os.listdir(path)
                if p.endswith(".parquet") and not p.startswith(("_", "."))
            ]
            if not files or len(files) > _NANOS_PROBE_MAX_FILES:
                return None
        cols = set()
        for f in files:
            for fld in pa_pq.read_schema(f):
                if _type_has_nanos(fld.type):
                    cols.add(fld.name)
        return cols
    except Exception:
        return None


def load_parquet_nanos(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan tolerant of TIMESTAMP(NANOS) columns.

    Spark has no nanosecond timestamp type and rejects NANOS parquet
    columns outright (PARQUET_TYPE_ILLEGAL). With
    ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as a
    LongType of epoch-nanos; we convert to a microsecond timestamp via
    integer division (``DIV 1000`` — double division would lose
    precision at 1e18 magnitudes). Sub-microsecond precision is
    truncated; events.parquet carries µs-resolution values so the
    conversion is lossless there (FIXTURES.md events.ts).

    When the footer shows no NANOS column the scan passes straight
    through to the stock parquet reader — no conf round-trips, no
    rebuild projection — so the tolerant wrapper costs nothing on
    ordinary datasets."""
    from pyspark.sql import functions as F

    nanos_cols = _footer_nanos_cols(path)
    if nanos_cols is not None and not nanos_cols:
        return spark.read.parquet(path)
    # get_spark() already sets this at build time; this fallback covers
    # externally-built sessions (e.g. the driver's) and is idempotent.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # Convenience conversion for the conventional 'ts' column — but
    # ONLY when the footer marked that column NANOS (or the probe was
    # inconclusive): an int64 of epoch-millis that merely shares the
    # name must not be silently divided by 1000.
    ts_is_nanos = nanos_cols is None or "ts" in nanos_cols
    if ts_is_nanos and dict(df.dtypes).get("ts") == "bigint":
        # cast to NTZ to match Spark's default parquet timestamp mapping
        # (other tables' timestamps arrive as timestamp_ntz)
        # wall-clock arithmetic, NOT cast("timestamp_ntz"): the cast goes
        # through the session timezone, which an external driver controls
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts DIV 1000,"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    return df


def empty(spark: SparkSession, schema: str) -> DataFrame:
    """Fresh empty table (``pd.DataFrame()``, main.pyc:285-287)."""
    return spark.createDataFrame([], schema)


def compact_files(
    spark: SparkSession,
    path: str,
    target_files: Optional[int] = None,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction — the table-maintenance op every
    long-running ingest needs: streaming sinks and per-task writers
    leave many small files; scans then pay per-file open/footer cost.
    Rewrites the dataset into ``target_files`` (default: size-based,
    ~128 MB each) via coalesce (no shuffle) and an atomic
    directory swap. Returns the new file count."""
    import shutil
    import uuid

    df = load(spark, path, fmt)
    if target_files is None:
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
        )
        target_files = max(1, size // (128 * 1024 * 1024))
    tmp = f"{path.rstrip('/')}._compact_{uuid.uuid4().hex[:8]}"
    df.coalesce(target_files).write.mode("overwrite").format(fmt).option(
        "header", True
    ).save(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return len(
        [f for f in os.listdir(path) if not f.startswith(("_", "."))]
    )


def save_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: Optional[int] = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Range-clustered write for data skipping: rows range-partition
    on ``cluster_by`` (one narrow, non-overlapping key slice per task)
    and sort within each task, so every output file's parquet footer
    carries tight min/max statistics on the cluster keys. A later scan
    filtered on those keys prunes whole files and row groups instead
    of reading 100 TB to answer a one-day query — linear clustering,
    the 1-D case of Z-ordering (for independent multi-column
    predicates, bucket or interleave upstream instead).

    The range boundaries come from Spark's reservoir sampling of the
    keys, so files stay balanced even on skewed distributions."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cluster_by]
    part = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    part.sortWithinPartitions(*cols).write.mode(mode).format(fmt).save(path)


def save_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    keys: list[str],
    sort_by: Optional[list[str]] = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED catalog table: rows hash-partitioned into
    ``n_buckets`` files per partition on ``keys`` at write time, so any
    later join/agg on those keys between same-bucketed tables needs NO
    shuffle — the 100 TB answer to repeatedly-joined fact tables.
    (Plain ``save`` paths can't carry bucket metadata; this goes
    through the session catalog / warehouse dir.)"""
    spark = df.sparkSession
    if mode == "overwrite":
        # a fresh session's catalog doesn't know tables whose files
        # survive in the warehouse dir from a previous process — drop
        # both the catalog entry and any orphaned location
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        import shutil

        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(os.path.join(warehouse, table.lower()), ignore_errors=True)
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def load_binary_dir(
    spark: SparkSession,
    path: str,
    glob: Optional[str] = None,
    max_bytes: Optional[int] = None,
) -> DataFrame:
    """Raw-file ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content) —
    the front door for multimodal corpora (image/audio/video dumps)
    before :mod:`operators.multimodal` wraps the bytes as typed
    payloads.

    Distributed by construction: files are listed and read by
    executors (the driver never touches content), partitioned by
    Spark's file-splitting over whole files. ``glob`` filters by
    pattern (e.g. ``*.png``); ``max_bytes`` pushes a length filter so
    oversized blobs never leave the scan."""
    from pyspark.sql import functions as F

    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def load_text(
    spark: SparkSession,
    path: str,
    whole: bool = False,
    line_sep: Optional[str] = None,
) -> DataFrame:
    """Raw text ingestion via Spark's ``text`` source: one row per
    line (``value``), or one row per FILE with ``whole=True``
    (wholetext — the shape a document corpus wants before tokenize/
    quality/dedup). Splittable by line in the default mode, so a
    single giant file still parallelizes; wholetext files are atomic
    rows and parallelize across files."""
    return spark.read.text(path, wholetext=whole, lineSep=line_sep)


def load_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution scan: a long-lived dataset grows columns over
    time, so different parquet files carry different (compatible)
    schemas. ``mergeSchema`` unions the footers — files written before
    a column existed read it as NULL. Off by default in Spark because
    footer-merging costs a pass over file metadata at planning time;
    turn it on per-read here, not globally."""
    return spark.read.option("mergeSchema", True).parquet(path)


def scan_stats(path: str, columns: Optional[list[str]] = None):
    """Data-skipping audit: per row group, the parquet footer's
    min/max/null-count for the given columns (default: all leaf
    columns) plus file and row counts — the report that shows whether
    a clustered write (``save_clustered`` Z-order/Hilbert) actually
    produced skippable row groups, and what fraction of row groups a
    given predicate could prune.

    Metadata only: reads footers, never data pages.  Driver-side and
    O(row groups) by design — run it on a partition directory or a
    manifest subset at 100 TB scale, the same way any table-format
    maintenance job audits clustering health.  Returns a pandas
    DataFrame (one row per (file, row_group, column))."""
    import pandas as pd
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    ds = pads.dataset(path, format="parquet")
    rows = []
    for f in ds.files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if columns is not None and name not in columns:
                    continue
                st = col.statistics
                rows.append(
                    {
                        "file": f,
                        "row_group": rg,
                        "column": name,
                        "n_rows": g.num_rows,
                        "min": None if st is None else st.min,
                        "max": None if st is None else st.max,
                        "n_nulls": None if st is None else st.null_count,
                    }
                )
    return pd.DataFrame(
        rows,
        columns=[
            "file", "row_group", "column", "n_rows", "min", "max", "n_nulls"
        ],
    )


def skippable_fraction(
    path: str, column: str, lo, hi
) -> float:
    """Fraction of row groups a ``column BETWEEN lo AND hi`` predicate
    can skip using footer min/max alone — the single number that
    grades clustering quality (≈0 on unsorted data, →1 after a
    Z-order/Hilbert/range-sorted write for range predicates on the
    clustering keys)."""
    stats = scan_stats(path, [column])
    if len(stats) == 0:
        return 0.0
    skippable = sum(
        1
        for _, r in stats.iterrows()
        if r["min"] is not None and (r["min"] > hi or r["max"] < lo)
    )
    return skippable / len(stats)
