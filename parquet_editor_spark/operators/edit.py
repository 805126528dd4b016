"""Positional editor operators over an explicit ``__rid`` ordinal.

The reference addresses every cell positionally — ``df.iloc[row, col]``
for reads/writes (main.py:29,35; main.pyc:63,71-74), ``df.index[pos]``
for row drops (main.py:50; main.pyc:125), 1-based positions in the
vertical header (main.pyc:85-86). Spark has no stable row positions,
so positional identity is materialized as a ``__rid`` LongType column
and every editor op is a pure transformation keyed on it.

Scale design (SURVEY.md §4 "custom work"):

* ``with_rid`` NEVER uses a global ``row_number()`` window — that is a
  single-partition sort, the canonical 100 TB anti-pattern. Instead it
  uses the zip-with-index decomposition entirely in the JVM:
  ``monotonically_increasing_id`` (partition index + local rank) is
  pinned by a persist, per-partition counts (a #partitions-row
  aggregate) give cumulative offsets broadcast to every task, and
  the ordinal is id minus a per-partition delta. O(n) work, no data
  shuffle, no Python worker. The FINISHED ``__rid`` frame is what
  stays pinned: it is persisted and built once at ``with_rid`` time,
  the id pin is released, and every later view, edit, save and plot
  plans from a cached leaf that already holds ``__rid`` instead of
  re-running the offset join. ``EditorSession`` binds that frame in
  place of the table, so its binding history owns the pin.
* ``ordered_rid`` (rank by key columns) range-partitions first —
  Spark's sampled range partitioner — then applies the same offset
  trick, so even a total order never serializes through one task.
* A row delete has two halves: ``drop_rows`` filters the rows out
  and the survivors keep their ``__rid``, leaving gaps; ``close_gaps``
  re-ranks the survivors dense by ordinal arithmetic that binds the
  incoming ``__rid`` once (``_rerank``). ``delete_rows`` is both.
  ``EditorSession`` runs only the drop half per delete and keeps the
  gap list on the driver, so its page views filter the pinned leaf's
  own ``__rid``; it closes the gaps with one ``_rerank`` where dense
  ordinals leave the session. Paste splices re-rank through the same
  ``_rerank``, so a page filter pushed through k uncompacted re-ranks
  grows linearly in k.
* Point edits compose as ``when()`` projections (an edit OVERLAY).
  Chained edits deepen the plan, not the data; ``compact()``
  checkpoints the overlay into a materialized DataFrame when the
  chain gets deep (SURVEY.md §4 edit-overlay compaction).
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_editor_spark.litexpr import lit_longs

RID = "__rid"


# ---------------------------------------------------------------------------
# ordinal maintenance
# ---------------------------------------------------------------------------

def _rid_from_partition_offsets(df: DataFrame) -> DataFrame:
    """Zip-with-index: rid = cumulative-offset(partition) + local index.

    ``monotonically_increasing_id`` already encodes the (partition
    index, local row index) pair as ``(pid << 33) + lrn``, so one JVM
    projection annotates each row — no Python worker. That result is
    PERSISTED so the partition layout holds while the ordinal is built
    (the id is nondeterministic: a local collection can re-split
    differently per job). A #partitions-row aggregate then yields
    cumulative offsets, joined back broadcast, and
    ``rid = mid - ((pid << 33) - offset)``.

    The joined ``__rid`` frame is then persisted itself and built
    eagerly while the id pin still holds; after that the id pin is
    released. What stays pinned is exactly one copy: the returned
    frame, which its owner releases with ``unpersist()``. No data
    shuffle, no sort, O(n) work; the per-partition scan order defines
    the ordinal, matching the reference's "order = load order" model.
    On a cluster the persists are MEMORY_AND_DISK over executors — the
    same code path."""
    from pyspark import StorageLevel

    from parquet_editor_spark.litexpr import values_df

    annotated = df.withColumn("__mid", F.monotonically_increasing_id()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pid = F.shiftright(F.col("__mid"), 33)
    counts = annotated.groupBy(pid.alias("__pid")).agg(F.count("*").alias("__n")).collect()
    # per partition: (pid << 33) - offset, subtracted from the id below
    deltas, acc = [], 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        deltas.append(f"({int(r['__pid'])}L,{(int(r['__pid']) << 33) - acc}L)")
        acc += r["__n"]
    # a JVM VALUES relation broadcasts driver-side (litexpr.values_df);
    # every row's partition has a delta — both sides read the same pin
    off_df = values_df(
        df.sparkSession, deltas or ["(0L,0L)"], "col1 AS __pid, col2 AS __delta"
    )
    out = (
        annotated.join(F.broadcast(off_df), pid == off_df["__pid"])
        .withColumn(RID, F.col("__mid") - F.col("__delta"))
        .select(RID, *df.columns)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # build the ordinal pin while the id pin still holds, then drop the
    # id pin: a loaded cache no longer reads the plan beneath it. The
    # noop sink computes every partition in one job; count() would add
    # an aggregation stage and a job for its result
    out.write.format("noop").mode("overwrite").save()
    annotated.unpersist()
    return out


def with_rid(df: DataFrame) -> DataFrame:
    """Attach a dense 0-based ``__rid`` ordinal in scan order (cheap, no
    shuffle — the editor's "row N as loaded" identity); a total order
    by columns is ``ordered_rid``.
    Idempotent: an existing ``__rid`` is trusted and kept.
    """
    if RID in df.columns:
        return df
    return _rid_from_partition_offsets(df)


def ordered_rid(df: DataFrame, order: Sequence[str]) -> DataFrame:
    """Dense ordinal following a total order WITHOUT a single-partition
    window: range-repartition on the keys (sampled range partitioner →
    balanced partitions), sort within partitions, then partition-offset
    arithmetic. Equivalent to ``row_number().over(orderBy(...))`` but
    scales to arbitrary row counts. An existing ``__rid`` is replaced,
    and may be a key: ``[RID]`` closes the gaps in it, keeping its order."""
    arranged = df.repartitionByRange(*[F.col(c) for c in order]).sortWithinPartitions(*order)
    return _rid_from_partition_offsets(strip_rid(arranged))


def strip_rid(df: DataFrame) -> DataFrame:
    return df.drop(RID) if RID in df.columns else df


def compact(df: DataFrame) -> DataFrame:
    """Edit-overlay compaction (SURVEY.md §4): localCheckpoint
    materializes the chained-``when`` plan so analysis time stays
    bounded after long edit sessions. On a cluster this is a
    checkpoint to reliable storage: set SPARK_GRAFT_CHECKPOINT_DIR
    (``parquet_editor_spark.boundary``)."""
    from parquet_editor_spark.boundary import stage_boundary

    return stage_boundary(df)


# ---------------------------------------------------------------------------
# typed cell write (PandasModel.setData, main.pyc:68-79)
# ---------------------------------------------------------------------------

class CellEditRejected(ValueError):
    """The v2 reference rejects edits whose string can't coerce to the
    column dtype (``dtype.type(value)`` → ValueError → ``return False``,
    main.pyc:70-79). Same contract, surfaced as an exception."""


_PY_COERCE = {
    T.LongType: int,
    T.IntegerType: int,
    T.ShortType: int,
    T.ByteType: int,
    T.DoubleType: float,
    T.FloatType: float,
}


def validate_cast(value, dtype: T.DataType):
    """Eager driver-side validation matching numpy coercion semantics
    (SURVEY.md §7d): ``int("3.5")`` fails, ``float("3")`` succeeds,
    bool accepts the checkbox-delegate literals (main.pyc:24-42)."""
    if value is None:
        return None
    for spark_t, py_t in _PY_COERCE.items():
        if isinstance(dtype, spark_t):
            try:
                return py_t(value)
            except (ValueError, TypeError) as e:
                raise CellEditRejected(f"cannot coerce {value!r} to {dtype.simpleString()}") from e
    if isinstance(dtype, T.BooleanType):
        if isinstance(value, bool):
            return value
        s = str(value).strip().lower()
        if s in ("true", "1"):
            return True
        if s in ("false", "0"):
            return False
        raise CellEditRejected(f"cannot coerce {value!r} to boolean")
    if isinstance(dtype, T.StringType):
        return str(value)
    if isinstance(dtype, (T.TimestampType, T.DateType, T.DecimalType)):
        return value  # validated lazily by the cast below
    return value


def set_cell(df: DataFrame, rid: int, column: str, value) -> DataFrame:
    """Point write with dtype-preserving coercion (main.pyc:68-79).

    Plans as a single ``when()`` projection over the table — no
    shuffle, no action; the edit applies lazily wherever the row
    lives. Invalid input raises :class:`CellEditRejected` eagerly,
    mirroring the reference's rejected-edit path."""
    if RID not in df.columns:
        raise ValueError("set_cell requires a __rid column; call with_rid first")
    dtype = df.schema[column].dataType
    coerced = validate_cast(value, dtype)
    if coerced is not None and isinstance(
        dtype, (T.TimestampType, T.TimestampNTZType, T.DateType, T.DecimalType)
    ):
        # authoritative eager probe: evaluate the cast on one literal
        # row NOW — under the session's default ANSI mode an invalid
        # timestamp/date/decimal literal otherwise throws LAZILY on
        # every later action, poisoning the bound table instead of
        # raising the reference's immediate rejected-edit error
        try:
            df.sparkSession.range(1).select(
                F.lit(coerced).cast(dtype)
            ).collect()
        except Exception as e:
            raise CellEditRejected(
                f"cannot coerce {value!r} to {dtype.simpleString()}"
            ) from e
    return df.withColumn(
        column,
        F.when(F.col(RID) == rid, F.lit(coerced).cast(dtype)).otherwise(F.col(column)),
    )


def get_cell(df: DataFrame, rid: int, column: str):
    """Point read (main.py:25-31): served by a pushdown-friendly filter;
    at scale this is a partition-pruned single-row scan."""
    rows = df.filter(F.col(RID) == rid).select(column).collect()
    return rows[0][0] if rows else None


# ---------------------------------------------------------------------------
# row ops (delete / cut / paste splice) — main.py:48-65, main.pyc:122-126
# ---------------------------------------------------------------------------

def _rerank(fn) -> Column:
    """New ``__rid`` as ``fn(old __rid)``, with the old ordinal bound
    ONCE through a lambda. Filter pushdown substitutes every reference
    to ``__rid`` with the expression below it, so a re-rank naming it
    n times multiplies a pushed page filter by n per uncompacted
    delete or paste; bound once, the filter grows linearly."""
    return F.transform(F.array(F.col(RID)), fn)[0]


def row_positions(rids: Iterable[int]) -> list[int]:
    """Sorted distinct row positions. A negative one raises
    ``IndexError`` before anything is planned: the ordinal arithmetic
    would shift every row instead of deleting one."""
    rids = sorted(set(int(r) for r in rids))
    if rids and rids[0] < 0:
        raise IndexError(f"row position {rids[0]} is negative")
    return rids


def drop_rows(df: DataFrame, rids: Iterable[int]) -> DataFrame:
    """The drop half of a delete: rows whose ``__rid`` is in ``rids``
    go, and the survivors keep theirs, gaps and all."""
    rids = row_positions(rids)
    return df.filter(~F.col(RID).isin(rids)) if rids else df


def close_gaps(df: DataFrame, gaps: Sequence[int]) -> DataFrame:
    """The close-gaps half: ``__rid`` becomes dense again, each minus
    the number of ``gaps`` (the dropped ids, sorted) below it.

    Ordinal arithmetic from an array literal + higher-order filter,
    not a re-sort: no shuffle, stays a narrow projection. The literal
    renders as ONE SQL expression (litexpr: one Py4J round-trip)."""
    if not gaps:
        return df
    gone = lit_longs(gaps)
    return df.withColumn(
        RID, _rerank(lambda r: r - F.size(F.filter(gone, lambda x: x < r)))
    )


def delete_rows(df: DataFrame, rids: Iterable[int]) -> DataFrame:
    """Positional delete (main.pyc:122-126) + dense re-rank: the drop
    half, then the close-gaps half over the same ids."""
    rids = row_positions(rids)
    return close_gaps(drop_rows(df, rids), rids)


def cut_rows(df: DataFrame, rids: Iterable[int]) -> tuple[DataFrame, DataFrame]:
    """Cut = clipboard extract + delete (main.py:53-56). The clipboard
    is just another DataFrame (re-ranked 0..k-1 in cut order)."""
    rids = row_positions(rids)
    clip = (
        df.filter(F.col(RID).isin(rids))
        .withColumn(
            RID,
            # litexpr (r17): one expression parse per cut
            F.size(
                F.filter(lit_longs(rids), lambda x: x < F.col(RID))
            ),
        )
    )
    return clip, delete_rows(df, rids)


def paste_rows(df: DataFrame, clip: DataFrame, pos: int) -> DataFrame:
    """Positional splice (main.py:58-65): insert clipboard rows so the
    first lands at ordinal ``pos`` — pandas' concat+reset_index as
    ordinal arithmetic + ``unionByName``. No sort, no shuffle; the
    order is carried by ``__rid`` values, not physical layout."""
    if pos < 0:
        raise IndexError(f"paste position {pos} is negative")
    k = clip.count()
    if k == 0:
        return df
    shifted = df.withColumn(
        RID, _rerank(lambda r: F.when(r >= pos, r + k).otherwise(r))
    )
    clip_at = clip.withColumn(RID, F.col(RID) + F.lit(pos))
    return shifted.unionByName(clip_at)


def insert_rows(df: DataFrame, rows: Sequence[dict], pos: int) -> DataFrame:
    """Insert literal rows at a position (editor "add row"). The rows
    carry their ordinals 0..k-1 from the driver, so nothing is pinned."""
    fields = [f for f in df.schema.fields if f.name != RID]
    schema = T.StructType([T.StructField(RID, T.LongType(), False), *fields])
    data = [(k, *(r.get(f.name) for f in fields)) for k, r in enumerate(rows)]
    return paste_rows(df, df.sparkSession.createDataFrame(data, schema), pos)


def selection_summary(df: DataFrame, rids: Iterable[int]) -> DataFrame:
    """Multi-select metadata (main.py:107-123: the status-bar summary
    of selected rows): count + per-numeric-column sum/mean of the
    selected ordinals, computed server-side — the selection never
    leaves the cluster."""
    from parquet_editor_spark.operators.query import numeric_columns

    rids = sorted(set(int(r) for r in rids))
    sel = df.filter(F.col(RID).isin(rids))
    aggs = [F.count("*").alias("n_selected")]
    for c in numeric_columns(df):
        if c == RID:
            continue
        aggs.append(F.round(F.sum(c), 4).alias(f"sum_{c}"))
        aggs.append(F.round(F.avg(c), 4).alias(f"avg_{c}"))
    return sel.agg(*aggs)


# ---------------------------------------------------------------------------
# column ops (insert_column/remove_column, main.pyc:102-120)
# ---------------------------------------------------------------------------

#: dtype-string → typed default fill, main.pyc:104-111.
def default_for_dtype(dtype: str):
    d = dtype.lower()
    if d in ("bool", "boolean"):
        return False
    if "int" in d or d in ("long", "short", "byte", "bigint", "smallint", "tinyint"):
        return 0
    if "float" in d or "double" in d or "decimal" in d:
        return 0.0
    return None


_DTYPE_ALIASES = {
    "bool": "boolean", "int": "int", "int32": "int", "int64": "bigint",
    "long": "bigint", "float": "float", "float32": "float",
    "float64": "double", "double": "double", "str": "string",
    "string": "string", "object": "string", "datetime64[ns]": "timestamp",
    "timestamp": "timestamp",
}


def add_column(
    df: DataFrame, name: str, dtype: str = "string", pos: Optional[int] = None, default=None
) -> DataFrame:
    """Insert a typed column at a position with the reference's default
    fill (``np.full(n, default, dtype)``, main.pyc:102-114): bool→False,
    int→0, float→0.0, else null. Position is honored by a reordered
    ``select`` — pure projection, zero data movement."""
    spark_type = _DTYPE_ALIASES.get(dtype.lower(), dtype)
    fill = default if default is not None else default_for_dtype(dtype)
    out = df.withColumn(name, F.lit(fill).cast(spark_type))
    cols = [c for c in df.columns]
    insert_at = len(cols) if pos is None else min(pos + (1 if RID in cols else 0), len(cols))
    cols.insert(insert_at, name)
    return out.select(*cols)


def drop_column(df: DataFrame, which: int | str) -> DataFrame:
    """Drop by position (main.pyc:116-120) or by name."""
    if isinstance(which, int):
        data_cols = [c for c in df.columns if c != RID]
        which = data_cols[which]
    return df.drop(which)


def rename_column(df: DataFrame, old: str, new: str) -> DataFrame:
    """README-parity "modify columns" (readme.md:8; no reference code)."""
    return df.withColumnRenamed(old, new)


def cast_column(df: DataFrame, column: str, dtype: str) -> DataFrame:
    """Typed column modification (README parity, SURVEY.md §2.2)."""
    return df.withColumn(column, F.col(column).cast(_DTYPE_ALIASES.get(dtype.lower(), dtype)))
