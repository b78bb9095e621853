"""Keyed idempotent upsert (SURVEY §2.1 R8-R10).

Reference behavior (/root/reference/etl_connector.py:167-191):
``replace_one({key: k}, doc, upsert=True)`` per document — dedup-by-key with
last-write-wins, plain insert when the key is missing, duplicate-key errors
skipped. The reference's "last write" is loop-order-dependent (:176-181); the
engine pins a deterministic ordering via explicit ``order_by`` columns
(SURVEY §7 hard part (a)).

Spark-first design:
- ``upsert_dataframe``: pure DataFrame -> DataFrame merge in ONE
  aggregate (``max_by`` over the key, ordered by ``order_by``, then a
  batch-wins-over-existing priority, then ``tie_break``, then source
  position). NULL-key rows each get a group of their own, so every one of
  them is kept (the reference's insert fallback, :185-187) without a
  second scan of the input.
- ``upsert_parquet``: materialized table on any Hadoop-compatible FS;
  read-merge-overwrite with a temp-dir swap (no Delta in this image — with
  Delta this is a one-statement ``MERGE INTO``; see ``upsert_delta``).
- At 100 TB the overwrite path rewrites only what it must if the target is
  partitioned: pass ``partition_by`` (e.g. a date column) and Spark's dynamic
  partition overwrite rewrites only partitions containing upserted keys.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PRIORITY = "__upsert_priority"
_POS = "__upsert_pos"
_SOLO = "__upsert_solo"
_WINNER = "__upsert_winner"


def dedup_last_write_wins(
    df: DataFrame,
    key: str | list[str],
    order_by: list[str],
    priority_col: str | None = None,
) -> DataFrame:
    """Keep one row per key: the last write per ``order_by`` (desc).

    One scan, one shuffle: a single ``max_by`` aggregate with map-side
    partial combine, not a window and not a keyed/keyless split. Each
    input partition pre-collapses its keys to one candidate row before
    the shuffle, so the exchange carries (distinct keys x partitions)
    rows instead of every row. At 100 TB this is the difference between
    shuffling the table and shuffling its keys. (Spark plans it as a
    sort aggregate: a struct buffer rules out the hash aggregate.)

    - **NULL keys.** A row with any NULL key column is the reference's
      insert fallback (etl_connector.py:185-187): it must survive as is.
      It gets a unique surrogate group (its source position), so it is
      alone in its group and wins it; every keyless row is kept, exact
      duplicates included, and the input is read once.
    - **Ordering.** ``order_by`` then ``priority_col``, compared as one
      struct. Struct comparison puts a NULL field lowest, which under max
      is exactly the window form's ``desc_nulls_last`` (tests pin the
      equivalence, null order keys included).
    - **Full ties** go to the later source position
      (``monotonically_increasing_id`` = (partitionId << 33) + offset:
      source order for file splits, page-range REST partitions and
      unions, whose partitions are numbered child by child). That is
      the reference's loop order, where the last ``replace_one`` lands
      (:176-181), so the result is deterministic.

    Batch DataFrames only: Spark rejects ``monotonically_increasing_id``
    on a streaming frame (``foreachBatch`` hands its sink a batch frame).
    """
    keys = [key] if isinstance(key, str) else list(key)
    ordering = [F.col(c) for c in order_by]
    if priority_col is not None:
        ordering.append(F.col(priority_col))
    if not ordering:
        raise ValueError("order_by and priority_col cannot both be empty")

    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()

    cols = df.columns
    return (
        df.withColumn(_POS, F.monotonically_increasing_id())
        .groupBy(*keys, F.when(null_key, F.col(_POS)).alias(_SOLO))
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in cols]),
                F.struct(*ordering, F.col(_POS)),
            ).alias(_WINNER)
        )
        .select(*[F.col(f"{_WINNER}.{c}").alias(c) for c in cols])
    )


def upsert_dataframe(
    existing: DataFrame | None,
    batch: DataFrame,
    key: str | list[str],
    order_by: list[str],
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Merge ``batch`` into ``existing`` with last-write-wins on ``key``.

    Ties on ``order_by`` resolve in favor of the incoming batch (the
    reference's replace_one semantics: a re-sent identical record replaces,
    etl_connector.py:181). ``tie_break`` columns order what is still tied
    after that priority — in practice rows of the same batch, since
    ``existing`` holds one row per key — and rows tied on everything go
    to the later source position. So a caller folds its in-batch
    collapse into this one aggregate instead of deduping the batch first.
    """
    tagged_batch = batch.withColumn(_PRIORITY, F.lit(1))
    if existing is None:
        merged = tagged_batch
    else:
        merged = existing.withColumn(_PRIORITY, F.lit(0)).unionByName(tagged_batch)
    ordering = [*order_by, _PRIORITY, *(tie_break or [])]
    return dedup_last_write_wins(merged, key, ordering).drop(_PRIORITY)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def sink_quarantine(
    batch: DataFrame, target_schema
) -> tuple[DataFrame, DataFrame]:
    """Per-record sink fault tolerance (reference etl_connector.py:182-191:
    a doc whose write raises is logged and skipped, the run continues).

    Parquet writes cannot fail per record at write time, so the engine's
    equivalent quarantines the records that would corrupt the target:
    rows with a non-null value that does NOT survive ``try_cast`` to the
    target column type (overflowing decimals, unparseable dates, etc. —
    the common case when the batch arrives stringly-typed). Returns
    (good_rows cast to the target schema, bad_rows untouched). One narrow
    projection — no shuffle, no UDF; at 100 TB this is free relative to
    the write itself.
    """
    by_name = {f.name: f for f in target_schema.fields}
    bad_pred = F.lit(False)
    casts = []
    for f in batch.schema.fields:
        tgt = by_name.get(f.name)
        if tgt is None or tgt.dataType == f.dataType:
            casts.append(F.col(f.name))
            continue
        cast_col = F.col(f.name).try_cast(tgt.dataType)
        bad_pred = bad_pred | (F.col(f.name).isNotNull() & cast_col.isNull())
        casts.append(cast_col.alias(f.name))
    good = batch.filter(~bad_pred).select(*casts)
    bad = batch.filter(bad_pred)
    return good, bad


def upsert_parquet(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str | list[str],
    order_by: list[str],
    partition_by: list[str] | None = None,
    dead_letter_dir: str | None = None,
    tie_break: list[str] | None = None,
) -> None:
    """Keyed upsert into a parquet table at ``path`` (create if absent).

    Works on any Hadoop-compatible filesystem. The merged result is written
    to a temp dir first, then swapped in — because Spark cannot overwrite a
    path it is concurrently reading. On Delta this whole function is
    ``MERGE INTO`` (``upsert_delta``); the swap is the vanilla-parquet
    equivalent of the reference's per-doc replace_one (etl_connector.py:181)
    done as one distributed write instead of 1 round-trip per record.

    With ``partition_by`` (e.g. a date column), only partitions that the
    batch touches are merged and swapped — the 100 TB path: a daily batch
    against a years-deep table rewrites days, not years. Requires the
    partition columns to be stable per key (an upserted key must not move
    partitions; with date-derived partitions and keyed records this holds
    by construction). Untouched partition directories are left byte-intact.

    With ``dead_letter_dir`` and an existing target, records whose values
    cannot cast to the target schema are quarantined there (JSON, appended)
    and the write proceeds with the rest — the reference's per-doc
    swallow-log-continue (etl_connector.py:182-191) as a frame, not a log.

    ``tie_break`` is passed to ``upsert_dataframe``: the batch's own
    duplicates collapse in the same aggregate as the merge.
    """
    fs, jpath = _hadoop_fs(spark, path)
    # one read of the target: each schema-less read starts a footer job
    target = spark.read.parquet(path) if fs.exists(jpath) else None

    if dead_letter_dir is not None and target is not None:
        batch, bad = sink_quarantine(batch, target.schema)
        bad = bad.persist()
        if not bad.isEmpty():
            bad.write.mode("append").json(dead_letter_dir)

    if not partition_by:
        merged = upsert_dataframe(target, batch, key, order_by, tie_break)
        tmp = f"{path}__tmp_{uuid.uuid4().hex}"
        merged.write.mode("overwrite").parquet(tmp)
        _, jtmp = _hadoop_fs(spark, tmp)
        if target is not None:
            fs.delete(jpath, True)
        fs.rename(jtmp, jpath)
        return

    if target is None:
        upsert_dataframe(None, batch, key, order_by, tie_break).write.partitionBy(
            *partition_by
        ).mode("overwrite").parquet(path)
        return

    # Merge only the touched partitions: existing rows are pre-filtered with
    # a partition-pruned semi join (the scan reads only those directories).
    touched = batch.select(*partition_by).distinct()
    existing = target.join(F.broadcast(touched), partition_by, "left_semi")
    merged = upsert_dataframe(existing, batch, key, order_by, tie_break)
    tmp = f"{path}__tmp_{uuid.uuid4().hex}"
    merged.write.partitionBy(*partition_by).mode("overwrite").parquet(tmp)

    # Swap only the partition directories present in the tmp output.
    jvm = spark._jvm
    _, jtmp = _hadoop_fs(spark, tmp)
    for status in fs.listStatus(jtmp):
        name = status.getPath().getName()
        if not status.isDirectory():
            continue  # _SUCCESS etc.
        _swap_partition_tree(jvm, fs, status.getPath(), jpath, name)
    fs.delete(jtmp, True)


def _swap_partition_tree(jvm, fs, src_dir, target_root, rel: str) -> None:
    """Recursively replace target partition dirs with the freshly-written
    ones (handles multi-level partitionBy: col1=v1/col2=v2/...)."""
    children = fs.listStatus(src_dir)
    has_subpartitions = any(
        c.isDirectory() and "=" in c.getPath().getName() for c in children
    )
    if has_subpartitions:
        for c in children:
            if c.isDirectory():
                _swap_partition_tree(
                    jvm, fs, c.getPath(), target_root, f"{rel}/{c.getPath().getName()}"
                )
        return
    dst = jvm.org.apache.hadoop.fs.Path(f"{target_root.toString()}/{rel}")
    if fs.exists(dst):
        fs.delete(dst, True)
    fs.mkdirs(dst.getParent())
    fs.rename(src_dir, dst)


def upsert_delta(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    order_by: list[str],
) -> None:
    """Delta-backed upsert: one transactional ``MERGE INTO`` (preferred at
    scale — no full rewrite, with data skipping on the merge key).

    Delta jars are not in this image; the call is gated behind import-try
    per the build constraints.
    """
    try:
        from delta.tables import DeltaTable  # type: ignore
    except ImportError as exc:  # pragma: no cover - delta absent in image
        raise NotImplementedError(
            "delta-spark not installed; use upsert_parquet (same semantics, "
            "non-transactional)"
        ) from exc

    deduped = dedup_last_write_wins(batch, key, order_by)  # pragma: no cover
    if not DeltaTable.isDeltaTable(spark, path):  # pragma: no cover
        deduped.write.format("delta").save(path)
        return
    target = DeltaTable.forPath(spark, path)  # pragma: no cover
    (  # pragma: no cover
        target.alias("t")
        .merge(deduped.alias("s"), f"t.{key} <=> s.{key}")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def upsert_mongo(
    batch: DataFrame,
    uri: str,
    database: str,
    collection: str,
    key: str,
    order_by: list[str],
) -> None:
    """Drop-in MongoDB parity sink: the reference's replace_one-by-key
    upsert (etl_connector.py:176-191) as one distributed write via the
    mongo-spark-connector (operationType=replace + idFieldList = the key,
    batched per partition — versus the reference's one round-trip per doc).

    The connector jar is not in this image, so the call is gated: it
    verifies the Spark package is loadable and raises NotImplementedError
    with setup guidance otherwise. Semantics (last-write-wins dedup before
    the write) are identical to upsert_parquet and fully tested there.
    """
    deduped = dedup_last_write_wins(batch, key, order_by)
    try:
        (
            deduped.write.format("mongodb")
            .mode("append")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
            .option("operationType", "replace")
            .option("idFieldList", key)
            .save()
        )
    except Exception as exc:  # pragma: no cover - connector absent in image
        raise NotImplementedError(
            "mongo-spark-connector not available in this environment; add "
            "--packages org.mongodb.spark:mongo-spark-connector_2.13:10.x "
            "and re-run. Equivalent keyed-upsert semantics are provided by "
            "upsert_parquet/upsert_delta."
        ) from exc


def apply_cdc(
    existing: DataFrame | None,
    changes: DataFrame,
    key: str | list[str],
    order_by: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Apply a change feed (insert/update/delete) to a keyed table.

    ``changes`` rows carry ``op_col`` in {'I','U','D'} or the spelled-out
    {'insert','update','delete'} that ``operators/diff.table_diff`` emits
    (case-insensitive; normalized to the first letter).
    The winner per key is the newest record by ``order_by`` (change rows
    beat existing rows on ties — replace_one semantics, extended with
    deletes the reference's Mongo sink expresses as remove); a key whose
    winning record is a delete disappears from the output. This is the
    Delta ``MERGE WHEN MATCHED [AND ...] THEN UPDATE/DELETE`` shape in
    vanilla DataFrame algebra: one union + one aggregate shuffle on the key,
    no per-key probing, so a 100 TB table merges a change feed in a single
    pass.
    """
    changes = changes.withColumn(
        op_col, F.upper(F.substring(F.col(op_col), 1, 1))
    )
    tagged = changes.withColumn(_PRIORITY, F.lit(1))
    if existing is not None:
        tagged = (
            existing.withColumn(op_col, F.lit("I"))
            .withColumn(_PRIORITY, F.lit(0))
            .unionByName(tagged)
        )
    merged = dedup_last_write_wins(tagged, key, order_by, priority_col=_PRIORITY)
    return merged.filter(F.col(op_col) != "D").drop(op_col, _PRIORITY)
