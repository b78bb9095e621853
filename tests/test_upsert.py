"""Keyed upsert operator tests (SURVEY §2.1 R8; etl_connector.py:167-191)."""

from __future__ import annotations

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import (
    dedup_last_write_wins,
    upsert_dataframe,
    upsert_parquet,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v string, ts long")


def test_dedup_last_write_wins(spark):
    df = _df(
        spark,
        [("a", "old", 1), ("a", "new", 2), ("b", "only", 1), (None, "x", 1), (None, "y", 2)],
    )
    out = dedup_last_write_wins(df, "k", ["ts"])
    rows = {r.k: r.v for r in out.filter("k is not null").collect()}
    assert rows == {"a": "new", "b": "only"}
    assert out.filter("k is null").count() == 2  # keyless rows pass through


def test_dedup_null_order_keys_match_window_form(spark):
    """max_by(struct) must reproduce the window form's desc_nulls_last:
    a NULL ordering key loses to any non-null one, and with all-NULL
    ordering the priority column still breaks existing-vs-batch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("a", "nullts", None, 0),
            ("a", "realts", 1, 0),
            ("b", "exist", None, 0),
            ("b", "batch", None, 1),  # all-NULL ts: priority must win
            ("c", "only", None, 0),
        ],
        "k string, v string, ts long, prio int",
    )
    out = dedup_last_write_wins(df, "k", ["ts"], priority_col="prio")
    got = {r.k: r.v for r in out.collect()}
    assert got == {"a": "realts", "b": "batch", "c": "only"}

    # exact equivalence with the canonical window formulation
    w = Window.partitionBy("k").orderBy(
        F.col("ts").desc_nulls_last(), F.col("prio").desc()
    )
    win = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in win.collect()
    )


def test_dedup_keeps_every_keyless_row_with_multiplicity(spark):
    """Insert fallback (etl_connector.py:185-187): a row with any NULL key
    column survives as is, exact duplicates included; keyed exact
    duplicates collapse to one row."""
    df = spark.createDataFrame(
        [
            (None, None, "x", 1),
            (None, None, "x", 1),  # exact duplicate, all-NULL key
            (None, "b", "y", 1),
            (None, "b", "y", 1),  # exact duplicate, partially NULL key
            ("a", None, "z", 2),
            ("a", "b", "dup", 1),
            ("a", "b", "dup", 1),  # exact duplicate, full key
        ],
        "k1 string, k2 string, v string, ts long",
    )
    out = dedup_last_write_wins(df, ["k1", "k2"], ["ts"])
    assert sorted(r.v for r in out.collect()) == ["dup", "x", "x", "y", "y", "z"]


def test_dedup_full_ties_go_to_later_source_position(spark):
    """Rows tied on the whole ordering resolve to the later input row,
    the reference's loop order (the last replace_one lands, :176-181)."""
    df = _df(spark, [("a", "first", 1), ("a", "second", 1), ("b", "only", 1)])
    for frame in (df, df.coalesce(1)):  # ties across and within partitions
        got = {r.k: r.v for r in dedup_last_write_wins(frame, "k", ["ts"]).collect()}
        assert got == {"a": "second", "b": "only"}


def test_dedup_plan_reads_input_once(spark):
    """One aggregate: no keyed/keyless Union, one leaf (the input is
    scanned once), one shuffle."""
    df = _df(spark, [("a", "old", 1), ("a", "new", 2), (None, "x", 1)])
    qe = dedup_last_write_wins(df, "k", ["ts"])._jdf.queryExecution()
    optimized = qe.optimizedPlan()
    assert "Union" not in optimized.toString()
    assert optimized.collectLeaves().size() == 1
    assert qe.executedPlan().toString().count("Exchange") == 1


def test_upsert_batch_wins_ties(spark):
    """Equal order_by -> incoming batch replaces existing (replace_one, :181)."""
    existing = _df(spark, [("a", "existing", 5)])
    batch = _df(spark, [("a", "incoming", 5)])
    out = upsert_dataframe(existing, batch, "k", ["ts"])
    assert out.first().v == "incoming"


def test_upsert_older_batch_loses(spark):
    """Deterministic last-write-wins by order_by (SURVEY §7 hard part (a))."""
    existing = _df(spark, [("a", "newer", 10)])
    batch = _df(spark, [("a", "older", 5)])
    out = upsert_dataframe(existing, batch, "k", ["ts"])
    assert out.first().v == "newer"


def test_upsert_composite_key(spark):
    df = spark.createDataFrame(
        [("a", 1, "x", 1), ("a", 1, "y", 2), ("a", 2, "z", 1)],
        "k1 string, k2 int, v string, ts long",
    )
    out = dedup_last_write_wins(df, ["k1", "k2"], ["ts"])
    assert out.count() == 2
    assert {r.v for r in out.collect()} == {"y", "z"}


def test_upsert_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_parquet(spark, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]), path, "k", ["ts"])
    upsert_parquet(spark, _df(spark, [("a", "v2", 2), ("c", "v1", 1)]), path, "k", ["ts"])
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {"a": "v2", "b": "v1", "c": "v1"}


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """partition_by path: merging a batch that touches one partition must
    leave every other partition directory byte-identical (same files, same
    mtimes) — the rewrite cost is proportional to the batch, not the table."""
    import os

    from pyspark.sql import functions as F

    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "ptab")
    base = spark.createDataFrame(
        [(i, f"d{i % 3}", i * 10) for i in range(30)], "k long, day string, v long"
    )
    upsert_parquet(spark, base, path, key="k", order_by=["v"], partition_by=["day"])

    def snapshot(day):
        d = os.path.join(path, f"day={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_d1, before_d2 = snapshot("d1"), snapshot("d2")

    # batch touches only day=d0: update k=0, insert k=100
    batch = spark.createDataFrame([(0, "d0", 999), (100, "d0", 1000)], "k long, day string, v long")
    upsert_parquet(spark, batch, path, key="k", order_by=["v"], partition_by=["day"])

    assert snapshot("d1") == before_d1  # byte-untouched
    assert snapshot("d2") == before_d2

    out = spark.read.parquet(path)
    assert out.count() == 31  # 30 + 1 insert
    assert out.filter(F.col("k") == 0).first().v == 999  # updated
    assert out.filter(F.col("k") == 100).first().v == 1000  # inserted
    # re-run converges (idempotence preserved under partitioned path)
    upsert_parquet(spark, batch, path, key="k", order_by=["v"], partition_by=["day"])
    assert spark.read.parquet(path).count() == 31


def test_apply_cdc_semantics(spark):
    """Updates replace, inserts add, deletes remove, stale changes lose."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import apply_cdc

    existing = spark.createDataFrame(
        [(1, 100, 10.0), (2, 200, 10.0), (3, 300, 10.0)],
        "k long, v long, ts double",
    )
    changes = spark.createDataFrame(
        [
            (1, 11, 20.0, "U"),   # newer update wins
            (2, 99, 5.0, "u"),    # STALE update (ts 5 < 10) loses
            (3, 0, 20.0, "d"),    # delete removes the key
            (4, 44, 20.0, "I"),   # brand-new insert
            (5, 50, 20.0, "D"),   # delete of unknown key -> no row
        ],
        "k long, v long, ts double, op string",
    )
    got = {
        r.k: r.v
        for r in apply_cdc(existing, changes, key="k", order_by=["ts"]).collect()
    }
    assert got == {1: 11, 2: 200, 4: 44}


def test_apply_cdc_idempotent(spark):
    """Re-applying the same change feed converges (exactly-once-by-key)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.upsert import apply_cdc

    existing = spark.createDataFrame(
        [(1, 1, 1.0), (2, 2, 1.0)], "k long, v long, ts double"
    )
    changes = spark.createDataFrame(
        [(1, 10, 2.0, "U"), (2, 0, 2.0, "D"), (3, 30, 2.0, "I")],
        "k long, v long, ts double, op string",
    )
    once = apply_cdc(existing, changes, key="k", order_by=["ts"])
    twice = apply_cdc(once, changes, key="k", order_by=["ts"])
    assert sorted(tuple(r) for r in once.collect()) == sorted(
        tuple(r) for r in twice.collect()
    )

def test_sink_quarantine_per_record_dead_letter(spark, tmp_path):
    """Reference per-record fault tolerance (etl_connector.py:182-191:
    a doc whose write raises is logged and skipped, the run continues) as
    a frame: records that cannot cast to the target schema land in the
    dead-letter dir, the rest upsert normally."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "t")
    dl = str(tmp_path / "dead")
    upsert_parquet(spark, _df(spark, [("a", "v1", 1)]), path, "k", ["ts"])

    # stringly-typed batch: one row's ts is unparseable -> quarantined
    raw = spark.createDataFrame(
        [("a", "v2", "2"), ("b", "w", "not-a-number"), ("c", "x", "7")],
        "k string, v string, ts string",
    )
    upsert_parquet(spark, raw, path, "k", ["ts"], dead_letter_dir=dl)

    out = {r["k"]: (r["v"], r["ts"]) for r in spark.read.parquet(path).collect()}
    assert out == {"a": ("v2", 2), "b": None, "c": ("x", 7)} or out == {
        "a": ("v2", 2),
        "c": ("x", 7),
    }
    dead = spark.read.json(dl)
    assert dead.count() == 1
    assert dead.filter(F.col("k") == "b").count() == 1


def test_sink_quarantine_clean_batch_writes_everything(spark, tmp_path):
    path = str(tmp_path / "t2")
    dl = str(tmp_path / "dead2")
    upsert_parquet(spark, _df(spark, [("a", "v1", 1)]), path, "k", ["ts"])
    upsert_parquet(
        spark, _df(spark, [("b", "v2", 2)]), path, "k", ["ts"], dead_letter_dir=dl
    )
    assert spark.read.parquet(path).count() == 2
    import os

    assert not os.path.exists(dl)  # no dead letters -> no dir
