"""Upsert-writer semantics (op-sink-upsert): ON CONFLICT DO UPDATE
equivalence — idempotent re-runs, updates win, inserts append
(database.py:119-138, README1.md:128-132)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.upsert import (
    merge_last_write_wins,
    read_layer,
    upsert_parquet,
    upsert_parquet_scoped,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "country_iso3 string, year int, value double, fetched_at long"
    )


def test_rerun_is_idempotent(spark, tmp_path):
    path = os.path.join(tmp_path, "raw")
    batch = _df(spark, [("ZAF", 2015, 1.2, 100), ("KEN", 2015, 3.4, 100)])
    n1 = upsert_parquet(spark, path, batch, ["country_iso3", "year"], "fetched_at")
    n2 = upsert_parquet(spark, path, batch, ["country_iso3", "year"], "fetched_at")
    assert n1 == n2 == 2
    assert spark.read.parquet(path).count() == 2


def test_update_wins_insert_appends(spark, tmp_path):
    path = os.path.join(tmp_path, "raw")
    upsert_parquet(
        spark,
        path,
        _df(spark, [("ZAF", 2015, 1.2, 100), ("KEN", 2015, 3.4, 100)]),
        ["country_iso3", "year"],
        "fetched_at",
    )
    upsert_parquet(
        spark,
        path,
        _df(spark, [("ZAF", 2015, 9.9, 200), ("NGA", 2015, 5.0, 200)]),
        ["country_iso3", "year"],
        "fetched_at",
    )
    rows = {
        (r.country_iso3, r.year): r.value
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {("ZAF", 2015): 9.9, ("KEN", 2015): 3.4, ("NGA", 2015): 5.0}


def test_merge_prefers_new_on_equal_version(spark):
    old = _df(spark, [("ZAF", 2015, 1.0, 100)])
    new = _df(spark, [("ZAF", 2015, 2.0, 100)])  # same version stamp
    merged = merge_last_write_wins(
        old, new, ["country_iso3", "year"], "fetched_at"
    ).collect()
    assert len(merged) == 1
    assert merged[0].value == 2.0


def test_partitioned_upsert_prunes_and_stays_idempotent(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    path = os.path.join(tmp_path, "raw_part")
    batch = _df(
        spark,
        [("ZAF", 2015, 1.2, 100), ("ZAF", 2016, 2.2, 100), ("KEN", 2015, 3.4, 100)],
    )
    upsert_parquet(
        spark, path, batch, ["country_iso3", "year"], "fetched_at",
        partition_cols=["year"],
    )
    upsert_parquet(
        spark, path, batch, ["country_iso3", "year"], "fetched_at",
        partition_cols=["year"],
    )
    df = spark.read.parquet(path)
    assert df.count() == 3
    scan = df.filter(F.col("year") == 2015)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert scan.count() == 2


def test_recover_table_every_crash_state(spark, tmp_path):
    """Simulate a crash at each point of the upsert write-swap sequence
    and assert recover_table restores a consistent, findable table."""
    import os
    import shutil

    from data_engineering_pipeline_spark.operators.upsert import (
        recover_table,
        upsert_parquet,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, v string, ver long"
    )
    upsert_parquet(spark, path, base, ["k"], "ver")
    assert recover_table(path) == "clean"

    def rows():
        return sorted(
            tuple(r) for r in spark.read.parquet(path).collect()
        )

    committed = rows()
    merged = spark.createDataFrame(
        [(1, "a2", 2), (3, "c", 1)], "k long, v string, ver long"
    )

    # crash AFTER writing tmp, BEFORE any rename: live + complete tmp
    merged.write.mode("overwrite").parquet(f"{path}.__tmp__dead1")
    assert recover_table(path) == "finished_swap"  # remnants dropped
    assert rows() == committed and not os.path.exists(f"{path}.__tmp__dead1")

    # crash BETWEEN the renames: live missing, complete tmp + old aside
    merged.write.mode("overwrite").parquet(f"{path}.__tmp__dead2")
    os.rename(path, f"{path}.__old__dead2")
    assert recover_table(path) == "finished_swap"
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == \
        sorted(tuple(r) for r in merged.collect())
    assert not os.path.exists(f"{path}.__old__dead2")

    # crash mid-tmp-write (no _SUCCESS): restore the old table
    upsert_parquet(spark, path, base, ["k"], "ver")
    good = rows()
    os.makedirs(f"{path}.__tmp__dead3")  # partial: no _SUCCESS marker
    os.rename(path, f"{path}.__old__dead3")
    assert recover_table(path) == "restored_old"
    assert rows() == good
    assert not os.path.exists(f"{path}.__tmp__dead3")

    # nothing but a partial tmp: nothing to restore, drop the garbage
    shutil.rmtree(path)
    os.makedirs(f"{path}.__tmp__dead4")
    assert recover_table(path) == "dropped_tmp"
    assert not os.path.exists(path)


def test_recover_partitions_every_crash_state(spark, tmp_path):
    """Simulate a crash at each point of the partition-scoped
    stage-then-swap and assert recover_partitions leaves every touched
    partition as either its pre-batch or its merged copy — never lost."""
    import os
    import shutil

    from data_engineering_pipeline_spark.operators.upsert import (
        recover_partitions,
        upsert_parquet_scoped,
    )

    path = str(tmp_path / "pt")
    base = spark.createDataFrame(
        [(1, "de", "a", 1), (2, "de", "b", 1), (3, "en", "c", 1)],
        "k long, lang string, v string, ver long",
    )
    upsert_parquet_scoped(spark, path, base, ["k"], "ver", ["lang"])
    assert recover_partitions(path) == "clean"

    def rows():
        return {
            r.k: (r.lang, r.v, r.ver)
            for r in spark.read.parquet(path).collect()
        }

    committed = rows()
    merged_de = spark.createDataFrame(
        [(1, "de", "a2", 2), (2, "de", "b", 1), (4, "de", "d", 1)],
        "k long, lang string, v string, ver long",
    )
    after_merge = {**committed, 1: ("de", "a2", 2), 4: ("de", "d", 1)}

    # crash AFTER the stage write committed (_SUCCESS), BEFORE any swap:
    # roll forward — the merged de partition lands, en untouched
    merged_de.write.mode("overwrite").partitionBy("lang").parquet(
        f"{path}.__ptmp__dead1"
    )
    assert recover_partitions(path) == "finished_partition_swap"
    assert rows() == after_merge
    assert not os.path.exists(f"{path}.__ptmp__dead1")

    # reset, then crash MID-SWAP: live de already renamed aside, stage
    # still holds the merged de — roll forward finishes the swap
    shutil.rmtree(path)
    upsert_parquet_scoped(spark, path, base, ["k"], "ver", ["lang"])
    merged_de.write.mode("overwrite").partitionBy("lang").parquet(
        f"{path}.__ptmp__dead2"
    )
    os.makedirs(f"{path}.__pold__dead2")
    os.rename(f"{path}/lang=de", f"{path}.__pold__dead2/lang=de")
    assert recover_partitions(path) == "finished_partition_swap"
    assert rows() == after_merge
    assert not os.path.exists(f"{path}.__pold__dead2")

    # reset, then crash MID-STAGE-WRITE (no _SUCCESS) with de asided:
    # the merge never committed — roll back to the pre-batch partition
    shutil.rmtree(path)
    upsert_parquet_scoped(spark, path, base, ["k"], "ver", ["lang"])
    os.makedirs(f"{path}.__ptmp__dead3/lang=de")
    with open(f"{path}.__ptmp__dead3/lang=de/part-0.parquet", "w") as fh:
        fh.write("partial")
    os.makedirs(f"{path}.__pold__dead3")
    os.rename(f"{path}/lang=de", f"{path}.__pold__dead3/lang=de")
    assert recover_partitions(path) == "rolled_back_partition_swap"
    assert rows() == committed
    assert not os.path.exists(f"{path}.__ptmp__dead3")

    # orphan aside with live intact (crash during cleanup): dropped
    os.makedirs(f"{path}.__pold__dead4/lang=de")
    with open(f"{path}.__pold__dead4/lang=de/part-0.parquet", "w") as fh:
        fh.write("stale")
    assert recover_partitions(path) == "finished_partition_swap"
    assert rows() == committed
    assert not os.path.exists(f"{path}.__pold__dead4")


def test_scoped_upsert_leaves_no_remnants(spark, tmp_path):
    """A successful scoped upsert cleans up its staging and aside dirs."""
    import glob

    from data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet_scoped,
    )

    path = str(tmp_path / "clean")
    base = spark.createDataFrame(
        [(1, "de", "a", 1), (3, "en", "c", 1)],
        "k long, lang string, v string, ver long",
    )
    upsert_parquet_scoped(spark, path, base, ["k"], "ver", ["lang"])
    batch = spark.createDataFrame(
        [(1, "de", "a2", 2)], "k long, lang string, v string, ver long"
    )
    upsert_parquet_scoped(spark, path, batch, ["k"], "ver", ["lang"])
    assert not glob.glob(f"{path}.__p*")


def test_scoped_upsert_touches_only_batch_partitions(spark, tmp_path):
    """Partition-scoped upsert rewrites only the partitions present in
    the batch: untouched partitions keep their exact files on disk, the
    merge is idempotent, and the pruned read shows PartitionFilters."""
    import glob
    import os

    from data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet_scoped,
    )

    path = str(tmp_path / "scoped")
    base = spark.createDataFrame(
        [(1, "de", "a", 1), (2, "de", "b", 1), (3, "en", "c", 1)],
        "k long, lang string, v string, ver long",
    )
    upsert_parquet_scoped(spark, path, base, ["k"], "ver", ["lang"])
    en_files_before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/lang=en/*.parquet")
    }
    assert en_files_before

    batch = spark.createDataFrame(
        [(1, "de", "a2", 2), (4, "de", "d", 1)],
        "k long, lang string, v string, ver long",
    )
    upsert_parquet_scoped(spark, path, batch, ["k"], "ver", ["lang"])
    # untouched partition: identical files, untouched mtimes
    en_files_after = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/lang=en/*.parquet")
    }
    assert en_files_after == en_files_before

    rows = {
        r.k: (r.lang, r.v, r.ver)
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {
        1: ("de", "a2", 2),
        2: ("de", "b", 1),
        3: ("en", "c", 1),
        4: ("de", "d", 1),
    }
    # idempotent: replaying the batch changes nothing
    upsert_parquet_scoped(spark, path, batch, ["k"], "ver", ["lang"])
    assert {
        r.k: (r.lang, r.v, r.ver)
        for r in spark.read.parquet(path).collect()
    } == rows


def test_scoped_bootstrap_stages_and_empty_batch(spark, tmp_path):
    """The scoped upsert's bootstrap must stage (a crash mid-write to
    the live path would wedge the table unreadably), and an empty
    batch must no-op instead of raising on a None predicate."""
    import os

    from data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet_scoped,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1, "en"), (2, 1, "de")], "k long, ver long, lang string"
    )
    n = upsert_parquet_scoped(spark, path, df, ["k"], "ver", ["lang"])
    assert n == 2 and os.path.isdir(path)
    assert not [
        d for d in os.listdir(tmp_path) if "__tmp__" in d
    ]  # staging cleaned up
    empty = df.limit(0)
    assert upsert_parquet_scoped(
        spark, path, empty, ["k"], "ver", ["lang"]
    ) == 0
    assert spark.read.parquet(path).count() == 2


def test_upsert_parquet_empty_new_fresh_table(spark, tmp_path):
    """Empty new + no existing table: the partitioned empty write has
    no data files; the count observed on that write must come back 0,
    not raise on schema inference."""
    from data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet,
    )

    path = str(tmp_path / "t")
    empty = spark.createDataFrame(
        [], "k long, ver long, lang string"
    )
    assert upsert_parquet(
        spark, path, empty, ["k"], "ver", ["lang"]
    ) == 0


_KLV = "k long, lang string, v string, ver long"


@pytest.mark.parametrize("partition_cols", [None, ["lang"]])
def test_upsert_count_is_rows_on_disk(spark, tmp_path, partition_cols):
    """The count upsert_parquet returns, observed on its write, is the
    table's row count on disk: fresh, merged over, and re-merged with an
    empty batch."""
    path = str(tmp_path / "t")

    def upsert(rows):
        df = spark.createDataFrame(rows, _KLV)
        return upsert_parquet(spark, path, df, ["k"], "ver", partition_cols)

    assert upsert([(1, "de", "a", 1), (2, "en", "b", 1)]) == 2
    assert spark.read.parquet(path).count() == 2
    assert upsert([(1, "de", "a2", 2), (3, "fr", "c", 1)]) == 3
    assert spark.read.parquet(path).count() == 3
    assert upsert([]) == 3
    assert spark.read.parquet(path).count() == 3


def test_scoped_upsert_count_is_touched_rows_on_disk(spark, tmp_path):
    """upsert_parquet_scoped's observed count: every row on a bootstrap,
    the rows of the touched partitions on a merge."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "de", "a", 1), (2, "de", "b", 1), (3, "en", "c", 1)], _KLV
    )
    assert upsert_parquet_scoped(spark, path, base, ["k"], "ver", ["lang"]) == 3
    batch = spark.createDataFrame([(1, "de", "a2", 2), (4, "de", "d", 1)], _KLV)
    n = upsert_parquet_scoped(spark, path, batch, ["k"], "ver", ["lang"])
    on_disk = spark.read.parquet(path)
    assert n == on_disk.filter(F.col("lang") == "de").count() == 3
    assert on_disk.count() == 4


@pytest.mark.parametrize("scoped", [False, True])
def test_upsert_rejects_batch_with_other_columns(spark, tmp_path, scoped):
    """The old side read with its footer schema still meets the batch in
    unionByName: a batch whose columns differ from the table's raises,
    and the table is left as it was."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "de", "a", 1)], _KLV)
    other = spark.createDataFrame(
        [(1, "de", "x", 2)], "k long, lang string, w string, ver long"
    )
    upsert = upsert_parquet_scoped if scoped else upsert_parquet
    upsert(spark, path, base, ["k"], "ver", ["lang"])
    with pytest.raises(AnalysisException):
        upsert(spark, path, other, ["k"], "ver", ["lang"])
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [
        (1, "a", 1, "de")
    ]


def test_read_layer_matches_inference_without_its_job(spark, spark_jobs, tmp_path):
    """read_layer takes the schema from one footer: no inference job, the
    same schema and rows as spark.read.parquet, hive partition columns
    still appended. A footer without Spark's schema falls back to
    inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "de", "a", 1), (2, "en", None, 1)], _KLV
    )
    df.write.partitionBy("lang").parquet(path)
    inferred, inference_jobs = spark_jobs(lambda: spark.read.parquet(path))
    footer, footer_jobs = spark_jobs(lambda: read_layer(spark, path))
    assert (inference_jobs, footer_jobs) == (1, 0)
    assert footer.columns == ["k", "v", "ver", "lang"]
    assert footer.schema == inferred.schema
    assert sorted(footer.collect()) == sorted(inferred.collect())

    plain = str(tmp_path / "plain")
    os.makedirs(plain)
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", None]}),
                   os.path.join(plain, "part-0.parquet"))
    assert read_layer(spark, plain).schema == spark.read.parquet(plain).schema
    assert sorted(read_layer(spark, plain).collect()) == sorted(
        spark.read.parquet(plain).collect()
    )
