"""Z-order layout: semantic invisibility is the oracle's job; these
tests measure the part SQL can't see — that the Morton layout actually
skips files on a 2-D box."""

from __future__ import annotations

from pyspark.sql import functions as F

from ssafynews_data_spark.operators import zorder
from ssafynews_data_spark.sources.readers import load_table


def _box(df):
    return df.filter(
        (F.col("value") >= zorder.BOX_VALUE[0])
        & (F.col("value") < zorder.BOX_VALUE[1])
        & (F.col("ts") >= F.lit(zorder.BOX_TS[0]).cast("timestamp"))
        & (F.col("ts") < F.lit(zorder.BOX_TS[1]).cast("timestamp"))
    )


def test_morton_key_locality(spark, sf_dir):
    # neighbours in (vq, tq) space must be close on the curve: the key
    # of (x, y) and (x+1, y) differ only in interleaved-x bits.
    df = spark.range(4).selectExpr("id as vq", "id as tq").withColumn(
        "z", zorder.morton_key("vq", "tq")
    )
    got = {(r.vq, r.tq): r.z for r in df.collect()}
    # hand-computed Morton codes for the diagonal
    assert got == {(0, 0): 0, (1, 1): 3, (2, 2): 12, (3, 3): 15}


def test_zorder_box_result_matches_raw(spark, sf_dir):
    got = {
        (r.event_type): (r.n, r.total_value)
        for r in zorder.zorder_box_query(spark, sf_dir).collect()
    }
    raw = {
        (r.event_type): (r.n, r.total_value)
        for r in _box(load_table(spark, sf_dir, "events"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    }
    assert got == raw


def test_zorder_touches_fewer_files(spark, sf_dir, tmp_path):
    """The point of the layout: the box's rows live in fewer files than
    under a key-shuffled layout with the SAME file count."""
    zpath = zorder.write_zordered(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    shuffled_path = str(tmp_path / "shuffled")
    ev.repartition(zorder.N_FILES, "event_id").write.mode("overwrite").parquet(
        shuffled_path
    )

    def files_touched(path: str) -> int:
        return (
            _box(spark.read.parquet(path))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    z_files = files_touched(zpath)
    s_files = files_touched(shuffled_path)
    # a hash-shuffled layout spreads the box over ~every file; the
    # Morton layout concentrates it.
    assert z_files < s_files
    assert z_files <= zorder.N_FILES // 2


def test_zorder_scan_pushes_filters(spark, sf_dir):
    plan = (
        zorder.zorder_box_query(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "value" in plan
