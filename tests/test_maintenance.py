"""Compaction: the oracle proves semantics; these prove the point —
fewer files, no shuffle."""

from __future__ import annotations

import os

from ssafynews_data_spark.operators import maintenance
from ssafynews_data_spark.sources.readers import load_table


def _parquet_files(path: str) -> int:
    return sum(
        1
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def test_compaction_cuts_file_count(spark, sf_dir, tmp_path):
    frag = maintenance.write_fragmented(spark, sf_dir, n_files=64)
    dst = str(tmp_path / "compacted_events")
    maintenance.compact(spark, frag, dst, maintenance.TARGET_FILE_ROWS)
    before, after = _parquet_files(frag), _parquet_files(dst)
    assert before == 64
    assert after < before // 4
    # and nothing lost
    assert (
        spark.read.parquet(dst).count()
        == load_table(spark, sf_dir, "events").count()
    )


def test_compaction_plans_no_shuffle(spark, sf_dir):
    frag = maintenance.write_fragmented(spark, sf_dir, n_files=16)
    df = spark.read.parquet(frag).coalesce(2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # coalesce concatenates, never shuffles


def test_profile_covers_all_requested_columns(spark, sf_dir):
    rows = {r.col: r for r in maintenance.events_column_profile(spark, sf_dir).collect()}
    assert set(rows) == {"event_type", "user_id", "value"}
    ev = load_table(spark, sf_dir, "events")
    assert rows["event_type"].n_distinct == ev.select("event_type").distinct().count()


# --- range-partitioned sorted layout ----------------------------------------


def test_range_layout_audit_contract(spark, sf_dir):
    row = maintenance.range_layout_audit(spark, sf_dir).collect()[0]
    assert row.ranges_disjoint and row.rows_sorted
    # the contract column only claims 1 <= n_files <= cap (empty ranges
    # write no file under skew); the fixture's dense distinct event_id
    # makes the count exact, asserted here where that's known
    assert row.files_within_cap
    assert row.rows_total == load_table(spark, sf_dir, "events").count()


def test_range_layout_footers_disjoint(spark, sf_dir):
    """The at-scale version of the audit: O(files) parquet-footer
    min/max, no row scan — file-level ranges must not overlap and
    within each file row-group mins must be nondecreasing (sorted
    writes)."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    audit = maintenance.range_layout_audit(spark, sf_dir)
    audit.collect()
    # the layout files the audit itself read back
    files = sorted(urlparse(f).path for f in audit.inputFiles())
    assert files and all(f.endswith(".parquet") for f in files)
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col = [
            i
            for i in range(len(md.schema))
            if md.schema.column(i).name == "event_id"
        ][0]
        rg_mins, mn, mx = [], None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            rg_mins.append(st.min)
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        assert rg_mins == sorted(rg_mins)
        spans.append((mn, mx))
    spans.sort()
    assert len(spans) == maintenance.RANGE_LAYOUT_PARTS
    for (_, prev_mx), (mn, _) in zip(spans, spans[1:]):
        assert prev_mx < mn
