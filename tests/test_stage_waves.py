"""Focused contracts for plans.streaming_plans._stage_waves.

The wave sims stage their input with one partitionBy write and release
each wave with hard links.  Pinned here:

- a release delivers exactly its wave's rows, under new paths;
- release order == file mtime order (the file source batches by
  timestamp);
- rows whose wave expression is NULL are staged to the default
  partition and can never be released;
- the overlapping-wave expression stages each wave as its own file
  group and keeps negative keys deliverable.
"""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from tg_reporting_etl_spark.plans.streaming_plans import _overlap_waves, _stage_waves


def _group_of(path):
    # released names are w{seq}_{group}_{i}_{orig}; substring tests like
    # `"_1_" in name` are ambiguous (the file INDEX field also matches
    # when a group stages >1 file), so parse the group field exactly
    return os.path.basename(path).split("_")[1]


def _read_ids(spark, src):
    files = glob.glob(f"{src}/*.parquet")
    if not files:
        return []
    return sorted(r.doc_id for r in spark.read.parquet(src).collect())


def test_stage_waves_release_order_and_null_wave(spark, tmp_path):
    # doc_id % 3 waves; the NULL doc_id has a NULL wave -> never releasable
    df = spark.createDataFrame(
        [(i,) for i in range(9)], "doc_id long"
    ).unionByName(spark.createDataFrame([(None,)], "doc_id long")).withColumn(
        "payload", F.col("doc_id") * 10
    )
    staging, src = str(tmp_path / "staging"), str(tmp_path / "src")
    release = _stage_waves(df, F.col("doc_id") % 3, staging, src)

    released = set()
    last_mtime = 0.0
    for k, want in ((0, [0, 3, 6]), (1, [0, 1, 3, 4, 6, 7]), (2, list(range(9)))):
        release(k)
        assert _read_ids(spark, src) == want  # the NULL row is never delivered
        files = set(glob.glob(f"{src}/*.parquet"))
        new = files - released
        assert new and {_group_of(f) for f in new} == {str(k)}, "one release lands one wave"
        assert all(os.path.getmtime(f) > last_mtime for f in new), (
            "release order must equal mtime order for the file source"
        )
        last_mtime = max(os.path.getmtime(f) for f in new)
        released = files
    # hard links, not copies: staged bytes are shared, not rewritten
    staged = glob.glob(f"{staging}/_wave=1/*.parquet")
    assert staged and all(os.stat(f).st_nlink >= 2 for f in staged)
    assert glob.glob(f"{staging}/_wave=__HIVE_DEFAULT_PARTITION__/*.parquet")


def test_overlap_waves_explode_staging(spark, tmp_path):
    """The overlap rows stage by WAVE via explode: each wave is its own
    file group, released exactly once, and pmod keeps negative ids
    deliverable (Spark's % would stage them to _wave=-1 and silently
    drop them)."""
    df = (
        spark.createDataFrame([(i,) for i in range(9)] + [(-1,)], "doc_id long")
        .unionByName(spark.createDataFrame([(None,)], "doc_id long"))
        .withColumn("payload", F.col("doc_id") * 10)
        .coalesce(1)
    )
    staging, src = str(tmp_path / "staging"), str(tmp_path / "src")
    release = _stage_waves(df, _overlap_waves(F.col("doc_id")), staging, src)

    release(0)  # wave A: groups {0,1} = old filter(% 3 != 2)
    wave_a = _read_ids(spark, src)
    # pmod(-1,3)=2 -> wave B only; NULL key -> NULL array -> no row staged
    assert wave_a == [0, 1, 3, 4, 6, 7]
    a_files = set(glob.glob(f"{src}/*.parquet"))
    # ONE file group per wave (1-partition source -> 1 file)
    assert len(a_files) == 1
    mtime_a = max(os.path.getmtime(f) for f in a_files)

    release(1)  # wave B: groups {1,2} = old filter(% 3 != 0)
    all_ids = _read_ids(spark, src)
    # the shared group {1,4,7} is re-delivered; -1 arrives once, in wave B
    assert all_ids == sorted([0, 1, 3, 4, 6, 7] + [-1, 1, 2, 4, 5, 7, 8])
    b_files = set(glob.glob(f"{src}/*.parquet")) - a_files
    assert len(b_files) == 1
    # each wave released once -> no shared-inode re-stamp; order holds
    assert all(os.path.getmtime(f) > mtime_a for f in b_files)


def test_stage_waves_empty_group_is_noop(spark, tmp_path):
    df = spark.createDataFrame([(1,), (3,)], "doc_id long")
    staging, src = str(tmp_path / "staging"), str(tmp_path / "src")
    release = _stage_waves(df, F.col("doc_id") % 2, staging, src)
    release(0)  # no even ids staged: must be a no-op, like the empty filtered write
    assert glob.glob(f"{src}/*.parquet") == []
    release(1)
    assert _read_ids(spark, src) == [1, 3]
