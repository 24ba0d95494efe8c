"""S6: atomic multi-table commit via the manifest-log warehouse."""

import pytest

from oracle_vectorsearch_example_spark.sources.txn import CommitConflict, Warehouse


@pytest.fixture
def wh(spark, tmp_path):  # noqa: F811
    return Warehouse(spark, str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, val string")


def test_commit_publishes_all_tables_at_once(spark, wh):
    v = wh.commit({"a": _df(spark, [(1, "x")]), "b": _df(spark, [(2, "y")])})
    assert v == 1
    assert wh.tables() == ["a", "b"]
    assert wh.read("a").collect()[0].val == "x"
    assert wh.read("b").collect()[0].val == "y"


def test_partial_commit_carries_forward_unchanged_tables(spark, wh):
    wh.commit({"a": _df(spark, [(1, "x")]), "b": _df(spark, [(2, "y")])})
    v = wh.commit({"a": _df(spark, [(1, "x2")])})
    assert v == 2
    # b carried forward into the v2 snapshot — still visible, unchanged
    assert wh.tables() == ["a", "b"]
    assert wh.read("a").collect()[0].val == "x2"
    assert wh.read("b").collect()[0].val == "y"


def test_time_travel_reads_old_snapshot(spark, wh):
    wh.commit({"a": _df(spark, [(1, "old")])})
    wh.commit({"a": _df(spark, [(1, "new")])})
    assert wh.read("a", version=1).collect()[0].val == "old"
    assert wh.read("a").collect()[0].val == "new"


def test_crash_before_publish_is_invisible(spark, wh):
    """Data jobs done, manifest never published → readers see the old head."""
    wh.commit({"a": _df(spark, [(1, "committed")])})
    # simulate the crash: step 1 of commit() ran (data dir exists), step 2
    # (manifest publish) never did
    _df(spark, [(1, "torn")]).write.parquet(f"{wh.root}/data/a/v2")
    _df(spark, [(9, "torn")]).write.parquet(f"{wh.root}/data/new_table/v2")
    assert wh.current_version() == 1
    assert wh.tables() == ["a"]
    assert wh.read("a").collect()[0].val == "committed"
    # vacuum removes exactly the orphans, keeps every referenced dir
    assert sorted(wh.vacuum()) == ["data/a/v2", "data/new_table/v2"]
    assert wh.read("a").collect()[0].val == "committed"
    assert wh.vacuum() == []


def test_concurrent_commit_loser_rebases(spark, wh):
    """Two warehouses race version 2; the loser lands intact on version 3."""
    wh.commit({"a": _df(spark, [(1, "base")])})
    other = Warehouse(spark, wh.root)
    real_publish = wh._publish

    def interleaved(version, manifest):
        # the other committer sneaks in v2 right before our publish attempt
        if other.current_version() == 1:
            other.commit({"b": _df(spark, [(2, "winner")])})
        return real_publish(version, manifest)

    wh._publish = interleaved
    v = wh.commit({"a": _df(spark, [(1, "loser-rebased")])})
    assert v == 3
    assert wh.tables() == ["a", "b"]  # both commits survived
    assert wh.read("a").collect()[0].val == "loser-rebased"
    assert wh.read("b").collect()[0].val == "winner"


def test_publish_claim_is_exclusive(spark, wh):
    wh.commit({"a": _df(spark, [(1, "x")])})
    assert wh._publish(1, {"version": 1, "parent": None, "tables": {}}) is False


def test_commit_conflict_after_retries(spark, wh):
    wh._publish = lambda version, manifest: False
    with pytest.raises(CommitConflict):
        wh.commit({"a": _df(spark, [(1, "x")])}, max_retries=2)


def test_meta_carries_forward_and_conflicts_on_rebase(spark, wh):
    """Manifest ``meta`` carries forward like ``tables`` (a manifest from
    before it existed reads as ``{}``); a commit that lost the race to a
    meta change raises instead of rebasing."""
    assert wh._publish(1, {"version": 1, "parent": None, "tables": {}})
    assert wh.meta() == {}
    wh.commit({"a": _df(spark, [(1, "x")])}, meta={"k": 1, "j": 0})
    wh.commit({"b": _df(spark, [(2, "y")])}, meta={"k": 2})
    wh.commit({"a": _df(spark, [(3, "z")])})
    assert wh.meta() == {"k": 2, "j": 0} and wh.meta(version=2) == {"k": 1, "j": 0}
    stale = wh.current_version()
    Warehouse(spark, wh.root).commit({"c": _df(spark, [(4, "w")])}, meta={"k": 3})
    written = wh.stage(["d"], stale)
    _df(spark, [(5, "v")]).write.parquet(f"{wh.root}/{written['d']}")
    with pytest.raises(CommitConflict):
        wh.commit_staged(stale, written)
    assert wh.tables() == ["a", "b", "c"]


def test_empty_commit_rejected(wh):
    with pytest.raises(ValueError):
        wh.commit({})


def test_read_missing_table_raises(spark, wh):
    wh.commit({"a": _df(spark, [(1, "x")])})
    with pytest.raises(KeyError):
        wh.read("nope")


def test_commit_drop_retires_tables_atomically(spark, wh):
    v1 = wh.commit({"a": _df(spark, [(1, "x")]), "b": _df(spark, [(2, "y")])})
    v2 = wh.commit({"c": _df(spark, [(3, "z")])}, drop=["a", "nonexistent"])
    assert wh.tables() == ["b", "c"]
    # time travel still reads the dropped table at the old version
    assert wh.read("a", version=v1).count() == 1
    assert v2 == v1 + 1


def test_commit_drop_overlap_rejected(spark, wh):
    with pytest.raises(ValueError, match="both written and dropped"):
        wh.commit({"a": _df(spark, [(1, "x")])}, drop=["a"])


def test_expire_then_vacuum_reclaims_dropped_tables(spark, wh):
    """r6 retention: compacted/dropped tables' data dirs stay on disk
    while any manifest references them; expire + vacuum reclaims."""
    v1 = wh.commit({"a": _df(spark, [(1, "x")])})
    wh.commit({"b": _df(spark, [(2, "y")])}, drop=["a"])
    wh.commit({"b": _df(spark, [(3, "z")])})
    # all three manifests live: vacuum reclaims nothing of table a
    assert wh.vacuum() == []
    assert wh.read("a", version=v1).count() == 1
    expired = wh.expire(keep_last=1)
    assert expired == [1, 2]
    removed = wh.vacuum()
    # a's dir and b's superseded v2 dir are reclaimed
    assert any("/a/" in r for r in removed)
    assert any("/b/" in r for r in removed)
    # head still reads fine; expired time travel is gone
    assert {r.id for r in wh.read("b").collect()} == {3}
    with pytest.raises(Exception):
        wh.snapshot(version=v1)


def test_expire_keeps_head(spark, wh):
    wh.commit({"a": _df(spark, [(1, "x")])})
    assert wh.expire(keep_last=5) == []
    with pytest.raises(ValueError, match="keep_last"):
        wh.expire(keep_last=0)
    assert wh.current_version() == 1


def test_merge_scd2_versions_align_with_manifest(spark, tmp_path):
    """Warehouse.merge_scd2: batch ids default to the publishing version,
    so valid_from/valid_to join the manifest log directly."""
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    v1 = wh.merge_scd2("dim", b1, ["id"])
    assert v1 == 1
    b2 = spark.createDataFrame([(1, "a2"), (3, "c")], "id long, v string")
    v2 = wh.merge_scd2("dim", b2, ["id"])
    assert v2 == 2
    hist = wh.read("dim")
    rows = sorted(map(tuple, hist.collect()))
    assert rows == [
        (1, "a", 1, 2, False),
        (1, "a2", 2, None, True),
        (2, "b", 1, None, True),
        (3, "c", 2, None, True),
    ]
    # time travel to v1 shows the pre-apply history
    assert wh.read("dim", version=v1).count() == 2
    # current rows per key is exactly one
    cur = hist.filter(F.col("is_current")).groupBy("id").count()
    assert cur.filter(F.col("count") != 1).count() == 0


def test_optimize_compacts_files_content_identical(spark, tmp_path):
    import glob

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 1000).repartition(16).selectExpr("id", "id * 2 AS v")
    v1 = wh.commit({"t": df})
    files_before = glob.glob(
        str(tmp_path / "wh" / "data" / "t" / f"v{v1}" / "*.parquet")
    )
    assert len(files_before) == 16
    before = sorted(map(tuple, wh.read("t").collect()))
    v2 = wh.optimize("t", target_files=2)
    files_after = glob.glob(
        str(tmp_path / "wh" / "data" / "t" / f"v{v2}" / "*.parquet")
    )
    assert len(files_after) <= 2
    assert sorted(map(tuple, wh.read("t").collect())) == before
    # old version still readable until expire+vacuum
    assert wh.read("t", version=v1).count() == 1000
    wh.expire(keep_last=1)
    removed = wh.vacuum()
    assert any(f"t/v{v1}" in r for r in removed)


def test_manifest_memo_cross_handle_visibility(spark, wh, tmp_path):
    """r15: manifests are memoized per handle (write-once), which must
    not hide NEW commits from other handles — version resolution always
    re-lists the log."""
    from oracle_vectorsearch_example_spark.sources.txn import Warehouse

    wh.commit({"t": _df(spark, [(1, "x")])})
    other = Warehouse(spark, wh.root)
    assert other.read("t").count() == 1
    wh.commit({"t": _df(spark, [(1, "x"), (2, "y")])})
    # other handle cached manifest v1 only; head resolution sees v2
    assert other.read("t").count() == 2
    # memo returns the same parsed dict for a re-read of the same version
    assert other._read_manifest(1) is other._read_manifest(1)
