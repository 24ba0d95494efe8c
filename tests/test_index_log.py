"""Persisted vector indexes publish through the Warehouse manifest log
(sources/txn.py): crash safety, racing writers, tag replay, and the Spark
jobs a load costs. Fixture: the test scale's ``embeddings`` table (500 × 64
at sf0.001), 8 IVF clusters."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex
from oracle_vectorsearch_example_spark.plans.inspect import spark_jobs as _jobs
from oracle_vectorsearch_example_spark.sources.io import read_table
from oracle_vectorsearch_example_spark.sources.txn import CommitConflict, Warehouse


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def n(emb):
    return emb.count()


def _shifted(emb, offset: int, parity: int | None = None):
    """``emb`` under fresh ids (``vec_id + offset``), optionally one parity."""
    df = emb if parity is None else emb.filter(F.col("vec_id") % 2 == parity)
    return df.select((F.col("vec_id") + offset).alias("vec_id"), "embedding")


def _metadata_files(root: str) -> dict[str, bytes]:
    """Every file of an index dir outside its parquet data, by path."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".crc") or n.endswith(".parquet") or n == "_SUCCESS":
                continue
            full = os.path.join(dirpath, n)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, root)] = fh.read()
    return out


def test_ivf_second_rebalance_publishes(emb, tmp_path, n):
    """Every rebalance writes a dir no earlier write used; a second one
    must not collide with the first."""
    p = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, n_clusters=8, seed=42, path=p)
    twice = idx.rebalance(n_clusters=8).rebalance(n_clusters=8, seed=7)
    assert twice.assignments.count() == n
    assert IvfIndex.load(emb.sparkSession, p).assignments.count() == n


def test_ivf_tag_replay_after_compact_is_noop(emb, tmp_path, n):
    """Applied tags live in the manifest, so they survive the compaction
    that folds the tagged add's dir away."""
    p = str(tmp_path / "ivf")
    idx = IvfIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), n_clusters=8, seed=42, path=p
    )
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    idx.add(odd, tag="b7").compact()
    replay = IvfIndex.load(emb.sparkSession, p).add(odd, tag="b7")
    assert replay.assignments.count() == n
    assert IvfIndex.load(emb.sparkSession, p).assignments.count() == n


def test_ivf_adds_from_one_snapshot_both_land(emb, tmp_path, n):
    """Two handles loaded from one snapshot each add: the later publish
    rebases on the earlier one instead of replacing it."""
    spark = emb.sparkSession
    p = str(tmp_path / "ivf")
    IvfIndex.build(emb, n_clusters=8, seed=42, path=p)
    first, second = IvfIndex.load(spark, p), IvfIndex.load(spark, p)
    first.add(_shifted(emb, 10_000, parity=0))
    both = second.add(_shifted(emb, 20_000, parity=1))
    assert both.assignments.count() == 2 * n
    assert IvfIndex.load(spark, p).assignments.count() == 2 * n
    assert first.assignments.count() == second.assignments.count() == n


def test_ivf_publish_never_rewrites_metadata(emb, tmp_path, monkeypatch, n):
    """A publish never rewrites a metadata file in place, so a crash in the
    middle of one cannot damage the snapshot before it: the half-written
    bytes of an interrupted publish stay invisible to ``load``."""
    spark = emb.sparkSession
    root = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, n_clusters=8, seed=42, path=root)
    built = _metadata_files(root)
    grown = idx.add(_shifted(emb, 10_000)).compact()
    after = _metadata_files(root)
    assert {k: after.get(k) for k in built} == built  # write-once

    def crash(self, version, manifest):
        text = json.dumps(manifest)
        with open(f"{self._log_dir()}/.{version:020d}.crash.tmp", "w") as fh:
            fh.write(text[: len(text) // 2])
        raise RuntimeError("crash mid-publish")

    monkeypatch.setattr(Warehouse, "_publish", crash)
    with pytest.raises(RuntimeError, match="crash mid-publish"):
        grown.add(_shifted(emb, 20_000))
    monkeypatch.undo()
    loaded = IvfIndex.load(spark, root)
    assert loaded.version == grown.version
    assert loaded.assignments.count() == 2 * n


def test_ivf_unpublished_dir_is_invisible_and_vacuumed(emb, tmp_path, monkeypatch, n):
    """A dir written but never published (a crash between the data write
    and the publish): ``load`` returns exactly the published rows, and
    expire + vacuum remove the dir."""
    spark = emb.sparkSession
    p = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, n_clusters=8, seed=42, path=p)

    def crash(self, *args, **kwargs):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(Warehouse, "commit_staged", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        idx.add(_shifted(emb, 10_000))
    monkeypatch.undo()
    on_disk = {
        f"data/{t}/{v}"
        for t in os.listdir(f"{p}/data")
        for v in os.listdir(f"{p}/data/{t}")
    }
    orphans = on_disk - set(idx.data_dirs)
    assert len(orphans) == 1
    loaded = IvfIndex.load(spark, p)
    assert loaded.data_dirs == idx.data_dirs
    assert loaded.assignments.count() == n
    wh = Warehouse(spark, p)
    wh.expire(keep_last=1)
    assert wh.vacuum() == sorted(orphans)
    assert IvfIndex.load(spark, p).assignments.count() == n


def test_ivf_add_and_rebalance_race_conflicts(emb, tmp_path, n):
    """An add planned on centroids that a rebalance has since replaced
    raises instead of publishing rows assigned to the old centroids; a
    rebalance that lost to an add raises instead of dropping its rows."""
    spark = emb.sparkSession
    p = str(tmp_path / "ivf")
    stale = IvfIndex.build(emb, n_clusters=8, seed=42, path=p)
    rebalanced = IvfIndex.load(spark, p).rebalance(n_clusters=8, seed=7)
    with pytest.raises(CommitConflict):
        stale.add(_shifted(emb, 10_000))
    head = IvfIndex.load(spark, p)
    assert head.version == rebalanced.version
    assert head.assignments.count() == n
    head.add(_shifted(emb, 10_000))
    with pytest.raises(CommitConflict):
        head.rebalance(n_clusters=8)
    assert IvfIndex.load(spark, p).assignments.count() == 2 * n


def test_ivf_compactions_from_one_snapshot_conflict(emb, tmp_path, n):
    """Two compactions of one snapshot: the later one finds the tables it
    folded already dropped and raises, rather than publishing every row
    twice."""
    spark = emb.sparkSession
    p = str(tmp_path / "ivf")
    IvfIndex.build(emb, n_clusters=8, seed=42, path=p).add(_shifted(emb, 10_000))
    first, second = IvfIndex.load(spark, p), IvfIndex.load(spark, p)
    first.compact()
    with pytest.raises(CommitConflict):
        second.compact()
    assert IvfIndex.load(spark, p).assignments.count() == 2 * n


def test_ivf_racing_untagged_adds_both_land(emb, tmp_path, monkeypatch, n):
    """Two adds race for the same version: the other writer publishes
    between this add's data write and its publish; both adds land."""
    spark = emb.sparkSession
    p = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, n_clusters=8, seed=42, path=p)
    other = IvfIndex.load(spark, p)
    real_publish = Warehouse._publish
    raced = []

    def interleaved(self, version, manifest):
        if not raced:  # the other add runs once, before our first claim
            raced.append(None)
            raced[0] = other.add(_shifted(emb, 20_000))
        return real_publish(self, version, manifest)

    monkeypatch.setattr(Warehouse, "_publish", interleaved)
    mine = idx.add(_shifted(emb, 10_000))
    assert raced[0].version == idx.version + 1
    assert mine.version == idx.version + 2
    assert mine.assignments.count() == 3 * n
    assert IvfIndex.load(spark, p).assignments.count() == 3 * n


def test_ivf_load_and_tag_replay_run_no_metadata_job(emb, tmp_path, n):
    """``load`` reads the manifest on the driver: the only Spark job is the
    parquet schema read of each data dir. A replayed tagged add decides
    from the head manifest, before planning any write, that it is a no-op,
    so it costs what a load of the same index costs."""
    spark = emb.sparkSession
    p = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, n_clusters=8, seed=42, path=p)
    assert _jobs(spark, lambda: IvfIndex.load(spark, p)) == 1
    extra = _shifted(emb, 10_000)
    idx.add(extra, tag="b1")
    load_jobs = _jobs(spark, lambda: IvfIndex.load(spark, p))
    assert load_jobs == 2  # one schema read per data dir
    assert _jobs(spark, lambda: idx.add(extra, tag="b1")) == load_jobs
    assert IvfIndex.load(spark, p).assignments.count() == 2 * n
