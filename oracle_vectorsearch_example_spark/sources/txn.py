"""Atomic multi-table commit (S6): a minimal manifest-log warehouse.

The reference wraps its multi-statement load in one transaction and issues
a single ``COMMIT`` (01_pdf_to_vector.sql:116) — every table the pipeline
touches becomes visible at once or not at all. Spark's parquet sink only
gives per-*job* atomicity (the ``_SUCCESS``/staging protocol covers one
``save()``), so a pipeline writing chunks + embeddings + stats as three
jobs can crash half-visible.

:class:`Warehouse` closes that gap with the public snapshot-log pattern
(the design popularized by Delta Lake's ``_delta_log`` and Iceberg's
metadata tree, re-implemented here from first principles, minimally):

- data files live under ``data/<table>/v<N>/`` — written first, invisible
  until referenced;
- a commit publishes ``_log/<N 20-digit>.json`` mapping every table to its
  current data dir (unchanged tables carry forward from the parent
  manifest, so a commit of a subset is still a full-snapshot manifest);
- the publish writes the manifest to a temp file and claims version N by
  renaming it into place — create-if-absent, so two racing committers
  cannot both win version N and a crash never leaves a half-written
  manifest; the loser re-reads the new head and retries on top of it
  (optimistic concurrency);
- readers resolve the highest-numbered manifest and read only the data
  dirs it names. A crash before publish leaves orphan ``v<N>`` dirs that
  no reader can see; :meth:`vacuum` removes them.

Manifests also carry a ``meta`` map (carried forward like ``tables``; a
manifest written before it existed reads as ``{}``). It is how the
persisted vector indexes publish: ``IvfIndex`` (centroids, column names,
applied ``add`` tags; one table per build/add/compact/rebalance),
``CosineLshIndex`` (hyperplanes) and ``ShardedHnswIndex`` (shard count,
``m``) each keep their index under a Warehouse root and publish every
change as one manifest — :meth:`Warehouse.stage` names the version dirs,
the index writes its own partition layout into them, and
:meth:`Warehouse.commit_staged` publishes. A committer that lost the race
rebases only when neither side changed ``meta`` and every table it drops
is still live; otherwise it raises :class:`CommitConflict` (Delta's
metadata-change rule: an ``add`` never lands on centroids a ``rebalance``
replaced, and two compactions never both publish the rows they folded).

Scale notes: the manifest holds one path per table (not per file), so it
stays tiny at any data size; listing ``_log`` is O(commits) — fine for
pipeline cadence (compaction/checkpointing is the known extension and out
of scope). The rename claim is atomic on HDFS; the local filesystem's
rename replaces a target, so there the claim checks first (atomic within
one process, like its ``create(overwrite=False)``); on S3-family object
stores the real systems use a
conditional-PUT or a coordination service — same contract, different
primitive (documented limitation, as in open-source Delta's
``LogStore`` abstraction).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(Exception):
    """Another committer published this version first (after retries)."""


def merge_rows(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    when_matched: str = "update",
    insert_unmatched: bool = True,
    check_unique_source: bool = True,
    schema_evolution: bool = False,
) -> DataFrame:
    """ANSI/Oracle ``MERGE`` semantics as a pure DataFrame expression
    (the reference's engine staple the S-family was missing; S3/S4's
    sibling): target rows with no source match pass through; matched
    rows are whole-row replaced by their source row (``"update"``) or
    removed (``"delete"``); unmatched source rows insert when
    ``insert_unmatched``. Deterministic for any input — which is why
    ``check_unique_source`` defaults on: ANSI MERGE raises on two
    source rows hitting one target row (Oracle ORA-30926 "unable to
    get a stable set of rows"), and silently picking one would make
    the result layout-dependent. The check is one aggregate over the
    skinny key columns.

    Plan shape (scale posture): one anti join keyed on ``key_cols``
    for the pass-through, one union — payloads shuffle once each side,
    no window functions, no driver loop. Schemas must align
    (unionByName; update is whole-row replacement — column-subset
    updates are a projection the caller owns).
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(
            f"when_matched must be 'update' or 'delete', got {when_matched!r}"
        )
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    missing = [c for c in keys if c not in target.columns or c not in source.columns]
    if missing:
        raise ValueError(f"key columns missing from target or source: {missing}")
    if check_unique_source:
        dup = (
            source.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "source has duplicate rows for key "
                f"{ {c: dup[0][c] for c in keys} } — ANSI MERGE requires a "
                "stable set of rows (Oracle ORA-30926); dedupe the source "
                "or disable check_unique_source at your own risk"
            )
    extra_src = [c for c in source.columns if c not in target.columns]
    if extra_src and not schema_evolution:
        raise ValueError(
            f"source has columns not in target: {extra_src} — pass "
            "schema_evolution=True to widen the target (Delta's "
            "mergeSchema semantics: pass-through rows read NULL there)"
        )
    untouched = target.join(source.select(*keys), on=keys, how="left_anti")
    if when_matched == "delete":
        incoming = (
            source.join(target.select(*keys), on=keys, how="left_anti")
            if insert_unmatched
            else source.limit(0)
        )
    else:
        incoming = (
            source
            if insert_unmatched
            else source.join(target.select(*keys), on=keys, how="left_semi")
        )
    if schema_evolution:
        # widened output = target columns then new source columns;
        # whichever side lacks a column reads NULL (update stays
        # whole-row: a source missing a target column nulls it on
        # updated rows — project explicitly to retain instead)
        return untouched.unionByName(incoming, allowMissingColumns=True)
    return untouched.unionByName(incoming.select(*target.columns))


class Warehouse:
    """A directory of tables with atomic multi-table commits.

    Usage::

        wh = Warehouse(spark, "/path/to/wh")
        wh.commit({"chunks": chunks_df, "embeddings": emb_df})  # all-or-nothing
        wh.read("chunks")                 # latest committed snapshot
        wh.read("chunks", version=1)      # time travel
    """

    _LOG = "_log"
    _DATA = "data"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        jvm = spark._jvm
        self._hpath = jvm.org.apache.hadoop.fs.Path
        self._fs = self._hpath(self.root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        # published manifests are WRITE-ONCE (atomic create-if-absent,
        # never overwritten; expire() only deletes), so a parsed manifest
        # is valid for the lifetime of this handle — memoizing is
        # consistent by construction and removes a metadata read per
        # snapshot()/read()/tables() call (r15 opt, guide §5 driver
        # discipline: an ingest was paying ~8 manifest reads).
        # Caveat: only THIS handle's expire() evicts. A version another
        # handle expired stays readable here from the memo, and once
        # vacuum() has run, reading its tables fails with an opaque
        # data-file FileNotFound instead of the clean LookupError — so
        # keep expire/vacuum to one handle (the single-writer posture),
        # or reopen the Warehouse after a cross-handle expire.
        self._manifest_cache: dict[int, dict] = {}

    # ------------------------------------------------------------ log I/O
    def _log_dir(self) -> str:
        return f"{self.root}/{self._LOG}"

    def _manifest_path(self, version: int) -> str:
        return f"{self._log_dir()}/{version:020d}.json"

    def _list_versions(self) -> list[int]:
        log = self._hpath(self._log_dir())
        if not self._fs.exists(log):
            return []
        out = []
        for st in self._fs.listStatus(log):
            name = st.getPath().getName()
            if name.endswith(".json"):
                try:
                    out.append(int(name[:-5]))
                except ValueError:
                    pass  # foreign file in the log dir: ignore, don't crash
        return sorted(out)

    def _read_manifest(self, version: int) -> dict:
        # Manifests are a few hundred bytes of JSON: read them with the
        # Hadoop FS client directly instead of a whole Spark job
        # (spark.read.text(...).collect() cost one job — ~0.1-0.3 s of
        # scheduling — PER metadata lookup, and an ingest does several;
        # r15 opt, guide §5: metadata work belongs on the driver, not in
        # a distributed scan of a 300-byte file). Works on any Hadoop FS
        # (same client the publish path uses).
        # Existence-check first so an expired/never-written version surfaces
        # as a clear error, not an opaque Hadoop FileNotFound from the read
        # (a committer that lost the publish race re-reads snapshot(head)
        # and must not crash confusingly if expire() ran concurrently —
        # see expire()'s coordination note).
        cached = self._manifest_cache.get(version)
        if cached is not None:
            return cached
        p = self._hpath(self._manifest_path(version))
        if not self._fs.exists(p):
            raise LookupError(
                f"manifest for version {version} does not exist — either it "
                f"was never committed or it was expired by expire(); "
                f"current versions: {self._list_versions()}"
            )
        stream = self._fs.open(p)
        try:
            # JVM-side drain (py4j copies byte[] args by value, so a
            # Python-side read(buf) loop would never see the bytes)
            text = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
            manifest = json.loads(text)
        finally:
            stream.close()
        self._manifest_cache[version] = manifest
        return manifest

    def _manifest(self, version: int | None) -> dict:
        return {} if version is None else self._read_manifest(version)

    def _publish(self, version: int, manifest: dict) -> bool:
        """Atomically create manifest ``version``; False if it already exists.

        The bytes go to a temp file first and are claimed by a rename, so
        a crash mid-write leaves only a temp file that no reader lists —
        never a truncated manifest. ``rename`` refuses an existing target
        on HDFS (atomic claim); the local filesystem's rename would
        replace it, so the claim checks first — the same check-then-act
        the local ``create(overwrite=False)`` does."""
        p = self._hpath(self._manifest_path(version))
        self._fs.mkdirs(p.getParent())
        tmp = self._hpath(
            f"{self._log_dir()}/.{version:020d}.{uuid.uuid4().hex}.tmp"
        )
        out = self._fs.create(tmp, False)
        try:
            out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()
        if self._fs.exists(p) or not self._fs.rename(tmp, p):
            self._fs.delete(tmp, False)
            return False
        return True

    # ------------------------------------------------------------ public
    def current_version(self) -> int | None:
        vs = self._list_versions()
        return vs[-1] if vs else None

    def snapshot(self, version: int | None = None) -> dict[str, str]:
        """table → data dir (relative to root) at ``version`` (default head)."""
        if version is None:
            version = self.current_version()
        return dict(self._manifest(version).get("tables", {}))

    def meta(self, version: int | None = None) -> dict:
        """The ``meta`` map at ``version`` (default head); ``{}`` for an
        empty log or a manifest written before manifests carried one."""
        if version is None:
            version = self.current_version()
        return dict(self._manifest(version).get("meta", {}))

    def stage(self, tables, base: int | None) -> dict[str, str]:
        """table → data dir (relative to root) to write for a commit
        planned on version ``base`` (None: an empty log). Nothing written
        there is visible until :meth:`commit_staged` publishes it."""
        return {name: f"{self._DATA}/{name}/v{(base or 0) + 1}" for name in tables}

    def commit(
        self,
        tables: dict[str, DataFrame],
        max_retries: int = 5,
        drop: list[str] | tuple[str, ...] = (),
        meta: dict | None = None,
    ) -> int:
        """Write ``tables`` and publish them in ONE atomic step.

        All data jobs run first (expensive, invisible); only the final tiny
        manifest create is the commit point. Returns the new version.
        ``drop`` and ``meta`` as in :meth:`commit_staged`.
        """
        head = self.current_version()
        written = self.stage(tables, head)
        # 1. write data dirs for the new version — not yet visible.
        # Independent tables write CONCURRENTLY (guide §2.6: Spark's
        # scheduler happily runs several jobs at once; a commit of 2-4
        # small tables was paying each job's scheduling latency serially,
        # and the tail tasks of one write leave executors idle for the
        # next). Atomicity is unchanged — nothing is visible until the
        # single manifest create in commit_staged.
        if len(tables) == 1:
            ((name, df),) = tables.items()
            df.write.mode("overwrite").parquet(f"{self.root}/{written[name]}")
        elif tables:
            from concurrent.futures import ThreadPoolExecutor

            def _write(item):
                name, df = item
                df.write.mode("overwrite").parquet(f"{self.root}/{written[name]}")

            with ThreadPoolExecutor(max_workers=min(4, len(tables))) as pool:
                # list() drains the iterator so the first raised exception
                # propagates (a failed write must fail the commit)
                list(pool.map(_write, tables.items()))
        # 2. publish
        return self.commit_staged(head, written, drop, meta, max_retries)

    def commit_staged(
        self,
        base: int | None,
        written: dict[str, str],
        drop: list[str] | tuple[str, ...] = (),
        meta: dict | None = None,
        max_retries: int = 5,
    ) -> int:
        """Publish data dirs already written where :meth:`stage` named
        them for ``base``, as ONE manifest. Returns the new version.

        Unchanged tables carry forward from the parent manifest; ``meta``
        keys overwrite the parent's ``meta`` the same way.

        ``drop``: table names to REMOVE from the new snapshot in the same
        atomic step (compaction: publish the folded table and retire its
        inputs in one manifest swap). Dropped tables stay readable at
        earlier versions (time travel) until ``vacuum`` after manifest
        retention expires; dropping an unknown name is a no-op.

        Lost race: rebase on the new head (renaming the data dirs to the
        new version) — unless ``meta`` is given, the new head's ``meta``
        differs from ``base``'s, or a table this commit drops is gone;
        then raise :class:`CommitConflict`, since the data was planned
        against a state that no longer holds.
        """
        if not written:
            raise ValueError("commit of zero tables")
        overlap = set(drop) & set(written)
        if overlap:
            raise ValueError(f"tables both written and dropped: {sorted(overlap)}")
        planned = self._manifest(base)
        head, parent, version = base, planned, (base or 0) + 1
        for _ in range(max_retries):
            merged = {**parent.get("tables", {}), **written}
            for name in drop:
                merged.pop(name, None)
            manifest = {
                "version": version,
                "parent": head,
                "tables": merged,
                "meta": {**parent.get("meta", {}), **(meta or {})},
            }
            if self._publish(version, manifest):
                self._manifest_cache[version] = manifest
                return version
            head = self.current_version()
            parent = self._manifest(head)
            gone = [
                t for t in drop
                if t in planned.get("tables", {}) and t not in parent.get("tables", {})
            ]
            if meta or gone or parent.get("meta", {}) != planned.get("meta", {}):
                raise CommitConflict(
                    f"version {head} was published after version {base}, "
                    "which this commit was planned on, and "
                    + (f"already dropped {gone}" if gone else "one of them changes meta")
                )
            # rebase: data dirs are keyed by OUR version number, so move
            # them under the new number when the head moved past it
            new_version = (head or 0) + 1
            if new_version != version:
                moved = {}
                for name, src in written.items():
                    dst = f"{self._DATA}/{name}/v{new_version}"
                    self._fs.rename(
                        self._hpath(f"{self.root}/{src}"),
                        self._hpath(f"{self.root}/{dst}"),
                    )
                    moved[name] = dst
                written, version = moved, new_version
        raise CommitConflict(f"lost the commit race {max_retries} times")

    def read(self, table: str, version: int | None = None) -> DataFrame:
        snap = self.snapshot(version)
        if table not in snap:
            raise KeyError(f"table {table!r} not in snapshot: {sorted(snap)}")
        return self.spark.read.parquet(f"{self.root}/{snap[table]}")

    def tables(self, version: int | None = None) -> list[str]:
        return sorted(self.snapshot(version))

    def merge(
        self,
        table: str,
        source: DataFrame,
        key_cols: list[str] | tuple[str, ...],
        when_matched: str = "update",
        insert_unmatched: bool = True,
        check_unique_source: bool = True,
        schema_evolution: bool = False,
    ) -> int:
        """Atomic ``MERGE INTO table USING source ON key_cols`` — the
        Oracle DML staple over the snapshot log: compute
        :func:`merge_rows` against the current committed snapshot and
        publish the result as ONE manifest swap (readers see either the
        pre-merge or post-merge table, never a mix; the superseded data
        dir stays time-travelable until expire+vacuum). A table that
        does not exist yet is created from the unmatched-insert rows
        (``MERGE`` into an empty target). Returns the new version."""
        snap = self.snapshot() if self.current_version() is not None else {}
        if table not in snap and not insert_unmatched:
            raise KeyError(
                f"table {table!r} does not exist and insert_unmatched=False"
            )
        # a missing table merges against an empty target of the source's
        # schema — the dup-source check and insert semantics apply
        # uniformly
        tgt = self.read(table) if table in snap else source.limit(0)
        merged = merge_rows(
            tgt,
            source,
            key_cols,
            when_matched=when_matched,
            insert_unmatched=insert_unmatched,
            check_unique_source=check_unique_source,
            schema_evolution=schema_evolution,
        )
        # the anti join is lazy over the CURRENT snapshot; materialize
        # into the new version dir happens inside commit (reads old,
        # writes new — different dirs, no read-overwrite hazard)
        return self.commit({table: merged})

    def merge_scd2(
        self,
        table: str,
        source: DataFrame,
        key_cols: list[str] | tuple[str, ...],
        batch_id: int | None = None,
        **kwargs,
    ) -> int:
        """Atomic SCD Type-2 apply (S13 over S6): run
        :func:`oracle_vectorsearch_example_spark.sources.scd.scd2_apply`
        against the current committed history and publish the result as
        one manifest swap. A missing table initializes via ``scd2_init``.
        ``batch_id`` defaults to the version this commit will (normally)
        get — head+1 — which makes ``valid_from``/``valid_to`` join
        directly against the manifest log for time travel; under a lost
        commit race the published version can exceed the embedded batch
        id (ids stay monotonic and unique because the race loser rebases
        on a strictly newer head). Returns the new version."""
        from oracle_vectorsearch_example_spark.sources.scd import (
            scd2_apply,
            scd2_init,
        )

        head = self.current_version()
        if batch_id is None:
            batch_id = (head or 0) + 1
        snap = self.snapshot() if head is not None else {}
        if table in snap:
            new_hist = scd2_apply(
                self.read(table), source, key_cols, batch_id, **kwargs
            )
        else:
            new_hist = scd2_init(source, batch_id)
        return self.commit({table: new_hist})

    def optimize(self, table: str, target_files: int = 32) -> int:
        """Compact a table's data files (the small-file problem every
        per-batch committer creates — streaming CDC publishes one version
        per micro-batch, often a handful of rows per file; at 100 TB the
        resulting file-count explosion is what kills scan planning):
        rewrite the CURRENT snapshot coalesced to ``target_files`` files
        and publish it as one manifest swap. Contents are byte-identical
        rows (a pure ``coalesce`` — no shuffle, no reordering beyond
        partition concatenation); readers on the old version are
        untouched (time travel) until expire+vacuum reclaims it. Returns
        the new version."""
        df = self.read(table).coalesce(target_files)
        return self.commit({table: df})

    def expire(self, keep_last: int = 10) -> list[int]:
        """Delete manifests older than the newest ``keep_last`` — the
        retention step that lets :meth:`vacuum` actually reclaim data
        retired by ``commit(drop=...)`` or superseded by a rewrite (a
        data dir stays on disk while ANY manifest references it). Time
        travel to expired versions is gone, by definition. The head
        manifest is never expired (``keep_last`` ≥ 1). Returns the
        expired version numbers.

        Coordination: a committer that loses the publish race re-reads
        ``snapshot(head)``; if expire() deletes that manifest in the same
        instant it now gets a clear ``LookupError`` (not an opaque Hadoop
        FileNotFound), but the retry is the caller's. Run expire with
        ``keep_last`` ≥ 2 so the previous head always survives one cycle,
        which removes the race window in practice."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the head must survive)")
        versions = self._list_versions()
        expired = versions[:-keep_last]
        for v in expired:
            self._fs.delete(self._hpath(self._manifest_path(v)), False)
            # keep the memo honest: time travel to an expired version
            # must fail through THIS handle too, not serve stale cache
            self._manifest_cache.pop(v, None)
        return expired

    def vacuum(self) -> list[str]:
        """Delete data dirs referenced by NO manifest (crash leftovers).

        Keeps every dir referenced by any retained manifest, so time travel
        to old versions still works after a vacuum.
        """
        referenced = set()
        for v in self._list_versions():
            referenced.update(self._read_manifest(v)["tables"].values())
        removed: list[str] = []
        data = self._hpath(f"{self.root}/{self._DATA}")
        if not self._fs.exists(data):
            return removed
        for tdir in self._fs.listStatus(data):
            for vdir in self._fs.listStatus(tdir.getPath()):
                rel = f"{self._DATA}/{tdir.getPath().getName()}/{vdir.getPath().getName()}"
                if rel not in referenced:
                    self._fs.delete(vdir.getPath(), True)
                    removed.append(rel)
        return removed
