"""Object-store fault injection through the StorageBackend seam
(VERDICT r8 next-1): the realities a real S3/GCS/ADLS deployment hits
— a PUT that reports failure after succeeding, a LIST that lags the
newest commit, a DELETE racing a reader's GET — exercised against
``ParquetMergeTable`` with wrapper backends over :class:`PosixBackend`.
No object store required; the seam is the point."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.operators.storage import PosixBackend
from yelp_data_engineering_pipeline_spark.operators.upsert import (
    ParquetMergeTable,
)


class RecordingBackend(PosixBackend):
    """Counts every primitive call — proves the table's metadata I/O
    actually flows through the seam."""

    def __init__(self):
        self.calls: dict[str, int] = {}

    def _rec(self, name):
        self.calls[name] = self.calls.get(name, 0) + 1

    def get(self, path):
        self._rec("get")
        return super().get(path)

    def put(self, path, data):
        self._rec("put")
        return super().put(path, data)

    def put_if_absent(self, path, data):
        self._rec("put_if_absent")
        return super().put_if_absent(path, data)

    def list_names(self, dirpath):
        self._rec("list_names")
        return super().list_names(dirpath)

    def walk_files(self, root):
        self._rec("walk_files")
        return super().walk_files(root)

    def exists(self, path):
        self._rec("exists")
        return super().exists(path)

    def mtime(self, path):
        self._rec("mtime")
        return super().mtime(path)

    def delete(self, path):
        self._rec("delete")
        return super().delete(path)

    def delete_prefix(self, root):
        self._rec("delete_prefix")
        return super().delete_prefix(root)

    def copy(self, src, dst):
        self._rec("copy")
        return super().copy(src, dst)


def _t(spark, root, **kw):
    return ParquetMergeTable(spark, str(root), key="id", **kw)


def test_metadata_io_flows_through_the_seam(spark, tmp_path):
    """A full lifecycle — merge, DV delete, bloom build, constraint,
    vacuum, clone — drives every backend primitive; nothing bypasses
    the seam for _log metadata."""
    b = RecordingBackend()
    t = _t(spark, tmp_path / "tbl", backend=b)
    t.merge(spark.range(0, 200).selectExpr("id", "id as v",
                                           "cast(id % 7 as string) as u")
            .repartitionByRange(4, "id").sortWithinPartitions("id"))
    t.delete_where({"id": (10, 19)}, use_deletion_vectors=True)
    t.build_file_index("u")
    t.add_constraint("v_ok", "v >= 0")
    t.merge(spark.createDataFrame([(500, 500, "x")],
                                  "id long, v long, u string"))
    t.vacuum(keep_last_n=2, stage_grace_seconds=0)
    c = t.clone(str(tmp_path / "cl"))
    assert c.read().count() == t.read().count() == 191
    for prim in ("put_if_absent", "get", "put", "list_names",
                 "exists", "delete", "walk_files", "mtime"):
        assert b.calls.get(prim, 0) > 0, (prim, b.calls)
    # clone's data bytes moved via the server-side-copy primitive
    assert b.calls.get("copy", 0) > 0


class PausingPutBackend(PosixBackend):
    """Holds the first manifest PUT issued while armed until the test
    releases it: the window between a commit's write job and its
    conditional PUT, opened on demand."""

    def __init__(self):
        import threading

        self.armed = False
        self.reached = threading.Event()
        self.release = threading.Event()

    def put_if_absent(self, path, data):
        import re

        if self.armed and re.search(r"/_log/\d+\.json$", path):
            self.armed = False
            self.reached.set()
            self.release.wait(timeout=300)
        return super().put_if_absent(path, data)


def test_constraint_added_during_inflight_merge_is_enforced(spark,
                                                            tmp_path):
    """A CHECK constraint is added while a violating merge(wait=True)
    sits between its write job and its conditional PUT. The constraint
    is a commit, so it claims the version the merge wanted; the merge
    loses the PUT, re-derives against the new head, is checked against
    the new set and refused. The head never holds a violating row."""
    import threading

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ConstraintViolationError,
    )

    b = PausingPutBackend()
    t = _t(spark, tmp_path / "tbl", backend=b)
    t.merge(spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"))
    errors: list[Exception] = []

    def violating_merge():
        try:
            t.merge(spark.createDataFrame([(3, -5)], "id long, v long"),
                    wait=True)
        except Exception as e:  # noqa: BLE001 — asserted below
            errors.append(e)

    b.armed = True
    writer = threading.Thread(target=violating_merge)
    writer.start()
    try:
        assert b.reached.wait(timeout=300)
        admin = _t(spark, tmp_path / "tbl", backend=b)
        admin.add_constraint("v_nonneg", "v >= 0")
    finally:
        b.release.set()
        writer.join(timeout=300)
    assert not writer.is_alive()
    assert len(errors) == 1 and \
        isinstance(errors[0], ConstraintViolationError), errors
    assert t.constraints() == {"v_nonneg": "v >= 0"}
    assert t.current_version() == 2
    assert t.history()[0]["operation"] == "add_constraint"
    assert sorted((r.id, r.v) for r in t.read().collect()) == \
        [(1, 10), (2, 20)]


class PhantomPutBackend(PosixBackend):
    """Fault: the conditional PUT SUCCEEDS but the client sees a
    timeout (the classic S3 ambiguous-failure). Fires once."""

    def __init__(self):
        self.armed = True

    def put_if_absent(self, path, data):
        super().put_if_absent(path, data)
        if self.armed and path.endswith(".json") and "bloom" not in path:
            self.armed = False
            raise TimeoutError("simulated: PUT timed out after landing")


def test_put_succeeds_after_reported_failure_no_double_commit(
        spark, tmp_path):
    """The commit PUT lands but the writer sees an error. The caller
    retries the merge: the retry re-reads the head (which now includes
    the phantom commit) and re-derives — idempotent upsert semantics
    mean no duplicated rows, no lost rows, and version numbers stay
    dense. This is the 'idempotence via version re-read' answer to the
    ambiguous PUT; a backend must never be assumed to have failed
    atomically."""
    b = PhantomPutBackend()
    b.armed = False  # seed commit goes through clean
    t = _t(spark, tmp_path / "tbl", backend=b)
    t.merge(spark.createDataFrame([(1, 10)], "id long, v long"))

    b.armed = True
    batch = spark.createDataFrame([(1, 11), (2, 20)], "id long, v long")
    with pytest.raises(TimeoutError):
        t.merge(batch, wait=True)
    # the phantom commit IS on disk — an acknowledged-after-all v2
    assert t.current_version() == 2
    assert {r.id: r.v for r in t.read().collect()} == {1: 11, 2: 20}

    # the standard recovery: retry the same batch; re-derivation
    # against the new head makes it a no-op content-wise
    v = t.merge(batch, wait=True)
    assert v == 3
    got = sorted((r.id, r.v) for r in t.read().collect())
    assert got == [(1, 11), (2, 20)]          # no duplicates, no loss
    assert t.read().count() == 2


class StaleListBackend(PosixBackend):
    """Fault: LIST lags — it omits the newest manifest until
    ``unstale()`` (S3's old eventual-consistency / a caching proxy)."""

    def __init__(self):
        self.lag = False

    def list_names(self, dirpath):
        names = super().list_names(dirpath)
        if not self.lag:
            return names
        import re

        vs = [(int(m.group(1)), n) for n in names
              if (m := re.fullmatch(r"(\d+)\.json", n))]
        if not vs:
            return names
        newest = max(vs)[1]
        return [n for n in names if n != newest]


def test_stale_list_never_clobbers_and_rereads_resolve(spark, tmp_path):
    """With LIST lagging one commit, a writer samples a stale head and
    tries to claim an already-taken version — the conditional PUT (the
    authority, not LIST) rejects it, and wait=True re-derives until it
    lands above the real head. A reader on the lagging backend sees
    the OLDER committed snapshot (consistent, just stale), and sees
    the commit as soon as LIST unstales."""
    b = StaleListBackend()
    t = _t(spark, tmp_path / "tbl", backend=b)
    t.merge(spark.createDataFrame([(1, 10)], "id long, v long"))
    t.merge(spark.createDataFrame([(2, 20)], "id long, v long"))
    assert t.current_version() == 2

    b.lag = True
    stale = _t(spark, tmp_path / "tbl", backend=b)
    assert stale.current_version() == 1        # lagging view
    assert {r.id for r in stale.read().collect()} == {1}  # old snapshot,
    # never a torn one

    # a writer on the lagging backend: first claim (v2) loses to the
    # conditional PUT; wait=True re-derives. While LIST still lags,
    # every re-read samples the same stale head, so the writer would
    # spin — model the lag clearing mid-retry (real stores converge).
    calls = {"n": 0}
    orig = StaleListBackend.list_names

    def unstale_after_first(self, dirpath):
        calls["n"] += 1
        if calls["n"] > 1:
            self.lag = False
        return orig(self, dirpath)

    StaleListBackend.list_names = unstale_after_first
    try:
        v = stale.merge(spark.createDataFrame([(3, 30)], "id long, v long"),
                        wait=True)
    finally:
        StaleListBackend.list_names = orig
    assert v == 3                              # landed ABOVE the real head
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: 10, 2: 20, 3: 30}        # nothing clobbered


class DeleteRaceBackend(PosixBackend):
    """Fault: a reader resolved a manifest (exists() said so), then a
    concurrent vacuum's DELETE lands before the GET. exists lies
    'True' once after the delete — the stale-HEAD cache shape."""

    def __init__(self):
        self.lie_about: str | None = None

    def exists(self, path):
        if self.lie_about and path == self.lie_about:
            self.lie_about = None
            return True
        return super().exists(path)


def test_delete_racing_get_fails_loudly_not_wrong(spark, tmp_path):
    """A vacuum DELETE racing a reader's manifest GET must surface as
    a loud error on the reader, never as silent empty/wrong results —
    the same retention-window contract as a vacuumed data file."""
    b = DeleteRaceBackend()
    t = _t(spark, tmp_path / "tbl", backend=b)
    t.merge(spark.createDataFrame([(1, 10)], "id long, v long"))
    t.merge(spark.createDataFrame([(2, 20)], "id long, v long"))
    t.merge(spark.createDataFrame([(3, 30)], "id long, v long"))
    t.vacuum(keep_last_n=1, stage_grace_seconds=0)   # v1, v2 manifests gone

    reader = _t(spark, tmp_path / "tbl", backend=b)
    # normally the existence check reports the vacuum cleanly
    with pytest.raises(ValueError, match="vacuumed"):
        reader.read(version=1)
    # raced: exists() said True (stale), the GET then hits the DELETE
    b.lie_about = reader._manifest_path(2)
    with pytest.raises(FileNotFoundError):
        reader.read(version=2).collect()
    # the head is untouched by the race
    assert reader.read().count() == 3


def test_fault_wrappers_compose_with_dml_and_time_travel(spark, tmp_path):
    """Sanity: a wrapped backend carries the full DML surface — the
    seam does not fork behavior (same versions, same rows as the
    default backend would produce)."""
    b = RecordingBackend()
    t = _t(spark, tmp_path / "tbl", backend=b)
    t.merge(spark.range(0, 100).selectExpr("id", "id * 2 as v")
            .repartitionByRange(4, "id").sortWithinPartitions("id"))
    t.delete_where({"id": (90, 99)})
    t.update_where({"id": (0, 9)}, {"v": F.lit(-1)},
                   use_deletion_vectors=True)
    assert t.read().count() == 90
    assert t.read().filter("v = -1").count() == 10
    assert t.read(version=1).count() == 100
    assert t.current_version() == 3
    # and vacuum leaves a consistent, still-readable table
    t.vacuum(keep_last_n=2, stage_grace_seconds=0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=1)
    for rel in t._files(3):
        assert os.path.exists(os.path.join(t.root, rel))


def test_memory_meta_backend_proves_seam_completeness(spark, tmp_path):
    """The strongest seam proof: run the full lifecycle with the
    metadata plane held ONLY in memory (MemoryMetaBackend). Any table
    code path that bypassed the backend — a stray open()/os.listdir on
    _log — would fail loudly, because nothing
    metadata ever touches the disk: the on-disk _log directory stays
    EMPTY while the table commits, reads, time-travels, vacuums and
    serves spark.sql."""
    from yelp_data_engineering_pipeline_spark.operators.storage import (
        MemoryMetaBackend,
    )

    b = MemoryMetaBackend()
    t = _t(spark, tmp_path / "tbl", backend=b)
    t.merge(spark.range(0, 300).selectExpr(
        "id", "id * 2 as v", "cast(id % 5 as string) as u")
        .repartitionByRange(4, "id").sortWithinPartitions("id"))
    t.delete_where({"id": (10, 19)}, use_deletion_vectors=True)
    t.add_constraint("v_ok", "v >= 0")
    t.build_file_index("u")
    t.merge(spark.createDataFrame([(900, 900, "x")],
                                  "id long, v long, u string"))
    assert t.read().count() == 291
    assert t.read(version=1).count() == 300
    assert t.count_where({"id": (0, 9)}) == 10
    assert t.read_point("u", ["3"]).count() == \
        t.read().filter("u = '3'").count()
    t.to_view("mem_tbl")
    assert spark.sql("SELECT COUNT(*) n FROM mem_tbl").collect()[0].n == 291
    t.vacuum(keep_last_n=2, stage_grace_seconds=0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=1)

    # THE completeness assertion: disk metadata plane is empty
    assert os.listdir(os.path.join(t.root, "_log")) == []

    # a second handle sharing the backend (the "same bucket") sees it
    t2 = _t(spark, tmp_path / "tbl", backend=b)
    assert t2.current_version() == 4  # add_constraint is a commit too
    assert t2.read().count() == 291
    # and a handle WITHOUT the shared backend sees no table at all —
    # the metadata truly lives in the backend, not the filesystem
    blind = _t(spark, tmp_path / "tbl")
    assert blind.current_version() == 0


def test_memory_meta_backend_real_thread_race(spark, tmp_path):
    """Optimistic commits coordinate ONLY through the backend's
    conditional PUT: two real threads racing wait=True merges through
    the in-memory dict both land, serial-replay equivalent."""
    import threading

    from yelp_data_engineering_pipeline_spark.operators.storage import (
        MemoryMetaBackend,
    )

    b = MemoryMetaBackend()
    root = str(tmp_path / "tbl")
    seed = ParquetMergeTable(spark, root, key="id",
                             backend=b)
    seed.merge(spark.createDataFrame([(0, 0)], "id long, v long"))
    errs = []

    def writer(k):
        try:
            tw = ParquetMergeTable(spark, root, key="id", backend=b)
            tw.merge(spark.createDataFrame([(k, k * 10)],
                                           "id long, v long"), wait=True)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(k,)) for k in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=180)
    assert not errs
    t = ParquetMergeTable(spark, root, key="id",
                          backend=b)
    assert {r.id: r.v for r in t.read().collect()} == {0: 0, 1: 10, 2: 20}
    assert t.current_version() == 3


def test_memory_meta_backend_walk_and_delete_cover_meta_plane(tmp_path):
    """ADVICE r9: walk_files/delete_prefix used to fall through to the
    (empty) posix tree for meta prefixes, silently missing in-memory
    objects. Both must see BOTH planes — in-memory meta keys and
    posix data files — so a future table code path calling them on a
    _log prefix operates on the real key space."""
    from yelp_data_engineering_pipeline_spark.operators.storage import (
        MemoryMetaBackend,
    )

    b = MemoryMetaBackend()
    root = str(tmp_path / "tbl")
    log = os.path.join(root, "_log")
    b.put(os.path.join(log, "1.json"), b"{}")
    b.put(os.path.join(log, "1.bloom.json"), b"{}")
    # a posix data file under the same table root
    data = os.path.join(root, "_data", "tx-abc")
    os.makedirs(data)
    with open(os.path.join(data, "p.parquet"), "wb") as f:
        f.write(b"PAR1")

    got_log = set(b.walk_files(log))
    assert got_log == {os.path.join(log, "1.json"),
                       os.path.join(log, "1.bloom.json")}
    # a root walk unions the meta keys and the posix tree
    got_root = set(b.walk_files(root))
    assert os.path.join(data, "p.parquet") in got_root
    assert os.path.join(log, "1.json") in got_root

    b.delete_prefix(log)
    assert b.walk_files(log) == []
    assert not b.exists(os.path.join(log, "1.json"))
    # posix plane untouched by the meta-prefix delete
    assert os.path.exists(os.path.join(data, "p.parquet"))
    b.delete_prefix(root)
    assert not os.path.exists(os.path.join(data, "p.parquet"))


class InterleaveOnce(PosixBackend):
    """Fires ``action`` immediately BEFORE the first conditional PUT
    that matches ``trigger`` — the deterministic interleaving: another
    writer's commit lands in the victim's publish window, so the
    victim's PUT loses and its conflict/rebase path runs."""

    def __init__(self, trigger: str):
        self.trigger = trigger
        self.action = None

    def put_if_absent(self, path, data):
        if self.action is not None and self.trigger in path:
            act, self.action = self.action, None
            act()
        return super().put_if_absent(path, data)


def _race_fixture(spark, tmp_path):
    """An object-mode table whose files carry DISJOINT id zones, two
    handles (victim behind the interleaving backend, racer plain),
    and per-handle compute counters."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable as PMT,
    )

    root = str(tmp_path / "tbl")
    seed = PMT(spark, root, key="id")
    seed.merge(spark.range(0, 4000).selectExpr("id", "id * 2 as v")
               .repartitionByRange(4, "id").sortWithinPartitions("id"))
    wrapper = InterleaveOnce(os.path.join("_log", "2.json"))
    victim = PMT(spark, root, key="id",
                 backend=wrapper)
    racer = PMT(spark, root, key="id")

    counts = {id(victim): 0, id(racer): 0}
    orig = PMT._write_new_files

    def counting(self, df, new_v=None):
        counts[id(self)] = counts.get(id(self), 0) + 1
        return orig(self, df, new_v=new_v)

    return victim, racer, wrapper, counts, counting, orig


def test_disjoint_dml_race_rebases_with_one_compute_each(spark, tmp_path):
    """VERDICT r9 next-3: two keyed DMLs touching DISJOINT files race;
    the loser REBASES its already-computed result onto the new head —
    exactly one compute per writer — and the final table equals the
    serial replay."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable as PMT,
    )

    victim, racer, wrapper, counts, counting, orig = _race_fixture(
        spark, tmp_path)
    wrapper.action = lambda: racer.delete_keys("id", [3005], wait=False)
    PMT._write_new_files = counting
    try:
        v = victim.delete_keys("id", [5], wait=True)
    finally:
        PMT._write_new_files = orig
    assert v == 3                         # rebased past the racer's v2
    assert counts[id(victim)] == 1, "rebase must not recompute"
    assert counts[id(racer)] == 1
    got = {r.id for r in victim.read().select("id").collect()}
    assert 5 not in got and 3005 not in got
    assert len(got) == 3998
    assert victim._manifest(3)["operation"] == "delete_keys"


def test_overlapping_dml_race_rederives(spark, tmp_path):
    """The conflicting pair: the racer rewrites the very file the
    victim read, so the rebase guard refuses and wait=True re-derives
    the whole body — two computes, serial-replay result."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable as PMT,
    )

    victim, racer, wrapper, counts, counting, orig = _race_fixture(
        spark, tmp_path)
    # same zone file as the victim's probe (ids 0..~999)
    wrapper.action = lambda: racer.delete_keys("id", [7], wait=False)
    PMT._write_new_files = counting
    try:
        v = victim.delete_keys("id", [5], wait=True)
    finally:
        PMT._write_new_files = orig
    assert v == 3
    assert counts[id(victim)] == 2, "overlap must re-derive"
    got = {r.id for r in victim.read().select("id").collect()}
    assert 5 not in got and 7 not in got
    assert len(got) == 3998


def test_race_with_pure_add_commit_zone_gated(spark, tmp_path):
    """A concurrent commit that only ADDS a file (a DV-mode keyed
    update appends the updated copies) rebases when the added file's
    zones prove it cannot match the victim's predicate — and the
    direct _rebase_safe matrix shows a MATCHING added file is a
    conflict (a rebase would resurrect rows serial replay deletes)."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable as PMT,
    )

    victim, racer, wrapper, counts, counting, orig = _race_fixture(
        spark, tmp_path)
    # racer's commit: DVs a file the victim never read (ids 3000+) and
    # ADDS a one-row file with id 3200 — outside the victim's probe
    wrapper.action = lambda: racer.update_keys(
        "id", [3200], {"v": F.lit(-2)}, wait=False,
        use_deletion_vectors=True)
    PMT._write_new_files = counting
    try:
        v = victim.delete_keys("id", [10], wait=True)
    finally:
        PMT._write_new_files = orig
    assert v == 3
    assert counts[id(victim)] == 1            # one compute: rebased
    got = {r.id: r.v for r in victim.read().collect()}
    assert 10 not in got
    assert got[3200] == -2                    # racer's update survived
    assert len(got) == 3999

    # the direct verdict matrix on the same table: an interleaved
    # delta that ADDS a file whose zones OVERLAP the predicate is
    # never rebase-safe; a provably-missing add is
    man3 = victim._manifest(3)
    read = victim._point_prune("id", [10], 3)
    fake_added_hit = {"rows": 1, "bytes": 1,
                      "cols": {"id": {"min": 8, "max": 12, "nulls": 0}}}
    fake_added_miss = {"rows": 1, "bytes": 1,
                       "cols": {"id": {"min": 9000, "max": 9001,
                                       "nulls": 0}}}
    import json as _json
    for zm, want in ((fake_added_hit, False), (fake_added_miss, True)):
        man4 = {"format": 2, "version": 4, "operation": "merge",
                "committed_at_unix": 0.0, "base": "root",
                "schema": man3["schema"], "dv": man3.get("dv") or {},
                "n_files": man3["n_files"] + 1, "chain": 1,
                "delta_of": 3, "added": {"fake.parquet": zm},
                "removed": []}
        victim._backend.put(victim._manifest_path(4),
                            _json.dumps(man4).encode())
        victim._mcache.pop(4, None)
        victim._fcache.pop(4, None)
        victim._kcache.pop(4, None)
        assert victim._rebase_safe(3, 4, read,
                                   point=("id", [10])) is want, zm
        assert victim._rebase_safe(3, 4, read,
                                   ranges={"id": (8, 12)}) is want, zm
        victim._backend.delete(victim._manifest_path(4))
        victim._mcache.pop(4, None)


def test_dv_race_on_read_files_rederives_disjoint_dv_rebases(spark, tmp_path):
    """Deletion-vector interleavings: a racer DV-deleting rows in a
    file the victim READ is a conflict (the victim's positions were
    computed against stale liveness); a racer DV on a DIFFERENT file
    rebases, and both DVs survive in the final manifest."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable as PMT,
    )

    victim, racer, wrapper, counts, counting, orig = _race_fixture(
        spark, tmp_path)
    # disjoint: victim DV-deletes in the low file, racer in the high
    wrapper.action = lambda: racer.delete_keys(
        "id", [3200], wait=False, use_deletion_vectors=True)
    v = victim.delete_keys("id", [20], wait=True,
                           use_deletion_vectors=True)
    assert v == 3
    got = {r.id for r in victim.read().select("id").collect()}
    assert 20 not in got and 3200 not in got
    assert len(got) == 3998
    assert sum(len(p) for p in victim.deletion_vectors().values()) == 2

    # overlapping: racer DVs the same file the victim is reading
    wrapper.trigger = os.path.join("_log", "4.json")
    wrapper.action = lambda: racer.delete_keys(
        "id", [30], wait=False, use_deletion_vectors=True)
    v2 = victim.delete_keys("id", [40], wait=True,
                            use_deletion_vectors=True)
    assert v2 == 5
    got = {r.id for r in victim.read().select("id").collect()}
    assert 30 not in got and 40 not in got
    assert len(got) == 3996
