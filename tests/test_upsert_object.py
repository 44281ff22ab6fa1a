"""The object-store commit protocol of ParquetMergeTable (VERDICT r7
next-1): no hardlinks (carry-forward = manifest references), no lock
(optimistic conditional-PUT commits), no rename-based pointer (version
identity = the atomic creation of ``_log/<n>.json``). Each test pins a
property the S3/GCS deployment story depends on; LAKEHOUSE.md maps the
primitives."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.operators.upsert import (
    ConcurrentMergeError,
    ConstraintViolationError,
    ParquetMergeTable,
)


def _all_parquet(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.stat(p)
    return out


def _table(spark, root, **kw):
    return ParquetMergeTable(spark, str(root), key="id", **kw)


def test_object_mode_never_hardlinks_or_copies_on_carry(spark, tmp_path):
    """Partition-pruned merge: untouched files are
    carried by MANIFEST REFERENCE — the new version lists the same
    physical paths, no second directory entry (st_nlink == 1
    everywhere), no byte copy, and no ``v=<n>`` snapshot dirs at all."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    t.merge(spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 10) for i in range(40)],
        "id long, p string, v long"))
    before = _all_parquet(t.root)
    v2 = t.merge(spark.createDataFrame([(1, "a", 999)],
                                       "id long, p string, v long"))
    after = _all_parquet(t.root)
    assert all(st.st_nlink == 1 for st in after.values())
    assert not any(e.startswith("v=") for e in os.listdir(t.root))
    # p=b files referenced unchanged across versions, same paths
    f1, f2 = t._files(1), t._files(v2)
    b1 = {r for r in f1 if "/p=b/" in r}
    assert b1 and b1 == {r for r in f2 if "/p=b/" in r}
    # untouched physical files identical (same inode, same mtime)
    for rel in b1:
        assert before[rel].st_ino == after[rel].st_ino
    # and the merge semantics held
    got = {r.id: r.v for r in t.read().collect()}
    assert got[1] == 999 and got[2] == 20 and len(got) == 40


def test_object_mode_metadata_only_delete_runs_no_job(spark, tmp_path):
    """A DELETE aligned with a file's zone drops the file from the
    manifest: no Spark job, no new data files on disk, and the old
    file stays untouched for time travel until vacuum."""
    t = _table(spark, tmp_path / "tbl")
    df = (spark.range(0, 1000).withColumn("v", F.col("id") * 2)
          .repartitionByRange(4, "id").sortWithinPartitions("id"))
    t.merge(df)
    stats = t.stats()
    rel, zm = sorted(stats.items(),
                     key=lambda kv: kv[1]["cols"]["id"]["min"])[1]
    lo, hi = zm["cols"]["id"]["min"], zm["cols"]["id"]["max"]
    files_before = _all_parquet(t.root)
    expected = sorted(
        r.id for r in t.read().filter(~F.col("id").between(lo, hi)).collect()
    )
    v = t.delete_where({"id": (lo, hi)})
    assert _all_parquet(t.root).keys() == files_before.keys()  # no writes
    assert rel not in t.stats()
    assert sorted(r.id for r in t.read().collect()) == expected
    assert t.history()[0]["operation"] == "delete_where"
    assert t.read(version=v - 1).count() == 1000  # time travel intact


def test_object_mode_dv_delete_update_and_density(spark, tmp_path):
    """Merge-on-read DML: DV delete touches no data
    file; DV update appends only the rewritten rows; dv_density /
    needs_compaction read the manifest (no jobs); compact() purges
    the DVs and the read plan loses the anti-join."""
    t = _table(spark, tmp_path / "tbl")
    df = (spark.range(0, 1000).withColumn("v", F.col("id") * 2)
          .repartitionByRange(4, "id").sortWithinPartitions("id"))
    t.merge(df)
    files_v1 = set(_all_parquet(t.root))
    t.delete_where({"id": (10, 39)}, use_deletion_vectors=True)
    assert set(_all_parquet(t.root)) == files_v1     # zero new files
    assert sum(len(p) for p in t.deletion_vectors().values()) == 30
    assert t.read().count() == 970
    t.update_where({"id": (500, 519)}, {"v": F.lit(-1)},
                   use_deletion_vectors=True)
    assert t.read().filter("v = -1").count() == 20
    assert t.read().count() == 970
    d = t.dv_density()
    assert d["dv_positions"] == 50 and 0.04 < d["density"] < 0.06
    assert t.needs_compaction(threshold=0.02)
    assert not t.needs_compaction(threshold=0.10)
    assert t.maintenance_plan(threshold=0.02)["actions"] == ["compact()"]
    t.compact()
    assert t.deletion_vectors() == {}
    assert t.read().count() == 970
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_object_mode_auto_compact_dv(spark, tmp_path):
    """The opt-in hook (VERDICT r7 next-4): with auto_compact_dv set,
    a DV-writing DML that pushes density past the threshold triggers
    compaction automatically — the DV disappears and reads are
    join-free without any operator remembering the policy doc."""
    t = _table(spark, tmp_path / "tbl", auto_compact_dv=0.02)
    t.merge(spark.range(0, 1000).withColumn("v", F.col("id") * 2)
            .repartitionByRange(4, "id"))
    t.delete_where({"id": (0, 99)}, use_deletion_vectors=True)
    assert t.deletion_vectors() == {}            # compacted away
    assert t.history()[0]["operation"] in ("compact", "compact_zorder")
    assert t.read().count() == 900
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_object_mode_concurrent_writers_conditional_put(spark, tmp_path):
    """No lock: two writers racing the same version — the loser's
    conditional PUT fails. wait=False surfaces ConcurrentMergeError
    with the table untouched; wait=True re-derives against the new
    head and retries, so both batches land (serial-replay
    equivalence). Simulated deterministically by pre-claiming the
    loser's version mid-commit."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark.createDataFrame([(1, 10)], "id long, v long"))

    orig = ParquetMergeTable._write_new_files
    raced = {"done": False}

    def hijack(self, df, new_v=None):
        out = orig(self, df, new_v=new_v)
        if not raced["done"]:
            raced["done"] = True
            # a concurrent writer commits between our stage and PUT
            other = _table(spark, tmp_path / "tbl")
            other.merge(spark.createDataFrame([(50, 500)],
                                              "id long, v long"))
        return out

    ParquetMergeTable._write_new_files = hijack
    try:
        with pytest.raises(ConcurrentMergeError):
            t.merge(spark.createDataFrame([(2, 20)], "id long, v long"),
                    wait=False)
    finally:
        ParquetMergeTable._write_new_files = orig
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: 10, 50: 500}  # loser never touched the table

    raced["done"] = False
    ParquetMergeTable._write_new_files = hijack
    try:
        t.merge(spark.createDataFrame([(2, 20)], "id long, v long"),
                wait=True)  # retries against the new head
    finally:
        ParquetMergeTable._write_new_files = orig
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: 10, 2: 20, 50: 500}


def test_object_mode_restore_is_pure_metadata(spark, tmp_path):
    """restore() writes NO data files — the new
    manifest references the restored version's files where they
    live."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark.range(0, 100).withColumn("v", F.col("id")))
    t.merge(spark.range(0, 100).withColumn("v", F.col("id") * 7))
    files_before = set(_all_parquet(t.root))
    v = t.restore(1)
    assert set(_all_parquet(t.root)) == files_before
    assert t._files(v) == t._files(1)
    assert t.read().filter("id = 3").collect()[0].v == 3
    assert t.history()[0]["operation"] == "restore(v=1)"


def test_object_mode_clone_copies_and_diverges(spark, tmp_path):
    """clone() deep-copies (the server-side-copy
    analog; shallow references would break under source vacuum —
    Delta's documented hazard): clone reads equal the source snapshot,
    constraints carry, DVs carry, and the two tables then diverge
    freely — including a source vacuum."""
    t = _table(spark, tmp_path / "src")
    df = (spark.range(0, 400).withColumn("v", F.col("id") * 2)
          .repartitionByRange(4, "id"))
    t.merge(df)
    t.delete_where({"id": (10, 19)}, use_deletion_vectors=True)
    t.add_constraint("v_nonneg", "v >= 0")
    c = t.clone(str(tmp_path / "dst"))
    assert c.read().count() == 390           # DV came along
    assert c.constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ConstraintViolationError):
        c.merge(spark.createDataFrame([(1, -1)], "id long, v long"))
    # divergence + source vacuum cannot break the clone (deep copy)
    t.merge(spark.range(0, 400).withColumn("v", F.lit(0)))
    t.vacuum(keep_last_n=1, stage_grace_seconds=0)
    assert c.read().count() == 390
    c.merge(spark.createDataFrame([(1000, 1)], "id long, v long"))
    assert c.read().count() == 391 and t.read().count() == 400


def test_object_mode_vacuum_reference_counted(spark, tmp_path):
    """vacuum() deletes exactly the files no retained manifest
    references: shared files survive (they're referenced by the head),
    dropped versions' exclusive files go, vacuumed versions raise on
    read, and a crash-orphan stage dir (staged files, no manifest) is
    swept once past the grace window."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    rows = [(i, "a" if i % 2 else "b", i) for i in range(40)]
    t.merge(spark.createDataFrame(rows, "id long, p string, v long"))
    t.merge(spark.createDataFrame([(1, "a", -1)], "id long, p string, v long"))
    t.merge(spark.createDataFrame([(3, "a", -3)], "id long, p string, v long"))
    # fake a crash: staged files with no manifest
    orphan = os.path.join(t.root, "_data", "tx-deadbeef0000")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "w").write("junk")
    head_files = {os.path.normpath(os.path.join(t.root, r))
                  for r in t._files(3)}
    removed = t.vacuum(keep_last_n=1, stage_grace_seconds=0)
    assert removed == [1, 2]
    assert not os.path.exists(orphan)
    left = {os.path.normpath(os.path.join(t.root, r))
            for r in _all_parquet(t.root)}
    assert left == head_files                 # exactly the referenced set
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=1)
    assert t.read().count() == 40             # head intact (p=b shared
    # files from v1 were still referenced and survived)
    got = {r.id: r.v for r in t.read().collect()}
    assert got[1] == -1 and got[3] == -3 and got[2] == 2


def test_object_mode_grace_protects_inflight_stage(spark, tmp_path):
    """With the default grace window, vacuum leaves young unreferenced
    files alone — an in-flight writer's staged-but-uncommitted files
    survive a concurrent vacuum (the no-lock hazard the grace window
    exists for; Delta's retention-hours analog)."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark.range(0, 10).withColumn("v", F.col("id")))
    staged = os.path.join(t.root, "_data", "tx-inflight00000")
    os.makedirs(staged)
    open(os.path.join(staged, "part-0.parquet"), "w").write("live")
    t.vacuum(keep_last_n=1)  # default grace: hours
    assert os.path.exists(os.path.join(staged, "part-0.parquet"))


def test_object_mode_compact_collapses_read_groups(spark, tmp_path):
    """Every commit adds a tx-dir read group; maintenance_plan reports
    the growth and compact() collapses it back to one — the object-
    store analog of small-file management."""
    t = _table(spark, tmp_path / "tbl")
    for i in range(4):
        t.merge(spark.createDataFrame([(i, i)], "id long, v long"))
    assert t.maintenance_plan()["read_groups"] == 1  # unpartitioned
    # merge rewrites wholesale; use DV updates to accrete groups
    t.update_where({"id": (0, 0)}, {"v": F.lit(100)},
                   use_deletion_vectors=True)
    t.update_where({"id": (1, 1)}, {"v": F.lit(101)},
                   use_deletion_vectors=True)
    assert t.maintenance_plan()["read_groups"] == 3
    t.compact()
    assert t.maintenance_plan()["read_groups"] == 1
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {0: 100, 1: 101, 2: 2, 3: 3}


def _strip_head(t, fn):
    """Rewrite the head manifest on disk, applying ``fn`` to it."""
    import json
    from pathlib import Path

    p = Path(t._manifest_path(t.current_version()))
    man = json.loads(p.read_text())
    fn(man)
    p.write_text(json.dumps(man))


def _first_entry(man):
    return man["files"][sorted(man["files"])[0]]


def _rewrite_ckpt(t, fn):
    """Rewrite the head's checkpoint sidecar as ``fn(arrow table)``."""
    import pyarrow.parquet as pq

    path = t._ckpt_path(t._manifest(t.current_version())["ckpt"])
    pq.write_table(fn(pq.read_table(path)), path)


def _retire_snapshot(spark, t):
    _strip_head(t, lambda m: m.__setitem__("base", "snapshot"))


def _retire_bare_entry(spark, t):
    def bare(man):
        k = sorted(man["files"])[0]
        man["files"][k] = man["files"][k]["cols"]
    _strip_head(t, bare)


def _retire_unsized_entry(spark, t):
    _strip_head(t, lambda m: _first_entry(m).pop("bytes"))


def _retire_r9_sidecar(spark, t):
    import json

    import pyarrow as pa

    files = t._files(t.current_version())
    _rewrite_ckpt(t, lambda _: pa.table({
        "key": sorted(files),
        "entry": [json.dumps(files[k]) for k in sorted(files)]}))


def _retire_unsized_sidecar(spark, t):
    import pyarrow as pa

    def unsized(tbl):
        b = tbl.column("bytes").to_pylist()
        b[0] = None
        i = tbl.schema.get_field_index("bytes")
        return tbl.set_column(i, "bytes", pa.array(b, pa.int64()))
    _rewrite_ckpt(t, unsized)


def _retire_bloom_words(spark, t):
    import json
    from pathlib import Path

    t.build_file_index("id")
    v = t.current_version()
    words = {
        col: {k: {"m": e["m"], "words": {
            str(w): int.from_bytes(e["blob"][8 * w:8 * w + 8], "little")
            for w in range(len(e["blob"]) // 8)}}
            for k, e in files.items()}
        for col, files in t.file_index(v).items()}
    Path(t._bloom_file(v)).write_text(json.dumps(words))


def _retire_feed_marker(spark, t):
    import json

    assert t.export_changes() == [1]
    rec = json.loads(t._backend.get(t._cdf_marker(1)))
    del rec["schema"]
    t._backend.put(t._cdf_marker(1), json.dumps(rec).encode())


def _read(spark, t):
    t.read().collect()


def _merge(spark, t):
    t.merge(spark.createDataFrame([(9, 9)], "id long, v long"))


# (rewrite into the retired shape, a read that decodes it, a write
# that decodes it before committing, sidecar listing?)
_RETIRED = {
    "snapshot": (_retire_snapshot, _read, _merge, False),
    "bare_entry": (_retire_bare_entry, _read, _merge, False),
    "unsized_entry": (_retire_unsized_entry, _read, _merge, False),
    "r9_sidecar": (_retire_r9_sidecar, _read, _merge, True),
    "unsized_sidecar": (_retire_unsized_sidecar, _read, _merge, True),
    # the Bloom index is decoded by point pruning and before every
    # commit's publish; the feed marker by the feed's reader/exporter
    "bloom_words": (_retire_bloom_words,
                    lambda spark, t: t.read_point("id", [3]).collect(),
                    _merge, False),
    "feed_marker": (_retire_feed_marker,
                    lambda spark, t: t.stream_changes(),
                    lambda spark, t: t.export_changes(), False),
}


@pytest.mark.parametrize("layout", sorted(_RETIRED))
def test_snapshot_layout_manifest_refused_on_read_and_write(
        spark, tmp_path, monkeypatch, layout):
    """Every retired on-disk layout — the per-version snapshot manifest
    (``base: "snapshot"``, files under ``v=<n>/``), bare col→zone file
    entries, entries without ``bytes``, r9 ``(key, entry)`` checkpoint
    sidecars, canonical sidecar rows without ``bytes``, the pre-packed
    Bloom "words" JSON and finalized feed markers without a schema — is
    refused with a clear ValueError by a read and by a write that
    decode it, never misread; the failed write commits nothing."""
    retire, read, write, sidecar = _RETIRED[layout]
    if sidecar:
        monkeypatch.setattr(ParquetMergeTable, "_CKPT_INLINE_MAX", 2)
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark.range(0, 8).withColumn("v", F.col("id")).repartition(4))
    assert ("ckpt" in t._manifest(1)) == sidecar
    retire(spark, t)
    v = t.current_version()
    with pytest.raises(ValueError, match="retired"):
        read(spark, _table(spark, tmp_path / "tbl"))
    fresh = _table(spark, tmp_path / "tbl")
    with pytest.raises(ValueError, match="retired"):
        write(spark, fresh)
    assert fresh.current_version() == v          # nothing committed


def test_object_mode_time_travel_and_cdf(spark, tmp_path):
    """Time travel and the change feed work across reference-carried
    versions (files shared between manifests)."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    t.merge(spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "id long, p string, v long"))
    t.merge(spark.createDataFrame(
        [(1, "a", 10), (3, "a", 3)], "id long, p string, v long"))
    assert {r.id: r.v for r in t.read(version=1).collect()} == {1: 1, 2: 2}
    feed = {r.id: r.change_type for r in t.changes_between(1, 2).collect()}
    assert feed == {1: "updated", 2: "unchanged", 3: "inserted"}


def test_object_mode_bloom_point_lookup(spark, tmp_path):
    """The per-file Bloom index builds and probes on root-relative
    keys; pruning-exactness holds across a reference carry."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    rows = [(i, "a" if i % 2 else "b", f"u{i * 37 % 1000}")
            for i in range(400)]
    t.merge(spark.createDataFrame(rows, "id long, p string, u string"))
    t.build_file_index("u")
    probe = ["u37", "u74"]
    got = t.read_point("u", probe)
    assert got.count() == t.read().filter(F.col("u").isin(probe)).count()
    # carry across a pruned merge: p=b files keep their bloom bits
    t.merge(spark.createDataFrame([(1, "a", "zz")],
                                  "id long, p string, u string"))
    idx = t.file_index()
    assert idx and any("/p=b/" in k for k in idx["u"])
    got2 = t.read_point("u", probe)
    assert got2.count() == t.read().filter(F.col("u").isin(probe)).count()


def test_object_mode_partition_filter_pushdown(spark, tmp_path):
    """The manifest-resolved read (explicit file list + basePath per
    tx-group) must keep Catalyst partition pruning: a filter on the
    partition column appears as PartitionFilters in the scan — in a
    single-group head AND in a multi-group head carrying references
    across commits."""
    import re

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    t.merge(spark.createDataFrame(
        [(i, chr(97 + i % 4), i) for i in range(40)],
        "id long, p string, v long"))
    t.merge(spark.createDataFrame([(41, "a", -1)],
                                  "id long, p string, v long"))
    tops = {"/".join(r.split("/", 2)[:2])
            for r in t._files(t.current_version())}
    assert len(tops) == 2  # genuinely multi-group
    plan = (
        t.read().filter(F.col("p") == "a")
        ._jdf.queryExecution().executedPlan().toString()
    )
    ms = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert ms and all("p" in m and "= a" in m for m in ms), plan[:800]
    got = sorted(r.id for r in t.read().filter(F.col("p") == "a").collect())
    assert got == [i for i in range(0, 40, 4)] + [41]


def test_dv_rendering_mismatch_fails_loudly(spark, tmp_path):
    """If the candidate URI prefixes ever missed Hadoop's actual
    rendering, the DV anti-join would match nothing and deleted rows
    would silently RESURRECT. The read must instead fail loudly
    (raise_error guard on the unresolved file id) — wrong-rendering is
    a crash, never wrong results. Simulated by breaking the candidate
    generator."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark.range(0, 100).selectExpr("id", "id * 2 as v"))
    t.delete_where({"id": (10, 19)}, use_deletion_vectors=True)
    assert t.read().count() == 90

    orig = ParquetMergeTable.__dict__["_base_uri_candidates"]
    ParquetMergeTable._base_uri_candidates = staticmethod(
        lambda *a, **k: ["bogus://nowhere/"]
    )
    try:
        with pytest.raises(Exception) as ei:
            t.read().count()
        assert "rendering unmatched" in str(ei.value)
    finally:
        ParquetMergeTable._base_uri_candidates = orig
    assert t.read().count() == 90  # healthy again with real candidates


def test_object_mode_real_thread_writers(spark, tmp_path):
    """Two REAL threads committing with wait=True:
    without any lock, both land (the loser's conditional PUT fails
    and it re-derives against the new head) and the result equals a
    serial replay."""
    import threading

    t_root = str(tmp_path / "tbl")
    _table(spark, t_root).merge(
        spark.createDataFrame([(0, 0)], "id long, v long"))
    errs = []

    def writer(k):
        try:
            tw = ParquetMergeTable(spark, t_root, key="id")
            tw.merge(spark.createDataFrame([(k, k * 10)],
                                           "id long, v long"), wait=True)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(k,)) for k in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not errs
    t = _table(spark, t_root)
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {0: 0, 1: 10, 2: 20}
    assert t.current_version() == 3  # three distinct commits


def test_object_mode_cdc_stream(spark, tmp_path):
    """run_cdc_upsert_stream: the streaming CDC path composes with
    the table's conditional-PUT commits under foreachBatch, out-of-order
    safety intact."""
    import json as _json

    from yelp_data_engineering_pipeline_spark.streaming.ingest import (
        run_cdc_upsert_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "k LONG, ts LONG, v STRING"

    def feed(name, rows):
        with open(in_dir / name, "w") as f:
            for k, ts, v in rows:
                f.write(_json.dumps({"k": k, "ts": ts, "v": v}) + "\n")
        stream = spark.readStream.schema(schema).json(str(in_dir))
        return run_cdc_upsert_stream(
            spark, stream, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
            key="k", ts_col="ts",
        )

    feed("b1.ndjson", [(1, 10, "a"), (2, 10, "b")])
    feed("b2.ndjson", [(1, 5, "STALE"), (2, 20, "b2"), (3, 1, "c")])
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    got = {r.k: (r.ts, r.v) for r in t.read().collect()}
    assert got == {1: (10, "a"), 2: (20, "b2"), 3: (1, "c")}
    assert not any(e.startswith("v=") for e in
                   __import__("os").listdir(t.root))


def test_object_mode_schema_evolution_across_references(spark, tmp_path):
    """Schema evolution composes with reference carry: after a
    widened merge touches one partition, untouched partitions'
    REFERENCED files (written under the old schema, never rewritten)
    read back with the new column NULL-filled; time travel to the
    pre-evolution version keeps the old schema."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    t.merge(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, p string, v long"))
    t.merge(spark.createDataFrame(
        [(1, "a", 11, "x")], "id long, p string, v long, w string"),
        schema_evolution=True)
    got = {r.id: (r.v, r.w) for r in t.read().collect()}
    assert got == {1: (11, "x"), 2: (20, None)}
    assert "w" not in t.read(version=1).columns
    # the p=b file is the SAME physical file in both manifests
    f1, f2 = t._files(1), t._files(2)
    b = [r for r in f1 if "/p=b/" in r]
    assert b and all(r in f2 for r in b)


def test_vacuum_sweeps_crashed_writer_log_temps(spark, tmp_path):
    """A writer that crashes mid-publish leaves _tx*/_bloom* temp
    files in _log/; vacuum sweeps them (grace-guarded) — they are
    never part of version identity, so current_version() and reads
    ignore them either way."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark.range(0, 10).selectExpr("id", "id as v"))
    log = t._log_dir()
    for name in ("_tx2.abc123", "_bloom1.def456", "_ckpt1.xyz"):
        open(os.path.join(log, name), "w").write("{")
    assert t.current_version() == 1          # temps invisible
    t.merge(spark.range(0, 10).selectExpr("id", "id*2 as v"))
    t.vacuum(keep_last_n=2, stage_grace_seconds=0)
    left = [e for e in os.listdir(log)
            if e.startswith(("_tx", "_bloom", "_ckpt"))]
    assert left == []
    assert t.read().count() == 10


def test_object_vacuum_never_deletes_above_head_manifests(spark, tmp_path):
    """ADVICE r8 (high): with no lock, a commit can land between
    vacuum's current_version() sample and its log sweep. Its manifest
    (n > sampled head) is a REAL acknowledged commit, never a crash
    orphan — the sweep must not remove it (manifest creation IS the
    commit; only data files can be orphaned). Simulated
    deterministically with a stale head sample."""
    t = _table(spark, tmp_path / "tbl")
    for k in range(3):
        t.merge(spark.createDataFrame([(k, k * 10)], "id long, v long"))
    real_v = t.current_version()
    assert real_v == 3

    orig = ParquetMergeTable.current_version
    ParquetMergeTable.current_version = lambda self: real_v - 1  # stale
    try:
        t.vacuum(keep_last_n=1, stage_grace_seconds=0)
    finally:
        ParquetMergeTable.current_version = orig

    # the "future" commit v3 survived with every file it references
    t2 = _table(spark, tmp_path / "tbl")
    assert t2.current_version() == real_v
    for rel in t2._files(real_v):
        assert os.path.exists(os.path.join(t2.root, rel)), rel
    got = {r.id: r.v for r in t2.read().collect()}
    assert got == {0: 0, 1: 10, 2: 20}


def test_object_vacuum_races_real_concurrent_merges(spark, tmp_path):
    """VERDICT r8 next-8, raced for real: a wait=True writer thread
    commits (carrying files forward) while vacuum repeatedly computes
    its retained set in the main thread. Invariant: no retained
    manifest ever references a deleted file — every surviving
    version's file list resolves to files on disk, and the head scan
    returns the serial-replay row set."""
    import threading

    t_root = str(tmp_path / "tbl")
    seed = ParquetMergeTable(spark, t_root, key="id",
                             partition_by="p")
    seed.merge(spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i) for i in range(20)],
        "id long, p string, v long"))
    errs: list = []
    committed: list[int] = []

    def writer():
        tw = ParquetMergeTable(spark, t_root, key="id", partition_by="p")
        try:
            for k in range(100, 108):
                # touches only p=a -> p=b files carry forward by
                # reference every commit (the carried-reference case
                # the invariant is about)
                committed.append(tw.merge(
                    spark.createDataFrame([(k, "a", k)],
                                          "id long, p string, v long"),
                    wait=True))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = threading.Thread(target=writer)
    th.start()
    try:
        while th.is_alive():
            # default-style grace guards young files; the manifest
            # sweep is what the r9 fix constrains
            t = ParquetMergeTable(spark, t_root, key="id", partition_by="p")
            t.vacuum(keep_last_n=2, stage_grace_seconds=3600)
    finally:
        th.join(timeout=300)
    assert not errs
    assert committed and committed[-1] >= 9  # all 8 merges landed

    t = ParquetMergeTable(spark, t_root, key="id",
                          partition_by="p")
    head = t.current_version()
    assert head == committed[-1]
    retained = [n for n in range(1, head + 1)
                if os.path.exists(t._manifest_path(n))]
    for n in retained:
        for rel in t._files(n):
            assert os.path.exists(os.path.join(t.root, rel)), (n, rel)
    got = {r.id: r.v for r in t.read().collect()}
    want = {i: i for i in range(20)} | {k: k for k in range(100, 108)}
    assert got == want


def test_commit_landing_between_read_and_publish_is_never_lost(
        spark, tmp_path):
    """Lost-update window (found by the r9 stale-LIST fault
    injection): a commit landing AFTER this writer derived its content
    but BEFORE its publish must collide on the conditional PUT — the
    claimed version is pinned to the head the content derived from —
    and wait=True re-derives. Re-sampling the head at publish time
    would instead claim the next free version and silently drop the
    concurrent commit's rows."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark.createDataFrame([(1, 10)], "id long, v long"))

    orig = ParquetMergeTable._write_new_files
    raced = {"done": False}

    def hijack(self, df, new_v=None):
        if not raced["done"]:
            raced["done"] = True
            # lands between the body's head sample and the publish
            other = _table(spark, tmp_path / "tbl")
            other.merge(spark.createDataFrame([(50, 500)],
                                              "id long, v long"))
        return orig(self, df, new_v=new_v)

    ParquetMergeTable._write_new_files = hijack
    try:
        t.merge(spark.createDataFrame([(2, 20)], "id long, v long"),
                wait=True)
    finally:
        ParquetMergeTable._write_new_files = orig
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: 10, 2: 20, 50: 500}   # the raced commit survived
    assert t.current_version() == 3         # collision + re-derive, no gap


def test_keyed_dml_races_concurrent_commit(spark, tmp_path):
    """delete_keys under optimistic concurrency: a commit landing
    between the keyed body's derivation and its publish collides on
    the conditional PUT (pinned parent version) and wait=True
    re-derives against the new head — the result equals the serial
    replay, including the concurrent merge's rows."""
    t = _table(spark, tmp_path / "tbl")
    t.merge(spark.createDataFrame(
        [(i, f"u{i}", i) for i in range(20)], "id long, u string, v long"))

    orig = ParquetMergeTable._point_prune
    raced = {"done": False}

    def hijack(self, col, vals, v):
        if not raced["done"]:
            raced["done"] = True
            other = _table(spark, tmp_path / "tbl")
            other.merge(spark.createDataFrame(
                [(50, "u50", 500)], "id long, u string, v long"))
        return orig(self, col, vals, v)

    ParquetMergeTable._point_prune = hijack
    try:
        t.delete_keys("u", ["u3", "u7"], wait=True,
                      use_deletion_vectors=True)
    finally:
        ParquetMergeTable._point_prune = orig
    got = {r.id: r.v for r in t.read().collect()}
    want = {i: i for i in range(20) if i not in (3, 7)}
    want[50] = 500                      # the raced commit survived
    assert got == want
    assert t.current_version() == 3     # collide + re-derive, no gap


class _ChunkRecorder:
    """PosixBackend wrapper recording how the DV sidecar bytes
    arrived: streamed (and with what max single chunk) or as one
    whole-object put."""

    def __init__(self):
        from yelp_data_engineering_pipeline_spark.operators.storage import (
            PosixBackend,
        )

        self._inner = PosixBackend()
        self.stream_paths = []
        self.max_chunk = 0
        self.whole_puts = []

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def put(self, path, data):
        self.whole_puts.append((path, len(data)))
        return self._inner.put(path, data)

    def put_stream(self, path, chunks):
        self.stream_paths.append(path)

        def rec():
            for c in chunks:
                self.max_chunk = max(self.max_chunk, len(c))
                yield c

        return self._inner.put_stream(path, rec())


def test_dv_build_streams_executor_packed_positions(spark, tmp_path):
    """VERDICT r10 next-2: a broad DV delete (~4.5M matched rows here)
    never materializes the matched (file, pos) pairs on the driver —
    executors pack per-file position blobs (mapInPandas), the driver
    STREAMS them through backend.put_stream (the multipart-upload
    shape) and keeps only {ref, off, n} pointers. The recorder proves
    the sidecar arrived chunked (max single chunk ≈ one file's
    positions, a fraction of the sidecar) and never as one
    whole-object put; the result matches SQL delete semantics."""
    be = _ChunkRecorder()
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id", backend=be)
    n = 5_000_000
    # v is scattered so every file is a BOUNDARY file for the
    # predicate (partial match -> DV path, not metadata-only drop)
    df = (spark.range(n)
          .withColumn("v", (F.col("id") * 2654435761) % 10_000_000)
          .repartition(8))
    t.merge(df)
    bound = 9_000_000
    v2 = t.delete_where({"v": (None, bound - 1)},
                        use_deletion_vectors=True)
    matched = n - spark.read.parquet(
        *[os.path.join(t.root, r) for r in t._file_keys(1)]
    ).filter(F.col("v") >= bound).count()
    man = t._manifest(v2)
    entries = man["dv"]
    assert entries and all(isinstance(e, dict) for e in entries.values())
    assert sum(e["n"] for e in entries.values()) == matched
    # streamed, never a whole-object put of the DV sidecar
    assert len(be.stream_paths) == 1
    assert not any(".dv." in p for p, _ in be.whole_puts)
    total_bytes = matched * 8
    assert 0 < be.max_chunk <= total_bytes * 0.2 + 4096, \
        f"chunk {be.max_chunk} vs sidecar {total_bytes}"
    # SQL semantics
    assert t.read().count() == n - matched
    assert t.read().filter(F.col("v") < bound).count() == 0


def test_dv_stream_premerges_carried_positions(spark, tmp_path):
    """Successive streamed DV deletes on the same files: the second
    commit's {ref,off,n} entry must contain the UNION of carried and
    new positions (pre-merged executor blobs), so reads after both
    deletes exclude both generations of rows."""
    t = _table(spark, tmp_path / "tbl")
    df = (spark.range(0, 1000).withColumn("v", F.col("id") * 2)
          .repartitionByRange(4, "id").sortWithinPartitions("id"))
    t.merge(df)
    orig = ParquetMergeTable._DV_INLINE_TOTAL_MAX
    ParquetMergeTable._DV_INLINE_TOTAL_MAX = 4   # force streaming tier
    try:
        t.delete_where({"id": (10, 39)}, use_deletion_vectors=True)
        v3 = t.delete_where({"id": (20, 59)}, use_deletion_vectors=True)
    finally:
        ParquetMergeTable._DV_INLINE_TOTAL_MAX = orig
    man = t._manifest(v3)
    assert all(isinstance(e, dict) for e in man["dv"].values())
    assert sum(e["n"] for e in man["dv"].values()) == 50   # 10..59
    assert t.read().count() == 950
    assert t.read().filter("id between 10 and 59").count() == 0
    # positions resolve sorted and unique per file
    for e in man["dv"].values():
        ps = t._dv_positions(e)
        assert ps == sorted(set(ps))
