"""Storage backend seam for the lakehouse metadata plane (VERDICT r8
next-1).

``ParquetMergeTable``'s commit protocol needs exactly these primitives,
each with a direct object-store equivalent (LAKEHOUSE.md maps them):

=================  =====================  ==============================
primitive          local-disk emulation   S3 / GCS / ADLS substitute
=================  =====================  ==============================
put_if_absent      tmp + os.link          PUT ``If-None-Match: *`` /
                                          ``ifGenerationMatch=0``
put (replace)      tmp + os.replace       plain PUT (single-object
                                          writes are atomic)
put_stream         tmp + os.replace       multipart upload
get                open().read()          GET
list_names         os.listdir             LIST with ``/`` delimiter
walk_files         os.walk                LIST on the prefix (flat keys)
exists / mtime     os.path                HEAD
delete             os.remove              DELETE
delete_prefix      shutil.rmtree          batched DELETEs from a LIST
copy               shutil.copyfile        CopyObject (server-side)
=================  =====================  ==============================

The table routes ALL of its metadata I/O through an injected backend:
the ``_log/`` manifest plane (commits, including constraint and
clustering changes, which are manifest fields), checkpoint and DV
sidecars, the Bloom index pair, the listing of a commit's staged data
files, vacuum's sweep, and clone's file copy. Parquet DATA I/O stays on
Spark (a real deployment points Spark at ``s3a://`` and the backend at
the same bucket). There is no lock, hardlink or rename outside the
seam: the conditional PUT of ``_log/<n>.json`` is the only
coordination point.

The seam exists so object-store REALITIES are testable without an
object store: tests/test_storage_faults.py injects a PUT that reports
failure after succeeding, a LIST that lags the newest commit, and a
DELETE racing a GET — through wrappers over :class:`PosixBackend`.
"""

from __future__ import annotations

import os
import shutil
import tempfile


class PosixBackend:
    """Local-filesystem implementation of the backend protocol. All
    paths are absolute filesystem paths (the table passes fully rooted
    paths; an object-store backend would treat them as keys)."""

    def get(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def put(self, path: str, data: bytes) -> None:
        """Atomic full-object replace — readers see old or new bytes,
        never a torn write (object store: a plain PUT)."""
        d = os.path.dirname(path)
        if d:
            os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d or None,
                                   prefix="_" + os.path.basename(path) + ".")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    def put_if_absent(self, path: str, data: bytes) -> None:
        """Atomic create-if-absent; raises FileExistsError when the
        name is taken (the conditional PUT every commit rides on).
        Never exposes a torn object: the content is fully written
        before the link."""
        d = os.path.dirname(path)
        if d:
            os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d or None,
                                   prefix="_" + os.path.basename(path) + ".")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.link(tmp, path)  # EEXIST -> FileExistsError
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def list_names(self, dirpath: str) -> list[str]:
        """Entry names directly under ``dirpath`` ([] if absent)."""
        try:
            return os.listdir(dirpath)
        except OSError:
            return []

    def walk_files(self, root: str) -> list[str]:
        """Every file path under ``root``, recursively ([] if absent) —
        the flat-key LIST an object store does natively."""
        out: list[str] = []
        for dirpath, _, files in os.walk(root):
            for f in files:
                out.append(os.path.join(dirpath, f))
        return out

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def mtime(self, path: str) -> float:
        """Last-modified time (object store: the LIST/HEAD timestamp
        vacuum's grace window compares against)."""
        return os.path.getmtime(path)

    def delete(self, path: str) -> None:
        """Delete one object; missing is not an error (DELETE is
        idempotent on object stores)."""
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def delete_prefix(self, root: str) -> None:
        """Delete every object under the prefix (posix: the directory
        tree; object store: batched DELETEs from a LIST)."""
        shutil.rmtree(root, ignore_errors=True)

    def copy(self, src: str, dst: str) -> None:
        """Server-side copy (S3 CopyObject / GCS rewrite) — clone's
        byte-move primitive."""
        d = os.path.dirname(dst)
        if d:
            os.makedirs(d, exist_ok=True)
        shutil.copyfile(src, dst)

    def put_stream(self, path: str, chunks) -> int:
        """Streamed full-object write: ``chunks`` (an iterable of
        bytes) are appended to a staging object, then published
        atomically — the S3 multipart-upload shape
        (CreateMultipartUpload / UploadPart / CompleteMultipartUpload;
        GCS resumable upload / compose). Lets the DV build keep driver
        memory at O(one chunk) instead of O(whole sidecar). Returns
        total bytes written."""
        d = os.path.dirname(path)
        if d:
            os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d or None,
                                   prefix="_" + os.path.basename(path) + ".")
        total = 0
        try:
            with os.fdopen(fd, "wb") as f:
                for c in chunks:
                    f.write(c)
                    total += len(c)
            os.replace(tmp, path)
            return total
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise


class MemoryMetaBackend(PosixBackend):
    """The METADATA plane held entirely in an in-process dict — the
    pure model of an object store's key space, with conditional-PUT
    semantics under a lock (S3 ``If-None-Match: *``). Objects under
    the ``_log/`` prefix never touch the filesystem; everything else
    (Spark-written parquet data, staged files, vacuum's data sweep)
    delegates to posix, because local-mode Spark reads data through
    the filesystem.

    Exists for two reasons: (1) it PROVES the seam is complete — any
    table code path that bypassed the backend (a stray ``open()`` /
    ``os.listdir``) fails loudly in tests, since the metadata objects
    don't exist on disk; (2) it is the reference shape for a real
    object-store backend — implement these same methods over
    boto3/gcsfs and the table runs unchanged (LAKEHOUSE.md seam
    table). Share ONE instance across handles of the same table, as
    you would share a bucket."""

    def __init__(self) -> None:
        import threading
        import time

        self._objects: dict[str, bytes] = {}
        self._mtimes: dict[str, float] = {}
        self._lock = threading.Lock()
        self._clock = time.time

    @staticmethod
    def _is_meta(path: str) -> bool:
        import os

        norm = path.replace(os.sep, "/")
        return "/_log/" in norm or norm.rstrip("/").endswith("/_log")

    def get(self, path):
        if not self._is_meta(path):
            return super().get(path)
        with self._lock:
            try:
                return self._objects[path]
            except KeyError:
                raise FileNotFoundError(path) from None

    def put(self, path, data):
        if not self._is_meta(path):
            return super().put(path, data)
        with self._lock:
            self._objects[path] = bytes(data)
            self._mtimes[path] = self._clock()

    def put_if_absent(self, path, data):
        if not self._is_meta(path):
            return super().put_if_absent(path, data)
        with self._lock:
            if path in self._objects:
                raise FileExistsError(path)
            self._objects[path] = bytes(data)
            self._mtimes[path] = self._clock()

    def put_stream(self, path, chunks):
        """The in-memory model of a multipart upload: parts accumulate
        in the (simulated) store's staging area and publish as one
        object on complete — memory-resident by the model's nature."""
        if not self._is_meta(path):
            return super().put_stream(path, chunks)
        blob = b"".join(chunks)
        self.put(path, blob)
        return len(blob)

    def list_names(self, dirpath):
        if not self._is_meta(dirpath + "/"):
            return super().list_names(dirpath)
        import os

        prefix = dirpath.rstrip("/" + os.sep) + "/"
        with self._lock:
            return sorted({
                k[len(prefix):].split("/", 1)[0]
                for k in self._objects
                if k.replace(os.sep, "/").startswith(
                    prefix.replace(os.sep, "/"))
            })

    def exists(self, path):
        if not self._is_meta(path):
            return super().exists(path)
        with self._lock:
            return path in self._objects

    def mtime(self, path):
        if not self._is_meta(path):
            return super().mtime(path)
        with self._lock:
            try:
                return self._mtimes[path]
            except KeyError:
                raise OSError(2, "no such object", path) from None

    def delete(self, path):
        if not self._is_meta(path):
            return super().delete(path)
        with self._lock:
            self._objects.pop(path, None)
            self._mtimes.pop(path, None)

    # walk_files/delete_prefix are today invoked only on _data paths,
    # but the seam-completeness guarantee says a future meta-prefix
    # caller must not silently operate on the (empty) posix tree
    # (ADVICE r9). Both scan BOTH planes: the in-memory key space for
    # meta objects, posix for everything else — a prefix like the
    # table root that spans the two planes gets the union.

    def _meta_under(self, root: str) -> list[str]:
        import os

        prefix = root.rstrip("/" + os.sep)
        norm = (prefix + "/").replace(os.sep, "/")
        with self._lock:
            return [k for k in self._objects
                    if k.replace(os.sep, "/").startswith(norm)]

    def walk_files(self, root):
        return super().walk_files(root) + self._meta_under(root)

    def delete_prefix(self, root):
        super().delete_prefix(root)
        for k in self._meta_under(root):
            with self._lock:
                self._objects.pop(k, None)
                self._mtimes.pop(k, None)
