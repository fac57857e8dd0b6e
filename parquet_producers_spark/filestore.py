"""Pluggable file/blob store — the reference's ``IPersistentStreams``
seam (Parquet.Producers/IPersistentStreams.cs:3-17: the engine never
touches a filesystem directly; a store implementation does).

Everything in ``storage.py`` / ``plans/dag.py`` that is NOT a Spark
read/write (Spark handles URIs natively) goes through a
:class:`FileStore`: manifest probes, version listing, atomic JSON
writes. Two implementations:

* :class:`LocalStore` — plain POSIX (the default; zero deps).
* :class:`HadoopStore` — the JVM ``org.apache.hadoop.fs.FileSystem``
  already inside the running SparkSession, so the SAME code path works
  on ``file://``, ``hdfs://``, ``s3a://``, ``gs://`` … — whatever the
  cluster's Hadoop conf can open. This is what a 100 TB deployment on
  an object store uses; versioning/resume/txn manifests stop assuming
  a local disk.

Atomicity: JSON manifests are written to ``<path>.tmp`` then renamed.
On object stores rename is copy+delete (not atomic), but the manifest
protocol only needs *visibility* atomicity — a manifest either parses
fully or is absent — which tmp+rename provides on every Hadoop FS
(partial uploads never live at the final key).
"""

from __future__ import annotations

import json
import os
import posixpath


class FileStore:
    """Interface: paths are strings (URIs allowed for non-local)."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Child names (not full paths); [] if path missing."""
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def delete(self, path: str, recursive: bool = False) -> None:
        raise NotImplementedError

    # -- shared JSON helpers ------------------------------------------------

    def read_json(self, path: str) -> dict:
        return json.loads(self.read_bytes(path).decode())

    def write_json_atomic(self, path: str, payload: dict) -> None:
        self.write_bytes_atomic(
            path, json.dumps(payload, indent=1, sort_keys=True).encode())


def is_data_file(name: str) -> bool:
    """A parquet data file's name: ``*.parquet`` and not hidden behind a
    ``_`` or ``.`` prefix (writer metadata, temporary and dot files)."""
    return name.endswith(".parquet") and not name.startswith(("_", "."))


def list_data_files(store: FileStore, directory: str) -> list[str]:
    """Sorted full paths of ``directory``'s parquet data files."""
    return sorted(posixpath.join(directory, e)
                  for e in store.listdir(directory) if is_data_file(e))


class LocalStore(FileStore):
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def listdir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return os.listdir(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        if not data:
            # reference IPersistentStreams.cs:14-17: uploading empty
            # content DELETES the blob — an absent blob and an empty
            # stream are the same thing to readers
            self.delete(path)
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    def delete(self, path: str, recursive: bool = False) -> None:
        if os.path.isdir(path):
            if recursive:
                import shutil

                shutil.rmtree(path)
            else:
                os.rmdir(path)
        elif os.path.exists(path):
            os.remove(path)


class HadoopStore(FileStore):
    """Driver-side metadata I/O through the session's Hadoop FileSystem.

    Only manifests and listings flow through here (tiny, driver-side);
    bulk data always moves via Spark's own readers/writers.
    """

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return self._fs(path).exists(self._path(path))

    def listdir(self, path: str) -> list[str]:
        fs, p = self._fs(path), self._path(path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def read_bytes(self, path: str) -> bytes:
        fs = self._fs(path)
        stream = fs.open(self._path(path))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return bytes(data)

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        if not data:
            # reference IPersistentStreams.cs:14-17: empty upload ==
            # delete the blob (see LocalStore)
            self.delete(path)
            return
        fs = self._fs(path)
        tmp, dest = self._path(path + ".tmp"), self._path(path)
        out = fs.create(tmp, True)  # create() makes parent dirs
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        try:
            # FileContext.rename(OVERWRITE): atomic replace — no window
            # where the destination is absent, so a reader always sees
            # either the old or the new manifest, never neither
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                dest.toUri(), self._conf)
            rename_enum = self._jvm.org.apache.hadoop.fs.Options.Rename
            opts = self._gateway.new_array(rename_enum, 1)
            opts[0] = rename_enum.OVERWRITE
            fc.rename(tmp, dest, opts)
        except Exception:
            # filesystems without a FileContext implementation: fall
            # back to delete+rename. The absence window is tolerable
            # because manifests are write-once per version; a same-path
            # rewrite only happens on crash-resume, where the only
            # reader is the resuming driver itself.
            #
            # Fall back ONLY while tmp still exists: if the JVM-side
            # rename actually completed and only the Py4J reply was
            # lost, tmp is gone and dest is the new manifest — deleting
            # dest here would manufacture the very no-manifest window
            # this method exists to prevent.
            if fs.exists(tmp):
                if fs.exists(dest):
                    fs.delete(dest, False)
                if not fs.rename(tmp, dest):
                    raise IOError(f"rename {tmp} -> {dest} failed")
            elif not fs.exists(dest):
                raise  # neither tmp nor dest survived — surface it

    def delete(self, path: str, recursive: bool = False) -> None:
        fs, p = self._fs(path), self._path(path)
        if fs.exists(p):
            fs.delete(p, recursive)
