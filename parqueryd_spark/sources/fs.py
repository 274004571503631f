"""Hadoop ``FileSystem`` gateway — scheme-aware filesystem ops for publication.

The reference's moveparquet layer exists precisely to serve object-store-sourced
data (worker.py:544-594 downloads from S3/Azure; worker.py:689-779 swaps files
into the serving dir), so the Spark analog's publish/probe paths must work on
any Hadoop-supported scheme (``file:``, ``s3a:``, ``abfss:``, ``gs:``, ...),
not just a POSIX mount. This wraps the same JVM-side ``FileSystem`` resolution
Spark's own reader uses behind the small op set publication, existence probes
(``sources/parquet.py:_exists``) and planning-time listings need: exists /
rename / delete / mkdirs / touch / liststatus. It is the package's only
``FileSystem`` resolution.

Semantics note: Hadoop ``rename`` returns ``False`` on failure instead of
raising, and (unlike POSIX) does not replace an existing destination —
``rename_or_raise`` converts failure to ``OSError`` so callers keep one error
path. On true object stores a "rename" is a copy+delete and not atomic; the
docstrings on the publish functions call out the table-format upgrade path.
"""

from __future__ import annotations

from functools import cached_property

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


class HadoopFS:
    """One resolved Hadoop FileSystem (from an anchor path's scheme).

    ``Path`` is named in full through ``JavaClass`` (one reflection call),
    not as ``spark._jvm.org.apache...`` (one per package segment): a
    planning call builds one of these per call."""

    def __init__(self, spark: SparkSession, anchor_path: str):
        self._gateway = spark._jvm._gateway_client
        self._Path = JavaClass("org.apache.hadoop.fs.Path", self._gateway)
        self._fs = self._Path(anchor_path).getFileSystem(spark._jsc.hadoopConfiguration())

    def qualify(self, path: str) -> str:
        """Fully-qualified URI for ``path`` on this filesystem (bare local
        paths become ``file:/...``; relative paths resolve against the FS
        working dir — the cluster-correct analog of ``os.path.abspath``)."""
        return self._fs.makeQualified(self._Path(path)).toString()

    @staticmethod
    def parent(path: str) -> str:
        return path.rsplit("/", 1)[0]

    @staticmethod
    def name(path: str) -> str:
        return path.rstrip("/").rsplit("/", 1)[1]

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def is_dir(self, path: str) -> bool:
        """False for a file or a missing path (one call: planning asks this
        of every shard it lists)."""
        return bool(self._fs.isDirectory(self._Path(path)))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def touch(self, path: str) -> None:
        """Create (or truncate) an empty file at ``path``."""
        self._fs.create(self._Path(path), True).close()

    def delete(self, path: str) -> None:
        """Recursive delete; no-op if absent (``shutil.rmtree(ignore_errors)``
        analog)."""
        self._fs.delete(self._Path(path), True)

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self._Path(src), self._Path(dst)))

    def rename_or_raise(self, src: str, dst: str) -> None:
        if not self.rename(src, dst):
            raise OSError(f"rename failed: {src} -> {dst}")

    def listdir(self, path: str) -> list[str]:
        """Child basenames of a directory (``os.listdir`` analog)."""
        return [st.getPath().getName() for st in self._fs.listStatus(self._Path(path))]

    @cached_property
    def _visible(self):
        """The ``PathFilter`` dataset listings pass to ``listStatus``: it
        drops hidden entries JVM-side, so a skipped entry costs no py4j
        round trip."""
        return JavaClass("org.apache.hadoop.fs.GlobFilter", self._gateway)(_VISIBLE_GLOB)

    def list_files(self, path: str, suffix: str | None = ".parquet") -> list[str]:
        """Fully-qualified data-file paths under ``path`` (recursive), skipping
        hidden/marker entries (``_SUCCESS``, ``.crc``, ``_metadata``). A
        ``path`` that is itself a file returns ``[path]`` — datasets are
        sometimes a single parquet file (the testdata layout), sometimes a
        directory of parts (Spark writes)."""
        if not self.is_dir(path):
            return [self.qualify(path)]
        out: list[str] = []

        def walk(p) -> None:
            for st in self._fs.listStatus(p, self._visible):
                child = st.getPath()
                if st.isDirectory():
                    walk(child)
                else:
                    found = child.toString()
                    if suffix is None or found.endswith(suffix):
                        out.append(found)

        walk(self._Path(path))
        return sorted(out)

    def first_file(self, path: str) -> str | None:
        """``list_files(path, suffix=None)[0]`` without listing the whole
        tree: a depth-first walk that lists one directory level at a time, in
        the order of the full sorted listing, and stops at the first data
        file. A directory sorts among its siblings by its name plus ``/``,
        which is how its files' paths compare with theirs. None when a
        directory holds no data file."""
        if not self.is_dir(path):
            return self.qualify(path)

        def first(p) -> str | None:
            entries = []
            for st in self._fs.listStatus(p, self._visible):
                child = st.getPath()
                name, is_dir = child.getName(), st.isDirectory()
                entries.append((name + "/" if is_dir else name, is_dir, child))
            for _key, is_dir, child in sorted(entries, key=lambda e: e[0]):
                found = first(child) if is_dir else child.toString()
                if found is not None:
                    return found
            return None

        return first(self._Path(path))


# the names dataset listings keep: none starting with "_" or "." (marker and
# sidecar entries: ``_SUCCESS``, ``.crc``, ``_metadata``, ``_meta``)
_VISIBLE_GLOB = "[!_.]*"
