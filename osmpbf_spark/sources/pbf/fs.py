"""Filesystem indirection for the PBF source/sink.

The reference reads any Hadoop FileSystem for free — OsmPbfRecordReader.java:
300-310 opens its split via ``file.getFileSystem(conf)`` and
OsmPbfInputFormat.java:13-19 inherits FileInputFormat path handling — so
``s3://`` / ``hdfs://`` paths just work there. Python DataSource readers run
in plain Python workers with no JVM access, so this module provides the
equivalent indirection on the Python side. Every ``fs_*`` operation has two
arms:

- no scheme, or ``file://`` -> the local filesystem (the fast path)
- any other scheme -> one call on the filesystem object ``_fs(scheme)``
  returns: ``fsspec.filesystem(scheme)`` for ``s3://``, ``hdfs://``, ...
  (an error naming the missing dependency without fsspec, the Python
  equivalent of Hadoop's FileSystem SPI), and for ``memory://`` the
  process-local ``_MemoryFS``, which answers the same fsspec calls, so
  the memory:// tests run the code a remote URL runs.

Scale note: every call here is driver-side planning (glob/list/stat) or a
per-partition ``open`` on an executor; blocks are read with plain
``f.seek``/``f.read`` on the file object ``fs_open`` returned, so a remote
path costs one extra range handshake per partition, not per block.
"""

from __future__ import annotations

import fnmatch
import glob as globmod
import io
import os
import posixpath
import re

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://")


def scheme_of(path: str) -> str | None:
    """URL scheme of ``path``, or None for plain local paths. Windows drive
    letters (``C:\\``) don't match — the scheme must precede ``://``."""
    m = _SCHEME_RE.match(path)
    return m.group(1).lower() if m else None


def strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if scheme_of(path) == "file" else path


class _MemoryFS:
    """The fsspec calls this module makes, over a dict of path -> bytes,
    with fsspec's conventions: ``glob`` returns paths without the
    protocol, ``info`` has a size but no mtime (so nothing is cached).
    Per process: end-to-end cluster tests use file:// instead."""

    class _WriteFile(io.BytesIO):
        def __init__(self, store: dict, key: str):
            super().__init__()
            self._store, self._key = store, key

        def close(self) -> None:
            # a second close() is a no-op, per the io.IOBase contract
            if not self.closed:
                self._store[self._key] = self.getvalue()
            super().close()

    def __init__(self):
        self.store: dict[str, bytes] = {}  # key: path without protocol

    @staticmethod
    def _key(path: str) -> str:
        return posixpath.normpath("/" + path.split("://", 1)[-1]).lstrip("/")

    def open(self, path: str, mode: str = "rb"):
        key = self._key(path)
        if "r" in mode:
            if key not in self.store:
                raise FileNotFoundError(path)
            f = io.BytesIO(self.store[key])
        else:
            f = self._WriteFile(self.store, key)
        return f if "b" in mode else io.TextIOWrapper(f, encoding="utf-8")

    def info(self, path: str) -> dict:
        key = self._key(path)
        if key not in self.store:
            raise FileNotFoundError(path)
        return {"name": key, "size": len(self.store[key]), "type": "file"}

    def isdir(self, path: str) -> bool:
        prefix = self._key(path).rstrip("/") + "/"
        return any(k.startswith(prefix) for k in self.store)

    def exists(self, path: str) -> bool:
        return self._key(path) in self.store or self.isdir(path)

    def glob(self, pattern: str) -> list[str]:
        # glob semantics, not fnmatch: '*' stops at '/' as in a local glob
        pat = self._key(pattern)
        return sorted(
            k for k in self.store
            if k.count("/") == pat.count("/") and fnmatch.fnmatchcase(k, pat)
        )

    def makedirs(self, path: str, exist_ok: bool = False) -> None:
        pass  # like an object store: directories exist through their files

    def rm(self, path: str) -> None:
        if self.store.pop(self._key(path), None) is None:
            raise FileNotFoundError(path)


_MEMORY_FS = _MemoryFS()


def memory_clear() -> None:
    """Test hook: drop every memory:// file."""
    _MEMORY_FS.store.clear()


def _fs(scheme: str):
    """The filesystem object serving a non-local ``scheme``."""
    if scheme == "memory":
        return _MEMORY_FS
    try:
        import fsspec
    except ImportError as e:  # pragma: no cover - fsspec not in test env
        raise ImportError(
            f"reading {scheme}:// paths requires the 'fsspec' package "
            f"(plus its {scheme} backend, e.g. s3fs/gcsfs); install it or "
            "copy the data to local/file:// paths"
        ) from e
    return fsspec.filesystem(scheme)


def fs_open(path: str, mode: str = "rb"):
    """Open ``path``: read/seek/tell for "rb", write for w*."""
    scheme = scheme_of(path)
    if scheme is None or scheme == "file":
        return open(strip_file_scheme(path), mode)
    return _fs(scheme).open(path, mode)


def fs_stat(path: str) -> tuple[int, int] | None:
    """(size, mtime_ns) identity for sidecar-index invalidation, or None
    when the backend can't provide a stable one (callers must then skip
    caching and walk the file — correctness never depends on a stat).
    Other backends use info()'s size and mtime (or LastModified); one
    with no mtime gives no identity, or a same-size rewrite would plan
    from the old file's block index."""
    scheme = scheme_of(path)
    if scheme is None or scheme == "file":
        try:
            st = os.stat(strip_file_scheme(path))
        except OSError:
            return None
        return (st.st_size, st.st_mtime_ns)
    try:
        info = _fs(scheme).info(path)
        size = info.get("size")
        mt = info.get("mtime") or info.get("LastModified")  # None raises
        ts = mt.timestamp() if hasattr(mt, "timestamp") else float(mt)
        return (int(size), int(ts * 1e9))
    except Exception:
        return None


def fs_isdir(path: str) -> bool:
    scheme = scheme_of(path)
    if scheme is None or scheme == "file":
        return os.path.isdir(strip_file_scheme(path))
    return _fs(scheme).isdir(path)


def fs_exists(path: str) -> bool:
    scheme = scheme_of(path)
    if scheme is None or scheme == "file":
        return os.path.exists(strip_file_scheme(path))
    return _fs(scheme).exists(path)


def fs_glob(pattern: str) -> list[str]:
    """Expand a glob pattern; results keep the pattern's scheme prefix so
    they can be fed straight back to ``fs_open``."""
    scheme = scheme_of(pattern)
    if scheme is None or scheme == "file":
        prefix = "file://" if scheme else ""
        return sorted(
            prefix + p for p in globmod.glob(strip_file_scheme(pattern))
        )
    return sorted(f"{scheme}://{p}" for p in _fs(scheme).glob(pattern))


def fs_join(path: str, *parts: str) -> str:
    scheme = scheme_of(path)
    if scheme is None:
        return os.path.join(path, *parts)
    if scheme == "file":
        return "file://" + os.path.join(strip_file_scheme(path), *parts)
    # keep the scheme's own '//': joining onto a bare root like 's3://'
    # must yield 's3://x', not 's3:/x' (which no longer parses as a
    # scheme and would fall through to local disk)
    base = path.rstrip("/")
    if base.endswith(":"):
        base += "/"
    return "/".join([base, *parts])


def canonical(path: str) -> str:
    """One spelling per file: a local path with symlinks resolved and
    ``file://`` dropped, any other the normalized URL."""
    scheme = scheme_of(path)
    if scheme is None or scheme == "file":
        return os.path.realpath(strip_file_scheme(path))
    rest = posixpath.normpath("/" + path.split("://", 1)[1]).lstrip("/")
    return f"{scheme}://{rest}"


def fs_makedirs(path: str) -> None:
    scheme = scheme_of(path)
    if scheme is None or scheme == "file":
        os.makedirs(strip_file_scheme(path), exist_ok=True)
    else:
        _fs(scheme).makedirs(path, exist_ok=True)


def fs_remove(path: str) -> None:
    scheme = scheme_of(path)
    if scheme is None or scheme == "file":
        os.remove(strip_file_scheme(path))
    else:
        _fs(scheme).rm(path)
