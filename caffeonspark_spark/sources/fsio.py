"""Pluggable byte-range filesystem access for the custom Python
DataSources (``cos_seqfile`` / ``cos_lmdb`` / ``cos_imagedir``).

The reference reads its formats from ANY Hadoop filesystem URI — the
SequenceFile source goes through ``sc.sequenceFile`` (HDFS/S3/file;
``SeqImageDataSource.scala:26``) and remote LMDB environments are staged
to executor-local disk via ``SparkFiles`` (``LmdbRDD.scala:166-177``).
The rebuild's sources route every listing/size/byte-range/write through
this shim instead of raw POSIX calls, with two backends:

* **plain paths** (no URI scheme) — the POSIX fast path: ``os`` +
  ``mmap``, zero-copy scans, identical to the pre-shim behavior;
* **scheme'd URIs** (``file://``, ``s3://``, ``gs://``, ``hdfs://``,
  ...) — ``pyarrow.fs.FileSystem.from_uri``, the Arrow filesystem
  layer. This backend was chosen over a ``spark._jvm`` Hadoop-FS bridge
  deliberately: Python DataSource ``read()`` executes in executor
  Python workers where NO py4j gateway exists, so a JVM-backed shim
  could serve the planner but never the data path. pyarrow works
  symmetrically in both (S3/GCS support ships in the wheel; ``hdfs://``
  resolves where libhdfs is deployed and fails LOUDLY where it is not).

Random access over a remote file is a :class:`RangeBuffer` — a
chunk-cached ``read_at`` window exposing the small buffer surface the
SequenceFile scanner needs (``len`` / int and slice ``[]`` / ``find``),
so a 1000-executor scan of one multi-TB remote file moves only each
split's own byte range (+ tail run-out) over the network, never whole
files. Whole-file staging (:func:`ensure_local`) exists for formats
whose access pattern is scattered-random (LMDB B-tree pages) — the
reference's own strategy for exactly that case.
"""

from __future__ import annotations

import hashlib
import os
import posixpath
import re
import shutil
from collections import OrderedDict

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:/")


def is_uri(path: str) -> bool:
    """True for scheme'd URIs (``hdfs://nn/x``, Hadoop-style
    ``file:/x``); false for plain local paths (``/x``, ``rel/x``)."""
    return bool(_SCHEME_RE.match(path))


def _resolve(path: str):
    """URI → ``(pyarrow FileSystem, filesystem-internal path)``.
    Unknown/unreachable schemes fail loudly at the call site (plan time
    for listings, first read for data) instead of yielding zero rows."""
    from pyarrow import fs as pafs

    try:
        return pafs.FileSystem.from_uri(path)
    except Exception as e:
        raise ValueError(
            f"cannot resolve filesystem for {path!r}: {e} "
            "(supported: plain local paths, and any URI scheme "
            "pyarrow.fs can load — file://, s3://, gs://, hdfs:// "
            "where libhdfs is deployed)"
        ) from e


def join(base: str, *names: str) -> str:
    """Path join that preserves the base's form (URI or local)."""
    if is_uri(base):
        return posixpath.join(base, *names)
    return os.path.join(base, *names)


def is_dir(path: str) -> bool:
    if not is_uri(path):
        return os.path.isdir(path)
    from pyarrow import fs as pafs

    fs, internal = _resolve(path)
    return fs.get_file_info(internal).type == pafs.FileType.Directory


def exists(path: str) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    from pyarrow import fs as pafs

    fs, internal = _resolve(path)
    return fs.get_file_info(internal).type != pafs.FileType.NotFound


def list_files(path: str) -> list[tuple[str, int]]:
    """Non-hidden direct-child data files of ``path`` as sorted
    ``(path-in-the-same-form, size)`` — one metadata round-trip for the
    planner; '.'/'_' prefixes (Hadoop in-progress/marker convention)
    are filtered in both backends."""
    if not is_uri(path):
        if not os.path.isdir(path):
            return [(path, os.path.getsize(path))]
        return sorted(
            (os.path.join(path, f), os.path.getsize(os.path.join(path, f)))
            for f in os.listdir(path)
            if not f.startswith((".", "_"))
        )
    from pyarrow import fs as pafs

    fs, internal = _resolve(path)
    info = fs.get_file_info(internal)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(path)
    if info.type != pafs.FileType.Directory:
        return [(path, info.size)]
    out = []
    for child in fs.get_file_info(pafs.FileSelector(internal)):
        name = posixpath.basename(child.path)
        if child.type == pafs.FileType.File and not name.startswith(
            (".", "_")
        ):
            # rebuilt in the ORIGINAL URI form so executors re-resolve
            # the same scheme
            out.append((join(path, name), child.size))
    return sorted(out)


def read_bytes(path: str) -> bytes:
    if not is_uri(path):
        with open(path, "rb") as fh:
            return fh.read()
    fs, internal = _resolve(path)
    with fs.open_input_stream(internal) as fh:
        return fh.read()


def read_text(path: str) -> str:
    return read_bytes(path).decode("utf-8")


def dir_reader(base: str):
    """``name -> bytes`` reader for files under ``base``, resolving the
    filesystem ONCE — per-file ``FileSystem.from_uri`` in an executor
    hot loop would rebuild an S3/GCS/HDFS client per row (r16 review).
    Use one reader per partition."""
    if not is_uri(base):
        def _read_local(name: str) -> bytes:
            with open(os.path.join(base, name), "rb") as fh:
                return fh.read()

        return _read_local
    fs, internal_base = _resolve(base)

    def _read_remote(name: str) -> bytes:
        with fs.open_input_stream(posixpath.join(internal_base, name)) as fh:
            return fh.read()

    return _read_remote


class RangeBuffer:
    """Buffer-protocol-lite over a remote random-access file: ``len``,
    ``buf[i]`` (int), ``buf[a:b]`` (bytes), ``find`` — the exact surface
    the SequenceFile scanner uses on a local mmap — backed by
    chunk-granular ``read_at`` with a small pinned-header LRU cache, so
    a forward split scan fetches each chunk once (~``CHUNK`` bytes per
    network round-trip) and holds O(cache) memory however large the
    file."""

    CHUNK = 4 << 20
    MAX_CACHED = 8  # + the pinned header chunk → ≤ 36 MiB per open file

    def __init__(self, raf, size: int):
        self._raf = raf
        self._size = size
        self._cache: OrderedDict[int, bytes] = OrderedDict()

    def __len__(self) -> int:
        return self._size

    def _chunk(self, ci: int) -> bytes:
        got = self._cache.get(ci)
        if got is not None:
            self._cache.move_to_end(ci)
            return got
        off = ci * self.CHUNK
        data = self._raf.read_at(min(self.CHUNK, self._size - off), off)
        data = data.to_pybytes() if hasattr(data, "to_pybytes") else bytes(data)
        self._cache[ci] = data
        while len(self._cache) > self.MAX_CACHED + 1:
            for key in self._cache:
                if key != 0:  # chunk 0 (header) stays pinned
                    del self._cache[key]
                    break
            else:
                break
        return data

    def __getitem__(self, key):
        if isinstance(key, int):
            if key < 0:
                key += self._size
            if not 0 <= key < self._size:
                raise IndexError("RangeBuffer index out of range")
            return self._chunk(key // self.CHUNK)[key % self.CHUNK]
        start, stop, step = key.indices(self._size)
        if step != 1:
            raise ValueError("RangeBuffer slices must be contiguous")
        if stop <= start:
            return b""
        first, last = start // self.CHUNK, (stop - 1) // self.CHUNK
        if first == last:
            base = first * self.CHUNK
            return self._chunk(first)[start - base : stop - base]
        parts = []
        for ci in range(first, last + 1):
            base = ci * self.CHUNK
            parts.append(
                self._chunk(ci)[
                    max(start - base, 0) : min(stop - base, self.CHUNK)
                ]
            )
        return b"".join(parts)

    def find(self, needle: bytes, start: int = 0) -> int:
        """Forward chunked search with ``len(needle)-1`` overlap."""
        if not needle:
            return min(max(start, 0), self._size)
        pos = max(start, 0)
        overlap = len(needle) - 1
        while pos < self._size:
            win_end = min(pos + self.CHUNK + overlap, self._size)
            hit = self[pos:win_end].find(needle)
            if hit >= 0:
                return pos + hit
            pos += self.CHUNK
        return -1

    def close(self) -> None:
        self._cache.clear()
        self._raf.close()


class _MmapBuffer:
    """Local fast path: a real mmap plus the file handle whose lifetime
    it shares, behind the same ``close()`` surface as RangeBuffer."""

    def __init__(self, path: str):
        import mmap

        self._fh = open(path, "rb")  # noqa: SIM115 - lifetime = object
        try:
            self.buf = mmap.mmap(self._fh.fileno(), 0, access=mmap.ACCESS_READ)
        except ValueError:
            self._fh.close()
            raise ValueError(f"zero-length file: {path}") from None

    def close(self) -> None:
        self.buf.close()
        self._fh.close()


def open_buffer(path: str):
    """Random-access byte buffer over a local file (mmap, zero-copy) or
    a URI (RangeBuffer). Returns ``(buffer, closer)`` — call
    ``closer.close()`` when done. Zero-length files fail loudly in both
    backends (no valid format container is empty)."""
    if not is_uri(path):
        holder = _MmapBuffer(path)
        return holder.buf, holder
    fs, internal = _resolve(path)
    raf = fs.open_input_file(internal)
    size = raf.size()
    if size == 0:
        raf.close()
        raise ValueError(f"zero-length file: {path}")
    rb = RangeBuffer(raf, size)
    return rb, rb


# --- write side --------------------------------------------------------------

def makedirs(path: str) -> None:
    if not is_uri(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, internal = _resolve(path)
    fs.create_dir(internal, recursive=True)


def remove(path: str) -> None:
    if not is_uri(path):
        os.remove(path)
        return
    fs, internal = _resolve(path)
    fs.delete_file(internal)


def open_write(path: str):
    """Binary output stream (context manager) in either backend."""
    if not is_uri(path):
        return open(path, "wb")
    fs, internal = _resolve(path)
    return fs.open_output_stream(internal)


def replace(tmp: str, path: str) -> None:
    """Move ``tmp`` over ``path`` — atomic on POSIX and Arrow local
    filesystems; object stores implement move as copy+delete (same
    visibility caveat as any Hadoop object-store committer)."""
    if not is_uri(tmp):
        os.replace(tmp, path)
        return
    fs, internal_tmp = _resolve(tmp)
    _, internal_dst = _resolve(path)
    fs.move(internal_tmp, internal_dst)


# --- whole-file staging (the reference's SparkFiles strategy) ---------------

def ensure_local(path: str, cache_base: str = "/tmp") -> str:
    """Stage a remote file to machine-local disk once and return the
    local path; local paths pass through untouched. This is the
    reference's own remote-LMDB strategy (``LmdbRDD.scala:166-177``
    ships the environment via ``SparkFiles`` and opens the local copy) —
    right for scattered-random access patterns (B-tree page walks) where
    per-page network round-trips would dominate. Concurrent tasks race
    benignly: each downloads to a pid-unique temp and renames over the
    same keyed destination.

    The cache key is (URI, size, mtime) — mtime included so a same-size
    remote rewrite (common for page-multiple-sized LMDB files) is
    re-staged, not served stale; filesystems that report no mtime fall
    back to (URI, size) and the caveat is on the store's versioning
    (r16 review)."""
    if not is_uri(path):
        return path
    fs, internal = _resolve(path)
    info = fs.get_file_info(internal)
    if info.size is None:
        raise FileNotFoundError(path)
    mtime = info.mtime_ns if info.mtime_ns is not None else ""
    digest = hashlib.sha1(f"{path}|{mtime}".encode()).hexdigest()[:16]
    dest = os.path.join(
        cache_base, f"cos_fsio_stage_{digest}_{info.size}"
    )
    if os.path.exists(dest):
        return dest
    # best-effort sweep of dead processes' crashed-download temps (the
    # r15 leak class; r16 review)
    import glob

    for stale in glob.glob(os.path.join(cache_base, "cos_fsio_stage_*.tmp")):
        pid_s = stale.rsplit(".", 2)[-2]
        from caffeonspark_spark.sources.common import pid_alive

        if pid_s.isdigit() and not pid_alive(int(pid_s)):
            try:
                os.remove(stale)
            except OSError:
                pass
    tmp = f"{dest}.{os.getpid()}.tmp"
    try:
        with fs.open_input_stream(internal) as src, open(tmp, "wb") as out:
            shutil.copyfileobj(src, out, 4 << 20)
        os.replace(tmp, dest)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise
    return dest
