"""Scheme-aware metadata IO through ``pyarrow.fs`` — the object-store seam.

Every Python-side metadata read/write (manifest fragments, key-count
stats fragments, manifest/snapshot parquet, ``_SUMMARY.json``) routes
through this module, and so does every chunk file: encode and
transcode tasks and the named sink write them through
``encode.write_chunk_file``. Spark's own parquet source reads chunks
for decode, speaking object stores through the Hadoop filesystems
(``s3a://``, ``gs://``, ``abfss://``).

Resolution rules for a dataset path:

- plain path or ``file:`` prefix → ``LocalFileSystem``; atomic commits
  are tmp-file + rename in the same directory (POSIX atomic).
- ``scheme://...`` with a scheme registered via
  :func:`register_filesystem` → that filesystem, path stripped of the
  scheme. Registration is process-local (driver / tests); executor-side
  fragment commits must use a ``from_uri``-resolvable scheme.
- any other ``scheme://...`` → ``pyarrow.fs.FileSystem.from_uri``
  (s3, gs, hdfs, ...). ``s3a://`` — the Hadoop scheme Spark uses for
  the chunk files — maps to pyarrow's ``s3://`` so ONE ``out_dir``
  string serves both Spark's chunk reader and this layer.
  Object-store writes are single-request puts, which S3/GCS make atomic
  (readers see the old object or the new one, never a torn write) — the
  same commit primitive Iceberg relies on for its metadata files.
"""

from __future__ import annotations

import posixpath
import re
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://")

# process-local scheme -> FileSystem injection point (tests, custom stores)
_REGISTRY: dict[str, pafs.FileSystem] = {}

# Hadoop scheme aliases -> the pyarrow from_uri scheme
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3", "gs": "gcs"}


def register_filesystem(scheme: str, filesystem: pafs.FileSystem | None) -> None:
    """Register (or with ``None``, unregister) a filesystem for a URI
    scheme in THIS process. Driver-side only: executors resolve through
    ``from_uri`` and never see the registry."""
    if filesystem is None:
        _REGISTRY.pop(scheme, None)
    else:
        _REGISTRY[scheme] = filesystem


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """Path/URI → (filesystem, filesystem-local path)."""
    if path.startswith("file:"):
        return pafs.LocalFileSystem(), path[len("file:"):]
    m = _SCHEME_RE.match(path)
    if m is None:
        return pafs.LocalFileSystem(), path
    scheme = m.group(1)
    if scheme in _REGISTRY:
        return _REGISTRY[scheme], path[m.end():]
    alias = _SCHEME_ALIASES.get(scheme)
    if alias is not None:
        path = alias + path[len(scheme):]
        if alias in _REGISTRY:
            return _REGISTRY[alias], path[len(alias) + 3:]
    return pafs.FileSystem.from_uri(path)


def is_local(path: str) -> bool:
    fs, _ = resolve(path)
    return isinstance(fs, pafs.LocalFileSystem)


def _ensure_parent(fs: pafs.FileSystem, inner: str) -> None:
    parent = posixpath.dirname(inner)
    if parent:
        # no-op-ish on object stores (directories are virtual)
        fs.create_dir(parent, recursive=True)


def _tmp_path(inner: str, kind: str, token: str) -> str:
    """Dot-prefixed temporary file next to ``inner``, unique per writing
    thread: threads of one process pass the same ``token`` (its pid), and
    a shared tmp file would let one thread publish, or unlink, another's
    bytes."""
    return (f"{posixpath.dirname(inner)}/.{posixpath.basename(inner)}"
            f".{kind}.{token}.{threading.get_ident()}")


def write_bytes_atomic(path: str, data: bytes, token: str = "w") -> None:
    """Durably publish ``data`` at ``path`` so a concurrent reader sees
    either the previous content or the new content in full.

    Local: tmp file in the same directory + atomic rename (``token``
    disambiguates concurrent writers, e.g. a pid; see :func:`_tmp_path`).
    Object stores: one put — atomic by store semantics."""
    fs, inner = resolve(path)
    _ensure_parent(fs, inner)
    if isinstance(fs, pafs.LocalFileSystem):
        tmp = _tmp_path(inner, "tmp", token)
        with fs.open_output_stream(tmp) as f:
            f.write(data)
        fs.move(tmp, inner)
    else:
        with fs.open_output_stream(inner) as f:
            f.write(data)


def write_bytes_exclusive(path: str, data: bytes, token: str = "w") -> None:
    """Create-if-absent publish: commits ``data`` at ``path`` only when
    nothing exists there, raising ``FileExistsError`` otherwise — the
    compare-and-swap primitive optimistic snapshot commits are built on
    (two writers racing to create ``v{N}`` get exactly one winner).

    Local: tmp file + ``link(2)``, which fails EEXIST atomically at the
    directory-entry level (rename would overwrite). Other stores:
    existence check + atomic put — the conditional-put seam; real
    object-store deployments slot S3 ``If-None-Match`` / GCS
    ``if-generation-match=0`` here when pyarrow exposes them (the
    check-then-put window is then zero instead of milliseconds)."""
    import os

    fs, inner = resolve(path)
    _ensure_parent(fs, inner)
    if isinstance(fs, pafs.LocalFileSystem):
        tmp = _tmp_path(inner, "xtmp", token)
        with fs.open_output_stream(tmp) as f:
            f.write(data)
        try:
            os.link(tmp, inner)  # atomic fail-if-exists commit
        finally:
            os.unlink(tmp)
    else:
        if fs.get_file_info(inner).type != pafs.FileType.NotFound:
            raise FileExistsError(path)
        with fs.open_output_stream(inner) as f:
            f.write(data)


def write_parquet_exclusive(table: pa.Table, path: str, token: str = "w") -> None:
    import io

    sink = io.BytesIO()
    pq.write_table(table, sink)
    write_bytes_exclusive(path, sink.getvalue(), token=token)


def read_bytes(path: str) -> bytes:
    fs, inner = resolve(path)
    with fs.open_input_stream(inner) as f:
        return f.read()


def exists(path: str) -> bool:
    fs, inner = resolve(path)
    return fs.get_file_info(inner).type != pafs.FileType.NotFound


def is_dir(path: str) -> bool:
    fs, inner = resolve(path)
    return fs.get_file_info(inner).type == pafs.FileType.Directory


def list_files(dir_path: str, suffix: str = "") -> list[str]:
    """Names (not full paths) of the regular files directly under
    ``dir_path`` ending in ``suffix``, sorted. Missing dir → []."""
    fs, inner = resolve(dir_path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(inner, recursive=False))
    except FileNotFoundError:
        return []
    return sorted(
        info.base_name
        for info in infos
        if info.type == pafs.FileType.File and info.base_name.endswith(suffix)
    )


def list_dirs(dir_path: str) -> list[str]:
    """Names of the directories directly under ``dir_path``, sorted.
    Missing dir → []."""
    fs, inner = resolve(dir_path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(inner, recursive=False))
    except FileNotFoundError:
        return []
    return sorted(
        info.base_name for info in infos
        if info.type == pafs.FileType.Directory
    )


def delete_file(path: str, missing_ok: bool = True) -> None:
    # catch ONLY not-found: swallowing e.g. EACCES would let callers
    # (vacuum) report data as removed that is still on disk
    fs, inner = resolve(path)
    try:
        fs.delete_file(inner)
    except FileNotFoundError:
        if not missing_ok:
            raise


def delete_dir(path: str, missing_ok: bool = True) -> None:
    fs, inner = resolve(path)
    try:
        fs.delete_dir(inner)
    except FileNotFoundError:
        if not missing_ok:
            raise


def move(src: str, dst: str) -> None:
    """Move/rename ``src`` to ``dst`` (same filesystem — dataset-internal
    promotion, e.g. staged chunk file → its committed ``part_id=`` dir).
    Local: directory-entry rename; object stores: pyarrow's move
    (copy+delete where the store has no rename)."""
    fs, inner_src = resolve(src)
    _, inner_dst = resolve(dst)
    _ensure_parent(fs, inner_dst)
    fs.move(inner_src, inner_dst)


def makedirs(path: str) -> None:
    fs, inner = resolve(path)
    fs.create_dir(inner, recursive=True)


def read_parquet(path: str, columns: list[str] | None = None) -> pa.Table:
    """Read one parquet file, or every ``*.parquet`` directly under a
    directory, through the resolved filesystem."""
    fs, inner = resolve(path)
    info = fs.get_file_info(inner)
    if info.type == pafs.FileType.Directory:
        names = list_files(path, suffix=".parquet")
        tables = [
            pq.read_table(f"{inner}/{n}", columns=columns, filesystem=fs)
            for n in names
        ]
        if not tables:
            raise FileNotFoundError(f"no parquet files under {path}")
        return pa.concat_tables(tables)
    return pq.read_table(inner, columns=columns, filesystem=fs)


def count_parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory from FOOTER metadata
    only — no column data read (pyarrow dataset discovery skips
    ``_``/``.``-prefixed sidecars like Spark's ``_SUCCESS``)."""
    import pyarrow.dataset as pads

    fs, inner = resolve(path)
    return pads.dataset(inner, filesystem=fs, format="parquet").count_rows()


def read_parquet_schema(path: str) -> pa.Schema:
    """Schema (incl. key-value metadata) of one parquet file — a footer
    read, no data pages."""
    fs, inner = resolve(path)
    return pq.read_schema(inner, filesystem=fs)


def write_parquet_atomic(table: pa.Table, path: str, token: str = "w") -> None:
    import io

    sink = io.BytesIO()
    pq.write_table(table, sink)
    write_bytes_atomic(path, sink.getvalue(), token=token)
