"""Filesystem layer for the at-rest index lifecycle.

The ANN/dedup index protocol keeps three kinds of driver-side state
next to the Spark-written parquet data: the ``_ann_meta.json`` sidecar
(geometry), the Dekker intent/lock markers (append-vs-compact
exclusion), and the compaction's generation-pointer/stat bookkeeping
(r12 — the commit is an atomic empty-file creation, never a data
rename, so it is crash-safe on object stores too). Through r10
these used ``open()``/``os.rename``/``os.listdir`` directly, which
bound every at-rest index to one node's local disk — a
``NotImplementedError`` gate (`_require_local_path`) rejected any
``scheme://`` URI up front. The reference's own endgame is object-store
residency (reference ``upload_to_s3.py:119-203``, README "promote
logic to AWS"), so r11 routes all of it through this module instead:

- a **plain path** (no ``scheme://``) keeps the exact r10 local fast
  path — ``os`` / ``open`` / ``shutil``, zero JVM round-trips, so the
  measured probe/compaction numbers in SCALE.md are unchanged;
- a **URI** (``file://``, ``hdfs://``, ``s3a://``, ...) goes through
  the Hadoop ``FileSystem`` client obtained from the active
  SparkSession's JVM — the SAME client Spark's own parquet reads and
  writes resolve the path with, so sidecar and data can never land on
  different filesystems. ``file://`` exercises this path end-to-end in
  tests (Hadoop's LocalFileSystem); ``s3a://``/``hdfs://`` work
  wherever the cluster's Hadoop conf carries the connector.

Small-file reads/writes on the Hadoop path stage through a driver-local
temp file + ``copyFromLocalFile``/``copyToLocalFile`` (raw, no ``.crc``
sidecars) rather than streaming bytes over py4j — sidecars and lock
markers are <2 KB, and the copy calls are single JVM round-trips.

Semantic caveat carried over from the r10 docstrings: the Dekker
handshake assumes create/exists visibility between writer processes.
Local disk and HDFS give that; S3's create-then-list can lag, so on
object stores the append/compact exclusion is advisory — run ONE
writer, or hold an external lock, exactly as the append/compact
docstrings already require for NFS.
"""

from __future__ import annotations

import fnmatch
import os
import re
import shutil
import tempfile

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def is_uri(path: str) -> bool:
    """True when ``path`` is scheme-qualified (``file://``, ``s3a://``,
    ...) and must be handled by the Hadoop FileSystem client rather
    than the local ``os`` fast path."""
    return bool(_SCHEME_RE.match(path))


def _hadoop(path: str):
    """(jvm, FileSystem, Path-class) for a scheme-qualified path.

    Resolved through the ACTIVE SparkSession's Hadoop configuration —
    the same conf Spark's data reads/writes use, so credentials and
    connector settings apply to the sidecar exactly as to the parquet.
    A thread with no active session of its own (a driver pool thread,
    see ``parallel.map_actions``) uses the default session.
    """
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql import SparkSession

    try:
        spark = SparkSession.active()
    except PySparkRuntimeError:
        raise RuntimeError(
            f"fs: scheme-qualified path {path!r} needs an active "
            "SparkSession to obtain its Hadoop FileSystem client — "
            "create the session before touching remote index paths"
        ) from None
    jvm = spark._jvm
    jpath_cls = jvm.org.apache.hadoop.fs.Path
    fs = jpath_cls(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath_cls


def check_fs(path: str, op: str) -> None:
    """Fail fast when ``path``'s filesystem is unreachable.

    Replaces the r5-r10 ``_require_local_path`` gate: instead of
    rejecting every ``scheme://`` URI, instantiate its Hadoop
    FileSystem client AND make one real round trip (``exists`` on the
    path) — client construction alone succeeds for a dead namenode or
    unconfigured credentials without any RPC (ADVICE r11), and the
    next step is typically a ``mode('overwrite')`` data write that
    would delete an existing index before discovering it can't
    finish. The ``exists`` surfaces connectivity/credential failures
    first. Residual caveat: a reachable endpoint that dies BETWEEN
    this check and the write is still the half-destroyed-index
    scenario — this is fail-fast, not a transaction."""
    if not is_uri(path):
        return
    try:
        _, fs, P = _hadoop(path)
        fs.exists(P(path))
    except RuntimeError:
        raise
    except Exception as e:  # Py4JJavaError — no connector / dead endpoint
        raise RuntimeError(
            f"{op}: filesystem for {path!r} is unusable — the scheme's "
            "connector is not on the classpath, credentials are "
            "missing/invalid, or the endpoint is unreachable "
            f"({e.__class__.__name__}). Fix the Spark Hadoop conf, or "
            "use a local path."
        ) from e


def join(path: str, *parts: str) -> str:
    """Path join that is safe for URIs (no ``os.sep`` surprises)."""
    if is_uri(path):
        return "/".join([path.rstrip("/"), *parts])
    return os.path.join(path, *parts)


def exists(path: str) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    _, fs, P = _hadoop(path)
    return bool(fs.exists(P(path)))


def is_dir(path: str) -> bool:
    if not is_uri(path):
        return os.path.isdir(path)
    _, fs, P = _hadoop(path)
    return bool(fs.exists(P(path)) and fs.getFileStatus(P(path)).isDirectory())


def listdir(path: str) -> list[str]:
    """Child entry NAMES of a directory. Raises ``FileNotFoundError``
    when the directory does not exist (``os.listdir`` parity — callers
    in the probe path catch ``OSError``)."""
    if not is_uri(path):
        return os.listdir(path)
    _, fs, P = _hadoop(path)
    if not fs.exists(P(path)):
        raise FileNotFoundError(path)
    return [st.getPath().getName() for st in fs.listStatus(P(path))]


def makedirs(path: str) -> None:
    if not is_uri(path):
        os.makedirs(path, exist_ok=True)
        return
    _, fs, P = _hadoop(path)
    fs.mkdirs(P(path))


def write_text(path: str, text: str) -> None:
    """Create-or-overwrite a small text file (sidecars, locks)."""
    if not is_uri(path):
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        return
    _, fs, P = _hadoop(path)
    # mkstemp, not mktemp: the fd is created atomically with O_EXCL,
    # so no local attacker/concurrent session can pre-create a
    # symlink at a predicted name and redirect the staged sidecar
    # content (CWE-377 — ADVICE r11)
    fd, tmp = tempfile.mkstemp(prefix="fs-stage-")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(text)
        fs.copyFromLocalFile(False, True, P(tmp), P(path))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def read_text(path: str) -> str:
    if not is_uri(path):
        with open(path, encoding="utf-8") as f:
            return f.read()
    _, fs, P = _hadoop(path)
    if not fs.exists(P(path)):
        raise FileNotFoundError(path)
    # mkstemp (not mktemp) holds the name with a file WE own for the
    # whole window — a predicted-name symlink planted between name
    # pick and copy would otherwise let the Hadoop copy clobber an
    # attacker-chosen path (CWE-377 — ADVICE r11). The copy itself
    # overwrites the placeholder (raw local FS target: no .crc
    # sidecar litter).
    fd, tmp = tempfile.mkstemp(prefix="fs-stage-")
    os.close(fd)
    try:
        fs.copyToLocalFile(False, P(path), P(tmp), True)
        with open(tmp, encoding="utf-8") as f:
            return f.read()
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def touch(path: str) -> None:
    """Create an empty marker file (intent markers)."""
    write_text(path, "")


def remove(path: str) -> None:
    """Remove one file. Raises ``FileNotFoundError`` when absent
    (``os.remove`` parity — the handshake cleanup suppresses it)."""
    if not is_uri(path):
        os.remove(path)
        return
    _, fs, P = _hadoop(path)
    if not fs.delete(P(path), False):
        raise FileNotFoundError(path)


def rename(src: str, dst: str) -> None:
    """Same-filesystem rename (the upsert sink's target swap, legacy
    crash recovery). Atomic on local disk/HDFS, copy-based on object
    stores — which is why the index compaction commit no longer uses
    it (generation pointer, r12). Hadoop's ``rename`` returns False
    instead of raising — normalize to ``OSError`` so callers' error
    handling is uniform."""
    if not is_uri(src):
        os.rename(src, dst)
        return
    _, fs, P = _hadoop(src)
    if not fs.rename(P(src), P(dst)):
        raise OSError(f"rename failed: {src} -> {dst}")


def rmtree(path: str) -> None:
    if not is_uri(path):
        shutil.rmtree(path)
        return
    _, fs, P = _hadoop(path)
    fs.delete(P(path), True)


def glob_names(dirpath: str, pattern: str) -> list[str]:
    """Child entry names of ``dirpath`` matching an fnmatch pattern
    (the ``_append-*.intent`` scan). Empty list when the directory is
    missing."""
    try:
        names = listdir(dirpath)
    except OSError:
        return []
    return sorted(n for n in names if fnmatch.fnmatch(n, pattern))


def data_file_stats(path: str, suffix: str = ".parquet") -> set[tuple[str, int, float]]:
    """Recursive ``(path, size, mtime)`` set of data files under
    ``path`` — the compaction's belt-and-braces change gate. A file
    vanishing mid-listing records a ``(-1, -1.0)`` sentinel so the
    before/after comparison trips the clean concurrent-writer abort
    (local parity with the r9 behavior)."""
    if not is_uri(path):
        import glob as _glob

        def _stat(p: str) -> tuple[str, int, float]:
            try:
                st = os.stat(p)
                return (p, st.st_size, st.st_mtime)
            except FileNotFoundError:
                return (p, -1, -1.0)

        return {
            _stat(p)
            for p in _glob.glob(
                os.path.join(path, "**", "*" + suffix), recursive=True
            )
        }
    _, fs, P = _hadoop(path)
    if not fs.exists(P(path)):
        return set()
    out: set[tuple[str, int, float]] = set()
    it = fs.listFiles(P(path), True)
    try:
        while it.hasNext():
            st = it.next()
            p = st.getPath().toString()
            if p.endswith(suffix):
                # Hadoop mtime is epoch millis; only equality matters
                out.add(
                    (p, int(st.getLen()), st.getModificationTime() / 1000.0)
                )
    except Exception as e:
        # A file vanishing between the directory listing and its stat
        # raises java.io.FileNotFoundException out of the iterator.
        # Local parity (ADVICE r11): record a sentinel entry so the
        # caller's before/after comparison trips its CLEAN
        # concurrent-writer abort instead of an opaque Py4J error. The
        # sentinel embeds the vanished path when the message names it,
        # plus the partial-set size so two truncated listings can
        # never compare equal by accident — vanishing files mean a
        # concurrent writer, and aborting is the correct outcome.
        name = getattr(
            getattr(e, "java_exception", None), "getMessage", lambda: ""
        )()
        out.add((f"{path}#vanished:{name}#after={len(out)}", -1, -1.0))
    return out
