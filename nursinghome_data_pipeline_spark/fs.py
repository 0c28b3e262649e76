"""Filesystem layer for the at-rest index and streaming-target lifecycle.

Every writer that REPLACES a directory — the five index builds, index
compaction, the streaming upsert sink's per-batch merge, and both
streaming sinks' per-batch commit record (``target/_commit``,
``streaming/commitlog.py``) — commits through the one generation
protocol at the end of this module
(:func:`commit_generation`): the new tree is written to a hidden
``_gen-NNNNNN/`` dir and activated by creating the empty pointer
``_gen-NNNNNN.ptr``. The commit is an atomic file creation, never a
data rename, so it is crash-safe AND O(1) on object stores too (a
directory rename there is a copy). Next to the parquet data the index
protocol also keeps the ``_ann_meta.json`` sidecar (geometry, inside
each generation) and the Dekker intent/lock markers (append-vs-compact
exclusion, at the index root). Through r10 these used
``open()``/``os.rename``/``os.listdir`` directly, which
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


#: Generation protocol. A directory ``path`` managed by
#: :func:`commit_generation` holds its data in ``path/_gen-NNNNNN/``
#: and names the active one by the empty pointer file
#: ``path/_gen-NNNNNN.ptr`` — the generation number is the pointer's
#: NAME, so the flip is one atomic file creation on every store (local
#: create, HDFS create, S3 PUT). The leading underscore keeps
#: generation dirs and pointers invisible to Spark's parquet
#: discovery. Readers resolve the active data root as the max-numbered
#: pointer's dir (:func:`active_generation`).
GEN_PREFIX = "_gen-"
GEN_PTR_SUFFIX = ".ptr"


def _active_name(path: str) -> str | None:
    """Name (``_gen-NNNNNN``) of the active generation, or None before
    the first commit. One directory listing; zero-padded numbers make
    the lexicographic max the numeric max."""
    ptrs = glob_names(path, f"{GEN_PREFIX}*{GEN_PTR_SUFFIX}")
    return max(ptrs)[: -len(GEN_PTR_SUFFIX)] if ptrs else None


def active_generation(path: str) -> str | None:
    """Directory of ``path``'s active generation, or None before the
    first commit — THE resolver every reader of a generational
    directory goes through."""
    name = _active_name(path)
    return join(path, name) if name else None


def active_data_root(path: str) -> str:
    """:func:`active_generation`, for readers that need committed data:
    raises ``FileNotFoundError`` when nothing was ever committed."""
    g = active_generation(path)
    if g is None:
        raise FileNotFoundError(f"{path}: no committed generation")
    return g


def _gc_generations(path: str, keep: str | None) -> None:
    """Remove every generation dir and pointer of ``path`` except the
    generation named ``keep``: a crashed write's orphan tree (no
    pointer), and the superseded generation and pointer a crash
    between flip and GC left behind."""
    import contextlib

    for name in glob_names(path, f"{GEN_PREFIX}*"):
        if keep and name in (keep, keep + GEN_PTR_SUFFIX):
            continue
        p = join(path, name)
        if name.endswith(GEN_PTR_SUFFIX):
            with contextlib.suppress(FileNotFoundError):
                remove(p)
        elif is_dir(p):
            rmtree(p)


def commit_generation(path: str, write) -> str:
    """Replace the contents of ``path`` with what ``write(new_dir)``
    writes, as the next generation; returns ``new_dir``.

    Order: GC debris of earlier crashes → ``write(new_dir)`` → THE
    FLIP (create ``new_dir``'s pointer) → GC the superseded
    generation. A failure (or crash) at any point before the flip
    leaves the previous generation fully active and ``new_dir`` as an
    orphan the next commit reaps; after the flip the new generation
    is fully active and the next commit reaps the old one. ``write``
    may raise to abort the commit (a pre-flip gate); a gate that wants
    its orphan gone at once removes ``new_dir`` itself. Callers
    serialize commits to one ``path`` (one writer, or a lock such as
    the index compaction's)."""
    cur = _active_name(path)
    new_name = f"{GEN_PREFIX}{int(cur[len(GEN_PREFIX):]) + 1 if cur else 1:06d}"
    _gc_generations(path, cur)
    new_dir = join(path, new_name)
    write(new_dir)
    touch(join(path, new_name + GEN_PTR_SUFFIX))
    _gc_generations(path, new_name)
    return new_dir
