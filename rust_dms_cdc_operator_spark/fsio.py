"""Filesystem facade: one API over local paths and scheme-qualified URIs.

Local paths (no ``scheme://``) go through ``os``/``shutil``; anything
with a URI scheme (``s3a://``, ``hdfs://``, ``file://`` …) goes through
the active SparkSession's JVM Hadoop ``FileSystem`` — the same
connector Spark itself reads with, so every credential/endpoint option
configured for the session applies here too. This is what makes the
manifest commit protocol (streaming/cdc_stream.py), the CSV split
guard (sources/reader.py), and snapshot discovery (snapshot.py) work
unchanged against an object store, where ``os.*`` cannot resolve the
path at all.

Reference parity: the reference talks to S3 directly via the AWS SDK
(``/root/reference/src/s3/s3_operator.rs:210-317`` — ListObjectsV2
pagination + GET); here the Hadoop connector plays that role.

The ``file://`` scheme routes through the JVM branch on purpose: it
lets tests exercise the remote code path byte-for-byte without an
object store in the container.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import SparkSession

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def is_uri(path: str) -> bool:
    """True when the path carries a URI scheme and must be handled by
    the Hadoop FileSystem of the active Spark session."""
    return bool(_SCHEME_RE.match(path))


def join(base: str, *parts: str) -> str:
    """Path join that never backslash-mangles a URI."""
    if is_uri(base):
        return "/".join([base.rstrip("/"), *[p.strip("/") for p in parts]])
    return os.path.join(base, *parts)


def _hfs(path: str):
    # getActiveSession is thread-local; fan-out worker threads (e.g.
    # snapshot's per-table pool) fall back to the process-wide session
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        raise RuntimeError(
            f"no active SparkSession to resolve remote path {path!r}"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(path: str) -> bool:
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        return bool(fs.exists(jpath))
    return os.path.exists(path)


def listdir(path: str) -> list[str]:
    """Child names (files and dirs) of a directory; [] if absent."""
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        if not fs.exists(jpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jpath)]
    if not os.path.isdir(path):
        return []
    return os.listdir(path)


def listdir_dirs(path: str) -> list[str]:
    """Child directory names only."""
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        if not fs.exists(jpath):
            return []
        return [
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isDirectory()
        ]
    if not os.path.isdir(path):
        return []
    return [d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))]


def getsize(path: str) -> int:
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        return int(fs.getFileStatus(jpath).getLen())
    return os.path.getsize(path)


def getmtime(path: str) -> float:
    """Modification time, seconds since epoch (Hadoop reports millis)."""
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        return fs.getFileStatus(jpath).getModificationTime() / 1000.0
    return os.path.getmtime(path)


def mkdirs(path: str) -> None:
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        fs.mkdirs(jpath)
        return
    os.makedirs(path, exist_ok=True)


def delete(path: str, recursive: bool = True) -> None:
    """Remove a file or directory tree; silent if absent."""
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        if fs.exists(jpath):
            fs.delete(jpath, recursive)
        return
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)


def qualified(path: str) -> str:
    """Fully-qualified form of a URI as Hadoop renders it (e.g.
    ``file:///x`` → ``file:/x``) — the prefix to strip when deriving
    relative keys from listing results. Local paths pass through."""
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        return fs.makeQualified(jpath).toString()
    return path


def walk_files(path: str) -> list[tuple[str, int, float]]:
    """Recursive file listing: (full path, size bytes, mtime seconds).
    Remote URIs use one ``listFiles(recursive)`` call — on s3a that is
    a flat paginated ListObjectsV2, the same shape the reference's
    lister drives (s3_operator.rs:210-248) — not a per-directory walk."""
    out: list[tuple[str, int, float]] = []
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        if not fs.exists(jpath):
            return out
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            st = it.next()
            out.append(
                (
                    st.getPath().toString(),
                    int(st.getLen()),
                    st.getModificationTime() / 1000.0,
                )
            )
        return out
    for dirpath, _dirnames, filenames in os.walk(path):
        for name in filenames:
            full = os.path.join(dirpath, name)
            out.append((full, os.path.getsize(full), os.path.getmtime(full)))
    return out


def read_text(path: str) -> str:
    if is_uri(path):
        fs, jpath, jvm = _hfs(path)
        stream = fs.open(jpath)
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def write_text(path: str, text: str) -> None:
    """Plain (non-atomic) write; callers needing atomicity use
    :func:`publish_text`."""
    if is_uri(path):
        fs, jpath, _ = _hfs(path)
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)


def rename(src: str, dst: str) -> bool:
    """Rename src to dst. NOTE: the local branch has POSIX semantics
    (an existing FILE at dst is replaced); commit paths that need
    no-clobber atomicity use :func:`rename_noclobber`."""
    if is_uri(src):
        fs, jsrc, jvm = _hfs(src)
        return bool(fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)))
    os.rename(src, dst)
    return True


def rename_noclobber(src: str, dst: str) -> bool:
    """Move a FILE to a destination that must not exist; returns False
    (src left in place) if it does. Local: ``os.link`` + unlink —
    link(2) fails with EEXIST, so two racing committers cannot both
    win (POSIX ``os.rename`` would silently replace). Hadoop:
    ``FileSystem.rename`` already returns false on an existing
    destination (HDFS metadata op; s3a checks the destination before
    its COPY)."""
    if is_uri(src):
        return rename(src, dst)
    try:
        os.link(src, dst)
    except FileExistsError:
        return False
    os.remove(src)
    return True


def publish_text(path: str, text: str, tmp_suffix: str) -> None:
    """Atomically publish ``text`` at ``path`` — a path that must not
    exist yet (commit files are immutable and never overwritten, so a
    fresh name is the contract). Write the bytes to a sibling temp
    name, then rename into place:

    - local FS: ``os.rename`` — atomic
    - HDFS: ``FileSystem.rename`` — atomic metadata op
    - s3a: rename = server-side COPY + DELETE; the COPY is a single
      PUT, so the destination key appears atomically (a crashed DELETE
      only leaves a temp object, which the manifest log's listing —
      the only reader of these keys — filters out by name)

    This is why the commit protocol never needs overwrite-rename or
    PUT-if-absent: each commit targets a new, monotonically numbered
    key, and readers take the highest complete one. A zombie writer
    (or a concurrent committer) that lost the race finds the key
    already present and FAILS here instead of clobbering the winner.
    """
    tmp = path + tmp_suffix
    write_text(tmp, text)
    if not rename_noclobber(tmp, path):
        delete(tmp, recursive=False)
        raise OSError(
            f"commit key {path!r} already exists — lost a commit race "
            "(zombie writer?); this batch will be replayed"
        )
