"""Filesystem abstraction for the maintenance verbs (manifest commit,
compact docmap swap, publish snapshot copy).

The reference's every output op is HDFS-native (SolrRecordWriter.java:104-131
writes through the Hadoop FileSystem API); Spark build/query/merge paths here
already are too (spark.read/write). What remained local-FS-only were the small
coordinator-side ops: JSON checkpoint commits, the compact docmap swap, and
the publish snapshot tree. This module gives them one seam:

- scheme-less paths (``/data/idx``) → plain ``os``/``shutil`` (atomic
  ``os.replace``, hardlink-or-copy trees) — identical behavior to before;
- scheme'd paths (``hdfs://…``, ``s3a://…``, ``file:/…``) → the JVM Hadoop
  ``FileSystem`` resolved from the ACTIVE SparkSession's Hadoop conf, so the
  same credentials/committers Spark uses apply (no pyarrow credential split).

``file:``-scheme URIs deliberately go through the Hadoop path — that is the
test double for HDFS semantics (no symlinks, rename-no-overwrite), per the
Hadoop compatibility contract.

Index reads outside Spark jobs (query, tombstones, doc lengths, compaction,
validation) use pyarrow instead, and ``arrow_fs`` is the one place that turns
an index path into a pyarrow filesystem (README "Storage access").
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import tempfile

_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def has_scheme(path: str) -> bool:
    """True for URI-style paths (hdfs://…, s3a://…, file:/…)."""
    return bool(_SCHEME.match(path))


def local_path(path: str) -> str:
    """Strip a ``file:`` scheme down to a plain OS path (pyarrow and numpy
    consumers want ``/tmp/x``, Spark emits ``file:/tmp/x`` in manifests)."""
    if path.startswith("file:"):
        p = path[5:]
        # file:///x and file:/x both mean /x; file://host/x is not supported
        while p.startswith("//"):
            p = p[1:]
        return p
    return path


@functools.lru_cache(maxsize=None)
def _arrow_root(scheme: str, authority: str, query: str):
    """(pyarrow FileSystem, path inside it) of a URI root, made once per
    process: on ``hdfs://`` each new filesystem is a new connection."""
    import pyarrow.fs as pafs
    return pafs.FileSystem.from_uri(
        f"{scheme}://{authority}/" + (f"?{query}" if query else ""))


def arrow_fs(path: str):
    """(pyarrow FileSystem, path inside it) for a local path or a URI. A
    scheme pyarrow has no filesystem for (e.g. ``s3a://``) raises here.
    URIs under one scheme and authority share one filesystem; the path
    inside it is the root's inner path joined with the URI's path."""
    import pyarrow.fs as pafs
    from urllib.parse import urlsplit
    path = local_path(path)  # Spark emits file:/… URIs pyarrow won't parse
    if not has_scheme(path):
        return pafs.LocalFileSystem(), os.path.abspath(path)
    u = urlsplit(path)
    fs, inner = _arrow_root(u.scheme, u.netloc, u.query)
    if inner and not inner.endswith("/"):
        inner += "/"
    return fs, inner + u.path.lstrip("/")


def data_files(path: str, subdirs: list[str]) -> tuple[str, ...]:
    """Sorted parquet data files directly under each existing `path/<sub>`
    ("" = path itself) — a metadata-only listing, with paths inside
    ``arrow_fs(path)``'s filesystem. Missing directories are skipped (a
    micro-shard without docs has no docmap directory), and so are Spark's
    `_SUCCESS` / `.crc` side files."""
    import pyarrow.fs as pafs
    fs, base = arrow_fs(path)
    dirs = [f"{base.rstrip('/')}/{s}" if s else base for s in subdirs]
    files = []
    for d in fs.get_file_info(dirs):
        if d.type == pafs.FileType.Directory:
            listing = fs.get_file_info(pafs.FileSelector(d.path))
            files += [f.path for f in listing
                      if f.type == pafs.FileType.File
                      and not f.base_name.startswith((".", "_"))]
    return tuple(sorted(files))


def _session():
    """Process-wide SparkSession (thread-safe: getActiveSession is
    thread-local and None in driver worker threads)."""
    from pyspark.sql import SparkSession
    return (SparkSession.getActiveSession()
            or getattr(SparkSession, "_instantiatedSession", None))

def _hadoop_fs(path: str):
    """(FileSystem, Path-class, conf) for a scheme'd path, from the active
    SparkSession's JVM. Maintenance verbs on remote URIs require a session —
    exactly the deployments where one exists. getActiveSession() is
    THREAD-LOCAL, so phases submitted from driver worker threads (e.g. the
    concurrent term-stats job) fall back to the process-wide instantiated
    session."""
    spark = _session()
    if spark is None:
        raise RuntimeError(
            f"path {path!r} has a URI scheme but no active SparkSession to "
            "resolve a Hadoop FileSystem from; start the session first")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath_cls = jvm.org.apache.hadoop.fs.Path
    fs = jpath_cls(path).getFileSystem(conf)
    return fs, jpath_cls, conf


def exists(path: str) -> bool:
    if not has_scheme(path):
        return os.path.exists(path)
    fs, P, _ = _hadoop_fs(path)
    return bool(fs.exists(P(path)))


def mkdirs(path: str) -> None:
    if not has_scheme(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, P, _ = _hadoop_fs(path)
    fs.mkdirs(P(path))


def delete(path: str, *, ignore_missing: bool = False) -> None:
    """Recursive delete (rmtree / FileSystem.delete(recursive=True))."""
    if not has_scheme(path):
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path)
        elif os.path.exists(path) or os.path.islink(path):
            os.unlink(path)
        elif not ignore_missing:
            raise FileNotFoundError(path)
        return
    fs, P, _ = _hadoop_fs(path)
    if not fs.delete(P(path), True):
        # delete() returning false with the path still present is a REAL
        # failure (permissions, lease) — raising regardless of ignore_missing
        # keeps callers from proceeding as if the path were gone;
        # ignore_missing only covers the path-already-absent case.
        if fs.exists(P(path)):
            raise OSError(f"delete failed but path still exists: {path}")
        if not ignore_missing:
            raise FileNotFoundError(path)


def rename(src: str, dst: str) -> None:
    """Rename src → dst; dst must not exist (HDFS rename-no-overwrite
    semantics, enforced on local too so behavior matches)."""
    if not has_scheme(src):
        if os.path.exists(dst):
            raise FileExistsError(dst)
        os.rename(src, dst)
        return
    fs, P, _ = _hadoop_fs(src)
    if not fs.rename(P(src), P(dst)):
        raise OSError(f"rename failed: {src} -> {dst}")


def replace_dir(src: str, dst: str) -> None:
    """Swap a freshly-written dir into place of an existing one.

    Local: rmtree + os.replace (what compact_final always did). Remote:
    delete-then-rename — NOT atomic on HDFS, but compact_final is resumable
    (the _live dir persists until the rename lands and the manifest commit
    is the real serving switch), so a crash in the window re-runs cleanly."""
    if not has_scheme(src):
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.replace(src, dst)
        return
    fs, P, _ = _hadoop_fs(src)
    fs.delete(P(dst), True)
    if not fs.rename(P(src), P(dst)):
        raise OSError(f"rename failed: {src} -> {dst}")


def read_text(path: str) -> str:
    if not has_scheme(path):
        with open(path) as f:
            return f.read()
    jvm = _session()._jvm
    fs, P, _ = _hadoop_fs(path)
    stream = fs.open(P(path))
    try:
        # commons-io ships on Spark's classpath; single JVM-side drain
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text_atomic(path: str, data: str) -> None:
    """Commit a small text file: local = tmp + os.replace (atomic); remote =
    write a sibling tmp file, then FileContext.rename(OVERWRITE) — atomic on
    HDFS (a plain create(overwrite=True) leaves the file visible zero-length
    from create until close, so a concurrent reader could resolve an
    empty/partial pointer). Filesystems without FileContext support fall back
    to delete+rename (small window; readers treat an absent/empty pointer as
    transient)."""
    if not has_scheme(path):
        d = os.path.dirname(path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".fsw.", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(data)
        os.replace(tmp, path)
        return
    fs, P, conf = _hadoop_fs(path)
    tmp = path + ".tmp"
    stream = fs.create(P(tmp), True)
    try:
        stream.write(bytearray(data.encode("utf-8")))
    finally:
        stream.close()
    try:
        spark = _session()
        gw = spark.sparkContext._gateway
        jvm = gw.jvm
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            P(path).toUri(), conf)
        ren = jvm.org.apache.hadoop.fs.Options.Rename
        opts = gw.new_array(ren, 1)
        opts[0] = ren.OVERWRITE
        fc.rename(P(tmp), P(path), opts)
    except Exception:  # noqa: BLE001 — e.g. S3A has no FileContext impl
        fs.delete(P(path), False)
        if not fs.rename(P(tmp), P(path)):
            raise OSError(f"rename failed: {tmp} -> {path}")


def listdir(path: str) -> list[str]:
    """Child names (not paths) of a directory; [] if missing."""
    if not has_scheme(path):
        return sorted(os.listdir(path)) if os.path.isdir(path) else []
    fs, P, _ = _hadoop_fs(path)
    if not fs.exists(P(path)):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(P(path)))


def is_dir(path: str) -> bool:
    if not has_scheme(path):
        return os.path.isdir(path)
    fs, P, _ = _hadoop_fs(path)
    return bool(fs.exists(P(path)) and fs.getFileStatus(P(path)).isDirectory())


def copy_dir(src: str, dst: str) -> None:
    """Recursive copy src → dst (dst created). Local uses hardlink-or-copy
    (cheap snapshots on one device); remote uses Hadoop FileUtil.copy, which
    streams through the same FileSystem credentials as Spark."""
    if not has_scheme(src) and not has_scheme(dst):
        def _link_or_copy(s: str, d: str) -> None:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
        shutil.copytree(src, dst, copy_function=_link_or_copy)
        return
    # Mixed local/remote: qualify the scheme-less side as a file: URI and
    # resolve EACH path's FileSystem from its own URI — resolving both from
    # one side makes FileUtil.copy look up the local path on the remote FS
    # (reference resolves per-path too, TreeMergeOutputFormat.java:205).
    src_uri = src if has_scheme(src) else "file:" + os.path.abspath(src)
    dst_uri = dst if has_scheme(dst) else "file:" + os.path.abspath(dst)
    _, P, conf = _hadoop_fs(src_uri)
    fs_src = P(src_uri).getFileSystem(conf)
    fs_dst = P(dst_uri).getFileSystem(conf)
    jvm = _session()._jvm
    ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs_src, P(src_uri), fs_dst, P(dst_uri), False, False, conf)
    if not ok:
        raise OSError(f"copy failed: {src} -> {dst}")
