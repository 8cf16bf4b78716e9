"""Hadoop-FileSystem helpers for checkpoint/store bookkeeping.

Every path that a 100 TB deployment would put on ``hdfs://`` / ``s3a://``
(CC iteration snapshots, signature stores, metrics sidecars) must be
probed/listed/deleted through the Hadoop FileSystem of the path's OWN
scheme — driver-local ``os.path`` silently reports "absent" for remote
URIs, which turns resume into restart-from-scratch and retention into a
no-op exactly at the scale those features exist for. These wrappers go
through the JVM ``FileSystem`` API, so they work identically for bare
local paths, ``file://`` URIs, and remote stores.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return bool(fs.exists(hpath))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Basenames of the children of ``path`` ([] when it doesn't exist)."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]

def list_status(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(basename, modification-time-millis) of the children of ``path``
    ([] when it doesn't exist) — for retention policies that need an
    age order over opaquely-named dirs (e.g. assignment_<uuid>)."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [
        (st.getPath().getName(), int(st.getModificationTime()))
        for st in fs.listStatus(hpath)
    ]


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return bool(fs.delete(hpath, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """FileSystem.rename: atomic on HDFS/local, REFUSES an existing
    destination (returns False) — the property the versioned-store
    publish relies on to serialize concurrent writers. A MISSING source
    is normalized to False too: HDFS already returns false for it, but
    the local FS throws FileNotFoundException — callers need one
    contract to branch on (claim_versioned_dir turns it into a loud
    IOError after confirming the source is really gone)."""
    fs, hsrc, jvm = _fs(spark, src)
    try:
        return bool(fs.rename(hsrc, jvm.org.apache.hadoop.fs.Path(dst)))
    except Exception as e:
        jexc = getattr(e, "java_exception", None)
        if jexc is not None and "FileNotFoundException" in jexc.getClass().getName():
            return False
        raise


def read_text(spark: SparkSession, path: str) -> str:
    fs, hpath, jvm = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite ``path`` with ``text`` (parent dirs made)."""
    fs, hpath, _ = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def claim_versioned_dir(
    spark: SparkSession, tmp: str, parent: str, prefix: str
) -> str:
    """Atomically publish the directory at ``tmp`` as the next free
    ``{parent}/{prefix}_NNNN`` and return that path.

    Hadoop ``FileSystem.rename`` semantics make the naive
    probe-then-rename loop unsafe for DIRECTORIES: renaming onto a
    destination dir that appeared concurrently does NOT fail — it moves
    the source INSIDE the destination and returns True (verified on the
    local FS), so a losing racer would "succeed" while its data sits
    nested and invisible. After every rename this helper therefore
    checks for its own basename nested under the target; if found, the
    claim was lost — the nested dir becomes the new source and the next
    index is tried. File-onto-file renames (manifests) don't need this:
    those DO refuse an existing destination."""
    src = tmp
    base = tmp.rstrip("/").rsplit("/", 1)[-1]
    # seed the probe past the existing max index: starting at 0 would
    # cost O(existing versions) exists() round-trips per publish (each a
    # namenode RPC / S3 HEAD) — O(V^2) cumulative over a long-lived
    # store dir. One listing replaces them; the loop below still owns
    # race recovery (a concurrent claimer landing on the same seeded
    # index is detected exactly as before).
    taken = [
        int(name[len(prefix) + 1 :])
        for name in list_names(spark, parent)
        if name.startswith(f"{prefix}_") and name[len(prefix) + 1 :].isdigit()
    ]
    n = max(taken) + 1 if taken else 0
    while True:
        target = f"{parent}/{prefix}_{n:04d}"
        if not exists(spark, target):
            if rename(spark, src, target):
                nested = f"{target}/{base}"
                if not exists(spark, nested):
                    return target
                src = nested  # lost the race: our dir was nested, re-claim
            elif not exists(spark, src):
                # rename returned False AND the source is gone: nothing
                # left to publish — surface it rather than returning a
                # target path that holds none of our data
                raise IOError(
                    f"claim_versioned_dir: source {src} disappeared while "
                    f"claiming {target}"
                )
            # else: rename refused (e.g. target appeared as a FILE in
            # the probe window, or a transient store error) — src is
            # intact, try the next index
        n += 1


def append_line(spark: SparkSession, path: str, line: str) -> None:
    """Append one line to a (small) metrics/log file. Prefers native
    ``FileSystem.append`` (HDFS); where that is unsupported (s3a,
    checksummed local FS) it falls back to read + write-to-temp +
    delete + rename — never a truncate-in-place of the only copy, so a
    crash mid-append leaves the history either at ``path`` (crash
    before the delete) or complete at the temp (crash before the
    rename), instead of destroyed. Fine for the advisory jsonl
    sidecars it serves (a few hundred bytes, one writer)."""
    fs, hpath, _ = _fs(spark, path)
    if fs.exists(hpath):
        try:
            out = fs.append(hpath)
        except Exception:  # UnsupportedOperationException and kin
            out = None
        if out is not None:
            try:
                out.write(bytearray((line + "\n").encode("utf-8")))
            finally:
                out.close()
            return
        import uuid as _uuid

        prev = read_text(spark, path)
        # UNIQUE temp name: a fixed one would let the next append
        # overwrite the stranded only-copy left by a crash between the
        # delete and the rename — exactly the history loss the
        # temp+rename dance exists to prevent
        tmp = f"{path}.tmp-append-{_uuid.uuid4().hex}"
        write_text(spark, tmp, prev + line + "\n")
        fs.delete(hpath, False)
        if not rename(spark, tmp, path):
            raise IOError(
                f"append_line: publishing {tmp} -> {path} failed "
                f"(destination reappeared?); history preserved at {tmp}"
            )
        return
    write_text(spark, path, line + "\n")
