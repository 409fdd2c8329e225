"""Driver-side filesystem helpers over Spark's Hadoop FileSystem API.

Every index layout in this package persists small driver-side state next
to its parquet data — `_ivf_meta.json` / `_lsh_meta.json` /
`_inverted_meta.json` handles, hypertable `meta.json`, streaming commit
markers, rollup schema files, serving manifests, tombstone-presence
probes. Doing that IO with `open()` / `os.path` works only on the local
filesystem: a layout on `s3://`, `hdfs://`, `abfs://` (or even a
`file://` URI) would crash on the meta write — or worse, silently treat
an existing tombstone table as absent and resurrect deleted rows
(the advisor's round-6 `os.path.isdir` routing finding, generalized).

These helpers go through the SAME Hadoop `FileSystem` every
`spark.read`/`spark.write` call already resolves, so layout metadata
lives wherever the layout's parquet lives, on any scheme the cluster's
Hadoop conf supports. Plain local paths behave exactly as before
(Hadoop's default fs is `file:`). All of this is small driver-side
metadata IO — a few JVM round-trips per layout operation, noise next to
the Spark jobs it brackets; nothing here ever touches the executor data
path.

Atomicity note (same contract as index/manifest.py): `atomic_write_text`
is write-temp-then-rename. POSIX and HDFS renames are atomic; Hadoop's
local/HDFS `rename` refuses to clobber an existing destination, so the
overwrite case moves the current file aside first and restores it if the
publish rename fails — no failure path loses both the old and the new
content (the temp file always survives a failed publish). A crash
between the aside-move and the rename leaves the destination momentarily
absent but both versions on disk. Object stores want the
conditional-PUT variant instead; single-writer-per-name callers (the
package-wide convention) never observe a half-written file either way.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(path: str, spark: SparkSession | None = None):
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "fsio requires an active SparkSession (the Hadoop conf that "
            "resolves the filesystem scheme lives on it)"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    # Path.getFileSystem returns the JVM-wide CACHED instance for the
    # scheme — the same object Spark's own driver-side IO uses. Never
    # mutate it (setWriteChecksum/setVerifyChecksum here would disable
    # corruption detection process-wide, not just for these small meta
    # files). The .crc sidecars Hadoop's checksummed LocalFileSystem
    # writes next to meta files are harmless: listStatus filters them,
    # rename/delete move them with their file.
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(path: str, spark: SparkSession | None = None) -> bool:
    fs, jpath, _ = _fs(path, spark)
    return bool(fs.exists(jpath))


def is_dir(path: str, spark: SparkSession | None = None) -> bool:
    fs, jpath, _ = _fs(path, spark)
    return bool(fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory())


def read_text(path: str, spark: SparkSession | None = None) -> str:
    fs, jpath, jvm = _fs(path, spark)
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_text(path: str, text: str, spark: SparkSession | None = None) -> None:
    """Create-or-overwrite `path` with `text` (UTF-8)."""
    fs, jpath, _ = _fs(path, spark)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def atomic_write_text(
    path: str, text: str, spark: SparkSession | None = None
) -> None:
    """Write-temp-then-rename publish (see module docstring for the
    per-store atomicity contract). The temp lives in the destination's
    directory so the rename never crosses filesystems."""
    import uuid

    fs, jpath, jvm = _fs(path, spark)
    parent, name = jpath.getParent(), jpath.getName()
    fs.mkdirs(parent)
    tmp = jvm.org.apache.hadoop.fs.Path(
        parent, f".{name}.tmp-{uuid.uuid4().hex[:12]}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.rename(tmp, jpath):
        return
    # Hadoop rename refuses to clobber (local/HDFS). Move the current
    # file ASIDE rather than deleting it, publish, then drop the old
    # version — so no failure path ever loses BOTH versions: if the
    # publish rename fails the old file is restored and the temp file
    # (the new content) is left in place for recovery.
    aside = jvm.org.apache.hadoop.fs.Path(
        parent, f".{name}.old-{uuid.uuid4().hex[:12]}"
    )
    if not fs.rename(jpath, aside):
        raise IOError(
            f"rename {tmp} -> {jpath} failed and the destination could "
            f"not be moved aside; new content preserved at {tmp}"
        )
    if fs.rename(tmp, jpath):
        fs.delete(aside, False)
        return
    fs.rename(aside, jpath)  # restore the previous version
    raise IOError(
        f"rename {tmp} -> {jpath} failed; previous version restored, "
        f"new content preserved at {tmp}"
    )


def touch(path: str, spark: SparkSession | None = None) -> None:
    write_text(path, "", spark)


def mkdirs(path: str, spark: SparkSession | None = None) -> None:
    fs, jpath, _ = _fs(path, spark)
    fs.mkdirs(jpath)


def delete(
    path: str, recursive: bool = True, spark: SparkSession | None = None
) -> bool:
    """Delete a file or directory tree. Returns True if something was
    removed (absent paths are a no-op, like `rm -rf`)."""
    fs, jpath, _ = _fs(path, spark)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, recursive))


def canonical_token(path: str) -> str:
    """Stable 16-hex token for a checkpoint/layout path, shared by every
    marker-namespace derivation (streaming ingest sinks, rollup) so the
    convention can't drift between sinks: a drift would orphan
    pre-existing `_committed_batches` namespaces and re-append
    re-delivered batches. URI paths (`scheme://...`) are already
    canonical; schemeless local paths get `os.path.abspath` so relative
    and absolute spellings of the same checkpoint share one namespace."""
    import hashlib
    import os

    p = path if "://" in path else os.path.abspath(path)
    return hashlib.sha256(p.encode()).hexdigest()[:16]


def list_names(path: str, spark: SparkSession | None = None) -> list[str]:
    """Child names under a directory (empty for an absent path). Hidden
    entries (`.`/`_` prefixes — Hadoop CRC sidecars, Spark markers) are
    NOT filtered; callers match the names they care about, exactly as
    the previous os.listdir sites did."""
    fs, jpath, _ = _fs(path, spark)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


#: Hadoop glob metacharacters (``org.apache.hadoop.fs.GlobPattern``);
#: a backslash makes the next character literal.
_GLOB_SPECIAL = frozenset("\\*?[]{},")


def glob_escape(path: str) -> str:
    """``path`` as a Hadoop glob pattern that matches only itself.
    ``spark.read`` globs every path it is given, so a path built from a
    root that may hold metacharacters goes through this first."""
    return "".join("\\" + c if c in _GLOB_SPECIAL else c for c in path)


def existing_children(
    path: str, names, spark: SparkSession | None = None
) -> list[str]:
    """The entries of ``names`` that exist directly under ``path``,
    sorted (empty for an absent path). One Hadoop ``globStatus`` of
    ``path/{n1,n2,…}`` (``path`` and the names escaped, so they match
    literally) lists ``path`` inside the JVM and returns the matches:
    the py4j cost is a few calls whatever the number of entries or
    names, plus three per match only when some name is missing."""
    names = sorted(set(names))
    if not names:
        return []
    pattern = f"{glob_escape(path)}/{{{','.join(map(glob_escape, names))}}}"
    fs, jpattern, _ = _fs(pattern, spark)
    found = fs.globStatus(jpattern)
    if found is None:  # absent parent
        return []
    if len(found) == len(names):  # distinct names, one match each
        return names
    got = {st.getPath().getName() for st in found}
    return [n for n in names if n in got]
