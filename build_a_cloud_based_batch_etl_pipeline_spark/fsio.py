"""Thin Hadoop FileSystem wrapper for driver-side filesystem control.

Every maintenance/artifact path in the engine (Z-order re-clustering,
persisted index artifacts, touched-partition checks, the streaming
maintainers' checkpoint-lineage reads and epoch watermarks, retention
sweeps) needs a handful of filesystem primitives: list, exists, rename,
recursive delete, tiny marker-file reads/writes, parquet footer row
counts. os/shutil would be correct on the local FS the tests run on,
but a dead end on the object-store URIs (`gs://`, `s3a://`) the 100-TB
deployment would use. This module routes them all — `streaming/` and
`ingest.py` have no other filesystem access — through the same
`org.apache.hadoop.fs.FileSystem` handles that sinks.swap_dir /
publish_version use directly, so one code path serves `file:` and
object-store schemes alike.

Semantics notes (they differ from os/shutil and the code here papers
over the differences explicitly):

- `FileSystem.rename(src, dst)` with an EXISTING directory dst moves
  src INSIDE dst (HDFS semantics), unlike os.rename which raises —
  callers that need no-replace publication must check-then-verify
  (see `rename_no_nest`).
- rename/delete signal failure by returning false, not raising; every
  call here is checked (the `_must` discipline of sinks.swap_dir).
- There is no atomic-rename guarantee on object stores; callers that
  need a commit point should flip a pointer file instead
  (sinks.publish_version) — rename here is still the right primitive
  for staging/park moves because recovery logic tolerates either side
  surviving a crash.

Reference: the reference has no filesystem layer at all — GCS and
BigQuery manage storage (src/load/main.py:40, SURVEY.md §4.1).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class FsEntry:
    """One directory entry: name (last path component), size in bytes
    (0 for dirs), is_dir, modification time in epoch seconds."""

    __slots__ = ("name", "size", "is_dir", "mtime")

    def __init__(self, name: str, size: int, is_dir: bool, mtime: float):
        self.name = name
        self.size = size
        self.is_dir = is_dir
        self.mtime = mtime


class Fs:
    """Hadoop FileSystem handle bound to one URI's scheme+authority.

    All paths passed to methods must resolve to the same FileSystem
    (same scheme) as the anchor URI the handle was built from — which
    is how every caller uses it (operations within one table/artifact
    root)."""

    def __init__(self, spark: SparkSession, anchor: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(anchor).getFileSystem(self._conf)

    def _path(self, uri: str):
        return self._jvm.org.apache.hadoop.fs.Path(uri)

    @staticmethod
    def _must(ok: bool, action: str) -> None:
        # Hadoop rename/delete signal failure by returning false.
        if not ok:
            raise IOError(f"fs: {action} failed")

    # -- predicates ----------------------------------------------------
    def exists(self, uri: str) -> bool:
        return self._fs.exists(self._path(uri))

    def is_dir(self, uri: str) -> bool:
        p = self._path(uri)
        return self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory()

    def is_file(self, uri: str) -> bool:
        p = self._path(uri)
        return self._fs.exists(p) and self._fs.getFileStatus(p).isFile()

    # -- listing -------------------------------------------------------
    def list_entries(self, uri: str) -> list[FsEntry]:
        """Immediate children as FsEntry, sorted by name. Missing dir
        raises (matching os.listdir) so callers never mistake a vanished
        table for an empty one."""
        p = self._path(uri)
        if not self._fs.exists(p):
            raise FileNotFoundError(uri)
        out = [
            FsEntry(
                st.getPath().getName(),
                int(st.getLen()),
                bool(st.isDirectory()),
                st.getModificationTime() / 1000.0,
            )
            for st in self._fs.listStatus(p)
        ]
        out.sort(key=lambda e: e.name)
        return out

    def listdir(self, uri: str) -> list[str]:
        return [e.name for e in self.list_entries(uri)]

    def newest_mtime(self, uri: str) -> float:
        """Newest modification time (epoch seconds) anywhere under
        `uri` — root, subdirectories, and files. Used for abandoned-tmp
        reaping: writes into subdirectories don't touch the root's
        mtime (ADVICE r10), so freshness must be the recursive max.
        One listFiles stream for the files plus a shallow walk for
        dir mtimes."""
        p = self._path(uri)
        newest = self._fs.getFileStatus(p).getModificationTime() / 1000.0
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            newest = max(newest, it.next().getModificationTime() / 1000.0)
        stack = [p]
        while stack:
            cur = stack.pop()
            for st in self._fs.listStatus(cur):
                if st.isDirectory():
                    newest = max(
                        newest, st.getModificationTime() / 1000.0
                    )
                    stack.append(st.getPath())
        return newest

    def walk_files(self, uri: str) -> list[tuple[str, int, float]]:
        """All FILES under `uri`, recursively, as (path relative to uri,
        size, mtime epoch seconds), sorted by relative path. One
        listFiles stream — the Hadoop-scheme twin of os.walk for
        fingerprinting and footer-count guards."""
        p = self._path(uri)
        # resolve to the same canonical string the statuses use, so the
        # relative-path strip is exact regardless of how the caller
        # spelled the URI (trailing slash, implicit scheme)
        base = self._fs.getFileStatus(p).getPath().toString().rstrip("/")
        out = []
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            full = st.getPath().toString()
            rel = full[len(base) + 1 :] if full.startswith(base + "/") else full
            out.append(
                (rel, int(st.getLen()), st.getModificationTime() / 1000.0)
            )
        out.sort(key=lambda e: e[0])
        return out

    # -- mutation ------------------------------------------------------
    def mkdirs(self, uri: str) -> None:
        self._must(self._fs.mkdirs(self._path(uri)), f"mkdirs {uri}")

    def rename(self, src: str, dst: str) -> None:
        self._must(
            self._fs.rename(self._path(src), self._path(dst)),
            f"rename {src} -> {dst}",
        )

    def rename_no_nest(self, src: str, dst: str) -> bool:
        """Publish `src` at `dst`, refusing the HDFS move-inside
        surprise: if dst already exists, Hadoop rename would nest src
        UNDER it. Returns True when src now lives at dst, False when a
        concurrent publisher won (dst existed; src is deleted). The
        exists-check/rename race is closed post-hoc: if the rename
        nested (dst/<basename(src)> appeared), the nested stray is
        deleted and the winner's dst is served."""
        sp, dp = self._path(src), self._path(dst)
        if self._fs.exists(dp):
            self._must(self._fs.delete(sp, True), f"drop losing {src}")
            return False
        self._must(self._fs.rename(sp, dp), f"rename {src} -> {dst}")
        nested = self._jvm.org.apache.hadoop.fs.Path(dp, sp.getName())
        if self._fs.exists(nested):
            # dst appeared between the check and the rename; our dir
            # nested inside the winner's — remove the stray.
            self._must(
                self._fs.delete(nested, True), f"drop nested {src}"
            )
            return False
        return True

    def delete(self, uri: str, ignore_missing: bool = True) -> None:
        p = self._path(uri)
        if not self._fs.exists(p):
            if ignore_missing:
                return
            raise FileNotFoundError(uri)
        self._must(self._fs.delete(p, True), f"delete {uri}")

    # -- tiny files ----------------------------------------------------
    def read_text(self, uri: str, max_bytes: int = 4096) -> str:
        """Contents of a small text file (markers, fingerprints) in ONE
        JVM round trip: commons-io drains the stream JVM-side and py4j
        hands the byte[] back as python bytes (VERDICT r13 item 3 — the
        old byte-at-a-time loop paid one py4j round trip PER BYTE,
        ~4096 calls for a 4 KB marker). max_bytes bounds the READ
        itself via BoundedInputStream (ADVICE r14: an unbounded
        toByteArray materialized the whole file in the JVM when a
        mispointed call hit a large file — the cap no longer bounded
        memory or transfer); every caller reads <=4 KB control files.
        A cap landing mid-multi-byte-char drops the incomplete tail
        instead of raising (truncation is already lossy by intent);
        corruption anywhere else still raises."""
        ins = self._fs.open(self._path(uri))
        try:
            bounded = self._jvm.org.apache.commons.io.input.BoundedInputStream(
                ins, max_bytes
            )
            data = bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(bounded)
            )
        finally:
            ins.close()
        try:
            return data.decode("utf-8")
        except UnicodeDecodeError as e:
            if len(data) == max_bytes and e.reason == "unexpected end of data":
                return data[: e.start].decode("utf-8")
            raise

    def write_text(self, uri: str, text: str) -> None:
        out = self._fs.create(self._path(uri), True)
        try:
            out.write(text.encode("utf-8"))
        finally:
            out.close()

    # -- parquet footers -----------------------------------------------
    def parquet_row_count(self, file_uri: str) -> int:
        """Row count from one parquet file's footer via the
        parquet-hadoop reader Spark ships — no Spark job, and unlike a
        pyarrow read it works on any Hadoop scheme."""
        jpq = self._jvm.org.apache.parquet.hadoop
        reader = jpq.ParquetFileReader.open(
            jpq.util.HadoopInputFile.fromPath(
                self._path(file_uri), self._conf
            )
        )
        try:
            return int(reader.getRecordCount())
        finally:
            reader.close()


def child(uri: str, *names: str) -> str:
    """URI-safe path join: Hadoop paths always use '/' regardless of
    scheme or host OS."""
    base = uri.rstrip("/")
    for n in names:
        base = f"{base}/{n}"
    return base
