"""Sinks with the reference's idempotent-append semantics.

Reference: row-at-a-time INSERT ... ON CONFLICT (id) DO NOTHING
(src/storage/postgres.py:98-124). On Iceberg this is
``MERGE INTO chunks USING new ON chunks.id = new.id WHEN NOT MATCHED THEN
INSERT`` or dedup-then-append; this sandbox has no Iceberg catalog jars, so
the parquet fallback implements the same contract: appending the same batch
twice leaves one copy per id.

Filesystem: every existence probe, rename, delete and marker read/write
in this module goes through the Hadoop FileSystem API on the active
SparkContext's JVM (``_HadoopFS``), so a path means what it means to
Spark's own reader and writer: a URI (``hdfs://``, ``s3a://``,
``file://``, ...) by its scheme, a bare path against ``fs.defaultFS``. On
a cluster whose default filesystem is HDFS, ``/warehouse/out`` is the HDFS
directory Spark wrote, never the driver's local disk, where the probe
would find nothing and the append would overwrite the table. Atomicity
caveat: the swap protocol's crash-window analysis assumes ``rename`` is
atomic — true for local disk and HDFS, FALSE for S3A-style object stores
(rename = copy+delete). On object stores the keyed appends remain
idempotent (the anti-join needs only list+read), but for the
rewrite-minus swap prefer ``iceberg_table=`` — MERGE/DELETE commit via
atomic snapshot instead of renames.

Set semantics: the keys an anti join reads (a table's existing keys, the
ids to delete) are never deduplicated first; only the batch itself is.
"""

from __future__ import annotations

import re
import uuid

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")


def _check_ident(table_ident: str) -> str:
    """Validate a dotted table identifier before interpolating it into SQL
    (MERGE/DELETE below take no bind parameters for table names)."""
    if not _IDENT_RE.match(table_ident):
        raise ValueError(f"invalid table identifier: {table_ident!r}")
    return table_ident


class _HadoopFS:
    """The one filesystem adapter: the Hadoop FileSystem API on the active
    SparkContext's JVM (see the module docstring). ``Path`` and the
    ``FileSystem`` are looked up once per adapter; every operation below
    builds its own adapter, so a conf change (``fs.defaultFS``) takes
    effect on the next call."""

    def __init__(self, path: str):
        sc = SparkContext._active_spark_context
        if sc is None:
            raise RuntimeError(
                f"{path!r}: the sinks need an active SparkContext (the "
                "Hadoop FileSystem rides its JVM)"
            )
        self._jvm = sc._jvm
        # one reflection call by full name; the attribute chain
        # (jvm.org.apache...) makes one per package level
        self._Path = getattr(sc._jvm, "org.apache.hadoop.fs.Path")
        self._fs = self._Path(path).getFileSystem(sc._jsc.hadoopConfiguration())

    def is_dir(self, path: str) -> bool:
        p = self._Path(path)
        return bool(
            self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory()
        )

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def rename(self, src: str, dst: str) -> None:
        # Hadoop rename onto an EXISTING directory moves src INTO it (mv
        # semantics) — the swap protocol only ever renames onto a missing
        # target, so guard and fail loud rather than nest silently. A False
        # return (src missing, cross-FS, ...) is likewise an error: every
        # caller relies on the rename having happened.
        d = self._Path(dst)
        if self._fs.exists(d):
            raise OSError(f"rename target already exists: {dst}")
        try:
            ok = self._fs.rename(self._Path(src), d)
        except Exception as ex:  # some FS impls throw instead of False
            raise OSError(f"hadoop rename failed: {src} -> {dst}") from ex
        if not ok:
            raise OSError(f"hadoop rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        self._fs.delete(self._Path(path), True)  # recursive; no-op if gone

    def has_parquet_files(self, path: str) -> bool:
        # what Spark's reader lists: below the root, no "." or "_" names
        # (bar "_k=v" dirs); stop at the first .parquet file
        todo = [self._Path(path)] if self.is_dir(path) else []
        while todo:
            for st in self._fs.listStatus(todo.pop()):
                name = st.getPath().getName()
                if name[0] == "." or (name[0] == "_" and "=" not in name):
                    continue
                if st.isDirectory():
                    todo.append(st.getPath())
                elif name.endswith(".parquet"):
                    return True
        return False

    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            while True:
                line = reader.readLine()
                if line is None:
                    break
                lines.append(line)
            return "\n".join(lines)
        finally:
            stream.close()


def marker_read(path: str) -> str | None:
    """Read a small marker file; None when absent."""
    fs = _HadoopFS(path)
    return fs.read_text(path) if fs.exists(path) else None


def marker_write(path: str, text: str = "") -> None:
    """Write (overwrite) a small marker file."""
    _HadoopFS(path).write_text(path, text)


def marker_remove(path: str) -> None:
    """Remove a marker file if present."""
    fs = _HadoopFS(path)
    if fs.exists(path):
        fs.delete(path)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg Spark catalog can actually serve SQL — the
    runtime jars are on the classpath. The sandbox has none, so every
    Iceberg branch below degrades to the parquet protocol; on a real
    cluster (`--packages org.apache.iceberg:iceberg-spark-runtime-...` +
    `spark.sql.catalog.<name>` conf) the same calls go through MERGE/DELETE
    with zero code changes."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _merge_not_matched(
    spark: SparkSession, df: DataFrame, table_ident: str, keys: list[str]
) -> None:
    """Iceberg idempotent append: ``MERGE INTO ... WHEN NOT MATCHED THEN
    INSERT *`` — the exact reference contract (ON CONFLICT DO NOTHING,
    src/storage/postgres.py:98-124) as one atomic snapshot commit."""
    # unique per-call view: two concurrent appends in one SparkSession must
    # not clobber each other's source between view creation and the MERGE
    view = f"_idem_src_{uuid.uuid4().hex}"
    df.dropDuplicates(keys).createOrReplaceTempView(view)
    try:
        on = " and ".join(f"t.{k} = s.{k}" for k in keys)
        spark.sql(
            f"merge into {_check_ident(table_ident)} t using {view} s on {on} "
            "when not matched then insert *"
        )
    finally:
        spark.catalog.dropTempView(view)


def idempotent_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str | list[str] = "id",
    iceberg_table: str | None = None,
) -> None:
    """Append rows whose key (single column or composite) is not already
    present — exactly-once per key even across batch replays.

    ``iceberg_table``: when set AND the Iceberg runtime is on the classpath,
    the append is a real ``MERGE INTO ... WHEN NOT MATCHED THEN INSERT``
    against that table (atomic snapshot commit, the plan Iceberg executes
    for NOT MATCHED is the same anti-join); otherwise the parquet fallback
    below implements the identical contract.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if iceberg_table and iceberg_available(spark):
        _merge_not_matched(spark, df, iceberg_table, keys)
        return
    new = df.dropDuplicates(keys)
    if has_table(path):
        new = new.join(spark.read.parquet(path).select(*keys), keys, "left_anti")
        new.write.mode("append").parquet(path)
    else:
        new.write.mode("overwrite").parquet(path)


def has_table(path: str) -> bool:
    """Heal any interrupted swap at ``path``, then report whether it holds
    a parquet file Spark would read — data files, NOT the _SUCCESS marker:
    a partially-committed or foreign-written target is still a table."""
    _recover_swap(path)
    return _HadoopFS(path).has_parquet_files(path)


def truncate(path: str) -> None:
    """Reference reset_collection (src/storage/postgres.py:364-372)."""
    _HadoopFS(path).delete(path)


def _recover_swap(path: str) -> None:
    """Heal an interrupted swap (see replace for the protocol).
    Every step of the swap is one rename (atomic on local disk and HDFS; see
    the module docstring for object stores), so the crash windows are:

    - ``.old`` exists, target missing: crashed between rename(path→old) and
      rename(tmp→path). If the tmp is a COMPLETE write (_SUCCESS), the swap
      is finished by adopting it; otherwise the old target is restored
      (the delete simply never happened). Either way ``.old`` is removed.
    - ``.old`` exists, target exists: the swap completed; the crash hit the
      final cleanup rmtree. Finish the cleanup and drop any stale tmp.
    - no ``.old``, target exists, tmp exists: the swap never STARTED (the
      first rename is atomic), so the target is intact and the tmp is a
      stale abandoned rewrite — discard it.
    - no ``.old``, target missing, complete tmp: first-ever write crashed
      between tmp completion and swap start with nothing to back up — adopt.
    """
    fs = _HadoopFS(path)
    tmp = path + ".tmp"
    old = path + ".old"
    if fs.is_dir(old):
        if not fs.is_dir(path):
            if fs.exists(tmp + "/_SUCCESS"):
                fs.rename(tmp, path)
            else:
                fs.delete(tmp)
                fs.rename(old, path)
                return
        fs.delete(old)
    if not fs.is_dir(tmp):
        return
    if not fs.is_dir(path) and fs.exists(tmp + "/_SUCCESS"):
        fs.rename(tmp, path)
    else:
        fs.delete(tmp)


def replace(df: DataFrame, path: str, files: dict[str, str] | None = None) -> None:
    """Replace the table at ``path`` with ``df``, atomically: heal any
    earlier crash, write ``path.tmp`` plus the small ``files`` ({name:
    text}) inside it, so one rename publishes both, then rename
    path→path.old, tmp→path and delete ``.old``. Each step is one atomic
    rename, so no crash can discard the only complete copy (the next entry
    heals it, _recover_swap); mode('overwrite') would delete the target
    before writing. Object stores (S3A) lack atomic rename: prefer the
    Iceberg path there (module docstring)."""
    _recover_swap(path)
    tmp, old = path + ".tmp", path + ".old"
    df.write.mode("overwrite").parquet(tmp)
    for name, text in (files or {}).items():
        marker_write(f"{tmp}/{name}", text)
    fs = _HadoopFS(path)
    if fs.is_dir(path):
        fs.rename(path, old)
    fs.rename(tmp, path)
    fs.delete(old)


def delete_docs(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    iceberg_table: str | None = None,
) -> None:
    """Delete all rows whose doc_id appears in ``doc_ids`` (a one-column
    DataFrame) — the row-replacement step of modified-doc re-ingest (E17):
    without it, the keyed idempotent appends would keep the STALE rows and
    drop the re-extracted ones. With ``iceberg_table`` + runtime jars this
    is a real ``DELETE FROM t WHERE doc_id IN (...)`` (atomic snapshot,
    row-level delete files); the parquet fallback is a rewrite-minus
    through ``replace`` (anti-join, write tmp, atomic-rename swap — with
    crash recovery on every entry)."""
    if iceberg_table and iceberg_available(spark):
        view = f"_del_ids_{uuid.uuid4().hex}"
        doc_ids.select("doc_id").createOrReplaceTempView(view)
        try:
            spark.sql(
                f"delete from {_check_ident(iceberg_table)} "
                f"where doc_id in (select doc_id from {view})"
            )
        finally:
            spark.catalog.dropTempView(view)
        return
    if not has_table(path):
        return
    remaining = spark.read.parquet(path).join(
        F.broadcast(doc_ids.select("doc_id")), "doc_id", "left_anti"
    )
    replace(remaining, path)
