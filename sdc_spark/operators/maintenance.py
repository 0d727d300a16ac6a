"""Single-writer mutex for persisted-index maintenance.

Every persisted index in the repo (LSH bands/grams, substring grams,
posting lists, IVF cells) follows the same LSM-ish lifecycle:
``append_*`` lays down new files, ``delete_from_*`` appends to a
tombstone log, ``compact_*`` stages the merged content and REPLACES the
old files. The compact stage-then-replace has a window: an append (or a
tombstone write) that lands after compaction has read the raw files but
before it rewrites them would be silently dropped — the classic
lost-update race of any read-modify-write maintenance job.

``index_lock`` serializes the writers. It is an mkdir-based mutex (the
one primitive that is atomic on POSIX filesystems and HDFS alike) held
for the duration of each maintenance operation. READERS never take it:
serving plans only ever see either the old file set or the new one
(tables are re-registered after the staged content is fully written),
so screens/searches keep running during maintenance.

Scope, stated honestly: this guards the common deployments (single
maintenance host, or a shared POSIX/HDFS filesystem where mkdir is
atomic). On object stores without atomic namespace ops (raw S3),
``mkdir`` is not a mutex — there, run maintenance single-actor (one
scheduled job per index, the usual arrangement) or front it with a real
coordination service; the locking call sites make that swap a
one-function change. Locks are reentrant per (process, index) so a
compaction that internally appends never self-deadlocks; a crashed
holder leaves the lock dir behind — ``break_index_lock`` clears it
(document the operational runbook: break only when no maintenance job
is alive).

The store primitives every catalog-backed family (LSH, substring,
posting) writes through live here too, so a change to how an index is
laid down is a one-module edit:

- ``_save``: plain or bucketed table write (``INDEX_BUCKETS``, the one
  bucket count, repartition-first so a write adds ~one file per bucket);
- ``_replace``: staged replace — materialize with lineage truncation,
  then DROP, delete the files and overwrite under the same spec;
- ``_log`` / ``_log_append``: read a delete-side log (None when empty),
  append to it or create it at its path;
- ``_drop``: drop tables and their files (index drop, log clear);
- ``_families``: kind → (delete, compact), the fan-out table behind
  ``takedown_documents`` and ``compact_indexes``.

IVF cells are plain ``partitionBy("cell")`` parquet outside the catalog
and keep their own writes in ``operators/similarity.py``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time

from sdc_spark.materialize import materialize

_LOCK_DIRNAME = "_maintenance_lock"
# per-root in-process lock (threads of one session race each other too);
# the mkdir dir below excludes OTHER processes
_proc_locks: dict[str, threading.Lock] = {}
_proc_guard = threading.Lock()
_tls = threading.local()  # per-thread reentrancy depths


def _depths() -> dict:
    d = getattr(_tls, "depths", None)
    if d is None:
        d = _tls.depths = {}
    return d


def _lock_path(index_root: str) -> str:
    return os.path.join(index_root, _LOCK_DIRNAME)


@contextlib.contextmanager
def index_lock(index_lock_root: str, timeout: float = 300.0, poll: float = 0.05):
    """Acquire the maintenance mutex for one persisted index (its root
    directory, e.g. ``{path_root}/{name}``). Two layers: a per-root
    in-process ``threading.Lock`` (threads sharing one SparkSession race
    each other exactly like separate jobs do) and the on-disk mkdir dir
    (other processes). Reentrant per thread. Blocks up to ``timeout``
    seconds, then raises TimeoutError — maintenance jobs should fail
    loudly rather than queue unboundedly behind a stuck peer."""
    root = os.path.abspath(index_lock_root)
    depths = _depths()
    if depths.get(root, 0) > 0:  # reentrant within the thread
        depths[root] += 1
        try:
            yield
        finally:
            depths[root] -= 1
        return

    with _proc_guard:
        plock = _proc_locks.setdefault(root, threading.Lock())
    if not plock.acquire(timeout=timeout):
        raise TimeoutError(
            f"index_lock: in-process lock for {root} held past {timeout}s"
        )
    try:
        os.makedirs(root, exist_ok=True)
        lock = _lock_path(root)
        deadline = time.monotonic() + timeout
        while True:
            try:
                os.mkdir(lock)
                break
            except FileExistsError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"index_lock: {lock} held past {timeout}s — another "
                        "maintenance job is running (or crashed; see "
                        "break_index_lock)"
                    )
                time.sleep(poll)
        depths[root] = 1
        try:
            yield
        finally:
            depths[root] = 0
            with contextlib.suppress(OSError):
                os.rmdir(lock)
    finally:
        plock.release()


def break_index_lock(index_root: str) -> None:
    """Operational escape hatch: clear a lock left by a crashed
    maintenance job. Only safe when no maintenance job is alive."""
    with contextlib.suppress(OSError):
        os.rmdir(_lock_path(os.path.abspath(index_root)))


def run_concurrently(*thunks) -> None:
    """Run INDEPENDENT Spark write actions from concurrent driver
    threads (optimization guide §2.6 "overlap independent jobs"): the
    index lifecycle ops below write two tables per operation (LSH bands
    + grams; postings + stats) whose inputs share one already-
    materialized frame, so the second write has no dependency on the
    first — submitted sequentially, each write's commit/catalog latency
    and task tail leaves the executors idle; submitted concurrently,
    the second job's tasks back-fill them. Uses ``InheritableThread`` so
    job group/description thread-locals propagate (the documented
    PySpark way to run driver threads). Exceptions from any thunk are
    re-raised after all threads finish — partial completion is the same
    outcome a sequential failure leaves, and every caller's contract is
    idempotent-rebuild or lock-guarded maintenance."""
    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def wrap(fn):
        def go() -> None:
            try:
                fn()
            except BaseException as e:  # noqa: BLE001  (re-raised below)
                errs.append(e)

        return go

    threads = [InheritableThread(target=wrap(t)) for t in thunks]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        # simultaneous failures must not vanish: chain the extras onto
        # the primary so the traceback shows every concurrent error
        head = errs[0]
        for extra in errs[1:]:
            tail = head
            while tail.__context__ is not None:
                tail = tail.__context__
            tail.__context__ = extra
        raise head


INDEX_BUCKETS = 16  # buckets per bucketed index table; raise with corpus size


def _writer(df, mode: str, keys, path):
    w = df.write.mode(mode)
    if keys:
        w = w.bucketBy(INDEX_BUCKETS, *keys).sortBy(*keys)
    if path is not None:
        w = w.option("path", path)
    return w


def _save(df, table: str, mode: str, keys=(), path: str | None = None) -> None:
    """Write ``df`` as catalog table ``table``. With ``keys`` the table
    is bucketed and sorted on them, and the rows are repartitioned onto
    the same keys first, so each write lays down ~one file per bucket
    instead of tasks x buckets small files. Appends must keep the spec
    of the first write (hence one bucket count): that is what keeps the
    screen joins Exchange-free as the index grows. ``path`` places a new
    table's files; an append goes where the table already lives."""
    if keys:
        df = df.repartition(INDEX_BUCKETS, *keys)
    _writer(df, mode, keys, path).saveAsTable(table)


def _replace(spark, table: str, df, path: str, keys=()) -> None:
    """Atomic-enough replace of one index table (compaction, stats
    rebase, dead-set refresh): the new content is EAGERLY materialized
    with lineage truncation FIRST (a lineage-kept persist would try to
    recompute lost blocks from the files deleted next), then the table
    and its files are replaced under the same spec, so maintenance never
    changes the plan shape consumers rely on.

    Bucketed content must be read from the RAW parquet path, not the
    table: on top of a bucketed scan Catalyst partially elides the
    equal-key repartition, and the staged partitioning — which bounds
    the output at one file per bucket — ends up neither the scan's nor
    the requested one."""
    staged = materialize(
        df.repartition(INDEX_BUCKETS, *keys) if keys else df, truncate=True
    )
    _drop(spark, (table,), path)
    _writer(staged, "overwrite", keys, path).saveAsTable(table)


def _log(spark, table: str):
    """A delete-side log table, or None when nothing is logged."""
    return spark.table(table) if spark.catalog.tableExists(table) else None


def _log_append(spark, df, table: str, path: str) -> None:
    """Append ``df`` to a log table, creating it at ``path`` on first use."""
    if spark.catalog.tableExists(table):
        _save(df, table, "append")
    else:
        _save(df, table, "overwrite", path=path)


def _drop(spark, tables, path: str) -> None:
    """Drop catalog ``tables`` and delete ``path``, the files under them."""
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(path, ignore_errors=True)


def _opts(d: dict, *keys) -> dict:
    return {k: d[k] for k in keys if k in d}


def _families() -> dict:
    """kind → (delete, compact) for the four persisted-index families.
    ``delete(spark, d, docs, ids, id_col, text_col)`` runs the family's
    tombstone delete for descriptor ``d``; ``compact(spark, name, **kw)``
    is the family's compaction."""
    import sdc_spark.operators.dedup as dd
    import sdc_spark.operators.retrieval as rt
    import sdc_spark.operators.similarity as sm

    return {
        "posting": (
            lambda spark, d, docs, ids, id_col, text_col: rt.delete_from_posting_index(
                spark, ids, d["name"], id_col=id_col, **_opts(d, "path_root")
            ),
            rt.compact_posting_index,
        ),
        "lsh": (
            lambda spark, d, docs, ids, id_col, text_col: dd.delete_from_lsh_index(
                spark, ids, d["name"], **_opts(d, "path_root")
            ),
            dd.compact_lsh_index,
        ),
        "ivf": (
            lambda spark, d, docs, ids, id_col, text_col: sm.delete_from_ivf_index(
                spark, ids, d["name"], **_opts(d, "path_root")
            ),
            sm.compact_ivf_index,
        ),
        # the substring family stores no doc ids: it re-grams the text
        "substring": (
            lambda spark, d, docs, ids, id_col, text_col: dd.delete_from_substring_index(
                spark, docs, text_col, id_col, d["name"],
                **_opts(d, "path_root", "min_len"),
            ),
            dd.compact_substring_index,
        ),
    }


def takedown_documents(
    spark,
    removed_docs,
    indexes,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """One takedown request, every persisted index — the compliance
    primitive a long-lived corpus actually needs: a removal request
    names documents once, but the documents' derived state lives in
    FOUR index families (posting lists, LSH bands/grams, IVF cells,
    substring gram counts). This fans a single ``removed_docs`` frame
    across all of them, each as its family's deferred tombstone delete
    (O(|batch|) writes everywhere; physical deletion amortizes into the
    per-index compactions), each under its own maintenance lock.

    ``removed_docs`` must carry ``id_col``; when a substring index is
    listed it must carry ``text_col`` too (that family stores no doc
    ids — removal is count subtraction over the removed text, see
    delete_from_substring_index). For IVF indexes the id column doubles
    as the vector id.

    ``indexes`` is a list of descriptors:
        {"kind": "posting",   "name": n, "path_root": ...}
        {"kind": "lsh",       "name": n, "path_root": ...}
        {"kind": "ivf",       "name": n, "path_root": ...}
        {"kind": "substring", "name": n, "path_root": ..., "min_len": k}
    path_root defaults to each family's default; unknown kinds raise
    BEFORE any delete runs (a compliance batch must be all-or-nothing
    in intent — partial fan-out by typo is the worst failure mode).

    The id frame is materialized once and shared by every delete, so
    the request's lineage (often a join against a takedown queue) runs
    one time, not once per index."""
    families = _families()
    unknown = {d.get("kind") for d in indexes} - set(families)
    if unknown:
        raise ValueError(f"takedown_documents: unknown index kinds {unknown}")
    if any(d.get("kind") == "substring" for d in indexes):
        if text_col not in removed_docs.columns:
            raise ValueError(
                "takedown_documents: a substring index is listed but "
                f"removed_docs has no {text_col!r} column — that family "
                "removes by re-gramming the removed text"
            )
    docs = materialize(removed_docs, truncate=True)
    ids = docs.select(id_col).distinct()
    for d in indexes:
        families[d["kind"]][0](spark, d, docs, ids, id_col, text_col)


_DEFAULT_ROOTS = {
    "posting": "/tmp/sdc_spark_postidx",
    "lsh": "/tmp/sdc_spark_lshidx",
    "ivf": "/tmp/sdc_spark_ivfidx",
    "substring": "/tmp/sdc_spark_subidx",
}


def compact_indexes(spark, indexes, only_if_needed: bool = False):
    """Apply pending tombstones physically across every listed index
    (same descriptors as ``takedown_documents``) — the scheduled
    maintenance half of the LSM contract. Each compaction takes its own
    index lock; a failure in one index does not silently skip the rest
    (exceptions propagate after the loop, first error wins).

    ``only_if_needed=True`` consults ``needs_compaction`` per index
    (descriptors may carry ``max_files_per_bucket`` and
    ``max_log_fraction`` to tune the thresholds; defaults 4.0 / 0.05)
    and skips indexes under both the file-count and tombstone-pressure
    thresholds — the cheap idempotent form a maintenance cron calls
    hourly, paying rewrites only when the LSM decay warrants them."""
    families = _families()
    first_err = None
    for d in indexes:
        kind, name = d["kind"], d["name"]
        if only_if_needed:
            root = d.get("path_root", _DEFAULT_ROOTS.get(kind, "/tmp"))
            if not needs_compaction(
                f"{root}/{name}",
                max_files_per_bucket=float(d.get("max_files_per_bucket", 4.0)),
                max_log_fraction=float(d.get("max_log_fraction", 0.05)),
            ):
                continue
        try:
            if kind not in families:
                raise ValueError(f"compact_indexes: unknown kind {kind!r}")
            families[kind][1](spark, name, **_opts(d, "path_root"))
        except Exception as e:  # noqa: BLE001
            if first_err is None:
                first_err = e
    if first_err is not None:
        raise first_err


_LOG_DIRS = ("tombstones", "dels", "dead", "deldocs")


def index_file_stats(index_root: str) -> dict:
    """Physical-layout stats for one persisted index root: per-subdir
    parquet file count and bytes, split into DATA dirs (bands/grams/
    postings/cells/...) and delete-side LOG dirs. This is the input to
    the compaction decision — the two pressures that decay an LSM-ish
    index are file-count growth (every append adds ~one file per
    bucket: open/footer cost per scan) and tombstone growth (every
    serve pays the anti-join until the log is applied)."""
    import glob as _glob

    root = os.path.abspath(index_root)
    out: dict = {"data": {}, "logs": {}, "data_files": 0, "data_bytes": 0,
                 "log_bytes": 0}
    if not os.path.isdir(root):
        return out
    for sub in sorted(os.listdir(root)):
        if sub == _LOCK_DIRNAME:
            continue
        subp = os.path.join(root, sub)
        if not os.path.isdir(subp):
            continue
        files = _glob.glob(os.path.join(subp, "**", "*.parquet"), recursive=True)
        st = {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}
        if sub in _LOG_DIRS:
            out["logs"][sub] = st
            out["log_bytes"] += st["bytes"]
        else:
            out["data"][sub] = st
            out["data_files"] += st["files"]
            out["data_bytes"] += st["bytes"]
    return out


def needs_compaction(
    index_root: str,
    max_files_per_bucket: float = 4.0,
    max_log_fraction: float = 0.05,
) -> bool:
    """Compaction policy for one index root: True when any data subdir
    holds more than ``max_files_per_bucket`` files per bucket (append
    decay — each append adds ~one file per bucket, so this threshold is
    "~N appends since the last compaction"), or when the delete-log
    bytes exceed ``max_log_fraction`` of the data bytes (tombstone decay
    — the serve-side anti-join cost, and the staleness of physically
    retained deleted rows). Pure filesystem arithmetic; no Spark jobs."""
    st = index_file_stats(index_root)
    for sub in st["data"].values():
        if sub["files"] > max_files_per_bucket * INDEX_BUCKETS:
            return True
    if st["logs"] and st["data_bytes"] > 0:
        if st["log_bytes"] > max_log_fraction * st["data_bytes"]:
            return True
    return False
