"""MERGE / upsert for parquet-backed warehouse tables.

The reference platform stores its warehouse on plain object storage
(MinIO ``datahouse/`` folder, ``internal/controller/minio.go:72-121``)
with metastore-registered tables — a format with no row-level update
primitive. The engine-side answer every lakehouse uses on such tables
is the SNAPSHOT REWRITE merge: compute the merged relation
declaratively, write it out atomically, swap. This module implements
that as

- :func:`merge_upsert` — the pure relational MERGE (composable,
  side-effect-free, what the registered query verifies), and
- :func:`merge_into_table` — the catalog operation (stage + swap, so
  readers never observe a half-written table and the source table is
  never overwritten while being read), and
- :func:`delete_where` / :func:`update_where` — row-level DELETE and
  UPDATE; the table's declared partitioning picks the rewrite scope
  (whole snapshot through the same swap, or only the partitions
  holding matched rows). No write here changes a table's partitioning.

Scale design: the merge itself is one equi-join on the key columns —
hash-partitionable, AQE decides broadcast vs shuffle (updates batches
are usually dimension-sized → broadcast anti-join at scan speed over
the base). Nothing collects; the stage-and-swap writes with the
input's parallelism. At 100 TB the base-side scan is the cost floor,
exactly as in Delta/Iceberg's copy-on-write merge; partition-pruned
merges (updates touching few partitions) compose by pre-filtering
``base`` before calling in, same as their file-pruning step.
"""

from __future__ import annotations

import functools
import operator
import random
import re
import time
import uuid
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException


_WHEN_MATCHED = ("update", "ignore", "delete")


class MergeConflictError(RuntimeError):
    """Raised when a versioned merge loses the head-version
    compare-and-swap more times than ``max_retries`` allows."""


def _is_retryable_race(exc: AnalysisException, allow_exists: bool = False) -> bool:
    """True iff ``exc`` is the signature of a concurrent writer's
    rename window — a missing live table (or, for the archive-rename
    CAS, a taken destination) — as opposed to a permanent analysis
    error (unknown column, bad location, …) that retrying can never
    fix."""
    cls = getattr(exc, "getErrorClass", lambda: None)() or ""
    msg = str(exc)
    if "TABLE_OR_VIEW_NOT_FOUND" in cls or "TABLE_OR_VIEW_NOT_FOUND" in msg:
        return True
    if allow_exists and (
        "ALREADY_EXISTS" in cls or "already exists" in msg.lower()
    ):
        return True
    return False


def _is_concurrent_scan_race(exc: BaseException) -> bool:
    """True iff ``exc`` is the EXECUTOR-side signature of a concurrent
    writer's rename: ``ALTER TABLE RENAME`` on a managed table MOVES
    its directory, so a scan that resolved the old file list mid-read
    dies with FileNotFoundException (Spark 4 error class
    FAILED_READ_FILE.FILE_NOT_EXIST) rather than an AnalysisException.
    Same race as a missing table name, one phase later — safe to
    re-read and retry."""
    s = str(exc)
    return "FileNotFoundException" in s or "FILE_NOT_EXIST" in s


#: Extraction is ANCHORED to the FileNotFound clause itself — the
#: message can carry OTHER stable paths first (table root in a
#: location clause, warehouse dir), and taking the first path-like
#: match made two genuinely distinct rename races extract the same
#: prefix path, escalating a retryable race into a hard raise
#: (r11 ADVICE finding). Patterns cover the two real signatures:
#: Spark 4's FAILED_READ_FILE ("Encountered error while reading file
#: <p>.") and java.io FileNotFoundException ("File <p> does not
#: exist" / "File not found: <p>").
_FNF_ANCHORED = (
    re.compile(r"while reading file\s+(?:file:)?(/[^\s'\"]+?)\.?(?:\s|$)"),
    re.compile(r"FileNotFoundException:\s*(?:File\s+)?(?:file:)?(/[^\s'\"]+?)\.?(?:\s|$)"),
    re.compile(r"(?:file:)?(/[^\s'\"]+?)\s+does not exist"),
    re.compile(r"File not found:?\s*(?:file:)?(/[^\s'\"]+?)\.?(?:\s|$)"),
)


def _missing_path(exc: BaseException) -> str | None:
    """The missing file path named by a FileNotFound-style error, or
    None. Used to tell a rename RACE from PERMANENT damage: a racing
    publish replaces the listing, so after REFRESH a retry fails (if
    at all) on a DIFFERENT path — the SAME path missing twice in a
    row means the file is gone for good (deleted out-of-band), and
    re-running the full staged merge max_retries more times would
    burn compute and then misreport the cause as a CAS conflict
    (r11 review finding). Returns None when no ANCHORED clause
    matches — unextractable messages stay on the retry path (bounded
    by max_retries) rather than risking a false same-path
    escalation."""
    msg = str(exc)
    for pat in _FNF_ANCHORED:
        m = pat.search(msg)
        if m:
            # normalize file:// URI slash runs so file:/p and
            # file:///p extract the identical token
            return "/" + m.group(1).lstrip("/")
    return None


def _backoff(attempt: int) -> None:
    """Jittered exponential backoff between optimistic-CAS retries.
    Fixed short sleeps livelock under contention: two writers (or a
    writer and a busy host) retrying in lockstep can each keep
    invalidating the other's read until one exhausts its retries —
    observed in the two-process race test under full-suite CPU load.
    Exponential-with-jitter desynchronizes them (the standard OCC
    remedy); capped at 1 s so a lost CAS never stalls long."""
    time.sleep(min(1.0, 0.05 * (2 ** min(attempt, 4))) * (0.5 + random.random()))


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    when_matched: str = "update",
) -> DataFrame:
    """ANSI MERGE over DataFrames (snapshot semantics):

    - ``when_matched="update"``: matched base rows are REPLACED by
      their update row, unmatched update rows are INSERTED —
      ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``.
    - ``when_matched="ignore"``: matched update rows are dropped
      (insert-only merge — ``WHEN NOT MATCHED THEN INSERT *``).
    - ``when_matched="delete"``: matched base rows are removed and no
      update rows are inserted (``WHEN MATCHED THEN DELETE``).

    ``base`` and ``updates`` must share column NAMES (order-free;
    resolution is by name). Duplicate keys WITHIN ``updates`` are the
    caller's bug — MERGE's "multiple source rows matched" error — and
    are not deduplicated here.
    """
    if when_matched not in _WHEN_MATCHED:
        raise ValueError(
            f"when_matched={when_matched!r} not in {_WHEN_MATCHED}"
        )
    missing = set(keys) - set(base.columns)
    if missing:
        raise ValueError(f"merge keys {sorted(missing)} not in base columns")
    if set(base.columns) != set(updates.columns):
        raise ValueError(
            "merge_upsert: base/updates column sets differ: "
            f"{sorted(set(base.columns) ^ set(updates.columns))}"
        )
    keys = list(keys)
    if when_matched == "update":
        return base.join(updates, keys, "left_anti").unionByName(updates)
    if when_matched == "ignore":
        new_rows = updates.join(base, keys, "left_anti")
        return base.unionByName(new_rows)
    # delete: matched base rows go away; updates contribute nothing
    return base.join(updates, keys, "left_anti")


def merge_into_table(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: Sequence[str],
    when_matched: str = "update",
) -> None:
    """MERGE ``updates`` into a managed (metastore-registered) table
    via stage-and-swap: the merged snapshot is written to a staging
    table first, then swapped in with ``ALTER TABLE RENAME`` — the
    base table is never overwritten while its files are being read
    (Spark rejects that cycle outright), and a failure mid-write
    leaves the original table untouched.

    SINGLE-WRITER primitive (fixed stage name, no head check): for
    concurrent writers use :func:`merge_into_table_versioned`, whose
    version CAS serializes them.
    """
    base = spark.table(table)
    merged = merge_upsert(base, updates, keys, when_matched=when_matched)
    publish_snapshot(spark, table, merged)


def merge_into_table_versioned(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: Sequence[str],
    when_matched: str = "update",
    max_retries: int = 5,
) -> int:
    """MERGE with snapshot retention (time travel on plain tables):
    instead of dropping the pre-merge snapshot, it is renamed to
    ``{table}__v{n}`` before the staged merge result takes the live
    name. Returns the version number the OLD state was archived under.
    Read an old state with :func:`read_version`; bound retention with
    :func:`vacuum_versions`.

    Version numbers are ``max(existing) + 1`` — NOT a count — so they
    are never reused after :func:`vacuum_versions` deletes low ones
    (a count-based number would collide with a surviving archive and
    abort the swap mid-merge).

    Concurrent-writer safety (optimistic CAS): the archive rename
    ``{table} RENAME TO {table}__v{n}`` is the atomic compare-and-swap
    on the metastore head — it succeeds for exactly one writer per
    version (the destination-exists / source-missing check is atomic
    in HMS). A writer that loses re-reads the NEW head (including the
    winner's merge), recomputes, and retries, so no update is lost;
    after ``max_retries`` losses it raises :class:`MergeConflictError`.
    Each writer stages under a unique name so concurrent stages never
    clobber each other.

    This is copy-on-write time travel exactly as Delta/Iceberg expose
    it, minus the manifest layer: every version is a full, valid table
    (no delta chains to replay), so old-version reads cost one scan
    and retention is a table drop. At 100 TB you bound the archive by
    vacuuming — same operational contract as ``VACUUM`` there."""
    stage = f"{table}__stage_{uuid.uuid4().hex[:12]}"
    state = {"past_cas": False}
    try:
        return _versioned_merge_loop(
            spark, table, updates, keys, when_matched, max_retries, stage, state
        )
    except BaseException:
        # Any propagating failure BEFORE the archive CAS (permanent
        # analysis error, executor crash, exhausted CAS) must not leak
        # the staged table — leaked stages are real storage at scale.
        # AFTER the archive CAS the merge is committed-in-progress: the
        # live name is already gone and the stage is the ONLY complete
        # merged copy, so dropping it would destroy the table — the
        # loop's own roll-forward/roll-back has then either restored a
        # live table (clearing past_cas) or deliberately left the stage
        # for :func:`recover_versioned_table`.
        if not state["past_cas"]:
            spark.sql(f"DROP TABLE IF EXISTS {stage}")
        raise


def _versioned_merge_loop(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: Sequence[str],
    when_matched: str,
    max_retries: int,
    stage: str,
    state: dict,
) -> int:
    last_err: Exception | None = None
    last_missing: str | None = None
    for _attempt in range(max_retries + 1):
        # Read the version TOKEN before the base: if a concurrent
        # writer commits between these reads, our token is stale and
        # the CAS below fails (a safe spurious retry). Reading base
        # first would allow the reverse interleaving — stale base,
        # fresh token — which the CAS could NOT detect (lost update).
        # The high-water-mark property keeps numbering monotone even
        # after vacuum_versions emptied the archive (r11 review
        # finding: max(archives)+1 restarted at 0, silently rebinding
        # old version handles to post-vacuum snapshots).
        versions = list_versions(spark, table)
        floor = max(
            _version_hwm(spark, table), max(versions) if versions else -1
        )
        version = floor + 1
        try:
            base = spark.table(table)
            part_cols = _partition_cols(spark, table)
            merged = merge_upsert(base, updates, keys, when_matched=when_matched)
            merged.write.partitionBy(*part_cols).mode("overwrite").saveAsTable(stage)
            # the exact file listing the merge was computed FROM (the
            # staged scan shares base's resolved relation, hence its
            # file index) — the provenance token the post-CAS check
            # below compares against the archive
            base_files = set(base.inputFiles())
        except AnalysisException as exc:
            # Only a MISSING live name is a legitimate race (another
            # writer between its two renames) — back off and re-read.
            # Any other analysis error (bad column, bad location, …)
            # is permanent: retrying would recompute the full staged
            # merge max_retries more times and then misreport the
            # cause as a CAS conflict.
            if not _is_retryable_race(exc):
                raise
            last_err = exc
            _backoff(_attempt)
            continue
        except Exception as exc:
            # A concurrent writer's rename can also strike DURING the
            # staged write's scan of the base (managed-table rename
            # moves the directory out from under resolved file paths)
            # — an executor-side FileNotFoundException, not an
            # AnalysisException. Same race, one phase later: re-read.
            if not _is_concurrent_scan_race(exc):
                raise
            missing = _missing_path(exc)
            if missing is not None and missing == last_missing:
                # the SAME file is missing after a REFRESH + re-read:
                # that is permanent damage (out-of-band deletion), not
                # a rename race — surface it instead of recomputing
                # the full staged merge to exhaustion
                raise
            last_missing = missing
            last_err = exc
            # A plain re-read is NOT enough: the session caches the
            # table's FILE LISTING by path, and a concurrent publish
            # replaces the files UNDER THE SAME PATH (stage → live
            # rename), so every retry would re-scan the dead listing
            # and fail identically until retries exhaust (observed:
            # 201 identical FAILED_READ_FILE losses). REFRESH TABLE
            # drops the cached relation + listing before retrying.
            try:
                spark.sql(f"REFRESH TABLE {table}")
            except AnalysisException:
                pass  # name momentarily missing — the re-read handles it
            _backoff(_attempt)
            continue
        try:
            spark.sql(f"ALTER TABLE {table} RENAME TO {table}__v{version}")
        except AnalysisException as exc:
            # CAS lost: __v{version} taken or live renamed away by a
            # concurrent winner; recompute against the new head. Other
            # analysis errors are permanent — surface them.
            if not _is_retryable_race(exc, allow_exists=True):
                raise
            last_err = exc
            _backoff(_attempt)
            continue
        # Archive CAS won: the live name is gone and this writer's
        # stage is the only complete merged snapshot — from here the
        # merge is committed-in-progress and must roll FORWARD, never
        # lose the stage.
        state["past_cas"] = True
        # TORN-BASE-READ GUARD (r16; found by the N-session race under
        # full-suite load). The version CAS proves no OTHER commit took
        # this version number — it cannot prove OUR base read was a
        # consistent snapshot. An HMS rename commits the metastore row
        # and THEN moves the directory, so a read that resolves the
        # live name inside a concurrent publish's window scans an
        # absent location as ZERO FILES (the third reader shape,
        # :func:`publish_snapshot` docstring) — the merge is then
        # computed from an empty/stale base, wins the CAS on a
        # perfectly fresh version number, and publishes a snapshot
        # that silently DROPS every pre-existing row. The archive we
        # just renamed IS the base this merge must have read, it is
        # quiescent (this writer owns it), and its rename completed —
        # so its listing is trustworthy: if its file set differs from
        # what the merge actually scanned, the read was torn/stale.
        # Roll the archive back and retry with a fresh read. Part-file
        # names are write-UUID-unique within a partition directory (one
        # task writes the same name into each partition it touches), so
        # paths below the table root compare exactly across the
        # location move.
        depth = len(part_cols) + 1
        base_names = {"/".join(f.split("/")[-depth:]) for f in base_files}
        try:
            _repair_partitions(spark, f"{table}__v{version}", part_cols)
            arch_names = {
                "/".join(f.split("/")[-depth:])
                for f in spark.table(f"{table}__v{version}").inputFiles()
            }
        except BaseException as verify_exc:
            try:
                _rename(spark, f"{table}__v{version}", table, part_cols)
                state["past_cas"] = False
            except BaseException:
                raise RuntimeError(
                    f"merge into {table}: could not verify the archived "
                    f"base and rollback of {table}__v{version} also "
                    f"failed; the merged snapshot survives as {stage} — "
                    "run recover_versioned_table"
                ) from verify_exc
            raise
        if arch_names != base_names:
            try:
                _rename(spark, f"{table}__v{version}", table, part_cols)
                state["past_cas"] = False
            except BaseException as rollback_exc:
                raise RuntimeError(
                    f"merge into {table}: base read was torn/stale and "
                    f"rollback of {table}__v{version} failed; the "
                    f"archive holds the true data — run "
                    "recover_versioned_table"
                ) from rollback_exc
            last_err = MergeConflictError(
                f"merge into {table}: base read was torn or stale "
                f"(scanned {len(base_names)} files, archived head has "
                f"{len(arch_names)}) — a concurrent publish's "
                "metastore-commit/directory-move window; retrying with "
                "a fresh read"
            )
            try:
                spark.sql(f"REFRESH TABLE {table}")
            except AnalysisException:
                pass
            _backoff(_attempt)
            continue
        try:
            _rename(spark, stage, table, part_cols)
        except BaseException as publish_exc:
            _finish_after_cas(
                spark, table, stage, version, part_cols, state, publish_exc
            )
        _record_hwm(spark, table, version)
        return version
    raise MergeConflictError(
        f"merge into {table}: lost the version CAS {max_retries + 1} "
        f"times; last error: {last_err}"
    )


def _finish_after_cas(
    spark: SparkSession,
    table: str,
    stage: str,
    version: int,
    part_cols: Sequence[str],
    state: dict,
    publish_exc: BaseException,
) -> None:
    """The stage → live rename failed AFTER the archive CAS renamed the
    live table away. The merge is committed-in-progress: try once more
    to roll FORWARD (publish the stage); failing that, roll BACK by
    renaming the ``__v{version}`` archive back to the live name (the
    merge never becomes visible and the caller's retry re-derives it).
    Only when the rollback restores a live table is it safe for the
    caller's cleanup to drop the stage (``past_cas`` cleared); if even
    the rollback fails the stage is left in place as the one complete
    merged copy for :func:`recover_versioned_table` to promote."""
    try:
        _rename(spark, stage, table, part_cols)
        return  # roll-forward retry succeeded — merge committed
    except BaseException:
        pass
    try:
        _rename(spark, f"{table}__v{version}", table, part_cols)
    except BaseException:
        raise RuntimeError(
            f"merge into {table}: publish failed after the archive CAS and "
            f"rollback of {table}__v{version} also failed; the merged "
            f"snapshot survives as {stage} — run recover_versioned_table"
        ) from publish_exc
    state["past_cas"] = False  # live restored; stage is now disposable
    raise publish_exc


def delete_where(spark: SparkSession, table: str, predicate: str) -> int | None:
    """Row-level ``DELETE FROM table WHERE predicate`` on a plain
    parquet-backed table (OSS Spark SQL has no DELETE on parquet;
    Delta/Iceberg's copy-on-write DELETE is this plan plus a
    manifest). The table's partitioning picks the rewrite scope
    (:func:`_rewrite_where`); a partition the delete empties is
    DROPPED. Returns the number of rewritten partitions, or None for
    an unpartitioned table."""
    part_cols = _partition_cols(spark, table)
    base = spark.table(table)
    # SQL DELETE removes rows where the predicate is TRUE — a NULL
    # predicate KEEPS the row. A bare NOT(pred) filter would evaluate
    # NULL → filtered out, silently deleting rows on any nullable
    # column; coalesce pins the three-valued logic to SQL's.
    kept = f"NOT coalesce(({predicate}), false)"
    return _rewrite_where(
        spark, table, base, predicate, part_cols, lambda df: df.filter(kept),
        drops_emptied=True,
    )


def update_where(
    spark: SparkSession,
    table: str,
    predicate: str,
    assignments: Mapping[str, str],
) -> int | None:
    """Row-level ``UPDATE table SET col = expr, ... WHERE predicate``:
    matched rows get the assignment expressions (SQL strings,
    evaluated against the row), unmatched rows pass through unchanged.
    Rewrite scope and return value are :func:`delete_where`'s.
    Unknown assignment columns are an error, not a silent add; so are
    PARTITION columns — under dynamic overwrite a moved row would
    replace its DESTINATION partition with only the moved rows (data
    loss); a cross-partition move is a DELETE + INSERT."""
    part_cols = _partition_cols(spark, table)
    bad = set(assignments) & set(part_cols)
    if bad:
        raise ValueError(
            f"update_where: assignments touch partition columns "
            f"{sorted(bad)} — cross-partition moves are not an in-place "
            f"update"
        )
    base = spark.table(table)
    missing = set(assignments) - set(base.columns)
    if missing:
        raise ValueError(f"update targets {sorted(missing)} not in {table} columns")
    cond = F.expr(predicate)

    def assign(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.when(cond, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )

    return _rewrite_where(
        spark, table, base, predicate, part_cols, assign, drops_emptied=False
    )


def _partition_cols(spark: SparkSession, table: str) -> list[str]:
    """``table``'s declared partition columns: one catalog lookup
    (``Catalog.listColumns`` runs Spark jobs and costs ~100× more)."""
    state = spark._jsparkSession.sessionState()  # noqa: SLF001
    ident = state.sqlParser().parseTableIdentifier(table)
    cols = state.catalog().getTableMetadata(ident).partitionColumnNames()
    return [cols.apply(i) for i in range(cols.length())]


#: Above this many affected partitions the membership filter switches
#: from a collected literal IN-list (statically prunes the file index)
#: to a broadcast LEFT SEMI join (no driver-side literal tree — the
#: analyzer/codegen would choke on an unbounded OR-of-ANDs, and the
#: collect itself is unbounded; advice r8).
_MEMBERSHIP_LITERAL_CAP = 256

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _rewrite_where(spark, table, df, predicate, part_cols, rewrite, drops_emptied):
    """Replace rows of ``table`` (read as ``df``, partitioned by
    ``part_cols``) with ``rewrite`` of them. Unpartitioned: the whole
    table is swapped in via :func:`publish_snapshot`; returns None.
    Partitioned: only partitions holding rows that match ``predicate``
    are rewritten, the others keep their files (Delta/Iceberg's
    copy-on-write file pruning, at partition grain). One filtered scan
    finds the DISTINCT affected partition tuples (metadata-sized);
    their new rows go back by dynamic-partition ``INSERT OVERWRITE``
    (each partition swaps whole at job commit). With ``drops_emptied``
    an affected partition absent from the new rows is DROPPED, since
    dynamic overwrite never touches it. Returns the number of affected
    partitions (0 = no-op)."""
    if not part_cols:
        _publish(spark, table, rewrite(df), part_cols)
        return None
    pred = f"coalesce(({predicate}), false)"
    affected_df = df.filter(pred).select(*part_cols).distinct().persist()
    try:
        head = affected_df.limit(_MEMBERSHIP_LITERAL_CAP + 1).collect()
        if not head:
            return 0
        affected_rows = head if len(head) <= _MEMBERSHIP_LITERAL_CAP else None
        n_affected = (
            len(affected_rows) if affected_rows is not None else affected_df.count()
        )
        new_rows = rewrite(_scope_to_affected(df, affected_df, affected_rows, part_cols))
        emptied = []
        if drops_emptied:
            surviving = new_rows.select(*part_cols).distinct()
            emptied = _emptied_partitions(affected_df, affected_rows, surviving, part_cols)
        # A mode the session had not set is unset again, so its conf
        # text (the fetch caches' key) is left as found. (insertInto
        # ignores the writer option of this name and replaces EVERY
        # partition.)
        jconf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        saved = spark.conf.get(_OVERWRITE_MODE) if jconf.contains(_OVERWRITE_MODE) else None
        spark.conf.set(_OVERWRITE_MODE, "dynamic")
        try:
            new_rows.write.mode("overwrite").insertInto(table)
        finally:
            if saved is None:
                spark.conf.unset(_OVERWRITE_MODE)
            else:
                spark.conf.set(_OVERWRITE_MODE, saved)
        _drop_partitions(spark, table, emptied, part_cols)
        return n_affected
    finally:
        affected_df.unpersist()


def _partition_membership(rows, part_cols: Sequence[str]):
    """Predicate: row's partition tuple ∈ the given partition rows
    (an IN-list over partition values — metadata-sized, so the filter
    prunes the scan to exactly the affected partition directories).
    Only used below :data:`_MEMBERSHIP_LITERAL_CAP` tuples."""
    return functools.reduce(
        operator.or_,
        [
            functools.reduce(
                operator.and_, [F.col(c).eqNullSafe(F.lit(r[c])) for c in part_cols]
            )
            for r in rows
        ],
    )


def _probe(affected_df, other, part_cols: Sequence[str]):
    """``affected_df``'s partition columns renamed ``__p_<col>``, and
    the null-safe equality joining them to ``other``'s."""
    probe = affected_df.select(*[F.col(c).alias(f"__p_{c}") for c in part_cols])
    cond = functools.reduce(
        operator.and_, [other[c].eqNullSafe(probe[f"__p_{c}"]) for c in part_cols]
    )
    return probe, cond


def _scope_to_affected(df, affected_df, affected_rows, part_cols: Sequence[str]):
    """Restrict ``df`` to the affected partitions.

    Two shapes: with ``affected_rows`` collected (≤ cap) the literal
    IN-list resolves statically and the FileScan's file index holds
    only the affected directories. Beyond the cap, a broadcast LEFT
    SEMI join on null-safe partition equality — membership at scan
    speed with no driver literal tree; partition-directory skipping
    then rides on dynamic partition pruning."""
    if affected_rows is not None:
        return df.filter(_partition_membership(affected_rows, part_cols))
    probe, cond = _probe(affected_df, df, part_cols)
    return df.join(F.broadcast(probe), cond, "left_semi")


def _emptied_partitions(affected_df, affected_rows, surviving_df, part_cols):
    """Partition tuples present in ``affected`` but absent from
    ``surviving`` — the ones whose every row matched the predicate and
    which must be DROPPED explicitly. Only THESE rows are ever
    collected in the join path (each needs a driver-side ALTER
    statement anyway, so the collect is proportional to mandatory
    driver work, not to the table)."""
    if affected_rows is not None:
        surviving = {
            tuple(r[c] for c in part_cols) for r in surviving_df.collect()
        }
        return [
            {c: r[c] for c in part_cols}
            for r in affected_rows
            if tuple(r[c] for c in part_cols) not in surviving
        ]
    probe, cond = _probe(affected_df, surviving_df, part_cols)
    return [
        {c: r[f"__p_{c}"] for c in part_cols}
        for r in probe.join(surviving_df, cond, "left_anti").collect()
    ]


def _sql_string(s) -> str:
    """``s`` as a quoted SQL string literal: a backslash or quote in it
    must not break (or inject into) the statement — an unescaped
    ``\\b`` would parse as a backspace."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _partition_literal(v) -> str:
    """SQL literal for one partition value in an ``ALTER TABLE ...
    PARTITION (...)`` spec, matching the catalog's stored form.

    ``None`` maps to Hive's default-partition name (the on-disk/
    catalog value for a NULL partition — ``str(None)`` would render
    ``'None'`` and silently never match, resurrecting the emptied
    partition; advice r8). Dates/timestamps are formatted in the
    catalog's canonical literal form rather than trusting ``str()``."""
    import datetime

    if v is None:
        return "'__HIVE_DEFAULT_PARTITION__'"
    if isinstance(v, bool):
        return f"'{str(v).lower()}'"
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += f".{v.microsecond:06d}"
        return f"'{s}'"
    if isinstance(v, datetime.date):
        return f"'{v.isoformat()}'"
    return _sql_string(v)


def _partition_spec(row, part_cols: Sequence[str]) -> str:
    return ", ".join(f"{c} = {_partition_literal(row[c])}" for c in part_cols)


def _drop_partitions(spark: SparkSession, table: str, emptied, part_cols) -> None:
    """DROP the emptied partitions, batched (one ALTER statement can
    carry many PARTITION specs — 100 per statement keeps the SQL text
    bounded instead of one round-trip per partition)."""
    for i in range(0, len(emptied), 100):
        specs = ", ".join(
            f"PARTITION ({_partition_spec(r, part_cols)})"
            for r in emptied[i : i + 100]
        )
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS {specs}")


def publish_snapshot(
    spark: SparkSession,
    table: str,
    snapshot: DataFrame,
    properties: dict[str, str] | None = None,
) -> None:
    """Replace ``table`` with ``snapshot`` via the rename-first swap:
    write to a stage table, rename live → ``__old``, stage → live,
    drop ``__old``. A brief window remains where the live NAME does
    not resolve (between the two renames — a concurrent reader there
    sees TABLE_OR_VIEW_NOT_FOUND, same as drop-then-rename); the
    guarantee rename-first adds is CRASH RECOVERABILITY, not reader
    atomicity: a failure at any step leaves a complete table under a
    name :func:`recover_published_table` knows (``__old`` or the
    stage), so no crash can lose the data.

    Concurrent readers in OTHER sessions (gateway session clones)
    additionally hold their own cached relation: after the swap their
    next read can fail with ``FAILED_READ_FILE`` against the replaced
    files until they ``REFRESH TABLE`` — standard Spark semantics for
    a swapped table, exercised end-to-end (retry + refresh + re-read,
    with the re-read value still asserted un-torn) by
    ``tests/test_concurrency_nsessions.py``.

    A THIRD reader shape exists alongside those two errors: an HMS
    rename updates the metastore row and then moves the managed
    table's directory, so a read that resolves the live name in
    between sees a table whose location has no files yet — Spark
    scans a missing/empty directory as ZERO ROWS, no error. A reader
    mid-swap can therefore observe a clean-looking EMPTY table (seen
    under full-suite CPU load by the N-session test's MySQL lane).
    Client protocol for tables known non-empty: treat an empty result
    during a concurrent publish exactly like the two error shapes —
    REFRESH TABLE and re-read. Readers that cannot tolerate even
    transient emptiness should publish via the manifest-pointer
    protocol (``operators/objstore.publish_pointer``), whose
    conditional-PUT commit has no such window by construction.

    For READ-MODIFY-WRITE loops this shape is not merely cosmetic: a
    writer whose base read lands in the window computes its output
    from an empty base and can commit a snapshot that silently drops
    every pre-existing row — the version CAS cannot catch it, because
    the version number is perfectly fresh; it is the FILE LISTING
    that was torn. :func:`merge_into_table_versioned` therefore
    verifies provenance after winning its CAS (the archived head's
    file set must equal what the merge scanned) and rolls back +
    retries on mismatch; SQL-protocol tenants running the rename CAS
    by hand must add the equivalent check (the reference client in
    ``tests/test_merge_race_twoproc.py`` compares non-merged row
    counts between its stage and the archive before publishing).

    ``properties`` are set as TBLPROPERTIES on the STAGE table before
    the swap, so they commit ATOMICALLY with the data (the stage →
    live rename carries both or neither) — this is what lets a
    foreachBatch maintainer record its ``last_batch_id`` with no
    data-committed/marker-unwritten crash window at all (contrast the
    sidecar-after-write pattern in ``operators/zorder.py``, which
    needs a key-dedup to close that window).

    The stage is written with the live table's declared partition
    columns, so a publish keeps the table's partitioning.

    This is the publish primitive the streaming snapshot/index
    maintainers share with :func:`merge_into_table`."""
    _publish(spark, table, snapshot, _partition_cols(spark, table), properties)


def _publish(
    spark: SparkSession,
    table: str,
    snapshot: DataFrame,
    part_cols: Sequence[str],
    properties: dict[str, str] | None = None,
) -> None:
    """:func:`publish_snapshot` given the table's partition columns."""
    stage = f"{table}__merge_stage"
    spark.sql(f"DROP TABLE IF EXISTS {stage}")
    snapshot.write.partitionBy(*part_cols).saveAsTable(stage)
    if properties:
        kv = ", ".join(
            f"{_sql_string(k)}={_sql_string(v)}" for k, v in properties.items()
        )
        spark.sql(f"ALTER TABLE {stage} SET TBLPROPERTIES ({kv})")
    old = f"{table}__merge_old"
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    _rename(spark, table, old, part_cols)
    _rename(spark, stage, table, part_cols)
    spark.sql(f"DROP TABLE {old}")


def _rename(spark: SparkSession, src: str, dst: str, part_cols: Sequence[str]) -> None:
    """Rename a table partitioned by ``part_cols``; see :func:`_repair_partitions`."""
    spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")
    _repair_partitions(spark, dst, part_cols)


def _repair_partitions(spark: SparkSession, table: str, part_cols: Sequence[str]) -> None:
    """After a rename, point a partitioned table's partitions at its
    moved directory: the in-memory catalog (not the Hive metastore)
    keeps their old locations, so the table would scan as empty and
    dropping it would delete directories a later table took over. A
    table renamed away meanwhile is left to that rename's repair."""
    if not part_cols or spark.conf.get("spark.sql.catalogImplementation") != "in-memory":
        return
    try:
        spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
    except AnalysisException as exc:
        if not _is_retryable_race(exc):
            raise


def read_table_property(
    spark: SparkSession, table: str, key: str
) -> str | None:
    """One table property, or None when unset — the read side of
    :func:`publish_snapshot`'s atomic ``properties``. (Iterates SHOW
    TBLPROPERTIES rather than the ``table('key')`` form, whose
    missing-key behavior is an engine-version-dependent message row.)"""
    for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
        if r["key"] == key:
            return r["value"]
    return None


def recover_published_table(spark: SparkSession, table: str) -> str:
    """Restore ``table`` after a writer crashed mid-:func:`publish_snapshot`
    (the log-replay step a manifest-based lakehouse performs on open,
    collapsed to the three states the rename protocol can leave).

    The commit point is the ``stage → live`` rename, so recovery rolls
    BACK to the pre-publish snapshot whenever the live name is gone —
    the interrupted publish never committed, and the caller's retry
    re-derives it. Returns one of:

    - ``"clean"``        — live table present; stray stage/old dropped.
    - ``"rolled-back"``  — live was missing (crash between the two
      renames); ``__merge_old`` restored as live, stage dropped.
    - ``"rolled-forward"`` — live and old both missing but a complete
      stage exists (not reachable from the protocol itself; defensive):
      the stage is promoted so SOME complete state is live.

    Raises :class:`RuntimeError` when nothing recoverable exists."""
    stage = f"{table}__merge_stage"
    old = f"{table}__merge_old"
    if spark.catalog.tableExists(table):
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
        spark.sql(f"DROP TABLE IF EXISTS {old}")
        return "clean"
    if spark.catalog.tableExists(old):
        _rename(spark, old, table, _partition_cols(spark, old))
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
        return "rolled-back"
    if spark.catalog.tableExists(stage):
        _rename(spark, stage, table, _partition_cols(spark, stage))
        return "rolled-forward"
    raise RuntimeError(
        f"recover {table}: no live, __merge_old, or __merge_stage table exists"
    )


def _list_merge_stages(spark: SparkSession, table: str) -> list[str]:
    """Orphan ``{table}__stage_{12-hex}`` tables left by crashed
    versioned merges, fully qualified like ``table``."""
    db, _, name = table.rpartition(".")
    prefix = f"{name}__stage_"
    rows = spark.sql(f"SHOW TABLES IN {db}" if db else "SHOW TABLES").collect()
    out = []
    for r in rows:
        tn = r["tableName"]
        suffix = tn[len(prefix):]
        if tn.startswith(prefix) and len(suffix) == 12 and all(
            c in "0123456789abcdef" for c in suffix
        ):
            out.append(f"{db}.{tn}" if db else tn)
    return sorted(out)


def recover_versioned_table(spark: SparkSession, table: str) -> str:
    """Restore ``table`` after a writer crashed mid-
    :func:`merge_into_table_versioned` — the states the versioned
    protocol can leave that :func:`recover_published_table` cannot see
    (uuid-suffixed ``__stage_*`` names and ``__v{n}`` archives instead
    of the fixed ``__merge_stage``/``__merge_old`` pair).

    The archive CAS (live → ``__v{n}``) is the commit point: once it
    succeeds the writer's fully-written stage is the intended new
    state, so recovery prefers rolling FORWARD. Returns one of:

    - ``"clean"``          — live present; orphan ``__stage_*`` dropped
      (they are uncommitted attempts — their writers never won the CAS
      or already rolled back).
    - ``"rolled-forward"`` — live missing and exactly ONE complete
      orphan stage exists: it is the CAS winner's merged snapshot
      (stages are fully written BEFORE the CAS is attempted), so it is
      promoted to the live name.
    - ``"rolled-back"``    — live missing and zero or several orphan
      stages (the winner cannot be identified): the newest ``__v{n}``
      archive is renamed back to the live name — the interrupted merge
      never becomes visible and a retry re-derives it — and the orphan
      stages are dropped.

    Raises :class:`RuntimeError` when nothing recoverable exists."""
    stages = _list_merge_stages(spark, table)
    if spark.catalog.tableExists(table):
        for s in stages:
            spark.sql(f"DROP TABLE IF EXISTS {s}")
        return "clean"
    if len(stages) == 1:
        _rename(spark, stages[0], table, _partition_cols(spark, stages[0]))
        return "rolled-forward"
    versions = list_versions(spark, table)
    if versions:
        newest = f"{table}__v{versions[-1]}"
        _rename(spark, newest, table, _partition_cols(spark, newest))
        for s in stages:
            spark.sql(f"DROP TABLE IF EXISTS {s}")
        return "rolled-back"
    raise RuntimeError(
        f"recover {table}: no live table, no unambiguous stage, and no "
        f"__v{{n}} archive to restore"
    )


def list_versions(spark: SparkSession, table: str) -> list[int]:
    """Archived version numbers for ``table``, ascending (the live
    table is not listed — it is 'current')."""
    db, _, name = table.rpartition(".")
    prefix = f"{name}__v"
    rows = spark.sql(f"SHOW TABLES IN {db}" if db else "SHOW TABLES").collect()
    out = []
    for r in rows:
        tn = r["tableName"]
        if tn.startswith(prefix) and tn[len(prefix):].isdigit():
            out.append(int(tn[len(prefix):]))
    return sorted(out)


#: Table property carrying the highest version number EVER archived —
#: survives vacuum so version numbers are never reused.
_HWM_PROP = "nineinfra.version.hwm"


def _version_hwm(spark: SparkSession, table: str) -> int:
    """Highest version ever archived for ``table`` per its table
    property, or -1 (absent / pre-HWM table / table mid-rename)."""
    try:
        rows = spark.sql(
            f"SHOW TBLPROPERTIES {table} ('{_HWM_PROP}')"
        ).collect()
    except AnalysisException:
        return -1  # live name momentarily missing — archives cover it
    for r in rows:
        v = r["value"]
        if v.lstrip("-").isdigit():
            return int(v)
    return -1


def _record_hwm(spark: SparkSession, table: str, version: int) -> None:
    """Record ``version`` as the archive high-water mark on the live
    table (monotone floor for future numbering). Best-effort: the
    archive table itself also carries the number until vacuumed, so a
    failed property write only matters if a vacuum races in before
    the next successful merge."""
    if version <= _version_hwm(spark, table):
        return
    try:
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES "
            f"('{_HWM_PROP}' = '{version}')"
        )
    except AnalysisException:
        pass


def read_version(spark: SparkSession, table: str, version: int) -> DataFrame:
    """Time-travel read: the archived snapshot ``version`` (as
    returned by :func:`merge_into_table_versioned`)."""
    return spark.table(f"{table}__v{version}")


def vacuum_versions(spark: SparkSession, table: str, keep: int) -> list[int]:
    """Drop all but the newest ``keep`` archived versions; returns the
    dropped version numbers (retention enforcement — the VACUUM half
    of the time-travel contract)."""
    if keep < 0:
        # a negative keep would silently slice from the WRONG end
        # (versions[:-keep] == versions[:abs(keep)] — oldest-first)
        raise ValueError(f"vacuum {table}: keep must be >= 0, got {keep}")
    versions = list_versions(spark, table)
    if versions:
        # pin the high-water mark BEFORE dropping: with the archive
        # emptied (keep=0), max(archives)+1 would restart numbering at
        # 0 and silently rebind callers' recorded version handles to
        # unrelated post-vacuum snapshots (r11 review finding)
        _record_hwm(spark, table, max(versions))
    drop = versions[:-keep] if keep > 0 else versions
    for v in drop:
        spark.sql(f"DROP TABLE {table}__v{v}")
    return drop
