"""Copy-on-write row-level DML: MERGE (A9) and DELETE (A10).

Replays the semantics of
``/root/reference/sql/update_iceberg_v2_examples.sql:14-18``::

    MERGE INTO airlines AS t USING airlines_merge AS s ON t.code = s.code
    WHEN MATCHED THEN UPDATE SET description = s.description
    WHEN NOT MATCHED THEN INSERT VALUES (s.code, s.description)

as Iceberg v2 copy-on-write does it, Spark-first:

1. Discover *affected files* with a ``_metadata.file_path`` semi-join
   against the source keys — a broadcast join at any realistic source
   size, touching only file-path metadata.
2. Rewrite only those files (MERGE = one full outer join with the
   source under the compiled WHEN clauses, which shuffles the affected
   rows instead of broadcasting the source; delete = negated filter),
   carry every untouched file into the new snapshot verbatim.

At 100 TB this means a MERGE touching 0.1% of keys rewrites ~0.1% of
files, not the table.
"""

from __future__ import annotations

import urllib.parse
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_workshop_spark.icetbl.pruning import Pred, prune_files
from iceberg_workshop_spark.icetbl.table import IceTable, _pred_to_column


def _norm_path(spark_file_path: str) -> str:
    """_metadata.file_path is a Hadoop URI: strip the scheme AND
    percent-decode (a space in the table location arrives as %20 —
    comparing the raw .path against os.path file paths silently
    misses every file under such a location)."""
    return urllib.parse.unquote(urllib.parse.urlparse(spark_file_path).path)


def _affected_paths(df_with_fp: DataFrame) -> set[str]:
    rows = df_with_fp.select("__fp").distinct().collect()
    return {_norm_path(r["__fp"]) for r in rows}


def _with_fp(tbl: IceTable, files: list[dict]) -> DataFrame:
    # __fp must be attached inside _read_files: on an evolved table the
    # read is a union of per-era projections and _metadata only
    # resolves on the raw scans beneath it.
    return tbl._read_files(files, with_fp=True)


def _current_deletes(tbl: IceTable, branch: str | None = None) -> list[dict]:
    """Delete files of the commit base — the BRANCH head's when a
    branch write is in flight (main's deletes must never mask branch
    rows and vice versa)."""
    cur = (
        tbl.meta.refs[branch]["snapshot_id"]
        if branch
        else tbl.meta.current_snapshot_id
    )
    return (
        list(tbl.meta.delete_entries(tbl.meta.snapshot(cur)))
        if cur is not None
        else []
    )


def _rows_of(
    tbl: IceTable, files: list[dict], branch: str | None = None
) -> DataFrame:
    """Rows of ``files`` with merge-on-read deletes applied — every
    CoW rewrite must read THROUGH the deletes: the rewritten file gets
    a fresh sequence number, so a carried equality delete would no
    longer apply to it and a raw read would resurrect deleted rows.
    The delete set comes from the same head the files came from
    (branch-scoped DML reads the branch's deletes, not main's)."""
    return tbl._apply_deletes(files, _current_deletes(tbl, branch))


def _del_entry_key(d: dict) -> tuple:
    return (d["path"], int(d.get("dseq", 0)))


def _cow_rebase(
    tbl, base_files, base_dels, removed_paths, new_files, added_conflicts,
    isolation,
):
    """Build the ``rebase`` hook that gives copy-on-write commits
    Iceberg's optimistic-concurrency arbitration: on a CAS conflict
    the pending snapshot is REBASED onto the winner's state, the
    operation's validation re-runs against fresh metadata, and the
    commit retries (bounded by ``_commit_snapshot``'s attempt loop).
    Conflict detection is FILE-LEVEL — writers touching disjoint file
    sets both land, mirroring the concurrent Hive/Impala/Spark world
    of the reference's REST-catalog setup (interoperability.md:60-122).

    ``isolation`` levels (Iceberg's write.<op>.isolation-level):
    - ``"strict"`` (this engine's historical default): any concurrent
      commit invalidates the plan → return None, _commit_snapshot
      propagates the conflict.
    - ``"snapshot"``: the plan survives any concurrent commit that
      leaves ITS OWN read-set intact — validation checks only that
      (a) every file this op REWROTE still exists (a concurrent
      writer rewriting the same file is a genuine write-write
      conflict) and (b) no concurrent MoR delete file can reach the
      rewritten files (an equality delete applies by sequence number,
      so the rewrite's fresh seq would silently void it; a positional
      delete conflicts only when it targets a rewritten file). The
      rebased snapshot is the WINNER's file set minus this op's
      rewritten files plus its rewrites — concurrent appends,
      compactions and disjoint CoW rewrites all carry through.
    - ``"serializable"``: snapshot's checks PLUS no concurrently-added
      row may match the operation's predicate/source keys — the
      result must equal some serial order, and a matching added row
      would have been rewritten had the op run second.
      ``added_conflicts(df_of_added_rows) -> bool`` decides; it reads
      only the concurrent delta's files, never the table.
    """
    if isolation == "strict":
        return None
    if isolation not in ("snapshot", "serializable"):
        raise ValueError(f"unknown isolation level: {isolation!r}")
    import os as _os

    base_paths = {f["path"] for f in base_files}
    base_del_keys = {_del_entry_key(d) for d in base_dels}
    removed_abs = {_os.path.abspath(p) for p in removed_paths}
    base_schema = tbl.meta.schema_ddl

    def rebase(fresh_meta):
        from iceberg_workshop_spark.icetbl import meta as M2

        if fresh_meta.schema_ddl != base_schema:
            # A concurrent schema change (rename/add/drop/widen) voids
            # the plan outright: rewritten files carry plan-time
            # physical column names but would be stamped into the
            # post-change era, so reads would resolve them wrongly.
            raise M2.CommitConflict(
                "isolation validation: a concurrent schema change "
                "committed — re-plan against the new schema"
            )
        fresh_files = fresh_meta.current_files()
        fresh_paths = {f["path"] for f in fresh_files}
        if removed_paths - fresh_paths:
            raise M2.CommitConflict(
                "isolation validation: files this operation rewrote were "
                "removed by a concurrent commit — re-plan required"
            )
        cur = fresh_meta.current_snapshot_id
        fresh_dels = (
            fresh_meta.delete_entries(fresh_meta.snapshot(cur))
            if cur is not None
            else []
        )
        for d in fresh_dels:
            if _del_entry_key(d) in base_del_keys:
                continue  # read through at plan time
            targets = d.get("target_paths") if d.get("kind") == "pos" else None
            if targets is None:
                # equality delete (or untargeted): applies by key to
                # any older-seq file — could reach a rewritten one
                raise M2.CommitConflict(
                    "isolation validation: a concurrent row-level delete "
                    "file committed — this rewrite's fresh sequence would "
                    "void it — re-plan"
                )
            if removed_abs & {_os.path.abspath(p) for p in targets}:
                raise M2.CommitConflict(
                    "isolation validation: a concurrent positional delete "
                    "targets a file this operation rewrote — re-plan"
                )
        added = [f for f in fresh_files if f["path"] not in base_paths]
        if isolation == "serializable" and added:
            if added_conflicts(tbl._read_files(added)):
                raise M2.CommitConflict(
                    "serializable isolation: a concurrent append added rows "
                    "matching this operation's predicate — re-plan required"
                )
        # Delta against the WINNER's head: this op's rewrites plus the
        # winner's fresh entry objects for the files it removed (old
        # identities are stale after the refresh).
        return (
            new_files,
            [f for f in fresh_files if f["path"] in removed_paths],
            None,
            None,
            False,
        )

    return rebase


def _mor_append_rebase(
    tbl, base_meta, base_head_id, base_dels, own_new_files, own_entries
):
    """Rebase hook for merge-on-read commits (delete/update/merge
    sidecar writers): a concurrent winner that only ADDED data files
    leaves the operation fully valid — positional deletes target
    specific pre-existing files, and an equality delete's recorded
    ``dseq`` already confines it to strictly-older data, so the
    rebased commit is exactly the serial order "this delete, then the
    winner's append" (the winner's files carry the dseq itself, which
    is not strictly older). Rebase = winner's file set plus this op's
    appended images; the carried delete list (base deletes + this
    op's sidecars) is already correct because the winner's delete set
    is validated unchanged. Any winner that removed/rewrote a file or
    touched the delete set re-raises for a re-plan — a concurrent
    compaction would orphan positional targets, and a concurrent
    row-level delete interleaved with an update/merge is a genuine
    write-write conflict (lost-delete hazard).

    ``base_meta``/``base_head_id`` identify the PLAN-TIME head; the
    base path set is derived lazily inside the hook, so the no-conflict
    fast path never materializes the live file list (delete_keys_mor's
    O(|keys|) commit claim)."""
    base_del_keys = {_del_entry_key(d) for d in base_dels}
    base_schema = base_meta.schema_ddl

    def rebase(fresh_meta):
        from iceberg_workshop_spark.icetbl import meta as M2

        if fresh_meta.schema_ddl != base_schema:
            # A concurrent schema change voids the plan: an equality-
            # delete sidecar records plan-time key names with a dseq
            # NEWER than the rename's logged sequence, so the rename
            # translation would never apply to it and every later read
            # would fail resolving the stale key (found by round-11
            # review) — and appended images carry plan-time physical
            # column names that the post-change era would misread.
            raise M2.CommitConflict(
                "merge-on-read rebase: a concurrent schema change "
                "committed — re-plan against the new schema"
            )
        base_paths = (
            {
                f["path"]
                for f in base_meta.files(base_meta.snapshot(base_head_id))
            }
            if base_head_id is not None
            else set()
        )
        fresh_files = fresh_meta.current_files()
        fresh_paths = {f["path"] for f in fresh_files}
        if not base_paths <= fresh_paths:
            raise M2.CommitConflict(
                "merge-on-read rebase: a concurrent commit removed or "
                "rewrote data files this operation's delete sidecars "
                "target — re-plan required"
            )
        cur = fresh_meta.current_snapshot_id
        fresh_dels = (
            fresh_meta.delete_entries(fresh_meta.snapshot(cur))
            if cur is not None
            else []
        )
        if {_del_entry_key(d) for d in fresh_dels} != base_del_keys:
            raise M2.CommitConflict(
                "merge-on-read rebase: a concurrent commit changed the "
                "delete-file set — re-plan required"
            )
        return (own_new_files, [], own_entries, None, False)

    return rebase


def delete_where(
    tbl: IceTable,
    condition: str,
    prune: list[Pred] | None = None,
    isolation: str = "strict",
    branch: str | None = None,
) -> dict[str, int]:
    """DELETE FROM ... WHERE (A10). Returns rewrite statistics.

    ``branch=`` runs the copy-on-write delete against that branch's
    HEAD and commits to the branch — the write-audit-publish pattern
    with row-level deletes staged off main (Iceberg's branch-scoped
    DML): main never sees the rewrite until fast_forward publishes
    it."""
    if branch and isolation != "strict":
        raise ValueError(
            "branch-scoped DELETE supports only isolation='strict' — "
            "the snapshot/serializable rebase validates against main"
        )
    files = (
        tbl.meta.files(tbl.meta.snapshot(tbl.meta.refs[branch]["snapshot_id"]))
        if branch
        else tbl.meta.current_files()
    )
    spec_by_id = {i: s for i, s in enumerate(tbl.meta.specs)}
    candidates, _ = prune_files(files, spec_by_id, prune or [])
    candidate_paths = {f["path"] for f in candidates}
    untouched = [f for f in files if f["path"] not in candidate_paths]

    hit_paths = (
        _affected_paths(_with_fp(tbl, candidates).filter(condition))
        if candidates
        else set()
    )
    affected = [f for f in candidates if f["path"] in hit_paths]
    unaffected = [f for f in candidates if f["path"] not in hit_paths]

    spec_id = tbl.meta.current_spec_id
    new_files: list[dict] = []
    if affected:
        remaining = (
            _rows_of(tbl, affected, branch)
            .filter(f"NOT ({condition})")
            .select(*tbl._column_names())
        )
        new_files = tbl._write_files(remaining, tbl.meta.specs[spec_id], spec_id)
    tbl._commit_snapshot_delta(
        new_files,
        affected,
        "delete",
        branch=branch,
        rebase=(
            None
            if branch
            else _cow_rebase(
                tbl,
                files,
                _current_deletes(tbl),
                {f["path"] for f in affected},
                new_files,
                lambda df: df.filter(condition).limit(1).count() > 0,
                isolation,
            )
        ),
    )
    return {
        "files_total": len(files),
        "files_rewritten": len(affected),
        "files_untouched": len(untouched) + len(unaffected),
    }


@dataclass(frozen=True)
class WhenClause:
    """One MERGE clause. ``match`` is ``"matched"``, ``"not_matched"``
    or ``"not_matched_by_source"``; ``action`` is ``"update"``,
    ``"delete"`` or ``"insert"``. ``cond`` and ``values`` (column →
    SQL expression: an update names the columns it sets, an insert
    every column) are SQL text resolved the way Spark resolves its own
    MERGE: matched clauses see both aliases, inserts only the source,
    NOT MATCHED BY SOURCE clauses only the target."""

    match: str
    action: str
    cond: str | None = None
    values: dict[str, str] = field(default_factory=dict)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _first_applicable(clauses: list[WhenClause]) -> str:
    """SQL for the index of the first clause whose condition holds, or
    -1 — first applicable wins, in clause order."""
    if not clauses:
        return "-1"
    whens = " ".join(
        f"WHEN ({c.cond or 'TRUE'}) THEN {i}" for i, c in enumerate(clauses)
    )
    return f"CASE {whens} ELSE -1 END"


def _by_clause(act: str, picks: list[str | None], default: str) -> str:
    """``CASE act WHEN i THEN picks[i] … ELSE default END`` over the
    clauses that pick something."""
    whens = " ".join(f"WHEN {i} THEN {p}" for i, p in enumerate(picks) if p is not None)
    return f"CASE {act} {whens} ELSE {default} END" if whens else default


def _chosen(
    df: DataFrame, tag: str, family: int, clauses: list[WhenClause], cols: list[str]
) -> tuple[DataFrame, list[str]]:
    """``df`` plus ``{tag}act``, the first applicable of ``clauses`` on
    the rows of ``family`` (NULL on the others), and each value those
    clauses set as ``{tag}{i}_{j}`` (clause i, column j). A guard is
    evaluated only on its family's rows and a value only on the rows
    whose clause it is, so a guarded ``x / d`` or ``CAST`` never runs
    on a row its guard excludes. Also returns the added names."""
    act = f"{tag}act"
    df = df.withColumn(
        act, F.expr(f"CASE WHEN __fam = {family} THEN {_first_applicable(clauses)} END")
    )
    vals = {
        f"{tag}{i}_{j}": f"CASE WHEN {act} = {i} THEN ({c.values[col]}) END"
        for i, c in enumerate(clauses)
        for j, col in enumerate(cols)
        if col in c.values
    }
    return (
        df.select("*", *[F.expr(e).alias(n) for n, e in vals.items()]),
        [act, *vals],
    )


class MergeEffects:
    """MERGE clauses compiled into the two passes a copy-on-write or
    merge-on-read MERGE makes over the target. The clause text goes
    into ``F.expr`` over the aliased target and source DataFrames, so
    no temp view is registered, and a source from another session (a
    ``foreachBatch`` micro-batch) joins as it is.

    - ``affected`` (pass a): the distinct ``__fp`` of target rows the
      source keys match, plus rows a NOT MATCHED BY SOURCE clause
      claims.
    - ``rows`` (pass b): the affected rows FULL OUTER JOINed with the
      source under one projection that applies the first applicable
      clause of each row's family. Every output row carries the table
      columns and ``__op``: ``copy`` (target row unchanged),
      ``update``, ``delete``, ``insert``, or NULL for a source row no
      insert clause takes.

    A full outer join cannot broadcast, so pass b shuffles the affected
    target rows (and ``_write_files`` shuffles the result again for its
    hash distribution), where a broadcast of a small source would have
    shuffled none; in exchange the target is read twice, not six
    times. Matched clauses see both aliases; NOT MATCHED BY SOURCE
    clauses are evaluated with the source's columns renamed away and
    inserts with the target's, so their unqualified names bind to
    their own side alone."""

    def __init__(
        self,
        cols: list[str],
        on_pairs: list[tuple[str, str]],
        clauses: list[WhenClause],
        talias: str = "t",
        salias: str = "s",
    ) -> None:
        self.cols = cols
        self.talias, self.salias = talias, salias
        self.ta, self.sa = _quote(talias), _quote(salias)
        self.on = F.expr(" AND ".join(
            f"{self.ta}.{_quote(t)} = {self.sa}.{_quote(s)}" for t, s in on_pairs
        ))
        self.matched = [c for c in clauses if c.match == "matched"]
        self.inserts = [c for c in clauses if c.match == "not_matched"]
        self.nmbs = [c for c in clauses if c.match == "not_matched_by_source"]

    def _hits(self, target: DataFrame, source: DataFrame) -> DataFrame:
        """Target rows some source row matches."""
        return target.alias(self.talias).join(
            F.broadcast(source.alias(self.salias)), self.on, "left_semi"
        )

    def affected(self, target: DataFrame, source: DataFrame) -> DataFrame:
        if not self.nmbs:
            hits = self._hits(target, source)
        else:
            # a matched row short-circuits the OR: the NMBS guards run
            # only on target rows no source row matches
            claim = " OR ".join(f"({c.cond or 'TRUE'})" for c in self.nmbs)
            hits = (
                target.alias(self.talias)
                .join(
                    F.broadcast(source.withColumn("__s", F.lit(True)).alias(self.salias)),
                    self.on,
                    "left",
                )
                .select(
                    *[F.col(f"{self.ta}.{_quote(c)}") for c in target.columns],
                    F.col(f"{self.sa}.__s"),
                )
                .alias(self.talias)
                .filter(f"__s OR ({claim})")
            )
        return hits.select("__fp").distinct()

    def matches(self, target: DataFrame, source: DataFrame) -> bool:
        """Whether any target row matches a source row."""
        return self._hits(target, source).limit(1).count() > 0

    def rows(
        self, target: DataFrame, source: DataFrame, keep: tuple[str, ...] = ()
    ) -> DataFrame:
        """Pass b; ``keep`` names target columns passed through as they
        are (the positional-delete ``__path``/``__pos``)."""
        ta, sa, cols = self.ta, self.sa, self.cols
        tcols, scols = target.columns, source.columns
        # __fam: 0 NOT MATCHED BY SOURCE, 1 NOT MATCHED, 2 matched
        j = (
            target.withColumn("__t", F.lit(True)).alias(self.talias)
            .join(
                source.withColumn("__s", F.lit(True)).alias(self.salias),
                self.on,
                "full_outer",
            )
            .withColumn("__fam", F.expr(
                f"CASE WHEN {sa}.__s IS NULL THEN 0 WHEN {ta}.__t IS NULL THEN 1 ELSE 2 END"
            ))
        )
        j, mine = _chosen(j, "__m", 2, self.matched, cols)
        internal = ["__fam", *mine]
        # target scope: the source's columns renamed away
        j = j.select(
            *[F.col(f"{ta}.{_quote(c)}") for c in tcols],
            *[F.col(f"{sa}.{_quote(c)}").alias(f"__S{k}") for k, c in enumerate(scols)],
            *internal,
        ).alias(self.talias)
        j, mine = _chosen(j, "__n", 0, self.nmbs, cols)
        internal += mine
        # source scope: the target's columns renamed away
        j = j.select(
            *[F.col(_quote(c)).alias(f"__T{k}") for k, c in enumerate(tcols)],
            *[F.col(f"__S{k}").alias(c) for k, c in enumerate(scols)],
            *internal,
        ).alias(self.salias)
        j, _ = _chosen(j, "__i", 1, self.inserts, cols)

        def per_family(nmbs: str, insert: str, matched: str) -> str:
            return f"CASE __fam WHEN 0 THEN {nmbs} WHEN 1 THEN {insert} ELSE {matched} END"

        def picks(tag: str, clauses: list[WhenClause], j: int) -> list[str | None]:
            return [
                f"{tag}{i}_{j}" if cols[j] in c.values else None
                for i, c in enumerate(clauses)
            ]

        def kinds(clauses: list[WhenClause]) -> list[str]:
            return [f"'{c.action}'" for c in clauses]

        own = {c: f"__T{k}" for k, c in enumerate(tcols)}
        outs = {
            "__op": per_family(
                _by_clause("__nact", kinds(self.nmbs), "'copy'"),
                _by_clause("__iact", kinds(self.inserts), "NULL"),
                _by_clause("__mact", kinds(self.matched), "'copy'"),
            )
        }
        for k, col in enumerate(cols):
            outs[col] = per_family(
                _by_clause("__nact", picks("__n", self.nmbs, k), own[col]),
                _by_clause("__iact", picks("__i", self.inserts, k), "NULL"),
                _by_clause("__mact", picks("__m", self.matched, k), own[col]),
            )
        # store assignment: a value takes its column's type (`x / d` is
        # a double, the column may be an int)
        types = {f.name: f.dataType for f in target.schema.fields}
        return j.select(
            *[
                (F.expr(e).cast(types[n]) if n in types else F.expr(e)).alias(n)
                for n, e in outs.items()
            ],
            *[F.col(own[k]).alias(k) for k in keep],
        )


def merge(
    tbl: IceTable,
    source: DataFrame,
    effects: MergeEffects,
    mode: str = "copy-on-write",
    isolation: str = "strict",
) -> dict[str, int]:
    """Run a compiled MERGE in two passes over the target: one
    ``collect`` of the affected files (pass a), then one write of the
    affected rows joined with the source (pass b). Untouched files
    carry into the new snapshot verbatim.

    ``mode="copy-on-write"`` rewrites the affected files whole.
    ``mode="merge-on-read"`` (Iceberg's ``write.merge.mode``) leaves
    them in place: ONE commit adds a positional delete file masking the
    updated and deleted rows, plus data files holding the updated
    images and the inserts. Both read the target THROUGH its current
    deletes, so an earlier merge-on-read delete is never resurrected.
    Pass b is a shuffle join of the affected rows with the source, not
    a broadcast (see ``MergeEffects``)."""
    cols = tbl._column_names()
    mor = mode == "merge-on-read"
    files = tbl.meta.current_files()
    hit = (
        _affected_paths(effects.affected(_with_fp(tbl, files), source))
        if files
        else set()
    )
    affected = [f for f in files if f["path"] in hit]
    dels = _current_deletes(tbl)
    rows = effects.rows(
        tbl._apply_deletes(affected, dels, keep_pos=mor),
        source,
        keep=("__path", "__pos") if mor else (),
    )
    spec_id = tbl.meta.current_spec_id
    spec = tbl.meta.specs[spec_id]
    if not mor:
        new_files = tbl._write_files(
            rows.filter("__op IN ('copy', 'update', 'insert')").select(*cols),
            spec, spec_id,
        )
        tbl._commit_snapshot_delta(
            new_files,
            affected,
            "merge",
            rebase=_cow_rebase(
                tbl, files, dels, {f["path"] for f in affected}, new_files,
                # a concurrently-appended row the source matches would
                # have been updated/deleted had the MERGE run second —
                # serializable must re-plan
                lambda df: effects.matches(df, source),
                isolation,
            ),
        )
        return {
            "files_total": len(files),
            "files_rewritten": len(affected),
            "files_untouched": len(files) - len(affected),
        }

    changed = rows.filter("__op IN ('update', 'delete', 'insert')").persist()
    try:
        new_files = tbl._write_files(
            changed.filter("__op <> 'delete'").select(*cols), spec, spec_id
        )
        if affected:
            positions = changed.filter("__op IN ('update', 'delete')").select(
                F.col("__path").alias("file_path"), F.col("__pos").alias("pos")
            )
            paths, n_pos, content = _write_delete_sidecar(
                tbl, "posdel", positions.orderBy("file_path", "pos")
            )
        else:
            paths, n_pos, content = [], 0, None
    finally:
        changed.unpersist()
    entries = _pos_delete_entries(tbl, paths, n_pos, content) if n_pos else []
    tbl._commit_snapshot_delta(
        new_files,
        [],
        "merge-mor",
        added_deletes=entries,
        rebase=_mor_append_rebase(
            tbl, tbl.meta, tbl.meta.current_snapshot_id, dels, new_files, entries
        ),
    )
    return {"positions_deleted": n_pos, "files_added": len(new_files)}


def _upsert_effects(tbl: IceTable, source: DataFrame, on: list[str]) -> MergeEffects:
    """The API MERGE as clauses: matched rows take the source's
    non-key columns, unmatched source rows insert, and a boolean
    ``__delete`` source column turns its matched rows into deletes
    that never insert."""
    cols = tbl._column_names()
    flagged = "coalesce(s.__delete, FALSE)" if "__delete" in source.columns else None
    clauses = [
        WhenClause("matched", "delete", flagged),
        WhenClause(
            "matched", "update",
            values={c: f"s.{_quote(c)}" for c in cols if c not in on},
        ),
        WhenClause(
            "not_matched", "insert",
            f"NOT {flagged}" if flagged else None,
            {c: f"s.{_quote(c)}" for c in cols},
        ),
    ]
    return MergeEffects(cols, [(k, k) for k in on], clauses if flagged else clauses[1:])


def merge_into(
    tbl: IceTable,
    source: DataFrame,
    on: list[str],
    isolation: str = "strict",
) -> dict[str, int]:
    """MERGE INTO (A9): source schema == target schema; matched rows
    take the source's non-key columns, unmatched source rows insert.

    Effect protocol for the general MERGE grammar: a boolean
    ``__delete`` column on ``source`` marks keys whose matched target
    rows are dropped in the rewrite instead of updated; ``__delete``
    rows never insert. Only files holding matched keys are
    rewritten."""
    return merge(tbl, source, _upsert_effects(tbl, source, on), isolation=isolation)


def update_where(
    tbl: IceTable,
    condition: str,
    set_exprs: dict[str, str],
    prune: list[Pred] | None = None,
    isolation: str = "strict",
) -> dict[str, int]:
    """UPDATE ... SET ... WHERE — same CoW machinery as delete."""
    files = tbl.meta.current_files()
    spec_by_id = {i: s for i, s in enumerate(tbl.meta.specs)}
    candidates, _ = prune_files(files, spec_by_id, prune or [])
    candidate_paths = {f["path"] for f in candidates}
    untouched = [f for f in files if f["path"] not in candidate_paths]

    hit_paths = (
        _affected_paths(_with_fp(tbl, candidates).filter(condition))
        if candidates
        else set()
    )
    affected = [f for f in candidates if f["path"] in hit_paths]
    unaffected = [f for f in candidates if f["path"] not in hit_paths]

    new_files: list[dict] = []
    if affected:
        cols = tbl._column_names()
        rewritten = _rows_of(tbl, affected).select(
            *[
                F.when(F.expr(condition), F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cols
            ]
        )
        spec_id = tbl.meta.current_spec_id
        new_files = tbl._write_files(rewritten, tbl.meta.specs[spec_id], spec_id)
    tbl._commit_snapshot_delta(
        new_files,
        affected,
        "update",
        rebase=_cow_rebase(
            tbl,
            files,
            _current_deletes(tbl),
            {f["path"] for f in affected},
            new_files,
            lambda df: df.filter(condition).limit(1).count() > 0,
            isolation,
        ),
    )
    return {
        "files_total": len(files),
        "files_rewritten": len(affected),
        "files_untouched": len(untouched) + len(unaffected),
    }


IceTable.delete_where = delete_where
IceTable.merge_into = merge_into
IceTable.update_where = update_where


def _write_delete_sidecar(tbl: IceTable, prefix: str, df: DataFrame):
    """Shared sidecar-file protocol for delete files: write the rows
    (sorted, single file) under data/, return (paths, row_count,
    pyarrow table of the written rows). Reading the just-written local
    file back is ONE tiny IO instead of re-running the planning scan
    per derived quantity (row count, distinct targets) — the full-table
    predicate scan runs exactly once."""
    import os as _os
    import uuid as _uuid

    import pyarrow.parquet as _pq

    from iceberg_workshop_spark.icetbl import meta as M2

    ddir = _os.path.join(
        tbl.meta.location, M2.DATA_DIR, f"{prefix}-{_uuid.uuid4().hex[:12]}"
    )
    df.coalesce(1).write.mode("overwrite").parquet(ddir)
    paths = [
        _os.path.join(root, n)
        for root, _d, names in _os.walk(ddir)
        for n in names
        if n.endswith(".parquet")
    ]
    tables = [_pq.read_table(p) for p in paths]
    import pyarrow as _pa

    content = tables[0] if len(tables) == 1 else _pa.concat_tables(tables)
    return paths, content.num_rows, content


def _pos_delete_entries(tbl: IceTable, paths, n_pos: int, content) -> list[dict]:
    """Manifest entries for a positional delete sidecar written by
    ``_write_delete_sidecar``. Each records the delete's TARGET data
    files (Iceberg keeps the same information in manifest stats):
    readers then apply the (path, pos) anti-join only to the named
    files and scan every other file clean — no _metadata generation,
    no anti-join on the untouched part of the table. Metadata-scale:
    one normalized path per touched file."""
    target_paths = sorted(
        {_norm_path(u) for u in content.column("file_path").unique().to_pylist()}
    )
    dseq = int(tbl.meta.properties.get("last-sequence-number", "0")) + 1
    return [
        {
            "path": p,
            "record_count": n_pos,
            "kind": "pos",
            "dseq": dseq,
            "target_paths": target_paths,
        }
        for p in paths
    ]


def delete_where_mor(
    tbl: IceTable, condition: str, keys: list[str]
) -> dict[str, int]:
    """Merge-on-read DELETE (Iceberg v2 equality deletes): instead of
    rewriting affected data files (CoW, `delete_where`), write a tiny
    parquet of the matching key tuples and commit it as an
    equality-delete file. Readers anti-join it against strictly older
    data (sequence rule in ``IceTable._apply_deletes``); a later
    `rewrite_equality_deletes` materializes and drops it.

    At 100 TB this is the low-latency delete path: the commit cost is
    O(|matching keys|), independent of table size — GDPR-style point
    deletes land in seconds, and the read-time anti-join stays cheap
    because the delete side is a broadcast-sized key list. All delete
    files of a table must share one equality key set (`keys`) —
    enforced loudly here, because the reader resolves the key columns
    from a single entry and a silently-mixed key set would misapply
    every later delete."""
    if tbl.meta.current_snapshot_id is not None:
        for d in tbl.meta.delete_entries(
            tbl.meta.snapshot(tbl.meta.current_snapshot_id)
        ):
            if d.get("kind", "eq") == "eq" and sorted(
                tbl._eq_delete_current_keys(d)
            ) != sorted(keys):
                raise ValueError(
                    "equality-delete key set mismatch: table already "
                    "carries deletes keyed on "
                    f"{tbl._eq_delete_current_keys(d)}, got {list(keys)}; "
                    "run rewrite_equality_deletes() first to materialize "
                    "the old deletes before changing the key set"
                )
    matching = tbl.read().filter(condition).select(*keys).distinct()
    return _commit_eq_delete(tbl, matching, keys)


def delete_keys_mor(
    tbl: IceTable, keys_df: DataFrame, keys: list[str]
) -> dict[str, int]:
    """Equality-delete by EXPLICIT key set — the CDC/changelog-consumer
    form of ``delete_where_mor``: the caller already holds the key
    tuples (a changelog's delete rows, an upstream tombstone feed), so
    no table scan plans the delete. Same key-set guard, same sidecar
    protocol, same sequence rule; commit cost is O(|keys|) regardless
    of table size — the index-maintenance primitive a derived table
    (e.g. a persisted ANN index) needs to track its base's deletes."""
    if tbl.meta.current_snapshot_id is not None:
        for d in tbl.meta.delete_entries(
            tbl.meta.snapshot(tbl.meta.current_snapshot_id)
        ):
            if d.get("kind", "eq") == "eq" and sorted(
                tbl._eq_delete_current_keys(d)
            ) != sorted(keys):
                raise ValueError(
                    "equality-delete key set mismatch: table already "
                    "carries deletes keyed on "
                    f"{tbl._eq_delete_current_keys(d)}, got {list(keys)}; "
                    "run rewrite_equality_deletes() first to materialize "
                    "the old deletes before changing the key set"
                )
    # Validate the caller's key column TYPES against the table schema
    # at write time: the read-time anti-join compares sidecar columns
    # to table columns, and a mistyped key (string keys against a
    # bigint column) would rely on implicit casts that can silently
    # fail to match — resurrecting deleted rows — instead of erroring
    # here where the bad feed is visible.
    from pyspark.sql.types import StructType

    declared = {
        f.name: f.dataType for f in StructType.fromDDL(tbl.meta.schema_ddl).fields
    }
    got = {f.name: f.dataType for f in keys_df.select(*keys).schema.fields}
    for k in keys:
        if k not in declared:
            raise ValueError(
                f"equality-delete key {k!r} is not a column of the table "
                f"schema ({tbl.meta.schema_ddl})"
            )
        if got[k] != declared[k]:
            raise TypeError(
                f"equality-delete key {k!r} has type "
                f"{got[k].simpleString()} but the table declares "
                f"{declared[k].simpleString()}; cast the key feed "
                "explicitly — an implicitly-cast sidecar can silently "
                "miss rows at read time"
            )
    return _commit_eq_delete(tbl, keys_df.select(*keys).distinct(), keys)


def _commit_eq_delete(
    tbl: IceTable, matching: DataFrame, keys: list[str]
) -> dict[str, int]:
    paths, n_keys, _content = _write_delete_sidecar(tbl, "eqdel", matching)
    # dseq is stamped from the base seen at PLAN time and deliberately
    # NOT re-stamped when `_mor_append_rebase` retries the commit onto
    # N concurrent append winners. After a rebase the delete's dseq can
    # therefore equal (collide with) winner #1's data sequence — that
    # is the intent: equality deletes apply only to STRICTLY older data
    # (see `IceTable._apply_deletes`), so winner rows survive, giving
    # the serializable order delete-then-append. The resulting
    # invariant — an entry's dseq may be LESS than its committing
    # snapshot's own sequence number — is pinned by
    # tests/test_concurrency.py's concurrent MoR cases.
    dseq = int(tbl.meta.properties.get("last-sequence-number", "0")) + 1
    entries = [
        {"path": p, "record_count": n_keys, "keys": list(keys), "dseq": dseq}
        for p in paths
    ]
    existing = _current_deletes(tbl)
    # Delta commit: the head's data AND delete manifests carry by
    # reference; only the new sidecar entries are written — the commit
    # never materializes the live file list (O(|keys|) at any table
    # size; the rebase hook derives the base path set lazily, only on
    # an actual conflict).
    tbl._commit_snapshot_delta(
        [],
        [],
        "delete-mor",
        added_deletes=entries,
        rebase=_mor_append_rebase(
            tbl, tbl.meta, tbl.meta.current_snapshot_id, existing, [], entries
        ),
    )
    return {"delete_files_added": len(entries), "keys_deleted": n_keys}


IceTable.delete_where_mor = delete_where_mor
IceTable.delete_keys_mor = delete_keys_mor


def insert_overwrite(tbl: IceTable, df: DataFrame) -> dict[str, int]:
    """INSERT OVERWRITE with Iceberg's *dynamic* partition-overwrite
    semantics (the A8 partition-insert family,
    `sql/hive_partitioning_examples.sql:21-41`): only partitions
    present in the incoming data are replaced; every other partition's
    files carry into the new snapshot by identity. An unpartitioned
    table (empty current spec) is replaced whole.

    Replacement is by partition-tuple equality under the file's own
    spec, so files written under earlier specs (different keys) never
    match a current-spec incoming tuple and survive — consistent with
    the per-era read/prune machinery.

    At 100 TB: the commit rewrites exactly the touched partitions'
    worth of data and zero bytes of any other partition; the metadata
    swap is O(files), not O(rows).
    """
    spec_id = tbl.meta.current_spec_id
    spec = tbl.meta.specs[spec_id]
    current = tbl.meta.current_files()
    new_files = tbl._write_files(df, spec, spec_id)
    if not spec:
        # unpartitioned: replace whole — O(1) truncate of the parent's
        # manifests plus the new files
        tbl._commit_snapshot_delta(new_files, [], "overwrite", truncate=True)
        return {
            "files_total": len(current),
            "files_replaced": len(current),
            "files_added": len(new_files),
        }
    incoming = {
        tuple(sorted((f.get("partition") or {}).items())) for f in new_files
    }
    replaced = [
        f
        for f in current
        if tuple(sorted((f.get("partition") or {}).items())) in incoming
    ]
    tbl._commit_snapshot_delta(new_files, replaced, "overwrite")
    return {
        "files_total": len(current),
        "files_replaced": len(replaced),
        "files_added": len(new_files),
    }


IceTable.insert_overwrite = insert_overwrite


def delete_where_pos(tbl: IceTable, condition: str) -> dict[str, int]:
    """Merge-on-read DELETE via Iceberg v2 POSITIONAL delete files
    (`sql/update_iceberg_v2_examples.sql:1-18` is the v2 row-level-ops
    surface; `limitations.md:44-46` shows v2 interop): record
    (file_path, pos) pairs for the matching rows instead of either
    rewriting data files (CoW) or writing key tuples (equality MoR).
    This is the flavor real engines write for copy-on-read DELETEs
    over unsorted/non-key predicates — it needs no equality key set
    and composes with equality deletes on the same table.

    Readers anti-join on (file_path, row ordinal); because data-file
    paths are never reused, path+pos matching is sequence-safe by
    construction (a re-inserted row lives in a new file). The row
    ordinal comes from Spark's hidden ``_metadata.row_index``, which
    is the parquet row position — the exact field Iceberg's
    positional deletes record.

    At 100 TB: commit cost is O(|matching rows|) positions, not
    O(table); the read-time anti-join is keyed on (path, pos) so it
    co-partitions with the scan and AQE broadcasts small delete sets.
    """
    from pyspark.sql import functions as F

    files = tbl.meta.current_files()
    # Raw-file positions: rows already masked by existing deletes may
    # be re-recorded — a harmless idempotent no-op at read time, and
    # it keeps the planning read free of the delete anti-join.
    matching = (
        tbl._read_files(files, with_pos=True)
        .filter(condition)
        .select(
            F.col("__path").alias("file_path"),
            F.col("__pos").alias("pos"),
        )
    )
    # Iceberg sorts position deletes by (file_path, pos) so readers
    # can merge-apply them; keep that layout. The planning scan runs
    # ONCE (the write); row count and the target list come from
    # reading the tiny written file back.
    paths, n_pos, content = _write_delete_sidecar(
        tbl, "posdel", matching.orderBy("file_path", "pos")
    )
    entries = _pos_delete_entries(tbl, paths, n_pos, content)
    tbl._commit_snapshot_delta(
        [],
        [],
        "delete-mor",
        added_deletes=entries,
        rebase=_mor_append_rebase(
            tbl, tbl.meta, tbl.meta.current_snapshot_id, _current_deletes(tbl), [], entries
        ),
    )
    return {"delete_files_added": len(entries), "positions_deleted": n_pos}


def update_where_mor(
    tbl: IceTable, condition: str, set_exprs: dict[str, str]
) -> dict[str, int]:
    """Merge-on-read UPDATE (Iceberg's ``write.update.mode =
    merge-on-read``): instead of rewriting whole data files (CoW), ONE
    commit adds (a) a positional delete file masking the matching rows
    and (b) new data files holding their updated images — Iceberg's
    exact v2 recipe, commit cost O(matching rows).

    The matching scan reads THROUGH the current delete set
    (``_apply_deletes(..., keep_pos=True)``): a row already masked by
    an earlier MoR delete must not be resurrected by the insert side.

    At 100 TB: the planning scan touches each file once with the
    (path, pos) metadata columns attached; read-time cost afterwards
    is the targeted (path, pos) anti-join plus the appended files —
    until a rewrite_position_deletes/rewrite_data_files pass
    materializes them.
    """
    from pyspark.sql import functions as F

    files = tbl.meta.current_files()
    dels = _current_deletes(tbl)
    cols = tbl._column_names()
    live = (
        tbl._apply_deletes(files, dels, keep_pos=True)
        .filter(condition)
        .persist()
    )
    try:
        positions = live.select(
            F.col("__path").alias("file_path"), F.col("__pos").alias("pos")
        )
        updated = live.select(
            *[
                F.expr(set_exprs[c]).alias(c) if c in set_exprs else F.col(c)
                for c in cols
            ]
        )
        spec_id = tbl.meta.current_spec_id
        new_files = tbl._write_files(updated, tbl.meta.specs[spec_id], spec_id)
        paths, n_pos, content = _write_delete_sidecar(
            tbl, "posdel", positions.orderBy("file_path", "pos")
        )
    finally:
        live.unpersist()
    if n_pos == 0:
        # nothing matched: drop the empty sidecar-dir artifacts and
        # leave the table untouched (no empty commit)
        return {"positions_deleted": 0, "files_added": 0}
    entries = _pos_delete_entries(tbl, paths, n_pos, content)
    tbl._commit_snapshot_delta(
        new_files,
        [],
        "update-mor",
        added_deletes=entries,
        rebase=_mor_append_rebase(
            tbl, tbl.meta, tbl.meta.current_snapshot_id, dels, new_files, entries
        ),
    )
    return {"positions_deleted": n_pos, "files_added": len(new_files)}


IceTable.delete_where_pos = delete_where_pos

def merge_into_mor(
    tbl: IceTable, source: DataFrame, on: list[str]
) -> dict[str, int]:
    """Merge-on-read MERGE (Iceberg's ``write.merge.mode =
    merge-on-read``): matched target rows are masked by ONE positional
    delete file; their updated images plus the unmatched-source
    inserts land as appended data files — all in a single commit, no
    data-file rewrite. Takes the same ``__delete`` effect column as
    ``merge_into``. At 100 TB the commit cost is O(|matched| +
    |inserts|) rows."""
    return merge(tbl, source, _upsert_effects(tbl, source, on), mode="merge-on-read")


IceTable.update_where_mor = update_where_mor
IceTable.merge_into_mor = merge_into_mor
