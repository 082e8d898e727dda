"""Shared versioned-increment plumbing: the one implementation of the
append-only increment log.

Three maintained states follow the same on-disk discipline — the BM25
postings index (operators/bm25_index.py, maintainer #25), the near-dup
LSH index (operators/neardup_index.py, maintainer #26) and the session
store's ``frozen`` component (streaming/session_store.py, maintainer
#24):

- a state is a set of COMPONENTS (``postings``/``doclens``;
  ``bands``/``bucket_counts``/``shingles``/``pairs``; ``frozen``), each
  a directory of ``inc=<n>`` increments, one per ingest, each increment
  carrying its own ``_SUCCESS`` commit marker; increments order by
  their NUMBER (``inc=100000`` is newer than ``inc=99999``);
- readers require every component to hold the SAME committed increment
  set (fail closed on any mismatch — an ingest interrupted between
  component writes must never silently mis-serve);
- a re-driven increment overwrites in place (replay-idempotent; the
  streaming maintainers key ``inc`` on batch_id);
- COMPACTION folds all increments EXCEPT THE NEWEST into the fixed
  ``inc=00000`` via tmp-then-swap: the folded union of every component
  is written to a ``compact_tmp`` sibling first (committed, with a
  ``_folded.txt`` manifest naming exactly the folded leaves), then the
  MANIFESTED ``inc=`` dirs are deleted and the tmp dirs renamed in
  component order. The newest increment is deliberately left alone —
  it is the only one a crash-replayed micro-batch can overwrite, and
  folding it would double its rows on redelivery. Every crash point
  re-enters: a half-written tmp set is discarded (increments intact);
  a fully committed tmp set resumes the delete+rename; a mid-rename
  crash leaves components mismatched — reads FAIL CLOSED until the
  next compact call completes the remaining renames. A crash inside
  one component's swap (leaves deleted, staging not yet renamed) also
  fails reads closed, through the staging's manifest naming a leaf
  that is gone; that is the only signal a one-component log (the
  session store's ``frozen``) gives. The manifest is
  what makes the swap safe against a VIOLATED quiescence contract
  (r15 ADVICE): deletion is confined to the leaves actually folded
  into the tmp, so an increment that lands between the fold and the
  finish is never rmtree'd — the finish detects it (more than one
  non-manifested leaf) BEFORE deleting anything and, when no rename
  has happened yet, discards the stale tmps so the next fold rebuilds
  with the extra increments included (self-healing, r16 ADVICE); only
  a violation discovered mid-rename — a genuinely torn index — fails
  loudly.

The session store's dead-letter drain stages to ``repair_tmp`` and
swaps with the same :func:`finish_swap`, after its own commit point,
so never through the compaction's discard-on-violation audit.

This module is the single implementation of that discipline and the
only code that knows the ``inc=<n>`` layout; its users contribute only
their component list, per-component partition columns (and a schema,
when they declare one), and the domain math.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

COMPACT_TMP = "compact_tmp"  # does not start with "inc=": never listed
_FOLDED = "_folded.txt"  # underscore prefix: invisible to parquet reads


def increment_leaf(inc: int) -> str:
    """The directory name of increment ``inc``."""
    return f"inc={inc:05d}"


def _number(leaf: str) -> int:
    return int(leaf.split("=")[1])


COMPACT_TARGET = increment_leaf(0)


def write_manifest(d: str, names: list[str]) -> None:
    """Record ``names`` — what a staged fold replaces — in ``d``."""
    with open(os.path.join(d, _FOLDED), "w") as fh:
        fh.write("\n".join(names))


def read_manifest(d: str) -> list[str] | None:
    """The names recorded in ``d``; None when it has no manifest."""
    try:
        with open(os.path.join(d, _FOLDED)) as fh:
            return [x for x in fh.read().split("\n") if x]
    except FileNotFoundError:
        return None


def drop_manifest(d: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(d, _FOLDED))


def increments(path: str, comp: str) -> list[str]:
    """``inc=<n>`` leaf names present under a component, in increment
    order."""
    d = os.path.join(path, comp)
    if not os.path.isdir(d):
        return []
    return sorted((x for x in os.listdir(d) if x.startswith("inc=")),
                  key=_number)


def _filtered(incs: list[str], before_inc: int | None) -> list[str]:
    if before_inc is None:
        return incs
    return [x for x in incs if _number(x) < before_inc]


def _check_no_torn_swap(path: str, comp: str, kind: str,
                        recovery: dict[str, str]) -> None:
    """Fail closed on a swap that :func:`finish_swap` left half done: a
    committed staging whose manifest names a leaf that is gone. The
    leaves it folded are (partly) deleted and the fold is not yet
    ``inc=00000``, so the listed increments are only part of the
    table. One component can never mismatch, so this is the only
    signal a single-component log gives."""
    d = os.path.join(path, comp)
    for tmp, call in recovery.items():
        staging = os.path.join(d, tmp)
        if not _staged(staging):
            continue
        gone = [x for x in read_manifest(staging)
                if not os.path.isdir(os.path.join(d, x))]
        if gone:
            raise ValueError(
                f"{kind} index under {path} has a half-finished swap: "
                f"{comp}/{tmp} is committed but its folded leaves {gone} "
                "are already deleted, so the increments serve only part "
                f"of the table; run {call} to finish the swap "
                "before reading")


def check_components_committed(
        path: str, comps: tuple[str, ...], kind: str,
        before_inc: int | None = None,
        recovery: dict[str, str] | None = None) -> list[str]:
    """The fail-closed reader guard: every component's (optionally
    ``before_inc``-scoped) increment set must match exactly, no
    component may hold a staging whose swap stopped after deleting its
    folded leaves, and every increment must carry its commit marker.
    Returns the committed increment leaves. ``kind`` names the index in
    error messages; ``recovery`` maps each staging directory name the
    owner uses to the call that finishes its swap (default: the
    compaction's ``compact_tmp``)."""
    sets = {c: _filtered(increments(path, c), before_inc) for c in comps}
    first = sets[comps[0]]
    if any(s != first for s in sets.values()):
        raise ValueError(
            f"{kind} index under {path} has mismatched increments "
            f"({sets}) — an export or append was interrupted between "
            "components; re-drive the increment before reading")
    recovery = recovery or {COMPACT_TMP: "the compaction"}
    for c in comps:
        _check_no_torn_swap(path, c, kind, recovery)
        for x in first:
            if not os.path.exists(os.path.join(path, c, x, "_SUCCESS")):
                raise ValueError(
                    f"{kind} index under {path} is missing the commit "
                    f"marker for {c}/{x} — the increment write was "
                    "interrupted; re-drive it before reading")
    return first


def next_increment(path: str, comp: str) -> int:
    incs = increments(path, comp)
    return 1 + _number(incs[-1]) if incs else 0


def read_component(spark: SparkSession, path: str, comp: str,
                   incs: list[str],
                   schema: str | None = None) -> DataFrame | None:
    """Read a component across increments with ``basePath`` so ``inc``
    is a discovered partition column (dropped), preserving any deeper
    partition columns for pruning. ``schema`` (the owner's declared
    data schema, if any) skips the footer-inference job. None when
    ``incs`` is empty."""
    if not incs:
        return None
    reader = spark.read.option("basePath", os.path.join(path, comp))
    if schema is not None:
        reader = reader.schema(schema)
    return (reader.parquet(*[os.path.join(path, comp, x) for x in incs])
            .drop("inc"))


def _write(df: DataFrame, d: str, partition_by: tuple[str, ...]) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(d)


def write_increment(df: DataFrame, path: str, comp: str, inc: int,
                    partition_by: tuple[str, ...] = ()) -> None:
    _write(df, os.path.join(path, comp, increment_leaf(inc)), partition_by)


def copy_increments(src: str, dst: str, comp: str,
                    incs: list[str]) -> None:
    """Copy the ``incs`` leaves of ``comp`` from state dir ``src`` to
    ``dst``, replacing any leaf of the same name there."""
    for x in incs:
        target = os.path.join(dst, comp, x)
        shutil.rmtree(target, ignore_errors=True)
        shutil.copytree(os.path.join(src, comp, x), target)


def stage_fold(df: DataFrame, path: str, comp: str, folded: list[str],
               partition_by: tuple[str, ...] = (),
               tmp: str = COMPACT_TMP) -> None:
    """Write ``df`` — the fold of the ``folded`` leaves — to the
    component's staging sibling ``tmp``, then its manifest. The
    manifest comes AFTER the Spark write (overwrite wipes the dir):
    it records exactly which leaves this staging replaces, so
    :func:`finish_swap` deletes those and only those."""
    d = os.path.join(path, comp, tmp)
    _write(df, d, partition_by)
    write_manifest(d, folded)


def _staged(d: str) -> bool:
    # A staging is committed only once BOTH the Spark marker and the
    # fold manifest exist — a crash between them leaves a staging whose
    # folded set is unknowable, which must be discarded (safe: nothing
    # is deleted until finish_swap).
    return (os.path.exists(os.path.join(d, "_SUCCESS"))
            and os.path.exists(os.path.join(d, _FOLDED)))


def finish_swap(path: str, comp: str, tmp: str = COMPACT_TMP) -> None:
    """Swap a committed staging in: delete exactly its manifested
    leaves, rename it to ``inc=00000``, drop the manifest. Re-entrant
    at every crash point: no-op when no staging exists (the rename
    already happened); a torn staging (no marker or manifest) is
    discarded, since nothing was deleted yet."""
    d = os.path.join(path, comp, tmp)
    if not os.path.isdir(d):
        return
    if not _staged(d):
        shutil.rmtree(d)
        return
    for leaf in read_manifest(d):
        # FileNotFoundError: deleted by a prior finish attempt
        with contextlib.suppress(FileNotFoundError):
            shutil.rmtree(os.path.join(path, comp, leaf))
    # The manifest rides into inc=00000 through the atomic rename
    # (removing it first would open a crash window where folded leaves
    # are deleted but the staging looks torn and gets discarded);
    # underscore files are invisible to parquet reads.
    target = os.path.join(path, comp, COMPACT_TARGET)
    os.rename(d, target)
    drop_manifest(target)


def compact_components(
        spark: SparkSession, path: str,
        comps: dict[str, tuple[str, ...]], kind: str) -> int:
    """Fold all increments except the newest into ``inc=00000`` across
    every component of ``comps`` (name -> partition columns) — the
    read-amplification control (module docstring has the crash-safety
    argument). Returns the number of increments folded (0 = no-op)."""
    names = tuple(comps)

    def tmp(c: str) -> str:
        return os.path.join(path, c, COMPACT_TMP)

    present = [c for c in names if os.path.isdir(tmp(c))]
    # Recovery disambiguation relies on the FIXED component order used
    # for both tmp writes and renames:
    # - a PARTIAL tmp set containing the first component = crash
    #   between tmp writes (nothing deleted/renamed yet): discard the
    #   tmps and restart from the intact increments;
    # - a tmp set missing the first component = crash mid-rename (the
    #   absent components' renames completed, deletions done): finish
    #   the remaining renames;
    # - the FULL committed set = crash before/during delete+rename:
    #   finish;
    # - any half-written tmp (no marker) only occurs before renames
    #   start, so it always falls in the discard case.
    if present and (not all(_staged(tmp(c)) for c in present)
                    or (names[0] in present
                        and len(present) < len(names))):
        for c in present:
            shutil.rmtree(tmp(c))
        present = []
    if present:
        n = len(read_manifest(tmp(present[0])))
        completed = _finish_compaction(path, comps)
        return n if completed and len(present) == len(names) else 0

    incs = check_components_committed(path, names, kind)
    folded = incs[:-1]
    if not folded or folded == [COMPACT_TARGET]:
        return 0
    for c, parts in comps.items():
        stage_fold(read_component(spark, path, c, folded), path, c, folded,
                   parts)
    return len(folded) if _finish_compaction(path, comps) else 0


def _finish_compaction(path: str,
                       comps: dict[str, tuple[str, ...]]) -> bool:
    """:func:`finish_swap` every pending component, in component order
    (a mid-sequence crash leaves mismatched components, which fail
    closed; the next call completes only the missing swaps). First the
    quiescence contract is audited for EVERY pending component: at fold
    time exactly one leaf — the then-newest — stays outside the fold,
    so more than one non-manifested leaf means ingests ran
    mid-compaction. Then, if no swap has happened yet, the committed
    tmps are DISCARDED (increments intact: self-healing, the next fold
    includes the extras — r16 ADVICE); mid-rename, the index is torn
    and the call raises with the manual recovery spelled out.

    Returns True when the swap completed, False when it was aborted by
    the discard path (nothing changed on disk except the tmps).
    """
    names = tuple(comps)
    pending = [c for c in names
               if os.path.isdir(os.path.join(path, c, COMPACT_TMP))]
    violated = []
    for c in pending:
        folded = read_manifest(os.path.join(path, c, COMPACT_TMP))
        extras = [x for x in increments(path, c) if x not in folded]
        if len(extras) > 1:
            violated.append((c, extras))
    if violated:
        if len(pending) == len(names):
            # Nothing deleted or renamed yet: discarding the tmps is
            # safe and restores the pre-compaction state exactly.
            for c in pending:
                shutil.rmtree(os.path.join(path, c, COMPACT_TMP))
            return False
        raise ValueError(
            f"compaction of {path} found increments beyond the fold "
            f"manifest ({violated}) AFTER some components were already "
            f"renamed (pending: {pending}) — ingests ran while a "
            "mid-rename recovery was in flight; the index is torn. "
            "Manual recovery: finish the pending components by hand "
            "(delete each one's manifested inc= leaves, then rename "
            "its compact_tmp to inc=00000), or restore from the "
            "renamed components' inc=00000")
    for c in pending:
        finish_swap(path, c)
    return True
