"""The sync engine — the reference's top-level capability, re-expressed
as one DataFrame plan per sync, executed once.

``syncFilesystem`` (``src/DataWarehouse.js:67-258``) walks rows one at a
time through nine imperative steps; here the same semantics are a
*plan*: dedup → cascading match → orphan second-chance → action
classification, all declarative, so Catalyst fuses the steps and the
whole sync is a handful of shuffles regardless of row count.

:func:`plan_filesystem_sync` runs that plan once and returns the action
table materialized as a local checkpoint.  The action table is data —
auditable, countable, retryable: :func:`sync_report` aggregates the
snapshot and :func:`apply_file_actions` scans it, so both describe the
same actions even if the tree changes between the two calls, and a
retried sink task replays the same rows instead of re-planning against
a re-scanned tree.  The sink applies it in bulk with bounded concurrency
(the reference fires unbounded per-row RPCs, ``:238-244``).

The checkpoint's blocks live in executor storage.  Spark's context
cleaner releases them once the caller drops the DataFrame and the JVM
collects it.  The lineage above the snapshot is cut, so a lost executor
fails the sync (its blocks are gone) rather than silently re-planning.

Action vocabulary (SURVEY §2.11):

- ``insert``  — file with no project (ref ``:235-244``) or unclaimed
  duplicate alias (step-8 semantics, ``:211-221``)
- ``update``  — matched but path/md5 differ (ref ``:260-291``; unlike the
  reference, the *new* md5 is what lands — SURVEY §7 watch-list)
- ``keep``    — matched and identical, or already archived with no file
- ``archive`` — live project with no file (soft delete, ref ``:198-201``)

A sync over the state its own actions produced plans only ``keep`` rows.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.operators.dedup import mark_duplicates
from gather_datawarehouse_sync_spark.operators.joins import (
    cascading_join,
    pick_one_per_group,
)
from gather_datawarehouse_sync_spark.operators.hierarchy import path_categories
from gather_datawarehouse_sync_spark.operators.reconcile import reconcile
from gather_datawarehouse_sync_spark.sources.rest import (
    Transport,
    foreach_partition_writer,
)

#: match-tag vocabulary (ref ``:551``, ``:565``)
EXACT_MATCH = "exactMatch"
MD5_MATCH = "md5Match"


def _flatten_projects(projects: DataFrame) -> DataFrame:
    """P1/P2 (ref ``:79-91``): keep projects carrying file metadata and
    project the nested struct to flat columns."""
    return projects.filter(F.col("metadata.file").isNotNull()).select(
        F.col("id").alias("project_id"),
        F.col("metadata.file.file").alias("p_file"),
        F.col("metadata.file.md5").alias("p_md5"),
        F.coalesce(F.col("archived"), F.lit(False)).alias("p_archived"),
    )


def _drifted(file: str, md5: str) -> Column:
    """The project's recorded path or md5 differs from the file's."""
    return ~F.col("p_file").eqNullSafe(F.col(file)) | ~F.col("p_md5").eqNullSafe(
        F.col(md5)
    )


def plan_filesystem_sync(
    files: DataFrame,
    projects: DataFrame,
    archived_projects: DataFrame | None = None,
) -> DataFrame:
    """Classify every file and project into one sync action.

    Inputs: ``files`` = the inventory ``(file, md5, size, ino)`` (from
    :func:`~gather_datawarehouse_sync_spark.sources.filescan.scan_files`);
    ``projects`` / ``archived_projects`` with the nested
    ``metadata.file`` shape (``sources.rest.PROJECT_SCHEMA``).

    Returns one DataFrame, one row per file *or* orphaned project:
    ``(action, match, file, md5, size, ino, alias, project_id, p_file,
    p_md5)``, executed once here and returned as a local checkpoint
    (see the module docstring); every project lands in exactly one row.

    Mirrors ``syncFilesystem``'s nine steps (SURVEY §3.2) with the
    documented deterministic deviations: canonical duplicate = min path;
    greedy claims replaced by min-project-id picks.
    """
    all_projects = _flatten_projects(
        projects if archived_projects is None else projects.unionByName(archived_projects)
    )

    # D1: annotate duplicates; canonical (deterministic: min path) rows
    # are the "mains" the match loop runs over (ref :99, :138-140)
    marked = mark_duplicates(files, hash_col="md5", id_col="ino", order_col="file")
    mains = marked.filter(F.col("alias").isNull())
    aliases = marked.filter(F.col("alias").isNotNull())

    # J1 cascade: exact path first, md5 only as fallback (ref :538-572);
    # then a deterministic ≤1-project-per-file pick replacing the
    # reference's first-in-array-order [0]
    matched = cascading_join(
        mains,
        all_projects,
        tiers=[
            (EXACT_MATCH, lambda l, r: l["file"] == r["p_file"]),
            (MD5_MATCH, lambda l, r: l["md5"] == r["p_md5"]),
        ],
        match_col="match",
        no_match_label="none",
    )
    matched = pick_one_per_group(matched, ["ino"], ["project_id"])

    # a project may match several mains (same path can't repeat, but its
    # md5 might): keep ONE claim per project — exactMatch claims beat
    # md5Match claims (r16 review find: an ino-only pick let a
    # smaller-ino md5Match steal the project from its path-exact main,
    # which then re-inserted as a path-duplicate project; tier priority
    # preserves the cascade's exact-path-first intent), ties to min ino
    claim_ranked = pick_one_per_group(
        matched.filter(F.col("project_id").isNotNull()),
        ["project_id"],
        [(F.col("match") != EXACT_MATCH).cast("int"), F.col("ino")],
    ).select(F.col("ino").alias("__claimed_ino"))
    matched = matched.join(
        claim_ranked, matched.ino == claim_ranked.__claimed_ino, "left"
    ).withColumn(
        "match",
        F.when(
            F.col("project_id").isNotNull() & F.col("__claimed_ino").isNull(),
            F.lit("none"),
        ).otherwise(F.col("match")),
    )
    # demotion nulls the WHOLE project tuple, not just the id: a
    # claim-stolen main keeps its insert action either way (match ==
    # "none" wins the classification), but stale p_file/p_md5 on its
    # row would leak the stolen project's identity into the auditable
    # action table, inconsistent with every other insert row (all NULL)
    demoted = F.col("match") == "none"
    matched = (
        matched.withColumn(
            "project_id", F.when(demoted, F.lit(None)).otherwise(F.col("project_id"))
        )
        .withColumn(
            "p_file", F.when(demoted, F.lit(None)).otherwise(F.col("p_file"))
        )
        .withColumn(
            "p_md5", F.when(demoted, F.lit(None)).otherwise(F.col("p_md5"))
        )
        .drop("__claimed_ino")
    )

    # M1 diff: matched mains → update when path or md5 drifted (ref
    # :260-291 — and unlike the reference we persist the new md5), else keep
    main_actions = matched.withColumn(
        "action",
        F.when(F.col("match") == "none", F.lit("insert"))  # J4 (ref :162-165)
        .when(_drifted("file", "md5"), F.lit("update"))
        .otherwise(F.lit("keep")),
    )

    # J5 orphan pass (ref :178-203): projects no main claimed get a
    # second chance against the *alias* files, matched on md5 (the alias
    # set shares content with its canonical); among an orphan's
    # candidates the alias at its recorded path comes first, so orphans
    # already tracking different copies of one content keep them
    processed = main_actions.filter(F.col("project_id").isNotNull()).select(
        F.col("project_id").alias("__pid")
    )
    orphans = all_projects.join(
        processed, all_projects.project_id == processed.__pid, "left_anti"
    )
    alias_match = pick_one_per_group(
        orphans.join(
            aliases.select(
                F.col("file").alias("a_file"),
                F.col("md5").alias("a_md5"),
                F.col("size").alias("a_size"),
                F.col("ino").alias("a_ino"),
                F.col("alias").alias("a_alias"),
            ),
            F.col("p_md5") == F.col("a_md5"),
            "left",
        ),
        ["project_id"],
        [(~F.col("a_file").eqNullSafe(F.col("p_file"))).cast("int"), F.col("a_ino")],
    )
    # one alias file can satisfy only one orphan (greedy→deterministic:
    # min project_id wins the alias); losers fall through to archive
    winners = pick_one_per_group(
        alias_match.filter(F.col("a_ino").isNotNull()),
        ["a_ino"],
        ["project_id"],
    )
    losers = orphans.join(
        winners.select(F.col("project_id").alias("__wpid")),
        orphans.project_id == F.col("__wpid"),
        "left_anti",
    )

    # a winner already recording the alias's path and md5 (the state a
    # previous sync's update left) keeps; an already-archived loser keeps
    orphan_actions = winners.select(
        F.when(_drifted("a_file", "a_md5"), F.lit("update"))
        .otherwise(F.lit("keep"))
        .alias("action"),
        F.lit(MD5_MATCH).alias("match"),
        F.col("a_file").alias("file"),
        F.col("a_md5").alias("md5"),
        F.col("a_size").alias("size"),
        F.col("a_ino").alias("ino"),
        F.col("a_alias").alias("alias"),
        "project_id",
        "p_file",
        "p_md5",
    ).unionByName(
        losers.select(
            F.when(F.col("p_archived"), F.lit("keep"))
            .otherwise(F.lit("archive"))
            .alias("action"),
            F.lit("none").alias("match"),
            F.lit(None).cast("string").alias("file"),
            F.lit(None).cast("string").alias("md5"),
            F.lit(None).cast("long").alias("size"),
            F.lit(None).cast("long").alias("ino"),
            F.lit(None).cast("long").alias("alias"),
            "project_id",
            "p_file",
            "p_md5",
        )
    )

    # step 8 (ref :211-221): aliases no orphan claimed become new projects
    claimed_aliases = orphan_actions.filter(F.col("ino").isNotNull()).select(
        F.col("ino").alias("__aino")
    )
    leftover = aliases.join(
        claimed_aliases, aliases.ino == claimed_aliases.__aino, "left_anti"
    ).select(
        F.lit("insert").alias("action"),
        F.lit("none").alias("match"),
        "file",
        "md5",
        "size",
        "ino",
        "alias",
        F.lit(None).cast("long").alias("project_id"),
        F.lit(None).cast("string").alias("p_file"),
        F.lit(None).cast("string").alias("p_md5"),
    )

    cols = [
        "action",
        "match",
        "file",
        "md5",
        "size",
        "ino",
        "alias",
        "project_id",
        "p_file",
        "p_md5",
    ]
    return (
        main_actions.select(*cols)
        .unionByName(orphan_actions.select(*cols))
        .unionByName(leftover.select(*cols))
        .localCheckpoint(eager=True)
    )


def plan_category_sync(
    files: DataFrame,
    server_categories: DataFrame,
    root_category: str = "files",
    iam: str = "gatherbot",
) -> DataFrame:
    """M4 category reconciliation (``syncCategories``, ref ``:392-463``).

    Derives the path-dimension from the inventory (H1/H2) and
    full-outer-diffs it against the server's bot-owned categories on
    ``(type, name)``: missing → ``insert``, matched → ``keep``,
    deprecated → ``delete``.  The reference hard-errors on duplicate
    ``(type, name)`` server rows (``:432-434``); use
    :func:`operators.reconcile.assert_unique_keys` upstream for that.
    """
    fs_cats = path_categories(files, path_col="file", root_category=root_category)
    server = server_categories.filter(F.col("metadata.iam") == iam).select(
        F.col("type"),
        F.col("name"),
        F.col("id").alias("category_id"),
    )
    return reconcile(
        fs_cats.select("type", "name", "short_name", "path", "depth"),
        server,
        keys=["type", "name"],
        compare_cols=[],
    )


def sync_report(actions: DataFrame) -> dict[str, int]:
    """The reference's end-of-run counters (``found/missing/updates``,
    ref ``:230``) from one aggregation over the action snapshot — the SAME
    aggregation as :func:`...operators.reconcile.action_counts`
    (reused, not re-spelled, so the report column/vocabulary cannot
    drift between the two surfaces)."""
    from gather_datawarehouse_sync_spark.operators.reconcile import (
        action_counts,
    )

    return {r["action"]: r["c"] for r in action_counts(actions).collect()}


def apply_file_actions(
    actions: DataFrame,
    transport_factory: Callable[[], Transport],
    max_in_flight: int = 8,
) -> None:
    """Apply an action plan to the warehouse through bounded-concurrency
    REST writers (S8-S10) — insert/update/archive; ``keep`` rows are
    no-ops and never leave the cluster.

    Request shapes follow the reference's sink calls: create with
    derived title + ``isDataset`` (``:351-375``), metadata update
    (``:294-309``), archive (``:376-389``).
    """

    def make_request(row: Any) -> tuple[str, str, Any, str]:
        if row["action"] == "insert":
            title = row["file"].rsplit("/", 1)[-1].rsplit(".", 1)[0]
            body = {
                "metadata": {"file": {"file": row["file"], "md5": row["md5"]}},
                "attributes": {"title": title, "isDataset": True},
            }
            return ("POST", "/projects", body, f"insert-{row['md5']}-{row['file']}")
        if row["action"] == "update":
            body = {
                "id": row["project_id"],
                "metadata": {"file": {"file": row["file"], "md5": row["md5"]}},
            }
            return (
                "PUT",
                f"/projects/{row['project_id']}/metadata",
                body,
                f"update-{row['project_id']}-{row['md5']}",
            )
        if row["action"] == "archive":
            return (
                "POST",
                f"/projects/{row['project_id']}/archive",
                None,
                f"archive-{row['project_id']}",
            )
        raise ValueError(f"unapplicable action: {row['action']}")

    foreach_partition_writer(
        actions.filter(F.col("action").isin("insert", "update", "archive")),
        make_request,
        transport_factory,
        max_in_flight=max_in_flight,
    )
