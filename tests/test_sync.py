"""End-to-end sync scenario tests (SURVEY §5.2's golden-state matrix):
new file / renamed / content change / duplicate / deleted, against
in-memory project tables and a fake REST transport.
"""

from __future__ import annotations

import copy
import hashlib
import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.sources.filescan import scan_files
from gather_datawarehouse_sync_spark.sources.rest import PROJECT_SCHEMA, fetch_paginated
from gather_datawarehouse_sync_spark.sync import (
    apply_file_actions,
    plan_category_sync,
    plan_filesystem_sync,
    sync_report,
)


def _files(spark, rows):
    return spark.createDataFrame(rows, "file string, md5 string, size long, ino long")


def _project_dicts(rows):
    """rows: (id, file, md5[, archived]) with file=None → project without
    metadata.file; the JSON shape the project API serves"""
    return [
        {
            "id": pid,
            "metadata": {
                "iam": "gatherbot",
                "file": None if f is None else {"file": f, "md5": m},
            },
            "archived": bool(archived and archived[0]),
        }
        for pid, f, m, *archived in rows
    ]


def _projects(spark, rows):
    return spark.createDataFrame(_project_dicts(rows), PROJECT_SCHEMA)


def _plan(spark, files, projects):
    df = plan_filesystem_sync(_files(spark, files), _projects(spark, projects))
    return {r["ino"] if r["ino"] is not None else f"p{r['project_id']}": r for r in df.collect()}


def test_new_files_insert(spark):
    out = _plan(spark, [("a/x.shp", "m1", 5, 1)], [])
    assert out[1]["action"] == "insert" and out[1]["match"] == "none"


def test_identical_state_keeps(spark):
    out = _plan(
        spark,
        [("a/x.shp", "m1", 5, 1)],
        [(10, "a/x.shp", "m1")],
    )
    assert out[1]["action"] == "keep"
    assert out[1]["match"] == "exactMatch" and out[1]["project_id"] == 10


def test_renamed_file_md5_match_updates(spark):
    # same bytes, new path → md5 tier catches it, path update flows (ref :264)
    out = _plan(
        spark,
        [("a/renamed.shp", "m1", 5, 1)],
        [(10, "a/old.shp", "m1")],
    )
    assert out[1]["action"] == "update" and out[1]["match"] == "md5Match"
    assert out[1]["project_id"] == 10


def test_content_change_exact_match_updates(spark):
    # same path, new bytes → path tier wins, md5 update flows (ref :282 —
    # the reference only *logs* this; we persist, SURVEY §7 deviation)
    out = _plan(
        spark,
        [("a/x.shp", "NEW", 5, 1)],
        [(10, "a/x.shp", "OLD")],
    )
    assert out[1]["action"] == "update" and out[1]["match"] == "exactMatch"


def test_path_tier_beats_md5_tier(spark):
    # one file, two candidate projects: path match must win (ref :544-554)
    out = _plan(
        spark,
        [("a/x.shp", "m1", 5, 1)],
        [(20, "other.shp", "m1"), (10, "a/x.shp", "zz")],
    )
    assert out[1]["match"] == "exactMatch" and out[1]["project_id"] == 10
    # the md5-only project is orphaned; its md5 matches no *alias* → archive
    assert out["p20"]["action"] == "archive"


def test_deleted_file_archives_project(spark):
    out = _plan(spark, [], [(10, "gone.shp", "m1")])
    assert out["p10"]["action"] == "archive" and out["p10"]["project_id"] == 10


def test_duplicate_files_one_main_one_leftover_insert(spark):
    # two identical files, no projects: canonical (min path) inserts as
    # main; the alias is unclaimed → step-8 leftover insert (ref :211-221)
    out = _plan(
        spark,
        [("b/copy.shp", "m1", 5, 2), ("a/orig.shp", "m1", 5, 1)],
        [],
    )
    assert out[1]["action"] == "insert" and out[1]["alias"] is None
    assert out[2]["action"] == "insert" and out[2]["alias"] == 1


def test_orphan_second_chance_claims_alias(spark):
    # project matches no main but shares md5 with the *alias* copy →
    # update against the alias file instead of archive (ref :178-203)
    out = _plan(
        spark,
        [("a/orig.shp", "m1", 5, 1), ("b/copy.shp", "m1", 5, 2)],
        [(10, "a/orig.shp", "m1"), (20, "b/old-copy.shp", "m1")],
    )
    assert out[1]["action"] == "keep" and out[1]["project_id"] == 10
    assert out[2]["action"] == "update" and out[2]["project_id"] == 20
    assert out[2]["match"] == "md5Match"
    # no leftover insert: the alias was claimed
    assert len(out) == 2


def test_one_project_claims_one_file(spark):
    # two mains share nothing; one project md5-matches main 1 only once
    out = _plan(
        spark,
        [("a/x.shp", "m1", 5, 1), ("b/y.shp", "m2", 5, 2)],
        [(10, "zz", "m1")],
    )
    assert out[1]["action"] == "update" and out[1]["project_id"] == 10
    assert out[2]["action"] == "insert" and out[2]["project_id"] is None


def test_sync_report_counts(spark):
    actions = plan_filesystem_sync(
        _files(spark, [("a.shp", "m1", 1, 1), ("b.shp", "m2", 1, 2)]),
        _projects(spark, [(10, "a.shp", "m1"), (30, "dead.shp", "zz")]),
    )
    assert sync_report(actions) == {"keep": 1, "insert": 1, "archive": 1}


def test_projects_without_file_metadata_ignored(spark):
    # P1 (ref :79-81): projects lacking metadata.file never participate
    out = _plan(spark, [("a.shp", "m1", 1, 1)], [(10, None, None)])
    assert out[1]["action"] == "insert"
    assert "p10" not in out  # not archived either — it was never considered


def _recording_transport(log_path):
    """Sink transport factory appending every request to a JSONL log
    (the writers run in Python workers, so the log is a file)."""

    def factory():
        def transport(method, path, body):
            with open(log_path, "a") as fh:
                fh.write(json.dumps({"m": method, "p": path, "b": body}) + "\n")

        return transport

    return factory


def _calls(log):
    return [json.loads(l) for l in log.read_text().splitlines()] if log.exists() else []


def _route(call):
    """``(action, project_id)`` of one recorded sink request."""
    parts = call["p"].split("?")[0].strip("/").split("/")
    if parts == ["projects"]:
        return "insert", None
    return ("archive" if parts[-1] == "archive" else "update"), int(parts[1])


def _sent_actions(calls):
    """Sink requests counted per action, keyed like ``sync_report``."""
    return dict(Counter(_route(c)[0] for c in calls))


def test_apply_file_actions_requests(spark, tmp_path):
    log = tmp_path / "rpc.jsonl"
    actions = plan_filesystem_sync(
        _files(spark, [("a/new.shp", "m9", 1, 1), ("b/same.shp", "m2", 1, 2)]),
        _projects(spark, [(10, "b/same.shp", "m2"), (30, "dead.shp", "zz")]),
    )
    apply_file_actions(actions, _recording_transport(str(log)))
    calls = _calls(log)
    by_method = {}
    for c in calls:
        # strip the idempotency key (a query param since r16 — a #fragment
        # never reached the server) to group by the logical endpoint
        by_method.setdefault(
            (c["m"], c["p"].split("?")[0].split("#")[0]), []
        ).append(c)
    # keep rows never produce RPCs; insert carries derived title (ref :364)
    assert len(calls) == 2
    ins = by_method[("POST", "/projects")][0]
    assert ins["b"]["attributes"] == {"title": "new", "isDataset": True}
    assert ins["b"]["metadata"]["file"] == {"file": "a/new.shp", "md5": "m9"}
    assert ("POST", "/projects/30/archive") in by_method


def test_category_sync_three_way(spark):
    files = _files(
        spark,
        [("A/B/x.shp", "m1", 1, 1), ("A/y.shp", "m2", 1, 2), ("C/z.shp", "m3", 1, 3)],
    )
    server = spark.createDataFrame(
        [
            # matched: files/A
            {"id": 1, "type": "files", "name": "files/A", "metadata": {"iam": "gatherbot"}},
            # deprecated: files/OLD
            {"id": 2, "type": "files", "name": "files/OLD", "metadata": {"iam": "gatherbot"}},
            # foreign (iam != gatherbot) must be ignored entirely (ref :403-405)
            {"id": 3, "type": "files", "name": "files/C", "metadata": {"iam": "human"}},
        ],
    )
    plan = plan_category_sync(files, server)
    got = {(r["type"], r["name"]): r["action"] for r in plan.collect()}
    assert got[("files", "files/A")] == "keep"
    # type = lowercased parent path (ref :684)
    assert got[("files/a", "files/A/B")] == "insert"
    assert got[("files", "files/OLD")] == "delete"
    assert got[("files", "files/C")] == "insert"


def test_demoted_main_carries_no_stale_project_columns(spark):
    """A main whose md5Match claim is stolen by a path-exact main must
    insert with a FULLY null project tuple — stale p_file/p_md5 on the
    demoted row would leak the stolen project's identity into the
    auditable action plan (r17 review find).  Scenario: project 10 is
    (a/x.shp, mB); ino=1 sits at that path with drifted content (mA),
    ino=2 carries mB at another path.  The exact tier must keep the
    project on ino=1 (update), and ino=2's md5 claim demotes to an
    insert with no project residue."""
    out = _plan(
        spark,
        [("a/x.shp", "mA", 5, 1), ("b/y.shp", "mB", 5, 2)],
        [(10, "a/x.shp", "mB")],
    )
    assert out[1]["action"] == "update" and out[1]["project_id"] == 10
    demoted = out[2]
    assert demoted["action"] == "insert" and demoted["match"] == "none"
    assert demoted["project_id"] is None
    assert demoted["p_file"] is None and demoted["p_md5"] is None


def test_orphan_winner_recording_alias_keeps(spark):
    """The state a second-chance update leaves behind — the orphan
    project already records the alias's path and md5 — is a keep, so a
    resync sends no no-op write for it."""
    out = _plan(
        spark,
        [("a/orig.shp", "m1", 5, 1), ("b/copy.shp", "m1", 5, 2)],
        [(10, "a/orig.shp", "m1"), (20, "b/copy.shp", "m1")],
    )
    assert out[2]["action"] == "keep" and out[2]["project_id"] == 20
    assert out[2]["match"] == "md5Match"


def test_archived_project_without_file_keeps(spark):
    # a live project whose file is gone archives; one already archived
    # keeps, and each lands in exactly one row
    rows = plan_filesystem_sync(
        _files(spark, []),
        _projects(spark, [(10, "gone.shp", "m1")]),
        _projects(spark, [(11, "long-gone.shp", "m2", True)]),
    ).collect()
    assert sorted((r["project_id"], r["action"]) for r in rows) == [
        (10, "archive"),
        (11, "keep"),
    ]


def test_report_and_apply_share_one_snapshot(spark, tmp_path):
    """The plan runs once: a file deleted after planning changes neither
    the report nor the requests, which match the report's counts; the
    report then runs at most 2 Spark jobs and the sink 1."""
    tree = tmp_path / "tree"
    tree.mkdir()
    for name, data in [("new.shp", b"n"), ("same.shp", b"s"), ("late.shp", b"l")]:
        (tree / name).write_bytes(data)
    same_md5 = hashlib.md5(b"s").hexdigest()
    actions = plan_filesystem_sync(
        scan_files(spark, str(tree)),
        _projects(spark, [(10, "same.shp", same_md5), (30, "dead.shp", "zz")]),
    )
    (tree / "late.shp").unlink()

    sc = spark.sparkContext
    log = tmp_path / "rpc.jsonl"
    try:
        sc.setJobGroup("test-sync-report", "sync_report over the snapshot")
        report = sync_report(actions)
        sc.setJobGroup("test-sync-apply", "apply_file_actions over the snapshot")
        apply_file_actions(actions, _recording_transport(str(log)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert report == {"insert": 2, "keep": 1, "archive": 1}
    assert _sent_actions(_calls(log)) == {"insert": 2, "archive": 1}
    tracker = sc.statusTracker()
    assert 1 <= len(tracker.getJobIdsForGroup("test-sync-report")) <= 2
    assert len(tracker.getJobIdsForGroup("test-sync-apply")) == 1


def _applied_state(projects, calls):
    """The warehouse after the sink's requests, replayed in order onto
    the initial project dicts (insert ids continue from the max)."""
    state = {p["id"]: copy.deepcopy(p) for p in projects}
    next_id = max(state, default=0) + 1
    for c in calls:
        action, pid = _route(c)
        if action == "insert":
            state[next_id] = {"id": next_id, "metadata": c["b"]["metadata"], "archived": False}
            next_id += 1
        elif action == "archive":
            state[pid]["archived"] = True
        else:
            state[pid]["metadata"]["file"] = c["b"]["metadata"]["file"]
    return list(state.values())


def _fetch(spark, rows):
    """The project table through the REST source, served as one page."""

    def transport(method, path, body):
        return rows if "page=0&" in path else []

    return fetch_paginated(spark, transport, "/projects", PROJECT_SCHEMA)


def test_resync_over_applied_state_writes_nothing(spark, tmp_path):
    """ROADMAP item 2's "done": a churn sync covering every action kind,
    applied through a recording transport, then a resync against the
    applied state plans only keep rows."""
    files = _files(
        spark,
        [
            ("keep.shp", "mk", 1, 1),
            ("renamed.shp", "mr", 1, 2),  # project 11 recorded old.shp
            ("content.shp", "NEW", 1, 3),  # project 12 recorded OLD
            ("new.shp", "mn", 1, 4),
            ("a/orig.shp", "md", 1, 5),  # canonical of a duplicate pair
            ("b/copy.shp", "md", 1, 6),  # alias; orphan 14 claims it
            ("c/copy.shp", "md", 1, 7),  # alias nobody claims → insert;
            # on the resync its new project must take this copy, not 6
        ],
    )
    initial = _project_dicts(
        [
            (10, "keep.shp", "mk"),
            (11, "old.shp", "mr"),
            (12, "content.shp", "OLD"),
            (13, "a/orig.shp", "md"),
            (14, "b/old-copy.shp", "md"),
            (15, "deleted.shp", "mx"),
            (16, "gone.shp", "mg", True),
            (17, None, None),
        ]
    )

    def sync(projects, log):
        active = _fetch(spark, [p for p in projects if not p["archived"]])
        archived = _fetch(spark, [p for p in projects if p["archived"]])
        actions = plan_filesystem_sync(files, active, archived)
        pids = [r["project_id"] for r in actions.collect() if r["project_id"] is not None]
        # every project carrying a file lands in exactly one row
        assert sorted(pids) == sorted(p["id"] for p in projects if p["metadata"]["file"])
        apply_file_actions(actions, _recording_transport(str(log)))
        return sync_report(actions), _calls(log)

    churn, churn_calls = sync(initial, tmp_path / "churn.jsonl")
    assert churn == {"keep": 3, "update": 3, "insert": 2, "archive": 1}
    assert _sent_actions(churn_calls) == {"update": 3, "insert": 2, "archive": 1}

    applied = _applied_state(initial, churn_calls)
    resync, resync_calls = sync(applied, tmp_path / "resync.jsonl")
    assert resync == {"keep": 9}  # 7 files + archived 15 and 16
    assert resync_calls == []
