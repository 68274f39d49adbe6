"""CLI verb tests (in-process main())."""

import json

import pytest

from syncmaven_spark import cli
from tests.conftest import SF_SMOKE


def test_streams_verb(capsys):
    assert cli.main(["streams", "hubspot"]) == 0
    out = capsys.readouterr().out
    assert "stream: contacts" in out and "stream: companies" in out
    assert "* email" in out  # required marker


def test_streams_unknown_package(capsys):
    # user-input errors print one line and exit 1, not a raw traceback
    assert cli.main(["streams", "nope"]) == 1
    assert "error:" in capsys.readouterr().out


def test_ad_hoc_sync_and_preview(tmp_path, capsys, spark):
    out_file = tmp_path / "out.ndjson"
    rc = cli.main(
        [
            "sync",
            "--model-sql",
            "select event_id, event_type from events where event_id < 5 order by event_id",
            "--package",
            "file",
            "--credentials",
            json.dumps({"filename": str(out_file)}),
            "--sf-dir",
            SF_SMOKE,
        ]
    )
    assert rc == 0
    assert len(out_file.read_text().splitlines()) == 5
    assert "received" in capsys.readouterr().out


def test_project_sync_via_cli(tmp_path, capsys, spark):
    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    out_file = tmp_path / "cli_out.ndjson"
    (tmp_path / "models" / "ev.sql").write_text(
        "select event_id from events where event_id < 3 order by event_id"
    )
    (tmp_path / "syncs" / "s.yaml").write_text(
        f"model: ev\ndestination:\n  package: file\n  credentials:\n"
        f"    filename: {out_file}\n"
    )
    rc = cli.main(
        ["sync", str(tmp_path), "--sf-dir", SF_SMOKE,
         "--state", str(tmp_path / ".state")]
    )
    assert rc == 0
    assert len(out_file.read_text().splitlines()) == 3

    rc2 = cli.main(["sync", str(tmp_path), "--select", "nonexistent"])
    assert rc2 == 1


def test_sync_failure_isolated_nonzero_exit(tmp_path, capsys, spark):
    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    (tmp_path / "models" / "bad.sql").write_text("select * from no_such_table")
    (tmp_path / "syncs" / "s.yaml").write_text(
        "model: bad\ndestination:\n  package: file\n  credentials:\n    filename: /tmp/x.ndjson\n"
    )
    rc = cli.main(["sync", str(tmp_path), "--state", "memory://"])
    assert rc == 1
    assert "FAILED" in capsys.readouterr().out


def test_explain_catalog_query(capsys, spark):
    rc = cli.main(
        ["explain", "q:rel_pricing_summary", "--sf-dir", SF_SMOKE]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "PushedFilters" in out  # the filter reached the parquet scan

    assert cli.main(["explain", "q:no_such_query"]) == 1


def test_explain_project_model(tmp_path, capsys, spark):
    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    (tmp_path / "models" / "ev.sql").write_text(
        "select event_id, ts from events where event_id >= 10"
    )
    rc = cli.main(
        ["explain", str(tmp_path), "ev", "--sf-dir", SF_SMOKE]
    )
    assert rc == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_init_link_add_verbs(tmp_path, capsys):
    import yaml

    proj = str(tmp_path / "proj")
    assert cli.main(["init", proj]) == 0
    for sub in ("models", "syncs", "connections"):
        assert (tmp_path / "proj" / sub).is_dir()
    assert ".state" in (tmp_path / "proj" / ".gitignore").read_text()
    # init refuses a non-empty directory (init.ts:19-24)
    assert cli.main(["init", proj]) == 1

    creds = json.dumps({"filename": str(tmp_path / "o.ndjson")})
    assert cli.main(["add", "connection", "file", proj, "-c", creds]) == 0
    assert (tmp_path / "proj" / "connections" / "file.yml").exists()
    # second add picks a unique basename (add.ts:15-31)
    assert cli.main(["add", "connection", "file", proj, "-c", creds]) == 0
    assert (tmp_path / "proj" / "connections" / "file-1.yml").exists()

    (tmp_path / "proj" / "models" / "ev.sql").write_text("select 1 as x")
    assert cli.main(["link", proj, "--model", "ev", "--connection", "file"]) == 0
    sync_file = tmp_path / "proj" / "syncs" / "file-ev.yml"
    assert yaml.safe_load(sync_file.read_text()) == {
        "id": "file-ev", "destination": "file", "model": "ev",
    }
    # second link of the same pair picks a fresh sync id (link.ts:11-18)
    assert cli.main(["link", proj, "--model", "ev", "--connection", "file"]) == 0
    assert (tmp_path / "proj" / "syncs" / "file-ev-1.yml").exists()
    # unknown model/connection are friendly errors
    assert cli.main(["link", proj, "--model", "nope", "--connection", "file"]) == 1


def test_connector_dev_two_phase_incremental(tmp_path, capsys, spark):
    """connector-dev.ts:13-70 through the CLI: synthesized 1-model/1-conn/
    1-sync project, run twice with persisted state — the second run emits
    only the inclusive cursor boundary row, exactly like the reference's
    golden-file integration harness (__tests__/integration/lib.ts:69-74)."""
    model = tmp_path / "model.sql"
    model.write_text(
        '{{ config "cursor" "event_id" }}\n'
        "select event_id, event_type from events "
        "where (:cursor is null or event_id >= :cursor) and event_id < 50 "
        "order by event_id asc"
    )
    out1 = tmp_path / "out1.ndjson"
    conn1 = tmp_path / "connection.yml"
    conn1.write_text(f"package: file\ncredentials:\n  filename: {out1}\n")
    state = str(tmp_path / ".state")

    rc = cli.main(
        ["connector-dev", "--model-file", str(model), "--connection-file",
         str(conn1), "--state", state, "--sf-dir", SF_SMOKE]
    )
    assert rc == 0
    first_lines = out1.read_text().splitlines()
    assert len(first_lines) > 1
    max_id = max(json.loads(line)["event_id"] for line in first_lines)

    out2 = tmp_path / "out2.ndjson"
    conn2 = tmp_path / "connection2.yml"
    conn2.write_text(f"package: file\ncredentials:\n  filename: {out2}\n")
    rc = cli.main(
        ["connector-dev", "--model-file", str(model), "--connection-file",
         str(conn2), "--state", state, "--sf-dir", SF_SMOKE]
    )
    assert rc == 0
    second = [json.loads(line) for line in out2.read_text().splitlines()]
    # inclusive >= cursor: exactly the boundary row comes back
    assert [r["event_id"] for r in second] == [max_id]


def test_distributed_sync_via_cli(tmp_path, capsys, spark):
    import glob

    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    out_dir = tmp_path / "dist_out"
    (tmp_path / "models" / "ev.sql").write_text(
        '{{ config "cursor" "event_id" }}\n'
        "select event_id, event_type from events "
        "where (:cursor is null or event_id >= :cursor) and event_id < 40"
    )
    (tmp_path / "syncs" / "s.yaml").write_text(
        f"model: ev\ndestination:\n  package: file\n  credentials:\n"
        f"    directory: {out_dir}\n"
    )
    rc = cli.main(
        ["sync", str(tmp_path), "--sf-dir", SF_SMOKE,
         "--state", "memory://", "--distributed", "--chunks", "4"]
    )
    assert rc == 0
    lines = [
        line for f in glob.glob(f"{out_dir}/part-*") for line in open(f)
        if line.strip()
    ]
    assert len(lines) == 40
    assert "success" in capsys.readouterr().out
