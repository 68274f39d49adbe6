"""Project loader/templating tests (reference: project.ts / template.ts tests)."""

import os

import pytest

from syncmaven_spark.project import (
    ProjectError,
    ad_hoc_project,
    read_project,
    render_template,
)


def test_new_syntax_env_replace():
    assert render_template("x={{ env.FOO }} y={{ env.MISSING }}", env={"FOO": "1"}) == "x=1 y="


def test_legacy_syntax_with_default():
    env = {"FOO": "1"}
    assert render_template("${env.FOO} + ${env.MISSING:fallback}", env=env) == "1 + fallback"
    with pytest.raises(ProjectError):
        render_template("${env.MISSING}", env=env)
    with pytest.raises(ProjectError):
        render_template("${notenv.X}", env=env)


def test_config_directive_captured():
    captured = {}
    out = render_template(
        'select 1 -- {{ config "cursor" "id" }}',
        env={},
        config_cb=lambda k, v: captured.update({k: v}),
    )
    assert captured == {"cursor": "id"}
    assert '{{ config' not in out


def test_result_macros_only_for_connections():
    assert render_template(
        '{"rows": "{{ result.rows }}"}', env={}, result_macros=True
    ) == '{"rows": "[RESULT_ROWS]"}'
    # without the flag the macro is left alone (not an env template)
    assert "result.rows" in render_template('{"rows": "{{ result.rows }}"}', env={})


@pytest.fixture
def project_dir(tmp_path):
    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    (tmp_path / "connections").mkdir()
    (tmp_path / "models" / "events.sql").write_text(
        "-- {{ config \"cursor\" \"event_id\" }}\n"
        "select event_id, ts, event_type from events "
        "where :cursor is null or event_id >= :cursor order by event_id asc\n"
    )
    (tmp_path / "connections" / "out.yaml").write_text(
        "package: file\ncredentials:\n  filename: ${env.OUT_FILE:/tmp/out.ndjson}\n"
    )
    (tmp_path / "syncs" / "main.yaml").write_text(
        "model: events\ndestination: out\nstream: raw\noptions:\n  checkpointEvery: 100\n"
    )
    (tmp_path / "syncs" / "inline.yaml").write_text(
        "model: events\ndestination:\n  package: file\n  credentials:\n"
        "    filename: /tmp/inline.ndjson\n"
    )
    (tmp_path / ".env").write_text("PROJ_ENV_VAR=fromdotenv\n")
    return str(tmp_path)


def test_read_project_full(project_dir):
    project = read_project(project_dir, env={})
    assert set(project.models) == {"events"}
    assert project.models["events"].cursor == "event_id"
    assert ":cursor" in project.models["events"].query
    assert "config" not in project.models["events"].query

    assert set(project.syncs) == {"main", "inline"}
    main = project.syncs["main"]
    assert main.destination == "file"
    assert main.credentials["filename"] == "/tmp/out.ndjson"
    assert main.options == {"checkpointEvery": 100}

    # inline destination unfolded into a connection
    inline = project.syncs["inline"]
    assert inline.credentials["filename"] == "/tmp/inline.ndjson"
    assert "inline" in project.connections


def test_dotenv_loaded_without_override(project_dir):
    os.environ.pop("PROJ_ENV_VAR", None)
    read_project(project_dir)
    assert os.environ["PROJ_ENV_VAR"] == "fromdotenv"
    os.environ["PROJ_ENV_VAR"] = "real"
    read_project(project_dir)
    assert os.environ["PROJ_ENV_VAR"] == "real"  # real env wins
    del os.environ["PROJ_ENV_VAR"]


def test_missing_syncs_dir_rejected(tmp_path):
    with pytest.raises(ProjectError):
        read_project(str(tmp_path))


def test_sync_referencing_unknown_model(tmp_path):
    (tmp_path / "syncs").mkdir()
    (tmp_path / "syncs" / "bad.yaml").write_text("model: nope\ndestination: x\n")
    with pytest.raises(ProjectError):
        read_project(str(tmp_path))


def test_ad_hoc_project():
    p = ad_hoc_project(
        "select * from events", "file", {"filename": "/tmp/x"}, cursor=None
    )
    assert p.syncs["adhoc"].stream == "raw"
    assert p.syncs["adhoc"].destination == "file"


def test_end_to_end_project_sync(spark, project_dir, tmp_path):
    """Project → run_sync → NDJSON file, incremental second run."""
    from syncmaven_spark.runner import run_sync
    from syncmaven_spark.session import load_tables
    from syncmaven_spark.state import create_store
    from tests.conftest import SF_SMOKE

    load_tables(spark, SF_SMOKE)
    out = tmp_path / "events_out.ndjson"
    os.environ["OUT_FILE"] = str(out)
    try:
        project = read_project(project_dir)
    finally:
        del os.environ["OUT_FILE"]
    store = create_store(str(tmp_path / "state"))
    result = run_sync(spark, project.syncs["main"], store)
    assert result.stats.received == 1000
    assert len(out.read_text().splitlines()) == 1000

    result2 = run_sync(spark, project.syncs["main"], store)
    assert result2.stats.received == 1  # inclusive boundary row only


def test_top_level_checkpoint_every(tmp_path):
    """checkpointEvery is a TOP-LEVEL sync field in the reference
    (objects.ts:55) — it was silently dropped unless nested under
    options, disabling mid-run checkpoints for ported projects."""
    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    (tmp_path / "models" / "m.sql").write_text("select 1 as x")
    (tmp_path / "syncs" / "s.yaml").write_text(
        "model: m\ncheckpointEvery: 500\n"
        "destination:\n  package: file\n  credentials: {filename: /tmp/x}\n"
    )
    project = read_project(str(tmp_path))
    assert project.syncs["s"].checkpoint_every == 500


def test_inline_destination_without_package_rejected(tmp_path):
    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    (tmp_path / "models" / "m.sql").write_text("select 1 as x")
    (tmp_path / "syncs" / "s.yaml").write_text(
        "model: m\ndestination:\n  credentials: {filename: /tmp/x}\n"
    )
    with pytest.raises(ProjectError, match="package"):
        read_project(str(tmp_path))


def test_connection_without_id_falls_back_to_basename(tmp_path):
    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    (tmp_path / "connections").mkdir()
    (tmp_path / "models" / "m.sql").write_text("select 1 as x")
    (tmp_path / "connections" / "file.yaml").write_text(
        "credentials: {filename: /tmp/x}\n"
    )
    (tmp_path / "syncs" / "s.yaml").write_text("model: m\ndestination: file\n")
    project = read_project(str(tmp_path))
    assert project.connections["file"].package == "file"


def test_enrichments_key_takes_precedence(tmp_path, monkeypatch):
    """getEnrichments is enrichments OR enrichment (objects.ts:59-61) —
    declaring both must not run the same enrichment twice per row."""
    from syncmaven_spark.project import _compile_enrichments

    raw = {
        "enrichment": {"url": "http://e/one"},
        "enrichments": [{"url": "http://e/one"}],
    }
    assert len(_compile_enrichments(raw)) == 1


def test_model_page_size_fields_accepted(tmp_path):
    """Reference model knobs pageSize/pauseBetweenPagesMs (objects.ts:11-12)
    parse without error and surface on the model — no-ops on Spark (the
    Storage Read API has no HTTP page loop), accepted so ported projects
    load unchanged."""
    import os


    proj = tmp_path / "p"
    for sub in ("models", "syncs", "connections"):
        os.makedirs(proj / sub)
    (proj / "models" / "m.yml").write_text(
        "query: select 1 as x\npageSize: 500\npauseBetweenPagesMs: 250\n"
    )
    (proj / "connections" / "f.yml").write_text(
        'kind: file\ncredentials:\n  filename: out.ndjson\n'
    )
    (proj / "syncs" / "s.yml").write_text("model: m\ndestination: f\n")
    p = read_project(str(proj))
    m = p.models["m"]
    assert m.page_size == 500 and m.pause_between_pages_ms == 250


def test_project_from_files_hoists_checkpoint_every(tmp_path):
    """Round-5 review: the connector-dev path must hoist top-level
    checkpointEvery like read_project does."""
    from syncmaven_spark.project import project_from_files

    (tmp_path / "m.sql").write_text("select 1 as x")
    (tmp_path / "c.yml").write_text(
        "kind: file\ncredentials:\n  filename: o.ndjson\n"
    )
    (tmp_path / "s.yml").write_text("model: m\ncheckpointEvery: 1000\n")
    p = project_from_files(
        str(tmp_path / "m.sql"), str(tmp_path / "c.yml"), str(tmp_path / "s.yml")
    )
    sync = next(iter(p.syncs.values()))
    assert sync.checkpoint_every == 1000


def test_env_value_containing_placeholder_passes_verbatim(tmp_path):
    """Round-5 review: a substituted env VALUE must not be re-parsed as a
    template — '${cd}' in a password used to abort project loading, and
    '${env.OTHER}' silently expanded."""
    from syncmaven_spark.project import render_template

    env = {"PW": "ab${cd}ef", "SNEAKY": "x${env.PW}y", "BRACES": "a{{ env.PW }}b"}
    assert render_template("{{ env.PW }}", env=env) == "ab${cd}ef"
    assert render_template("${env.SNEAKY}", env=env) == "x${env.PW}y"
    assert render_template("{{ env.BRACES }}", env=env) == "a{{ env.PW }}b"
    # original-text placeholders of both syntaxes still substitute
    assert render_template("p=${env.PW} q={{ env.PW }}", env=env) == (
        "p=ab${cd}ef q=ab${cd}ef"
    )


def test_duplicate_ids_raise(tmp_path):
    """Round-5 review: two files resolving to the same model id must error,
    not silently last-writer-win."""
    import pytest

    from syncmaven_spark.project import ProjectError, read_project

    proj = tmp_path / "p"
    for sub in ("models", "syncs", "connections"):
        (proj / sub).mkdir(parents=True)
    (proj / "models" / "users.sql").write_text("select 1 as a")
    (proj / "models" / "users.yaml").write_text("query: select 2 as a\n")
    (proj / "connections" / "f.yml").write_text(
        "kind: file\ncredentials:\n  filename: o.ndjson\n"
    )
    (proj / "syncs" / "s.yml").write_text("model: users\ndestination: f\n")
    with pytest.raises(ProjectError, match="Duplicate model id"):
        read_project(str(proj))
