"""Config validation rules (ConfigurationValidator port) + hot-reload diff."""

from trignis_spark.config import (
    EnvironmentConfig,
    SinkConfig,
    TrackingObject,
    diff_environments,
    load_environment_json,
    validate_environment,
)


def _env(**kw):
    defaults = dict(
        name="e1",
        tracking_objects=(TrackingObject(name="o1", table_name="t1"),),
        destinations=(),
    )
    defaults.update(kw)
    return EnvironmentConfig(**defaults)


def test_valid_config_no_errors():
    errors, warnings = validate_environment(_env())
    assert errors == [] and warnings == []


def test_missing_name_and_objects():
    errors, _ = validate_environment(EnvironmentConfig(name=""))
    assert any("name is required" in e for e in errors)
    assert any("no tracking objects" in e for e in errors)


def test_duplicate_object_names():
    env = _env(
        tracking_objects=(
            TrackingObject(name="o1", table_name="t"),
            TrackingObject(name="o1", table_name="t"),
        )
    )
    errors, _ = validate_environment(env)
    assert any("duplicate" in e for e in errors)


def test_duplicate_destination_names():
    """A dead letter's source key ``env/object/<destination>`` routes its
    replay, so two destinations (an envelope sink and a DataFrame sink
    included) may not share a name."""
    mirror = SinkConfig(name="out", kind="mirror", options={
        "path": "/m", "key_cols": ["id"], "tracked_cols": ["v"]})
    env = _env(destinations=(
        SinkConfig(name="out", kind="memory"), mirror,
    ))
    errors, _ = validate_environment(env)
    assert errors == ["environment 'e1': duplicate destination names"]
    renamed = _env(destinations=(SinkConfig(name="primary", kind="memory"),
                                 mirror))
    assert validate_environment(renamed)[0] == []


def test_object_needs_table_or_sql():
    env = _env(tracking_objects=(TrackingObject(name="o1"),))
    errors, _ = validate_environment(env)
    assert any("table_name or source_sql" in e for e in errors)
    env2 = _env(tracking_objects=(TrackingObject(name="o1", source_sql="SELECT 1"),))
    errors2, _ = validate_environment(env2)
    assert errors2 == []


def test_polling_interval_warnings():
    _, w_fast = validate_environment(_env(polling_interval_seconds=2))
    assert any("< 5s" in w for w in w_fast)
    _, w_slow = validate_environment(_env(polling_interval_seconds=7200))
    assert any("> 1h" in w for w in w_slow)


def test_sink_rules():
    env = _env(
        destinations=(
            SinkConfig("bad", "carrier-pigeon"),
            SinkConfig("f", "file", {}),
            SinkConfig("h", "http", {"url": "http://x", "basic_user": "u"}),
            SinkConfig(
                "h2", "http",
                {"url": "http://x", "bearer_token": "t", "api_key": "k"},
            ),
        )
    )
    errors, _ = validate_environment(env)
    assert any("unknown kind" in e for e in errors)
    assert any("path_template" in e for e in errors)
    assert any("both user and password" in e for e in errors)
    assert any("at most one auth mode" in e for e in errors)


def test_diff_environments():
    old = {"a": _env(name="a"), "b": _env(name="b"), "c": _env(name="c")}
    new = {
        "b": _env(name="b", polling_interval_seconds=60),  # updated
        "c": _env(name="c"),  # unchanged
        "d": _env(name="d"),  # added
    }
    added, removed, updated = diff_environments(old, new)
    assert added == {"d"} and removed == {"a"} and updated == {"b"}


def test_load_environment_json_roundtrip():
    env = load_environment_json(
        """
        {"name": "prod", "polling_interval_seconds": 10,
         "tracking_objects": [
           {"name": "orders", "table_name": "orders",
            "initial_sync_mode": "Incremental",
            "key_columns": ["o_orderkey"],
            "tracked_columns": ["o_totalprice"]}],
         "destinations": [
           {"name": "out", "kind": "file",
            "options": {"path_template": "/tmp/x/{object}.json"}}]}
        """
    )
    assert env.name == "prod"
    assert env.polling_interval_seconds == 10
    assert env.tracking_objects[0].initial_sync_mode == "Incremental"
    assert env.destinations[0].kind == "file"
    assert validate_environment(env) == ([], [])


def test_secret_resolution(monkeypatch):
    import pytest as _pytest

    monkeypatch.setenv("HOOK_TOKEN", "t0p-s3cret")
    env = load_environment_json(
        """
        {"name": "p", "tracking_objects": [{"name": "o", "table_name": "t"}],
         "destinations": [{"name": "h", "kind": "http",
           "options": {"url": "http://x", "bearer_token": "${ENV:HOOK_TOKEN}"}}]}
        """
    )
    assert env.destinations[0].options["bearer_token"] == "t0p-s3cret"

    with _pytest.raises(KeyError, match="UNSET_VAR_XYZ"):
        load_environment_json(
            """
            {"name": "p", "tracking_objects": [{"name": "o", "table_name": "t"}],
             "destinations": [{"name": "h", "kind": "http",
               "options": {"url": "${ENV:UNSET_VAR_XYZ}"}}]}
            """
        )


def test_mq_sink_validation_matrix():
    from trignis_spark.config import (
        EnvironmentConfig,
        SinkConfig,
        TrackingObject,
        validate_environment,
    )

    def env_with(sink):
        return EnvironmentConfig(
            name="e",
            tracking_objects=(TrackingObject(name="o", table_name="t"),),
            destinations=(sink,),
        )

    errs, _ = validate_environment(
        env_with(SinkConfig("mq", "rabbitmq", {"queue": "q"}))
    )
    assert any("requires host" in e for e in errs)
    errs, _ = validate_environment(
        env_with(SinkConfig("mq", "rabbitmq", {"host": "h"}))
    )
    assert any("queue or exchange" in e for e in errs)
    errs, _ = validate_environment(
        env_with(SinkConfig("mq", "rabbitmq",
                            {"host": "h", "queue": "q", "user": "u"}))
    )
    assert any("both user and password" in e for e in errs)
    errs, _ = validate_environment(
        env_with(SinkConfig("sqs", "aws-sqs", {}))
    )
    assert any("queue_url" in e for e in errs)
    errs, _ = validate_environment(
        env_with(SinkConfig("asb", "azure-servicebus",
                            {"connection_string": "cs"}))
    )
    assert any("queue or topic" in e for e in errs)
    # injected transport bypasses the matrix (tests / custom transports)
    errs, _ = validate_environment(
        env_with(SinkConfig("mq", "rabbitmq", {"send": object()}))
    )
    assert errs == []
    # happy paths
    for sink in (
        SinkConfig("mq", "rabbitmq", {"host": "h", "queue": "q"}),
        SinkConfig("sqs", "aws-sqs", {"queue_url": "u"}),
        SinkConfig("asb", "azure-servicebus",
                   {"connection_string": "cs", "topic": "t"}),
        SinkConfig("eh", "azure-eventhubs", {"connection_string": "cs"}),
    ):
        errs, _ = validate_environment(env_with(sink))
        assert errs == []


def test_curate_sink_rejects_unknown_options():
    valid = {"index_table": "idx", "accepted_path": "/tmp/acc",
             "min_quality": 0.1, "threshold": 0.8, "id_col": "doc_id",
             "text_col": "text", "props_json": False}
    errs, _ = validate_environment(
        _env(destinations=(SinkConfig("c", "curate", valid),))
    )
    assert errs == []
    # the removed shingle width and a misspelled threshold would
    # otherwise run silently on the defaults
    for bad in ("n", "treshold"):
        errs, _ = validate_environment(_env(destinations=(
            SinkConfig("c", "curate", {**valid, bad: 3}),
        )))
        assert errs == [f"sink 'c': unknown curate option(s) ['{bad}']"]
