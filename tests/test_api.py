"""HTTP API endpoint semantics, mirroring the reference's routes
(``Source/Program.cs:403-553,680-748,871-983``): state reset, manual
replay outcomes, paginated dead-letter listing (W3), filter-scoped
purge, passphrase-guarded pause / free resume, health/state join."""

import datetime as dt
import hashlib
import json

import pytest

flask = pytest.importorskip("flask")

from trignis_spark.api import create_app, passphrase_ok
from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.sinks.base import RetryPolicy
from trignis_spark.sinks.memory import MemorySink
from trignis_spark.state import PauseStore, StateStore
from trignis_spark.streaming.replay import DeadLetterReplayer

PASS_SHA = hashlib.sha256(b"s3cret").hexdigest()


@pytest.fixture
def rig(tmp_path):
    class Rig:
        def __init__(self):
            self.state = StateStore(str(tmp_path / "state"))
            self.dlq = DeadLetterStore(str(tmp_path / "dlq"))
            self.pauses = PauseStore(str(tmp_path / "pauses"))
            self.sink = MemorySink("primary")
            self.env = EnvironmentConfig(
                name="e1",
                tracking_objects=(
                    TrackingObject(name="obj", table_name="t_outbox"),
                ),
            )
            self.replayer = DeadLetterReplayer(
                self.dlq,
                {"e1": self.env},
                sinks_for_env=lambda name: [self.sink],
                pipeline_for_env=lambda name: None,
                retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
            )
            self.app = create_app(
                self.state, self.dlq, self.pauses,
                replayer=self.replayer,
                environments={"e1": self.env},
                admin_passphrase_sha256=PASS_SHA,
            )
            self.client = self.app.test_client()

        def save_dl(self, n=1, obj="obj", env="e1", err="boom"):
            ids = []
            for i in range(n):
                self.dlq.save(
                    source_key=f"{env}/{obj}/primary-{i}",
                    tracking_object_name=obj,
                    environment_name=env,
                    database_name="db",
                    data=json.dumps({"i": i}),
                    error_message=err,
                    now=dt.datetime(2026, 1, 1, 12, 0, i),
                )
                ids.append(i)
            return ids

    return Rig()


# -- state reset (Program.cs:403-432) -------------------------------------


def test_state_reset_deletes_row_and_404s_when_absent(rig):
    rig.state.set_last_version("e1", "obj", 42)
    r = rig.client.post("/ui/api/state/e1/obj/reset")
    assert r.status_code == 200 and r.get_json() == {"ok": True}
    assert rig.state.get_last_version("e1", "obj") is None
    r2 = rig.client.post("/ui/api/state/e1/obj/reset")
    assert r2.status_code == 404
    assert "error" in r2.get_json()


# -- dead-letter listing + pagination (Program.cs:680-751) ----------------


def test_deadletters_paginated_newest_first(rig):
    rig.save_dl(7)
    r = rig.client.get("/ui/api/deadletters?page=1&page_size=3")
    body = r.get_json()
    assert (body["total"], body["total_pages"]) == (7, 3)
    # newest first: seconds 6,5,4 on page 1
    assert [json.loads(d["data"])["i"] for d in body["data"]] == [6, 5, 4]
    r2 = rig.client.get("/ui/api/deadletters?page=3&page_size=3")
    assert [json.loads(d["data"])["i"] for d in r2.get_json()["data"]] == [0]


def test_deadletters_search_and_object_filter(rig):
    rig.save_dl(2, obj="obj", err="timeout talking to webhook")
    rig.save_dl(1, obj="other", err="连接 refused")
    r = rig.client.get("/ui/api/deadletters?search=webhook")
    assert r.get_json()["total"] == 2
    r2 = rig.client.get("/ui/api/deadletters?object_filter=other")
    assert r2.get_json()["total"] == 1


def test_purge_deletes_exactly_what_filter_selects(rig):
    rig.save_dl(3, obj="obj")
    rig.save_dl(2, obj="other")
    r = rig.client.post("/ui/api/deadletters/purge?object_filter=other")
    assert r.get_json() == {"ok": True, "deleted": 2}
    assert len(rig.dlq.rows()) == 3


# -- manual replay (Program.cs:436-474) -----------------------------------


def test_manual_replay_delivers_and_removes(rig):
    rig.save_dl(1)
    [row] = rig.dlq.rows()
    r = rig.client.post(f"/ui/api/deadletters/{row['id']}/replay")
    assert r.status_code == 200 and r.get_json() == {"ok": True}
    assert rig.dlq.rows() == []
    assert len(rig.sink.payloads) == 1


def test_manual_replay_unroutable_is_409(rig):
    rig.save_dl(1, env="gone-env")
    [row] = rig.dlq.rows()
    r = rig.client.post(f"/ui/api/deadletters/{row['id']}/replay")
    assert r.status_code == 409


def test_manual_replay_failure_resets_attempts_and_502s(rig):
    class Broken(MemorySink):
        def write(self, payload, ctx):
            raise IOError("still down")

    rig.replayer.sinks_for_env = lambda name: [Broken("primary")]
    rig.save_dl(1)
    [row] = rig.dlq.rows()
    rig.dlq.record_failure(row["id"])  # attempts=1 from automatic rotation
    r = rig.client.post(f"/ui/api/deadletters/{row['id']}/replay")
    assert r.status_code == 502
    [kept] = rig.dlq.rows()
    assert kept["attempts"] == 0  # rejoined automatic rotation


def test_replay_missing_id_404(rig):
    assert rig.client.post("/ui/api/deadletters/999/replay").status_code == 404


def test_discard(rig):
    rig.save_dl(1)
    [row] = rig.dlq.rows()
    assert rig.client.post(
        f"/ui/api/deadletters/{row['id']}/discard"
    ).get_json() == {"ok": True}
    assert rig.dlq.rows() == []
    assert rig.client.post("/ui/api/deadletters/5/discard").status_code == 404


# -- pause / resume (Program.cs:501-553) ----------------------------------


def test_pause_requires_passphrase_resume_does_not(rig):
    denied = rig.client.post(
        "/ui/api/pause", json={"environment": "e1", "passphrase": "wrong"}
    )
    assert denied.status_code == 401
    ok = rig.client.post(
        "/ui/api/pause",
        json={"environment": "e1", "passphrase": "s3cret", "reason": "maint"},
    )
    assert ok.get_json()["scope"] == "env:e1"
    assert rig.pauses.is_paused("e1")
    # resume is the safe direction: no passphrase needed
    r = rig.client.post("/ui/api/resume", json={"environment": "e1"})
    assert r.get_json()["resumed"] is True
    assert not rig.pauses.is_paused("e1")
    # resume honesty: resuming a non-paused scope says so
    r2 = rig.client.post("/ui/api/resume", json={"environment": "e1"})
    assert r2.get_json()["resumed"] is False


def test_pause_object_scope_and_listing(rig):
    rig.client.post(
        "/ui/api/pause",
        json={"environment": "e1", "object": "obj", "passphrase": "s3cret"},
    )
    [p] = rig.client.get("/ui/api/pauses").get_json()
    assert p["scope"] == "obj:e1/obj"
    assert rig.pauses.is_paused("e1", "obj") and not rig.pauses.is_paused("e1")


def test_pause_without_environment_400(rig):
    r = rig.client.post("/ui/api/pause", json={"passphrase": "s3cret"})
    assert r.status_code == 400


def test_passphrase_constant_time_compare_unit():
    sha = hashlib.sha256(b"x").hexdigest()
    assert passphrase_ok("x", sha)
    assert not passphrase_ok("y", sha)
    assert not passphrase_ok(None, sha)
    assert passphrase_ok(None, None)  # unconfigured → open


# -- health/state surface (Program.cs:871-983) ----------------------------


def test_health_state_joins_config_and_404s_unknown_env(rig):
    rig.state.set_last_version("e1", "obj", 7)
    body = rig.client.get("/health/state").get_json()
    assert body["total_environments"] == 1
    [env] = body["environments"]
    [o] = env["objects"]
    assert (o["object_name"], o["last_version"]) == ("obj", 7)
    assert o["stored_procedure_name"] == "t_outbox"  # config join (J5)
    one = rig.client.get("/health/state/e1").get_json()
    assert one["environment"] == "e1" and one["object_count"] == 1
    assert rig.client.get("/health/state/nope").status_code == 404


def test_health_endpoints_degrade_gracefully_without_services(rig):
    assert rig.client.get("/health").get_json() == {"status": "unknown"}
    assert rig.client.get("/health/connections").get_json() == {}
    rig.save_dl(2)
    assert rig.client.get("/health/deadletters").get_json()["total"] == 2


def test_health_connections_reports_probe_state(rig, tmp_path):
    from trignis_spark.health import ConnectionHealth

    conn = ConnectionHealth()
    conn.record_probe("db:main", True)
    conn.record_probe("mq:rabbit", False)
    conn.record_probe("mq:rabbit", False)
    app = create_app(
        rig.state, rig.dlq, rig.pauses, connections=conn,
    )
    body = app.test_client().get("/health/connections").get_json()
    assert body["db:main"] == {"is_healthy": True, "last_error": None}
    assert body["mq:rabbit"]["is_healthy"] is False
    assert "2 consecutive" in body["mq:rabbit"]["last_error"]


# -- dashboard surface (Program.cs:566-658,751-835) -----------------------


def test_overview_counts_and_auth_flag(rig):
    rig.save_dl(3)
    body = rig.client.get("/ui/api/overview").get_json()
    assert body["environment_count"] == 1
    assert body["tracking_object_count"] == 1
    assert body["auth_enabled"] is True
    assert body["dead_letters"]["total"] == 3


def test_environments_redacts_credentials_and_shows_pause_state(rig, tmp_path):
    from trignis_spark.config import SinkConfig

    env = EnvironmentConfig(
        name="e1",
        tracking_objects=(TrackingObject(name="obj", table_name="t"),),
        destinations=(
            SinkConfig(
                "hook", "http",
                {"url": "https://x.test", "bearer_token": "SECRET-token"},
            ),
        ),
    )
    app = create_app(
        rig.state, rig.dlq, rig.pauses, environments={"e1": env},
    )
    client = app.test_client()
    rig.pauses.pause("obj:e1/obj")
    [e] = client.get("/ui/api/environments").get_json()
    assert e["name"] == "e1" and e["paused"] is False
    [o] = e["tracking_objects"]
    assert o["paused"] is True
    [d] = e["destinations"]
    assert d["options"] == {"url": "https://x.test"}  # token redacted
    assert "SECRET-token" not in json.dumps(e)


def test_logs_merge_filter_paginate(rig, tmp_path):
    import os
    import time as _time

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    (log_dir / "log-20260101.txt").write_text(
        "2026-01-01 10:00:00.000 [INF] service started\n"
        "2026-01-01 10:00:01.000 [ERR] sink down\n"
        "  retrying in 5s\n"
    )
    _time.sleep(0.01)
    (log_dir / "log-20260102.txt").write_text(
        "2026-01-02 10:00:00.000 [INF] cycle ok\n"
    )
    app = create_app(
        rig.state, rig.dlq, rig.pauses, log_dir=str(log_dir),
    )
    client = app.test_client()
    body = client.get("/ui/api/logs").get_json()
    assert body["file"] == "log-20260102.txt"  # newest first
    assert body["total"] == 3
    assert body["lines"][0]["message"] == "cycle ok"
    # continuation line folded into the ERR entry
    err = [l for l in body["lines"] if l["level"] == "ERR"]
    assert err and "retrying in 5s" in err[0]["message"]
    # level filter + pagination
    inf = client.get("/ui/api/logs?level=INF&limit=1").get_json()
    assert inf["total"] == 2 and inf["has_more"] is True
    assert len(inf["lines"]) == 1
    # no log dir → empty shape, not an error
    none = create_app(rig.state, rig.dlq, rig.pauses).test_client()
    assert none.get("/ui/api/logs").get_json()["total"] == 0


# -- dashboard views (round-4 HTML layer over the JSON API) ----------------


def test_ui_views_render_and_reference_live_endpoints(rig):
    client = rig.app.test_client()
    for view, marker in [
        ("/ui", "/ui/api/overview"),
        ("/ui/environments", "/ui/api/environments"),
        ("/ui/deadletters", "/ui/api/deadletters"),
        ("/ui/logs", "/ui/api/logs"),
    ]:
        r = client.get(view)
        assert r.status_code == 200, view
        html = r.get_data(as_text=True)
        assert html.startswith("<!DOCTYPE html>")
        assert marker in html, f"{view} does not fetch {marker}"
        # every fetch target the page references must exist in the app
        import re

        for url in re.findall(r'[JP]\("(/[^"?]+)', html):
            probe = url.replace('" + id + "', "1")
            resolved = any(
                rule.rule.split("<")[0].rstrip("/")
                and probe.startswith(rule.rule.split("<")[0].rstrip("/"))
                for rule in rig.app.url_map.iter_rules()
            )
            assert resolved, f"{view} fetches unknown endpoint {probe}"


def test_ui_unknown_view_404s(rig):
    r = rig.app.test_client().get("/ui/nope")
    assert r.status_code == 404


# -- login session + settings (Program.cs:204,254-374,659-678) -------------


@pytest.fixture
def authed(tmp_path):
    """A rig with the login gate on (ui_login + passphrase, the
    reference's authEnabled = webHostEnabled && adminApiKey)."""
    state = StateStore(str(tmp_path / "state2"))
    dlq = DeadLetterStore(str(tmp_path / "dlq2"))
    pauses = PauseStore(str(tmp_path / "pauses2"))
    app = create_app(
        state, dlq, pauses,
        environments={},
        admin_passphrase_sha256=PASS_SHA,
        ui_login=True,
        settings={
            "global": {
                "polling_interval_seconds": 30,
                "admin_passphrase": "SHOULD-NEVER-SHOW",
                "destinations": [
                    {"name": "hook", "bearer_token": "tok-123", "url": "u"}
                ],
            },
        },
    )
    return app.test_client()


def _login(client):
    csrf = client.get("/ui/api/auth/csrf").get_json()["csrf"]
    r = client.post("/ui/api/auth", json={"csrf": csrf, "api_key": "s3cret"})
    assert r.status_code == 200
    return r


def test_ui_gated_until_login_then_open(authed):
    # views redirect to the login page; API paths 401
    r = authed.get("/ui")
    assert r.status_code == 302 and "/ui/login" in r.headers["Location"]
    assert authed.get("/ui/api/overview").status_code == 401
    # login page + csrf endpoint are reachable without a session
    assert authed.get("/ui/login").status_code == 200
    _login(authed)
    assert authed.get("/ui").status_code == 200
    assert authed.get("/ui/api/overview").status_code == 200
    # health stays open throughout — it is the machine surface
    assert authed.get("/health/state").status_code == 200


def test_login_rejects_bad_csrf_and_bad_key(authed):
    # a made-up csrf token fails closed
    r = authed.post("/ui/api/auth", json={"csrf": "nope", "api_key": "s3cret"})
    assert r.status_code == 403
    # valid csrf + wrong key -> 401; the token is NOT consumed by failure
    csrf = authed.get("/ui/api/auth/csrf").get_json()["csrf"]
    r = authed.post("/ui/api/auth", json={"csrf": csrf, "api_key": "wrong"})
    assert r.status_code == 401
    # csrf tokens are single-use: a successful login consumes it
    r = authed.post("/ui/api/auth", json={"csrf": csrf, "api_key": "s3cret"})
    assert r.status_code == 200
    r = authed.post("/ui/api/auth", json={"csrf": csrf, "api_key": "s3cret"})
    assert r.status_code == 403


def test_lockout_after_repeated_failures(authed):
    for _ in range(5):
        authed.post("/ui/api/auth", json={"csrf": "bad", "api_key": "x"})
    r = authed.post("/ui/api/auth", json={"csrf": "bad", "api_key": "x"})
    assert r.status_code == 429
    assert "retry" in r.get_json()["error"].lower()


def test_mutations_need_double_submit_csrf(authed):
    _login(authed)
    # session alone is not enough for a mutation: header must echo cookie
    r = authed.post("/ui/api/pause", json={"environment": "e1",
                                           "passphrase": "s3cret"})
    assert r.status_code == 403
    csrf_cookie = authed.get_cookie("trignis_csrf").value
    r = authed.post(
        "/ui/api/pause",
        json={"environment": "e1", "passphrase": "s3cret"},
        headers={"X-CSRF-Token": csrf_cookie},
    )
    assert r.status_code == 200


def test_logout_ends_session(authed):
    _login(authed)
    assert authed.get("/ui").status_code == 200
    csrf_cookie = authed.get_cookie("trignis_csrf").value
    r = authed.post("/ui/api/auth/logout",
                    headers={"X-CSRF-Token": csrf_cookie})
    assert r.status_code == 200
    assert authed.get("/ui").status_code == 302


def test_settings_redacts_secrets_recursively(authed):
    _login(authed)
    s = authed.get("/ui/api/settings").get_json()
    assert s["global"]["polling_interval_seconds"] == 30
    # top-level passphrase key and nested destination token both gone
    assert "admin_passphrase" not in s["global"]
    assert s["global"]["destinations"] == [{"name": "hook", "url": "u"}]
    # server section advertises the auth switch, never the key
    assert s["server"]["auth_enabled"] is True
    flat = json.dumps(s)
    assert "SHOULD-NEVER-SHOW" not in flat and "tok-123" not in flat


def test_settings_view_renders(authed):
    _login(authed)
    r = authed.get("/ui/settings")
    assert r.status_code == 200
    assert b"/ui/api/settings" in r.data


def test_login_gate_off_without_ui_login_flag(rig):
    """The original rig configures the passphrase but not ui_login:
    pause stays step-up-guarded while the UI itself remains open
    (back-compat with the pre-login API surface)."""
    assert rig.client.get("/ui").status_code == 200
    assert rig.client.get("/ui/api/overview").status_code == 200
    # and /ui/login politely redirects into the dashboard
    r = rig.client.get("/ui/login")
    assert r.status_code == 302


def test_webauth_session_expiry_and_tamper_unit():
    from trignis_spark.webauth import WebUiAuth

    now = [1000.0]
    auth = WebUiAuth(token_ttl_hours=1, clock=lambda: now[0])
    tok = auth.issue_session()
    assert auth.validate_session(tok)
    # expired after the TTL
    now[0] += 3601
    assert not auth.validate_session(tok)
    # tampered expiry fails the signature before the time check
    now[0] = 1000.0
    exp, sig = tok.split(".", 1)
    assert not auth.validate_session(f"{int(exp) + 9999}.{sig}")
    assert not auth.validate_session("garbage")
    assert not auth.validate_session(None)
    # csrf single-use + expiry
    c = auth.generate_csrf()
    assert auth.validate_csrf(c)
    now[0] += 601
    assert not auth.validate_csrf(c)


# -- embedding-gate cycle health (VERDICT r9 #6; ref Program.cs:906-949) ---


def test_health_ingest_serves_gate_registry(rig):
    from trignis_spark.streaming import ingest

    rec = {
        "epoch_id": 4, "at": 1.0, "accepted": 7, "near_dup": 2,
        "timings": {"dedup": 0.1, "probe": 1.2, "write": 0.2,
                    "extend": 0.4},
        "precision": "adc", "adc_margin": 0.0056, "folded": 0,
    }
    ingest.INGEST_HEALTH["idx_prod"] = {"cycles": [rec], "last": rec}
    try:
        r = rig.client.get("/health/ingest")
        assert r.status_code == 200
        body = r.get_json()
        assert body["gate_count"] == 1
        gate = body["gates"]["idx_prod"]
        assert gate["last"]["timings"]["probe"] == 1.2
        assert gate["last"]["adc_margin"] == 0.0056
        assert gate["cycles"] == [rec]
    finally:
        ingest.INGEST_HEALTH.pop("idx_prod", None)
    # empty registry still serves a well-formed payload
    r = rig.client.get("/health/ingest")
    assert r.get_json()["gate_count"] == 0


def test_health_ingest_survives_driver_restart(rig, tmp_path):
    """VERDICT r10 #3: the gate's cycle health must outlive the driver
    the way the reference's SQLite-backed surface does
    (``Program.cs:906-949``). Kill/reattach simulation: a gate persists
    its entry, the process-memory registry dies with the driver, and a
    FRESH app bound to the same health root still serves the last-N
    cycles."""
    from trignis_spark.api import create_app
    from trignis_spark.streaming import ingest

    root = str(tmp_path / "health")
    import os

    os.makedirs(root)
    cycles = [
        {"epoch_id": i, "at": float(i), "accepted": i, "near_dup": 0,
         "timings": {"probe": 0.5 + i}, "precision": "exact",
         "adc_margin": None, "folded": 0}
        for i in range(3)
    ]
    with ingest._HEALTH_LOCK:
        ingest._persist_ingest_health(
            root, "idx_prod", {"last": cycles[-1], "cycles": cycles}
        )

    # --- driver "restart": registry empty, new app over the same root
    assert "idx_prod" not in ingest.INGEST_HEALTH
    app = create_app(
        rig.state, rig.dlq, rig.pauses, ingest_health_root=root
    ).test_client()
    body = app.get("/health/ingest").get_json()
    assert body["gate_count"] == 1
    gate = body["gates"]["idx_prod"]
    assert [c["epoch_id"] for c in gate["cycles"]] == [0, 1, 2]
    assert gate["last"]["timings"]["probe"] == 2.5

    # a LIVE gate with the same name is strictly newer — it wins
    live = {"epoch_id": 9, "at": 9.0, "accepted": 1, "near_dup": 0,
            "timings": {"probe": 0.1}, "precision": "exact",
            "adc_margin": None, "folded": 0}
    ingest.INGEST_HEALTH["idx_prod"] = {"cycles": [live], "last": live}
    try:
        gate = app.get("/health/ingest").get_json()["gates"]["idx_prod"]
        assert gate["last"]["epoch_id"] == 9
    finally:
        ingest.INGEST_HEALTH.pop("idx_prod", None)

    # restore_ingest_health: merge back into a fresh registry
    assert ingest.restore_ingest_health(root) == 1
    try:
        assert ingest.INGEST_HEALTH["idx_prod"]["last"]["epoch_id"] == 2
        assert ingest.restore_ingest_health(root) == 0  # live wins
    finally:
        ingest.INGEST_HEALTH.pop("idx_prod", None)
