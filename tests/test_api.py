"""Control-plane HTTP API: the reference's route semantics over a live
socket (EP1/EP3 — create/list/get/sync/delete, encrypted-form 400,
already-syncing 202)."""

from __future__ import annotations

import json
import logging
import urllib.request

import pytest

from duva_spark.api import ControlPlane, serve
from duva_spark.orchestration import FileStatus, MetadataStore, SyncJob
from duva_spark.sinks import read_dataset

CSV = "name,age\nalice,34\nbob,41\n"


def _req(base, method, path, body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(f"{base}{path}", data=data, method=method)
    if data:
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw) if raw else None
    except urllib.error.HTTPError as e:
        raw = e.read()
        return e.code, json.loads(raw) if raw else None


@pytest.fixture()
def api(spark, tmp_path):
    csv = tmp_path / "export.csv"
    csv.write_text(CSV)
    store = MetadataStore(tmp_path / "catalog.json")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: csv)
    cp = ControlPlane(store, job, str(tmp_path / "out"))
    server, thread = serve(cp)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, store
    server.shutdown()


@pytest.mark.slow
def test_create_and_immediate_sync(api, spark, tmp_path):
    base, store = api
    code, body = _req(base, "POST", "/api/v1/files/", {"form_id": 7, "sync_immediately": True})
    assert code == 201
    assert body["file_status"] == FileStatus.FILE_AVAILABLE.value
    assert read_dataset(spark, str(tmp_path / "out" / "7")).count() == 2


def test_encrypted_form_rejected_400(api):
    base, _ = api
    code, body = _req(
        base, "POST", "/api/v1/files/", {"form_id": 9, "form": {"public_key": "PEM"}}
    )
    assert code == 400
    assert body["detail"] == "Encrypted forms are not supported"


def test_list_get_delete_lifecycle(api):
    base, _ = api
    _req(base, "POST", "/api/v1/files/", {"form_id": 1})
    _req(base, "POST", "/api/v1/files/", {"form_id": 2})
    code, files = _req(base, "GET", "/api/v1/files/")
    assert code == 200 and [f["id"] for f in files] == ["1", "2"]
    code, one = _req(base, "GET", "/api/v1/files/1")
    assert code == 200 and one["file_status"] == FileStatus.QUEUED.value
    code, _ = _req(base, "DELETE", "/api/v1/files/1")
    assert code == 204
    code, _ = _req(base, "GET", "/api/v1/files/1")
    assert code == 404


def test_forced_sync_and_already_syncing_202(api):
    base, store = api
    _req(base, "POST", "/api/v1/files/", {"form_id": 5})
    code, body = _req(base, "POST", "/api/v1/files/5/sync")
    # the fresh dataset is QUEUED → contract says 202 until first sync
    assert code == 202
    # mark it available, then a forced sync runs and succeeds
    store.record_success("5")
    code, body = _req(base, "POST", "/api/v1/files/5/sync")
    assert code == 200 and body["file_status"] == FileStatus.FILE_AVAILABLE.value


def _unreachable_export(_id):
    raise ConnectionError("export unreachable")


@pytest.mark.parametrize(
    "lock_dir, fetch, reason",
    [
        (".", _unreachable_export, "ConnectionError('export unreachable')"),
        ("missing-locks", lambda _id: None, "FileNotFoundError"),
    ],
    ids=["failing-fetch", "missing-lock-dir"],
)
def test_forced_sync_failure_is_recorded_in_the_view(spark, tmp_path, lock_dir, fetch, reason):
    """A failure anywhere in SyncJob.run, taking the lock included,
    reaches the view that POST /sync answers with."""
    store = MetadataStore(tmp_path / "catalog.json")
    job = SyncJob(spark, store, tmp_path / lock_dir, fetch=fetch)
    cp = ControlPlane(store, job, str(tmp_path / "out"))
    cp.create_file({"form_id": 5})
    store.record_success("5")  # available, so a forced sync runs
    code, body = cp.sync_file("5")
    assert code == 200
    assert body["file_status"] == FileStatus.LATEST_SYNC_FAILED.value
    assert body["sync_failures"] == 1
    assert body["failure_reason"].startswith(reason)


def test_sync_unknown_dataset_404(api):
    base, _ = api
    code, _ = _req(base, "POST", "/api/v1/files/nope/sync")
    assert code == 404


# ---------------------------------------------------------------------------
# /servers and /configurations registration surface + file PATCH/redirect
# (reference test_server.py / test_configuration.py / file.py:91-143)
# ---------------------------------------------------------------------------

import http.client


def _raw(base, method, path, body=None):
    """Like _req but never follows redirects (urllib auto-follows 307)."""
    host = base.split("//")[1]
    conn = http.client.HTTPConnection(host)
    data = json.dumps(body) if body is not None else None
    conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    raw = resp.read()
    conn.close()
    return resp.status, json.loads(raw) if raw else None, dict(resp.getheaders())


CONFIG = {
    "site_name": "test",
    "server_address": "http://test",
    "token_name": "test",
    "token_value": "test",
    "project_name": "default",
}


def test_server_bad_url_rejected(api):
    base, _ = api
    code, body = _req(base, "POST", "/api/v1/servers/", {"url": "bad_url"})
    assert code == 400 and body == {"detail": "Invalid url bad_url"}


def test_server_create_dedupe_retrieve(api):
    base, _ = api
    payload = {
        "url": "http://testserver2",
        "client_id": "some_client_id",
        "client_secret": "some_client_secret",
    }
    code, body = _req(base, "POST", "/api/v1/servers/", payload)
    assert code == 201
    assert list(body.keys()) == ["id", "url"]  # secret never echoed
    code, dup = _req(base, "POST", "/api/v1/servers/", payload)
    assert code == 400
    assert dup == {"detail": "Server http://testserver2 already configured."}
    code, got = _req(base, "GET", f"/api/v1/servers/{body['id']}")
    assert code == 200 and got == body
    code, listed = _req(base, "GET", "/api/v1/servers/")
    assert code == 200 and listed == [body]
    code, missing = _req(base, "GET", "/api/v1/servers/999")
    assert code == 404
    assert missing == {"detail": "Server configuration with ID 999 can not be found."}


def test_secrets_encrypted_at_rest(spark, tmp_path):
    """server.client_secret and configuration.token_value are Fernet-
    encrypted in the store and decrypt back with the service key
    (reference app/core/security.py:25-46 usage in both CRUDs)."""
    from duva_spark.security import fernet_decrypt

    store = MetadataStore(tmp_path / "catalog.json")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: tmp_path / "x.csv")
    cp = ControlPlane(store, job, str(tmp_path / "out"))
    cp.create_server({"url": "http://s", "client_secret": "sekrit"})
    stored = next(iter(cp._servers.values()))["client_secret"]
    assert stored != "sekrit"
    assert fernet_decrypt(stored, cp.secret_key) == "sekrit"
    cp.create_configuration({**CONFIG, "token_value": "pat-token"})
    tok = next(iter(cp._configs.values()))["token_value"]
    assert tok != "pat-token"
    assert fernet_decrypt(tok, cp.secret_key) == "pat-token"


def test_configuration_create_retrieve_defaults(api):
    base, _ = api
    code, body = _req(base, "POST", "/api/v1/configurations/", CONFIG)
    assert code == 201
    assert "token_value" not in body  # PAT never echoed
    assert body["export_settings"] == {
        "include_labels": True,
        "remove_group_name": True,
        "do_not_split_select_multiple": False,
        "include_reviews": False,
        "include_labels_only": True,
        "value_select_multiples": True,
    }
    code, dup = _req(base, "POST", "/api/v1/configurations/", CONFIG)
    assert code == 400 and dup == {"detail": "Configuration already exists"}
    code, got = _req(base, "GET", f"/api/v1/configurations/{body['id']}")
    assert code == 200 and got == body
    code, listed = _req(base, "GET", "/api/v1/configurations/")
    assert code == 200 and listed[0]["url"].endswith(
        f"/api/v1/configurations/{body['id']}"
    )


def test_configuration_patch_and_delete(api):
    base, _ = api
    _, body = _req(base, "POST", "/api/v1/configurations/", CONFIG)
    cid = body["id"]
    code, patched = _req(
        base, "PATCH", f"/api/v1/configurations/{cid}", {"site_name": "test_change"}
    )
    assert code == 200 and patched["site_name"] == "test_change"
    assert patched["server_address"] == "http://test"  # untouched fields kept
    code, _ = _req(base, "DELETE", f"/api/v1/configurations/{cid}")
    assert code == 204
    code, gone = _req(base, "GET", f"/api/v1/configurations/{cid}")
    assert code == 404 and gone == {"detail": "Configuration not found."}
    code, gone = _req(base, "PATCH", f"/api/v1/configurations/{cid}", {})
    assert code == 404


def test_configuration_validator_rejects_400(spark, tmp_path):
    csv = tmp_path / "export.csv"
    csv.write_text(CSV)
    store = MetadataStore(tmp_path / "catalog.json")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: csv)
    cp = ControlPlane(
        store, job, str(tmp_path / "out"), validate_config=lambda cfg: False
    )
    server, _ = serve(cp)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        code, body = _req(base, "POST", "/api/v1/configurations/", CONFIG)
        assert code == 400 and body == {"detail": "Invalid Configuration"}
    finally:
        server.shutdown()


def test_file_patch_repoints_configuration(api):
    base, _ = api
    _req(base, "POST", "/api/v1/files/", {"form_id": 3})
    # unknown configuration id → 400 (checked before the file lookup)
    code, body = _req(base, "PATCH", "/api/v1/files/3", {"configuration_id": 42})
    assert code == 400
    assert body == {"detail": "Configuration not found with given ID"}
    _, cfg = _req(base, "POST", "/api/v1/configurations/", CONFIG)
    code, body = _req(base, "PATCH", "/api/v1/files/3", {"configuration_id": cfg["id"]})
    assert code == 200
    assert body["configuration_id"] == cfg["id"]
    assert body["configuration_url"] == f"/api/v1/configurations/{cfg['id']}"
    code, _ = _req(base, "PATCH", "/api/v1/files/nope", {"configuration_id": cfg["id"]})
    assert code == 404


def test_file_hyper_format_307_redirect(api):
    base, _ = api
    _req(base, "POST", "/api/v1/files/", {"form_id": 8})
    code, _, headers = _raw(base, "GET", "/api/v1/files/8?file_format=hyper")
    assert code == 307
    assert "/8.hyper" in headers["Location"]
    assert "Expires=" in headers["Location"]  # presigned, 3600 s window
    code, body = _req(base, "GET", "/api/v1/files/8")
    assert code == 200
    assert body["download_url"].split("?")[0] == headers["Location"].split("?")[0]
    assert body["download_url_valid_till"] > 0
    code, _, _ = _raw(base, "GET", "/api/v1/files/nope?file_format=hyper")
    assert code == 404


def test_patch_configuration_validates_with_current_token(spark, tmp_path):
    """A patch that leaves token_value untouched must hand the validator
    the CURRENT decrypted token, not an empty string — a real sign-in
    check would otherwise reject every metadata-only patch."""
    seen = []

    def validator(cfg):
        seen.append(cfg["token_value"])
        return cfg["token_value"] == "real-pat"

    store = MetadataStore(tmp_path / "catalog.json")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: tmp_path / "x.csv")
    cp = ControlPlane(store, job, str(tmp_path / "out"), validate_config=validator)
    code, body = cp.create_configuration({**CONFIG, "token_value": "real-pat"})
    assert code == 201
    code, body = cp.patch_configuration(body["id"], {"site_name": "changed"})
    assert code == 200 and body["site_name"] == "changed"
    assert seen == ["real-pat", "real-pat"]  # decrypted current token reused


def test_malformed_json_body_answers_422(api):
    """A syntactically invalid JSON body must get a 422 response, not an
    uncaught JSONDecodeError that drops the socket (ADVICE r3)."""
    import urllib.error

    base, _ = api
    req = urllib.request.Request(
        f"{base}/api/v1/files/", data=b"{not json", method="POST"
    )
    req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req) as resp:
            code, raw = resp.status, resp.read()
    except urllib.error.HTTPError as e:
        code, raw = e.code, e.read()
    assert code == 422
    assert json.loads(raw) == {"detail": "Invalid request parameter"}


def test_malformed_ids_answer_422_not_connection_abort(api):
    base, _ = api
    _req(base, "POST", "/api/v1/files/", {"form_id": 4})
    code, body = _req(base, "PATCH", "/api/v1/files/4", {"configuration_id": "abc"})
    assert code == 422 and body == {"detail": "Invalid request parameter"}
    code, _ = _req(base, "GET", "/api/v1/servers/?skip=abc")
    assert code == 422
    code, listed = _req(base, "GET", "/api/v1/servers/?skip=-5")
    assert code == 200 and listed == []  # clamped, not a wrong tail slice


def test_home_route_metadata(api):
    base, _ = api
    code, body = _req(base, "GET", "/")
    assert code == 200
    assert body["app_name"] == "Duva"
    assert body["app_version"] == "0.2.0"
    assert body["docs_url"].endswith("/docs")
    assert body["openapi_url"].endswith("/openapi.json")


def test_docs_and_openapi_routes_are_real(api):
    """The URLs home() advertises must answer, not 404 (ADVICE r4):
    /openapi.json serves an OpenAPI 3 document covering the route
    table; /docs serves an HTML page linking it."""
    import urllib.request

    base, _ = api
    code, spec = _req(base, "GET", "/openapi.json")
    assert code == 200 and spec["openapi"].startswith("3.")
    assert spec["info"]["title"] == "Duva"
    assert "/api/v1/files/" in spec["paths"]
    assert "get" in spec["paths"]["/api/v1/configurations/{id}"]
    with urllib.request.urlopen(f"{base}/docs", timeout=5) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/html")
        html = resp.read().decode()
    assert "/openapi.json" in html and "/api/v1/files/" in html


def test_home_scheme_follows_session_config(api, spark, tmp_path):
    """base_url scheme derives from https_only (ADVICE r4), and
    X-Forwarded-Proto is honored ONLY behind an explicit
    trust_proxy_headers opt-in with a sane value — an untrusted client
    must not downgrade the advertised links (r5 review)."""
    import urllib.request

    base, _ = api
    code, body = _req(base, "GET", "/")
    assert code == 200 and body["docs_url"].startswith("https://")
    # default: the client-supplied header is IGNORED
    req = urllib.request.Request(f"{base}/", headers={"X-Forwarded-Proto": "http"})
    with urllib.request.urlopen(req, timeout=5) as resp:
        body = json.loads(resp.read())
    assert body["docs_url"].startswith("https://")

    store = MetadataStore(tmp_path / "c2.json")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: tmp_path / "x.csv")
    cp = ControlPlane(
        store, job, str(tmp_path / "out"), trust_proxy_headers=True
    )
    server, _ = serve(cp)
    trusted = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        req = urllib.request.Request(
            f"{trusted}/", headers={"X-Forwarded-Proto": "http"}
        )
        with urllib.request.urlopen(req, timeout=5) as resp:
            body = json.loads(resp.read())
        assert body["docs_url"].startswith("http://")  # trusted proxy wins
        req = urllib.request.Request(
            f"{trusted}/", headers={"X-Forwarded-Proto": "javascript:"}
        )
        with urllib.request.urlopen(req, timeout=5) as resp:
            body = json.loads(resp.read())
        assert body["docs_url"].startswith("https://")  # junk value ignored
    finally:
        server.shutdown()


def test_health_ok_and_failing(spark, tmp_path, caplog):
    from duva_spark.api import ControlPlane, serve
    from duva_spark.orchestration import MetadataStore, SyncJob

    store = MetadataStore(tmp_path / "catalog.json")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: tmp_path / "x.csv")
    cp = ControlPlane(store, job, str(tmp_path / "out"))
    server, _ = serve(cp)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        code, body = _req(base, "GET", "/health")
        assert code == 200 and body == {"Database": "OK", "Cache": "OK"}
        # a probe that raises counts as failing -> 500, like the
        # reference's redis.ping() try/except (app/main.py:86-89)
        cp.health_checks["Cache"] = lambda: (_ for _ in ()).throw(RuntimeError())
        with caplog.at_level(logging.WARNING, logger="duva_spark.api"):
            code, body = _req(base, "GET", "/health")
        assert code == 500 and body["Cache"] == "FAILING" and body["Database"] == "OK"
        # the failure is not silent: the check name and exception class
        # are logged, while the body keeps the reference's shape
        failed = [
            r.getMessage() for r in caplog.records
            if r.name == "duva_spark.api" and r.levelno == logging.WARNING
        ]
        assert failed == ["health check Cache failed: RuntimeError"]
    finally:
        server.shutdown()


def test_list_files_form_id_filter_and_400(api):
    """reference file.py:59-67 — ?form_id= narrows the listing; a
    non-integer form_id answers 400 with the reference's wording."""
    base, _ = api
    _req(base, "POST", "/api/v1/files/", {"form_id": 11})
    _req(base, "POST", "/api/v1/files/", {"form_id": 22})
    code, files = _req(base, "GET", "/api/v1/files/?form_id=11")
    assert code == 200 and [f["id"] for f in files] == ["11"]
    code, files = _req(base, "GET", "/api/v1/files/?form_id=99")
    assert code == 200 and files == []
    code, body = _req(base, "GET", "/api/v1/files/?form_id=abc")
    assert code == 400
    assert body["detail"] == "Invalid form_id provided: abc"


def test_sync_revalidates_attached_configuration(spark, tmp_path):
    """reference file.py:178-184 — a forced sync re-validates the file's
    Tableau configuration; a failing one answers 400 with the id."""
    csv = tmp_path / "export.csv"
    csv.write_text(CSV)
    store = MetadataStore(tmp_path / "catalog.json")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: csv)
    verdicts = {"ok": True}
    cp = ControlPlane(
        store, job, str(tmp_path / "out"),
        validate_config=lambda cfg: verdicts["ok"],
    )
    server, _ = serve(cp)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        code, cfg = _req(base, "POST", "/api/v1/configurations/", CONFIG)
        assert code == 201
        _req(base, "POST", "/api/v1/files/", {"form_id": 3, "sync_immediately": True})
        code, _ = _req(
            base, "PATCH", "/api/v1/files/3", {"configuration_id": cfg["id"]}
        )
        assert code == 200
        code, _ = _req(base, "POST", "/api/v1/files/3/sync")
        assert code == 200  # configuration validates -> sync proceeds
        verdicts["ok"] = False  # token revoked upstream
        code, body = _req(base, "POST", "/api/v1/files/3/sync")
        assert code == 400
        assert body["detail"] == f"Invalid configuration ID {cfg['id']}"
    finally:
        server.shutdown()


def test_create_file_with_configuration_id(api):
    """reference file.py:267-275 — configuration may be attached at
    creation; an unknown id answers 400 with the PATCH wording."""
    base, _ = api
    code, body = _req(
        base, "POST", "/api/v1/files/", {"form_id": 31, "configuration_id": 99}
    )
    assert code == 400
    assert body["detail"] == "Configuration not found with given ID"
    code, cfg = _req(base, "POST", "/api/v1/configurations/", CONFIG)
    assert code == 201
    code, body = _req(
        base, "POST", "/api/v1/files/",
        {"form_id": 31, "configuration_id": cfg["id"]},
    )
    assert code == 201
    assert body["configuration_id"] == cfg["id"]
    assert body["configuration_url"] == f"/api/v1/configurations/{cfg['id']}"


def test_non_object_json_body_answers_422(api):
    """Valid JSON that is not an object ([1,2], "x", null) must answer
    422 like FastAPI validation, not crash the handler."""
    import urllib.request

    base, _ = api
    for payload in (b"[1, 2]", b'"x"', b"null", b"5"):
        req = urllib.request.Request(
            f"{base}/api/v1/files/", data=payload, method="POST",
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 422, payload


def test_bad_content_length_header_is_survivable(api):
    """A malformed Content-Length must not crash the handler thread."""
    import http.client

    base, _ = api
    host = base.split("//", 1)[1]
    conn = http.client.HTTPConnection(host, timeout=10)
    try:
        conn.putrequest("POST", "/api/v1/files/")
        conn.putheader("Content-Length", "abc")
        conn.putheader("Content-Type", "application/json")
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status in (201, 422)  # empty body -> form_id missing -> 422
    finally:
        conn.close()
