"""Control-plane HTTP API — the reference's dataset-management surface
(EP1/EP3, app/api/v1/endpoints/file.py) on the standard library.

Endpoints (JSON in/out, mirroring the reference's routes):

- ``POST   /api/v1/files/``        create a managed dataset (rejects
  encrypted forms, optionally triggers an immediate sync) — EP1,
  file.py:223-285;
- ``GET    /api/v1/files/``        list datasets — file.py:42-88;
- ``GET    /api/v1/files/{id}``    dataset metadata + status; with
  ``?file_format=hyper`` answers 307 to the presigned download URL —
  file.py:91-114;
- ``PATCH  /api/v1/files/{id}``    re-point the dataset at another
  Tableau configuration (400 when the configuration id is unknown) —
  file.py:117-143;
- ``POST   /api/v1/files/{id}/sync`` forced refresh; 202 when already
  queued/syncing — file.py:163-201;
- ``DELETE /api/v1/files/{id}``    remove the dataset — file.py:146-160.

Registration surface the reference requires before any file exists
(app/api/v1/api.py:6-10):

- ``POST/GET /api/v1/servers/`` + ``GET /api/v1/servers/{id}`` — OnaData
  server registrations users authorize against; URL validated/normalized
  and deduplicated; ``client_secret`` Fernet-encrypted at rest; the
  response exposes only ``{id, url}`` (endpoints/server.py:15-61,
  app/models/server.py);
- ``POST/GET/PATCH/DELETE /api/v1/configurations/`` — Tableau publish
  configurations with the six export-settings defaults of
  app/models/configuration.py:25-38; ``token_value`` Fernet-encrypted
  and never echoed (schemas ConfigurationResponse); uniqueness on
  (server_address, token_name) mirrors the ``_server_token_name_uc``
  constraint; an injectable validator stands in for
  TableauClient.validate_configuration (app/libs/tableau/client.py:21-38,
  endpoints/configuration.py).

The OAuth2 code flow (``GET /oauth/login`` → 302 authorize redirect,
``GET /oauth/callback`` → token; app/api/v1/endpoints/oauth.py) is
served by duva_spark.oauth.OAuthFlow when one is attached, and
``GET /metrics`` exposes the sync gauge/counters in Prometheus text
format (app/main.py:56-64) when the SyncJob carries a MetricsRegistry.

FastAPI isn't available in this environment, so the server is a
ThreadingHTTPServer with a plain routing table — the HTTP semantics
(status codes, the 202 already-syncing contract, encrypted-form 400,
the OAuth state/redirect contract) are what's being reproduced, not the
framework.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

import logging

from duva_spark.egress import presigned_url_expiry
from duva_spark.middleware import CORSPolicy, ErrorReporter, SessionCodec
from duva_spark.oauth import OAuthFlow
from duva_spark.orchestration import FileStatus, LockHeld, MetadataStore, SyncJob
from duva_spark.security import EncryptedFormError, fernet_encrypt, reject_encrypted_form

# Reference app/models/configuration.py:25-38 — the server_default JSON.
EXPORT_SETTINGS_DEFAULTS = {
    "include_labels": True,
    "remove_group_name": True,
    "do_not_split_select_multiple": False,
    "include_reviews": False,
    "include_labels_only": True,
    "value_select_multiples": True,
}

_CONFIG_FIELDS = (
    "server_address",
    "site_name",
    "token_name",
    "token_value",
    "project_name",
)


class ControlPlane:
    """Route logic, transport-free (easy to test and to graft onto any
    framework)."""

    def __init__(
        self,
        store: MetadataStore,
        sync_job: SyncJob,
        out_root: str,
        oauth: OAuthFlow | None = None,
        secret_key: str = "duva-spark-control-plane",
        validate_config: Callable[[dict], bool] | None = None,
        presign: Callable[[str], tuple[str, float]] | None = None,
        cors: CORSPolicy | None = None,
        https_only: bool = True,
        same_site: str = "lax",
        error_reporter: "ErrorReporter | None" = None,
        trust_proxy_headers: bool = False,
    ):
        self.store = store
        self.sync_job = sync_job
        self.out_root = out_root
        self.oauth = oauth
        self.secret_key = secret_key
        # Stand-in for TableauClient.validate_configuration (reference
        # app/libs/tableau/client.py:21-38 — a live sign-in/sign-out);
        # None = accept (no Tableau server in this environment).
        self.validate_config = validate_config
        # Stand-in for the S3 presigned download link (reference
        # app/crud/crud_hyperfile.py get_download_links); swap in
        # egress.S3ArtifactClient.presigned_download_url when S3 exists.
        self.presign = presign or self._default_presign
        # Middleware parity (reference app/main.py:41-55): session cookie
        # signer (SECURE_SESSIONS / SESSION_SAME_SITE defaults) + CORS
        # allow-list.  cors=None means no CORS headers at all, matching
        # the reference's empty CORS_ALLOWED_ORIGINS default.
        self.cors = cors
        # Sentry-middleware parity (reference app/main.py:59-61): only
        # active when a DSN is configured; a disabled reporter is a
        # no-op so the default stays dependency- and overhead-free.
        self.errors = error_reporter or ErrorReporter()
        # X-Forwarded-Proto is only honored when the operator says a
        # trusted proxy sits in front (uvicorn --proxy-headers parity);
        # otherwise any client could downgrade the advertised scheme
        self.trust_proxy_headers = trust_proxy_headers
        self.sessions = SessionCodec(
            secret_key, https_only=https_only, same_site=same_site
        )
        self.log = logging.getLogger("duva_spark.api")
        # /health dependency probes (reference app/main.py:80-97 pings
        # the DB and Redis; the stand-ins here are the metadata store
        # and the sync job). Keys keep the reference's response names.
        self.health_checks: dict[str, Callable[[], bool]] = {
            "Database": lambda: self.store.ids() is not None,
            "Cache": lambda: self.sync_job is not None,
        }
        self._forms: dict[str, dict] = {}
        self._servers: dict[int, dict] = {}
        self._configs: dict[int, dict] = {}
        self._file_configs: dict[str, int] = {}
        self._next_id = {"server": 1, "config": 1}
        # ThreadingHTTPServer handlers mutate these dicts concurrently;
        # id allocation and the check-then-insert uniqueness windows need
        # one lock (MetadataStore brings its own).
        self._mutate = threading.Lock()

    def _take_id(self, kind: str) -> int:
        n = self._next_id[kind]
        self._next_id[kind] = n + 1
        return n

    def _default_presign(self, dataset_id: str) -> tuple[str, float]:
        expires = presigned_url_expiry()
        url = f"file://{self.out_root}/{dataset_id}.hyper?Expires={int(expires)}"
        return url, expires

    # ---- handlers: (status_code, body) --------------------------------
    def create_file(self, body: dict) -> tuple[int, dict]:
        form = body.get("form", {})
        try:
            reject_encrypted_form(form)
        except EncryptedFormError as exc:
            return 400, {"detail": str(exc)}
        dataset_id = str(body.get("form_id") or form.get("formid") or "")
        if not dataset_id:
            return 422, {"detail": "form_id is required"}
        # configuration may be attached at creation time (reference
        # file.py:267-275): unknown id → 400, same wording as PATCH
        cid = body.get("configuration_id")
        # int() coercion mirrors patch_file (a non-numeric value raises
        # ValueError → the dispatcher's 422, FastAPI-validation parity);
        # the check-then-attach runs under the mutation lock so a
        # concurrent configuration DELETE can't interleave
        with self._mutate:
            if cid is not None and int(cid) not in self._configs:
                return 400, {"detail": "Configuration not found with given ID"}
            state = self.store.get(dataset_id)
            self._forms[dataset_id] = form
            if cid is not None:
                self._file_configs[dataset_id] = int(cid)
        if body.get("sync_immediately"):
            try:
                self.sync_job.run(dataset_id, f"{self.out_root}/{dataset_id}")
            except Exception:
                pass  # failure recorded in state; creation still succeeds
        return 201, self._view(dataset_id)

    def list_files(self, form_id: str | None = None) -> tuple[int, list | dict]:
        """reference file.py:42-66 — optional ?form_id= filter; a
        non-integer value answers 400 with the reference's wording."""
        if form_id is not None:
            try:
                want = str(int(form_id))
            except ValueError:
                return 400, {"detail": f"Invalid form_id provided: {form_id}"}
            # match the raw id too: '007' round-trips to '7' but the
            # stored dataset id keeps the original spelling
            return 200, [
                self._view(d)
                for d in self.store.ids()
                if d == want or d == form_id
            ]
        return 200, [self._view(d) for d in self.store.ids()]

    def get_file(self, dataset_id: str) -> tuple[int, dict]:
        if not self.store.exists(dataset_id):
            return 404, {"detail": "File not found"}
        return 200, self._view(dataset_id)

    def sync_file(self, dataset_id: str) -> tuple[int, dict]:
        if not self.store.exists(dataset_id):
            return 404, {"detail": "File not found"}
        # the attached Tableau configuration is re-validated before a
        # forced sync (reference file.py:178-184): a configuration that
        # no longer signs in answers 400 with the upstream wording
        cid = self._file_configs.get(dataset_id)
        if cid is not None and self.validate_config is not None:
            cfg = self._configs.get(cid)
            if cfg is None or not self.validate_config(cfg):
                return 400, {"detail": f"Invalid configuration ID {cid}"}
        state = self.store.get(dataset_id)
        if state.file_status in (FileStatus.QUEUED.value, FileStatus.SYNCING.value):
            return 202, {"detail": "Sync already in progress"}
        try:
            self.sync_job.run(dataset_id, f"{self.out_root}/{dataset_id}")
        except LockHeld:
            return 202, {"detail": "Sync already in progress"}
        except Exception:
            pass  # recorded by the state machine
        return 200, self._view(dataset_id)

    def delete_file(self, dataset_id: str) -> tuple[int, dict | None]:
        if not self.store.delete(dataset_id):
            return 404, {"detail": "File not found"}
        self._forms.pop(dataset_id, None)
        self._file_configs.pop(dataset_id, None)
        return 204, None

    def patch_file(self, dataset_id: str, body: dict) -> tuple[int, dict]:
        """Re-point a dataset at another Tableau configuration
        (reference file.py:117-143: unknown configuration id → 400
        BEFORE the file-existence check, then 404 on unknown file)."""
        with self._mutate:
            cid = body.get("configuration_id")
            if cid is not None and int(cid) not in self._configs:
                return 400, {"detail": "Configuration not found with given ID"}
            if not self.store.exists(dataset_id):
                return 404, {"detail": "File not found"}
            if cid is not None:
                self._file_configs[dataset_id] = int(cid)
            return 200, self._view(dataset_id)

    def download_redirect(self, dataset_id: str) -> tuple[int, dict | None, dict]:
        """``?file_format=hyper`` → 307 to the presigned artifact URL
        (reference file.py:108-110 RedirectResponse, temporary)."""
        if not self.store.exists(dataset_id):
            return 404, {"detail": "File not found"}, {}
        url, _ = self.presign(dataset_id)
        return 307, None, {"Location": url}

    # ---- servers (reference endpoints/server.py) ----------------------
    def create_server(self, body: dict) -> tuple[int, dict]:
        with self._mutate:
            url = body.get("url", "")
            parts = urlsplit(url)
            if not parts.scheme or not parts.netloc:
                return 400, {"detail": f"Invalid url {url}"}
            norm = f"{parts.scheme}://{parts.netloc}{parts.path}"
            if any(s["url"] == norm for s in self._servers.values()):
                return 400, {"detail": f"Server {norm} already configured."}
            sid = self._take_id("server")
            self._servers[sid] = {
                "id": sid,
                "url": norm,
                "client_id": body.get("client_id", ""),
                "client_secret": fernet_encrypt(
                    body.get("client_secret", ""), self.secret_key
                ),
            }
            return 201, {"id": sid, "url": norm}

    def get_server(self, sid: int) -> tuple[int, dict]:
        s = self._servers.get(sid)
        if not s:
            return 404, {
                "detail": f"Server configuration with ID {sid} can not be found."
            }
        return 200, {"id": s["id"], "url": s["url"]}

    def list_servers(self, skip: int = 0, limit: int = 100) -> tuple[int, list]:
        rows = [
            {"id": s["id"], "url": s["url"]}
            for s in sorted(self._servers.values(), key=lambda s: s["id"])
        ]
        return 200, rows[skip : skip + limit]

    # ---- configurations (reference endpoints/configuration.py) --------
    def _config_view(self, cid: int) -> dict:
        c = self._configs[cid]
        return {  # token_value deliberately absent (ConfigurationResponse)
            "id": cid,
            "server_address": c["server_address"],
            "site_name": c["site_name"],
            "token_name": c["token_name"],
            "project_name": c["project_name"],
            "export_settings": dict(c["export_settings"]),
        }

    def _config_conflict(self, body: dict, exclude: int | None = None) -> bool:
        """(server_address, token_name) uniqueness — the reference's
        ``_server_token_name_uc`` constraint (configuration.py model)."""
        return any(
            cid != exclude
            and c["server_address"] == body["server_address"]
            and c["token_name"] == body["token_name"]
            for cid, c in self._configs.items()
        )

    def create_configuration(self, body: dict) -> tuple[int, dict]:
        with self._mutate:
            cfg = {k: body.get(k, "") for k in _CONFIG_FIELDS}
            if self.validate_config is not None and not self.validate_config(cfg):
                return 400, {"detail": "Invalid Configuration"}
            if self._config_conflict(cfg):
                return 400, {"detail": "Configuration already exists"}
            cid = self._take_id("config")
            cfg["token_value"] = fernet_encrypt(cfg["token_value"], self.secret_key)
            cfg["export_settings"] = {
                **EXPORT_SETTINGS_DEFAULTS,
                **(body.get("export_settings") or {}),
            }
            self._configs[cid] = cfg
            return 201, self._config_view(cid)

    def get_configuration(self, cid: int) -> tuple[int, dict]:
        if cid not in self._configs:
            return 404, {"detail": "Configuration not found."}
        return 200, self._config_view(cid)

    def list_configurations(self, base_url: str = "") -> tuple[int, list]:
        out = []
        for cid in sorted(self._configs):
            v = self._config_view(cid)
            v["url"] = f"{base_url}/api/v1/configurations/{cid}"
            out.append(v)
        return 200, out

    def patch_configuration(self, cid: int, body: dict) -> tuple[int, dict]:
        with self._mutate:
            if cid not in self._configs:
                return 404, {"detail": "Configuration not found."}
            cur = self._configs[cid]
            merged = {
                k: body.get(k, cur[k]) for k in _CONFIG_FIELDS if k != "token_value"
            }
            # validate with the token the config will actually hold: the
            # patched one if sent, else the CURRENT decrypted token — a
            # real sign-in validator must not see an empty credential on
            # a patch that leaves the token untouched
            if "token_value" in body:
                effective_token = body["token_value"]
            else:
                from duva_spark.security import fernet_decrypt

                effective_token = fernet_decrypt(cur["token_value"], self.secret_key)
            if self.validate_config is not None and not self.validate_config(
                {**merged, "token_value": effective_token}
            ):
                return 400, {"detail": "Invalid Configuration"}
            if self._config_conflict(merged, exclude=cid):
                return 400, {"detail": "Configuration already exists"}
            cur.update(merged)
            if "token_value" in body:
                cur["token_value"] = fernet_encrypt(body["token_value"], self.secret_key)
            if "export_settings" in body:
                cur["export_settings"] = {
                    **cur["export_settings"],
                    **(body["export_settings"] or {}),
                }
            return 200, self._config_view(cid)

    def delete_configuration(self, cid: int) -> tuple[int, dict | None]:
        with self._mutate:
            if cid not in self._configs:
                return 404, {"detail": "Configuration not found."}
            del self._configs[cid]
            return 204, None

    # reference app/main.py:68-97 — app metadata + dependency health
    APP_NAME = "Duva"
    APP_DESCRIPTION = "Duva is an application that converts CSV to Tableau Hyper Databases"
    APP_VERSION = "0.2.0"

    def home(self, base_url: str) -> tuple[int, dict]:
        # both advertised URLs are real routes (see _ROUTES: /docs and
        # /openapi.json) — ADVICE r4 flagged them as 404ing dead links
        return 200, {
            "app_name": self.APP_NAME,
            "app_description": self.APP_DESCRIPTION,
            "app_version": self.APP_VERSION,
            "docs_url": f"{base_url}/docs",
            "openapi_url": f"{base_url}/openapi.json",
        }

    def openapi(self) -> tuple[int, dict]:
        """OpenAPI 3 document generated from the live route table — the
        FastAPI-served /openapi.json the reference gets for free. Kept
        deliberately schema-light (paths + methods + app metadata); the
        point is that the advertised URL answers with a truthful
        machine-readable route inventory, not a 404."""
        paths: dict = {}
        for method, _pat, action, template in _ROUTES:
            if action in ("docs", "openapi"):
                continue
            paths.setdefault(template, {})[method.lower()] = {
                "operationId": action,
                "responses": {"default": {"description": "See route handler"}},
            }
        return 200, {
            "openapi": "3.0.2",
            "info": {
                "title": self.APP_NAME,
                "description": self.APP_DESCRIPTION,
                "version": self.APP_VERSION,
            },
            "paths": paths,
        }

    def docs_html(self) -> str:
        """Minimal self-contained API docs page (no CDN assets — the
        stdlib server has no static bundling): lists every route from
        the same table /openapi.json serves."""
        rows = "".join(
            f"<tr><td><code>{m}</code></td><td><code>{t}</code></td><td>{a}</td></tr>"
            for m, _p, a, t in _ROUTES
            if a not in ("docs", "openapi")
        )
        return (
            f"<!DOCTYPE html><html><head><title>{self.APP_NAME} — docs</title>"
            "</head><body>"
            f"<h1>{self.APP_NAME} {self.APP_VERSION}</h1>"
            f"<p>{self.APP_DESCRIPTION}</p>"
            '<p>Machine-readable spec: <a href="/openapi.json">/openapi.json</a></p>'
            f"<table><tr><th>Method</th><th>Path</th><th>Operation</th></tr>{rows}</table>"
            "</body></html>"
        )

    def health(self) -> tuple[int, dict]:
        """Dependency probe: every check OK → 200, any failing → 500,
        with the reference's exact {"Database": "OK"/"FAILING", ...}
        body (a check that raises counts as failing, like the
        redis.ping() try/except; the check name and exception class go
        to the log, the body stays the reference's)."""
        status = {}
        for name, check in self.health_checks.items():
            try:
                ok = bool(check())
            except Exception as exc:
                self.log.warning("health check %s failed: %s", name, type(exc).__name__)
                ok = False
            status[name] = "OK" if ok else "FAILING"
        code = 200 if all(v == "OK" for v in status.values()) else 500
        return code, status

    def oauth_login(self, params: dict) -> tuple[int, dict | None, dict]:
        if self.oauth is None:
            return 404, {"detail": "OAuth not configured"}, {}
        server_url = params.get("server_url", "")
        if not server_url:
            return 422, {"detail": "server_url is required"}, {}
        return self.oauth.login(server_url, params.get("redirect_url"))

    def oauth_callback(self, params: dict) -> tuple[int, dict | None, dict]:
        if self.oauth is None:
            return 404, {"detail": "OAuth not configured"}, {}
        code, state = params.get("code"), params.get("state")
        if not code or not state:
            return 422, {"detail": "code and state are required"}, {}
        return self.oauth.callback(code, state)

    def _view(self, dataset_id: str) -> dict:
        s = self.store.get(dataset_id)
        url, expires = self.presign(dataset_id)
        cid = self._file_configs.get(dataset_id)
        return {
            "id": s.dataset_id,
            "file_status": s.file_status,
            "is_active": s.is_active,
            "sync_failures": s.sync_failures,
            "failure_reason": s.failure_reason,
            "last_updated": s.last_updated,
            # inject_urls parity (reference file.py:25-39)
            "configuration_id": cid,
            "configuration_url": (
                f"/api/v1/configurations/{cid}" if cid is not None else None
            ),
            "download_url": url,
            "download_url_valid_till": expires,
        }


_ROUTES = [
    ("POST", re.compile(r"^/api/v1/files/?$"), "create", "/api/v1/files/"),
    ("GET", re.compile(r"^/api/v1/files/?$"), "list", "/api/v1/files/"),
    ("GET", re.compile(r"^/oauth/login$"), "oauth_login", "/oauth/login"),
    ("GET", re.compile(r"^/oauth/callback$"), "oauth_callback", "/oauth/callback"),
    ("GET", re.compile(r"^/metrics$"), "metrics", "/metrics"),
    ("GET", re.compile(r"^/$"), "home", "/"),
    ("GET", re.compile(r"^/docs$"), "docs", "/docs"),
    ("GET", re.compile(r"^/openapi\.json$"), "openapi", "/openapi.json"),
    ("GET", re.compile(r"^/health$"), "health", "/health"),
    ("POST", re.compile(r"^/api/v1/servers/?$"), "server_create", "/api/v1/servers/"),
    ("GET", re.compile(r"^/api/v1/servers/?$"), "server_list", "/api/v1/servers/"),
    ("GET", re.compile(r"^/api/v1/servers/(?P<id>\d+)$"), "server_get", "/api/v1/servers/{id}"),
    ("POST", re.compile(r"^/api/v1/configurations/?$"), "config_create", "/api/v1/configurations/"),
    ("GET", re.compile(r"^/api/v1/configurations/?$"), "config_list", "/api/v1/configurations/"),
    ("GET", re.compile(r"^/api/v1/configurations/(?P<id>\d+)$"), "config_get", "/api/v1/configurations/{id}"),
    ("PATCH", re.compile(r"^/api/v1/configurations/(?P<id>\d+)$"), "config_patch", "/api/v1/configurations/{id}"),
    ("DELETE", re.compile(r"^/api/v1/configurations/(?P<id>\d+)$"), "config_delete", "/api/v1/configurations/{id}"),
    ("GET", re.compile(r"^/api/v1/files/(?P<id>[^/]+)$"), "get", "/api/v1/files/{id}"),
    ("PATCH", re.compile(r"^/api/v1/files/(?P<id>[^/]+)$"), "patch", "/api/v1/files/{id}"),
    ("POST", re.compile(r"^/api/v1/files/(?P<id>[^/]+)/sync$"), "sync", "/api/v1/files/{id}/sync"),
    ("DELETE", re.compile(r"^/api/v1/files/(?P<id>[^/]+)$"), "delete", "/api/v1/files/{id}"),
]


def _make_handler(cp: ControlPlane):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # BaseHTTPRequestHandler's stderr
            pass  # lines are replaced by the dictConfig logger below

        def _cors_headers(self) -> dict:
            if cp.cors is None:
                return {}
            return cp.cors.response_headers(self.headers.get("Origin"))

        def _reply(self, code: int, data: bytes, headers: dict,
                   content_type: str = "application/json"):
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            for k, v in {**self._cors_headers(), **headers}.items():
                self.send_header(k, v)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            # structured access log (reference app/core/logger.py shape)
            cp.log.info("%s %s -> %s", self.command, self.path, code)
            # request metrics by ROUTE TEMPLATE, routed paths only
            # (starlette_exporter filter_unhandled_paths parity)
            template = getattr(self, "_route_template", None)
            reg = getattr(cp.sync_job, "metrics", None)
            if template and reg is not None:
                reg.observe_request(
                    self.command,
                    template,
                    code,
                    time.perf_counter() - self._route_t0,
                )

        def do_OPTIONS(self):
            self._route_template = None
            if cp.cors is not None and cp.cors.is_preflight("OPTIONS", self.headers):
                code, headers, text = cp.cors.preflight(self.headers)
                # headers already carry the CORS allow-set; skip the
                # simple-response merge to avoid duplicates
                self.send_response(code)
                self.send_header("Content-Type", "text/plain; charset=utf-8")
                for k, v in headers.items():
                    self.send_header(k, v)
                data = text.encode()
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
                cp.log.info("OPTIONS %s -> %s", self.path, code)
                return
            self._reply(405, b"", {})

        def _dispatch(self, method: str):
            # handler instances persist across keep-alive requests on a
            # connection — clear the route marker so an unrouted request
            # can't inherit the previous request's metrics label
            self._route_template = None
            for m, pat, action, template in _ROUTES:
                if m != method:
                    continue
                match = pat.match(self.path.split("?")[0])
                if not match:
                    continue
                self._route_template = template
                self._route_t0 = time.perf_counter()
                try:
                    self._handle_routed(method, action, match, template)
                except Exception as exc:  # noqa: BLE001 — the ASGI catch-all
                    # Sentry-middleware parity (reference app/main.py:
                    # 59-61): ANY unhandled exception in the routed
                    # request — action handlers, /metrics exposition,
                    # /docs rendering, cookie minting, response
                    # serialization — is captured to the gated error
                    # reporter and answered as a 500 instead of dropping
                    # the socket (the r5 review widened this from the
                    # action chain to the whole routed body).
                    cp.errors.capture_exception(
                        exc, method=method, path=self.path, route=template
                    )
                    cp.log.error(
                        "unhandled error on %s %s", method, self.path, exc_info=exc
                    )
                    try:
                        self._reply(
                            500,
                            json.dumps({"detail": "Internal Server Error"}).encode(),
                            {},
                        )
                    except Exception:
                        # headers already sent — nothing more to salvage
                        pass
                return
            self._reply(404, b"", {})

        def _handle_routed(self, method: str, action: str, match, template: str):
            body = {}
            if method in ("POST", "PATCH"):
                try:
                    n = max(0, int(self.headers.get("Content-Length") or 0))
                except ValueError:
                    n = 0
                if n:
                    try:
                        body = json.loads(self.rfile.read(n) or b"{}")
                        if not isinstance(body, dict):
                            # valid JSON but not an object ([1,2],
                            # "x", null) — FastAPI's validation
                            # layer answers 422, not a crash
                            raise ValueError("body must be a JSON object")
                    except ValueError:
                        # malformed JSON answers 422 like the
                        # reference's FastAPI validation layer
                        # (ADVICE r3: it previously escaped the
                        # handler and dropped the socket with no
                        # HTTP response at all)
                        data = json.dumps(
                            {"detail": "Invalid request parameter"}
                        ).encode()
                        self._reply(422, data, {})
                        return
            if action == "metrics":
                reg = getattr(cp.sync_job, "metrics", None)
                if reg is None:
                    self._reply(404, b"", {})
                    return
                self._reply(
                    200,
                    reg.exposition().encode(),
                    {},
                    content_type="text/plain; version=0.0.4; charset=utf-8",
                )
                return
            if action == "docs":
                self._reply(
                    200,
                    cp.docs_html().encode(),
                    {},
                    content_type="text/html; charset=utf-8",
                )
                return
            qs = parse_qs(urlsplit(self.path).query)
            params = {k: v[0] for k, v in qs.items()}
            # scheme from the session config (hardcoded http:// produced
            # wrong links under https_only deployments — ADVICE r4);
            # X-Forwarded-Proto overrides ONLY when the operator opted in
            # to trusting a fronting proxy AND the value is a real scheme
            # — an untrusted client must not downgrade advertised links
            # or inject junk into base_url (r5 review)
            scheme = "https" if cp.sessions.https_only else "http"
            if cp.trust_proxy_headers:
                fwd = (self.headers.get("X-Forwarded-Proto") or "").strip().lower()
                if fwd in ("http", "https"):
                    scheme = fwd
            base_url = f"{scheme}://{self.headers.get('Host', '')}"
            headers: dict = {}
            try:
                if action == "home":
                    code, payload = cp.home(base_url)
                elif action == "openapi":
                    code, payload = cp.openapi()
                elif action == "health":
                    code, payload = cp.health()
                elif action == "create":
                    code, payload = cp.create_file(body)
                elif action == "list":
                    code, payload = cp.list_files(params.get("form_id"))
                elif action in ("oauth_login", "oauth_callback"):
                    code, payload, headers = getattr(cp, action)(params)
                elif action == "get":
                    if params.get("file_format") == "hyper":
                        code, payload, headers = cp.download_redirect(match["id"])
                    else:
                        code, payload = cp.get_file(match["id"])
                elif action == "patch":
                    code, payload = cp.patch_file(match["id"], body)
                elif action == "sync":
                    code, payload = cp.sync_file(match["id"])
                elif action == "delete":
                    code, payload = cp.delete_file(match["id"])
                elif action == "server_create":
                    code, payload = cp.create_server(body)
                elif action == "server_list":
                    code, payload = cp.list_servers(
                        max(0, int(params.get("skip", 0))),
                        max(0, int(params.get("limit", 100))),
                    )
                elif action == "server_get":
                    code, payload = cp.get_server(int(match["id"]))
                elif action == "config_create":
                    code, payload = cp.create_configuration(body)
                elif action == "config_list":
                    code, payload = cp.list_configurations(base_url)
                elif action == "config_get":
                    code, payload = cp.get_configuration(int(match["id"]))
                elif action == "config_patch":
                    code, payload = cp.patch_configuration(int(match["id"]), body)
                else:
                    code, payload = cp.delete_configuration(int(match["id"]))
            except (ValueError, TypeError):
                # malformed ids / params / body types answer 422 like
                # the reference's FastAPI validation layer — never an
                # unhandled traceback that drops the connection
                code, payload = 422, {"detail": "Invalid request parameter"}
            if (
                action == "oauth_callback"
                and code == 200
                and isinstance(payload, dict)
                and "access_token" in payload
            ):
                # SessionMiddleware parity: the callback that mints a
                # bearer token also creates the signed session cookie
                # (reference security.py:84 request.session["token"])
                headers["Set-Cookie"] = cp.sessions.set_cookie_header(
                    {"token": payload["access_token"]}
                )
            data = b"" if payload is None else json.dumps(payload).encode()
            self._reply(code, data, headers)

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

        def do_PATCH(self):
            self._dispatch("PATCH")

        def do_DELETE(self):
            self._dispatch("DELETE")

    return Handler


def serve(cp: ControlPlane, port: int = 0) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the API on a background thread; returns (server, thread).
    port=0 picks a free port (server.server_address[1])."""
    server = ThreadingHTTPServer(("127.0.0.1", port), _make_handler(cp))
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread
