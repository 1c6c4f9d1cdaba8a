"""OAuth2 authorization-code flow + token refresh (A1).

Reference semantics reproduced on the standard library (FastAPI/httpx
absent in this environment; the HTTP client is injectable):

- login (app/api/v1/endpoints/oauth.py:24-62): resolve the server config
  by URL (400 if unknown), mint a single-use state nonce stored with a
  5-minute TTL (Redis ``setex`` there, an expiring in-process store
  here), 302-redirect to ``{server}/o/authorize?client_id=...&
  response_type=code&state={key}`` with no-cache headers;
- callback (oauth.py:65-146): unknown/expired state → 401
  "Authorization state can not be confirmed."; state is deleted before
  use (single-use); code exchanged at ``/o/token/`` with
  ``grant_type=authorization_code`` and HTTP basic auth
  (client_id, fernet-decrypted client_secret); the user profile is
  fetched and the user row created-or-updated with both tokens
  Fernet-encrypted at rest; response is a bearer token (302 to
  redirect_url when one was given at login);
- refresh (app/core/onadata.py:163-202): ``grant_type=refresh_token``
  with the decrypted stored refresh token; 200 rotates BOTH tokens
  (re-encrypted); a body containing ``invalid_grant`` → 401; anything
  else → FailedExternalRequest (502 at the route).

The bearer token is an HMAC-signed compact token (stdlib) standing in
for the reference's JWT (app/core/security.py:90-100) — same shape
(subject + expiry, signature-verified), no PyJWT dependency.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlsplit, urlunsplit

from duva_spark.security import fernet_decrypt, fernet_encrypt
from duva_spark.sources.http import FailedExternalRequest

OAUTH_STATE_TTL = 300.0  # timedelta(minutes=5), oauth.py:50
TOKEN_ENDPOINT = "/o/token/"  # common_tags.py:7
USER_ENDPOINT = "/api/v1/user"  # common_tags.py:9
AUTHORIZE_ENDPOINT = "/o/authorize"  # oauth.py:52-55


class FailedToRequestCredentials(RuntimeError):
    """security.py:55-71 failure type."""


class InvalidGrant(RuntimeError):
    """Refresh rejected upstream — the client must re-authorize (401)."""


# ---------------------------------------------------------------------------
# Signed bearer tokens (stdlib JWT stand-in)
# ---------------------------------------------------------------------------


def create_access_token(subject: str, secret_key: str, expires_in: float | None = None) -> str:
    payload = {"sub": subject}
    if expires_in is not None:
        payload["exp"] = time.time() + expires_in
    body = base64.urlsafe_b64encode(json.dumps(payload, sort_keys=True).encode()).decode()
    sig = hmac.new(secret_key.encode(), body.encode(), hashlib.sha256).hexdigest()
    return f"{body}.{sig}"


def verify_access_token(token: str, secret_key: str) -> dict | None:
    """Payload dict when signature + expiry check out, else None."""
    try:
        body, sig = token.rsplit(".", 1)
    except ValueError:
        return None
    want = hmac.new(secret_key.encode(), body.encode(), hashlib.sha256).hexdigest()
    if not hmac.compare_digest(sig, want):
        return None
    payload = json.loads(base64.urlsafe_b64decode(body))
    if "exp" in payload and payload["exp"] < time.time():
        return None
    return payload


# ---------------------------------------------------------------------------
# Server / user records (the Postgres Server + User tables, minus the ORM)
# ---------------------------------------------------------------------------


@dataclass
class ServerConfig:
    id: int
    url: str
    client_id: str
    client_secret_enc: str  # Fernet-encrypted at rest (security.py:25-34)


@dataclass
class UserRecord:
    username: str
    server_id: int
    access_token_enc: str
    refresh_token_enc: str


class ExpiringStateStore:
    """Single-use state nonces with a TTL — the Redis ``setex`` +
    ``get``/``delete`` pair of the reference, in-process."""

    def __init__(self, ttl: float = OAUTH_STATE_TTL, clock: Callable[[], float] = time.time):
        self._ttl = ttl
        self._clock = clock
        self._items: dict[str, tuple[float, str]] = {}

    def put(self, key: str, value: str) -> None:
        self._items[key] = (self._clock() + self._ttl, value)

    def pop(self, key: str) -> str | None:
        """Remove and return the value; None when absent or expired.
        Deletion happens regardless — states are strictly single-use."""
        item = self._items.pop(key, None)
        if item is None:
            return None
        deadline, value = item
        if self._clock() > deadline:
            return None
        return value


def _base_url(server_url: str) -> str:
    """scheme://netloc/path normalization (oauth.py:41-42)."""
    u = urlsplit(server_url)
    return urlunsplit((u.scheme, u.netloc, u.path.rstrip("/"), "", ""))


@dataclass
class OAuthFlow:
    """Transport-free flow logic; handlers return (status, payload,
    headers) triples the stdlib server writes out verbatim.

    ``http_post(url, data, auth) -> (status, body_text)`` and
    ``http_get(url, headers) -> (status, body_text)`` abstract the HTTP
    client (httpx in the reference)."""

    secret_key: str
    servers: list[ServerConfig]
    http_post: Callable[[str, dict, tuple[str, str]], tuple[int, str]]
    http_get: Callable[[str, dict], tuple[int, str]]
    users: dict[tuple[str, int], UserRecord] = field(default_factory=dict)
    states: ExpiringStateStore = field(default_factory=ExpiringStateStore)
    token_ttl: float = 14 * 24 * 3600  # "sessions last for 2 weeks" (oauth.py docstring)

    def _server_by_url(self, server_url: str) -> ServerConfig | None:
        want = _base_url(server_url)
        return next((s for s in self.servers if _base_url(s.url) == want), None)

    def _server_by_id(self, server_id: int) -> ServerConfig | None:
        return next((s for s in self.servers if s.id == server_id), None)

    # ---- GET /oauth/login ---------------------------------------------
    def login(self, server_url: str, redirect_url: str | None = None):
        server = self._server_by_url(server_url)
        if server is None:
            return 400, {"detail": "Server not configured"}, {}
        auth_state = {"server_id": server.id}
        if redirect_url:
            auth_state["redirect_url"] = redirect_url
        state_key = str(uuid.uuid4())
        self.states.put(state_key, json.dumps(auth_state))
        location = (
            f"{server.url.rstrip('/')}{AUTHORIZE_ENDPOINT}"
            f"?client_id={server.client_id}&response_type=code&state={state_key}"
        )
        return 302, None, {
            "Location": location,
            "Cache-Control": "no-cache, no-store, revalidate",
        }

    # ---- GET /oauth/callback ------------------------------------------
    def callback(self, code: str, state: str):
        raw = self.states.pop(state)
        if raw is None:
            return 401, {"detail": "Authorization state can not be confirmed."}, {}
        auth_state = json.loads(raw)
        server = self._server_by_id(auth_state.get("server_id"))
        if server is None:
            return 400, {"detail": "Server not configured"}, {}
        try:
            access_token, refresh_token = self._exchange_code(server, code)
            profile = self._get_profile(server, access_token)
        except FailedToRequestCredentials as exc:
            return 400, {"detail": str(exc)}, {}
        except FailedExternalRequest as exc:
            return 502, {"detail": str(exc)}, {}
        username = profile["username"]
        self.users[(username, server.id)] = UserRecord(
            username=username,
            server_id=server.id,
            access_token_enc=fernet_encrypt(access_token, self.secret_key),
            refresh_token_enc=fernet_encrypt(refresh_token, self.secret_key),
        )
        redirect_url = auth_state.get("redirect_url")
        if redirect_url:
            return 302, None, {
                "Location": redirect_url,
                "Cache-Control": "no-cache, no-store, revalidate",
            }
        token = create_access_token(f"{username}:{server.id}", self.secret_key, self.token_ttl)
        return 200, {"access_token": token, "token_type": "bearer"}, {}

    # ---- token refresh (onadata.py:163-202) ---------------------------
    def refresh_access_token(self, username: str, server_id: int) -> UserRecord:
        user = self.users.get((username, server_id))
        if user is None:
            raise ValueError("User is required to refresh access token.")
        server = self._server_by_id(server_id)
        status, body = self.http_post(
            f"{server.url.rstrip('/')}{TOKEN_ENDPOINT}",
            {
                "grant_type": "refresh_token",
                "refresh_token": fernet_decrypt(user.refresh_token_enc, self.secret_key),
                "client_id": server.client_id,
            },
            (server.client_id, fernet_decrypt(server.client_secret_enc, self.secret_key)),
        )
        if status == 200:
            data = json.loads(body)
            user.access_token_enc = fernet_encrypt(data["access_token"], self.secret_key)
            user.refresh_token_enc = fernet_encrypt(data["refresh_token"], self.secret_key)
            return user
        if "invalid_grant" in body:
            raise InvalidGrant("Failed to refresh access token - invalid_grant")
        raise FailedExternalRequest(body)

    # ---- internals ----------------------------------------------------
    def _exchange_code(self, server: ServerConfig, code: str) -> tuple[str, str]:
        status, body = self.http_post(
            f"{server.url.rstrip('/')}{TOKEN_ENDPOINT}",
            {"grant_type": "authorization_code", "code": code, "client_id": server.client_id},
            (server.client_id, fernet_decrypt(server.client_secret_enc, self.secret_key)),
        )
        if status != 200:
            raise FailedToRequestCredentials(body)
        data = json.loads(body)
        return data["access_token"], data["refresh_token"]

    def _get_profile(self, server: ServerConfig, access_token: str) -> dict:
        status, body = self.http_get(
            f"{server.url.rstrip('/')}{USER_ENDPOINT}",
            {"Authorization": f"Bearer {access_token}"},
        )
        if status != 200:
            raise FailedExternalRequest(body)
        return json.loads(body)
