"""OAuth2 credential bootstrap for the Drive sink — the reference's A11
operator (/root/reference/src/loader.py:78-102) re-expressed over stdlib
HTTP, closing the last "partial" SURVEY §2-A row.

Contract reproduced from ``get_credentials()``:

- credentials persist in a JSON file under a user-owned directory
  (reference: ``~/.credentials/sheets-etl.json`` via oauth2client
  Storage; here: any path, same single-file JSON shape);
- a stored, VALID credential is used as-is (store.get() path);
- an expired credential is refreshed silently — oauth2client does this
  inside its http wrapper; here it is an explicit
  ``grant_type=refresh_token`` POST to the token endpoint, the same
  wire exchange (RFC 6749 §6) the library performs;
- with NO stored credential the reference launches the interactive
  browser consent flow and exits, telling the operator to re-run
  (loader.py:96-101). An agent container has no browser, so this
  adapter raises :class:`InteractiveConsentRequired` carrying the
  consent URL — the same "a human must act once, then re-run" contract,
  surfaced as an exception instead of sys.exit().

Everything here is plain urllib against a configurable ``token_uri`` —
tests drive it against a local fake token endpoint (no Google
dependency, no real secrets; see tests/test_drive_http.py). Against
real Google infrastructure the token_uri is the public
``https://oauth2.googleapis.com/token``.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import secrets
import tempfile
import threading
import time
import urllib.parse
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass


class InteractiveConsentRequired(Exception):
    """No (or unusable) stored credential: a human must complete the
    browser consent flow once — the reference's run_flow-then-exit path
    (loader.py:96-101) surfaced as an exception."""


@dataclass
class Credentials:
    access_token: str
    refresh_token: str
    expiry: float  # unix seconds; 0 = unknown/expired

    def valid(self, now: float | None = None, skew: float = 60.0) -> bool:
        """True while the access token has at least ``skew`` seconds left
        (oauth2client's access_token_expired has the same early-refresh
        margin)."""
        # `now=0.0` (the epoch) is a legitimate test clock — only None
        # means "use the wall clock"
        t = time.time() if now is None else now
        return bool(self.access_token) and t < self.expiry - skew


class FileTokenStore:
    """Single-JSON-file credential storage — the oauth2client
    ``Storage(credential_path)`` shape (reference loader.py:87-94)."""

    def __init__(self, path: str):
        self.path = path

    def get(self) -> Credentials | None:
        if not os.path.exists(self.path):
            return None
        try:
            with open(self.path, encoding="utf-8") as fh:
                d = json.load(fh)
            return Credentials(
                access_token=d["access_token"],
                refresh_token=d.get("refresh_token", ""),
                expiry=float(d.get("expiry", 0)),
            )
        except (json.JSONDecodeError, KeyError, ValueError):
            return None  # corrupt store == no credential (store.get() parity)

    def put(self, creds: Credentials) -> None:
        directory = os.path.dirname(self.path) or "."
        os.makedirs(directory, exist_ok=True)
        # a unique temp file per writer: concurrent refreshes never move
        # each other's file away before the os.replace
        fd, tmp = tempfile.mkstemp(
            dir=directory, prefix=os.path.basename(self.path) + ".", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                json.dump(
                    {
                        "access_token": creds.access_token,
                        "refresh_token": creds.refresh_token,
                        "expiry": creds.expiry,
                    },
                    fh,
                )
            os.replace(tmp, self.path)  # atomic: a crash never corrupts the store
        except BaseException:
            os.unlink(tmp)
            raise


class OAuthTokenProvider:
    """Callable token source for :class:`HttpDriveClient`: returns a
    currently-valid access token, refreshing through the token endpoint
    when the stored one has expired.

    ``consent_url`` is only used to build the actionable
    InteractiveConsentRequired message when no refreshable credential
    exists (the reference prints the flow URL and exits).

    Thread-safe: the pipeline uploads from several threads at once, so
    one thread refreshes under a lock while the others wait and re-read
    the store it wrote."""

    def __init__(
        self,
        store: FileTokenStore,
        token_uri: str,
        client_id: str,
        client_secret: str,
        consent_url: str = "",
        timeout: float = 30.0,
    ):
        self.store = store
        self.token_uri = token_uri
        self.client_id = client_id
        self.client_secret = client_secret
        self.consent_url = consent_url
        self.timeout = timeout
        self._lock = threading.Lock()

    def __call__(self) -> str:
        creds = self.store.get()
        if creds is not None and creds.valid():
            return creds.access_token
        with self._lock:
            creds = self.store.get()  # another thread may have refreshed
            if creds is None or (not creds.valid() and not creds.refresh_token):
                raise InteractiveConsentRequired(
                    "no stored credential"
                    + (f"; complete consent at {self.consent_url} and re-run"
                       if self.consent_url else "; complete the consent flow and re-run")
                )
            if creds.valid():
                return creds.access_token
            return self._refresh_and_store(creds.refresh_token)

    def force_refresh(self) -> str:
        """Refresh even if the stored expiry claims validity — the
        server 401'd, so the local clock/expiry is wrong. Used by
        HttpDriveClient's one-retry-on-401 path. A thread that waited on
        the lock while another refreshed uses the new token instead of
        refreshing again."""
        rejected = self.store.get()
        with self._lock:
            creds = self.store.get()
            if creds is None or not creds.refresh_token:
                raise InteractiveConsentRequired(
                    "credential rejected by the server and no refresh token "
                    "stored; complete the consent flow and re-run"
                )
            if rejected and creds.access_token != rejected.access_token and creds.valid():
                return creds.access_token
            return self._refresh_and_store(creds.refresh_token)

    def run_console_consent(
        self,
        auth_uri: str,
        scope: str = "https://www.googleapis.com/auth/drive",
        redirect_uri: str = "urn:ietf:wg:oauth:2.0:oob",
        input_fn: Callable[[str], str] | None = None,
        print_fn: Callable[[str], None] = print,
    ) -> Credentials:
        """Interactive consent — the reference's `tools.run_flow` step
        (loader.py:96-101) as a console paste-the-code exchange, closing
        the one A11 gap the exception-only contract left open: a real
        deployment needs a way to CREATE the stored credential, not just
        consume it.

        RFC 6749 §4.1 authorization-code grant with RFC 7636 PKCE
        (S256): prints the consent URL (a headless operator opens it
        anywhere), reads the authorization code from ``input_fn``,
        exchanges it at the token endpoint, persists the credential in
        the store and returns it — the next run's __call__ then finds a
        refreshable credential and never prompts again. ``input_fn`` /
        ``print_fn`` are injectable so tests drive the flow end-to-end
        against a fake token endpoint with no TTY.
        """
        if input_fn is None:
            # resolved at CALL time so a test monkeypatching
            # builtins.input reaches the CLI path too (a def-time
            # default binds the original)
            input_fn = input
        verifier = secrets.token_urlsafe(64)
        challenge = (
            base64.urlsafe_b64encode(
                hashlib.sha256(verifier.encode("ascii")).digest()
            )
            .rstrip(b"=")
            .decode("ascii")
        )
        url = auth_uri + "?" + urllib.parse.urlencode(
            {
                "response_type": "code",
                "client_id": self.client_id,
                "redirect_uri": redirect_uri,
                "scope": scope,
                "access_type": "offline",
                "code_challenge": challenge,
                "code_challenge_method": "S256",
            }
        )
        print_fn(f"Open this URL, grant access, and paste the code:\n{url}")
        code = input_fn("code: ").strip()
        if not code:
            raise InteractiveConsentRequired("no authorization code entered")
        body = urllib.parse.urlencode(
            {
                "grant_type": "authorization_code",
                "code": code,
                "redirect_uri": redirect_uri,
                "client_id": self.client_id,
                "client_secret": self.client_secret,
                "code_verifier": verifier,
            }
        ).encode()
        req = urllib.request.Request(
            self.token_uri,
            data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            payload = json.loads(resp.read().decode())
        creds = Credentials(
            access_token=payload["access_token"],
            refresh_token=payload.get("refresh_token", ""),
            expiry=time.time() + float(payload.get("expires_in", 3600)),
        )
        self.store.put(creds)
        return creds

    def _refresh_and_store(self, refresh_token: str) -> str:
        refreshed = self._refresh(refresh_token)
        self.store.put(refreshed)
        return refreshed.access_token

    def _refresh(self, refresh_token: str) -> Credentials:
        body = urllib.parse.urlencode(
            {
                "grant_type": "refresh_token",
                "refresh_token": refresh_token,
                "client_id": self.client_id,
                "client_secret": self.client_secret,
            }
        ).encode()
        req = urllib.request.Request(
            self.token_uri,
            data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            payload = json.loads(resp.read().decode())
        return Credentials(
            access_token=payload["access_token"],
            # Google omits refresh_token on refresh responses: keep ours
            refresh_token=payload.get("refresh_token", refresh_token),
            expiry=time.time() + float(payload.get("expires_in", 3600)),
        )
