"""HttpDriveClient against a local fake Drive HTTP server: the resumable
-upload and pagination WIRE shapes (Location session URIs, Content-Range
chunks, 308 Resume Incomplete, 5xx retry) — not just the in-process
Protocol fake — drive the Sheets sink end-to-end. No external deps, no
credentials."""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from sheetsetl_spark.sinks.drive_http import HttpDriveClient
from sheetsetl_spark.sinks.sheets import (
    SPREADSHEET_MIME,
    GoogleSheetsSink,
    TransientUploadError,
)

PAGE_SIZE = 2


class _FakeDriveState:
    def __init__(self):
        self.files = {}  # id -> {id, name, mimeType, parents}
        self.payloads = {}  # id -> bytes
        self.sessions = {}  # session id -> {meta, file_id, buf}
        self.next_id = 0
        # fault injection
        self.fail_next_puts = 0  # respond 503 to this many PUTs
        self.short_write_next_put = False  # 308 acknowledging half a chunk
        self.put_count = 0
        # rate-limit injection: list of (status, retry_after, reason)
        # consumed one per request (PUT and files.list GET alike)
        self.rate_limit_queue = []

    def new_id(self, prefix):
        self.next_id += 1
        return f"{prefix}{self.next_id}"


class _Handler(BaseHTTPRequestHandler):
    state: _FakeDriveState  # injected per-server

    def log_message(self, *a):  # quiet
        pass

    def _json(self, code, obj, headers=None):
        body = json.dumps(obj).encode()
        self.send_response(code)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _maybe_rate_limit(self):
        if not self.state.rate_limit_queue:
            return False
        status, retry_after, reason = self.state.rate_limit_queue.pop(0)
        headers = {"Retry-After": retry_after} if retry_after else {}
        body = {"error": {"code": status, "errors": [{"reason": reason}]}} if reason else {"error": {"code": status}}
        self._json(status, body, headers=headers)
        return True

    def do_GET(self):
        if self._maybe_rate_limit():
            return
        url = urllib.parse.urlparse(self.path)
        if url.path.startswith("/drive/v3/files/"):
            # alt=media download
            fid = url.path.rsplit("/", 1)[1]
            body = self.state.payloads.get(fid)
            if body is None:
                return self._json(404, {"error": "no such file"})
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        if url.path != "/drive/v3/files":
            return self._json(404, {"error": "not found"})
        qs = urllib.parse.parse_qs(url.query)
        q = qs.get("q", [""])[0]
        folder = q.split("'")[1] if "'" in q else ""
        files = [
            f for f in self.state.files.values() if folder in f.get("parents", [])
        ]
        files.sort(key=lambda f: f["id"])
        start = int(qs.get("pageToken", ["0"])[0] or 0)
        page = files[start : start + PAGE_SIZE]
        out = {"files": [{k: f[k] for k in ("id", "name", "mimeType")} for f in page]}
        if start + PAGE_SIZE < len(files):
            out["nextPageToken"] = str(start + PAGE_SIZE)
        self._json(200, out)

    def _read_body(self):
        n = int(self.headers.get("Content-Length", 0))
        return self.rfile.read(n)

    def _open_session(self, file_id):
        meta = json.loads(self._read_body().decode())
        sid = self.state.new_id("sess")
        self.state.sessions[sid] = {"meta": meta, "file_id": file_id, "buf": b""}
        self._json(
            200, {}, headers={"Location": f"http://{self.headers['Host']}/upload/session/{sid}"}
        )

    def do_POST(self):
        if self.state.rate_limit_queue:
            self._read_body()
            self._maybe_rate_limit()
            return
        url = urllib.parse.urlparse(self.path)
        if url.path == "/upload/drive/v3/files":
            return self._open_session(None)
        self._json(404, {"error": "not found"})

    def do_PATCH(self):
        if self.state.rate_limit_queue:
            self._read_body()
            self._maybe_rate_limit()
            return
        url = urllib.parse.urlparse(self.path)
        if url.path.startswith("/upload/drive/v3/files/"):
            return self._open_session(url.path.rsplit("/", 1)[1])
        self._json(404, {"error": "not found"})

    def do_PUT(self):
        if self.state.rate_limit_queue:
            self._read_body()  # drain the chunk before the error response
            self._maybe_rate_limit()
            return
        url = urllib.parse.urlparse(self.path)
        if not url.path.startswith("/upload/session/"):
            return self._json(404, {"error": "not found"})
        sid = url.path.rsplit("/", 1)[1]
        sess = self.state.sessions.get(sid)
        if sess is None:
            return self._json(404, {"error": "no session"})
        self.state.put_count += 1
        chunk = self._read_body()
        if self.state.fail_next_puts > 0:
            self.state.fail_next_puts -= 1
            return self._json(503, {"error": "backend unavailable"})
        # Content-Range: bytes a-b/total
        crange = self.headers.get("Content-Range", "")
        spec, total = crange.split(" ")[1].split("/")
        a, b = (int(x) for x in spec.split("-"))
        if self.state.short_write_next_put:
            # pretend only half the chunk arrived: 308 + short Range
            self.state.short_write_next_put = False
            sess["buf"] = sess["buf"][:a] + chunk[: len(chunk) // 2]
            held = len(sess["buf"]) - 1
            return self._json(308, {}, headers={"Range": f"bytes=0-{held}"})
        sess["buf"] = sess["buf"][:a] + chunk
        if len(sess["buf"]) < int(total):
            return self._json(
                308, {}, headers={"Range": f"bytes=0-{len(sess['buf']) - 1}"}
            )
        # complete: materialize the file
        fid = sess["file_id"] or self.state.new_id("file")
        meta = sess["meta"]
        existing = self.state.files.get(fid, {})
        self.state.files[fid] = {
            "id": fid,
            "name": meta.get("name", existing.get("name")),
            "mimeType": meta.get("mimeType", existing.get("mimeType")),
            "parents": meta.get("parents", existing.get("parents", [])),
        }
        self.state.payloads[fid] = sess["buf"]
        self._json(200, {"id": fid})


@pytest.fixture()
def fake_drive():
    state = _FakeDriveState()
    handler = type("H", (_Handler,), {"state": state})
    server = HTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield state, f"http://127.0.0.1:{server.server_port}"
    finally:
        server.shutdown()
        server.server_close()


def _client(base):
    return HttpDriveClient(base, token="test-token")


def test_pagination_across_pages(fake_drive):
    state, base = fake_drive
    for i in range(5):
        fid = f"f{i}"
        state.files[fid] = {
            "id": fid, "name": f"n{i}", "mimeType": SPREADSHEET_MIME,
            "parents": ["folder1"],
        }
    client = _client(base)
    seen, token, pages = [], None, 0
    while True:
        files, token = client.list_files("folder1", token)
        seen += [f["name"] for f in files]
        pages += 1
        if token is None:
            break
    assert sorted(seen) == [f"n{i}" for i in range(5)]
    assert pages == 3  # PAGE_SIZE=2 -> 2+2+1


def test_sink_create_then_update_over_http(spark, fake_drive, tmp_path):
    from sheetsetl_spark.catalog import register_views
    from tests.conftest import SF_SMALL

    state, base = fake_drive
    register_views(spark, SF_SMALL, ("region",))
    df = spark.table("region")
    sink = GoogleSheetsSink("folder1", client=_client(base), chunk_size=64)
    sink.write(df, "regions")
    sheets = [f for f in state.files.values() if f["mimeType"] == SPREADSHEET_MIME]
    assert len(sheets) == 1 and sheets[0]["name"] == "regions"
    first_id = sheets[0]["id"]
    assert state.payloads[first_id].decode().splitlines()[0].startswith("r_regionkey")

    # update in place: same id, new payload, still exactly one sheet
    sink.write(df.limit(2), "regions")
    sheets = [f for f in state.files.values() if f["mimeType"] == SPREADSHEET_MIME]
    assert len(sheets) == 1 and sheets[0]["id"] == first_id
    assert len(state.payloads[first_id].decode().splitlines()) == 3  # header+2


def test_chunk_retry_on_503(spark, fake_drive):
    from sheetsetl_spark.catalog import register_views
    from tests.conftest import SF_SMALL

    state, base = fake_drive
    register_views(spark, SF_SMALL, ("region",))
    state.fail_next_puts = 2  # two 503s, then success — within retry budget
    sink = GoogleSheetsSink("folder1", client=_client(base), chunk_size=64)
    sink.write(spark.table("region"), "regions")
    assert len(state.files) == 1
    assert state.put_count > 2  # the failed chunk was re-sent


def test_chunk_retry_exhaustion_raises(spark, fake_drive):
    from sheetsetl_spark.catalog import register_views
    from tests.conftest import SF_SMALL

    state, base = fake_drive
    register_views(spark, SF_SMALL, ("region",))
    state.fail_next_puts = 99
    sink = GoogleSheetsSink(
        "folder1", client=_client(base), chunk_size=64, max_chunk_retries=2
    )
    with pytest.raises(TransientUploadError):
        sink.write(spark.table("region"), "regions")


def test_308_short_write_resends_chunk(spark, fake_drive):
    """A 308 acknowledging FEWER bytes than sent (server-side partial
    write) must surface as a retry, and the re-sent chunk completes the
    upload with the full, uncorrupted payload."""
    from sheetsetl_spark.catalog import register_views
    from tests.conftest import SF_SMALL

    state, base = fake_drive
    register_views(spark, SF_SMALL, ("region",))
    state.short_write_next_put = True
    sink = GoogleSheetsSink("folder1", client=_client(base), chunk_size=64)
    sink.write(spark.table("region"), "regions")
    (payload,) = state.payloads.values()
    # 5 region rows + header, intact despite the mid-upload short write
    assert len(payload.decode().splitlines()) == 6


# --- A11: OAuth credential bootstrap over the same fake server -------------


class _TokenHandler(BaseHTTPRequestHandler):
    """Fake OAuth token endpoint + a bearer-checked echo API."""

    state: dict

    def log_message(self, *a):
        pass

    def _json(self, code, obj, headers=None):
        body = json.dumps(obj).encode()
        self.send_response(code)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        if urllib.parse.urlparse(self.path).path != "/token":
            return self._json(404, {})
        n = int(self.headers.get("Content-Length", 0))
        form = urllib.parse.parse_qs(self.rfile.read(n).decode())
        self.state["token_requests"].append(form)
        if form.get("grant_type") == ["authorization_code"]:
            # consent-flow exchange (RFC 6749 §4.1): code + PKCE verifier
            if form.get("code") != [self.state.get("auth_code", "")]:
                return self._json(400, {"error": "invalid_grant"})
            if not form.get("code_verifier", [""])[0]:
                return self._json(400, {"error": "invalid_request"})
            self.state["serial"] += 1
            tok = f"access-{self.state['serial']}"
            self.state["valid_tokens"].add(tok)
            return self._json(
                200,
                {
                    "access_token": tok,
                    "refresh_token": self.state["refresh_token"],
                    "expires_in": 3600,
                },
            )
        if form.get("grant_type") != ["refresh_token"]:
            return self._json(400, {"error": "unsupported_grant_type"})
        if form.get("refresh_token") != [self.state["refresh_token"]]:
            return self._json(400, {"error": "invalid_grant"})
        self.state["serial"] += 1
        tok = f"access-{self.state['serial']}"
        self.state["valid_tokens"].add(tok)
        self._json(200, {"access_token": tok, "expires_in": 3600})

    def do_GET(self):
        auth = self.headers.get("Authorization", "")
        tok = auth.removeprefix("Bearer ")
        if tok not in self.state["valid_tokens"]:
            return self._json(401, {"error": "invalid_credentials"})
        self._json(200, {"files": [], "ok": True})


@pytest.fixture()
def token_server():
    state = {
        "refresh_token": "refresh-1",
        "auth_code": "console-code-1",
        "valid_tokens": set(),
        "serial": 0,
        "token_requests": [],
    }
    handler = type("T", (_TokenHandler,), {"state": state})
    server = HTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield state, f"http://127.0.0.1:{server.server_port}"
    finally:
        server.shutdown()
        server.server_close()


def _provider(tmp_path, base, expiry=0.0, access="stale", refresh="refresh-1"):
    from sheetsetl_spark.sinks.auth import (
        Credentials,
        FileTokenStore,
        OAuthTokenProvider,
    )

    store = FileTokenStore(str(tmp_path / "creds" / "sheets-etl.json"))
    if access is not None:
        store.put(Credentials(access, refresh, expiry))
    return store, OAuthTokenProvider(
        store, f"{base}/token", "cid", "csecret", consent_url=f"{base}/consent"
    )


def test_expired_token_refreshes_and_persists(tmp_path, token_server):
    state, base = token_server
    store, provider = _provider(tmp_path, base, expiry=0.0)
    tok = provider()
    assert tok == "access-1" and tok in state["valid_tokens"]
    # the refreshed credential was persisted: a NEW provider over the same
    # store uses it without another token-endpoint round trip
    n_before = len(state["token_requests"])
    _, provider2 = _provider(tmp_path, base, access=None)
    assert provider2() == "access-1"
    assert len(state["token_requests"]) == n_before


def test_valid_token_skips_endpoint(tmp_path, token_server):
    import time

    state, base = token_server
    _, provider = _provider(tmp_path, base, expiry=time.time() + 3600, access="good")
    assert provider() == "good"
    assert state["token_requests"] == []


def test_missing_credential_requires_consent(tmp_path, token_server):
    from sheetsetl_spark.sinks.auth import InteractiveConsentRequired

    _, base = token_server
    _, provider = _provider(tmp_path, base, access=None)
    with pytest.raises(InteractiveConsentRequired, match="/consent"):
        provider()
    # expired AND no refresh token -> same consent contract
    _, provider = _provider(tmp_path, base, expiry=0.0, refresh="")
    with pytest.raises(InteractiveConsentRequired):
        provider()


def test_401_forces_refresh_and_retries(tmp_path, token_server):
    """A locally-'valid' token the server rejects (revoked/clock skew):
    the client must refresh once through the provider and retry — the
    oauth2client-wrapper recovery, now visible on the wire."""
    import time

    state, base = token_server
    # expiry says valid, but the server doesn't know this token
    _, provider = _provider(tmp_path, base, expiry=time.time() + 3600, access="revoked")
    client = HttpDriveClient(base, token=provider)
    files, next_token = client.list_files("folder1")
    assert files == [] and next_token is None
    assert len(state["token_requests"]) == 1  # exactly one forced refresh


def test_concurrent_expired_calls_refresh_once(tmp_path, token_server):
    """Pool threads uploading at once all find the credential expired:
    one refreshes, the others wait and re-read the store it wrote."""
    state, base = token_server
    store, provider = _provider(tmp_path, base, expiry=0.0)
    start = threading.Barrier(8)
    tokens, errors = [], []

    def call():
        start.wait()
        try:
            tokens.append(provider())
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [threading.Thread(target=call) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert len(state["token_requests"]) == 1
    assert tokens == ["access-1"] * 8
    assert store.get().valid() and store.get().access_token == "access-1"
    assert sorted(p.name for p in (tmp_path / "creds").iterdir()) == ["sheets-etl.json"]


def test_console_consent_flow_bootstraps_credential(tmp_path, token_server):
    """The A11 gap-closer: with NO stored credential, run_console_consent
    prints a PKCE consent URL, exchanges the pasted code at the token
    endpoint, persists the credential, and the provider then serves
    tokens without prompting — the reference's run_flow-then-re-run
    contract (loader.py:96-101) completed end-to-end."""
    import base64
    import hashlib
    import urllib.parse as up

    import pytest

    from sheetsetl_spark.sinks.auth import InteractiveConsentRequired

    state, base = token_server
    store, provider = _provider(tmp_path, base, access=None)  # empty store
    with pytest.raises(InteractiveConsentRequired):
        provider()

    printed: list[str] = []
    creds = provider.run_console_consent(
        f"{base}/consent",
        input_fn=lambda _prompt: "console-code-1",
        print_fn=printed.append,
    )
    # the printed URL carries an S256 challenge matching the verifier
    # the exchange sent (PKCE round-trips through the fake endpoint)
    url = printed[0].split("\n")[-1]
    q = up.parse_qs(up.urlparse(url).query)
    assert q["response_type"] == ["code"] and q["client_id"] == ["cid"]
    assert q["code_challenge_method"] == ["S256"]
    sent = state["token_requests"][-1]
    assert sent["grant_type"] == ["authorization_code"]
    want = (
        base64.urlsafe_b64encode(
            hashlib.sha256(sent["code_verifier"][0].encode()).digest()
        )
        .rstrip(b"=")
        .decode()
    )
    assert q["code_challenge"] == [want]
    # credential persisted: a fresh provider over the same store works
    assert creds.access_token in state["valid_tokens"]
    assert store.get().refresh_token == "refresh-1"
    assert provider() == creds.access_token  # no consent prompt now


def test_duplicate_names_update_last_listing_match(spark, fake_drive):
    """Two sheets with the SAME name (Drive allows duplicates), spread
    across listing pages: upsert must update the LAST files.list match
    — the reference's rule: loader.py:160-163 reassigns existing_id on
    every match with no break, so the final hit wins — and never create
    a third copy or touch the earlier duplicate."""
    from sheetsetl_spark.catalog import register_views
    from tests.conftest import SF_SMALL

    state, base = fake_drive
    register_views(spark, SF_SMALL, ("region",))
    for fid, name in [("f1", "other"), ("f2", "regions"),
                      ("f3", "другое"), ("f4", "regions")]:
        state.files[fid] = {
            "id": fid, "name": name, "mimeType": SPREADSHEET_MIME,
            "parents": ["folder1"],
        }
        state.payloads[fid] = b"old"
    # PAGE_SIZE=2: f2 sits on page 1, the duplicate f4 on page 2
    sink = GoogleSheetsSink("folder1", client=_client(base), chunk_size=64)
    sink.write(spark.table("region"), "regions")
    assert len(state.files) == 4, "upsert must not create a new file"
    assert state.payloads["f4"] != b"old", "last match must be updated"
    assert state.payloads["f2"] == b"old", "earlier duplicate must be untouched"


def test_503_then_short_write_interleaved_on_resume(spark, fake_drive):
    """A 503 retry followed by a short-write 308 on the SAME session:
    both recoveries re-send against the session and the final payload is
    intact — the interleaving a flaky network actually produces."""
    from sheetsetl_spark.catalog import register_views
    from tests.conftest import SF_SMALL

    state, base = fake_drive
    register_views(spark, SF_SMALL, ("region",))
    state.fail_next_puts = 1  # first PUT -> 503
    state.short_write_next_put = True  # next PUT -> 308 holding half
    sink = GoogleSheetsSink("folder1", client=_client(base), chunk_size=64)
    sink.write(spark.table("region"), "regions")
    (payload,) = state.payloads.values()
    assert len(payload.decode().splitlines()) == 6  # header + 5 regions
    assert state.put_count >= 3  # original + 503 re-send + short-write re-send


# --- rate limiting (403 userRateLimitExceeded / 429 + Retry-After) ---------
# Google's documented Drive v3 rate-limit responses: the client must back
# off (honoring a numeric Retry-After when present) and retry a bounded
# number of times; a PLAIN 403 is permission-denied and must fail fast.


def test_pipeline_default_pool_publishes_each_name_once(spark, fake_drive, tmp_path):
    """A folder published through the Sheets sink over HTTP under the
    default pool (files overlap): every name is uploaded exactly once, the
    pre-existing sheet is updated in place, and no duplicate appears."""
    from sheetsetl_spark.catalog import register_views
    from sheetsetl_spark.pipeline import SqlFolderPipeline
    from tests.conftest import SF_SMALL

    state, base = fake_drive
    state.files["file0"] = {
        "id": "file0", "name": "q2", "mimeType": SPREADSHEET_MIME,
        "parents": ["folder1"],
    }
    d = tmp_path / "sql"
    d.mkdir()
    names = [f"q{i}" for i in range(6)]
    for i, name in enumerate(names):
        (d / f"{name}.sql").write_text(
            f"SELECT r_regionkey, r_name FROM region WHERE r_regionkey >= {i % 5}"
        )
    report = SqlFolderPipeline(
        spark,
        str(d),
        GoogleSheetsSink("folder1", client=_client(base), chunk_size=32),
        setup=lambda s: register_views(s, SF_SMALL, ("region",)),
    ).run()
    assert [(r.name, r.status) for r in report.results] == [(n, "ok") for n in names]
    uploaded = sorted(sess["meta"]["name"] for sess in state.sessions.values())
    assert uploaded == names
    sheets = [f for f in state.files.values() if f["mimeType"] == SPREADSHEET_MIME]
    assert sorted(f["name"] for f in sheets) == names
    assert next(f["id"] for f in sheets if f["name"] == "q2") == "file0"
    for f in sheets:
        rows = report.results[names.index(f["name"])].rows
        assert len(state.payloads[f["id"]].decode().splitlines()) == rows + 1


def _rl_client(base, **kw):
    sleeps = []
    client = HttpDriveClient(base, token="test-token", sleep=sleeps.append, **kw)
    return client, sleeps


def test_429_honors_retry_after(fake_drive):
    state, base = fake_drive
    client, sleeps = _rl_client(base)
    state.rate_limit_queue = [(429, "2", None), (429, "3", None)]
    files, _ = client.list_files("folder1")
    assert files == []
    assert sleeps == [2.0, 3.0]


def test_403_rate_limit_reason_backs_off_exponentially(fake_drive):
    state, base = fake_drive
    client, sleeps = _rl_client(base, backoff_base=0.5)
    state.rate_limit_queue = [
        (403, None, "userRateLimitExceeded"),
        (403, None, "rateLimitExceeded"),
    ]
    session = client.start_upload({"name": "s", "parents": ["folder1"]})
    assert session and sleeps == [0.5, 1.0]  # base * 2^attempt
    # chunks retry through rate limiting too
    state.rate_limit_queue = [(429, "1", None)]
    fid = client.upload_chunk(session, b"a,b\n1,2\n", 0, 8)
    assert fid is not None and sleeps[-1] == 1.0


def test_plain_403_fails_fast(fake_drive):
    import urllib.error

    state, base = fake_drive
    client, sleeps = _rl_client(base)
    state.rate_limit_queue = [(403, None, "insufficientFilePermissions")]
    with pytest.raises(urllib.error.HTTPError) as ei:
        client.list_files("folder1")
    assert ei.value.code == 403 and sleeps == []


def test_rate_limit_retry_budget_exhausts_loudly(fake_drive):
    import urllib.error

    state, base = fake_drive
    client, sleeps = _rl_client(base, max_rate_limit_retries=2)
    state.rate_limit_queue = [(429, "1", None)] * 10
    with pytest.raises(urllib.error.HTTPError) as ei:
        client.list_files("folder1")
    assert ei.value.code == 429 and len(sleeps) == 2


def test_cli_auth_subcommand_bootstraps_credential(
    tmp_path, token_server, monkeypatch, capsys
):
    """`python -m sheetsetl_spark auth` — the CLI face of the consent
    flow (the reference's run_flow-then-exit step, loader.py:96-101):
    exit 0, credential persisted, and the provider path then serves
    tokens with no further prompting."""
    from sheetsetl_spark.__main__ import main
    from sheetsetl_spark.sinks.auth import FileTokenStore, OAuthTokenProvider

    state, base = token_server
    store_path = str(tmp_path / "creds" / "sheets-etl.json")
    monkeypatch.setattr("builtins.input", lambda _prompt: "console-code-1")
    rc = main(
        [
            "auth",
            "--store", store_path,
            "--client-id", "cid",
            "--client-secret", "csecret",
            "--auth-uri", f"{base}/consent",
            "--token-uri", f"{base}/token",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "re-run" in out and f"{base}/consent?" in out
    stored = FileTokenStore(store_path).get()
    assert stored is not None and stored.refresh_token == "refresh-1"
    assert stored.access_token in state["valid_tokens"]
    # the stored credential is immediately usable by the token provider
    provider = OAuthTokenProvider(
        FileTokenStore(store_path), f"{base}/token", "cid", "csecret"
    )
    assert provider() == stored.access_token
