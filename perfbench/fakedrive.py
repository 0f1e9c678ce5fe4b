"""Loopback fake of the Google Drive v3 wire protocol.

Serves what ``sheetsetl_spark.sinks.drive_http.HttpDriveClient`` speaks:
paged ``files.list``, resumable upload sessions (``Location`` header),
``Content-Range`` chunk PUTs answered with ``308`` until the last one.
A seeded ~1% of chunk PUTs get a ``503`` so the sink's chunk-retry path
runs; a PUT that follows a 503 always succeeds, so retries never run
out. Stored bytes stay readable for the output checks.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

import numpy as np

PAGE_SIZE = 100
FAIL_RATE = 0.01


class DriveState:
    def __init__(self, seed: int):
        self.files: dict[str, dict] = {}  # id -> {id, name, mimeType, parents}
        self.payloads: dict[str, bytes] = {}
        self.sessions: dict[str, dict] = {}
        self.rng = np.random.default_rng(seed + 4)
        self.next_id = 0
        self.last_put_failed = False
        self.lock = threading.Lock()

    def new_id(self, prefix: str) -> str:
        self.next_id += 1
        return f"{prefix}{self.next_id}"

    def payload_by_name(self, name: str) -> bytes | None:
        for fid, meta in self.files.items():
            if meta["name"] == name:
                return self.payloads.get(fid)
        return None


class _Handler(BaseHTTPRequestHandler):
    state: DriveState

    def log_message(self, *args):
        pass

    def _json(self, code: int, obj, headers: dict | None = None) -> None:
        body = json.dumps(obj).encode()
        self.send_response(code)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> bytes:
        return self.rfile.read(int(self.headers.get("Content-Length", 0)))

    def do_GET(self):
        url = urllib.parse.urlparse(self.path)
        if url.path != "/drive/v3/files":
            return self._json(404, {"error": "not found"})
        qs = urllib.parse.parse_qs(url.query)
        q = qs.get("q", [""])[0]
        folder = q.split("'")[1] if "'" in q else ""
        with self.state.lock:
            files = sorted(
                (f for f in self.state.files.values() if folder in f["parents"]),
                key=lambda f: f["id"],
            )
        start = int(qs.get("pageToken", ["0"])[0] or 0)
        out = {"files": [{k: f[k] for k in ("id", "name", "mimeType")}
                         for f in files[start:start + PAGE_SIZE]]}
        if start + PAGE_SIZE < len(files):
            out["nextPageToken"] = str(start + PAGE_SIZE)
        self._json(200, out)

    def _open_session(self, file_id: str | None) -> None:
        meta = json.loads(self._body().decode())
        with self.state.lock:
            sid = self.state.new_id("sess")
            self.state.sessions[sid] = {"meta": meta, "file_id": file_id, "buf": b""}
        self._json(200, {}, {"Location": f"http://{self.headers['Host']}/upload/session/{sid}"})

    def do_POST(self):
        if urllib.parse.urlparse(self.path).path == "/upload/drive/v3/files":
            return self._open_session(None)
        self._json(404, {"error": "not found"})

    def do_PATCH(self):
        path = urllib.parse.urlparse(self.path).path
        if path.startswith("/upload/drive/v3/files/"):
            return self._open_session(path.rsplit("/", 1)[1])
        self._json(404, {"error": "not found"})

    def do_PUT(self):
        path = urllib.parse.urlparse(self.path).path
        chunk = self._body()
        st = self.state
        with st.lock:
            sess = st.sessions.get(path.rsplit("/", 1)[1])
            if sess is None:
                return self._json(404, {"error": "no session"})
            fail = not st.last_put_failed and st.rng.random() < FAIL_RATE
            st.last_put_failed = fail
            if fail:
                return self._json(503, {"error": "backend unavailable"})
            spec, total = self.headers["Content-Range"].split(" ")[1].split("/")
            first = int(spec.split("-")[0])
            sess["buf"] = sess["buf"][:first] + chunk
            if len(sess["buf"]) < int(total):
                return self._json(308, {}, {"Range": f"bytes=0-{len(sess['buf']) - 1}"})
            fid = sess["file_id"] or st.new_id("file")
            meta, old = sess["meta"], st.files.get(fid, {})
            st.files[fid] = {
                "id": fid,
                "name": meta.get("name", old.get("name")),
                "mimeType": meta.get("mimeType", old.get("mimeType")),
                "parents": meta.get("parents", old.get("parents", [])),
            }
            st.payloads[fid] = sess.pop("buf")
            del st.sessions[path.rsplit("/", 1)[1]]
        self._json(200, {"id": fid})


class FakeDrive:
    """``with FakeDrive(seed) as drive:`` serves on an ephemeral
    loopback port until the block ends; ``drive.base_url`` is the
    client's base URL and ``drive.state`` the stored files."""

    def __init__(self, seed: int):
        self.state = DriveState(seed)
        handler = type("Handler", (_Handler,), {"state": self.state})
        self._server = HTTPServer(("127.0.0.1", 0), handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self.base_url = f"http://127.0.0.1:{self._server.server_port}"

    def __enter__(self) -> "FakeDrive":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
