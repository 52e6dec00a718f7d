"""Acquisition clients (S1-S4, S10) against a local HTTP server —
no external network; the async-task protocol is a tiny in-process state
machine that completes after two polls."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from monitoring_data_ingestion_spark.ingest.http_client import (
    AsyncTaskClient,
    destructive_cat,
    download,
    get_json,
    multipart_byteranges_to_file,
    post_json,
)


class _Handler(BaseHTTPRequestHandler):
    polls: dict[str, int] = {}

    def log_message(self, *a):  # quiet
        pass

    def _json(self, obj, status=200):
        body = json.dumps(obj).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if self.path.startswith("/api/tasks/"):
            rid = self.path.rsplit("/", 1)[1]
            n = self.polls.get(rid, 0) + 1
            self.polls[rid] = n
            state = "completed" if n >= 3 else ("running" if n == 2 else "queued")
            obj = {"state": state}
            if state == "completed":
                obj["location"] = f"http://{self.headers['Host']}/files/result.bin"
            self._json(obj)
        elif self.path == "/files/result.bin":
            body = b"GRIB-payload-" * 10
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/api/meta":
            self._json({"update_date": "2020-05-01"})
        else:
            self._json({"error": "not found"}, 404)

    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        if self.path.startswith("/api/resources/"):
            self._json({"request_id": "r1", "echo": body})
        else:
            self._json({"error": "not found"}, 404)


@pytest.fixture(scope="module")
def server():
    httpd = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_port}"
    httpd.shutdown()


def test_get_post_json(server):
    assert get_json(f"{server}/api/meta") == {"update_date": "2020-05-01"}
    out = post_json(f"{server}/api/resources/era5", {"month": "2020-05"})
    assert out["request_id"] == "r1" and out["echo"]["month"] == "2020-05"


def test_async_task_full_flow_with_backoff(server, tmp_path):
    sleeps = []
    beats = []
    client = AsyncTaskClient(
        base_url=f"{server}/api",
        sleep=sleeps.append,
        keepalive=lambda: beats.append(1),
    )
    dest = str(tmp_path / "landing" / "result.bin")
    path = client.retrieve("era5", {"month": "2020-05"}, dest)
    assert path == dest
    assert open(dest, "rb").read() == b"GRIB-payload-" * 10
    # Two non-complete polls → two keepalives; backoff grew ×1.5 from 1s.
    assert beats == [1, 1]
    assert sleeps == [1.0, 1.5]


def test_backoff_caps(server):
    client = AsyncTaskClient(base_url=f"{server}/api", sleep=lambda s: None)
    delay = client.poll_initial_s
    seq = []
    for _ in range(20):
        seq.append(delay)
        delay = min(delay * client.poll_growth, client.poll_cap_s)
    assert max(seq) == client.poll_cap_s == 120.0


def test_download_atomic(server, tmp_path):
    dest = str(tmp_path / "f.bin")
    download(f"{server}/files/result.bin", dest)
    assert open(dest, "rb").read().startswith(b"GRIB-payload-")
    assert [p.name for p in tmp_path.iterdir()] == ["f.bin"]  # no temp left


def test_multipart_byteranges(tmp_path):
    boundary = "SEP"
    body = (
        b"--SEP\r\nContent-Type: application/octet-stream\r\n"
        b"Content-Range: bytes 6-11/12\r\n\r\nworld!\r\n"
        b"--SEP\r\nContent-Type: application/octet-stream\r\n"
        b"Content-Range: bytes 0-5/12\r\n\r\nhello \r\n"
        b"--SEP--\r\n"
    )
    dest = str(tmp_path / "joined.bin")
    multipart_byteranges_to_file(
        dest, body, f'multipart/byteranges; boundary="{boundary}"'
    )
    assert open(dest, "rb").read() == b"hello world!"


def test_destructive_cat(tmp_path):
    paths = []
    for i in range(3):
        p = tmp_path / f"part{i}"
        p.write_bytes(f"chunk{i}|".encode())
        paths.append(str(p))
    out = destructive_cat(paths, str(tmp_path / "all.bin"))
    assert open(out, "rb").read() == b"chunk0|chunk1|chunk2|"
    assert not any((tmp_path / f"part{i}").exists() for i in range(3))


def test_destructive_cat_into_one_of_its_inputs(tmp_path):
    paths = []
    for i in range(3):
        p = tmp_path / f"part{i}"
        p.write_bytes(f"chunk{i}|".encode())
        paths.append(str(p))
    out = destructive_cat(paths, paths[0])
    assert out == paths[0]
    assert open(out, "rb").read() == b"chunk0|chunk1|chunk2|"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["part0"]


def test_download_failure_leaves_no_file(tmp_path):
    """A connection that drops mid-body publishes nothing."""

    class Dropped:
        status = 200

        def read(self, n=-1):
            raise ConnectionResetError("peer went away")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    with pytest.raises(ConnectionResetError):
        download("http://unused", str(tmp_path / "f.bin"), opener=lambda url: Dropped())
    assert list(tmp_path.iterdir()) == []
