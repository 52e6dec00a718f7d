"""Driver-side acquisition clients (SURVEY.md §2.1 S1-S4, S10).

Parity targets (/root/reference):
  * S1 `download_cds` — submit an async retrieval task, poll its state
    with exponential backoff (×1.5, capped 120 s), then download the
    result (src/sources/era5monthly.js:172-195).
  * S2 `download` — streaming GET to a temp file, atomic rename
    (src/download.js:10-20,58-75).
  * S3 multipart/byteranges reassembly (src/download.js:77-94).
  * S4 `get_json`/`post_json` (src/download.js:35-56).
  * S10 `destructive_cat` (src/download.js:22-33).

These stay on the driver by design: acquisition is control-plane work (one
request per batch), and the downloaded file lands in a directory that
``spark.read`` / the streaming file source then scans — the data plane
never routes through driver memory. Executor-parallel fetch of many URLs
would go through a mapInPandas fetcher; the reference's workload (one
archive per month) does not need it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable

from .sinks import atomic_open

POLL_INITIAL_S = 1.0
POLL_GROWTH = 1.5
POLL_CAP_S = 120.0  # src/sources/era5monthly.js:178-183


def download(url: str, dest_path: str, opener=urllib.request.urlopen) -> str:
    """Streaming GET through ``atomic_open`` (S2/S7): a dropped connection
    leaves no file at ``dest_path``. Accepts 200/206; 202 means "not
    ready" and raises for the caller's retry loop."""
    with opener(url) as resp:
        status = getattr(resp, "status", 200)
        if status == 202:
            raise RuntimeError(f"resource not ready (202): {url}")
        if status not in (200, 206):
            raise RuntimeError(f"download failed ({status}): {url}")
        with atomic_open(dest_path) as f:
            shutil.copyfileobj(resp, f)
    return dest_path


def get_json(url: str, opener=urllib.request.urlopen) -> Any:
    with opener(url) as resp:
        return json.load(resp)


def post_json(url: str, obj: Any, opener=urllib.request.urlopen) -> Any:
    req = urllib.request.Request(
        url,
        data=json.dumps(obj).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with opener(req) as resp:
        return json.load(resp)


def multipart_byteranges_to_file(dest_path: str, body: bytes, content_type: str) -> str:
    """Reassemble a multipart/byteranges response body into one file (S3):
    parts are concatenated in Content-Range order, as the reference does
    for split GRIB downloads."""
    m = re.search(r'boundary="?([^";]+)"?', content_type)
    if not m:
        raise ValueError(f"no boundary in content type: {content_type}")
    boundary = m.group(1).encode()
    parts: list[tuple[int, bytes]] = []
    for chunk in body.split(b"--" + boundary):
        chunk = chunk.strip(b"\r\n")
        if not chunk or chunk == b"--":
            continue
        header_blob, _, payload = chunk.partition(b"\r\n\r\n")
        rng = re.search(rb"Content-Range:\s*bytes\s+(\d+)-", header_blob, re.I)
        if rng is None:
            continue
        parts.append((int(rng.group(1)), payload))
    parts.sort(key=lambda p: p[0])
    with atomic_open(dest_path) as f:
        for _, payload in parts:
            f.write(payload)
    return dest_path


def destructive_cat(files: list[str], dest_path: str | None = None) -> str:
    """Concatenate files into one, deleting the inputs (S10) — the
    union-all of file payloads; DataFrame-level union is U1. The inputs
    are removed only once the output is in place, so a crash loses
    nothing; ``dest_path`` may itself be one of the inputs."""
    dest_path = dest_path or files[0] + ".cat"
    with atomic_open(dest_path) as out:
        for path in files:
            with open(path, "rb") as f:
                shutil.copyfileobj(f, out)
    dest = os.path.abspath(dest_path)
    for path in files:
        if os.path.abspath(path) != dest:
            os.remove(path)
    return dest_path


@dataclass
class AsyncTaskClient:
    """S1: the CDS-style async retrieval protocol — submit a request,
    poll task state with capped exponential backoff, download the result.

    ``keepalive`` is invoked on every poll (T5: the reference posts
    keepalive messages so its watchdog doesn't kill a long poll,
    src/rabbit-sanctuary.js:99-102); the ingest scheduler passes its
    liveness callback here. Transport is injectable for tests and for
    real deployments' auth/session handling.
    """

    base_url: str
    opener: Callable = urllib.request.urlopen
    sleep: Callable[[float], None] = time.sleep
    keepalive: Callable[[], None] = lambda: None
    poll_initial_s: float = POLL_INITIAL_S
    poll_growth: float = POLL_GROWTH
    poll_cap_s: float = POLL_CAP_S
    max_polls: int = 1000
    poll_log: list[float] = field(default_factory=list)

    def submit(self, name: str, request: dict[str, Any]) -> str:
        task = post_json(f"{self.base_url}/resources/{name}", request, opener=self.opener)
        return str(task["request_id"])

    def wait(self, request_id: str) -> dict[str, Any]:
        delay = self.poll_initial_s
        for _ in range(self.max_polls):
            task = get_json(f"{self.base_url}/tasks/{request_id}", opener=self.opener)
            state = task.get("state")
            if state == "completed":
                return task
            if state == "failed":
                raise RuntimeError(f"task {request_id} failed: {task.get('error')}")
            self.keepalive()
            self.poll_log.append(delay)
            self.sleep(delay)
            delay = min(delay * self.poll_growth, self.poll_cap_s)
        raise TimeoutError(f"task {request_id} did not complete in {self.max_polls} polls")

    def retrieve(self, name: str, request: dict[str, Any], dest_path: str) -> str:
        """submit → poll → download: the full S1 flow."""
        task = self.wait(self.submit(name, request))
        return download(task["location"], dest_path, opener=self.opener)
