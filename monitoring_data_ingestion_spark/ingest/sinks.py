"""Publish sinks (SURVEY.md §2.1 S6-S12).

Every file the engine publishes reaches disk through ONE primitive,
:func:`atomic_open`: the bytes go to a hidden, uniquely named temp file
in the destination's own directory, which is ``os.replace``d into place
when the write finishes and unlinked when it raises — a reader sees the
old file or the new one, never half of either, and a failed write leaves
no litter (the reference's temp + rename, src/utility.js:82-87,94-103).  The temp file is created with mode 0o666 filtered by the
process umask, so a published file has the same permissions as one made
by a plain ``open(path, "w")``.  ``write_file_atomically`` and
``write_json_atomically`` are one-liners over it; the HTTP clients, the
GeoTIFF writer, the heartbeat listener and the streaming commit marker
use it directly.

On top of it: compressed JSON inventory (src/utility.js:89-92 — the
reference *names* `.br` outputs but never actually compresses; the engine
implements the evident intent, with gzip fallback when brotli isn't
installed), heartbeat (src/rabbit.js:14-16), merged inventory scan
(src/rabbit.js:73-85), and the HMAC-signed webhook notification
(src/utility.js:144-163).

Directories of part files are published by the same rule, one level up:
Spark writes them into a hidden staging directory, and :func:`swap_dirs`
moves each one to its destination — the old directory aside, the new one
in, the old one deleted.  ``df.write.mode("overwrite").parquet(path)``
gives no such guarantee: Spark deletes ``path`` before its job runs, so a
failed job leaves no directory at all.  A failure inside the swap moves
everything back, so a reader finds the previous directories again.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import urllib.request
import uuid
from contextlib import contextmanager
from typing import Any, BinaryIO, Iterator

from ..functions.hashing import hmac_sha256_hex

try:  # brotli is optional in this environment
    import brotli  # type: ignore

    def _brotli(data: bytes) -> bytes:
        return brotli.compress(data, quality=11)

    BROTLI_AVAILABLE = True
except ImportError:  # pragma: no cover
    import gzip

    def _brotli(data: bytes) -> bytes:
        return gzip.compress(data, 9)

    BROTLI_AVAILABLE = False


@contextmanager
def atomic_open(path: str) -> Iterator[BinaryIO]:
    """Binary file handle whose bytes appear at ``path`` all at once, on a
    clean exit from the ``with`` block; on an exception the destination
    is untouched and the temp file removed (see the module docstring)."""
    d, name = os.path.split(os.path.abspath(path))
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o666)
    try:
        with os.fdopen(fd, "wb") as f:
            yield f
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def swap_dirs(moves: list[tuple[str, str]]) -> None:
    """Move each staged directory of ``(staged, dest)`` pairs to ``dest``,
    replacing what is there: every existing ``dest`` goes aside to
    ``{dest}.__old-*``, every staged directory goes in, then the old ones
    are deleted.  If a move raises, the moves already made are undone —
    staged directories back to their staging paths, old ones back in
    place — and the error propagates; the staged trees are the caller's
    to remove.  A hard kill between the two steps strands an old
    directory under ``.__old-*``
    (``operators.compaction.recover_compaction`` renames it back)."""
    tag = uuid.uuid4().hex[:8]
    aside: list[tuple[str, str]] = []
    placed: list[tuple[str, str]] = []
    try:
        for _, dest in moves:
            if os.path.lexists(dest):
                os.rename(dest, f"{dest}.__old-{tag}")
                aside.append((f"{dest}.__old-{tag}", dest))
        for staged, dest in moves:
            os.makedirs(os.path.dirname(os.path.abspath(dest)), exist_ok=True)
            os.rename(staged, dest)
            placed.append((dest, staged))
    except BaseException:
        for src, back in [*reversed(placed), *reversed(aside)]:
            os.rename(src, back)
        raise
    for old, _ in aside:
        shutil.rmtree(old)


def write_file_atomically(path: str, data: bytes) -> None:
    """Publish ``data`` at ``path`` through :func:`atomic_open`."""
    with atomic_open(path) as f:
        f.write(data)


def write_json_atomically(path: str, obj: Any, compress: bool = False) -> None:
    data = json.dumps(obj, indent=2, sort_keys=True).encode("utf-8")
    if compress:
        data = _brotli(data)
    write_file_atomically(path, data)


def write_heartbeat(root: str) -> None:
    """`heart.json` {last_beat: ISO} — written at every batch start."""
    from .state import utcnow_iso

    write_json_atomically(os.path.join(root, "heart.json"), {"last_beat": utcnow_iso()})


def publish_inventory(root: str, compress: bool = True) -> list[dict[str, Any]]:
    """Merge every `*/metadata.json` under root into one inventory array
    (S12, src/rabbit.js:73-85), dropping absent entries, and publish it as
    `inventory.json` (+ `.br`-style compressed twin)."""
    inventory: list[dict[str, Any]] = []
    for path in sorted(glob.glob(os.path.join(root, "*", "metadata.json"))):
        try:
            with open(path) as f:
                md = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if md:
            md = dict(md)
            md["path"] = os.path.relpath(os.path.dirname(path), root)
            inventory.append(md)
    write_json_atomically(os.path.join(root, "inventory.json"), inventory)
    if compress:
        write_json_atomically(os.path.join(root, "inventory.json.br"), inventory, compress=True)
    return inventory


def publish_state_summary(root: str) -> dict[str, Any]:
    """`state.json` — nested object of every JSON state file under root
    (S11, src/utility.js:56-69), excluding the summary itself."""
    summary: dict[str, Any] = {}
    for path in sorted(glob.glob(os.path.join(root, "**", "*.json"), recursive=True)):
        rel = os.path.relpath(path, root)
        if rel in ("state.json", "inventory.json", "inventory.json.br"):
            continue
        parts = rel[: -len(".json")].split(os.sep)
        try:
            with open(path) as f:
                obj = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        node = summary
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        node[parts[-1]] = obj
    write_json_atomically(os.path.join(root, "state.json"), summary)
    return summary


def send_ingest_command(
    endpoint: str, secret: str, payload: dict[str, Any], timeout: float = 30.0
) -> int:
    """Signed webhook notification to a downstream consumer (S9).

    The body is signed with HMAC-SHA256 in the `X-Gsky-Signature` header
    exactly as src/utility.js:144-163. Driver-side, post-commit — never in
    an executor path.
    """
    body = json.dumps(payload).encode("utf-8")
    req = urllib.request.Request(
        endpoint,
        data=body,
        headers={
            "Content-Type": "application/json",
            "X-Gsky-Signature": hmac_sha256_hex(body, secret),
        },
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # pragma: no cover - needs server
        return resp.status
