"""Lifecycle for the reference-implementation UDF server (live interop).

:func:`serve_reference` launches ``ref_server_main`` in a subprocess — the
server code executed is the reference's own ``arrow_udf.UdfServer``
(arrow-udf-remote/python/arrow_udf/__init__.py:356-436), imported from the
read-only reference tree — waits for the port to accept, and returns the
gRPC URI.  One server per driver process; killed atexit.

This closes the A19/A20 loop from the client side with zero self-testing
bias: discovery decoding, the schema-concatenation trick, and the exchange
framing in ``sources/flight.py`` are exercised against the reference's
actual wire behavior.
"""

from __future__ import annotations

import atexit
import os
import socket
import subprocess
import sys
import tempfile
import threading
import time
from typing import Optional

__all__ = ["serve_reference", "reference_available"]

from .ref_server_main import REFERENCE_PKG_DIR

_proc: Optional[subprocess.Popen] = None
_uri: Optional[str] = None
_lock = threading.Lock()


def reference_available() -> bool:
    return os.path.isdir(REFERENCE_PKG_DIR)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_port(port: int, stderr, timeout: float = 15.0) -> None:
    """Wait for the server to listen; if it exits first, raise with the
    last line it wrote to ``stderr`` (a file) as the cause."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=0.5):
                return
        except OSError:
            if _proc is not None and _proc.poll() is not None:
                stderr.seek(0)
                lines = stderr.read().decode(errors="replace").split("\n")
                last = next((ln for ln in reversed(lines) if ln.strip()), "")
                raise RuntimeError(
                    f"reference server exited rc={_proc.returncode}: {last}"
                )
            time.sleep(0.1)
    raise TimeoutError(f"reference server did not listen on :{port}")


def _shutdown() -> None:
    global _proc
    if _proc is not None and _proc.poll() is None:
        _proc.terminate()
        try:
            _proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            _proc.kill()
    _proc = None


def serve_reference() -> str:
    """Start (once) the reference UdfServer subprocess; return its URI."""
    global _proc, _uri
    with _lock:
        if _uri is not None and _proc is not None and _proc.poll() is None:
            return _uri
        port = _free_port()
        repo_root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        # stderr goes to a file, not a pipe: a pipe nobody drains can
        # fill up and block the server
        with tempfile.TemporaryFile() as stderr:
            _proc = subprocess.Popen(
                [
                    sys.executable, "-m",
                    "arrow_udf_spark.sources.ref_server_main", str(port),
                ],
                cwd=repo_root,
                stdout=subprocess.DEVNULL,
                stderr=stderr,
            )
            atexit.register(_shutdown)
            _wait_port(port, stderr)
        _uri = f"grpc://127.0.0.1:{port}"
        return _uri
