"""Ollama-shaped ``/api/embed`` endpoint for the serving workloads.

Request/response follow the provider contract the engine speaks
(``{"model", "input": [texts], "options": {"num_ctx"}}`` ->
``{"embeddings": [[floats]]}``). A text's vector is a function of its
content only: the sum of fixed per-token vectors (a token's vector is
drawn from a generator seeded by the token's hash) plus a small
text-keyed jitter, normalised. Texts that share words therefore land
near each other, near-duplicates nearly coincide, and a refined query
stays close to the query it refines.

The endpoint counts requests, texts and its own service time (from the
body read to the response write), so the provider's time can be kept
apart from the engine's.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

DIM = 64
_TOKEN = re.compile(r"[a-z0-9]+")


def _seeded(key: str) -> np.random.Generator:
    return np.random.default_rng(int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little"))


class TextEmbedder:
    """Deterministic bag-of-tokens embedding (float64, unit norm)."""

    def __init__(self, dim: int = DIM):
        self.dim = dim
        self._tok: dict[str, np.ndarray] = {}
        self._lock = threading.Lock()

    def _token_vec(self, tok: str) -> np.ndarray:
        v = self._tok.get(tok)
        if v is None:
            v = _seeded("tok:" + tok).normal(size=self.dim)
            with self._lock:
                self._tok[tok] = v
        return v

    def embed(self, text: str) -> list[float]:
        acc = _seeded("txt:" + text).normal(scale=0.05, size=self.dim)
        for tok in _TOKEN.findall(text.lower()):
            acc = acc + self._token_vec(tok)
        n = float(np.linalg.norm(acc))
        return (acc / n).tolist() if n > 0 else acc.tolist()


class EmbedCounters:
    def __init__(self):
        self.lock = threading.Lock()
        self.requests = 0
        self.texts = 0
        self.busy_s = 0.0

    def snapshot(self) -> dict:
        with self.lock:
            return {"requests": self.requests, "texts": self.texts, "busy_s": self.busy_s}


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    embedder: TextEmbedder
    counters: EmbedCounters

    def do_POST(self):
        t0 = time.perf_counter()
        n = int(self.headers.get("Content-Length") or 0)
        req = json.loads(self.rfile.read(n) or b"{}")
        if not self.path.endswith("/api/embed"):
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        texts = req.get("input") or []
        body = json.dumps(
            {"model": req.get("model"), "embeddings": [self.embedder.embed(t) for t in texts]}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)
        c = self.counters
        with c.lock:
            c.requests += 1
            c.texts += len(texts)
            c.busy_s += time.perf_counter() - t0

    def log_message(self, *a):
        pass


class FakeEmbedServer:
    """The endpoint on an ephemeral localhost port; ``close()`` stops it
    and waits for its serving thread."""

    def __init__(self):
        self.embedder = TextEmbedder()
        self.counters = EmbedCounters()
        handler = type("Bound", (_Handler,), {"embedder": self.embedder, "counters": self.counters})
        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self._srv.daemon_threads = True
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        self.base = f"http://127.0.0.1:{self._srv.server_port}"

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)
